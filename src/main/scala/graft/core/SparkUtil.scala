package graft.core

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.unsafe.types.UTF8String

/** Shared Spark plumbing: the partition-count rules ([[widen]],
  * [[adaptiveParts]]), the cache-lifetime rule ([[materialize]]) and the
  * string and double orders of the driver fast paths
  * ([[SparkStringOrdering]], [[SparkDoubleOrdering]]), so no operator decides
  * them locally.
  */
object SparkUtil {

  /** Widen a narrow input to the cluster's parallelism before a CPU-bound
    * per-partition stage. A 100 TB scan has thousands of splits, but a
    * small/compacted input (a coalesce(1) staged table, a single parquet
    * file) arrives as ONE split and would serialize the whole stage through
    * one core — the trap every compute-bound mapPartitions in this codebase
    * must defend against (mention detection, media decode). The `.rdd`
    * partition probe is plan metadata only (no job), and the exchange moves
    * each row once.
    *
    * A streaming Dataset is always widened: `.rdd` is illegal on it, and a
    * micro-batch's partition count tracks its arrival-file count, not the
    * core count (BENCH/ROUND5_STREAM.md: 5.4x detection tokens/s from this
    * one exchange, 14.6k → 78.8k at amplify-32).
    */
  def widen[T](ds: Dataset[T]): Dataset[T] = {
    val par = ds.sparkSession.sparkContext.defaultParallelism
    if (ds.isStreaming || ds.rdd.getNumPartitions < par) ds.repartition(par) else ds
  }

  /** Partition count for the persisted / checkpointed tables of the
    * iterative ops and for streaming state, from the planner's size estimate
    * (no extra job): ~64 MB per partition, floored at 1, capped at 4× the
    * cluster parallelism. A gate-scale graph then runs 1-task jobs instead
    * of near-empty tasks per exchange. Explicit `repartition(col(...))` /
    * localCheckpoint calls need this because AQE only resizes
    * ENSURE_REQUIREMENTS exchanges, and a checkpointed RDD pins its
    * partitioning for every later round.
    */
  def adaptiveParts(df: DataFrame): Int = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val cap = df.sparkSession.sparkContext.defaultParallelism.toLong * 4
    (bytes / (64L * 1024 * 1024)).min(BigInt(cap)).max(BigInt(1)).toInt
  }

  /** Persist `out` at the default level, count it, unpersist `release`, and
    * return `out`. The intermediates an operator cached for its multi-use
    * subtrees never outlive the call; the result stays cached until the
    * caller unpersists it or clears the cache. The count comes first because
    * a cache whose buffers are loaded survives the release of the caches it
    * was computed from.
    */
  def materialize(out: DataFrame, release: DataFrame*): DataFrame = {
    out.persist()
    out.count()
    release.foreach(_.unpersist())
    out
  }

  /** Spark's default string collation: UTF8String binary order, which is
    * Unicode code-point order. Scala's `String` order compares UTF-16 code
    * units and disagrees on supplementary characters vs U+E000..U+FFFF, so a
    * driver fast path that must match `min`/`least`/`ORDER BY` uses this.
    */
  object SparkStringOrdering extends Ordering[String] {
    def compare(a: String, b: String): Int =
      UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))
  }

  /** Spark SQL's double order (`SQLOrderingUtil.compareDoubles`): NaN is
    * equal to NaN and above every other value, and -0.0 equals 0.0.
    */
  object SparkDoubleOrdering extends Ordering[Double] {
    def compare(a: Double, b: Double): Int = SQLOrderingUtil.compareDoubles(a, b)
  }
}
