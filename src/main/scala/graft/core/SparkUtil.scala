package graft.core

import org.apache.spark.sql.Dataset

/** Shared Spark plumbing helpers. */
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
    * core count (StreamBench measured 5.4x detection tokens/s from this one
    * exchange, 14.6k → 78.8k at amplify-32).
    */
  def widen[T](ds: Dataset[T]): Dataset[T] = {
    val par = ds.sparkSession.sparkContext.defaultParallelism
    if (ds.isStreaming || ds.rdd.getNumPartitions < par) ds.repartition(par) else ds
  }
}
