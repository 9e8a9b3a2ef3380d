package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Try

/** `SparkUtil.widen`: a narrow batch input and every streaming input get a
  * round-robin exchange to the cluster's parallelism; a wide batch input is
  * left as it is. `SparkUtil.releaseBroadcasts` destroys the broadcasts of
  * the plan it is given and leaves a cached table's own.
  */
class SparkUtilSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("sparkutil-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("streaming Dataset: plans a RoundRobinPartitioning(defaultParallelism) exchange") {
    // one source file → a one-partition micro-batch unless widened
    val dir = java.nio.file.Files.createTempDirectory("graft_widen_src")
    val src = dir.resolve("in").toString
    spark.range(0, 50, 1, 1).write.parquet(src)
    val stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    assert(stream.isStreaming)
    val batchParts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val q = SparkUtil.widen(stream).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batchParts.synchronized { batchParts += batch.rdd.getNumPartitions }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    val plan = new java.io.ByteArrayOutputStream
    Console.withOut(plan)(q.explain())
    q.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    val par = spark.sparkContext.defaultParallelism
    assert(plan.toString.contains(s"Exchange RoundRobinPartitioning($par)"), plan.toString)
    assert(batchParts.nonEmpty && batchParts.forall(_ == par), batchParts)
  }

  test("batch Dataset: widened only when narrower than defaultParallelism") {
    val par = spark.sparkContext.defaultParallelism
    val wide = spark.range(0, 100, 1, par)
    assert(SparkUtil.widen(wide) eq wide)
    val narrow = spark.range(0, 100, 1, 1)
    assert(SparkUtil.widen(narrow).rdd.getNumPartitions == par)
  }

  test("releaseBroadcasts destroys a finished plan's broadcasts, not a cached table's") {
    import spark.implicits._
    val dim = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    val cached = Seq("a", "b").toDF("k").join(broadcast(dim), "k").cache()
    assert(cached.count() == 2)
    val ds = Seq("a", "b", "c").toDF("k").join(broadcast(dim), "k").union(cached)
    assert(ds.collect().length == 4)
    val helper = new AdaptiveSparkPlanHelper {}
    def broadcasts(plan: SparkPlan) = helper.collect(plan) {
      case e: BroadcastExchangeLike => e.executeBroadcast[Any]()
    }.distinct
    val own = broadcasts(ds.queryExecution.executedPlan)
    val cachedPlans = helper.collect(ds.queryExecution.executedPlan) {
      case s: InMemoryTableScanExec => s.relation.cacheBuilder.cachedPlan
    }
    val kept = cachedPlans.flatMap(broadcasts)
    assert(own.nonEmpty && kept.nonEmpty)
    SparkUtil.releaseBroadcasts(ds)
    assert(own.forall(bc => Try(bc.value).isFailure))
    assert(kept.forall(bc => Try(bc.value).isSuccess))
    cached.unpersist()
  }
}
