package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** `SparkUtil.widen`: a narrow batch input and every streaming input get a
  * round-robin exchange to the cluster's parallelism; a wide batch input is
  * left as it is.
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
}
