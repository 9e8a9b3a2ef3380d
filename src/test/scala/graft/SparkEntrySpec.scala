package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ReaderStage

/** The staging contract of the driver entry point: mains stage once through
  * `SparkEntry.stage`, and the query builders only read the staged paths.
  */
class SparkEntrySpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("spark-entry-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Markers = Set("_STAGED", "_RUNSIG", "_CORPUS_SIG")

  private def markersUnder(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Seq.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(p => Markers.contains(p.getFileName.toString)).toList
      finally s.close()
    }

  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }

  test("stage leaves every marker the queries read, and a second call starts no job") {
    SparkEntry.stage(spark, sfDir)
    val dir = ReaderStage.stageDir(sfDir)
    Seq(dir.resolve("_STAGED"), dir.resolve("kg/_STAGED"), dir.resolve("kgrun/_RUNSIG"))
      .foreach(m => assert(Files.exists(m), s"missing $m"))
    val (_, jobs) = JobCount.during(spark.sparkContext)(SparkEntry.stage(spark, sfDir))
    assert(jobs.isEmpty, jobs.mkString("\n"))
  }

  test("query builders on a never-staged corpus stage nothing") {
    val tmpSf = Files.createTempDirectory("graft_unstaged_sf")
    val stageDir = ReaderStage.stageDir(tmpSf.toString)
    // each missing path is expected here; Spark would log it at WARN with a
    // ~120-line stack trace
    val sink = "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink"
    val sinkLevel = LogManager.getLogger(sink).getLevel
    Configurator.setLevel(sink, Level.ERROR)
    try {
      val five = tmpSf.resolve("five")
      spark.read.parquet(s"$sfDir/documents.parquet").orderBy("doc_id").limit(5)
        .coalesce(1).write.parquet(five.toString)
      val part = Files.list(five).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, tmpSf.resolve("documents.parquet"))
      // kg_mentions reads no staged path; the other four read one each and
      // fail on it instead of staging it
      Seq("kg_mentions" -> true, "kg_pagerank" -> false, "mm_decode_png" -> false,
        "src_rasa" -> false, "eval_span_prf" -> false).foreach { case (q, builds) =>
        val built = Try(SparkEntry.queries(q)(spark, tmpSf.toString))
        assert(markersUnder(stageDir).isEmpty,
          s"$q staged: ${markersUnder(stageDir).mkString(", ")}")
        assert(built.isSuccess == builds, s"$q: $built")
      }
    } finally {
      Configurator.setLevel(sink, sinkLevel)
      deleteTree(stageDir)
      deleteTree(tmpSf)
    }
  }
}
