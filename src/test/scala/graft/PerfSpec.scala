package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ModelConfig
import graft.kg.{DocGen, Mentions, Triples}

/** The probe entry point rejects what it cannot run before it starts a
  * session, and the KG headline it shares with Bench measures the pipeline's
  * rows and leaves the cache as it found it.
  */
class PerfSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("perf-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("an unknown mode or query fails with an IllegalArgumentException that names it") {
    val mode = intercept[IllegalArgumentException](Perf.main(Array("bogus_mode")))
    assert(mode.getMessage.contains("bogus_mode"), mode.getMessage)
    val query = intercept[IllegalArgumentException](
      Perf.main(Array("query", sfDir, "kg_pagerank", "no_such_query")))
    assert(query.getMessage.contains("no_such_query") && !query.getMessage.contains("kg_pagerank"),
      query.getMessage)
  }

  test("one KgHeadline rep counts the pipeline's triples and leaves nothing cached") {
    spark.catalog.clearCache()
    val kg = new KgHeadline(spark, sfDir, 1, ModelConfig(), 4.0)
    val rep = kg.rep()
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty, "the rep left a cached frame behind")
    assert(rep.sec > 0 && rep.cpuSec >= 0 && rep.load >= 0)
    assert(kg.tokens > 0 && kg.docsN > 0)
    // the amplified corpus renames doc ids, and media placement keys on them,
    // so the reference is the pipeline over the same amplified docs
    val docs = DocGen.amplifiedDocs(spark, sfDir, 1)
    try assert(rep.triples == Triples.pipelineFrom(docs, Mentions.buildModel(docs, ModelConfig())).count())
    finally spark.catalog.clearCache()
  }
}
