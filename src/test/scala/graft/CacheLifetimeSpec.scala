package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.kg.{Eval, GraphOps, KgStage}
import graft.ops.{Dedup, Multimodal, TextOps}

/** Cache lifetime of the operators that return through
  * `SparkUtil.materialize`: starting from an empty cache, the result comes
  * back cached, and once the caller unpersists it nothing the operator cached
  * is left behind.
  */
class CacheLifetimeSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("cache-lifetime-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def cacheEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  private def triples: DataFrame = {
    import spark.implicits._
    val co = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "d"))
      .map { case (s, o) => (s, "co_occurs_with", o) }
    val docs = Seq(("a", "mentioned_in", "d1"), ("a", "mentioned_in", "d2"),
      ("b", "mentioned_in", "d1"), ("b", "mentioned_in", "d2"),
      ("c", "mentioned_in", "d3"))
    (co ++ docs).toDF("subj", "pred", "obj")
  }

  private def mentions(rows: (String, String, String, Int, Int)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "mention_id", "kind", "start_tok", "len")
  }

  private def released(op: => DataFrame): Unit = {
    spark.catalog.clearCache()
    val out = op
    assert(out.storageLevel != StorageLevel.NONE, "result is returned cached")
    out.unpersist(blocking = true)
    assert(cacheEmpty, "operator left a cached intermediate behind")
  }

  test("graph operators release their intermediates") {
    released(GraphOps.pagerank(triples))
    released(GraphOps.pagerank(triples, driverThreshold = -1L))
    released(GraphOps.triangles(triples))
    released(GraphOps.components(triples))
    released(GraphOps.neighborsJaccard(triples))
    released(GraphOps.hits(triples))
    released(GraphOps.hits(triples, driverThreshold = -1L))
    released(GraphOps.labelProp(triples))
    released(GraphOps.labelProp(triples, driverThreshold = -1L))
    released(GraphOps.coocPmi(triples))
  }

  test("dedup and tfidf operators release their intermediates") {
    released(Dedup.clusters(spark, sfDir))
    released(Dedup.ngramJaccard(spark, sfDir))
    released(Dedup.simhashPairs(spark, sfDir))
    released(TextOps.tfidf(spark, sfDir))
  }

  test("eval operators release their intermediates") {
    val pred = mentions(("d1", "m1", "ORG", 0, 5), ("d1", "m2", "PER", 1, 2),
      ("d1", "m3", "LOC", 4, 3))
    val gold = mentions(("d1", "m1", "ORG", 0, 5), ("d1", "m2", "LOC", 1, 2))
    released(Eval.confusion(Eval.spanRows(pred), Eval.spanRows(gold), Seq("LOC", "ORG", "PER")))
    released(Eval.nesting(pred))
  }

  test("confusion keeps the caches its caller made") {
    spark.catalog.clearCache()
    val pred = Eval.spanRows(mentions(("d1", "m1", "ORG", 0, 5))).cache()
    val gold = Eval.spanRows(mentions(("d1", "m1", "PER", 0, 5)))
    val out = Eval.confusion(pred, gold, Seq("ORG", "PER"))
    assert(pred.storageLevel != StorageLevel.NONE, "caller's cache was dropped")
    assert(gold.storageLevel == StorageLevel.NONE, "operator's own cache was kept")
    out.unpersist(blocking = true)
    pred.unpersist(blocking = true)
    assert(cacheEmpty)
  }

  test("pixel dedup releases its decoded digests") {
    val stage = KgStage.stage(spark, sfDir)
    released(Multimodal.dedupPixels(spark, s"$stage/media_variants.parquet"))
  }
}
