package graft.kg

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Eval surface (M4-M8, M13, E3) vs sequential ports of
  * `utils/metrics.py` — confusion counting as set algebra and the exact
  * `calculate_metrics` math — plus the E3 gate: the distributed pipeline
  * scores P = R = 1.0 against GoldRef on the eval slice.
  */
class EvalSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("eval-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import org.apache.spark.sql.functions._

  private def mentionsDF(rows: Seq[(String, String, String, Int, Int)]) = {
    import spark.implicits._
    rows.zipWithIndex
      .map { case ((doc, mid, kind, start, len), _) => (doc, mid, kind, start, len) }
      .toDF("doc_id", "mention_id", "kind", "start_tok", "len")
  }

  // ---------------------------------------------------------------- BIOES

  test("bioesTags matches the reference doctest (metrics.py:96-116)") {
    // annotations [(2,4,ORG),(2,3,PER),(3,4,ORG),(5,8,LOC)] — exclusive ends
    assert(Eval.bioesTags(2, 2) == Seq((2, "B"), (3, "E")))
    assert(Eval.bioesTags(2, 1) == Seq((2, "S")))
    assert(Eval.bioesTags(3, 1) == Seq((3, "S")))
    assert(Eval.bioesTags(5, 3) == Seq((5, "B"), (6, "I"), (7, "E")))
    assert(Eval.bioesTags(0, 5).map(_._2) == Seq("B", "I", "I", "I", "E"))
  }

  test("bioesRows (Catalyst expansion) agrees with the Scala port") {
    val m = mentionsDF(Seq(
      ("d1", "m1", "ORG", 2, 2), ("d1", "m2", "PER", 2, 1),
      ("d1", "m3", "ORG", 3, 1), ("d1", "m4", "LOC", 5, 3),
      ("d2", "m5", "LOC", 0, 7)))
    val got = Eval.bioesRows(m).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    val want = Seq(
      ("d1", "ORG", 2, 2), ("d1", "PER", 2, 1), ("d1", "ORG", 3, 1),
      ("d1", "LOC", 5, 3), ("d2", "LOC", 0, 7)).flatMap { case (d, k, s, l) =>
      Eval.bioesTags(s, l).map { case (i, t) => (d, k, i, t) }
    }.toSet
    assert(got == want)
  }

  // ------------------------------------------------------------ confusion

  /** Sequential port of compute_confusion_matrix_values_* set algebra. */
  private def goldConfusion[K](pred: Set[K], gold: Set[K], kindOf: K => String,
                               kinds: Seq[String]): Map[String, (Long, Long, Long)] =
    kinds.map { k =>
      val p = pred.filter(kindOf(_) == k)
      val g = gold.filter(kindOf(_) == k)
      k -> ((p.intersect(g).size.toLong, p.diff(g).size.toLong, g.diff(p).size.toLong))
    }.toMap

  test("confusion join algebra == set algebra, incl. zero classes (M4/M5)") {
    val kinds = Seq("LOC", "ORG", "PER", "GPE")
    val pred = mentionsDF(Seq(
      ("d1", "x", "ORG", 2, 2), ("d1", "x", "ORG", 4, 1), // one fp
      ("d1", "x", "PER", 2, 1),
      ("d2", "x", "LOC", 0, 3)))
    val gold = mentionsDF(Seq(
      ("d1", "x", "ORG", 2, 2),
      ("d1", "x", "PER", 2, 1), ("d1", "x", "PER", 6, 2), // one fn
      ("d2", "x", "LOC", 0, 3)))
    val got = Eval.confusion(Eval.spanRows(pred), Eval.spanRows(gold), kinds)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val key = (r: (String, String, String, Int, Int)) => (r._1, r._3, r._4, r._5)
    val want = goldConfusion(
      Set(("d1", "x", "ORG", 2, 2), ("d1", "x", "ORG", 4, 1), ("d1", "x", "PER", 2, 1),
        ("d2", "x", "LOC", 0, 3)).map(key),
      Set(("d1", "x", "ORG", 2, 2), ("d1", "x", "PER", 2, 1), ("d1", "x", "PER", 6, 2),
        ("d2", "x", "LOC", 0, 3)).map(key),
      (k: (String, String, Int, Int)) => k._2, kinds)
    assert(got == want)
    assert(got("GPE") == ((0L, 0L, 0L)), "absent class still present for the macro mean")
  }

  // -------------------------------------------------------------- metrics

  test("metrics == reference calculate_metrics math (metrics.py:214-258)") {
    import spark.implicits._
    // counts: ORG tp=3 fp=1 fn=0 ; PER tp=0 fp=2 fn=1 ; LOC tp=0 fp=0 fn=0
    val counts = Seq(("ORG", 3L, 1L, 0L), ("PER", 0L, 2L, 1L), ("LOC", 0L, 0L, 0L))
      .toDF("kind", "tp", "fp", "fn")
    val m = Eval.metrics(counts).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    def close(a: (Double, Double, Double), b: (Double, Double, Double)) =
      math.abs(a._1 - b._1) < 1e-12 && math.abs(a._2 - b._2) < 1e-12 && math.abs(a._3 - b._3) < 1e-12
    assert(close(m(("class", "ORG")), (0.75, 1.0, 6.0 / 7)))
    assert(close(m(("class", "PER")), (0.0, 0.0, 0.0)))
    assert(close(m(("class", "LOC")), (0.0, 0.0, 0.0)))
    // macro: mean P = 0.25, mean R = 1/3, f1 of the MEANS (not mean of f1s)
    val pM = 0.75 / 3; val rM = 1.0 / 3
    assert(close(m(("macro", "*")), (pM, rM, 2 * pM * rM / (pM + rM))))
    // micro: tp=3, fp=3, fn=1
    val pMi = 3.0 / 6; val rMi = 3.0 / 4
    assert(close(m(("micro", "*")), (pMi, rMi, 2 * pMi * rMi / (pMi + rMi))))
    // weighted: all tp mass on ORG
    assert(close(m(("weighted", "*")), (0.75, 1.0, 6.0 / 7)))
  }

  test("metrics zero-tp corner: weighted collapses to 0 (metrics.py:245-248)") {
    import spark.implicits._
    val m = Eval.metrics(Seq(("ORG", 0L, 2L, 3L)).toDF("kind", "tp", "fp", "fn"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(m("weighted") == 0.0 && m("micro") == 0.0)
  }

  test("report sink writes json + latex (S10)") {
    import spark.implicits._
    val m = Eval.metrics(Seq(("ORG", 3L, 1L, 0L)).toDF("kind", "tp", "fp", "fn"))
    val dir = java.nio.file.Files.createTempDirectory("graft_report")
    Eval.report(m, dir)
    val json = new String(java.nio.file.Files.readAllBytes(dir.resolve("report.json")), "UTF-8")
    assert(json.contains(""""level":"class"""") && json.contains(""""kind":"ORG""""))
    val tex = new String(java.nio.file.Files.readAllBytes(dir.resolve("report.tex")), "UTF-8")
    assert(tex.startsWith("\\begin{tabular}") && tex.contains("micro"))
  }

  // ------------------------------------------------------- layers/nesting

  test("perLayer pools lengths beyond maxDepth into remedy (M8)") {
    val m = mentionsDF(Seq(
      ("d1", "a", "ORG", 0, 1), ("d1", "b", "ORG", 2, 2), ("d1", "c", "PER", 0, 2),
      ("d1", "d", "LOC", 0, 5), ("d2", "e", "LOC", 1, 7)))
    val got = Eval.perLayer(m, maxDepth = 4).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("layer_01") == ((1L, 1L)))
    assert(got("layer_02") == ((2L, 2L)))
    assert(got("remedy") == ((2L, 1L)))
  }

  test("nesting analysis: flat / nested / overlapping (M13)") {
    val m = mentionsDF(Seq(
      ("d1", "outer", "ORG", 0, 5),
      ("d1", "inner", "PER", 1, 2),  // nested in outer
      ("d1", "cross", "LOC", 4, 3),  // overlaps outer (4..7 vs 0..5)
      ("d1", "flat", "LOC", 9, 1),
      ("d2", "solo", "ORG", 0, 2)))
    val got = Eval.nesting(m).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // outer: contains inner (not nested itself), overlaps cross → overlapping
    // inner: nested; cross: overlapping; flat: flat
    assert(got("d1") == ((4L, 1L, 2L, 1L)))
    assert(got("d2") == ((1L, 0L, 0L, 1L)))
  }

  // ------------------------------------------------------------------- E3

  test("E3: distributed pipeline scores P=R=F1=1.0 vs GoldRef on the eval slice") {
    val (pred, gold, _) = Eval.evalSlice(spark, sfDir)
    val counts = Eval.confusion(Eval.spanRows(pred), Eval.spanRows(gold), Mentions.Kinds)
    val rows = counts.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._2).sum > 0, "eval slice must contain mentions")
    rows.foreach { case (k, _, fp, fn) => assert(fp == 0 && fn == 0, s"kind $k") }
    val m = Eval.metrics(counts).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    assert(m(("micro", "*")) == 1.0 && m(("weighted", "*")) == 1.0)
    // classes WITH support in the slice must score perfect f1; absent classes
    // score 0 by the reference's zero-denominator convention
    rows.filter(_._2 > 0).foreach { case (k, _, _, _) =>
      assert(m(("class", k)) == 1.0, s"class $k")
    }
  }

  test("slice-docs cache invalidates on in-place corpus regeneration") {
    val tmpSf = java.nio.file.Files.createTempDirectory("graft_slice_sf")
    val corpus = tmpSf.resolve("documents.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sfDir/documents.parquet"), corpus)
    val ds1 = Eval.sliceDocs(spark, tmpSf.toString)
    assert(Eval.sliceDocs(spark, tmpSf.toString) eq ds1,
      "unchanged corpus must serve the cached slice")
    // simulate an in-place regeneration: same path, new mtime
    java.nio.file.Files.setLastModifiedTime(corpus,
      java.nio.file.attribute.FileTime.fromMillis(
        java.nio.file.Files.getLastModifiedTime(corpus).toMillis + 5000))
    val ds2 = Eval.sliceDocs(spark, tmpSf.toString)
    assert(!(ds2 eq ds1), "regenerated corpus must not serve the stale cached slice")
    assert(ds2.count() == ds1.count(), "same data content regardless of cache identity")
  }

  test("sliceDocs caches the slice once and caches it again after clearCache") {
    val log = graft.CacheLog.during {
      Eval.sliceDocs(spark, sfDir)
      Eval.sliceDocs(spark, sfDir)
    }
    assert(!log.exists(_.contains("Asked to cache already cached data")), log.mkString("\n"))
    spark.catalog.clearCache()
    assert(Eval.sliceDocs(spark, sfDir).storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "the slice must be cached again after clearCache")
  }

  test("repeated slice invocations hold a bounded number of model broadcasts") {
    // warm the registry slots this mix of entry points uses
    Eval.slicePred(spark, sfDir)
    Eval.sliceVariantPred(spark, sfDir, Mentions.Variant.Bidirectional)
    val before = graft.core.BcRegistry.liveCount
    // a long session (Bench's interleaved passes) re-invokes these dozens of
    // times; each call must REUSE the registered broadcasts, not mint new
    // ones — the pre-registry code leaked one multi-MB broadcast per call
    (1 to 4).foreach { _ =>
      Eval.slicePred(spark, sfDir)
      Eval.sliceVariantPred(spark, sfDir, Mentions.Variant.Bidirectional)
      Eval.sliceCtxPred(spark, sfDir) // same model + vw slots as the two above
      Eval.sliceLinked(spark, sfDir)
    }
    assert(graft.core.BcRegistry.liveCount == before,
      s"broadcast registry grew: $before -> ${graft.core.BcRegistry.liveCount}")
  }
}
