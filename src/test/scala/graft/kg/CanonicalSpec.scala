package graft.kg

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Connected components: the driver union-find and the distributed star loop
  * agree on ids that Spark's string order and `String.compareTo` order
  * differently, the star loop fails loudly when it runs out of rounds, the
  * driver size guard collects only the inputs that fit, the driver
  * dictionary side (best candidates, edges, union-find) equals the relational
  * one, and both paths give the closed form on `Perf cc`'s synthetic graph.
  */
class CanonicalSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("canonical-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // U+E000 (one UTF-16 unit, 0xE000) and U+1F600 (surrogate pair starting
  // 0xD83D): UTF-16 order puts U+1F600 first, UTF-8 byte order U+E000
  private val bmp = "\uE000"
  private val astral = "\uD83D\uDE00"

  private def ccMap(edges: Seq[(String, String)], driverThreshold: Long,
                    maxIter: Int = 20): Map[String, String] = {
    import spark.implicits._
    Canonical.connectedComponents(edges.toDF("src", "dst"), maxIter, driverThreshold)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  test("driver union-find picks the component minimum in Spark's string order") {
    import spark.implicits._
    assert(astral < bmp, "precondition: String.compareTo orders U+1F600 first")
    val sparkMin = Seq(bmp, astral).toDF("s").agg(min("s")).head().getString(0)
    assert(sparkMin == bmp)
    val edges = Seq((astral, bmp), ("b", "a"))
    val driver = ccMap(edges, Canonical.DriverCcThreshold)
    assert(driver == ccMap(edges, driverThreshold = 0L))
    assert(driver(astral) == bmp && driver(bmp) == bmp && driver("b") == "a")
  }

  test("the driver size guard collects the edges only when they fit") {
    import spark.implicits._
    val edges = Canonical.edgePairs(Seq(("b", "a"), ("c", "b"), ("d", "c")).toDF("src", "dst"))
    assert(Canonical.collectIfSmall(edges, threshold = 3L).map(_.toSet)
      .contains(Set(("b", "a"), ("c", "b"), ("d", "c"))))
    assert(Canonical.collectIfSmall(edges, threshold = 2L).isEmpty)
    assert(Canonical.collectIfSmall(edges.limit(0), threshold = 0L).exists(_.isEmpty))
    assert(Canonical.collectIfSmall(edges, threshold = Long.MaxValue).exists(_.length == 3))
    assert(Canonical.collectIfSmall(edges, threshold = -1L).isEmpty)
    // 8 partitions and no exchange: partitions 1, then 4 more, then the rest
    val wide = spark.sparkContext.parallelize(1 to 7, 8).toDS()
    val (got, jobs) = graft.JobCount.during(spark.sparkContext)(
      Canonical.collectIfSmall(wide, threshold = 7L))
    assert(got.map(_.sorted.toSeq).contains(1 to 7))
    assert(jobs.size <= 3, jobs.mkString("\n"))
  }

  // alias, entity_id, kind, prior rows that exercise every rule of the
  // dictionary side: prior ties (-0.0 ties 0.0 in Spark's double order), ids
  // that differ by an astral vs a BMP char, an alias past the candidate cap,
  // duplicates, single-candidate aliases
  private lazy val dictRows: Seq[AliasRow] = {
    val wide = (0 until 10).flatMap(i => Seq(f"X$bmp$i%02d", f"X$astral$i%02d"))
    Seq(
      AliasRow("tie", "E2", "person", 0.5), AliasRow("tie", "E1", "org", 0.5),
      AliasRow("tie", "E3", "loc", 0.4),
      AliasRow("zero", "E5", "org", -0.0), AliasRow("zero", "E4", "loc", 0.0),
      AliasRow("uni", s"U$bmp", "person", 0.7), AliasRow("uni", s"U$astral", "org", 0.7),
      AliasRow("solo", "E9", "loc", 0.9), AliasRow("solo2", "E3", "loc", 0.2),
      AliasRow("tie", "E2", "person", 0.5), AliasRow("uni", s"U$bmp", "person", 0.7),
      AliasRow("chain", "E3", "loc", 0.3), AliasRow("chain", s"U$astral", "org", 0.1)) ++
      wide.zipWithIndex.map { case (e, i) => AliasRow("wide", e, "misc", 0.05 * (i % 4)) }
  }

  test("the driver dictionary side equals the relational one") {
    import spark.implicits._
    assert(dictRows.count(_.alias == "wide") > Canonical.MaxCandidatesPerAlias)
    for (rows <- Seq(dictRows, Seq.empty[AliasRow])) {
      val dict = rows.toDF()
      val local = rows.toArray
      def tuples(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
      assert(tuples(Link.bestCandidatesLocal(spark, local)) == tuples(Link.bestCandidates(dict)))
      assert(Canonical.edgesFromRows(local).toSet ==
        Canonical.edgePairs(Canonical.edgesFromDict(dict)).collect().toSet)
      assert(tuples(Canonical.driverUnionFind(spark, Canonical.edgesFromRows(local))) ==
        tuples(Canonical.connectedComponents(Canonical.edgesFromDict(dict), driverThreshold = 0L)))
    }
    // the rules the equality rests on, in Spark's orders
    val best = Link.bestCandidatesLocal(spark, dictRows.toArray).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(best("tie") == "E2" && best("uni") == s"U$astral" && best("zero") == "E5")
    val canon = Canonical.driverUnionFind(spark, Canonical.edgesFromRows(dictRows.toArray))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(canon.count(_._1.startsWith("X")) == Canonical.MaxCandidatesPerAlias)
    assert(canon.keySet.count(_.startsWith(s"X$bmp")) == 10)
    assert(canon(s"U$astral") == "E1" && canon(s"U$bmp") == "E1" && !canon.contains("E9"))
  }

  test("both paths give the closed-form components on the cc mode's chain+star graph") {
    val edges = graft.Perf.Cc.syntheticEdges(spark, 2000L, 64)
    def map(threshold: Long) = Canonical.connectedComponents(edges, driverThreshold = threshold)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val star = map(0L)
    val driver = map(Canonical.DriverCcThreshold)
    assert(star.size == 2000 && star.values.toSet.size == 32)
    assert(driver == star)
  }

  test("star loop throws when it has not converged after maxIter rounds") {
    val path = (1 until 64).map(i => (f"v$i%02d", f"v${i - 1}%02d"))
    val e = intercept[IllegalStateException](ccMap(path, driverThreshold = 0L, maxIter = 1))
    assert(e.getMessage.contains("63 edges") && e.getMessage.contains("1 star rounds"), e.getMessage)
    val cc = ccMap(path, driverThreshold = 0L)
    assert(cc.size == 64 && cc.values.forall(_ == "v00"))
  }
}
