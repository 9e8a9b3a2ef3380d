package graft.kg

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Connected components: the driver union-find and the distributed star loop
  * agree on ids that Spark's string order and `String.compareTo` order
  * differently, the star loop fails loudly when it runs out of rounds, and
  * the driver size guard collects only the graphs that fit.
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
    val edges = Seq(("b", "a"), ("c", "b"), ("d", "c")).toDF("src", "dst")
    val (n, fits) = Canonical.collectIfSmall(edges, threshold = 3L)
    assert(n == 3 && fits.map(_.toSet).contains(Set(("b", "a"), ("c", "b"), ("d", "c"))))
    assert(Canonical.collectIfSmall(edges, threshold = 2L) == ((3L, None)))
  }

  test("star loop throws when it has not converged after maxIter rounds") {
    val path = (1 until 64).map(i => (f"v$i%02d", f"v${i - 1}%02d"))
    val e = intercept[IllegalStateException](ccMap(path, driverThreshold = 0L, maxIter = 1))
    assert(e.getMessage.contains("63 edges") && e.getMessage.contains("1 star rounds"), e.getMessage)
    val cc = ccMap(path, driverThreshold = 0L)
    assert(cc.size == 64 && cc.values.forall(_ == "v00"))
  }
}
