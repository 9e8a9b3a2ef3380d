package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** Benchmark inputs. Nothing here calls into graft, so a change to the
  * program under test cannot change what it is fed.
  *
  * The corpus has the shape of the test data's `documents.parquet`: texts of
  * 10-100 words drawn uniformly from a 30-word vocabulary, about 5% of them
  * near-duplicates (an earlier text plus " dup"), a language tag and a source
  * tag. Texts come from a fixed generator seed, so every workload seed sees
  * the same text and the same amount of work. The workload seed only picks
  * the base doc ids; `DocGen` derives the replica ids, media placement and
  * every hash downstream from them.
  */
object Inputs {
  val Vocab: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("en", "en", "en", "en", "en", "en", "en", "en", "zh", "zh", "zh",
    "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")
  private val TextSeed = 0x5eedL
  /** base ids live below this prime; DocGen.amplifiedDocs needs id * 1000 + k < 1e9 */
  private val IdSpace = 999983L

  final case class DocRow(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  def texts(n: Int): IndexedSeq[String] = {
    val r = new SplittableRandom(TextSeed)
    val out = new Array[String](n)
    for (i <- 0 until n) {
      out(i) =
        if (i > 0 && r.nextInt(20) == 0) out(r.nextInt(i)) + " dup"
        else Array.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
    }
    out.toIndexedSeq
  }

  /** Distinct base doc ids picked by the seed (an affine map of 0..n-1 modulo
    * a prime); `None` gives ids 0..n-1.
    */
  def baseIds(n: Int, seed: Option[Long]): IndexedSeq[Long] = seed match {
    case None => (0 until n).map(_.toLong)
    case Some(s) =>
      val r = new SplittableRandom(s)
      val a = 1L + r.nextLong(IdSpace - 1)
      val b = r.nextLong(IdSpace)
      (0 until n).map(i => Math.floorMod(a * i + b, IdSpace))
  }

  /** Writes `<dir>/documents.parquet` unless it is already there; callers
    * name `dir` after everything the content depends on (size and seed).
    */
  def writeCorpus(spark: SparkSession, dir: Path, n: Int, seed: Option[Long]): String = {
    val out = dir.resolve("documents.parquet")
    if (!Files.exists(out.resolve("_SUCCESS"))) {
      import spark.implicits._
      val rows = texts(n).zip(baseIds(n, seed)).zipWithIndex.map { case ((t, id), i) =>
        DocRow(id, t, Langs(i % Langs.length), s"src${i % 20}", t.length.toLong)
      }
      rows.toDS().coalesce(1).write.mode("overwrite").parquet(out.toString)
    }
    dir.toString
  }

  /** `graft.InferBench`'s seeded input: a 2000-word lexicon and `n` sentences
    * of 8-47 tokens from `java.util.Random(7)`. Its decode checksum is pinned
    * in ROADMAP.md for the default and GENIA configs.
    */
  def inferBenchSentences(n: Int = 192): (Array[String], Array[Array[String]]) = {
    val lex = Array.tabulate(2000)(i => s"tok$i")
    val rnd = new java.util.Random(7)
    val sents = Array.tabulate(n) { _ =>
      Array.tabulate(8 + rnd.nextInt(40))(_ => lex(rnd.nextInt(lex.length)))
    }
    (lex, sents)
  }
}
