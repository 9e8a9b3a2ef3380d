package perfbench

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.col

import graft.core.{ModelConfig, PyramidInference, PyramidWeights, WordVocab}
import graft.kg.{GoldRef, Mention, Mentions, PyramidDoc}

/** Output checks. Each check is one attempted operation; a mismatch is a
  * failed one. Failures are printed to stderr with what differed.
  */
final class Checks {
  private var n = 0
  private var bad = Vector.empty[String]

  def check(name: String)(ok: => Boolean): Unit = {
    n += 1
    val passed =
      try ok
      catch { case e: Exception => System.err.println(s"[perfbench] check $name threw: $e"); false }
    if (!passed) {
      bad :+= name
      System.err.println(s"[perfbench] CHECK FAILED: $name")
    }
  }

  def attempted: Int = n
  def failed: Int = bad.size
  def failures: Seq[String] = bad
}

/** Row count and an order-independent 64-bit hash of a result. */
final case class RowHash(rows: Long, hash: Long) {
  def json: String = s"""{"rows":$rows,"hash":"${java.lang.Long.toHexString(hash)}"}"""
}

object RowHash {
  /** Doubles are rounded to 9 significant digits first, as the repository's
    * oracle check does, so a last-bit difference in a floating-point sum does
    * not read as a different result.
    */
  private def cell(v: Any): String = v match {
    case null                 => "␀"
    case d: Double            => new java.math.BigDecimal(d).round(new java.math.MathContext(9)).toString
    case f: Float             => cell(f.toDouble)
    case r: Row               => r.toSeq.map(cell).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case a: Array[Byte]       => a.map("%02x".format(_)).mkString
    case other                => other.toString
  }

  private def h64(s: String): Long = {
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x1234567)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x7654321)
    (a.toLong << 32) ^ (b.toLong & 0xffffffffL)
  }

  def of(df: DataFrame): RowHash = {
    val rows = df.collect()
    RowHash(rows.length.toLong, rows.iterator.map(r => h64(r.toSeq.map(cell).mkString("\u0001"))).sum)
  }
}

object CoreProbe {
  /** `graft.InferBench` checksums of its seeded 192-sentence input (ROADMAP.md). */
  val DefaultChecksum = 786524789216057308L
  val GeniaChecksum = -5572058606795618873L

  /** Single-thread `PyramidInference.forward` over InferBench's input: the
    * decode checksum and the tokens/s of the fastest of `reps` passes.
    */
  def forward(cfg: ModelConfig, reps: Int): (Long, Double) = {
    val (lex, sents) = Inputs.inferBenchSentences()
    val vocab = new WordVocab(lex)
    val inf = new PyramidInference(PyramidWeights.build(42L, cfg, vocab.size, 8), vocab)
    val nTok = sents.map(_.length.toLong).sum
    var checksum = 0L
    var best = Double.MaxValue
    for (_ <- 0 until reps) {
      checksum = 0L
      val t0 = System.nanoTime()
      sents.foreach { s =>
        val o = inf.forward(s)
        o.layers.foreach(_.foreach(v => checksum = checksum * 31 + v))
        o.remedy.foreach(_.foreach(v => checksum = checksum * 31 + v))
      }
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    (checksum, nTok / best)
  }

  /** Single-thread `PyramidInference.detect` (network plus decode) over the
    * text tokens of `docs`: tokens/s of the fastest of `reps` passes.
    */
  def detect(docs: Seq[PyramidDoc], model: Mentions.Model, reps: Int): Double = {
    val toks = docs.map(d => d.spans.filter(_.kind == "text").sortBy(_.offset).map(_.text))
      .filter(_.nonEmpty)
    val inf = new PyramidInference(model.weights, model.vocab)
    val nTok = toks.map(_.length.toLong).sum
    var best = Double.MaxValue
    for (_ <- 0 until reps) {
      val t0 = System.nanoTime()
      toks.foreach(t => inf.detect(t, model.codec))
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    nTok / best
  }
}

object GoldCheck {
  /** The distributed mention rows of `sampleIds` must equal the sequential
    * `GoldRef.mentions` re-derivation of the same documents, row for row in
    * decode order (the span-sequence invariant of BASELINE.md).
    */
  def mentionsMatch(docs: Dataset[PyramidDoc], sampleIds: Seq[String],
                    model: Mentions.Model, bc: Broadcast[Mentions.Model]): Boolean = {
    val sample = docs.where(col("doc_id").isin(sampleIds: _*))
    val sampleDocs = sample.collect().toSeq.sortBy(_.doc_id)
    val key = (m: Mention) => (m.doc_id, m.order)
    val gold = GoldRef.mentions(sampleDocs, model).sortBy(key)
    val dist = Mentions.detect(sample, bc).collect().toSeq.sortBy(key)
    val ok = sampleDocs.size == sampleIds.distinct.size && gold.nonEmpty && gold == dist
    if (!ok)
      System.err.println(s"[perfbench] gold mismatch: ${sampleDocs.size} docs of " +
        s"${sampleIds.distinct.size}, gold ${gold.size} rows, distributed ${dist.size} rows")
    ok
  }
}
