package graft

import graft.core._

/** Dev utility: single-threaded Pyramid-inference microbenchmark
  * (usage: runMain graft.InferBench [reps] [sentences] [cfg: default|genia]).
  *
  * Prints tokens/s per rep plus a decode checksum — the checksum must be
  * invariant across kernel-level optimizations (the kernels block over
  * output rows and tokens, never inside one row's sum, which preserves each
  * row's FP accumulation order bit-exactly). InferBenchSpec pins it at 192
  * sentences. Compare the median of the later reps: the blocked SIMD
  * kernels need about 10 reps to reach steady state.
  */
object InferBench {
  /** The seeded weights (seed 42, 8 kinds), a `vocabSize`-word lexicon and
    * `nSent` sentences of 8-47 tokens from `java.util.Random(7)`.
    */
  def seeded(cfg: ModelConfig, nSent: Int,
             vocabSize: Int): (PyramidWeights, WordVocab, Array[Array[String]]) = {
    val lex = Array.tabulate(vocabSize)(i => s"tok$i")
    val vocab = new WordVocab(lex)
    val w = PyramidWeights.build(42L, cfg, vocab.size, 8)
    val rnd = new java.util.Random(7)
    val sents = Array.tabulate(nSent) { _ =>
      Array.tabulate(8 + rnd.nextInt(40))(_ => lex(rnd.nextInt(lex.length)))
    }
    (w, vocab, sents)
  }

  /** The seeded engine and input over a 2000-word lexicon ([[seeded]]). */
  def setup(cfg: ModelConfig, nSent: Int): (PyramidInference, Array[Array[String]]) = {
    val (w, vocab, sents) = seeded(cfg, nSent, 2000)
    (new PyramidInference(w, vocab), sents)
  }

  /** One forward pass over `sents`, folding every decoded label into the checksum. */
  def checksum(inf: PyramidInference, sents: Array[Array[String]]): Long = {
    var checksum = 0L
    var i = 0
    while (i < sents.length) {
      val o = inf.forward(sents(i))
      o.layers.foreach { layer =>
        var t = 0
        while (t < layer.length) { checksum = checksum * 31 + layer(t); t += 1 }
      }
      o.remedy.foreach { rem =>
        var t = 0
        while (t < rem.length) { checksum = checksum * 31 + rem(t); t += 1 }
      }
      i += 1
    }
    checksum
  }

  def main(args: Array[String]): Unit = {
    val reps = args.lift(0).map(_.toInt).getOrElse(5)
    val nSent = args.lift(1).map(_.toInt).getOrElse(192)
    val cfg = if (args.lift(2).contains("genia")) ModelConfig.genia else ModelConfig()
    val (inf, sents) = setup(cfg, nSent)
    val nTok = sents.map(_.length.toLong).sum
    var sum = 0L
    for (r <- 0 until reps) {
      val t0 = System.nanoTime()
      sum = checksum(inf, sents)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[inferbench] rep $r: ${nTok / sec}%.0f tokens/s ($sec%.3f s, $nTok tokens)")
    }
    println(s"[inferbench] checksum=$sum")
  }
}
