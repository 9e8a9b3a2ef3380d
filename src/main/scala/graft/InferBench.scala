package graft

import graft.core._

/** The seeded single-threaded Pyramid-inference workload behind `Perf
  * kernel` and the scaling mode's machine ceiling, and its decode checksum,
  * which must be invariant across kernel-level optimizations (the kernels
  * block over output rows and tokens, never inside one row's sum, which
  * preserves each row's FP accumulation order bit-exactly). InferBenchSpec
  * pins it at 192 sentences.
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
}
