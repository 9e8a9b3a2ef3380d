package graft.core

import org.scalatest.funsuite.AnyFunSuite

class PyramidInferenceSpec extends AnyFunSuite {
  private val kinds = Seq("DNA", "RNA", "protein", "cell_line", "cell_type")
  private val codec = new LabelCodec(kinds)
  private val cfg = ModelConfig.tiny
  private val vocab = new WordVocab(Array("alpha", "beta", "gamma", "delta", "epsilon"))
  private val weights = PyramidWeights.build(seed = 42L, cfg, vocab.size, kinds.length)

  private def tokens(n: Int): Array[String] =
    Array.tabulate(n)(i => Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")(i % 6))

  test("layer/remedy shape invariants match the reference pyramid") {
    val inf = new PyramidInference(weights, vocab)
    for (s <- 1 to 10) {
      val out = inf.forward(tokens(s))
      // layers yielded = min(maxDepth, S); remedy iff S >= maxDepth + 1
      assert(out.layers.length == math.min(cfg.maxDepth, s), s"S=$s layer count")
      assert(out.remedy.isDefined == (s >= cfg.maxDepth + 1), s"S=$s remedy presence")
      out.layers.zipWithIndex.foreach { case (ids, l) =>
        assert(ids.length == s - l, s"S=$s layer ${l + 1} length") // S - (l+1) + 1
      }
      out.remedy.foreach(r => assert(r.length == s - cfg.maxDepth))
    }
  }

  test("inference is deterministic and instance-independent") {
    val a = new PyramidInference(weights, vocab)
    val b = new PyramidInference(weights, vocab)
    val toks = tokens(9)
    val o1 = a.forward(toks)
    val o2 = b.forward(toks)
    // also re-run on the same instance (scratch reuse must not leak state)
    a.forward(tokens(3))
    val o3 = a.forward(toks)
    for (o <- Seq(o2, o3)) {
      assert(o.layers.map(_.toSeq) == o1.layers.map(_.toSeq))
      assert(o.remedy.map(_.toSeq) == o1.remedy.map(_.toSeq))
    }
  }

  test("weights are a pure function of the seed") {
    val w2 = PyramidWeights.build(seed = 42L, cfg, vocab.size, kinds.length)
    assert(w2.encDenseW.toSeq == weights.encDenseW.toSeq)
    assert(w2.headB.toSeq == weights.headB.toSeq)
    val w3 = PyramidWeights.build(seed = 43L, cfg, vocab.size, kinds.length)
    assert(w3.encDenseW.toSeq != weights.encDenseW.toSeq)
  }

  test("PAD embedding row is zero; class-0 bias sparsifies detections") {
    assert(weights.wordEmb.slice(0, cfg.wordDim).forall(_ == 0f))
    assert(weights.headB(0) == cfg.oBias)
    // with the default bias most ngrams decode to 'O'
    val inf = new PyramidInference(weights, vocab)
    val spans = inf.detect(tokens(12), codec)
    val totalNgrams = (1 to cfg.maxDepth).map(l => 12 - l + 1).sum
    assert(spans.length < totalNgrams / 2, s"detections too dense: ${spans.length}/$totalNgrams")
  }

  test("detect output ordering matches the reference enumeration (layer asc, pos asc)") {
    val inf = new PyramidInference(weights, vocab)
    val spans = inf.detect(tokens(14), codec)
    val layerPart = spans.filter(_.lenTok <= cfg.maxDepth)
    assert(layerPart == layerPart.sortBy(s => (s.lenTok, s.startTok)))
  }

  test("LSTM with zero weights yields zero output (gate algebra sanity)") {
    val cell = new LstmCell(2, 3, new Array[Float](4 * 3 * 2), new Array[Float](4 * 3 * 3),
      new Array[Float](12), new Array[Float](12))
    val out = new Array[Float](5 * 3)
    cell.run(Array.fill(10)(1f), 0, 5, reverse = false, out, 0, 3, 0, new LstmScratch(3))
    assert(out.forall(_ == 0f)) // i=f=o=0.5, g=0 ⇒ c=0 ⇒ h=0
  }

  test("conv-k2 computes two-tap linear combination") {
    // 1 channel: w0=2, w1=3, b=1; x=[1,2,4] -> y=[1+2*1+3*2, 1+2*2+3*4]=[9,17]
    val conv = new Conv2Tap(1, 1, Array(2f), Array(3f), Array(1f))
    val y = new Array[Float](2)
    conv.run(Array(1f, 2f, 4f), 0, 3, y, 0)
    assert(y.toSeq == Seq(9f, 17f))
  }

  test("layerNorm normalizes mean/variance with affine identity") {
    val x = Array(1f, 2f, 3f, 4f)
    val y = new Array[Float](4)
    Nn.layerNorm(Rng.ones(4), Rng.zeros(4), 4, x, 0, y, 0)
    val mean = y.sum / 4
    val v = y.map(a => (a - mean) * (a - mean)).sum / 4
    assert(math.abs(mean) < 1e-5)
    assert(math.abs(v - 1.0) < 1e-3)
  }
}
