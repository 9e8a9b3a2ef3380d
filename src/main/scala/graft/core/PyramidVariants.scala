package graft.core

/** Variant decoder heads over the shared pyramid trunk (SURVEY.md §2.4):
  *
  *  - N6 `BidirectionalPyramidDecoder` (`modules/decoding/pyramid/
  *    bidirectional.py:8-69`): a second top→bottom pass re-runs the SHARED
  *    layernorm+BiLSTM over each forward h_l, concatenates the feature
  *    flowing down from the layer above (`inverse_cnn`, kernel 2 PADDING 1 —
  *    the sequence grows by one going down), and classifies the 2·D-wide
  *    concat.
  *  - N8/N18 sigmoid multi-label (`modules/decoding/multi_label.py:12-17`,
  *    `mutli_label_model.py:36-40`): every layer head is a C-way sigmoid
  *    (threshold at logit 0), remedy stays the 2C B/I head; decode via
  *    `LabelCodec.decodeMulti` (L9 scan semantics).
  *  - N12 `ContextualDecoder` (`modules/decoding/multi_label.py:47-69`): a
  *    per-document context vector is appended to every ngram hidden before
  *    the heads. The context encoder here is the pooled word-embedding
  *    variant (min ++ max ++ mean over pre/post context tokens,
  *    `document_embeddings.py:169-184`) — the flair/BERT encoders (N13/N14)
  *    need external checkpoints this sandbox doesn't have.
  *
  * Like the base model, all variant weights are pure functions of
  * (seed, config) via named Rng streams, so every executor and the
  * sequential golden path reconstruct identical networks.
  */
final class VariantWeights(
    val cfg: ModelConfig,
    val numClasses: Int, // C + 1
    val invConvW0: Array[Float], val invConvW1: Array[Float], val invConvB: Array[Float], // D out × 2D in
    val biHeadW: Array[Float], val biHeadB: Array[Float],         // (C+1) × 2D
    val biRemedyW: Array[Float], val biRemedyB: Array[Float],     // 2C × 2D
    val mlHeadW: Array[Float], val mlHeadB: Array[Float],         // C × D
    val mlRemedyW: Array[Float], val mlRemedyB: Array[Float],     // 2C × D
    val ctxHeadW: Array[Float], val ctxHeadB: Array[Float],       // C × (D + Dc)
    val ctxRemedyW: Array[Float], val ctxRemedyB: Array[Float],   // 2C × (D + Dc)
    val docLstm: BiLstm,   // N13 doc-RNN context encoder: wordDim → ctxDim/2 per dir
    val lmEncLstm: BiLstm  // N14 sentence encoder over char ⊕ word ⊕ LM input
) extends Serializable {
  val ctxDim: Int = 3 * cfg.wordDim
  /** the inverse-conv taps transposed for the SIMD kernels (see Simd) */
  @transient private[core] lazy val invConvW0T: Array[Float] =
    Simd.transposed(invConvW0, 2 * cfg.encOut, cfg.encOut)
  @transient private[core] lazy val invConvW1T: Array[Float] =
    Simd.transposed(invConvW1, 2 * cfg.encOut, cfg.encOut)
  /** the head weights transposed for the SIMD dense kernel (see Simd) */
  @transient private[core] lazy val biHeadWT: Array[Float] =
    Simd.transposed(biHeadW, 2 * cfg.encOut, numClasses)
  @transient private[core] lazy val biRemedyWT: Array[Float] =
    Simd.transposed(biRemedyW, 2 * cfg.encOut, 2 * (numClasses - 1))
  @transient private[core] lazy val mlHeadWT: Array[Float] =
    Simd.transposed(mlHeadW, cfg.encOut, numClasses - 1)
  @transient private[core] lazy val mlRemedyWT: Array[Float] =
    Simd.transposed(mlRemedyW, cfg.encOut, 2 * (numClasses - 1))
  @transient private[core] lazy val ctxHeadWT: Array[Float] =
    Simd.transposed(ctxHeadW, cfg.encOut + ctxDim, numClasses - 1)
  @transient private[core] lazy val ctxRemedyWT: Array[Float] =
    Simd.transposed(ctxRemedyW, cfg.encOut + ctxDim, 2 * (numClasses - 1))
}

object VariantWeights {
  /** Sigmoid-head bias for the multi-label / contextual heads, chosen by a
    * sweep of {−0.55, −0.6, −0.7, −0.8} on the seeded tiny and default
    * models over the first 80 docs (by doc_id) of sf0.001, counting the
    * spans per text token and the (start, length) positions that carry more
    * than one kind: −0.6 yields ~0.3-0.6 spans/token with a small share of
    * multi-kind positions — GENIA-like nested density. The bidirectional
    * heads reuse the base oBias/remedyBias calibration ([[ModelConfig]]).
    */
  val MlBias: Float = -0.6f

  /** Dim of the precomputed per-token LM embedding column (N14). A real LM
    * pipeline sets this to the LM hidden size; the staged deterministic
    * stand-in keeps it small.
    */
  val LmDim: Int = 16

  private def lstm(seed: Long, name: String, inDim: Int, hidden: Int): LstmCell =
    new LstmCell(inDim, hidden,
      Rng.xavier(seed, s"$name.wIh", 4 * hidden, inDim),
      Rng.xavier(seed, s"$name.wHh", 4 * hidden, hidden),
      Rng.zeros(4 * hidden), Rng.zeros(4 * hidden))

  private def bilstm(seed: Long, name: String, inDim: Int, hidden: Int): BiLstm =
    new BiLstm(lstm(seed, s"$name.fwd", inDim, hidden), lstm(seed, s"$name.bwd", inDim, hidden))

  def build(seed: Long, cfg: ModelConfig, numKinds: Int,
            mlBias: Float = MlBias): VariantWeights = {
    val C = numKinds
    val D = cfg.encOut
    val dc = 3 * cfg.wordDim
    val biHeadB = Rng.zeros(C + 1); biHeadB(0) = cfg.oBias
    new VariantWeights(cfg, C + 1,
      Rng.xavier(seed, "invConv.w0", D, 2 * D),
      Rng.xavier(seed, "invConv.w1", D, 2 * D),
      Rng.zeros(D),
      Rng.xavier(seed, "biHead", C + 1, 2 * D), biHeadB,
      Rng.xavier(seed, "biRemedy", 2 * C, 2 * D), Array.fill(2 * C)(cfg.remedyBias),
      Rng.xavier(seed, "mlHead", C, D), Array.fill(C)(mlBias),
      Rng.xavier(seed, "mlRemedy", 2 * C, D), Array.fill(2 * C)(mlBias),
      Rng.xavier(seed, "ctxHead", C, D + dc), Array.fill(C)(mlBias),
      Rng.xavier(seed, "ctxRemedy", 2 * C, D + dc), Array.fill(2 * C)(mlBias),
      // doc-RNN: hidden = dc/2 per direction so fwd-last ++ bwd-first lands
      // exactly in the ctxDim slot the ctx heads expect (context encoders are
      // pluggable behind one output dim, document_embeddings.py:14-336)
      bilstm(seed, "docLstm", cfg.wordDim, dc / 2),
      bilstm(seed, "lmEncLstm", cfg.charDim + cfg.wordDim + LmDim, cfg.encHidden))
  }
}

/** Variant inference over a base engine's trunk; one instance per task, like
  * [[PyramidInference]].
  */
final class PyramidVariantInference(base: PyramidInference, vw: VariantWeights) {
  private val cfg = base.config
  private val D = base.dim
  private val C1 = vw.numClasses
  private val C = C1 - 1
  private val logits = new Array[Float](math.max(C1, 2 * C))

  // ------------------------------------------------------------------- N6

  /** Inverse pass (`bidirectional.py:33-66`, eval mode): x flows DOWN the
    * pyramid; per layer h_cat = [sharedRnn(sharedLN(h_l)) ++ x_from_above],
    * and x for the next (lower) layer = conv_k2_pad1(h_cat), which grows the
    * sequence by one — exactly matching T_{l-1} = T_l + 1.
    */
  private def inversePass(h: IndexedSeq[Array[Float]]): IndexedSeq[Array[Float]] = {
    val w = base.weights
    val scratch = base.scratch
    val L = h.length
    val out = new Array[Array[Float]](L)
    var x = new Array[Float](h(L - 1).length) // zeros, sized like the top layer
    var idx = L - 1
    val a = new Array[Float](h(0).length)
    val r = new Array[Float](h(0).length)
    while (idx >= 0) {
      val hl = h(idx)
      val T = hl.length / D
      var t = 0
      while (t < T) { Nn.layerNorm(w.lnGamma, w.lnBeta, D, hl, t * D, a, t * D); t += 1 }
      w.decLstm.run(a, 0, T, r, 0, scratch)
      val cat = new Array[Float](T * 2 * D)
      t = 0
      while (t < T) {
        System.arraycopy(r, t * D, cat, t * 2 * D, D)
        System.arraycopy(x, t * D, cat, t * 2 * D + D, D)
        t += 1
      }
      out(idx) = cat
      if (idx > 0) {
        // inverse_cnn: kernel 2, padding 1 → output length T + 1. SIMD path
        // (bit-exact, see graft.core.Simd): per output channel the order is
        // bias, then the w0 matvec (i ascending), then the w1 matvec —
        // gemvT(bias-init) + gemvAccT reproduce exactly that; boundary
        // positions get only the tap that exists, like the scalar loop.
        val nx = new Array[Float]((T + 1) * D)
        if (Simd.enabled && D >= 16) {
          val w0T = vw.invConvW0T
          val w1T = vw.invConvW1T
          // o = 0: only the w1 tap (no x above position -1)
          SimdKernels.gemvT(w1T, vw.invConvB, 0, 2 * D, D, cat, 0, nx, 0)
          var o = 1
          while (o < T) {
            SimdKernels.gemvT(w0T, vw.invConvB, 0, 2 * D, D, cat, (o - 1) * 2 * D, nx, o * D)
            SimdKernels.gemvAccT(w1T, 2 * D, D, cat, o * 2 * D, nx, o * D)
            o += 1
          }
          // o = T: only the w0 tap
          SimdKernels.gemvT(w0T, vw.invConvB, 0, 2 * D, D, cat, (T - 1) * 2 * D, nx, T * D)
        } else {
          var o = 0
          while (o <= T) {
            var j = 0
            while (j < D) {
              var acc = vw.invConvB(j)
              val w0 = j * 2 * D
              if (o > 0) {
                val xo = (o - 1) * 2 * D
                var i = 0
                while (i < 2 * D) { acc += vw.invConvW0(w0 + i) * cat(xo + i); i += 1 }
              }
              if (o < T) {
                val xo = o * 2 * D
                var i = 0
                while (i < 2 * D) { acc += vw.invConvW1(w0 + i) * cat(xo + i); i += 1 }
              }
              nx(o * D + j) = acc
              j += 1
            }
            o += 1
          }
        }
        x = nx
      }
      idx -= 1
    }
    out.toIndexedSeq
  }

  /** N6 single-label forward: argmax heads over the 2D-wide bidirectional
    * features; remedy present iff the pyramid reached the remedy layer
    * (`_separate_remedy_solution`, pyramid/__init__.py:45-48).
    */
  def forwardBidirectional(tokens: Array[String]): PyramidNetOut = {
    if (tokens.isEmpty) return PyramidNetOut(IndexedSeq.empty, None)
    val hInv = inversePass(base.forwardHidden(tokens))
    val hasRemedy = hInv.length > cfg.maxDepth
    val nLayers = if (hasRemedy) hInv.length - 1 else hInv.length
    val layers = (0 until nLayers).map { l =>
      val cat = hInv(l)
      val T = cat.length / (2 * D)
      val ids = new Array[Int](T)
      var t = 0
      while (t < T) {
        Nn.denseT(vw.biHeadW, vw.biHeadWT, vw.biHeadB, 2 * D, C1, cat, t * 2 * D, logits, 0)
        var best = 0; var bv = logits(0); var c = 1
        while (c < C1) { if (logits(c) > bv) { bv = logits(c); best = c }; c += 1 }
        ids(t) = best
        t += 1
      }
      ids
    }
    val remedy = if (!hasRemedy) None else {
      val cat = hInv.last
      val T = cat.length / (2 * D)
      val bits = new Array[Long](T)
      var t = 0
      while (t < T) {
        Nn.denseT(vw.biRemedyW, vw.biRemedyWT, vw.biRemedyB, 2 * D, 2 * C, cat, t * 2 * D, logits, 0)
        var mask = 0L
        var c = 0
        while (c < 2 * C) { if (logits(c) > 0f) mask |= (1L << c); c += 1 }
        bits(t) = mask
        t += 1
      }
      Some(bits)
    }
    PyramidNetOut(layers, remedy)
  }

  def detectBidirectional(tokens: Array[String], codec: LabelCodec): IndexedSeq[TokSpan] = {
    val out = forwardBidirectional(tokens)
    codec.decodeSingle(out.layers, out.remedy, cfg.maxDepth)
  }

  // ------------------------------------------------------------- N8 / N18

  /** Multi-label forward over (optionally context-extended) features: every
    * layer is a C-way sigmoid bitmap, remedy the 2C B/I head. `ctx = null`
    * selects the plain multi-label heads (N8/N18); non-null appends the
    * context vector per position (N12).
    */
  private def multiForward(tokens: Array[String], ctx: Array[Float]):
      (IndexedSeq[Array[Long]], Option[Array[Long]]) = {
    if (tokens.isEmpty) return (IndexedSeq.empty, None)
    val h = base.forwardHidden(tokens)
    val dc = if (ctx == null) 0 else vw.ctxDim
    val in = D + dc
    val row = new Array[Float](in)
    val (hw, hwT, hb, rw, rwT, rb) =
      if (ctx == null) (vw.mlHeadW, vw.mlHeadWT, vw.mlHeadB, vw.mlRemedyW, vw.mlRemedyWT, vw.mlRemedyB)
      else (vw.ctxHeadW, vw.ctxHeadWT, vw.ctxHeadB, vw.ctxRemedyW, vw.ctxRemedyWT, vw.ctxRemedyB)
    if (ctx != null) System.arraycopy(ctx, 0, row, D, dc)
    val hasRemedy = h.length > cfg.maxDepth
    val nLayers = if (hasRemedy) h.length - 1 else h.length
    def bitsOf(hl: Array[Float], w: Array[Float], wT: Array[Float], b: Array[Float],
               nOut: Int): Array[Long] = {
      val T = hl.length / D
      val out = new Array[Long](T)
      var t = 0
      while (t < T) {
        System.arraycopy(hl, t * D, row, 0, D)
        Nn.denseT(w, wT, b, in, nOut, row, 0, logits, 0)
        var mask = 0L
        var c = 0
        while (c < nOut) { if (logits(c) > 0f) mask |= (1L << c); c += 1 }
        out(t) = mask
        t += 1
      }
      out
    }
    val layers = (0 until nLayers).map(l => bitsOf(h(l), hw, hwT, hb, C))
    val remedy = if (hasRemedy) Some(bitsOf(h.last, rw, rwT, rb, 2 * C)) else None
    (layers, remedy)
  }

  def detectMultiLabel(tokens: Array[String], codec: LabelCodec): IndexedSeq[TokSpan] = {
    val (layers, remedy) = multiForward(tokens, null)
    codec.decodeMulti(layers, remedy, cfg.maxDepth)
  }

  // ------------------------------------------------------------------ N12

  /** Pooled-context encoder: min ++ max ++ mean over the word embeddings of
    * the pre/post context tokens (`document_embeddings.py:169-184` pooling;
    * empty context → zero vector).
    */
  def contextVector(preTokens: Array[String], postTokens: Array[String]): Array[Float] = {
    val dW = cfg.wordDim
    val out = new Array[Float](3 * dW)
    val n = preTokens.length + postTokens.length
    if (n == 0) return out
    val tmp = new Array[Float](dW)
    java.util.Arrays.fill(out, 0, dW, Float.MaxValue)          // min lane
    java.util.Arrays.fill(out, dW, 2 * dW, Float.MinValue)     // max lane
    (preTokens.iterator ++ postTokens.iterator).foreach { tok =>
      base.wordVec(tok, tmp, 0)
      var j = 0
      while (j < dW) {
        val v = tmp(j)
        if (v < out(j)) out(j) = v
        if (v > out(dW + j)) out(dW + j) = v
        out(2 * dW + j) += v / n
        j += 1
      }
    }
    out
  }

  def detectContextual(tokens: Array[String], preTokens: Array[String],
                       postTokens: Array[String], codec: LabelCodec): IndexedSeq[TokSpan] =
    detectWithContext(tokens, contextVector(preTokens, postTokens), codec)

  /** N12/N13 with an externally-supplied context vector (e.g. a PRECOMPUTED
    * sentence-transformer document embedding staged to a table — the third
    * context-encoder family of `document_embeddings.py:169-184`, where the
    * pooling ran offline). Must be `ctxDim` long; a zero vector is the
    * context-absent case, matching the pooled/RNN encoders on empty context.
    */
  def detectWithContext(tokens: Array[String], ctx: Array[Float],
                        codec: LabelCodec): IndexedSeq[TokSpan] = {
    require(ctx.length == vw.ctxDim, s"context dim ${ctx.length} != ${vw.ctxDim}")
    val (layers, remedy) = multiForward(tokens, ctx)
    codec.decodeMulti(layers, remedy, cfg.maxDepth)
  }

  // ------------------------------------------------------------------ N13

  private val ctxH = vw.ctxDim / 2
  private lazy val ctxS = new LstmScratch(ctxH)

  /** Doc-RNN context encoder (N13, `contextual_encoder.py:10-181` /
    * `document_embeddings.py:14-336` doc-RNN variant): a seeded BiLSTM runs
    * over the context tokens' word embeddings; the context vector is
    * fwd-last ++ bwd-first — same output dim as the pooled encoder, so the
    * ctx heads serve both (the encoders are pluggable behind one dim).
    * Empty context → zero vector, matching the pooled variant.
    */
  def contextVectorRnn(preTokens: Array[String], postTokens: Array[String]): Array[Float] = {
    val out = new Array[Float](vw.ctxDim)
    val n = preTokens.length + postTokens.length
    if (n == 0) return out
    val dW = cfg.wordDim
    val emb = new Array[Float](n * dW)
    var i = 0
    (preTokens.iterator ++ postTokens.iterator).foreach { tok =>
      base.wordVec(tok, emb, i * dW)
      i += 1
    }
    val rnn = new Array[Float](n * 2 * ctxH)
    vw.docLstm.run(emb, 0, n, rnn, 0, ctxS)
    System.arraycopy(rnn, (n - 1) * 2 * ctxH, out, 0, ctxH)
    System.arraycopy(rnn, ctxH, out, ctxH, ctxH)
    out
  }

  def detectContextualRnn(tokens: Array[String], preTokens: Array[String],
                          postTokens: Array[String], codec: LabelCodec): IndexedSeq[TokSpan] = {
    val (layers, remedy) = multiForward(tokens, contextVectorRnn(preTokens, postTokens))
    codec.decodeMulti(layers, remedy, cfg.maxDepth)
  }

  // ------------------------------------------------------------------ N14

  /** LM-embedding detection (N14, `transformer_embeddings.py:8-132`): the
    * precomputed per-token LM vectors (S × LmDim row-major, zeros where no
    * embedding was joined) extend the encoder input; pyramid + argmax heads
    * are the base model's.
    */
  def detectLm(tokens: Array[String], lm: Array[Float], codec: LabelCodec): IndexedSeq[TokSpan] = {
    require(lm.length == tokens.length * VariantWeights.LmDim,
      s"lm block ${lm.length} != ${tokens.length} tokens x ${VariantWeights.LmDim}")
    val out = base.forwardExt(tokens, lm, VariantWeights.LmDim, vw.lmEncLstm)
    codec.decodeSingle(out.layers, out.remedy, cfg.maxDepth)
  }
}
