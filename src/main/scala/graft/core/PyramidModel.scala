package graft.core

/** Pyramid nested-NER model — deterministic, seeded re-expression of the
  * reference network (`pyramid_nested_ner/model.py`,
  * `modules/encoding/sentence_encoder.py`, `modules/encoding/char_embedding.py`,
  * `modules/decoding/pyramid/__init__.py`, `modules/decoding/linear.py`).
  *
  * torch and trained checkpoints are unavailable in this sandbox (SURVEY.md
  * env facts), so "the reference model" is *defined* as this seeded weight
  * set: a pure function of (seed, config, lexicon, kinds). Golden outputs are
  * re-derived by running the same function sequentially; the Spark pipeline
  * must reproduce them exactly (per-row span-sequence equality).
  *
  * Architecture at inference (eval mode — dropout is identity):
  *   word-emb ⊕ char-BiLSTM → enc BiLSTM → dense(encOut)
  *   per layer l = 0..maxDepth: layernorm → dec BiLSTM → head logits;
  *   conv(k=2) feeds layer l+1 (sequence shrinks by 1); layer maxDepth is the
  *   remedy layer (2C sigmoid head), layers 0..maxDepth-1 are argmax heads.
  */
final case class ModelConfig(
    wordDim: Int = 50,
    charDim: Int = 20,     // even; char LSTM hidden = charDim/2
    encHidden: Int = 50,
    decHidden: Int = 50,   // encOut = 2*decHidden (conv output feeds next layer's rnn)
    maxDepth: Int = 4,
    // Head biases, calibrated per config shape by a sweep on the seeded
    // model over the first 80 docs (by doc_id) of sf0.001: oBias in {0.9,
    // 1.0, 1.1, 1.15, 1.2, 1.4} x remedyBias in {-1.0, -2.0}, density =
    // detected spans / n-gram positions (per doc of T tokens, the sum of
    // T - l over layers l = 0 .. min(maxDepth, T - 1)). For this 50-d shape
    // (1.4, -1.0) fires on ~2.5% of n-grams, remedy spans occasionally and
    // leaves most docs non-empty — a realistic mention density for the
    // synthetic corpus.
    oBias: Float = 1.4f,   // class-0 head bias: sparsifies detections
    remedyBias: Float = -1.0f
) {
  require(charDim % 2 == 0, "charDim must be even (bidirectional char LSTM)")
  val encOut: Int = 2 * decHidden
}

object ModelConfig {
  /** GENIA-paper-shaped config (BASELINE.md rows 1-2; ref
    * `run_nne_sigmoid.py:163-191`): 200-d words, 60-d chars, hidden 100,
    * depth 8. Head biases are recalibrated for this shape by the same
    * sweep as the defaults (grid and density metric at [[ModelConfig]]'s
    * oBias): logit spread grows with input dims, so the 50-d default's
    * oBias=1.4 starved detection to 0.62% of n-grams / 29-of-80 empty docs;
    * oBias=1.15 restores 2.52%, the ~2.5% GENIA-like density (remedy
    * density is dominated by the bias sign, so remedyBias stays at -1.0;
    * BENCH/ROUND3.md).
    */
  val genia: ModelConfig = ModelConfig(wordDim = 200, charDim = 60,
    encHidden = 100, decHidden = 100, maxDepth = 8, oBias = 1.15f)
  /** small config for unit tests / fast local runs */
  val tiny: ModelConfig = ModelConfig(wordDim = 16, charDim = 8,
    encHidden = 12, decHidden = 12, maxDepth = 3)
}

final class PyramidWeights(
    val cfg: ModelConfig,
    val vocabSize: Int,
    val numClasses: Int, // C + 1
    val wordEmb: Array[Float],     // [vocabSize × wordDim], row 0 = PAD = zeros
    val charEmb: Array[Float],     // [CharVocab.size × charDim/2], row 0 zeros
    val charLstm: BiLstm,
    val encLstm: BiLstm,
    val encDenseW: Array[Float], val encDenseB: Array[Float],
    val lnGamma: Array[Float], val lnBeta: Array[Float],
    val decLstm: BiLstm,
    val conv: Conv2Tap,
    val headW: Array[Float], val headB: Array[Float],       // [(C+1) × encOut]
    val remedyW: Array[Float], val remedyB: Array[Float]    // [2C × encOut]
) extends Serializable {
  /** the dense weights transposed for the SIMD kernels (see Simd) */
  @transient private[core] lazy val encDenseWT: Array[Float] =
    Simd.transposed(encDenseW, 2 * cfg.encHidden, cfg.encOut)
  @transient private[core] lazy val headWT: Array[Float] =
    Simd.transposed(headW, cfg.encOut, numClasses)
  @transient private[core] lazy val remedyWT: Array[Float] =
    Simd.transposed(remedyW, cfg.encOut, 2 * (numClasses - 1))
}

object PyramidWeights {
  private def lstm(seed: Long, name: String, inDim: Int, hidden: Int): LstmCell =
    new LstmCell(inDim, hidden,
      Rng.xavier(seed, s"$name.wIh", 4 * hidden, inDim),
      Rng.xavier(seed, s"$name.wHh", 4 * hidden, hidden),
      Rng.zeros(4 * hidden), Rng.zeros(4 * hidden))

  private def bilstm(seed: Long, name: String, inDim: Int, hidden: Int): BiLstm =
    new BiLstm(lstm(seed, s"$name.fwd", inDim, hidden), lstm(seed, s"$name.bwd", inDim, hidden))

  def build(seed: Long, cfg: ModelConfig, vocabSize: Int, numKinds: Int): PyramidWeights = {
    val C = numKinds
    val charH = cfg.charDim / 2
    val wordEmb = Rng.xavier(seed, "wordEmb", vocabSize, cfg.wordDim)
    java.util.Arrays.fill(wordEmb, 0, cfg.wordDim, 0f) // PAD row
    val charEmb = Rng.xavier(seed, "charEmb", CharVocab.size, charH)
    java.util.Arrays.fill(charEmb, 0, charH, 0f)
    val headB = Rng.zeros(C + 1); headB(0) = cfg.oBias
    val remedyB = Array.fill(2 * C)(cfg.remedyBias)
    new PyramidWeights(cfg, vocabSize, C + 1,
      wordEmb, charEmb,
      bilstm(seed, "charLstm", charH, charH),
      bilstm(seed, "encLstm", cfg.wordDim + cfg.charDim, cfg.encHidden),
      Rng.xavier(seed, "encDense", cfg.encOut, 2 * cfg.encHidden), Rng.zeros(cfg.encOut),
      Rng.ones(cfg.encOut), Rng.zeros(cfg.encOut),
      bilstm(seed, "decLstm", cfg.encOut, cfg.decHidden),
      new Conv2Tap(cfg.encOut, cfg.encOut,
        Rng.xavier(seed, "conv.w0", cfg.encOut, cfg.encOut),
        Rng.xavier(seed, "conv.w1", cfg.encOut, cfg.encOut),
        Rng.zeros(cfg.encOut)),
      Rng.xavier(seed, "head", C + 1, cfg.encOut), headB,
      Rng.xavier(seed, "remedyHead", 2 * C, cfg.encOut), remedyB)
  }
}

/** Raw per-document network output: per-layer class ids (argmax over the
  * C+1-way head) + the remedy bitmap (sigmoid > 0.5 ⇔ logit > 0).
  */
final case class PyramidNetOut(layers: IndexedSeq[Array[Int]], remedy: Option[Array[Long]])

/** Single-threaded inference engine with reusable scratch buffers — one
  * instance per Spark task (created inside `mapPartitions`), never shared.
  */
final class PyramidInference(w: PyramidWeights, vocab: WordVocab) {
  private val cfg = w.cfg
  private val D = cfg.encOut
  private val charH = cfg.charDim / 2

  // scratch, grown on demand
  private var cap = 0
  private var xIn: Array[Float] = _     // S × (charDim + wordDim)
  private var encH: Array[Float] = _    // S × 2*encHidden
  private var cur: Array[Float] = _     // S × D
  private var nxt: Array[Float] = _     // S × D
  private var nrm: Array[Float] = _     // S × D
  private var dec: Array[Float] = _     // S × D
  private var charBuf: Array[Float] = _ // maxWordLen × charH
  private var charOut: Array[Float] = _ // maxWordLen × 2*charH
  private var charCap = 0
  private val lstmS = new LstmScratch(math.max(math.max(cfg.encHidden, cfg.decHidden), charH))
  private val logits = new Array[Float](math.max(w.numClasses, 2 * (w.numClasses - 1)))

  private def ensure(s: Int): Unit = if (s > cap) {
    cap = math.max(s, cap * 2 max 64)
    xIn = new Array[Float](cap * (cfg.charDim + cfg.wordDim))
    encH = new Array[Float](cap * 2 * cfg.encHidden)
    cur = new Array[Float](cap * D)
    nxt = new Array[Float](cap * D)
    nrm = new Array[Float](cap * D)
    dec = new Array[Float](cap * D)
  }
  private def ensureChar(s: Int): Unit = if (s > charCap) {
    charCap = math.max(s, charCap * 2 max 32)
    charBuf = new Array[Float](charCap * charH)
    charOut = new Array[Float](charCap * 2 * charH)
  }

  /** Per-engine memo of the char-BiLSTM vector per DISTINCT token: the
    * char vector is a pure function of the token string (given the fixed
    * weights), and corpora are Zipf-distributed, so the recurrence + its
    * ~10·charH transcendental gate activations run once per distinct token
    * per task instead of once per token INSTANCE. Values are the memoized
    * output of the exact same computation — bit-identical by construction.
    * Size-capped so an adversarial stream of unique tokens cannot grow the
    * map unboundedly (beyond the cap, tokens compute without caching).
    */
  private val charVecCache = new java.util.HashMap[String, Array[Float]]()
  private val CharVecCacheCap = 65536

  /** char-BiLSTM word vector ++ word embedding for one token, written at
    * `dst(off)` (charDim + wordDim floats) — reference concat order:
    * torch.cat((char, word), -1), sentence_encoder.py:63-66; char vector =
    * fwd last state ++ bwd output at t=0 (char_embedding.py:55-70).
    */
  private def fillCharWord(tok: String, dst: Array[Float], off: Int): Unit = {
    var cv = charVecCache.get(tok)
    if (cv == null) {
      val L = math.max(tok.length, 1)
      ensureChar(L)
      var i = 0
      while (i < L) {
        val cid = if (i < tok.length) CharVocab.id(tok.charAt(i)) else CharVocab.padId
        System.arraycopy(w.charEmb, cid * charH, charBuf, i * charH, charH)
        i += 1
      }
      w.charLstm.run(charBuf, 0, L, charOut, 0, lstmS)
      cv = new Array[Float](cfg.charDim)
      System.arraycopy(charOut, (L - 1) * 2 * charH, cv, 0, charH)
      System.arraycopy(charOut, charH, cv, charH, charH)
      if (charVecCache.size < CharVecCacheCap) charVecCache.put(tok, cv)
    }
    System.arraycopy(cv, 0, dst, off, cfg.charDim)
    System.arraycopy(w.wordEmb, vocab.id(tok) * cfg.wordDim, dst, off + cfg.charDim, cfg.wordDim)
  }

  /** Encoder (steps 1-2): char-BiLSTM ⊕ word-emb → enc BiLSTM → dense; fills
    * `cur` with S × D features. Shared by the single-label forward and the
    * variant decoders ([[PyramidVariants]]).
    */
  private[core] def encode(tokens: Array[String]): Unit = {
    val S = tokens.length
    ensure(S)
    val inDim = cfg.charDim + cfg.wordDim
    var t = 0
    while (t < S) {
      fillCharWord(tokens(t), xIn, t * inDim)
      t += 1
    }
    // 2. sentence encoder: BiLSTM → dense
    w.encLstm.run(xIn, 0, S, encH, 0, lstmS)
    Nn.denseT(w.encDenseW, w.encDenseWT, w.encDenseB, 2 * cfg.encHidden, D, encH, 0, cur, 0, S)
  }

  /** Extended encoder (N14, ref `transformer_embeddings.py:8-132`): an extra
    * per-token feature block (e.g. precomputed LM embeddings) is concatenated
    * AFTER char ++ word, and a variant-seeded sentence BiLSTM sized for the
    * wider input replaces `encLstm`; the dense projection and the whole
    * pyramid above are unchanged. `extra` is S × extraDim row-major (zeros
    * where no embedding was joined). Local buffers: variant path, not the
    * scratch-reusing hot default.
    */
  private[core] def encodeExt(tokens: Array[String], extra: Array[Float],
                              extraDim: Int, encExt: BiLstm): Unit = {
    val S = tokens.length
    ensure(S)
    val inDim = cfg.charDim + cfg.wordDim + extraDim
    val xEx = new Array[Float](S * inDim)
    var t = 0
    while (t < S) {
      fillCharWord(tokens(t), xEx, t * inDim)
      System.arraycopy(extra, t * extraDim, xEx, t * inDim + cfg.charDim + cfg.wordDim, extraDim)
      t += 1
    }
    val encHL = new Array[Float](S * 2 * cfg.encHidden)
    encExt.run(xEx, 0, S, encHL, 0, lstmS)
    Nn.denseT(w.encDenseW, w.encDenseWT, w.encDenseB, 2 * cfg.encHidden, D, encHL, 0, cur, 0, S)
  }

  /** Forward pass for one document's tokens. */
  def forward(tokens: Array[String]): PyramidNetOut = {
    val S = tokens.length
    if (S == 0) return PyramidNetOut(IndexedSeq.empty, None)
    encode(tokens)
    pyramidDecode(S)
  }

  /** N14 forward: extended encoder, identical pyramid + heads. */
  private[core] def forwardExt(tokens: Array[String], extra: Array[Float],
                               extraDim: Int, encExt: BiLstm): PyramidNetOut = {
    val S = tokens.length
    if (S == 0) return PyramidNetOut(IndexedSeq.empty, None)
    encodeExt(tokens, extra, extraDim, encExt)
    pyramidDecode(S)
  }

  /** Pyramid layers + heads over the encoded `cur` features (step 3). */
  private def pyramidDecode(S: Int): PyramidNetOut = {
    var t = 0
    val C1 = w.numClasses
    val C = C1 - 1
    val layerIds = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    var remedy: Option[Array[Long]] = None
    var T = S
    var l = 0
    var continue = true
    while (l <= cfg.maxDepth && continue) {
      t = 0
      while (t < T) { Nn.layerNorm(w.lnGamma, w.lnBeta, D, cur, t * D, nrm, t * D); t += 1 }
      w.decLstm.run(nrm, 0, T, dec, 0, lstmS)
      if (l < cfg.maxDepth) {
        val ids = new Array[Int](T)
        t = 0
        while (t < T) {
          Nn.denseT(w.headW, w.headWT, w.headB, D, C1, dec, t * D, logits, 0)
          var best = 0; var bv = logits(0); var c = 1
          while (c < C1) { if (logits(c) > bv) { bv = logits(c); best = c }; c += 1 }
          ids(t) = best
          t += 1
        }
        layerIds += ids
      } else {
        val bits = new Array[Long](T)
        t = 0
        while (t < T) {
          Nn.denseT(w.remedyW, w.remedyWT, w.remedyB, D, 2 * C, dec, t * D, logits, 0)
          var mask = 0L
          var c = 0
          while (c < 2 * C) { if (logits(c) > 0f) mask |= (1L << c); c += 1 }
          bits(t) = mask
          t += 1
        }
        remedy = Some(bits)
      }
      if (T > 1) {
        w.conv.run(dec, 0, T, nxt, 0)
        val tmp = cur; cur = nxt; nxt = tmp
        T -= 1
        l += 1
      } else continue = false
    }
    PyramidNetOut(layerIds.toIndexedSeq, remedy)
  }

  /** Pyramid forward capturing the per-layer hidden states h_l (T_l × D,
    * T_l = S - l) instead of applying heads — the input the bidirectional
    * inverse pass and the multi-label / contextual classifiers consume
    * (`pyramid/__init__.py:59-115` yields exactly these h_l).
    */
  def forwardHidden(tokens: Array[String]): IndexedSeq[Array[Float]] = {
    val S = tokens.length
    if (S == 0) return IndexedSeq.empty
    encode(tokens)
    val layers = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    var T = S
    var l = 0
    var continue = true
    while (l <= cfg.maxDepth && continue) {
      var t = 0
      while (t < T) { Nn.layerNorm(w.lnGamma, w.lnBeta, D, cur, t * D, nrm, t * D); t += 1 }
      w.decLstm.run(nrm, 0, T, dec, 0, lstmS)
      layers += java.util.Arrays.copyOfRange(dec, 0, T * D)
      if (T > 1) {
        w.conv.run(dec, 0, T, nxt, 0)
        val tmp = cur; cur = nxt; nxt = tmp
        T -= 1
        l += 1
      } else continue = false
    }
    layers.toIndexedSeq
  }

  private[core] def dim: Int = D
  private[core] def config: ModelConfig = cfg
  private[core] def weights: PyramidWeights = w
  private[core] def scratch: LstmScratch = lstmS
  private[core] def wordVec(token: String, out: Array[Float], off: Int): Unit =
    System.arraycopy(w.wordEmb, vocab.id(token) * cfg.wordDim, out, off, cfg.wordDim)

  /** Full parse for one document: forward + decode + char-offset spans, in the
    * reference's enumeration order (`model.py:153-166`).
    */
  def detect(tokens: Array[String], codec: LabelCodec): IndexedSeq[TokSpan] = {
    val out = forward(tokens)
    codec.decodeSingle(out.layers, out.remedy, cfg.maxDepth)
  }
}
