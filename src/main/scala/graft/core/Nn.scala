package graft.core

/** Minimal fp32 neural kernels (dense, LSTM, conv-k2, layernorm) used by the
  * Pyramid inference engine. Pure Scala, allocation-light, JIT-friendly —
  * these run inside `mapPartitions` on executors (SURVEY.md §4).
  *
  * Semantics mirror the torch modules the reference composes:
  * `nn.Linear`, `nn.LSTM` (gate order i,f,g,o), `nn.Conv1d(kernel_size=2)`,
  * `nn.LayerNorm(eps=1e-5)` — at inference (eval mode: dropout = identity).
  */
/** Runtime gate + transpose for the SIMD GEMV kernels ([[SimdKernels]]):
  * vectorization is across OUTPUT lanes over transposed weights, so every
  * output element's FP accumulation order is unchanged — results are
  * bit-exact vs the scalar kernels (asserted by NnSimdSpec). Each weight
  * holder keeps its own transpose in a `@transient lazy val`, so a transpose
  * lives exactly as long as its weights. Falls back to the scalar path when
  * the jdk.incubator.vector module is absent or `-Dgraft.simd=off` is set.
  */
object Simd {
  val enabled: Boolean =
    try {
      SimdKernels.probe()
      !sys.props.get("graft.simd").contains("off") &&
        !sys.env.get("GRAFT_NO_SIMD").contains("1")
    } catch { case _: Throwable => false }

  /** row-major [outDim × inDim] → [inDim × outDim]; a pure copy (no
    * arithmetic)
    */
  def transposed(w: Array[Float], inDim: Int, outDim: Int): Array[Float] = {
    require(w.length == inDim * outDim,
      s"weight length ${w.length} is not $outDim × $inDim")
    val t = new Array[Float](inDim * outDim)
    var o = 0
    while (o < outDim) {
      var i = 0
      while (i < inDim) { t(i * outDim + o) = w(o * inDim + i); i += 1 }
      o += 1
    }
    t
  }
}

object Nn {

  @inline def sigmoid(x: Float): Float = (1.0 / (1.0 + math.exp(-x.toDouble))).toFloat

  /** tanh via the C2-intrinsified exp (Math.tanh is not intrinsified on JDK
    * 17 — measured 52 ns vs 22 ns for exp on this JVM). Symmetric
    * e^(-2|x|) form: never overflows, no cancellation, ≤1 float-ulp from
    * Math.tanh after the float round.
    */
  @inline def tanhF(x: Float): Float = {
    val e2 = math.exp(-2.0 * math.abs(x.toDouble))
    val t = (1.0 - e2) / (1.0 + e2)
    (if (x < 0f) -t else t).toFloat
  }

  /** y[o] = b[o] + Σ_i W[o*inDim + i] * x[xOff + i]; W row-major [outDim × inDim].
    *
    * Register-blocked over OUTPUT rows (4 at a time): each x load feeds 4
    * independent accumulator chains, breaking the one-add-per-FP-latency
    * serial chain C2 can't reassociate. Per-row accumulation order is
    * unchanged (bias, then i ascending) — results are bit-exact vs the
    * unblocked loop.
    */
  def dense(w: Array[Float], b: Array[Float], inDim: Int, outDim: Int,
            x: Array[Float], xOff: Int, y: Array[Float], yOff: Int): Unit = {
    var o = 0
    while (o + 4 <= outDim) {
      var a0 = b(o); var a1 = b(o + 1); var a2 = b(o + 2); var a3 = b(o + 3)
      val w0 = o * inDim; val w1 = w0 + inDim; val w2 = w1 + inDim; val w3 = w2 + inDim
      var i = 0
      while (i < inDim) {
        val xv = x(xOff + i)
        a0 += w(w0 + i) * xv; a1 += w(w1 + i) * xv
        a2 += w(w2 + i) * xv; a3 += w(w3 + i) * xv
        i += 1
      }
      y(yOff + o) = a0; y(yOff + o + 1) = a1; y(yOff + o + 2) = a2; y(yOff + o + 3) = a3
      o += 4
    }
    while (o < outDim) {
      var acc = b(o)
      val wOff = o * inDim
      var i = 0
      while (i < inDim) { acc += w(wOff + i) * x(xOff + i); i += 1 }
      y(yOff + o) = acc
      o += 1
    }
  }

  /** [[dense]] over `n` consecutive rows (x stride inDim, y stride outDim),
    * with `wT = Simd.transposed(w, inDim, outDim)` held by the caller. The
    * SIMD path (bit-exact, see Simd) runs only when the output is wide enough
    * to fill vector lanes: one GEMV for a single row, else one token-blocked
    * GEMM. The narrow production heads (outDim 6/10) stay on the
    * register-blocked scalar loop.
    */
  private[core] def denseT(w: Array[Float], wT: Array[Float], b: Array[Float],
                           inDim: Int, outDim: Int,
                           x: Array[Float], xOff: Int, y: Array[Float], yOff: Int,
                           n: Int = 1): Unit =
    if (Simd.enabled && outDim >= 16) {
      if (n == 1) SimdKernels.gemvT(wT, b, 0, inDim, outDim, x, xOff, y, yOff)
      else SimdKernels.gemmT(wT, b, inDim, outDim, n, x, xOff, inDim, y, yOff, outDim)
    } else {
      var t = 0
      while (t < n) { dense(w, b, inDim, outDim, x, xOff + t * inDim, y, yOff + t * outDim); t += 1 }
    }

  /** LayerNorm over the last (feature) dim, torch defaults (eps=1e-5, affine). */
  def layerNorm(gamma: Array[Float], beta: Array[Float], dim: Int,
                x: Array[Float], xOff: Int, y: Array[Float], yOff: Int): Unit = {
    var mean = 0.0
    var i = 0
    while (i < dim) { mean += x(xOff + i); i += 1 }
    mean /= dim
    var variance = 0.0
    i = 0
    while (i < dim) { val d = x(xOff + i) - mean; variance += d * d; i += 1 }
    variance /= dim
    val inv = (1.0 / math.sqrt(variance + 1e-5)).toFloat
    i = 0
    while (i < dim) {
      y(yOff + i) = ((x(xOff + i) - mean).toFloat * inv) * gamma(i) + beta(i)
      i += 1
    }
  }
}

/** Scratch for [[LstmCell.run]] on cells of up to `maxHidden` units: the
  * state h and c, one step's gate pre-activations, and the SIMD path's
  * hoisted input projection P (len × 4H), which grows on demand. One per
  * engine, like the engine's other buffers; never shared between threads.
  */
final class LstmScratch(maxHidden: Int) {
  val h = new Array[Float](maxHidden)
  val c = new Array[Float](maxHidden)
  val gates = new Array[Float](4 * maxHidden)
  private var p = new Array[Float](0)

  /** P with room for at least `n` floats */
  private[core] def proj(n: Int): Array[Float] = {
    if (p.length < n) p = new Array[Float](math.max(n, 2 * p.length))
    p
  }
}

/** One direction of an LSTM: torch layout, gates (i, f, g, o) stacked in
  * wIh [4H × I], wHh [4H × H], bIh/bHh [4H].
  */
final class LstmCell(val inDim: Int, val hidden: Int,
                     val wIh: Array[Float], val wHh: Array[Float],
                     val bIh: Array[Float], val bHh: Array[Float]) extends Serializable {
  // SIMD support (bit-exact, see Simd): transposed weight copies + the
  // precomputed bIh+bHh sum, built lazily once per cell instance (thread-safe
  // lazy val; the cell instance is broadcast-shared across tasks)
  @transient private lazy val useSimd = Simd.enabled && 4 * hidden >= 16
  @transient private lazy val wIhT = Simd.transposed(wIh, inDim, 4 * hidden)
  @transient private lazy val wHhT = Simd.transposed(wHh, hidden, 4 * hidden)
  @transient private lazy val bSum = {
    val s = new Array[Float](4 * hidden)
    var j = 0
    while (j < 4 * hidden) { s(j) = bIh(j) + bHh(j); j += 1 }
    s
  }

  /** Runs the sequence x[t] (t = 0..len-1 over stride inDim starting xOff),
    * direction +1 or -1, writing h_t into out at (outOff + t*outStride + lane).
    * `s` must hold at least `hidden` units.
    */
  def run(x: Array[Float], xOff: Int, len: Int, reverse: Boolean,
          out: Array[Float], outOff: Int, outStride: Int, lane: Int,
          s: LstmScratch): Unit = {
    val h = s.h
    val c = s.c
    val gates = s.gates
    java.util.Arrays.fill(h, 0f)
    java.util.Arrays.fill(c, 0f)
    val H = hidden
    val simd = useSimd
    // SIMD (bit-exact, see Simd): P_t = bIh + bHh + wIh·x_t for every t in one
    // token-blocked GEMM, before the recurrence; each step then adds wHh·h
    val p = if (simd) s.proj(len * 4 * H) else null
    if (simd) SimdKernels.gemmT(wIhT, bSum, inDim, 4 * H, len, x, xOff, inDim, p, 0, 4 * H)
    var step = 0
    while (step < len) {
      val t = if (reverse) len - 1 - step else step
      // gates = bIh + bHh + wIh·x_t + wHh·h. The scalar path is
      // register-blocked 4 gate rows at a time (4H is always a multiple of 4,
      // so no remainder): each x/h load feeds 4 independent accumulators;
      // per-row FP order unchanged (bit-exact vs the row-at-a-time loop, see
      // Nn.dense). An 8-row block measured slower here (register pressure).
      if (simd) SimdKernels.gemvT(wHhT, p, t * 4 * H, H, 4 * H, h, 0, gates, 0)
      else {
      val xo = xOff + t * inDim
      var j = 0
      while (j < 4 * H) {
        var a0 = bIh(j) + bHh(j); var a1 = bIh(j + 1) + bHh(j + 1)
        var a2 = bIh(j + 2) + bHh(j + 2); var a3 = bIh(j + 3) + bHh(j + 3)
        val w0 = j * inDim; val w1 = w0 + inDim; val w2 = w1 + inDim; val w3 = w2 + inDim
        var i = 0
        while (i < inDim) {
          val xv = x(xo + i)
          a0 += wIh(w0 + i) * xv; a1 += wIh(w1 + i) * xv
          a2 += wIh(w2 + i) * xv; a3 += wIh(w3 + i) * xv
          i += 1
        }
        val v0 = j * H; val v1 = v0 + H; val v2 = v1 + H; val v3 = v2 + H
        var k = 0
        while (k < H) {
          val hv = h(k)
          a0 += wHh(v0 + k) * hv; a1 += wHh(v1 + k) * hv
          a2 += wHh(v2 + k) * hv; a3 += wHh(v3 + k) * hv
          k += 1
        }
        gates(j) = a0; gates(j + 1) = a1; gates(j + 2) = a2; gates(j + 3) = a3
        j += 4
      }
      }
      var k = 0
      while (k < H) {
        val ig = Nn.sigmoid(gates(k))
        val fg = Nn.sigmoid(gates(H + k))
        val gg = Nn.tanhF(gates(2 * H + k))
        val og = Nn.sigmoid(gates(3 * H + k))
        val cNew = fg * c(k) + ig * gg
        c(k) = cNew
        h(k) = og * Nn.tanhF(cNew)
        k += 1
      }
      val oo = outOff + t * outStride + lane
      System.arraycopy(h, 0, out, oo, H)
      step += 1
    }
  }
}

/** Bidirectional LSTM: output per position = [fwd_h(t) ++ bwd_h(t)], width 2H. */
final class BiLstm(val fwd: LstmCell, val bwd: LstmCell) extends Serializable {
  val inDim: Int = fwd.inDim
  val hidden: Int = fwd.hidden
  val outDim: Int = 2 * fwd.hidden
  def run(x: Array[Float], xOff: Int, len: Int,
          out: Array[Float], outOff: Int, s: LstmScratch): Unit = {
    fwd.run(x, xOff, len, reverse = false, out, outOff, outDim, 0, s)
    bwd.run(x, xOff, len, reverse = true, out, outOff, outDim, hidden, s)
  }
}

/** Conv1d over time with kernel 2, stride 1 (reference pyramid CNN,
  * `modules/decoding/pyramid/__init__.py:21`): out[t] = W0·x[t] + W1·x[t+1] + b,
  * output length len-1. W stored as two row-major [outCh × inCh] taps.
  */
final class Conv2Tap(val inCh: Int, val outCh: Int,
                     val w0: Array[Float], val w1: Array[Float],
                     val b: Array[Float]) extends Serializable {
  // SIMD support (bit-exact, see Simd): transposed tap copies, once per instance
  @transient private lazy val useSimd = Simd.enabled && outCh >= 16
  @transient private lazy val w0T = Simd.transposed(w0, inCh, outCh)
  @transient private lazy val w1T = Simd.transposed(w1, inCh, outCh)

  def run(x: Array[Float], xOff: Int, len: Int, y: Array[Float], yOff: Int): Unit = {
    if (useSimd) {
      SimdKernels.conv2T(w0T, w1T, b, inCh, outCh, len - 1, x, xOff, y, yOff)
      return
    }
    var t = 0
    while (t < len - 1) {
      val x0 = xOff + t * inCh
      val x1 = x0 + inCh
      val yo = yOff + t * outCh
      // register-blocked 4 output channels at a time (bit-exact per row, see
      // Nn.dense); remainder loop for outCh % 4 channels
      var o = 0
      while (o + 4 <= outCh) {
        var a0 = b(o); var a1 = b(o + 1); var a2 = b(o + 2); var a3 = b(o + 3)
        val r0 = o * inCh; val r1 = r0 + inCh; val r2 = r1 + inCh; val r3 = r2 + inCh
        var i = 0
        while (i < inCh) {
          val xa = x(x0 + i); val xb = x(x1 + i)
          a0 += w0(r0 + i) * xa + w1(r0 + i) * xb
          a1 += w0(r1 + i) * xa + w1(r1 + i) * xb
          a2 += w0(r2 + i) * xa + w1(r2 + i) * xb
          a3 += w0(r3 + i) * xa + w1(r3 + i) * xb
          i += 1
        }
        y(yo + o) = a0; y(yo + o + 1) = a1; y(yo + o + 2) = a2; y(yo + o + 3) = a3
        o += 4
      }
      while (o < outCh) {
        var acc = b(o)
        val w = o * inCh
        var i = 0
        while (i < inCh) { acc += w0(w + i) * x(x0 + i) + w1(w + i) * x(x1 + i); i += 1 }
        y(yo + o) = acc
        o += 1
      }
      t += 1
    }
  }
}
