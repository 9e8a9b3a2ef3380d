package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Pins the SIMD (Vector API) kernels to naive single-accumulator reference
  * loops, BIT-EXACT — vectorization is across output lanes over transposed
  * weights and blocking is over tokens, so each output element's FP
  * accumulation order is identical to the scalar kernels. Output widths
  * cover the wide blocks, the single-vector loop and the overlapping tail
  * vector (species length L is 16 on AVX-512, 8 on AVX2); sequence lengths
  * cover every remainder of the 4-token blocks.
  */
class NnSimdSpec extends AnyFunSuite {

  private val L = SimdKernels.probe()
  /** output widths around the vector length, plus the model's 100/200/400 */
  private val outs = Seq(L, L + 1, 2 * L - 1, 2 * L, 2 * L + 1, 100, 200, 400).distinct
  /** token counts covering every remainder of a 4-token block */
  private val lens = Seq(1, 2, 3, 4, 5, 7, 8, 9, 33)
  /** a value no kernel computes here: lanes outside a kernel's output keep it */
  private val Guard = -12345f

  private def rnd(seed: Int, n: Int): Array[Float] = {
    val r = new java.util.Random(seed)
    Array.fill(n)(r.nextFloat() * 4f - 2f)
  }

  test("SIMD kernels are enabled (jdk.incubator.vector present)") {
    assert(Simd.enabled,
      "Vector API unavailable — check --add-modules=jdk.incubator.vector in build.sbt javaOptions")
  }

  test("dense SIMD path is bit-exact vs naive across block/remainder shapes") {
    for (outDim <- Seq(16, 17, 24, 31, 32, 33, 48, 64, 65, 100, 101, 127, 128, 200, 400);
         inDim <- Seq(1, 3, 50, 120, 300)) {
      val w = rnd(outDim * 131 + inDim, outDim * inDim)
      val b = rnd(7 + outDim, outDim)
      val x = rnd(11 + inDim, inDim + 5)
      val got = Array.fill(outDim + 4)(Guard)
      Nn.denseT(w, Simd.transposed(w, inDim, outDim), b, inDim, outDim, x, 5, got, 2)
      for (o <- 0 until outDim) {
        var acc = b(o)
        for (i <- 0 until inDim) acc += w(o * inDim + i) * x(5 + i)
        assert(got(2 + o) == acc, s"outDim=$outDim inDim=$inDim row $o")
      }
      assert(got.take(2).forall(_ == Guard) && got.drop(outDim + 2).forall(_ == Guard),
        s"outDim=$outDim inDim=$inDim wrote outside its row")
    }
  }

  test("gemmT is bit-exact vs naive for every token-block remainder and lane tail") {
    for (outDim <- outs; inDim <- Seq(1, 5, 70); n <- lens) {
      val w = rnd(outDim * 17 + inDim, outDim * inDim)
      val b = rnd(3 + outDim, outDim)
      // strided rows with a gap after each, so any write past a row shows
      val (xStride, yStride) = (inDim + 2, outDim + 3)
      val x = rnd(n * 7 + inDim, 1 + n * xStride)
      val got = Array.fill(2 + n * yStride)(Guard)
      SimdKernels.gemmT(Simd.transposed(w, inDim, outDim), b, inDim, outDim, n,
        x, 1, xStride, got, 2, yStride)
      for (t <- 0 until n; o <- 0 until outDim) {
        var acc = b(o)
        for (i <- 0 until inDim) acc += w(o * inDim + i) * x(1 + t * xStride + i)
        assert(got(2 + t * yStride + o) == acc, s"out=$outDim in=$inDim n=$n t=$t o=$o")
      }
      for (k <- got.indices; r = k - 2; if r < 0 || r % yStride >= outDim)
        assert(got(k) == Guard, s"out=$outDim in=$inDim n=$n wrote outside its rows at $k")
    }
  }

  test("LstmCell SIMD gates are bit-exact vs naive (full cell recurrence)") {
    // char (10, 10), default encoder/decoder (70, 50) and (100, 50), GENIA
    // (260, 100) and (200, 100), plus odd and wide shapes
    for ((inDim, h) <- Seq((7, 4), (10, 10), (13, 13), (70, 50), (100, 50), (120, 50),
                           (200, 100), (260, 100), (300, 100))) {
      val cell = new LstmCell(inDim, h,
        rnd(1 + h, 4 * h * inDim), rnd(2 + h, 4 * h * h), rnd(3 + h, 4 * h), rnd(4 + h, 4 * h))
      // one scratch for every length: its projection buffer grows and is reused
      val scratch = new LstmScratch(h)
      for (len <- lens; rev <- Seq(false, true)) {
        val x = rnd(5 + inDim + len, len * inDim)
        val lane = if (rev) h else 0
        val out = new Array[Float](len * 2 * h)
        cell.run(x, 0, len, rev, out, 0, 2 * h, lane, scratch)

        // naive re-run: single-accumulator gates, same cell math
        val nh = new Array[Float](h); val nc = new Array[Float](h)
        val naive = new Array[Float](len * 2 * h)
        for (step <- 0 until len) {
          val t = if (rev) len - 1 - step else step
          val gates = new Array[Float](4 * h)
          for (j <- 0 until 4 * h) {
            var acc = cell.bIh(j) + cell.bHh(j)
            for (i <- 0 until inDim) acc += cell.wIh(j * inDim + i) * x(t * inDim + i)
            for (k <- 0 until h) acc += cell.wHh(j * h + k) * nh(k)
            gates(j) = acc
          }
          for (k <- 0 until h) {
            val cNew = Nn.sigmoid(gates(h + k)) * nc(k) +
              Nn.sigmoid(gates(k)) * Nn.tanhF(gates(2 * h + k))
            nc(k) = cNew
            nh(k) = Nn.sigmoid(gates(3 * h + k)) * Nn.tanhF(cNew)
          }
          System.arraycopy(nh, 0, naive, t * 2 * h + lane, h)
        }
        for (t <- 0 until len; k <- 0 until 2 * h)
          assert(out(t * 2 * h + k) == naive(t * 2 * h + k),
            s"inDim=$inDim h=$h len=$len rev=$rev t=$t k=$k")
      }
    }
  }

  test("gemvT + gemvAccT chain is bit-exact vs the scalar inverse-conv loop") {
    // replicates PyramidVariants.inversePass's padded kernel-2 conv: per
    // output o, channels j get bias, then the w0 matvec, then the w1 matvec,
    // with only one tap at the boundaries
    for (dd <- Seq(16, 24, 100)) {
      val t = 4
      val cat = rnd(31 + dd, t * 2 * dd)
      val w0 = rnd(32 + dd, dd * 2 * dd)
      val w1 = rnd(33 + dd, dd * 2 * dd)
      val b = rnd(34 + dd, dd)
      val naive = new Array[Float]((t + 1) * dd)
      for (o <- 0 to t; j <- 0 until dd) {
        var acc = b(j)
        val w = j * 2 * dd
        if (o > 0) { val xo = (o - 1) * 2 * dd
          for (i <- 0 until 2 * dd) acc += w0(w + i) * cat(xo + i) }
        if (o < t) { val xo = o * 2 * dd
          for (i <- 0 until 2 * dd) acc += w1(w + i) * cat(xo + i) }
        naive(o * dd + j) = acc
      }
      val got = new Array[Float]((t + 1) * dd)
      val w0T = Simd.transposed(w0, 2 * dd, dd)
      val w1T = Simd.transposed(w1, 2 * dd, dd)
      SimdKernels.gemvT(w1T, b, 0, 2 * dd, dd, cat, 0, got, 0)
      for (o <- 1 until t) {
        SimdKernels.gemvT(w0T, b, 0, 2 * dd, dd, cat, (o - 1) * 2 * dd, got, o * dd)
        SimdKernels.gemvAccT(w1T, 2 * dd, dd, cat, o * 2 * dd, got, o * dd)
      }
      SimdKernels.gemvT(w0T, b, 0, 2 * dd, dd, cat, (t - 1) * 2 * dd, got, t * dd)
      for (k <- got.indices) assert(got(k) == naive(k), s"dd=$dd k=$k")
    }
  }

  test("gemvAccT adds each lane once where its tail vector overlaps") {
    for (outDim <- outs :+ (4 * L + 3); inDim <- Seq(1, 7, 100)) {
      val w = rnd(41 + outDim, outDim * inDim)
      val x = rnd(42 + inDim, inDim + 3)
      val y0 = rnd(43 + outDim, outDim)
      val got = Guard +: y0 :+ Guard
      SimdKernels.gemvAccT(Simd.transposed(w, inDim, outDim), inDim, outDim, x, 3, got, 1)
      for (o <- 0 until outDim) {
        var acc = y0(o)
        for (i <- 0 until inDim) acc += w(o * inDim + i) * x(3 + i)
        assert(got(1 + o) == acc, s"outDim=$outDim inDim=$inDim o=$o")
      }
      assert(got.head == Guard && got.last == Guard, s"outDim=$outDim wrote outside y")
    }
  }

  test("Conv2Tap SIMD path is bit-exact vs naive (w0-then-w1 add order)") {
    for (outCh <- Seq(16, 17, 33, 64, 65, 100, 200); inCh <- Seq(2, 50, 100); len <- Seq(2, 5, 34)) {
      val conv = new Conv2Tap(inCh, outCh,
        rnd(21 + outCh, outCh * inCh), rnd(22 + outCh, outCh * inCh), rnd(23, outCh))
      val x = rnd(24 + inCh, len * inCh)
      val got = new Array[Float]((len - 1) * outCh)
      conv.run(x, 0, len, got, 0)
      for (t <- 0 until len - 1; o <- 0 until outCh) {
        var acc = conv.b(o)
        for (i <- 0 until inCh) {
          // scalar kernel order: acc = acc + (w0*xa + w1*xb) per i
          acc += conv.w0(o * inCh + i) * x(t * inCh + i) +
            conv.w1(o * inCh + i) * x((t + 1) * inCh + i)
        }
        assert(got(t * outCh + o) == acc, s"outCh=$outCh inCh=$inCh len=$len t=$t o=$o")
      }
    }
  }

  test("conv2T is bit-exact vs naive for every position-block remainder and lane tail") {
    for (outCh <- outs; inCh <- Seq(1, 5, 50); n <- lens) {
      val w0 = rnd(51 + outCh, outCh * inCh)
      val w1 = rnd(52 + outCh, outCh * inCh)
      val b = rnd(53, outCh)
      val x = rnd(54 + inCh + n, 2 + (n + 1) * inCh)
      val got = Array.fill(3 + n * outCh + 2)(Guard)
      SimdKernels.conv2T(Simd.transposed(w0, inCh, outCh), Simd.transposed(w1, inCh, outCh), b,
        inCh, outCh, n, x, 2, got, 3)
      for (t <- 0 until n; o <- 0 until outCh) {
        var acc = b(o)
        for (i <- 0 until inCh)
          acc += w0(o * inCh + i) * x(2 + t * inCh + i) + w1(o * inCh + i) * x(2 + (t + 1) * inCh + i)
        assert(got(3 + t * outCh + o) == acc, s"out=$outCh in=$inCh n=$n t=$t o=$o")
      }
      assert(got.take(3).forall(_ == Guard) && got.drop(3 + n * outCh).forall(_ == Guard),
        s"out=$outCh in=$inCh n=$n wrote outside y")
    }
  }
}
