package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Pins the register-blocked GEMV kernels to naive single-accumulator
  * reference loops (bit-exact — blocking is over OUTPUT rows only, each
  * row's FP accumulation order is unchanged) and the exp-based tanhF to
  * Math.tanh within 1 float ulp.
  */
class NnSpec extends AnyFunSuite {

  private def rnd(seed: Int, n: Int): Array[Float] = {
    val r = new java.util.Random(seed)
    Array.fill(n)(r.nextFloat() * 4f - 2f)
  }

  test("tanhF is within 1 float ulp of Math.tanh across the logit range") {
    var worst = 0
    var x = -30.0f
    while (x <= 30.0f) {
      val got = Nn.tanhF(x)
      val want = math.tanh(x.toDouble).toFloat
      if (got != want) {
        val ulps = math.abs(
          java.lang.Float.floatToIntBits(got) - java.lang.Float.floatToIntBits(want))
        worst = math.max(worst, ulps)
      }
      x += 0.0037f
    }
    assert(worst <= 1, s"worst ulp diff $worst")
    assert(Nn.tanhF(0f) == 0f)
    assert(Nn.tanhF(400f) == 1f && Nn.tanhF(-400f) == -1f) // no overflow/NaN
    assert(Nn.tanhF(Float.MaxValue) == 1f)
  }

  test("dense (blocked) is bit-exact vs the naive loop incl. outDim % 4 != 0") {
    for (outDim <- Seq(1, 3, 4, 7, 9, 100); inDim <- Seq(1, 5, 70)) {
      val w = rnd(outDim * 31 + inDim, outDim * inDim)
      val b = rnd(7, outDim)
      val x = rnd(11, inDim + 3)
      val got = new Array[Float](outDim + 2)
      Nn.dense(w, b, inDim, outDim, x, 3, got, 2)
      for (o <- 0 until outDim) {
        var acc = b(o)
        for (i <- 0 until inDim) acc += w(o * inDim + i) * x(3 + i)
        assert(got(2 + o) == acc, s"outDim=$outDim inDim=$inDim row $o")
      }
    }
  }

  test("LstmCell gate pre-activations are bit-exact vs the naive loop") {
    val inDim = 7; val h = 5 // 4H = 20: one 4-row block boundary exercised
    val cell = new LstmCell(inDim, h,
      rnd(1, 4 * h * inDim), rnd(2, 4 * h * h), rnd(3, 4 * h), rnd(4, 4 * h))
    val x = rnd(5, 3 * inDim)
    val out = new Array[Float](3 * 2 * h)
    val naive = new Array[Float](3 * 2 * h)
    cell.run(x, 0, 3, reverse = false, out, 0, 2 * h, 0, new LstmScratch(h))

    // naive re-run: single-accumulator gates, same cell math
    val (hs, cs) = (new Array[Float](h), new Array[Float](h))
    for (t <- 0 until 3) {
      val gates = new Array[Float](4 * h)
      for (j <- 0 until 4 * h) {
        var acc = cell.bIh(j) + cell.bHh(j)
        for (i <- 0 until inDim) acc += cell.wIh(j * inDim + i) * x(t * inDim + i)
        for (k <- 0 until h) acc += cell.wHh(j * h + k) * hs(k)
        gates(j) = acc
      }
      for (k <- 0 until h) {
        val cNew = Nn.sigmoid(gates(h + k)) * cs(k) +
          Nn.sigmoid(gates(k)) * Nn.tanhF(gates(2 * h + k))
        cs(k) = cNew
        hs(k) = Nn.sigmoid(gates(3 * h + k)) * Nn.tanhF(cNew)
      }
      System.arraycopy(hs, 0, naive, t * 2 * h, h)
    }
    for (t <- 0 until 3; k <- 0 until h)
      assert(out(t * 2 * h + k) == naive(t * 2 * h + k), s"t=$t k=$k")
  }

  test("Conv2Tap (blocked) is bit-exact vs the naive loop incl. outCh % 4 != 0") {
    for (outCh <- Seq(1, 3, 6, 100); inCh <- Seq(2, 10)) {
      val conv = new Conv2Tap(inCh, outCh,
        rnd(21, outCh * inCh), rnd(22, outCh * inCh), rnd(23, outCh))
      val len = 5
      val x = rnd(24, len * inCh)
      val got = new Array[Float]((len - 1) * outCh)
      conv.run(x, 0, len, got, 0)
      for (t <- 0 until len - 1; o <- 0 until outCh) {
        var acc = conv.b(o)
        for (i <- 0 until inCh)
          acc += conv.w0(o * inCh + i) * x(t * inCh + i) +
            conv.w1(o * inCh + i) * x((t + 1) * inCh + i)
        assert(got(t * outCh + o) == acc, s"outCh=$outCh t=$t o=$o")
      }
    }
  }
}
