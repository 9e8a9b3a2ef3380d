package graft.core;

import jdk.incubator.vector.FloatVector;
import jdk.incubator.vector.VectorSpecies;

/**
 * SIMD (jdk.incubator.vector) GEMV/GEMM kernels for the Pyramid fp32
 * inference engine, vectorized ACROSS OUTPUT LANES over TRANSPOSED weights.
 *
 * Bit-exactness contract (the whole point of this layout): for every output
 * element o the accumulation sequence is IDENTICAL to the scalar kernels in
 * {@link Nn} / {@link LstmCell} / {@link Conv2Tap} — bias first, then input
 * index i ascending, one rounded multiply followed by one rounded add per
 * term (never fused: {@code mul(..).add(..)}, not {@code fma}). Each SIMD
 * lane owns one output element, so vectorizing across lanes reorders nothing
 * within a lane. IEEE-754 addition is commutative, so {@code term.add(acc)}
 * equals {@code acc.add(term)} bitwise. NnSimdSpec asserts exact equality
 * against naive single-accumulator loops.
 *
 * Three invariants keep that contract while the kernels do less work:
 * <ul>
 * <li><b>Token blocking.</b> {@link #gemmT} and {@link #conv2T} compute 4
 * tokens (positions) per block, 2 vectors of output lanes each, so every
 * weight vector loaded feeds 4 accumulators. A block never splits a sum over
 * i: each (token, lane) accumulator still sees bias, then i ascending. The
 * last block starts at n − 4 and recomputes up to 3 tokens of the block
 * before it; with n &lt; 4 it repeats the last token. A recomputed value
 * equals the one already stored.</li>
 * <li><b>Hoisted LSTM input projection.</b> {@link LstmCell} computes
 * P_t = bSum + wIh·x_t for every t with {@link #gemmT} before the recurrence;
 * each step then runs {@link #gemvT} with P_t as its bias, which adds only
 * wHh·h. Storing an fp32 accumulator to P and loading it back is exact, so
 * every gate keeps the order bSum, then i ascending, then k ascending.</li>
 * <li><b>Overlapping tails.</b> No kernel has a scalar loop: when the output
 * width is not a multiple of the vector length L, the last vector starts at
 * out − L and recomputes lanes already written, with identical values. This
 * needs out ≥ L; callers take the SIMD path only for out ≥ 16, the widest
 * species' length. The accumulating {@link #gemvAccT} computes its tail
 * vector from the untouched y before the other blocks and stores it last,
 * so no lane is accumulated twice.</li>
 * </ul>
 *
 * Weight transposes (wT[i*outDim + o] = w[o*inDim + i]) are pure copies —
 * no arithmetic — prepared once per weight object (see Nn.scala lazy vals).
 */
public final class SimdKernels {
    // NOTE: no class-level fields of Vector API types — sbt/zinc's API
    // analysis reflectively loads this class after javac and a
    // VectorSpecies-typed field makes it pull jdk.incubator.vector classes
    // through a classloader that cannot access them (IllegalAccessError at
    // build time). Each method takes the species as a local instead; the
    // static-final SPECIES_PREFERRED lookup is constant-folded by the JIT.

    private SimdKernels() {}

    /** Class-load probe: callers catch NoClassDefFoundError / throwable when
     *  the incubator module is absent and fall back to the scalar kernels.
     *  Returns the vector length L in floats. */
    public static int probe() {
        VectorSpecies<Float> S = FloatVector.SPECIES_PREFERRED;
        float[] one = new float[S.length()];
        FloatVector.zero(S).intoArray(one, 0);
        return S.length();
    }

    /**
     * y[yOff+o] = b[bOff+o] + sum_i x[xOff+i] * wT[i*outDim + o], o in [0, outDim).
     * Matches Nn.dense's per-row order (bias, then i ascending) bit-exactly.
     * Needs outDim ≥ L.
     */
    public static void gemvT(float[] wT, float[] b, int bOff, int inDim, int outDim,
                             float[] x, int xOff, float[] y, int yOff) {
        final VectorSpecies<Float> S = FloatVector.SPECIES_PREFERRED;
        final int L = S.length();
        int o = 0;
        for (; o + 4 * L <= outDim; o += 4 * L) {
            FloatVector a0 = FloatVector.fromArray(S, b, bOff + o);
            FloatVector a1 = FloatVector.fromArray(S, b, bOff + o + L);
            FloatVector a2 = FloatVector.fromArray(S, b, bOff + o + 2 * L);
            FloatVector a3 = FloatVector.fromArray(S, b, bOff + o + 3 * L);
            for (int i = 0; i < inDim; i++) {
                FloatVector xv = FloatVector.broadcast(S, x[xOff + i]);
                int w = i * outDim + o;
                a0 = FloatVector.fromArray(S, wT, w).mul(xv).add(a0);
                a1 = FloatVector.fromArray(S, wT, w + L).mul(xv).add(a1);
                a2 = FloatVector.fromArray(S, wT, w + 2 * L).mul(xv).add(a2);
                a3 = FloatVector.fromArray(S, wT, w + 3 * L).mul(xv).add(a3);
            }
            a0.intoArray(y, yOff + o);
            a1.intoArray(y, yOff + o + L);
            a2.intoArray(y, yOff + o + 2 * L);
            a3.intoArray(y, yOff + o + 3 * L);
        }
        for (; o < outDim; o += L) {
            int v = Math.min(o, outDim - L); // the last vector may overlap
            FloatVector a0 = FloatVector.fromArray(S, b, bOff + v);
            for (int i = 0; i < inDim; i++) {
                FloatVector xv = FloatVector.broadcast(S, x[xOff + i]);
                a0 = FloatVector.fromArray(S, wT, i * outDim + v).mul(xv).add(a0);
            }
            a0.intoArray(y, yOff + v);
        }
    }

    /**
     * Accumulating variant of {@link #gemvT}: y[yOff+o] += sum_i x[xOff+i] *
     * wT[i*outDim + o] — the initial accumulator is loaded FROM y, so a
     * caller can chain phases (bias-init via gemvT, then accumulate another
     * matvec) while preserving each output's scalar accumulation order.
     * Needs outDim ≥ L.
     */
    public static void gemvAccT(float[] wT, int inDim, int outDim,
                                float[] x, int xOff, float[] y, int yOff) {
        final VectorSpecies<Float> S = FloatVector.SPECIES_PREFERRED;
        final int L = S.length();
        // the last vector [outDim − L, outDim) reads y before any block below
        // writes it, and is stored last; the blocks stop short of it
        final int tail = outDim - L;
        FloatVector at = FloatVector.fromArray(S, y, yOff + tail);
        for (int i = 0; i < inDim; i++)
            at = FloatVector.fromArray(S, wT, i * outDim + tail)
                    .mul(FloatVector.broadcast(S, x[xOff + i])).add(at);
        final int end = outDim % L == 0 ? tail : outDim;
        int o = 0;
        for (; o + 4 * L <= end; o += 4 * L) {
            FloatVector a0 = FloatVector.fromArray(S, y, yOff + o);
            FloatVector a1 = FloatVector.fromArray(S, y, yOff + o + L);
            FloatVector a2 = FloatVector.fromArray(S, y, yOff + o + 2 * L);
            FloatVector a3 = FloatVector.fromArray(S, y, yOff + o + 3 * L);
            for (int i = 0; i < inDim; i++) {
                FloatVector xv = FloatVector.broadcast(S, x[xOff + i]);
                int w = i * outDim + o;
                a0 = FloatVector.fromArray(S, wT, w).mul(xv).add(a0);
                a1 = FloatVector.fromArray(S, wT, w + L).mul(xv).add(a1);
                a2 = FloatVector.fromArray(S, wT, w + 2 * L).mul(xv).add(a2);
                a3 = FloatVector.fromArray(S, wT, w + 3 * L).mul(xv).add(a3);
            }
            a0.intoArray(y, yOff + o);
            a1.intoArray(y, yOff + o + L);
            a2.intoArray(y, yOff + o + 2 * L);
            a3.intoArray(y, yOff + o + 3 * L);
        }
        for (; o + L <= end; o += L) {
            FloatVector a0 = FloatVector.fromArray(S, y, yOff + o);
            for (int i = 0; i < inDim; i++) {
                FloatVector xv = FloatVector.broadcast(S, x[xOff + i]);
                a0 = FloatVector.fromArray(S, wT, i * outDim + o).mul(xv).add(a0);
            }
            a0.intoArray(y, yOff + o);
        }
        at.intoArray(y, yOff + tail);
    }

    /**
     * Token-blocked {@link #gemvT} over n tokens:
     * y[yOff + t*yStride + o] = b[o] + sum_i x[xOff + t*xStride + i] * wT[i*outDim + o],
     * t in [0, n), o in [0, outDim). Needs outDim ≥ L.
     */
    public static void gemmT(float[] wT, float[] b, int inDim, int outDim, int n,
                             float[] x, int xOff, int xStride,
                             float[] y, int yOff, int yStride) {
        final VectorSpecies<Float> S = FloatVector.SPECIES_PREFERRED;
        final int L = S.length();
        for (int t = 0; t < n; t += 4) {
            // the last block overlaps the one before it (or repeats token n − 1)
            int t0 = Math.min(t, Math.max(n - 4, 0));
            int t1 = Math.min(t0 + 1, n - 1), t2 = Math.min(t0 + 2, n - 1), t3 = Math.min(t0 + 3, n - 1);
            int x0 = xOff + t0 * xStride, x1 = xOff + t1 * xStride;
            int x2 = xOff + t2 * xStride, x3 = xOff + t3 * xStride;
            int y0 = yOff + t0 * yStride, y1 = yOff + t1 * yStride;
            int y2 = yOff + t2 * yStride, y3 = yOff + t3 * yStride;
            int o = 0;
            for (; o + 2 * L <= outDim; o += 2 * L) {
                FloatVector bv0 = FloatVector.fromArray(S, b, o);
                FloatVector bv1 = FloatVector.fromArray(S, b, o + L);
                FloatVector a00 = bv0, a01 = bv1, a10 = bv0, a11 = bv1;
                FloatVector a20 = bv0, a21 = bv1, a30 = bv0, a31 = bv1;
                for (int i = 0; i < inDim; i++) {
                    int w = i * outDim + o;
                    FloatVector w0 = FloatVector.fromArray(S, wT, w);
                    FloatVector w1 = FloatVector.fromArray(S, wT, w + L);
                    FloatVector xv = FloatVector.broadcast(S, x[x0 + i]);
                    a00 = w0.mul(xv).add(a00);
                    a01 = w1.mul(xv).add(a01);
                    xv = FloatVector.broadcast(S, x[x1 + i]);
                    a10 = w0.mul(xv).add(a10);
                    a11 = w1.mul(xv).add(a11);
                    xv = FloatVector.broadcast(S, x[x2 + i]);
                    a20 = w0.mul(xv).add(a20);
                    a21 = w1.mul(xv).add(a21);
                    xv = FloatVector.broadcast(S, x[x3 + i]);
                    a30 = w0.mul(xv).add(a30);
                    a31 = w1.mul(xv).add(a31);
                }
                a00.intoArray(y, y0 + o); a01.intoArray(y, y0 + o + L);
                a10.intoArray(y, y1 + o); a11.intoArray(y, y1 + o + L);
                a20.intoArray(y, y2 + o); a21.intoArray(y, y2 + o + L);
                a30.intoArray(y, y3 + o); a31.intoArray(y, y3 + o + L);
            }
            for (; o < outDim; o += L) {
                int v = Math.min(o, outDim - L); // the last vector may overlap
                FloatVector a0 = FloatVector.fromArray(S, b, v);
                FloatVector a1 = a0, a2 = a0, a3 = a0;
                for (int i = 0; i < inDim; i++) {
                    FloatVector w0 = FloatVector.fromArray(S, wT, i * outDim + v);
                    a0 = w0.mul(FloatVector.broadcast(S, x[x0 + i])).add(a0);
                    a1 = w0.mul(FloatVector.broadcast(S, x[x1 + i])).add(a1);
                    a2 = w0.mul(FloatVector.broadcast(S, x[x2 + i])).add(a2);
                    a3 = w0.mul(FloatVector.broadcast(S, x[x3 + i])).add(a3);
                }
                a0.intoArray(y, y0 + v);
                a1.intoArray(y, y1 + v);
                a2.intoArray(y, y2 + v);
                a3.intoArray(y, y3 + v);
            }
        }
    }

    /**
     * Conv-k2 over n output positions, token-blocked like {@link #gemmT}:
     * y[yOff + t*outCh + o] = b[o] + sum_i (w0T[i][o]*x[xa+i] + w1T[i][o]*x[xa+inCh+i]),
     * xa = xOff + t*inCh, t in [0, n), with the scalar kernel's exact order —
     * per i, the two tap products are summed together FIRST, then added to
     * the accumulator (`a += p0 + p1` means a = a + (p0 + p1): the
     * compound-assignment RHS evaluates whole). Needs outCh ≥ L.
     */
    public static void conv2T(float[] w0T, float[] w1T, float[] b, int inCh, int outCh, int n,
                              float[] x, int xOff, float[] y, int yOff) {
        final VectorSpecies<Float> S = FloatVector.SPECIES_PREFERRED;
        final int L = S.length();
        for (int t = 0; t < n; t += 4) {
            // the last block overlaps the one before it (or repeats position n − 1)
            int t0 = Math.min(t, Math.max(n - 4, 0));
            int t1 = Math.min(t0 + 1, n - 1), t2 = Math.min(t0 + 2, n - 1), t3 = Math.min(t0 + 3, n - 1);
            int x0 = xOff + t0 * inCh, x1 = xOff + t1 * inCh;
            int x2 = xOff + t2 * inCh, x3 = xOff + t3 * inCh;
            int y0 = yOff + t0 * outCh, y1 = yOff + t1 * outCh;
            int y2 = yOff + t2 * outCh, y3 = yOff + t3 * outCh;
            int o = 0;
            for (; o + 2 * L <= outCh; o += 2 * L) {
                FloatVector bv0 = FloatVector.fromArray(S, b, o);
                FloatVector bv1 = FloatVector.fromArray(S, b, o + L);
                FloatVector a00 = bv0, a01 = bv1, a10 = bv0, a11 = bv1;
                FloatVector a20 = bv0, a21 = bv1, a30 = bv0, a31 = bv1;
                for (int i = 0; i < inCh; i++) {
                    int w = i * outCh + o;
                    FloatVector p0 = FloatVector.fromArray(S, w0T, w);
                    FloatVector p1 = FloatVector.fromArray(S, w0T, w + L);
                    FloatVector q0 = FloatVector.fromArray(S, w1T, w);
                    FloatVector q1 = FloatVector.fromArray(S, w1T, w + L);
                    FloatVector xa = FloatVector.broadcast(S, x[x0 + i]);
                    FloatVector xb = FloatVector.broadcast(S, x[x0 + inCh + i]);
                    a00 = p0.mul(xa).add(q0.mul(xb)).add(a00);
                    a01 = p1.mul(xa).add(q1.mul(xb)).add(a01);
                    xa = FloatVector.broadcast(S, x[x1 + i]);
                    xb = FloatVector.broadcast(S, x[x1 + inCh + i]);
                    a10 = p0.mul(xa).add(q0.mul(xb)).add(a10);
                    a11 = p1.mul(xa).add(q1.mul(xb)).add(a11);
                    xa = FloatVector.broadcast(S, x[x2 + i]);
                    xb = FloatVector.broadcast(S, x[x2 + inCh + i]);
                    a20 = p0.mul(xa).add(q0.mul(xb)).add(a20);
                    a21 = p1.mul(xa).add(q1.mul(xb)).add(a21);
                    xa = FloatVector.broadcast(S, x[x3 + i]);
                    xb = FloatVector.broadcast(S, x[x3 + inCh + i]);
                    a30 = p0.mul(xa).add(q0.mul(xb)).add(a30);
                    a31 = p1.mul(xa).add(q1.mul(xb)).add(a31);
                }
                a00.intoArray(y, y0 + o); a01.intoArray(y, y0 + o + L);
                a10.intoArray(y, y1 + o); a11.intoArray(y, y1 + o + L);
                a20.intoArray(y, y2 + o); a21.intoArray(y, y2 + o + L);
                a30.intoArray(y, y3 + o); a31.intoArray(y, y3 + o + L);
            }
            for (; o < outCh; o += L) {
                int v = Math.min(o, outCh - L); // the last vector may overlap
                FloatVector a0 = FloatVector.fromArray(S, b, v);
                FloatVector a1 = a0, a2 = a0, a3 = a0;
                for (int i = 0; i < inCh; i++) {
                    int w = i * outCh + v;
                    FloatVector p = FloatVector.fromArray(S, w0T, w);
                    FloatVector q = FloatVector.fromArray(S, w1T, w);
                    a0 = p.mul(FloatVector.broadcast(S, x[x0 + i]))
                            .add(q.mul(FloatVector.broadcast(S, x[x0 + inCh + i]))).add(a0);
                    a1 = p.mul(FloatVector.broadcast(S, x[x1 + i]))
                            .add(q.mul(FloatVector.broadcast(S, x[x1 + inCh + i]))).add(a1);
                    a2 = p.mul(FloatVector.broadcast(S, x[x2 + i]))
                            .add(q.mul(FloatVector.broadcast(S, x[x2 + inCh + i]))).add(a2);
                    a3 = p.mul(FloatVector.broadcast(S, x[x3 + i]))
                            .add(q.mul(FloatVector.broadcast(S, x[x3 + inCh + i]))).add(a3);
                }
                a0.intoArray(y, y0 + v);
                a1.intoArray(y, y1 + v);
                a2.intoArray(y, y2 + v);
                a3.intoArray(y, y3 + v);
            }
        }
    }
}
