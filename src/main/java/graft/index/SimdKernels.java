package graft.index;

import jdk.incubator.vector.FloatVector;
import jdk.incubator.vector.VectorOperators;
import jdk.incubator.vector.VectorSpecies;

/**
 * SIMD navigation distance kernels (jdk.incubator.vector). Lane-parallel
 * accumulation reassociates float adds, so results are not bit-identical to
 * the sequential-double oracle kernels — exactly the contract of
 * DistanceKernels' float kernels: they order candidates in every HNSW beam
 * (build and query), and every distance a search returns is rescored with
 * the exact kernels.
 *
 * Loaded reflectively by DistanceKernels: the incubator module is present
 * only when the JVM ran with --add-modules=jdk.incubator.vector (build.sbt
 * adds it to forked run/test JVMs), and any loading failure falls back to
 * the scalar float kernels. Primitive-only signatures keep scalac from ever
 * needing the incubator types on ITS classpath.
 *
 * The hot loops run FOUR independent accumulator vectors: a single-chain
 * vector FMA is latency-bound (one FMA per ~4 cycles), so four chains hide
 * the latency and the common dim=64 at 512-bit species is exactly one
 * 4-wide iteration (measured ~2x over the single-chain form on this host's
 * AVX-512).
 */
public final class SimdKernels {
    private static final VectorSpecies<Float> S = FloatVector.SPECIES_PREFERRED;

    private SimdKernels() {}

    public static double l2sqF(float[] a, float[] b) {
        int L = S.length();
        int n = a.length;
        FloatVector a0 = FloatVector.zero(S);
        FloatVector a1 = FloatVector.zero(S);
        FloatVector a2 = FloatVector.zero(S);
        FloatVector a3 = FloatVector.zero(S);
        int i = 0;
        for (; i + 4 * L <= n; i += 4 * L) {
            FloatVector d0 = FloatVector.fromArray(S, a, i)
                .sub(FloatVector.fromArray(S, b, i));
            FloatVector d1 = FloatVector.fromArray(S, a, i + L)
                .sub(FloatVector.fromArray(S, b, i + L));
            FloatVector d2 = FloatVector.fromArray(S, a, i + 2 * L)
                .sub(FloatVector.fromArray(S, b, i + 2 * L));
            FloatVector d3 = FloatVector.fromArray(S, a, i + 3 * L)
                .sub(FloatVector.fromArray(S, b, i + 3 * L));
            a0 = d0.fma(d0, a0);
            a1 = d1.fma(d1, a1);
            a2 = d2.fma(d2, a2);
            a3 = d3.fma(d3, a3);
        }
        for (; i + L <= n; i += L) {
            FloatVector d = FloatVector.fromArray(S, a, i)
                .sub(FloatVector.fromArray(S, b, i));
            a0 = d.fma(d, a0);
        }
        float sum = a0.add(a1).add(a2.add(a3)).reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            float d = a[i] - b[i];
            sum += d * d;
        }
        return (double) sum;
    }

    public static double dotF(float[] a, float[] b) {
        int L = S.length();
        int n = a.length;
        FloatVector a0 = FloatVector.zero(S);
        FloatVector a1 = FloatVector.zero(S);
        FloatVector a2 = FloatVector.zero(S);
        FloatVector a3 = FloatVector.zero(S);
        int i = 0;
        for (; i + 4 * L <= n; i += 4 * L) {
            a0 = FloatVector.fromArray(S, a, i)
                .fma(FloatVector.fromArray(S, b, i), a0);
            a1 = FloatVector.fromArray(S, a, i + L)
                .fma(FloatVector.fromArray(S, b, i + L), a1);
            a2 = FloatVector.fromArray(S, a, i + 2 * L)
                .fma(FloatVector.fromArray(S, b, i + 2 * L), a2);
            a3 = FloatVector.fromArray(S, a, i + 3 * L)
                .fma(FloatVector.fromArray(S, b, i + 3 * L), a3);
        }
        for (; i + L <= n; i += L) {
            a0 = FloatVector.fromArray(S, a, i)
                .fma(FloatVector.fromArray(S, b, i), a0);
        }
        float sum = a0.add(a1).add(a2.add(a3)).reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            sum += a[i] * b[i];
        }
        return (double) sum;
    }

    /**
     * Cosine distance with float accumulators, one fused pass. Returns NaN
     * when either norm accumulator lands on 0f — true zero vector OR float
     * underflow — so the caller can delegate that ambiguous case to the
     * exact double kernel (which owns the zero-vector rule). Two unrolled
     * chains per accumulator (not four): three accumulators × four chains
     * would spill the register file.
     */
    public static double cosineDistF(float[] a, float[] b) {
        int L = S.length();
        int n = a.length;
        FloatVector dot0 = FloatVector.zero(S);
        FloatVector dot1 = FloatVector.zero(S);
        FloatVector na0 = FloatVector.zero(S);
        FloatVector na1 = FloatVector.zero(S);
        FloatVector nb0 = FloatVector.zero(S);
        FloatVector nb1 = FloatVector.zero(S);
        int i = 0;
        for (; i + 2 * L <= n; i += 2 * L) {
            FloatVector x0 = FloatVector.fromArray(S, a, i);
            FloatVector y0 = FloatVector.fromArray(S, b, i);
            FloatVector x1 = FloatVector.fromArray(S, a, i + L);
            FloatVector y1 = FloatVector.fromArray(S, b, i + L);
            dot0 = x0.fma(y0, dot0);
            na0 = x0.fma(x0, na0);
            nb0 = y0.fma(y0, nb0);
            dot1 = x1.fma(y1, dot1);
            na1 = x1.fma(x1, na1);
            nb1 = y1.fma(y1, nb1);
        }
        for (; i + L <= n; i += L) {
            FloatVector x = FloatVector.fromArray(S, a, i);
            FloatVector y = FloatVector.fromArray(S, b, i);
            dot0 = x.fma(y, dot0);
            na0 = x.fma(x, na0);
            nb0 = y.fma(y, nb0);
        }
        float d = dot0.add(dot1).reduceLanes(VectorOperators.ADD);
        float sa = na0.add(na1).reduceLanes(VectorOperators.ADD);
        float sb = nb0.add(nb1).reduceLanes(VectorOperators.ADD);
        for (; i < n; i++) {
            float x = a[i];
            float y = b[i];
            d += x * y;
            sa += x * x;
            sb += y * y;
        }
        if (sa == 0f || sb == 0f) return Double.NaN;
        return 1.0 - (d / Math.sqrt((double) sa * (double) sb));
    }
}
