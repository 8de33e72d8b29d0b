package graft.functions;

import jdk.incubator.vector.LongVector;
import jdk.incubator.vector.VectorOperators;
import jdk.incubator.vector.VectorSpecies;

/**
 * SIMD lane-per-permutation MinHash kernel (jdk.incubator.vector; probed
 * at runtime like {@link SimdDot}, and the caller falls back to the scalar
 * loop when the module is absent).
 *
 * Each lane is one permutation p and keeps min over xs of
 * (x·a_p + b_p) mod P, P = 2^31−1, in integer arithmetic: the same values
 * as the scalar loop, lane for lane. The reduction is the Mersenne fold
 * (y &amp; P) + (y &gt;&gt;&gt; 31), then one conditional subtraction of P,
 * exact because x, a_p, b_p &lt; 2^31 keep y below 2^62.
 */
public final class SimdMinHash {
  private static final VectorSpecies<Long> S = LongVector.SPECIES_PREFERRED;
  private static final long P = 2147483647L;

  private SimdMinHash() {}

  /** Lane count of the preferred species (8 on AVX-512, 4 on AVX2). */
  public static int lanes() {
    return S.length();
  }

  /**
   * Writes out[p] for every p below the largest multiple of lanes() that
   * fits a.length, and returns that bound; the caller fills the rest.
   * Every xs[i] must lie in [0, P).
   */
  public static int minhash(long[] xs, long[] a, long[] b, long[] out) {
    final int bound = S.loopBound(a.length);
    for (int p = 0; p < bound; p += S.length()) {
      LongVector av = LongVector.fromArray(S, a, p);
      LongVector bv = LongVector.fromArray(S, b, p);
      LongVector acc = LongVector.broadcast(S, Long.MAX_VALUE);
      for (int i = 0; i < xs.length; i++) {
        LongVector y = av.mul(xs[i]).add(bv);
        LongVector r = y.and(P).add(y.lanewise(VectorOperators.LSHR, 31)).sub(P);
        // r < 0 ⇔ the fold was already below P: add P back there
        r = r.add(r.lanewise(VectorOperators.ASHR, 63).and(P));
        acc = acc.min(r);
      }
      acc.intoArray(out, p);
    }
    return bound;
  }
}
