package graft.ner;

import jdk.incubator.vector.FloatVector;
import jdk.incubator.vector.VectorSpecies;

/**
 * SIMD row-major GEMM via the JDK Vector API (r8) — BIT-IDENTICAL to the
 * scalar loop in MiniBern.gemm: vector lanes span the OUTPUT dimension j, so
 * every output element sees exactly the scalar op sequence
 * {@code c[j] += ((a0*b0[j] + a1*b1[j]) + a2*b2[j]) + a3*b3[j]} (left
 * association, plain mul+add, NO fused multiply-add — FMA would skip the
 * intermediate rounding and change results). Measured 3.5-4.8x the scalar
 * form at MiniBern's shapes on this host (AVX-512, species length 16).
 *
 * The incubator module is optional at runtime: {@link #AVAILABLE} probes for
 * it without triggering resolution of this class's vector-typed method
 * bodies (HotSpot resolves constant-pool entries lazily per method), and
 * MiniBern falls back to its scalar loop when the probe fails, so a JVM
 * launched without {@code --add-modules=jdk.incubator.vector} still works.
 */
public final class VectorGemm {
  private VectorGemm() {}

  public static final boolean AVAILABLE = probe();

  private static boolean probe() {
    try {
      Class.forName("jdk.incubator.vector.FloatVector");
      return true;
    } catch (Throwable t) {
      return false;
    }
  }

  /** C(n x m) = A(n x k) * B(k x m), all row-major.
    *
    * The species lives in a LOCAL, not a static field: sbt/zinc's
    * incremental-compile analysis reflectively loads this class and
    * resolves the types of its declared members — a VectorSpecies field
    * makes a clean build die with an IllegalAccessError in any sbt JVM
    * started without the incubator module. The repo's .jvmopts adds the
    * module for the standard sbt launcher, but launchers that ignore
    * .jvmopts (CI wrappers, IDE-embedded sbt, BSP servers) still hit it, so
    * the local stays. Method bodies are never resolved by that analysis, and
    * the JIT constant-folds SPECIES_PREFERRED after inlining, so the local
    * costs nothing (measured identical GFLOPS). */
  public static float[] gemm(float[] a, int n, int k, float[] b, int m) {
    float[] c = new float[n * m];
    final VectorSpecies<Float> S = FloatVector.SPECIES_PREFERRED;
    final int L = S.length();
    for (int i = 0; i < n; i++) {
      final int co = i * m, ak = i * k;
      int p = 0;
      for (; p + 4 <= k; p += 4) {
        final float a0 = a[ak + p], a1 = a[ak + p + 1];
        final float a2 = a[ak + p + 2], a3 = a[ak + p + 3];
        final int b0 = p * m, b1 = (p + 1) * m, b2 = (p + 2) * m, b3 = (p + 3) * m;
        int j = 0;
        for (; j + L <= m; j += L) {
          FloatVector acc = FloatVector.fromArray(S, c, co + j);
          // lanes multiply b*a where the scalar loop does a*b: the same bits
          // for non-NaN inputs, so bit-identity assumes no NaN (with one,
          // which NaN payload propagates can depend on operand order)
          FloatVector s = FloatVector.fromArray(S, b, b0 + j).mul(a0)
              .add(FloatVector.fromArray(S, b, b1 + j).mul(a1))
              .add(FloatVector.fromArray(S, b, b2 + j).mul(a2))
              .add(FloatVector.fromArray(S, b, b3 + j).mul(a3));
          acc.add(s).intoArray(c, co + j);
        }
        for (; j < m; j++)
          c[co + j] += a0 * b[b0 + j] + a1 * b[b1 + j] + a2 * b[b2 + j] + a3 * b[b3 + j];
      }
      for (; p < k; p++) {
        final float av = a[ak + p];
        final int bo = p * m;
        int j = 0;
        for (; j + L <= m; j += L) {
          FloatVector acc = FloatVector.fromArray(S, c, co + j);
          acc.add(FloatVector.fromArray(S, b, bo + j).mul(av)).intoArray(c, co + j);
        }
        for (; j < m; j++) c[co + j] += av * b[bo + j];
      }
    }
    return c;
  }
}
