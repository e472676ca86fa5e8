package graft.expressions;

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow;
import org.apache.spark.sql.catalyst.util.ArrayData;
import org.apache.spark.sql.catalyst.util.GenericArrayData;

/**
 * Tight-loop kernels behind {@link VectorDot}, {@link PqEncode},
 * {@code Pq.l2sq} and the dedup/winnowing operators — the r19 optimization round's replacement for the
 * higher-order-function spellings of the similarity hot paths.
 *
 * WHY: Spark's higher-order functions (transform/aggregate/zip_with) are
 * CodegenFallback — every lambda step is an interpreted Catalyst eval with
 * boxing, so a 64-dim dot product costs ~200 interpreted node evaluations
 * per call, and PQ coding costs m·k of those folds PER ROW. These kernels
 * run the identical arithmetic as one static Java call that whole-stage
 * codegen can inline (the StringKernels pattern, SURVEY.md §7.5 risk 5).
 *
 * BIT-EXACTNESS CONTRACT (the cross-engine determinism rules depend on it):
 * every loop accumulates in ascending index order from the same initial
 * value as the fold it replaces, so each result is the identical IEEE-754
 * value the aggregate(zip_with(...)) expression produced — including the
 * null semantics: zip_with pads a length mismatch with null and a null
 * element poisons the fold, hence the null returns below.
 */
public final class VectorKernels {
  private VectorKernels() {}

  /** Sequential-fold dot product; bit-identical to
   * {@code aggregate(zip_with(a,b,(x,y)->x*y), 0.0d, +)}. */
  public static Double dot(ArrayData a, ArrayData b) {
    int n = a.numElements();
    if (b.numElements() != n) return null;
    double s = 0.0;
    for (int i = 0; i < n; i++) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null;
      s += a.getDouble(i) * b.getDouble(i);
    }
    return s;
  }

  /** Sequential-fold squared L2 distance; bit-identical to
   * {@code aggregate(zip_with(a,b,(x,y)->(x-y)*(x-y)), 0.0d, +)}. */
  public static Double l2sq(ArrayData a, ArrayData b) {
    int n = a.numElements();
    if (b.numElements() != n) return null;
    double s = 0.0;
    for (int i = 0; i < n; i++) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null;
      double d = a.getDouble(i) - b.getDouble(i);
      s += d * d;
    }
    return s;
  }

  /** All k-gram hashes IN ORDER from a token-hash array; bit-identical to
   * the TextOps.shingleHashesAll nested-transform fold: gram i is the left
   * fold h = (h*31 + th[i+j]) % mod over j = 0..k-1 from h = 0, with each
   * step reduced mod. A null token hash poisons its grams to null
   * (unreachable from split output — split never yields null tokens — but
   * mirrored anyway); fewer than k tokens is the callers' guarded
   * precondition (they filter size >= k first) and returns empty here. */
  public static ArrayData shingleGrams(ArrayData th, int k, long mod) {
    int n = th.numElements();
    if (n < k) return new GenericArrayData(new long[0]);
    int m = n - k + 1;
    boolean anyNull = false;
    for (int i = 0; i < n && !anyNull; i++) anyNull = th.isNullAt(i);
    if (!anyNull) {
      long[] g = new long[m];
      for (int i = 0; i < m; i++) {
        long h = 0L;
        for (int j = 0; j < k; j++) h = (h * 31L + th.getLong(i + j)) % mod;
        g[i] = h;
      }
      return new GenericArrayData(g);
    }
    Object[] g = new Object[m];
    for (int i = 0; i < m; i++) {
      boolean nul = false;
      long h = 0L;
      for (int j = 0; j < k && !nul; j++) {
        if (th.isNullAt(i + j)) nul = true;
        else h = (h * 31L + th.getLong(i + j)) % mod;
      }
      g[i] = nul ? null : (Object) h;
    }
    return new GenericArrayData(g);
  }

  /** Winnowing per-window selections; bit-identical to the index fold in
   * winnowingFingerprints: for each window start i (0-based, starts =
   * max(n-w, 0) + 1), the rightmost minimum (x &lt;= best takes the later
   * occurrence) over grams i..min(i+w, n)-1, emitted as a
   * struct&lt;fp, pos&gt; with pos the 1-based absolute gram index. Null
   * grams never update; a window with no non-null gram keeps the fold's
   * (Long.MAX_VALUE, 0) initial — both corners unreachable from real
   * token streams. */
  public static ArrayData winnowSelect(ArrayData g, int w) {
    int n = g.numElements();
    int starts = Math.max(n - w, 0) + 1;
    Object[] out = new Object[starts];
    for (int i = 0; i < starts; i++) {
      int end = Math.min(i + w, n);
      long bestFp = Long.MAX_VALUE;
      long bestPos = 0L;
      for (int j = i; j < end; j++) {
        if (g.isNullAt(j)) continue;
        long x = g.getLong(j);
        if (x <= bestFp) { bestFp = x; bestPos = j + 1; }
      }
      out[i] = new GenericInternalRow(new Object[]{bestFp, bestPos});
    }
    return new GenericArrayData(out);
  }

  /** 30-bit SimHash; bit-identical to the TextOps.simHash30 expression:
   * bit b is set iff the ±1 vote sum over elements is &gt; 0, where a null
   * element votes −1 (the fold's otherwise branch) and a NULL ARRAY yields
   * 0 (every per-bit when() falls to otherwise(0) when the fold is null —
   * which is why the expression is non-nullable and this takes null).
   * One pass over the elements counts the set bits per position, so bit
   * b's vote sum is ones[b] − (n − ones[b]) = 2·ones[b] − n. */
  public static long simHash30(ArrayData h) {
    if (h == null) return 0L;
    int n = h.numElements();
    int[] ones = new int[30];
    for (int i = 0; i < n; i++) {
      if (h.isNullAt(i)) continue;
      long x = h.getLong(i);
      for (int b = 0; b < 30; b++) ones[b] += (int) ((x >> b) & 1L);
    }
    long out = 0L;
    for (int b = 0; b < 30; b++) {
      if (2L * ones[b] - n > 0L) out += (1L << b);
    }
    return out;
  }

  /** Exact Jaccard of two long arrays; bit-identical to the expression
   * {@code when(size(a)+size(b)===0, 1.0).otherwise(|a∩b| / (size(a)+size(b)-|a∩b|))}
   * with {@code array_intersect} semantics: the intersection counts
   * DISTINCT common elements (inputs are distinct by contract, but
   * duplicates and a shared null element are mirrored anyway), while the
   * denominator uses the RAW sizes. Both conversions to double are exact
   * for any realistic set size, so the division is the identical IEEE op
   * the oracle's list_intersect SQL performs. The distinct common
   * elements are counted in an open-addressing table of b's values with
   * primitive keys, so no element is boxed (a merge of two sorted copies
   * measured slower than the boxed HashSet on 20-60-element arrays: the
   * sorts dominate). */
  public static double jaccardLong(ArrayData a, ArrayData b) {
    int sa = a.numElements(), sb = b.numElements();
    if (sa + sb == 0) return 1.0;
    // load factor < 1/2: a power of two in (2·sb, 4·sb]
    int cap = Integer.highestOneBit(Math.max(sb, 4)) << 2, mask = cap - 1;
    int shift = 64 - Integer.numberOfTrailingZeros(cap);
    long[] keys = new long[cap];
    byte[] state = new byte[cap]; // 0 empty, 1 in b, 2 in b and counted
    boolean bNull = false;
    for (int i = 0; i < sb; i++) {
      if (b.isNullAt(i)) { bNull = true; continue; }
      long x = b.getLong(i);
      int h = (int) ((x * 0x9E3779B97F4A7C15L) >>> shift);
      while (state[h] != 0 && keys[h] != x) h = (h + 1) & mask;
      keys[h] = x;
      state[h] = 1;
    }
    boolean aNull = false;
    long inter = 0;
    for (int i = 0; i < sa; i++) {
      if (a.isNullAt(i)) { aNull = true; continue; }
      long x = a.getLong(i);
      int h = (int) ((x * 0x9E3779B97F4A7C15L) >>> shift);
      while (state[h] != 0 && keys[h] != x) h = (h + 1) & mask;
      if (state[h] == 1) { inter++; state[h] = 2; }
    }
    if (aNull && bNull) inter++;
    return (double) inter / (double) (sa + sb - inter);
  }

  /** PQ codes; bit-identical to the Pq.codesFor fold: per subspace the
   * FIRST strict-&lt; argmin over the codebook by the sequential-fold l2sq
   * of the subvector slice. A slice that runs off the vector end, or one
   * carrying a null element, made every per-centroid distance null in the
   * fold (zip_with padding), so no centroid ever updated the accumulator —
   * mirrored here as "never update", leaving the fold's initial cid −1.
   * NaN distances also never update (NaN &lt; best is false both ways). */
  public static ArrayData pqEncode(ArrayData v, double[][][] cbs, int subDim) {
    int m = cbs.length;
    int[] codes = new int[m];
    int vn = v.numElements();
    for (int s = 0; s < m; s++) {
      double best = Double.POSITIVE_INFINITY;
      int cid = -1;
      int off = s * subDim;
      if (off + subDim <= vn) {
        boolean hasNull = false;
        for (int j = 0; j < subDim && !hasNull; j++) hasNull = v.isNullAt(off + j);
        if (!hasNull) {
          double[][] cb = cbs[s];
          for (int c = 0; c < cb.length; c++) {
            double[] cv = cb[c];
            double d = 0.0;
            for (int j = 0; j < subDim; j++) {
              double x = v.getDouble(off + j) - cv[j];
              d += x * x;
            }
            if (d < best) { best = d; cid = c; }
          }
        }
      }
      codes[s] = cid;
    }
    return new GenericArrayData(codes);
  }
}
