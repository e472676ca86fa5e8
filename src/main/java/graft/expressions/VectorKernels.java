package graft.expressions;

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow;
import org.apache.spark.sql.catalyst.util.ArrayData;
import org.apache.spark.sql.catalyst.util.GenericArrayData;
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil;

/**
 * Tight-loop kernels of the similarity, PQ and dedup operators, each one
 * {@code StaticInvoke} ({@link VectorCalls}); a driver-held matrix travels
 * as a {@link VectorSet}.
 *
 * WHY: Spark's higher-order functions (transform/aggregate/zip_with) are
 * CodegenFallback — every lambda step is an interpreted Catalyst eval with
 * boxing, and the plan node drops out of whole-stage codegen — so a fold
 * over elements, centroids or planes is one whole-array kernel here.
 *
 * BIT-EXACTNESS CONTRACT (the cross-engine determinism rules depend on it):
 * every loop accumulates in ascending index order from the same initial
 * value as the fold it replaces, so each result is the identical IEEE-754
 * value the aggregate(zip_with(...)) expression produced — including the
 * null semantics: zip_with pads a length mismatch with null and a null
 * element poisons the fold, hence the null returns below. Doubles compare
 * as in Spark ({@link SQLOrderingUtil#compareDoubles}): NaN above all and
 * equal to itself, -0.0 equal to 0.0.
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
   * NaN distances also never update (NaN &lt; best is false both ways),
   * nor does a centroid whose length is not subDim. */
  public static ArrayData pqEncode(ArrayData v, VectorSet cbs, int subDim) {
    int[] codes = new int[cbs.ids().length];
    for (int s = 0; s < codes.length; s++) {
      double[][] cb = cbs.members()[s].vecs();
      double[] d = (s + 1) * subDim <= v.numElements()
          ? subDistances(v, cb, s * subDim, subDim) : null;
      double best = Double.POSITIVE_INFINITY;
      codes[s] = -1;
      for (int c = 0; d != null && c < cb.length; c++)
        if (cb[c].length == subDim && d[c] < best) { best = d[c]; codes[s] = c; }
    }
    return new GenericArrayData(codes);
  }

  /** PQ distance table, Pq.qtabFor's nested transform: [s][c] = l2sq of
   * slice(v, s·subDim + 1, subDim) and centroid c of codebook s; null where
   * v is null or the slice (cut at the vector end) differs or holds a null. */
  public static ArrayData adcTable(ArrayData v, VectorSet cbs, int subDim) {
    int n = v == null ? 0 : v.numElements();
    Object[] out = new Object[cbs.ids().length];
    for (int s = 0; s < out.length; s++) {
      double[][] cb = cbs.members()[s].vecs();
      int off = s * subDim, len = off >= n ? 0 : Math.min(subDim, n - off);
      double[] d = subDistances(v, cb, off, len);
      Object[] row = new Object[cb.length];
      for (int c = 0; d != null && c < cb.length; c++) if (cb[c].length == len) row[c] = d[c];
      out[s] = new GenericArrayData(row);
    }
    return new GenericArrayData(out);
  }

  /** Sequential-fold l2sq of v's slice [off, off + len) against each
   * centroid of length len (others stay 0.0), or null when v is null or
   * the slice holds a null. */
  private static double[] subDistances(ArrayData v, double[][] cb, int off, int len) {
    if (v == null) return null;
    for (int j = 0; j < len; j++) if (v.isNullAt(off + j)) return null;
    double[] d = new double[cb.length];
    for (int c = 0; c < cb.length; c++) {
      for (int j = 0; cb[c].length == len && j < len; j++) {
        double x = v.getDouble(off + j) - cb[c][j];
        d[c] += x * x;
      }
    }
    return d;
  }

  /** v's elements, or null when v or an element is null (so is every dot). */
  private static double[] values(ArrayData v) {
    if (v == null) return null;
    for (int i = 0; i < v.numElements(); i++) if (v.isNullAt(i)) return null;
    return v.toDoubleArray();
  }

  /** Sequential-fold dot product over c's length. */
  public static double dotOf(double[] x, double[] c) {
    double s = 0.0;
    for (int j = 0; j < c.length; j++) s += x[j] * c[j];
    return s;
  }

  /** LSH bucket, Similarity.lshBucket's plane fold: bit p iff dot(v, plane
   * p) &gt; 0 (a NaN dot sets it, a null dot does not); null v gives 0. */
  public static long lshBits(ArrayData v, VectorSet planes) {
    double[] x = values(v);
    long bits = 0L;
    for (int p = 0; x != null && p < planes.ids().length; p++) {
      double[] w = planes.vecs()[p];
      if (w.length == x.length && SQLOrderingUtil.compareDoubles(dotOf(x, w), 0.0) > 0)
        bits += 1L << p;
    }
    return bits;
  }

  /** Similarity.cosine of (x, nrm) against each vector of s: 0.0 for a null
   * nrm or a norm product not &gt; 0 (NaN is &gt; 0 and divides), null (in
   * nul) for a null dot. */
  private static void cosines(double[] x, double nrm, boolean nrmNull, VectorSet s,
      double[] cos, boolean[] nul) {
    for (int i = 0; i < cos.length; i++) {
      double prod = nrm * s.norms()[i];
      boolean scored = !nrmNull && SQLOrderingUtil.compareDoubles(prod, 0.0) > 0;
      nul[i] = scored && (x == null || x.length != s.vecs()[i].length);
      cos[i] = scored && !nul[i] ? dotOf(x, s.vecs()[i]) / prod : 0.0;
    }
  }

  /** Indices of the top p of s by (cosine desc, id asc), a null cosine
   * after every non-null one; equal keys keep their order. */
  private static int[] top(double[] x, double nrm, boolean nrmNull, VectorSet s, int p) {
    int n = s.ids().length;
    double[] cos = new double[n];
    boolean[] nul = new boolean[n];
    cosines(x, nrm, nrmNull, s, cos, nul);
    Integer[] idx = new Integer[n];
    for (int i = 0; i < n; i++) idx[i] = i;
    java.util.Comparator<Integer> byCos = (i, j) -> nul[i] != nul[j]
        ? Boolean.compare(nul[i], nul[j])
        : nul[i] ? 0 : SQLOrderingUtil.compareDoubles(cos[j], cos[i]);
    java.util.Arrays.sort(idx, byCos.thenComparingLong(i -> s.ids()[i]));
    int[] top = new int[Math.max(0, Math.min(p, n))];
    for (int i = 0; i < top.length; i++) top[i] = idx[i];
    return top;
  }

  /** The nProbe probe list: ids of the top p centroids by (cosine desc, id
   * asc). The replaced array_sort comparator had no rule for a null cosine
   * (an inconsistent order); here it ranks last. */
  public static ArrayData topCosine(ArrayData v, double nrm, boolean nrmNull,
      VectorSet cents, int p) {
    int[] top = top(values(v), nrm, nrmNull, cents, p);
    long[] ids = new long[top.length];
    for (int i = 0; i < top.length; i++) ids[i] = cents.ids()[top[i]];
    return new GenericArrayData(ids);
  }

  /** Two-level argmax-cosine cell: over the members of the top nProbe
   * groups ({@link #topCosine}'s rule), the largest cosine, then the
   * smallest id, folded from (−Inf, −1) as Similarity's two-level
   * aggregate was; a null cosine never wins. At nProbe ≥ the group count
   * no center is scored, so one group at full probe is the flat argmax
   * (whose strict &gt; differs only for a −Inf cosine at an id below −1). */
  public static long argmaxCosine(ArrayData v, double nrm, boolean nrmNull,
      VectorSet groups, int nProbe) {
    double[] x = values(v);
    int m = groups.ids().length;
    int[] probed = nProbe < m ? top(x, nrm, nrmNull, groups, nProbe) : null;
    double best = Double.NEGATIVE_INFINITY;
    long cell = -1L;
    for (int g = 0; g < (probed == null ? m : probed.length); g++) {
      VectorSet mem = groups.members()[probed == null ? g : probed[g]];
      double[] cos = new double[mem.ids().length];
      boolean[] nul = new boolean[cos.length];
      cosines(x, nrm, nrmNull, mem, cos, nul);
      for (int i = 0; i < cos.length; i++) {
        int c = nul[i] ? -1 : SQLOrderingUtil.compareDoubles(cos[i], best);
        if (c > 0 || (c == 0 && mem.ids()[i] < cell)) { best = cos[i]; cell = mem.ids()[i]; }
      }
    }
    return cell;
  }
}
