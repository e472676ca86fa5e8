package graft.expressions;

import java.util.Arrays;

/**
 * Driver-held vectors for a {@link VectorKernels} call — planes, centroids,
 * centroid groups or PQ codebooks (members: a group's centroids, a
 * subspace's codebook) — passed as an {@code ObjectType} literal. Equality
 * is structural, so value-equal calls canonicalize and share cache entries,
 * and {@link #toString} is short and deterministic for plan dumps.
 */
public record VectorSet(long[] ids, double[][] vecs, double[] norms, VectorSet[] members)
    implements java.io.Serializable {
  @Override public boolean equals(Object o) {
    return o instanceof VectorSet s && Arrays.equals(ids, s.ids)
        && Arrays.deepEquals(vecs, s.vecs) && Arrays.equals(norms, s.norms)
        && Arrays.deepEquals(members, s.members);
  }

  @Override public int hashCode() { return Arrays.deepHashCode(new Object[]{ids, vecs, norms, members}); }

  @Override public String toString() {
    return "VectorSet(" + ids.length + "x" + (vecs.length == 0 ? 0 : vecs[0].length)
        + (members == null ? "" : ", grouped") + ", " + Integer.toHexString(hashCode()) + ")";
  }
}
