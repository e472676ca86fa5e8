package graft.expressions;

import org.apache.spark.unsafe.types.UTF8String;

/**
 * A USER-authored kernel library — the worked example of promoting an
 * element-wise string kernel from the interpreted
 * {@code UdfSurface.applyBinaryStr} lambda surface to a static method that
 * whole-stage codegen can call directly.
 *
 * This mirrors the reference's jit pipeline end to end: there, a user writes
 * a plain-Python function over byte views and {@code apply_binary_str}
 * numba-compiles it against raw Arrow buffers
 * (reference fletcher/algorithms/string.py:1046-1119, jitclass harness
 * string_array.py:48-171); here, the same function body becomes a static
 * Java method over zero-copy {@link UTF8String}, and one Spark
 * {@code StaticInvoke} ({@code graft.functions.UdfSurface.prefixLength})
 * splices a call to it into the generated row loop. Both engines end at the same place: the
 * user's scalar logic inlined into compiled columnar code, with null
 * handling supplied by the harness, not the kernel.
 *
 * The kernel chosen is the reference test-suite's own worked example,
 * {@code prefix_length} (reference tests/test_text.py:967-984): the length
 * in BYTES of the longest common prefix of two UTF-8 strings — byte-wise
 * because the reference's numba kernel compares the raw UTF-8 byte views
 * it is handed, not decoded codepoints.
 */
public final class UserKernels {
    private UserKernels() {}

    /** Byte-wise longest-common-prefix length (reference
     * tests/test_text.py:967-984 {@code prefix_length}). Zero-copy: walks
     * the two Tungsten byte regions directly, no String materialization. */
    public static int prefixLength(UTF8String a, UTF8String b) {
        int n = Math.min(a.numBytes(), b.numBytes());
        int i = 0;
        while (i < n && a.getByte(i) == b.getByte(i)) {
            i++;
        }
        return i;
    }
}
