package graft.expressions;

import org.apache.spark.sql.catalyst.util.ArrayData;
import org.apache.spark.unsafe.Platform;
import org.apache.spark.unsafe.array.ByteArrayMethods;
import org.apache.spark.unsafe.types.UTF8String;

/**
 * Row-level string kernels behind graft's string functions.
 *
 * Static Java methods so whole-stage-codegen'd Java can call them directly
 * (graft.expressions.StringKernels.xxx(...)). Each implements the semantics
 * of a reference kernel the Spark built-ins can't express (SURVEY.md §4):
 * the reference's Numba kernels in fletcher/algorithms/string.py do the same
 * work per Arrow chunk; here Tungsten hands us one UTF8String per row inside
 * generated code, which is the Spark-native shape of the same loop.
 *
 * BYTE CONTRACT: like the reference's loops over raw Arrow UTF-8 buffers,
 * the per-row kernels read the UTF-8 bytes. countLiteral, replaceN,
 * markerHits and pretokenCount are byte-level for every input; swapCase,
 * caseFold, sliceCodepoints, rfindLiteral, polyHash, tokenHashes, normalize and the nine
 * is* predicates take a byte path when every byte is ASCII
 * ({@link #isAscii}), so an ASCII row
 * never becomes a java.lang.String (one byte is one codepoint, and the
 * character classes come from {@link #ASCII_CLASS}). A row with any
 * non-ASCII byte takes the codepoint path (the package-private *Cp
 * methods), which is also the reference the ASCII paths are
 * property-tested against.
 */
public final class StringKernels {
    private StringKernels() {}

    // ---- per-byte character classes for 0x00-0x7F, built once from the
    // same java.lang.Character predicates the codepoint paths call, so the
    // two paths cannot drift apart ----
    private static final int ALPHA = 1, DIGIT = 1 << 1, ALNUM = 1 << 2,
        SPACE = 1 << 3, UPPER = 1 << 4, LOWER = 1 << 5, NUMERIC = 1 << 6,
        DECIMAL = 1 << 7;
    private static final int[] ASCII_CLASS = new int[128];
    /** XOR masks that swap case / fold to lower case: an ASCII letter's
     *  two cases differ in bit 0x20 only. */
    private static final byte[] SWAP_XOR = new byte[128], FOLD_XOR = new byte[128];
    static {
        for (int c = 0; c < 128; c++) {
            int k = 0;
            if (Character.isLetter(c)) k |= ALPHA;
            if (Character.isDigit(c)) k |= DIGIT;
            if (Character.isLetterOrDigit(c)) k |= ALNUM;
            if (cpIsSpace(c)) k |= SPACE;
            if (cpIsUpperOrTitle(c)) k |= UPPER;
            if (Character.isLowerCase(c)) k |= LOWER;
            if (cpIsNumeric(c)) k |= NUMERIC;
            if (cpIsDecimal(c)) k |= DECIMAL;
            ASCII_CLASS[c] = k;
            SWAP_XOR[c] = (byte) ((k & (UPPER | LOWER)) != 0 ? 0x20 : 0);
            FOLD_XOR[c] = (byte) ((k & UPPER) != 0 ? 0x20 : 0);
        }
    }

    private static boolean cpIsSpace(int cp) {
        return Character.isWhitespace(cp) || Character.isSpaceChar(cp);
    }

    private static boolean cpIsUpperOrTitle(int cp) {
        return Character.isUpperCase(cp) || Character.isTitleCase(cp);
    }

    private static boolean cpIsNumeric(int cp) {
        int t = Character.getType(cp);
        return Character.isDigit(cp) || t == Character.LETTER_NUMBER
            || t == Character.OTHER_NUMBER;
    }

    private static boolean cpIsDecimal(int cp) {
        return Character.getType(cp) == Character.DECIMAL_DIGIT_NUMBER;
    }

    /**
     * Every byte < 0x80: the answer of {@link UTF8String#isFullAscii()},
     * read 8 bytes at a time. isFullAscii() reads one byte per call, which
     * on a 256-byte row costs more than decoding the row to a String.
     */
    static boolean isAscii(UTF8String str) {
        if (!Platform.unaligned()) return str.isFullAscii();
        Object base = str.getBaseObject();
        long at = str.getBaseOffset(), end = at + str.numBytes(), bits = 0;
        for (; at + 8 <= end; at += 8) bits |= Platform.getLong(base, at);
        for (; at < end; at++) bits |= Platform.getByte(base, at);
        return (bits & 0x8080808080808080L) == 0;
    }

    /** An all-ASCII string with every byte XORed with its mask. */
    private static UTF8String xorAscii(UTF8String str, byte[] mask) {
        // a copy: getBytes() may return the string's own backing array
        byte[] b = new byte[str.numBytes()];
        str.writeToMemory(b, Platform.BYTE_ARRAY_OFFSET);
        for (int i = 0; i < b.length; i++) b[i] ^= mask[b[i]];
        return UTF8String.fromBytes(b);
    }

    /** Class bits of byte i of an all-ASCII string. */
    private static int asciiClass(UTF8String str, int i) {
        return ASCII_CLASS[str.getByte(i)];
    }

    /** Non-empty and every byte of an all-ASCII string carries bit. */
    private static boolean allAscii(UTF8String str, int bit) {
        int n = str.numBytes(), all = bit;
        for (int i = 0; i < n; i++) all &= asciiClass(str, i);
        return n > 0 && all != 0;
    }

    /** KMP failure table over pattern bytes (fail[i] = length of the longest
     *  proper border of p[0..i]). O(m) build, shared by count/replace. */
    private static int[] kmpFailure(byte[] p) {
        int[] fail = new int[p.length];
        int k = 0;
        for (int i = 1; i < p.length; i++) {
            while (k > 0 && p[i] != p[k]) k = fail[k - 1];
            if (p[i] == p[k]) k++;
            fail[i] = k;
        }
        return fail;
    }

    /**
     * Count non-overlapping literal occurrences; empty pattern counts
     * len+1 (Python str.count semantics; reference string.py:163-237).
     * KMP over raw UTF-8 bytes (self-synchronizing, so byte-level matching
     * is correct for literal patterns): O(n+m) worst case — adversarial
     * needles like "aaa…ab" (the reference's benchmark workload,
     * benchmarks/text.py:18) stay linear.
     */
    public static int countLiteral(UTF8String str, UTF8String pat) {
        if (pat.numBytes() == 0) {
            return str.numChars() + 1;
        }
        byte[] s = str.getBytes();
        byte[] p = pat.getBytes();
        int[] fail = kmpFailure(p);
        int count = 0, k = 0;
        for (int i = 0; i < s.length; i++) {
            while (k > 0 && s[i] != p[k]) k = fail[k - 1];
            if (s[i] == p[k]) k++;
            if (k == p.length) { count++; k = 0; }  // non-overlapping: restart
        }
        return count;
    }

    /** Tiny grow-on-demand byte buffer for kernels building UTF-8 output
     *  directly (skips the UTF8String→String→UTF8String round-trip). */
    private static byte[] ensure(byte[] buf, int len, int need) {
        if (len + need <= buf.length) return buf;
        int cap = Math.max(buf.length * 2, len + need);
        return java.util.Arrays.copyOf(buf, cap);
    }

    /**
     * Replace the first n non-overlapping occurrences (n < 0 = all).
     * Empty pattern interleaves the replacement (Python str.replace
     * semantics; reference string.py:331-393 empty-pattern kernel).
     * Pure byte-level: KMP match over UTF-8 bytes (self-synchronizing, so
     * literal byte matches are codepoint matches) and output assembled as
     * bytes — no String materialization on the hot path.
     */
    public static UTF8String replaceN(UTF8String str, UTF8String pat,
                                      UTF8String repl, int n) {
        if (n == 0) return str;
        byte[] s = str.getBytes();
        byte[] p = pat.getBytes();
        byte[] r = repl.getBytes();
        int done = 0;
        if (p.length == 0) {
            // interleave: repl before every codepoint and at the end
            byte[] out = new byte[s.length + r.length * (str.numChars() + 1)];
            int o = 0, i = 0;
            while (i < s.length) {
                if (n < 0 || done < n) {
                    System.arraycopy(r, 0, out, o, r.length);
                    o += r.length; done++;
                }
                int w = UTF8String.numBytesForFirstByte(s[i]);
                System.arraycopy(s, i, out, o, w);
                o += w; i += w;
            }
            if (n < 0 || done < n) {
                System.arraycopy(r, 0, out, o, r.length);
                o += r.length;
            }
            return UTF8String.fromBytes(java.util.Arrays.copyOf(out, o));
        }
        int[] fail = kmpFailure(p);
        byte[] out = new byte[s.length + 16];
        int o = 0, k = 0, copied = 0;
        for (int i = 0; i < s.length && (n < 0 || done < n); i++) {
            while (k > 0 && s[i] != p[k]) k = fail[k - 1];
            if (s[i] == p[k]) k++;
            if (k == p.length) {
                int head = i + 1 - p.length - copied;  // unmatched prefix
                out = ensure(out, o, head + r.length);
                System.arraycopy(s, copied, out, o, head);
                o += head;
                System.arraycopy(r, 0, out, o, r.length);
                o += r.length;
                copied = i + 1;
                k = 0;  // non-overlapping
                done++;
            }
        }
        int tail = s.length - copied;
        out = ensure(out, o, tail);
        System.arraycopy(s, copied, out, o, tail);
        o += tail;
        return UTF8String.fromBytes(java.util.Arrays.copyOf(out, o));
    }

    /**
     * Python slice semantics by codepoint: s[start:end:step], negative
     * indices and negative step supported (reference string.py:727-908).
     * start/end use Integer.MIN_VALUE as "not given".
     */
    public static UTF8String sliceCodepoints(UTF8String str, int start,
                                             int end, int step) {
        if (step == 0) throw new IllegalArgumentException("slice step cannot be zero");
        if (!isAscii(str)) return sliceCodepointsCp(str, start, end, step);
        int len = str.numBytes();
        long b = sliceStart(len, start, step), e = sliceEnd(len, end, step);
        long n = step > 0 ? (e - b + step - 1) / step : (b - e - step - 1) / -step;
        byte[] out = new byte[(int) Math.max(n, 0)];
        for (int j = 0; j < out.length; j++) out[j] = str.getByte((int) (b + (long) j * step));
        return UTF8String.fromBytes(out);
    }

    /** First index a Python slice visits over len items. */
    private static long sliceStart(int len, int start, int step) {
        if (step > 0) return start == Integer.MIN_VALUE ? 0 : (start < 0 ? Math.max(len + start, 0) : Math.min(start, len));
        return start == Integer.MIN_VALUE ? len - 1 : (start < 0 ? Math.max(len + start, -1) : Math.min(start, len - 1));
    }

    /** Exclusive stop index of a Python slice over len items. */
    private static long sliceEnd(int len, int end, int step) {
        if (step > 0) return end == Integer.MIN_VALUE ? len : (end < 0 ? Math.max(len + end, 0) : Math.min(end, len));
        return end == Integer.MIN_VALUE ? -1 : (end < 0 ? Math.max(len + end, -1) : Math.min(end, len - 1));
    }

    /** Codepoint path of {@link #sliceCodepoints}; step != 0. */
    static UTF8String sliceCodepointsCp(UTF8String str, int start, int end,
                                        int step) {
        String s = str.toString();
        int[] cps = s.codePoints().toArray();
        int len = cps.length;
        long b = sliceStart(len, start, step), e = sliceEnd(len, end, step);
        StringBuilder out = new StringBuilder();
        if (step > 0) {
            for (long i = b; i < e; i += step) out.appendCodePoint(cps[(int) i]);
        } else {
            for (long i = b; i > e; i += step) out.appendCodePoint(cps[(int) i]);
        }
        return UTF8String.fromString(out.toString());
    }

    // ---- Unicode class predicates (Python str.is* semantics; the reference
    // delegates to Arrow utf8proc, string_mixin.py:38-91). Empty string →
    // false for all, matching Python/pandas. Each public predicate reads an
    // all-ASCII string through ASCII_CLASS and otherwise takes its *Cp
    // codepoint path. ----

    public static boolean isAlpha(UTF8String str) {
        return isAscii(str) ? allAscii(str, ALPHA) : isAlphaCp(str);
    }

    static boolean isAlphaCp(UTF8String str) {
        String s = str.toString();
        if (s.isEmpty()) return false;
        return s.codePoints().allMatch(Character::isLetter);
    }

    public static boolean isDigit(UTF8String str) {
        return isAscii(str) ? allAscii(str, DIGIT) : isDigitCp(str);
    }

    static boolean isDigitCp(UTF8String str) {
        String s = str.toString();
        if (s.isEmpty()) return false;
        return s.codePoints().allMatch(Character::isDigit);
    }

    public static boolean isAlnum(UTF8String str) {
        return isAscii(str) ? allAscii(str, ALNUM) : isAlnumCp(str);
    }

    static boolean isAlnumCp(UTF8String str) {
        String s = str.toString();
        if (s.isEmpty()) return false;
        return s.codePoints().allMatch(Character::isLetterOrDigit);
    }

    public static boolean isSpace(UTF8String str) {
        return isAscii(str) ? allAscii(str, SPACE) : isSpaceCp(str);
    }

    static boolean isSpaceCp(UTF8String str) {
        String s = str.toString();
        if (s.isEmpty()) return false;
        return s.codePoints().allMatch(StringKernels::cpIsSpace);
    }

    /** Python islower/isupper of an all-ASCII string: no character of the
     *  opposite case and at least one of the wanted case. */
    private static boolean isOneCaseAscii(UTF8String str, int want, int opposite) {
        int any = 0;
        for (int i = 0, n = str.numBytes(); i < n; i++) any |= asciiClass(str, i);
        return (any & opposite) == 0 && (any & want) != 0;
    }

    public static boolean isLower(UTF8String str) {
        return isAscii(str) ? isOneCaseAscii(str, LOWER, UPPER) : isLowerCp(str);
    }

    static boolean isLowerCp(UTF8String str) {
        String s = str.toString();
        boolean cased = false;
        for (int i = 0; i < s.length();) {
            int cp = s.codePointAt(i);
            if (Character.isUpperCase(cp) || Character.isTitleCase(cp)) return false;
            if (Character.isLowerCase(cp)) cased = true;
            i += Character.charCount(cp);
        }
        return cased;
    }

    public static boolean isUpper(UTF8String str) {
        // ASCII has no title-case letter, so UPPER alone is the wanted case
        return isAscii(str) ? isOneCaseAscii(str, UPPER, LOWER) : isUpperCp(str);
    }

    static boolean isUpperCp(UTF8String str) {
        String s = str.toString();
        boolean cased = false;
        for (int i = 0; i < s.length();) {
            int cp = s.codePointAt(i);
            if (Character.isLowerCase(cp) || Character.isTitleCase(cp)) return false;
            if (Character.isUpperCase(cp)) cased = true;
            i += Character.charCount(cp);
        }
        return cased;
    }

    /** Python istitle: cased runs must start upper/title then lower. */
    public static boolean isTitle(UTF8String str) {
        if (!isAscii(str)) return isTitleCp(str);
        boolean cased = false, prevCased = false;
        for (int i = 0, n = str.numBytes(); i < n; i++) {
            int k = asciiClass(str, i);
            if ((k & UPPER) != 0) {
                if (prevCased) return false;
                cased = true; prevCased = true;
            } else if ((k & LOWER) != 0) {
                if (!prevCased) return false;
                cased = true; prevCased = true;
            } else {
                prevCased = false;
            }
        }
        return cased;
    }

    static boolean isTitleCp(UTF8String str) {
        String s = str.toString();
        boolean cased = false, prevCased = false;
        for (int i = 0; i < s.length();) {
            int cp = s.codePointAt(i);
            boolean up = Character.isUpperCase(cp) || Character.isTitleCase(cp);
            boolean lo = Character.isLowerCase(cp);
            if (up) {
                if (prevCased) return false;
                cased = true; prevCased = true;
            } else if (lo) {
                if (!prevCased) return false;
                cased = true; prevCased = true;
            } else {
                prevCased = false;
            }
            i += Character.charCount(cp);
        }
        return cased;
    }

    /** Python isnumeric: digits + numeric category (Nl, No). */
    public static boolean isNumeric(UTF8String str) {
        return isAscii(str) ? allAscii(str, NUMERIC) : isNumericCp(str);
    }

    static boolean isNumericCp(UTF8String str) {
        String s = str.toString();
        if (s.isEmpty()) return false;
        return s.codePoints().allMatch(StringKernels::cpIsNumeric);
    }

    /** Python isdecimal: Nd only. */
    public static boolean isDecimal(UTF8String str) {
        return isAscii(str) ? allAscii(str, DECIMAL) : isDecimalCp(str);
    }

    static boolean isDecimalCp(UTF8String str) {
        String s = str.toString();
        if (s.isEmpty()) return false;
        return s.codePoints().allMatch(StringKernels::cpIsDecimal);
    }

    /**
     * Unicode case folding (Python str.casefold flavor). The upper→lower
     * round-trip handles the full-fold expansions (ß→SS→ss) that plain
     * toLowerCase misses; on ASCII it is plain lower-casing (by table:
     * UTF8String.toLowerCaseAscii() calls a boxed Character function per
     * byte and measured 3x slower on 256-byte rows).
     */
    public static UTF8String caseFold(UTF8String str) {
        return isAscii(str) ? xorAscii(str, FOLD_XOR) : caseFoldCp(str);
    }

    static UTF8String caseFoldCp(UTF8String str) {
        String s = str.toString();
        return UTF8String.fromString(
            s.toUpperCase(java.util.Locale.ROOT).toLowerCase(java.util.Locale.ROOT));
    }

    /** Unicode normalization via java.text.Normalizer (NFC/NFD/NFKC/NFKD).
     *  ASCII is invariant under all four forms, so it is returned as is. */
    public static UTF8String normalize(UTF8String str,
                                       java.text.Normalizer.Form form) {
        if (isAscii(str)) return str;
        return UTF8String.fromString(
            java.text.Normalizer.normalize(str.toString(), form));
    }

    /**
     * Pandas str.zfill: left-pad with '0', keeping a leading sign in place.
     */
    public static UTF8String zfill(UTF8String str, int width) {
        String s = str.toString();
        if (s.length() >= width) return str;
        boolean signed = !s.isEmpty() && (s.charAt(0) == '-' || s.charAt(0) == '+');
        StringBuilder out = new StringBuilder(width);
        int padLen = width - s.length();
        if (signed) out.append(s.charAt(0));
        for (int i = 0; i < padLen; i++) out.append('0');
        out.append(signed ? s.substring(1) : s);
        return UTF8String.fromString(out.toString());
    }

    /**
     * Greedy word-wrap at width (pandas str.wrap defaults: collapse runs of
     * whitespace between words, break words longer than width), newline-joined.
     */
    public static UTF8String wrap(UTF8String str, int width) {
        String[] words = str.toString().trim().split("\\s+");
        StringBuilder out = new StringBuilder();
        int lineLen = 0;
        for (String w : words) {
            if (w.isEmpty()) continue;
            while (w.length() > width) {
                int room = width - lineLen - (lineLen > 0 ? 1 : 0);
                if (room <= 0) { out.append('\n'); lineLen = 0; room = width; }
                else if (lineLen > 0) { out.append(' '); lineLen++; }
                out.append(w, 0, Math.min(room, w.length()));
                lineLen += Math.min(room, w.length());
                w = w.substring(Math.min(room, w.length()));
                if (!w.isEmpty()) { out.append('\n'); lineLen = 0; }
            }
            if (w.isEmpty()) continue;
            if (lineLen == 0) { out.append(w); lineLen = w.length(); }
            else if (lineLen + 1 + w.length() <= width) {
                out.append(' ').append(w); lineLen += 1 + w.length();
            } else { out.append('\n').append(w); lineLen = w.length(); }
        }
        return UTF8String.fromString(out.toString());
    }

    /**
     * Python str.rfind: 0-based codepoint index of the LAST occurrence of
     * sub, -1 if absent; empty sub finds at len (reference
     * tests/test_text.py:605 — rindex shares these semantics).
     */
    public static int rfindLiteral(UTF8String str, UTF8String sub) {
        if (!isAscii(str)) return rfindLiteralCp(str, sub);
        // byte index == codepoint index; a non-ASCII sub has a byte >= 0x80
        // and so never matches
        int m = sub.numBytes();
        if (m == 0) return str.numBytes();
        byte first = sub.getByte(0);
        for (int i = str.numBytes() - m; i >= 0; i--) {
            if (str.getByte(i) != first) continue;
            int j = 1;
            while (j < m && str.getByte(i + j) == sub.getByte(j)) j++;
            if (j == m) return i;
        }
        return -1;
    }

    static int rfindLiteralCp(UTF8String str, UTF8String sub) {
        String s = str.toString();
        String p = sub.toString();
        int idx = s.lastIndexOf(p);
        if (idx < 0) return -1;
        return s.codePointCount(0, idx);
    }

    /**
     * One element of Python partition/rpartition(sep): idx 0 = head,
     * 1 = sep-if-found, 2 = tail. fromRight splits at the LAST occurrence.
     * Not-found convention matches Python: partition → (s, '', ''),
     * rpartition → ('', '', s). (reference tests/test_text.py:625)
     */
    public static UTF8String partitionPart(UTF8String str, UTF8String sep,
                                           int idx, boolean fromRight) {
        String s = str.toString();
        String p = sep.toString();
        int at = fromRight ? s.lastIndexOf(p) : s.indexOf(p);
        String out;
        if (at < 0) {
            if (fromRight) out = idx == 2 ? s : "";
            else out = idx == 0 ? s : "";
        } else {
            out = idx == 0 ? s.substring(0, at)
                : idx == 1 ? p
                : s.substring(at + p.length());
        }
        return UTF8String.fromString(out);
    }

    /**
     * Python str.rsplit(sep, maxsplit): at most n splits taken from the
     * RIGHT (n < 0 = unlimited, equal to split). Literal separator.
     * (reference tests/test_text.py:693)
     */
    public static org.apache.spark.sql.catalyst.util.GenericArrayData rsplitArray(
            UTF8String str, UTF8String sep, int n) {
        String s = str.toString();
        String p = sep.toString();
        java.util.ArrayList<UTF8String> parts = new java.util.ArrayList<>();
        int end = s.length(), done = 0;
        while (n < 0 || done < n) {
            int at = s.lastIndexOf(p, end - p.length());
            if (at < 0 || p.isEmpty()) break;
            parts.add(UTF8String.fromString(s.substring(at + p.length(), end)));
            end = at;
            done++;
        }
        parts.add(UTF8String.fromString(s.substring(0, end)));
        java.util.Collections.reverse(parts);
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(
            parts.toArray());
    }

    /**
     * Pandas str.slice_replace(start, stop, repl) = s[:start] + repl +
     * s[stop:] with Python codepoint slice boundaries (negatives clamp;
     * Integer.MIN_VALUE = "not given" → 0 / len).
     * (reference tests/test_text.py:668)
     */
    public static UTF8String sliceReplace(UTF8String str, int start, int stop,
                                          UTF8String repl) {
        String s = str.toString();
        int len = s.codePointCount(0, s.length());
        int b = start == Integer.MIN_VALUE ? 0
            : (start < 0 ? Math.max(len + start, 0) : Math.min(start, len));
        int e = stop == Integer.MIN_VALUE ? len
            : (stop < 0 ? Math.max(len + stop, 0) : Math.min(stop, len));
        if (e < b) e = b;  // Python: s[:b] + repl + s[e:] with e>=b floor
        int bOff = s.offsetByCodePoints(0, b);
        int eOff = s.offsetByCodePoints(0, e);
        return UTF8String.fromString(
            s.substring(0, bOff) + repl.toString() + s.substring(eOff));
    }

    /**
     * Python str.swapcase: case swap (upper/title → lower, lower → upper),
     * including one-to-many special mappings (ß→SS, ﬁ→FI) via String-level
     * case conversion per codepoint. (reference tests/test_text.py:773)
     */
    public static UTF8String swapCase(UTF8String str) {
        return isAscii(str) ? xorAscii(str, SWAP_XOR) : swapCaseCp(str);
    }

    static UTF8String swapCaseCp(UTF8String str) {
        String s = str.toString();
        StringBuilder out = new StringBuilder(s.length());
        for (int i = 0; i < s.length();) {
            int cp = s.codePointAt(i);
            String one = new String(Character.toChars(cp));
            if (Character.isUpperCase(cp) || Character.isTitleCase(cp)) {
                out.append(one.toLowerCase(java.util.Locale.ROOT));
            } else if (Character.isLowerCase(cp)) {
                out.append(one.toUpperCase(java.util.Locale.ROOT));
            } else {
                out.append(one);
            }
            i += Character.charCount(cp);
        }
        return UTF8String.fromString(out.toString());
    }

    /**
     * Polynomial rolling hash over codepoints: h = fold(h*31 + cp) mod 1e9+7.
     * Matches DuckDB `list_reduce(list_prepend(0, [unicode(c) ...]),
     * (acc,c) -> (acc*31+c) % 1000000007)` exactly — the cross-engine
     * document fingerprint primitive (also the MinHash base hash).
     */
    public static final long POLY_MOD = 1_000_000_007L;

    public static long polyHash(UTF8String str) {
        if (!isAscii(str)) return polyHashCp(str);
        // reducing every 6 steps gives the same residue as every step: from
        // h < POLY_MOD < 2^30, six steps of h*31 + byte stay below 2^60
        long h = 0;
        for (int i = 0, n = str.numBytes(); i < n;) {
            for (int end = Math.min(n, i + 6); i < end; i++) h = h * 31 + str.getByte(i);
            h %= POLY_MOD;
        }
        return h;
    }

    static long polyHashCp(UTF8String str) {
        String s = str.toString();
        long h = 0;
        for (int i = 0; i < s.length();) {
            int cp = s.codePointAt(i);
            h = (h * 31 + cp) % POLY_MOD;
            i += Character.charCount(cp);
        }
        return h;
    }

    /**
     * The polyHash of each token of {@code split(str, " ")}: the pieces
     * between 0x20 bytes, empty ones included, so n spaces give n + 1
     * hashes (tab, newline and NBSP do not split). A non-ASCII row splits
     * its decoded String, as split does.
     */
    public static ArrayData tokenHashes(UTF8String str) {
        if (!isAscii(str)) {
            String[] toks = str.toString().split(" ", -1);
            long[] out = new long[toks.length];
            for (int i = 0; i < toks.length; i++) out[i] = polyHashCp(UTF8String.fromString(toks[i]));
            return new org.apache.spark.sql.catalyst.util.GenericArrayData(out);
        }
        int n = str.numBytes(), t = 0;
        for (int i = 0; i < n; i++) if (str.getByte(i) == ' ') t++;
        long[] out = new long[t + 1];
        t = 0;
        for (int i = 0; i < n; i++) {
            byte b = str.getByte(i);
            if (b == ' ') t++;
            else out[t] = (out[t] * 31 + b) % POLY_MOD;
        }
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(out);
    }

    // ---- token and pre-token counting for the text-quality gates: one
    // pass per row, counting in place of materializing filtered token
    // arrays or regex match arrays ----

    /**
     * Byte-keyed table from a token to the bitmask of the marker sets that
     * hold it (bit i = set i, so at most 32 sets). Open addressing over the
     * tokens' UTF-8 bytes, compared byte for byte as {@code isin} compares
     * strings: case-sensitive, and a token in several sets ("la" is a
     * Spanish and a French marker) carries several bits. A token longer than
     * the longest marker is rejected on its length alone, which is most
     * tokens of running text.
     */
    public static final class MarkerTable implements java.io.Serializable {
        private final byte[][] keys;
        private final int[] masks;
        private final int maxLen;

        public MarkerTable(String[][] sets) {
            if (sets.length > 32) throw new IllegalArgumentException("at most 32 marker sets");
            int n = 0, longest = -1;
            for (String[] set : sets) n += set.length;
            int cap = Integer.highestOneBit(Math.max(4, 4 * n - 1)) << 1;
            keys = new byte[cap][];
            masks = new int[cap];
            for (int i = 0; i < sets.length; i++) {
                for (String m : sets[i]) {
                    byte[] k = m.getBytes(java.nio.charset.StandardCharsets.UTF_8);
                    int slot = slot(k, Platform.BYTE_ARRAY_OFFSET, k.length);
                    keys[slot] = k;
                    masks[slot] |= 1 << i;
                    longest = Math.max(longest, k.length);
                }
            }
            maxLen = longest;
        }

        /** Slot holding these bytes, or the empty slot where they belong. */
        private int slot(Object base, long at, int len) {
            int h = len;
            for (int i = 0; i < len; i++) h = h * 31 + Platform.getByte(base, at + i);
            int mask = keys.length - 1;
            for (int s = (h * 0x9E3779B9) >>> 16 & mask; ; s = (s + 1) & mask) {
                byte[] k = keys[s];
                if (k == null || (k.length == len && ByteArrayMethods.arrayEquals(
                        k, Platform.BYTE_ARRAY_OFFSET, base, at, len))) return s;
            }
        }

        /** Bitmask of the sets holding this token; 0 for none. */
        int lookup(UTF8String tok) {
            int len = tok.numBytes();
            return len > maxLen ? 0 : masks[slot(tok.getBaseObject(), tok.getBaseOffset(), len)];
        }
    }

    /**
     * Marker hits of one token array, every set of the table in one pass:
     * counts[i] = the number of elements in set i, with multiplicity. Null
     * elements are never counted. counts.length is the table's set count.
     */
    public static void markerHits(ArrayData toks, MarkerTable table, int[] counts) {
        java.util.Arrays.fill(counts, 0);
        for (int i = 0, n = toks.numElements(); i < n; i++) {
            if (toks.isNullAt(i)) continue;
            for (int m = table.lookup(toks.getUTF8String(i)); m != 0; m &= m - 1) {
                counts[Integer.numberOfTrailingZeros(m)]++;
            }
        }
    }

    /** Index of the first largest count: earlier sets win ties. */
    public static int firstMax(int[] counts) {
        int best = 0;
        for (int i = 1; i < counts.length; i++) if (counts[i] > counts[best]) best = i;
        return best;
    }

    /** Pre-token class of each byte: 0 the space byte, 1 an ASCII letter,
     *  2 an ASCII digit, 3 anything else (every byte >= 0x80 included). */
    private static final byte[] PRETOKEN_CLASS = new byte[256];
    static {
        for (int b = 0; b < 256; b++) {
            PRETOKEN_CLASS[b] = (byte) (b == ' ' ? 0
                : (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z') ? 1
                : b >= '0' && b <= '9' ? 2 : 3);
        }
    }

    /**
     * The number of matches of {@code [A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+}: the
     * maximal runs of ASCII letters, of ASCII digits, or of other non-space
     * bytes, read off the UTF-8 bytes in one pass. A non-ASCII codepoint
     * (and any invalid byte, which decodes to U+FFFD) falls in the third
     * class byte for byte, so the runs are those the regex finds over the
     * decoded string.
     */
    public static int pretokenCount(UTF8String str) {
        Object base = str.getBaseObject();
        long at = str.getBaseOffset(), end = at + str.numBytes();
        int n = 0, prev = 0;
        for (; at < end; at++) {
            int c = PRETOKEN_CLASS[Platform.getByte(base, at) & 0xFF];
            if (c != prev && c != 0) n++;
            prev = c;
        }
        return n;
    }

    /**
     * DEFLATE-compressed byte length of the string's UTF-8 bytes at the
     * given level — the incompressibility quality signal (natural text
     * compresses ~3-4x; boilerplate/repetition far more; gibberish/random
     * hardly at all). The Deflater is thread-local-reused: codegen calls
     * this once per row and per-row allocation of the native zlib stream
     * would dominate the kernel.
     *
     * Determinism: fixed level + default strategy on the JDK's bundled
     * zlib — stable within a JVM/cluster (every executor ships the same
     * JDK), which is what the partitioning-invariance contract needs; NOT
     * pinned across zlib versions, which is why this signal is spec-pinned
     * rather than DuckDB-oracled.
     */
    public static int deflateLen(UTF8String str, int level) {
        java.util.zip.Deflater d = DEFLATERS.get();
        d.reset();
        d.setLevel(level);
        byte[] in = str.getBytes();
        d.setInput(in);
        d.finish();
        // fixed thread-local scratch: output bytes are only COUNTED, so the
        // loop drains any size through one reused buffer — a per-row
        // allocation here would defeat the point of reusing the Deflater
        byte[] buf = DEFLATE_SCRATCH.get();
        int total = 0;
        // NB: the first deflate() after setLevel() returns 0 (it flushes the
        // level change) — loop on finished(), never on "returned 0".
        while (!d.finished()) {
            total += d.deflate(buf);
        }
        return total;
    }

    private static final ThreadLocal<java.util.zip.Deflater> DEFLATERS =
        ThreadLocal.withInitial(() -> new java.util.zip.Deflater());

    private static final ThreadLocal<byte[]> DEFLATE_SCRATCH =
        ThreadLocal.withInitial(() -> new byte[1 << 16]);
}
