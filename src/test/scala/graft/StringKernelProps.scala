package graft

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import graft.expressions.{CodepointPaths, StringKernels, VectorKernels}

/** Property tests: string kernels vs brute-force references / invariants
  * over random ASCII and multi-byte strings. Catches the off-by-one and
  * byte-vs-codepoint classes of bug the fixed fixtures can miss.
  */
object StringKernelProps extends Properties("StringKernels") {

  private val ascii: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '+', '#')))
      .map(_.mkString)
  private val uni: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('é', 'ß', 'Ω', '中', ' ')))
      .map(_.mkString)
  private val shortAscii: Gen[String] = Gen.resize(6, ascii)
  private def u(s: String) = UTF8String.fromString(s)
  private def cps(s: String): Vector[Int] = s.codePoints().toArray.toVector
  private def fromCps(v: Seq[Int]): String =
    v.map(Character.toChars(_).mkString).mkString

  // brute-force non-overlapping count, greedy left-to-right
  private def bruteCount(s: String, p: String): Int =
    if (p.isEmpty) cps(s).length + 1
    else {
      var i = 0; var n = 0
      while (i <= s.length - p.length) {
        if (s.regionMatches(i, p, 0, p.length)) { n += 1; i += p.length }
        else i += 1
      }
      n
    }

  property("countLiteral == greedy brute force") =
    forAll(uni, Gen.resize(3, uni)) { (s, p) =>
      StringKernels.countLiteral(u(s), u(p)) == bruteCount(s, p)
    }

  property("replaceN(-1) == String.replace for non-empty patterns") =
    forAll(ascii, Gen.resize(3, ascii).suchThat(_.nonEmpty), shortAscii) {
      (s, p, r) =>
        StringKernels.replaceN(u(s), u(p), u(r), -1).toString ==
          s.replace(p, r)
    }

  // greedy left-to-right first-n replace (Python str.replace(p, r, n)
  // semantics incl. the empty-pattern interleave) — the reference drives
  // replace through generated pattern corpora (tests/test_text.py:77-129);
  // this is that corpus for the full (string, pattern, repl, n) surface.
  private def bruteReplaceN(s: String, p: String, r: String, n: Int): String =
    if (n == 0) s
    else if (p.isEmpty) {
      val sb = new StringBuilder; var done = 0
      for (c <- cps(s)) {
        if (n < 0 || done < n) { sb ++= r; done += 1 }
        sb ++= fromCps(Seq(c))
      }
      if (n < 0 || done < n) sb ++= r
      sb.toString
    } else {
      val sb = new StringBuilder; var i = 0; var done = 0
      while (i < s.length) {
        if ((n < 0 || done < n) && s.regionMatches(i, p, 0, p.length)) {
          sb ++= r; i += p.length; done += 1
        } else { sb += s(i); i += 1 }
      }
      sb.toString
    }

  property("replaceN(n) == greedy first-n reference on generated triples") =
    forAll(uni, Gen.resize(3, uni), Gen.resize(4, uni), Gen.choose(-1, 6)) {
      (s, p, r, n) =>
        StringKernels.replaceN(u(s), u(p), u(r), n).toString ==
          bruteReplaceN(s, p, r, n)
    }

  // self-replacement corpus: patterns drawn FROM the subject string (the
  // adversarial case for KMP restart logic — overlapping near-matches)
  property("replaceN with patterns sampled from the subject") =
    forAll(uni.suchThat(_.nonEmpty), Gen.choose(0, 8), Gen.choose(1, 3),
        Gen.resize(2, uni), Gen.choose(-1, 4)) { (s, off, len, r, n) =>
      val v = cps(s)
      val p = fromCps(v.slice(off % v.length, off % v.length + len))
      p.isEmpty ||
        StringKernels.replaceN(u(s), u(p), u(r), n).toString ==
          bruteReplaceN(s, p, r, n)
    }

  property("rfindLiteral == max position where sub matches (codepoints)") =
    forAll(uni, Gen.resize(2, uni)) { (s, p) =>
      val v = cps(s); val pv = cps(p)
      val expect = (0 to v.length - pv.length)
        .filter(i => v.slice(i, i + pv.length) == pv)
        .lastOption.getOrElse(-1)
      StringKernels.rfindLiteral(u(s), u(p)) == expect
    }

  property("partitionPart: head + sep + tail reassembles the string") =
    forAll(ascii, Gen.resize(2, ascii).suchThat(_.nonEmpty),
        Gen.oneOf(true, false)) { (s, sep, right) =>
      val parts = (0 to 2).map(i =>
        StringKernels.partitionPart(u(s), u(sep), i, right).toString)
      parts.mkString == s &&
        (parts(1) == sep || (parts(1).isEmpty && !s.contains(sep)))
    }

  property("rsplitArray rejoins to the original; at most n splits") =
    forAll(ascii, Gen.oneOf("+", " ", "ab"), Gen.choose(-1, 5)) { (s, sep, n) =>
      val arr = StringKernels.rsplitArray(u(s), u(sep), n)
      val parts = (0 until arr.numElements())
        .map(i => arr.getUTF8String(i).toString)
      parts.mkString(sep) == s &&
        (n < 0 || parts.length <= n + 1)
    }

  property("sliceCodepoints(a,b,1) == independent codepoint-vector slice") =
    forAll(uni, Gen.choose(-15, 15), Gen.choose(-15, 15)) { (s, a, b) =>
      val v = cps(s); val len = v.length
      val lo = if (a < 0) math.max(len + a, 0) else math.min(a, len)
      val hi = if (b < 0) math.max(len + b, 0) else math.min(b, len)
      StringKernels.sliceCodepoints(u(s), a, b, 1).toString ==
        fromCps(v.slice(lo, hi))
    }

  property("sliceCodepoints(MIN,MIN,-1) reverses codepoints") =
    forAll(uni) { s =>
      StringKernels.sliceCodepoints(u(s), Int.MinValue, Int.MinValue, -1)
        .toString == fromCps(cps(s).reverse)
    }

  property("sliceReplace == s[:b] + r + s[e:] on the codepoint vector") =
    forAll(uni, Gen.choose(-10, 10), Gen.choose(-10, 10), shortAscii) {
      (s, a, b, r) =>
        val v = cps(s); val len = v.length
        val lo = if (a < 0) math.max(len + a, 0) else math.min(a, len)
        val hi0 = if (b < 0) math.max(len + b, 0) else math.min(b, len)
        val hi = math.max(lo, hi0)
        StringKernels.sliceReplace(u(s), a, b, u(r)).toString ==
          fromCps(v.take(lo)) + r + fromCps(v.drop(hi))
    }

  property("zfill pads to width, preserves sign and digits") =
    forAll(shortAscii, Gen.choose(0, 12), Gen.oneOf("", "-", "+")) {
      (body, w, sign) =>
        val s = sign + body
        val z = StringKernels.zfill(u(s), w).toString
        z.length == math.max(s.length, w) &&
          z.replaceFirst("^([+-]?)0*", "$1") ==
            s.replaceFirst("^([+-]?)0*", "$1") ||
          // all-zero bodies collapse differently; just check reassembly
          z.filter(_ != '0') == s.filter(_ != '0')
    }

  property("swapCase is an involution on chars with two-way case") =
    forAll(ascii) { s =>
      StringKernels.swapCase(StringKernels.swapCase(u(s))).toString == s
    }

  property("wrap: every line fits and tokens are preserved") =
    forAll(ascii, Gen.choose(1, 12)) { (s, w) =>
      val lines = StringKernels.wrap(u(s), w).toString.split("\n", -1)
      lines.forall(_.length <= w) &&
        lines.mkString("").replace(" ", "") == s.replace(" ", "")
    }

  property("polyHash in range and equals brute fold") =
    forAll(uni) { s =>
      val h = StringKernels.polyHash(u(s))
      val brute = cps(s).foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
      h == brute && h >= 0 && h < 1000000007L
    }

  // ---- ASCII byte paths vs codepoint paths ----
  //
  // Each kernel with an ASCII fast path must equal its codepoint path on
  // the same input. ASCII strings draw from all 128 code units (control
  // characters such as \x0b and \x1c-\x1f are whitespace to Java, DEL
  // is not) or from alphabets that make each predicate true often; mixed
  // strings put one non-ASCII codepoint at the start, middle or end, so
  // the dispatch is exercised both ways.

  private val asciiAlphabets: Seq[Seq[Char]] = Seq(
    (0 until 128).map(_.toChar),
    ('a' to 'z') ++ ('A' to 'Z'),
    ('0' to '9'),
    " \t\n\u000b\f\r\u001c\u001d\u001e\u001f".toSeq,
    ('a' to 'z') ++ " 1.-".toSeq,
    ('A' to 'Z') ++ " 1.-".toSeq)
  private val asciiAny: Gen[String] = Gen.oneOf(
    for {
      alphabet <- Gen.oneOf(asciiAlphabets)
      cs <- Gen.listOf(Gen.oneOf(alphabet))
    } yield cs.mkString,
    // title-cased words: "Ab Cd1"
    Gen.listOf(Gen.alphaLowerStr.map(_.capitalize)).map(_.mkString(" ")))
  // 2-, 3- and 4-byte codepoints that each meet some predicate: title-case
  // ǅ, superscript ² (digit, not decimal), Arabic-Indic ٣ (decimal), Roman
  // Ⅻ (numeric), no-break space, final-sigma Σ, ß and ﬁ (swap expands)
  private val nonAscii: Seq[String] =
    Seq("é", "ß", "Σ", "ǅ", "²", "٣", "Ⅻ", "\u00a0", "\u2028", "ﬁ", "中", "𝄞")
  private val mixed: Gen[String] = for {
    s <- asciiAny
    c <- Gen.oneOf(nonAscii)
    at <- Gen.oneOf(0, s.length / 2, s.length)
  } yield s.patch(at, c, 0)
  private val text: Gen[String] = Gen.frequency(3 -> asciiAny, 2 -> mixed)

  // the dispatch test reads 8 bytes at a time: vary the start alignment
  // and let the non-ASCII byte fall in a word or in the tail
  property("isAscii == UTF8String.isFullAscii at every alignment") =
    forAll(text, Gen.choose(0, 7)) { (s, pad) =>
      val b = ("x" * pad + s).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val v = UTF8String.fromBytes(b, pad, b.length - pad)
      CodepointPaths.isAscii(v) == v.isFullAscii
    }

  for ((name, kernel, cp) <- CodepointPaths.predicates)
    property(s"$name ASCII path == codepoint path") =
      forAll(text)(s => kernel(u(s)) == cp(u(s)))

  for ((name, kernel, cp) <- CodepointPaths.strings)
    property(s"$name ASCII path == codepoint path") =
      forAll(text)(s => kernel(u(s)) == cp(u(s)))

  property("polyHash ASCII path == codepoint path") = {
    val (_, kernel, cp) = CodepointPaths.polyHash
    forAll(text)(s => kernel(u(s)) == cp(u(s)))
  }

  private val sliceBound: Gen[Int] =
    Gen.frequency(1 -> Gen.const(Int.MinValue), 4 -> Gen.choose(-20, 20))

  property("sliceCodepoints ASCII path == codepoint path") =
    forAll(text, sliceBound, sliceBound,
        Gen.oneOf(-5, -3, -2, -1, 1, 2, 3, 5)) { (s, a, b, step) =>
      StringKernels.sliceCodepoints(u(s), a, b, step) ==
        CodepointPaths.sliceCp(u(s), a, b, step)
    }

  // the needle is a piece of the subject (found) or an independent short
  // string (usually absent, sometimes non-ASCII against an ASCII subject)
  property("rfindLiteral ASCII path == codepoint path") =
    forAll(text, Gen.choose(0, 30), Gen.choose(0, 3), Gen.resize(3, text),
        Gen.oneOf(true, false)) { (s, off, len, other, fromSubject) =>
      val sub = if (fromSubject) s.slice(off, off + len) else other
      StringKernels.rfindLiteral(u(s), u(sub)) ==
        CodepointPaths.rfindCp(u(s), u(sub))
    }

  property("normalize == java.text.Normalizer for every form") =
    forAll(text, Gen.oneOf(java.text.Normalizer.Form.values.toSeq)) { (s, f) =>
      StringKernels.normalize(u(s), f).toString ==
        java.text.Normalizer.normalize(s, f)
    }

  // the per-bit ±1 vote fold simHash30 replaced: bit b is set iff the sum
  // over elements is > 0, a null element votes -1, a null array is 0
  private def simHashFold(h: ArrayData): Long =
    if (h == null) 0L
    else (0 until 30).foldLeft(0L) { (out, b) =>
      val votes = (0 until h.numElements()).foldLeft(0L) { (acc, i) =>
        if (!h.isNullAt(i) && ((h.getLong(i) >> b) & 1L) == 1L) acc + 1
        else acc - 1
      }
      if (votes > 0) out + (1L << b) else out
    }

  // few distinct values make tied votes (sum exactly 0) common
  private val hashArray: Gen[ArrayData] = Gen.frequency(
    1 -> Gen.const(null),
    8 -> Gen.listOf(Gen.frequency(
      1 -> Gen.const(null),
      3 -> Gen.oneOf(0L, 1L, 2L, 3L, 0x3FFFFFFFL, 0x2AAAAAAAL, -1L),
      3 -> Gen.choose(Long.MinValue, Long.MaxValue).map(Long.box)))
      .map(xs => new GenericArrayData(xs.toArray[Any])))

  property("VectorKernels.simHash30 == per-bit vote fold") =
    forAll(hashArray)(h => VectorKernels.simHash30(h) == simHashFold(h))

  // the HashSet fold jaccardLong replaced: distinct common non-null values,
  // plus one when both arrays hold a null, over the RAW sizes
  private def jaccardFold(a: ArrayData, b: ArrayData): Double = {
    val (sa, sb) = (a.numElements(), b.numElements())
    if (sa + sb == 0) 1.0
    else {
      val bs = new java.util.HashSet[java.lang.Long]()
      var bNull = false
      for (i <- 0 until sb)
        if (b.isNullAt(i)) bNull = true else bs.add(b.getLong(i))
      val seen = new java.util.HashSet[java.lang.Long]()
      var aNull = false
      var inter = 0L
      for (i <- 0 until sa)
        if (a.isNullAt(i)) aNull = true
        else if (bs.contains(a.getLong(i)) && seen.add(a.getLong(i))) inter += 1
      if (aNull && bNull) inter += 1
      inter.toDouble / (sa + sb - inter).toDouble
    }
  }

  private val toUnsafe = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    .create(Array[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)))

  // few distinct values make duplicates and common values likely; half the
  // arrays are unsafe (the layout a scan hands the kernel)
  private val longSet: Gen[ArrayData] = for {
    xs <- Gen.listOf(Gen.frequency(
      1 -> Gen.const(null),
      6 -> Gen.choose(-4L, 4L).map(Long.box),
      1 -> Gen.oneOf(Long.MinValue, Long.MaxValue).map(Long.box),
      2 -> Gen.choose(Long.MinValue, Long.MaxValue).map(Long.box)))
    unsafe <- Gen.oneOf(false, true)
  } yield {
    val g = new GenericArrayData(xs.toArray[Any])
    if (unsafe) toUnsafe(org.apache.spark.sql.catalyst.InternalRow(g))
      .getArray(0).copy()
    else g
  }

  property("VectorKernels.jaccardLong == HashSet fold (duplicates, nulls)") =
    forAll(longSet, longSet) { (a, b) =>
      VectorKernels.jaccardLong(a, b) == jaccardFold(a, b)
    }

  // ---- strip corpora (reference tests/test_text.py:145-176 drives strip
  // through curated multi-byte examples; this is the generated analog) ----
  //
  // graft's textStrip/textLStrip/textRStrip lower to Catalyst
  // StringTrim/StringTrimLeft/StringTrimRight with an explicit trim set, so
  // evaluating those expressions directly pins exactly the production path
  // without a SparkSession. The brute-force reference is codepoint-level
  // strip (Python str.strip semantics — the reference's contract).

  import org.apache.spark.sql.catalyst.expressions.{Literal, StringTrim, StringTrimLeft, StringTrimRight}

  // strip-set alphabet: the full Unicode-space default set plus multi-byte
  // non-space codepoints (2-byte é/ß, 3-byte 中/Ω, 4-byte astral 𝄞, and the
  // soft hyphen — invisible but NOT a space) plus ASCII letters/digits
  private val stripAlphabet: Seq[String] =
    graft.functions.GraftFunctions.FletcherStripChars.map(_.toString) ++
      Seq("é", "ß", "Ω", "中", "丮", "­", "𝄞", "a", "0", "-")

  // (subject, stripSet): subjects deliberately mix set members (to build
  // leading/trailing runs) with non-members, so both strip-everything and
  // strip-nothing edges get generated alongside the interesting middles
  private val stripCase: Gen[(String, String)] = for {
    setCps <- Gen.nonEmptyListOf(Gen.oneOf(stripAlphabet))
    subj <- Gen.listOf(Gen.frequency(
      3 -> Gen.oneOf(setCps),
      2 -> Gen.oneOf(Seq("b", "Z", "1", "è", "文", "😀"))))
  } yield (subj.mkString, setCps.distinct.mkString)

  private def bruteStrip(s: String, set: String,
      left: Boolean, right: Boolean): String = {
    val cset = cps(set).toSet
    var v = cps(s)
    if (left) v = v.dropWhile(cset)
    if (right) v = v.reverse.dropWhile(cset).reverse
    fromCps(v)
  }

  private def evalStr(e: org.apache.spark.sql.catalyst.expressions.Expression): String =
    e.eval(null).asInstanceOf[UTF8String].toString

  property("textStrip(chars) == codepoint-level strip on multi-byte sets") =
    forAll(stripCase) { case (s, set) =>
      evalStr(StringTrim(Literal(s), Literal(set))) ==
        bruteStrip(s, set, left = true, right = true)
    }

  property("textLStrip/textRStrip(chars) == one-sided codepoint strip") =
    forAll(stripCase) { case (s, set) =>
      evalStr(StringTrimLeft(Literal(s), Literal(set))) ==
        bruteStrip(s, set, left = true, right = false) &&
      evalStr(StringTrimRight(Literal(s), Literal(set))) ==
        bruteStrip(s, set, left = false, right = true)
    }

  property("textStrip default set strips exactly the Unicode-space set") =
    // same rich non-member alphabet as the custom-set cases: 2-byte é, the
    // invisible-but-not-space soft hyphen, 3-byte 中, 4-byte astral 𝄞/😀 —
    // the default StringTrim path must survive the exact multi-byte edges
    // the custom-set properties were added for
    forAll(Gen.listOf(Gen.frequency(
        3 -> Gen.oneOf(graft.functions.GraftFunctions.FletcherStripChars
          .map(_.toString)),
        2 -> Gen.oneOf(Seq("b", "é", "中", "1", "­", "𝄞", "😀", "ß", "丮"))))
      .map(_.mkString)) { s =>
      val set = graft.functions.GraftFunctions.FletcherStripChars
      evalStr(StringTrim(Literal(s), Literal(set))) ==
        bruteStrip(s, set, left = true, right = true)
    }
}
