package graft

import org.apache.spark.sql.functions._
import graft.expressions.TextExpressions._

/** Pins the custom Expressions' Python/Unicode edge semantics against known
  * values (mirrors reference tests/test_text.py edge corpus, FIXTURES.md §B).
  */
class StringExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  private def one(s: String, c: org.apache.spark.sql.Column): Any =
    Seq(s).toDF("s").select(c).head.get(0)

  test("textCount: non-overlapping, empty pattern = len+1") {
    assert(one("aaaa", textCount($"s", "aa")) === 2)
    assert(one("abcabc", textCount($"s", "abc")) === 2)
    assert(one("abc", textCount($"s", "")) === 4)
    assert(one("", textCount($"s", "x")) === 0)
    assert(one("héllo héllo", textCount($"s", "héllo")) === 2)
  }

  test("textReplaceN: bounded n, n=-1 all, empty-pattern interleave") {
    assert(one("aaa", textReplaceN($"s", "a", "b", 1)) === "baa")
    assert(one("aaa", textReplaceN($"s", "a", "b", 2)) === "bba")
    assert(one("aaa", textReplaceN($"s", "a", "b", -1)) === "bbb")
    assert(one("aaa", textReplaceN($"s", "a", "b", 0)) === "aaa")
    // Python: 'abc'.replace('', '-') == '-a-b-c-'
    assert(one("abc", textReplaceN($"s", "", "-", -1)) === "-a-b-c-")
    assert(one("abc", textReplaceN($"s", "", "-", 2)) === "-a-bc")
    // non-overlapping: 'aaaa'.replace('aa','b') == 'bb'
    assert(one("aaaa", textReplaceN($"s", "aa", "b", -1)) === "bb")
  }

  test("textSlice matches Python slicing incl. negatives and step") {
    val s = "abcdefgh"
    assert(one(s, textSlice($"s", 2, 5)) === "cde")
    assert(one(s, textSlice($"s", end = -3)) === "abcde")
    assert(one(s, textSlice($"s", -3)) === "fgh")
    assert(one(s, textSlice($"s", 1, -1)) === "bcdefg")
    assert(one(s, textSlice($"s", 0, Int.MinValue, 2)) === "aceg")
    assert(one(s, textSlice($"s", Int.MinValue, Int.MinValue, -1)) === "hgfedcba")
    assert(one(s, textSlice($"s", 6, 1, -2)) === "gec")
    assert(one(s, textSlice($"s", 100, 200)) === "")
    assert(one(s, textSlice($"s", -100, 3)) === "abc")
    // codepoint-correct on multi-byte
    assert(one("héllö", textSlice($"s", 1, 4)) === "éll")
    assert(one("🙈ab🙉", textSlice($"s", Int.MinValue, Int.MinValue, -1)) === "🙉ba🙈")
  }

  test("utf8Is predicates: Python str.is* semantics") {
    assert(one("abc", utf8Is($"s", "alpha")) === true)
    assert(one("abc1", utf8Is($"s", "alpha")) === false)
    assert(one("", utf8Is($"s", "alpha")) === false)
    assert(one("Ötzi", utf8Is($"s", "alpha")) === true)
    assert(one("123", utf8Is($"s", "digit")) === true)
    assert(one("½", utf8Is($"s", "digit")) === false)   // No (other number)
    assert(one("½", utf8Is($"s", "numeric")) === true)
    assert(one("½", utf8Is($"s", "decimal")) === false)
    assert(one("42", utf8Is($"s", "decimal")) === true)
    assert(one(" \t ", utf8Is($"s", "space")) === true)
    assert(one("abc", utf8Is($"s", "lower")) === true)
    assert(one("abc1", utf8Is($"s", "lower")) === true) // uncased ok
    assert(one("123", utf8Is($"s", "lower")) === false) // needs a cased char
    assert(one("ABC", utf8Is($"s", "upper")) === true)
    assert(one("Hello World", utf8Is($"s", "title")) === true)
    assert(one("Hello world", utf8Is($"s", "title")) === false)
    assert(one("HELLO", utf8Is($"s", "title")) === false)
  }

  test("caseFold handles full-fold expansions") {
    assert(one("HELLO", caseFold($"s")) === "hello")
    assert(one("straße", caseFold($"s")) === "strasse")
    assert(one("Ä", caseFold($"s")) === "ä")
  }

  test("normalizeText NFC/NFD round trip") {
    val composed = "é"          // é
    val decomposed = "é"       // e + combining acute
    assert(one(decomposed, normalizeText($"s", "NFC")) === composed)
    assert(one(composed, normalizeText($"s", "NFD")) === decomposed)
    // ASCII is invariant under every form
    val ascii = "Ab1 ~\t\u007f"
    Seq("NFC", "NFD", "NFKC", "NFKD").foreach(f =>
      assert(one(ascii, normalizeText($"s", f)) === ascii))
  }

  test("zfill keeps sign in place") {
    assert(one("7", zfill($"s", 5)) === "00007")
    assert(one("-7", zfill($"s", 5)) === "-0007")
    assert(one("+7", zfill($"s", 5)) === "+0007")
    assert(one("1234567", zfill($"s", 5)) === "1234567")
  }

  test("wrapText greedy wrap") {
    assert(one("the quick brown fox", wrapText($"s", 10)) === "the quick\nbrown fox")
    assert(one("abcdefghijkl", wrapText($"s", 5)) === "abcde\nfghij\nkl")
  }

  test("polyHash matches the cross-engine definition") {
    // h('ab') = (0*31+97)*31+98 mod 1e9+7 = 97*31+98 = 3105
    assert(one("ab", graft.expressions.TextExpressions.polyHash($"s")) === 3105L)
    assert(one("", graft.expressions.TextExpressions.polyHash($"s")) === 0L)
  }

  test("stopHits, langPredict and pretokenCount in a session plan; a null " +
      "input gives what size(null) gives") {
    import graft.operators.TextOps
    val df = Seq(
        (1, Seq("the", "The", "la", null, "de", "la"), "Hi, 42 worlds!\tok"),
        (2, null, null),
        (3, Seq("der", "die", "le", "les", ""), ""))
      .toDF("id", "toks", "text")
    val sizeOfNull = df.filter($"id" === 2).select(size($"toks")).head.get(0)
    val got = df.orderBy("id").select(TextOps.stopHits($"toks", TextOps.StopEn),
        TextOps.langPredict($"toks"), TextOps.pretokenCount($"text"))
      .collect().map(r => (r.get(0), r.get(1), r.get(2))).toSeq
    // "The" is not a marker; "la" is es and fr, "de" es: es 3, fr 2
    // de 2 ties fr 2 on row 3, and de is listed first
    assert(got === Seq((1, "es", 6),
      (sizeOfNull, if (sizeOfNull == null) "und" else "en", sizeOfNull),
      (0, "de", 0)))
  }

  test("textRFind: last occurrence, codepoint index, -1 if absent") {
    assert(one("banana", textRFind($"s", "na")) === 4)
    assert(one("banana", textRFind($"s", "a")) === 5)
    assert(one("banana", textRFind($"s", "x")) === -1)
    // Python: 'abc'.rfind('') == 3
    assert(one("abc", textRFind($"s", "")) === 3)
    // codepoint (not byte) index on multi-byte
    assert(one("héllo é", textRFind($"s", "é")) === 6)
  }

  test("textPartition: partition/rpartition 3-way split semantics") {
    // 'a+b+c'.rpartition('+') == ('a+b', '+', 'c')
    assert(one("a+b+c", textPartition($"s", "+", 0, fromRight = true)) === "a+b")
    assert(one("a+b+c", textPartition($"s", "+", 1, fromRight = true)) === "+")
    assert(one("a+b+c", textPartition($"s", "+", 2, fromRight = true)) === "c")
    // 'a+b+c'.partition('+') == ('a', '+', 'b+c')
    assert(one("a+b+c", textPartition($"s", "+", 0)) === "a")
    assert(one("a+b+c", textPartition($"s", "+", 2)) === "b+c")
    // not found: partition -> (s,'',''), rpartition -> ('','',s)
    assert(one("abc", textPartition($"s", "+", 0)) === "abc")
    assert(one("abc", textPartition($"s", "+", 2)) === "")
    assert(one("abc", textPartition($"s", "+", 0, fromRight = true)) === "")
    assert(one("abc", textPartition($"s", "+", 2, fromRight = true)) === "abc")
  }

  test("textRSplit: right-anchored bounded split") {
    def arr(s: String, n: Int): Seq[String] =
      Seq(s).toDF("s").select(textRSplit($"s", "+", n))
        .head.getSeq[String](0)
    // '123+a+'.rsplit('+', 1) == ['123+a', '']
    assert(arr("123+a+", 1) === Seq("123+a", ""))
    assert(arr("a+b+c", 1) === Seq("a+b", "c"))
    assert(arr("a+b+c", 2) === Seq("a", "b", "c"))
    assert(arr("a+b+c", -1) === Seq("a", "b", "c"))
    assert(arr("abc", 5) === Seq("abc"))
    assert(arr("a+b+c", 0) === Seq("a+b+c"))
  }

  test("textSliceReplace: pandas slice_replace doc cases") {
    // pandas docs: ['a','ab','abc','abdc','abcde'].str.slice_replace(1, repl='X')
    for ((in, out) <- Seq("a" -> "aX", "ab" -> "aX", "abc" -> "aX",
        "abdc" -> "aX", "abcde" -> "aX"))
      assert(one(in, textSliceReplace($"s", "X", 1)) === out)
    for ((in, out) <- Seq("a" -> "X", "ab" -> "X", "abc" -> "Xc",
        "abdc" -> "Xdc", "abcde" -> "Xcde"))
      assert(one(in, textSliceReplace($"s", "X", end = 2)) === out)
    for ((in, out) <- Seq("a" -> "aX", "ab" -> "aX", "abc" -> "aX",
        "abdc" -> "aXc", "abcde" -> "aXde"))
      assert(one(in, textSliceReplace($"s", "X", 1, 3)) === out)
    // negative indices clamp like Python slices
    assert(one("abcde", textSliceReplace($"s", "X", -2)) === "abcX")
    assert(one("abcde", textSliceReplace($"s", "X", -100, 2)) === "Xcde")
  }

  test("swapCase matches Python str.swapcase") {
    assert(one("Hello World", swapCase($"s")) === "hELLO wORLD")
    assert(one("a1B2", swapCase($"s")) === "A1b2")
    assert(one("ÄÖü", swapCase($"s")) === "äöÜ")
    assert(one("", swapCase($"s")) === "")
    // one-to-many special mappings: 'ß'.swapcase() == 'SS'
    assert(one("ß", swapCase($"s")) === "SS")
    assert(one("straße", swapCase($"s")) === "STRASSE")
  }

  test("custom expressions survive whole-stage codegen (no fallback)") {
    // parquet-backed scan so the projection can't be constant-folded into a
    // LocalTableScan — doGenCode must actually run
    val df = spark.read.parquet(s"$sf0001/part.parquet")
      .select(textCount($"p_name", "a").as("c"), textSlice($"p_name", 0, 3).as("t"),
        zfill($"p_name", 20).as("z"), caseFold($"p_name").as("f"))
    assert(df.count() > 0)
    // "*(n)" prefixes mark operators inside a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"expected codegen'd Project:\n$plan")
  }
}
