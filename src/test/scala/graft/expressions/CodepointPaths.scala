package graft.expressions

import org.apache.spark.unsafe.types.UTF8String

/** The package-private codepoint paths of [[StringKernels]], paired with
  * the public kernels that dispatch to them, and the ASCII test that
  * dispatches, for the properties that check each ASCII byte path against
  * its codepoint path. */
object CodepointPaths {
  type Pair[T] = (String, UTF8String => T, UTF8String => T)

  val predicates: Seq[Pair[Boolean]] = Seq(
    ("isAlpha", StringKernels.isAlpha, StringKernels.isAlphaCp),
    ("isDigit", StringKernels.isDigit, StringKernels.isDigitCp),
    ("isAlnum", StringKernels.isAlnum, StringKernels.isAlnumCp),
    ("isSpace", StringKernels.isSpace, StringKernels.isSpaceCp),
    ("isLower", StringKernels.isLower, StringKernels.isLowerCp),
    ("isUpper", StringKernels.isUpper, StringKernels.isUpperCp),
    ("isTitle", StringKernels.isTitle, StringKernels.isTitleCp),
    ("isNumeric", StringKernels.isNumeric, StringKernels.isNumericCp),
    ("isDecimal", StringKernels.isDecimal, StringKernels.isDecimalCp))

  val strings: Seq[Pair[UTF8String]] = Seq(
    ("swapCase", StringKernels.swapCase, StringKernels.swapCaseCp),
    ("caseFold", StringKernels.caseFold, StringKernels.caseFoldCp))

  val polyHash: Pair[Long] =
    ("polyHash", StringKernels.polyHash, StringKernels.polyHashCp)

  def isAscii(s: UTF8String): Boolean = StringKernels.isAscii(s)

  def sliceCp(s: UTF8String, start: Int, end: Int, step: Int): UTF8String =
    StringKernels.sliceCodepointsCp(s, start, end, step)

  def rfindCp(s: UTF8String, sub: UTF8String): Int =
    StringKernels.rfindLiteralCp(s, sub)
}
