package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.expressions.{toCol, toExpr, ShingleGrams, StringCalls, StringKernels, UserKernels, VectorCalls, VectorKernels, VectorSet}
import graft.functions.UdfSurface
import graft.operators.{Pq, Similarity, TextOps}

/** Every kernel built as a `StaticInvoke`, evaluated both ways: interpreted
  * (`eval`, which finds the kernel method by reflection from the argument
  * classes) and generated (a compiled projection over UnsafeRows). Both
  * must equal the kernel called directly, with a null argument giving null
  * unless the builder says otherwise. The rows carry nulls, ASCII,
  * multi-byte text, invalid UTF-8, empty strings and vectors of mismatched
  * length. A wrong argument class (`Integer` for `int`, a Scala `Seq` for
  * `ArrayData`) fails only the interpreted way, so both are run.
  */
class KernelCallParitySpec extends SparkTestBase {

  private def u(s: String): UTF8String = UTF8String.fromString(s)
  private val invalidUtf8 = UTF8String.fromBytes(Array[Byte](0x61, 0xC3.toByte,
    0x28, 0xFF.toByte, 0x62))

  private val texts: Seq[UTF8String] = Seq(null, "", "abc", "Hello World",
    "aXbXa needle", "  -42", "héllo wörld", "中文ab 🙈 x", "ǅemo ß İ")
    .map(u) :+ invalidUtf8
  private val pats: Seq[UTF8String] = Seq(null, "", "a", "l", "X", "é", "🙈")
    .map(u) :+ UTF8String.fromBytes(Array(0xC3.toByte))

  private def arr(xs: Any*): ArrayData = new GenericArrayData(xs.toArray)
  private val doubles: Seq[ArrayData] = Seq(null, arr(), arr(1.0, 2.0, 3.0),
    arr(0.5, -1.0, 2.0), arr(1.0, 2.0), arr(1.0, null, 3.0))
  private val longs: Seq[ArrayData] = Seq(null, arr(), arr(1L, 2L, 3L),
    arr(3L, 4L, 5L, 6L, 7L, 8L), arr(1L, null, 2L), arr(5L, 5L, 1000000006L))

  private val norms: Seq[Any] = Seq(null, 0.0, -0.0, 1.5, Double.NaN)

  /** Planes, centroids, groups and codebooks for the vector kernels. */
  private def flat(ids: Seq[Long], vecs: Seq[Array[Double]]): VectorSet =
    new VectorSet(ids.toArray, vecs.toArray,
      vecs.map(v => math.sqrt(v.map(x => x * x).sum)).toArray, null)
  private val planes = flat(Seq(0L, 1L, 2L),
    Seq(Array(1.0, 0.0, 0.0), Array(-1.0, 1.0, 1.0), Array(0.5, 0.5)))
  private val cents = flat(Seq(3L, 7L, 9L),
    Seq(Array(1.0, 2.0, 3.0), Array(0.5, -1.0, 2.0), Array(1.0, 2.0)))
  private val groups = new VectorSet(Array(0L, 1L),
    Array(Array(1.0, 2.0, 3.0), Array(-1.0, 0.0, 0.0)), Array(math.sqrt(14), 1.0),
    Array(flat(Seq(3L, 9L), Seq(Array(1.0, 2.0, 3.0), Array(1.0, 2.0))),
      flat(Seq(7L), Seq(Array(0.5, -1.0, 2.0)))))
  private val codebooks = new VectorSet(Array(0L, 1L),
    Array(Array.emptyDoubleArray, Array.emptyDoubleArray), Array(0.0, 0.0),
    Array(flat(Seq(0L, 1L), Seq(Array(1.0), Array(-0.5))),
      flat(Seq(0L, 1L, 2L), Seq(Array(2.0), Array(0.0), Array(2.5)))))
  private def nrm(r: Seq[Any]): Double = if (r(1) == null) 0.0 else r(1).asInstanceOf[Double]

  private val S = StringType
  private val AD = ArrayType(DoubleType)
  private val AL = ArrayType(LongType)

  /** A builder over bound inputs of `types`, and the kernel it calls. */
  private case class Case(name: String, types: Seq[DataType],
      build: Seq[Expression] => Expression, kernel: Seq[Any] => Any,
      rows: Seq[Seq[Any]], propagateNull: Boolean = true)

  private def rows1(xs: Seq[Any]): Seq[Seq[Any]] = xs.map(Seq(_))
  private def rows2(xs: Seq[Any], ys: Seq[Any]): Seq[Seq[Any]] =
    for (x <- xs; y <- ys) yield Seq(x, y)
  private def str(r: Seq[Any], i: Int): UTF8String = r(i).asInstanceOf[UTF8String]
  private def ad(r: Seq[Any], i: Int): ArrayData = r(i).asInstanceOf[ArrayData]
  private def column(f: Column => Column): Seq[Expression] => Expression =
    xs => toExpr(f(toCol(xs.head)))
  private def columns(f: (Column, Column) => Column): Seq[Expression] => Expression =
    xs => toExpr(f(toCol(xs(0)), toCol(xs(1))))

  private val text1: Seq[(String, Expression => Expression, UTF8String => Any)] =
    Seq(
      ("slice(1,-1,2)", StringCalls.slice(_, 1, -1, 2),
        StringKernels.sliceCodepoints(_, 1, -1, 2)),
      ("slice(reverse)", StringCalls.slice(_, Int.MinValue, Int.MinValue, -1),
        StringKernels.sliceCodepoints(_, Int.MinValue, Int.MinValue, -1)),
      ("caseFold", StringCalls.caseFold(_), StringKernels.caseFold(_)),
      ("swapCase", StringCalls.swapCase(_), StringKernels.swapCase(_)),
      ("zfill(6)", StringCalls.zfill(_, 6), StringKernels.zfill(_, 6)),
      ("wrap(4)", StringCalls.wrap(_, 4), StringKernels.wrap(_, 4)),
      ("deflateLen(6)", StringCalls.deflateLen(_, 6), StringKernels.deflateLen(_, 6)),
      ("polyHash", StringCalls.polyHash(_), StringKernels.polyHash(_)),
      ("tokenHashes", StringCalls.tokenHashes(_), StringKernels.tokenHashes(_))) ++
    Seq("NFC", "NFD", "NFKC", "NFKD").map(f => (s"normalize($f)",
      (e: Expression) => StringCalls.normalize(e, f),
      (s: UTF8String) => StringKernels.normalize(s, java.text.Normalizer.Form.valueOf(f)))) ++
    Seq[(String, UTF8String => Any)]("alnum" -> StringKernels.isAlnum,
      "alpha" -> StringKernels.isAlpha, "digit" -> StringKernels.isDigit,
      "space" -> StringKernels.isSpace, "lower" -> StringKernels.isLower,
      "upper" -> StringKernels.isUpper, "title" -> StringKernels.isTitle,
      "numeric" -> StringKernels.isNumeric, "decimal" -> StringKernels.isDecimal)
      .map { case (kind, k) =>
        (s"is($kind)", (e: Expression) => StringCalls.is(e, kind), k) }

  private val text2: Seq[(String, (Expression, Expression) => Expression,
      (UTF8String, UTF8String) => Any)] = Seq(
    ("count", StringCalls.count(_, _), StringKernels.countLiteral(_, _)),
    ("rfind", StringCalls.rfind(_, _), StringKernels.rfindLiteral(_, _)),
    ("rsplit(-1)", StringCalls.rsplit(_, _, -1), StringKernels.rsplitArray(_, _, -1)),
    ("rsplit(1)", StringCalls.rsplit(_, _, 1), StringKernels.rsplitArray(_, _, 1)),
    ("sliceReplace(1,3)", StringCalls.sliceReplace(_, _, 1, 3),
      StringKernels.sliceReplace(_, 1, 3, _)),
    ("sliceReplace(open)", StringCalls.sliceReplace(_, _, Int.MinValue, -2),
      StringKernels.sliceReplace(_, Int.MinValue, -2, _)),
    ("prefixLength",
      (a: Expression, b: Expression) => toExpr(UdfSurface.prefixLength(toCol(a), toCol(b))),
      UserKernels.prefixLength(_, _))) ++
    (for (idx <- 0 to 2; right <- Seq(false, true)) yield (
      s"partitionPart($idx,$right)",
      (a: Expression, b: Expression) => StringCalls.partitionPart(a, b, idx, right),
      (a: UTF8String, b: UTF8String) => StringKernels.partitionPart(a, b, idx, right)))

  private val cases: Seq[Case] =
    text1.map { case (n, b, k) =>
      Case(n, Seq(S), xs => b(xs.head), r => k(str(r, 0)), rows1(texts)) } ++
    text2.map { case (n, b, k) =>
      Case(n, Seq(S, S), xs => b(xs(0), xs(1)), r => k(str(r, 0), str(r, 1)),
        rows2(texts, pats)) } ++
    Seq(-1, 0, 2).map(n => Case(s"replaceN($n)", Seq(S, S, S),
      xs => StringCalls.replaceN(xs(0), xs(1), xs(2), n),
      r => StringKernels.replaceN(str(r, 0), str(r, 1), str(r, 2), n),
      for (t <- texts; p <- pats; r <- Seq(null, u(""), u("é-"))) yield Seq(t, p, r))) ++
    Seq(
      Case("l2sq", Seq(AD, AD), columns(Pq.l2sq),
        r => VectorKernels.l2sq(ad(r, 0), ad(r, 1)), rows2(doubles, doubles)),
      Case("jaccard", Seq(AL, AL), columns(TextOps.jaccard),
        r => VectorKernels.jaccardLong(ad(r, 0), ad(r, 1)), rows2(longs, longs)),
      Case("simHash30", Seq(AL), column(TextOps.simHash30),
        r => VectorKernels.simHash30(ad(r, 0)), rows1(longs), propagateNull = false),
      Case("shingleGrams(2)", Seq(AL), xs => ShingleGrams(xs.head, 2, TextOps.PolyMod),
        r => VectorKernels.shingleGrams(ad(r, 0), 2, TextOps.PolyMod), rows1(longs)),
      Case("winnowSelect(2)", Seq(AL), column(TextOps.winnowSelect(_, 2)),
        r => VectorKernels.winnowSelect(ad(r, 0), 2), rows1(longs)),
      Case("dot", Seq(AD, AD), columns(Similarity.dot),
        r => VectorKernels.dot(ad(r, 0), ad(r, 1)), rows2(doubles, doubles)),
      Case("lshBits", Seq(AD), xs => VectorCalls.lshBits(xs.head, planes),
        r => VectorKernels.lshBits(ad(r, 0), planes), rows1(doubles),
        propagateNull = false),
      Case("topCosine(2)", Seq(AD, DoubleType),
        xs => VectorCalls.topCosine(xs(0), xs(1), cents, 2),
        r => VectorKernels.topCosine(ad(r, 0), nrm(r), r(1) == null, cents, 2),
        rows2(doubles, norms), propagateNull = false),
      Case("argmaxCosine(1)", Seq(AD, DoubleType),
        xs => VectorCalls.argmaxCosine(xs(0), xs(1), groups, 1),
        r => VectorKernels.argmaxCosine(ad(r, 0), nrm(r), r(1) == null, groups, 1),
        rows2(doubles, norms), propagateNull = false),
      Case("argmaxCosine(full)", Seq(AD, DoubleType),
        xs => VectorCalls.argmaxCosine(xs(0), xs(1), groups, 2),
        r => VectorKernels.argmaxCosine(ad(r, 0), nrm(r), r(1) == null, groups, 2),
        rows2(doubles, norms), propagateNull = false),
      Case("pqEncode", Seq(AD), xs => VectorCalls.pqEncode(xs.head, codebooks, 1),
        r => VectorKernels.pqEncode(ad(r, 0), codebooks, 1), rows1(doubles)),
      Case("adcTable", Seq(AD), xs => VectorCalls.adcTable(xs.head, codebooks, 1),
        r => VectorKernels.adcTable(ad(r, 0), codebooks, 1), rows1(doubles),
        propagateNull = false))

  /** A value in a form `==` compares by content: strings as bytes, arrays
    * and structs as Seqs. */
  private def plain(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (s: UTF8String, _) => s.getBytes.toSeq
    case (a: ArrayData, ArrayType(et, _)) => (0 until a.numElements).map(i =>
      if (a.isNullAt(i)) null else plain(a.get(i, et), et))
    case (r: InternalRow, StructType(fs)) => fs.indices.map(i =>
      if (r.isNullAt(i)) null else plain(r.get(i, fs(i).dataType), fs(i).dataType))
    case (x, _) => x
  }

  for (c <- cases) test(s"${c.name}: interpreted == generated == kernel") {
    val e = c.build(c.types.zipWithIndex.map { case (t, i) =>
      BoundReference(i, t, nullable = true) })
    assert(e.isInstanceOf[StaticInvoke], s"${c.name} is not one StaticInvoke: $e")
    assert(e.nullable === c.propagateNull)
    val toUnsafe = UnsafeProjection.create(c.types.toArray)
    val gen = GenerateUnsafeProjection.generate(Seq(e))
    for (r <- c.rows) {
      val want = if (c.propagateNull && r.contains(null)) null
        else plain(c.kernel(r), e.dataType)
      val interpreted = plain(e.eval(InternalRow.fromSeq(r)), e.dataType)
      val out = gen(toUnsafe(InternalRow.fromSeq(r)))
      val generated = if (out.isNullAt(0)) null else plain(out.get(0, e.dataType), e.dataType)
      assert(interpreted == want && generated == want,
        s"${c.name} on $r: kernel=$want interpreted=$interpreted generated=$generated")
    }
  }

  test("graft_* SQL functions agree with codegen off and on") {
    graft.functions.SqlFunctions.register(spark)
    val schema = StructType(Seq(StructField("b", BinaryType), StructField("p", BinaryType)))
    val data = for (t <- texts; p <- pats)
      yield Row(Option(t).map(_.getBytes).orNull, Option(p).map(_.getBytes).orNull)
    spark.createDataFrame(spark.sparkContext.parallelize(data, 3), schema)
      .select(col("b").cast("string").as("s"), col("p").cast("string").as("p"))
      .createOrReplaceTempView("kcp_texts")
    val calls = Seq("graft_count(s, p)", "graft_replace_n(s, p, 'é-', 1)",
      "graft_slice(s, 1, -1, 2)", "graft_slice_replace(s, p, 1, 3)",
      "graft_rfind(s, p)", "graft_partition(s, p, 2)", "graft_rpartition(s, p, 0)",
      "graft_rsplit(s, p, 1)", "graft_is(s, 'alpha')", "graft_casefold(s)",
      "graft_normalize(s, 'NFKD')", "graft_zfill(s, 6)", "graft_wrap(s, 4)",
      "graft_swapcase(s)", "graft_polyhash(s)")
    val query = s"SELECT s, p, ${calls.zipWithIndex.map { case (c, i) => s"$c AS c$i" }
      .mkString(", ")} FROM kcp_texts"
    def run(confs: (String, String)*): Seq[Seq[Any]] = {
      val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      try {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        spark.sql(query).collect().toSeq.map(_.toSeq)
      } finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val interpreted = run("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val generated = run("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    assert(interpreted.size === texts.size * pats.size)
    assert(interpreted.sortBy(_.toString) === generated.sortBy(_.toString))
  }
}
