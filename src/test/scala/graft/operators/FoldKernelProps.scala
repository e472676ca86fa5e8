package graft.operators

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}
import graft.SparkTestBase
import graft.expressions.TextExpressions.polyHash
import Similarity.{Cent, CentGroup, cosine, dot}

/** Property tests: each whole-array kernel that replaced a per-element
  * lambda fold, interpreted and generated, against the fold it replaced —
  * kept here verbatim as the reference and evaluated as an analyzed
  * Catalyst expression:
  *   - the token hashes against `transform(split(text, " "), polyHash)`;
  *   - the LSH bits, the flat and two-level argmax cell and the probe list
  *     against the `aggregate`/`transform`/`array_sort` folds of
  *     `Similarity`;
  *   - the ADC table against `Pq.qtabFor`'s nested `transform`.
  * The vectors carry nulls, a null norm, all-zero vectors, ±0.0, ±Inf and
  * NaN, and duplicate centroids that force cosine ties.
  */
object FoldKernelProps extends Properties("FoldKernels") {

  // ---- the replaced spellings ----
  private def refTokenHashes(text: Column): Column =
    transform(split(text, " "), t => polyHash(t))

  private def refLshBucket(v: Column, ps: Seq[Array[Double]]): Column = {
    val mat = typedLit(ps.zipWithIndex.map { case (w, p) =>
        (1L << p, w.toSeq) })
      .cast("array<struct<bit:bigint,w:array<double>>>")
    aggregate(mat, lit(0L), (acc, pl) =>
      acc + when(dot(v, pl.getField("w")) > 0, pl.getField("bit"))
        .otherwise(lit(0L)))
  }

  private def refCellFor(v: Column, nrm: Column, cents: Seq[Cent]): Column = {
    val sorted = cents.sortBy(_.cid)
    val centArr = typedLit(sorted.map(c => (c.cid, c.cv.toSeq, c.cnrm)))
      .cast("array<struct<cid:bigint,cv:array<double>,cnrm:double>>")
    val accType = "struct<best:double,cid:bigint>"
    aggregate(centArr,
      struct(lit(Double.NegativeInfinity).as("best"), lit(-1L).as("cid"))
        .cast(accType),
      (acc, c) => {
        val cs = cosine(v, nrm, c.getField("cv"), c.getField("cnrm"))
        when(cs > acc.getField("best"),
          struct(cs.as("best"), c.getField("cid").as("cid")).cast(accType))
          .otherwise(acc)
      }).getField("cid")
  }

  private def refCellsFor(v: Column, nrm: Column, cents: Seq[Cent],
      p: Int): Column = {
    val sorted = cents.sortBy(_.cid)
    val centArr = typedLit(sorted.map(c => (c.cid, c.cv.toSeq, c.cnrm)))
      .cast("array<struct<cid:bigint,cv:array<double>,cnrm:double>>")
    val scoredArr = transform(centArr, c =>
      struct(cosine(v, nrm, c.getField("cv"), c.getField("cnrm")).as("cos"),
        c.getField("cid").as("cid")))
    val byCosDesc = array_sort(scoredArr, (l, r) =>
      when(l.getField("cos") > r.getField("cos"), lit(-1))
        .when(l.getField("cos") < r.getField("cos"), lit(1))
        .when(l.getField("cid") < r.getField("cid"), lit(-1))
        .otherwise(lit(1)))
    transform(slice(byCosDesc, 1, p), s => s.getField("cid"))
  }

  private val byGcosDescGid: (Column, Column) => Column = (l, r) =>
    when(l.getField("gcos") > r.getField("gcos"), lit(-1))
      .when(l.getField("gcos") < r.getField("gcos"), lit(1))
      .when(l.getField("gid") < r.getField("gid"), lit(-1))
      .when(l.getField("gid") > r.getField("gid"), lit(1))
      .otherwise(lit(0))

  private def refBucketedCellFor(v: Column, nrm: Column, groups: Seq[CentGroup],
      members: Map[Long, Seq[Cent]], nProbe: Int): Column = {
    val gLit = typedLit(groups.sortBy(_.gid).map { g =>
        (g.gid, g.gv.toSeq, g.gn,
          members.getOrElse(g.gid, Seq.empty).sortBy(_.cid)
            .map(c => (c.cid, c.cv.toSeq, c.cnrm)))
      })
      .cast("array<struct<gid:bigint,gv:array<double>,gn:double," +
        "members:array<struct<cid:bigint,cv:array<double>,cnrm:double>>>>")
    val scored = transform(gLit, g => struct(
      cosine(v, nrm, g.getField("gv"), g.getField("gn")).as("gcos"),
      g.getField("gid").as("gid")))
    val probeGids = transform(slice(array_sort(scored, byGcosDescGid),
      1, nProbe), s => s.getField("gid"))
    val accType = "struct<best:double,cid:bigint>"
    element_at(transform(array(probeGids), pg =>
      aggregate(
        flatten(transform(
          filter(gLit, g => array_contains(pg, g.getField("gid"))),
          g => g.getField("members"))),
        struct(lit(Double.NegativeInfinity).as("best"), lit(-1L).as("cid"))
          .cast(accType),
        (acc, c) => {
          val cs = cosine(v, nrm, c.getField("cv"), c.getField("cnrm"))
          when(cs > acc.getField("best") ||
              (cs === acc.getField("best") &&
                c.getField("cid") < acc.getField("cid")),
            struct(cs.as("best"), c.getField("cid").as("cid")).cast(accType))
            .otherwise(acc)
        })), 1).getField("cid")
  }

  private def refQtab(qv: Column, cbs: Seq[Seq[Array[Double]]]): Column = {
    val subDim = cbs.head.head.length
    val lit3 = typedLit(cbs.map(_.map(_.toSeq)))
      .cast("array<array<array<double>>>")
    transform(sequence(lit(0), lit(cbs.size - 1)), s =>
      transform(element_at(lit3, s + 1), c =>
        Pq.l2sq(slice(qv, s * subDim + 1, lit(subDim)), c)))
  }

  // ---- evaluation ----
  private val VecRow = StructType(Seq(StructField("v", ArrayType(DoubleType)),
    StructField("nrm", DoubleType)))
  private val TextRow = StructType(Seq(StructField("v", StringType)))

  /** `c` over an input of `schema`, analyzed and bound to its ordinals. */
  private def analyzed(schema: StructType, c: Column): Expression = {
    val in = SparkTestBase.spark.createDataFrame(java.util.List.of[Row](), schema)
    val plan = in.select(c.as("r")).queryExecution.analyzed.asInstanceOf[Project]
    BindReferences.bindReference(plan.projectList.head.asInstanceOf[Alias].child,
      plan.child.output)
  }

  /** A value `==` compares by content; a double by its bits, so NaN equals
    * NaN and -0.0 differs from 0.0. */
  private def plain(x: Any, dt: DataType): Any = (x, dt) match {
    case (null, _) => null
    case (a: ArrayData, ArrayType(et, _)) => (0 until a.numElements).map(i =>
      if (a.isNullAt(i)) null else plain(a.get(i, et), et))
    case (d: Double, _) => java.lang.Double.doubleToLongBits(d)
    case (v, _) => v
  }

  private def show(row: InternalRow, schema: StructType): String =
    schema.fields.indices.map(i =>
      plain(if (row.isNullAt(i)) null else row.get(i, schema(i).dataType),
        schema(i).dataType) match {
        case s: Seq[_] if schema(i).dataType == ArrayType(DoubleType) =>
          s.map(b => if (b == null) null
            else java.lang.Double.longBitsToDouble(b.asInstanceOf[Long]))
        case v => v
      }).mkString("(", ", ", ")")

  /** The kernel, interpreted and generated, equals the reference on every
    * row `compare` accepts. */
  private def agree(schema: StructType, ref: Column, kernel: Column,
      rows: Seq[InternalRow], compare: InternalRow => Boolean = _ => true): Prop = {
    val r = analyzed(schema, ref)
    val k = analyzed(schema, kernel)
    val toUnsafe = UnsafeProjection.create(schema)
    val gen = GenerateUnsafeProjection.generate(Seq(k))
    val bad = rows.filter(compare).flatMap { row =>
      val want = plain(r.eval(row), r.dataType)
      val interp = plain(k.eval(row), k.dataType)
      val out = gen(toUnsafe(row))
      val generated = if (out.isNullAt(0)) null else plain(out.get(0, k.dataType), k.dataType)
      if (interp == want && generated == want) None
      else Some(s"${show(row, schema)}: want=$want interp=$interp generated=$generated")
    }
    bad.isEmpty :| bad.take(3).mkString("\n")
  }

  // ---- vector inputs ----
  private val Dim = 3
  private val num: Gen[Double] = Gen.frequency(
    10 -> Gen.choose(-2.0, 2.0), 3 -> Gen.oneOf(-1.0, 0.0, 0.5, 1.0),
    1 -> Gen.const(-0.0),
    1 -> Gen.oneOf(Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN))
  private def norm(v: Array[Double]): Double = math.sqrt(v.map(x => x * x).sum)
  /** Mostly `Dim` long, sometimes shorter or longer; sometimes all zero. */
  private val vec: Gen[Array[Double]] = Gen.frequency(
    8 -> Gen.listOfN(Dim, num), 1 -> Gen.const(List.fill(Dim)(0.0)),
    1 -> Gen.choose(0, Dim + 1).flatMap(Gen.listOfN(_, num))).map(_.toArray)
  private def normOf(v: Array[Double]): Gen[Double] = Gen.frequency(
    4 -> Gen.const(norm(v)), 1 -> Gen.oneOf(0.0, -0.0, 1.0, Double.NaN))

  /** A (v, nrm) row: v null or with null elements, nrm null or not v's norm. */
  private val vecRow: Gen[InternalRow] = for {
    v <- vec
    nulls <- Gen.frequency(8 -> Gen.const(Set.empty[Int]),
      1 -> Gen.choose(0, Dim).map(Set(_)))
    vNull <- Gen.frequency(12 -> false, 1 -> true)
    nrm <- Gen.frequency(5 -> normOf(v).map(Some(_)), 1 -> Gen.const(None),
      1 -> num.map(Some(_)))
  } yield InternalRow(
    if (vNull) null else new GenericArrayData(v.indices.map(i =>
      if (nulls(i)) null else v(i)).toArray[Any]),
    nrm.map(Double.box).orNull)
  private val vecRows: Gen[Seq[InternalRow]] = Gen.resize(25, Gen.listOf(vecRow))

  /** 1-6 centroids with distinct ids in [0, 20); some repeat the previous
    * vector, which ties their cosines. */
  private val cents: Gen[Seq[Cent]] = for {
    n <- Gen.choose(1, 6)
    vs <- Gen.listOfN(n, vec)
    repeat <- Gen.listOfN(n, Gen.frequency(3 -> false, 1 -> true))
    ids <- Gen.pick(n, 0L until 20L)
    cvs = vs.indices.map(i => if (i > 0 && repeat(i)) vs(i - 1) else vs(i))
    ns <- Gen.sequence[Seq[Double], Double](cvs.map(normOf))
  } yield cvs.indices.map(i => Cent(ids(i), cvs(i), ns(i)))

  /** Whether each of `vs` has a null cosine against the row. */
  private def nullCosines(row: InternalRow, vs: Seq[(Array[Double], Double)]): Seq[Boolean] =
    if (row.isNullAt(1)) vs.map(_ => false)
    else {
      val v = if (row.isNullAt(0)) null else row.getArray(0)
      val x = if (v == null || (0 until v.numElements).exists(v.isNullAt)) None
        else Some(v.toDoubleArray)
      vs.map { case (c, cn) =>
        SQLOrderingUtil.compareDoubles(row.getDouble(1) * cn, 0.0) > 0 &&
          x.forall(_.length != c.length) }
    }
  /** The replaced array_sort comparator is a consistent order only when
    * the cosines are all null or all non-null. */
  private def consistent(nulls: Seq[Boolean]): Boolean =
    nulls.forall(identity) || !nulls.exists(identity)

  property("lshBits == the aggregate fold over the plane literal") =
    forAll(Gen.choose(0, 8).flatMap(Gen.listOfN(_, vec)), vecRows) { (ps, rows) =>
      agree(VecRow, refLshBucket(col("v"), ps), Similarity.lshBucket(col("v"), ps),
        rows)
    }

  property("flat argmaxCosine == the aggregate argmax fold") =
    forAll(cents, vecRows) { (cs, rows) =>
      agree(VecRow, refCellFor(col("v"), col("nrm"), cs),
        Similarity.cellFor(col("v"), col("nrm"), cs), rows)
    }

  property("topCosine == the array_sort probe list") =
    forAll(cents, Gen.choose(1, 8), vecRows) { (cs, p, rows) =>
      agree(VecRow, refCellsFor(col("v"), col("nrm"), cs, p),
        Similarity.cellsFor(col("v"), col("nrm"), cs, p), rows,
        row => consistent(nullCosines(row, cs.map(c => (c.cv, c.cnrm)))))
    }

  /** 1-4 groups with distinct gids, each centroid in one of them; a group
    * may have no members. */
  private val grouped: Gen[(Seq[Cent], Seq[CentGroup], Map[Long, Long])] = for {
    cs <- cents
    m <- Gen.choose(1, 4)
    gids <- Gen.pick(m, 0L until 10L)
    gvs <- Gen.listOfN(m, vec)
    gns <- Gen.sequence[Seq[Double], Double](gvs.map(normOf))
    owner <- Gen.listOfN(cs.size, Gen.oneOf(gids.toSeq))
  } yield (cs, gids.indices.map(i => CentGroup(gids(i), gvs(i), gns(i))),
    cs.map(_.cid).zip(owner).toMap)

  property("two-level argmaxCosine == the probe-then-aggregate fold") =
    forAll(grouped, Gen.choose(1, 5), vecRows) { case ((cs, gs, cid2gid), nProbe, rows) =>
      val members = cs.groupBy(c => cid2gid(c.cid))
      agree(VecRow, refBucketedCellFor(col("v"), col("nrm"), gs, members, nProbe),
        Similarity.bucketedCellFor(col("v"), col("nrm"), gs, members, nProbe), rows,
        row => nProbe >= gs.size ||
          consistent(nullCosines(row, gs.map(g => (g.gv, g.gn)))))
    }

  property("full-probe two-level argmax == flat argmax") =
    forAll(grouped, vecRows) { case ((cs, gs, cid2gid), rows) =>
      agree(VecRow, Similarity.cellFor(col("v"), col("nrm"), cs),
        Similarity.bucketedCellFor(col("v"), col("nrm"), gs,
          cs.groupBy(c => cid2gid(c.cid)), gs.size), rows)
    }

  property("topCosine ranks a null cosine after every non-null one") = {
    // cid 1 is two long: its dot with a 3-vector is null
    val cs = Seq(Cent(1L, Array(1.0, 1.0), math.sqrt(2.0)),
      Cent(5L, Array(1.0, 0.0, 0.0), 1.0), Cent(9L, Array(0.0, 1.0, 0.0), 1.0))
    val row = InternalRow(new GenericArrayData(Array[Any](0.2, 0.9, 0.0)), 1.0)
    val k = analyzed(VecRow, Similarity.cellsFor(col("v"), col("nrm"), cs, 3))
    val got = plain(k.eval(row), k.dataType)
    (got == Seq(9L, 5L, 1L)) :| s"got $got"
  }

  property("no centroid gives cell -1") = {
    val k = analyzed(VecRow, Similarity.cellFor(col("v"), col("nrm"), Seq.empty))
    (k.eval(InternalRow(new GenericArrayData(Array[Any](1.0)), 1.0)) == -1L) :| "not -1"
  }

  /** m codebooks of 1-3 centroids, mostly `subDim` long. */
  private val codebooks: Gen[Seq[Seq[Array[Double]]]] = for {
    m <- Gen.choose(1, 3)
    subDim <- Gen.choose(0, 2)
    cbs <- Gen.listOfN(m, Gen.choose(1, 3).flatMap(Gen.listOfN(_,
      Gen.frequency(8 -> Gen.const(subDim), 1 -> Gen.choose(0, 3))
        .flatMap(Gen.listOfN(_, num)).map(_.toArray))))
    first <- Gen.listOfN(subDim, num)
  } yield cbs.updated(0, first.toArray +: cbs.head.tail)

  property("adcTable == qtabFor's nested transform over l2sq") =
    forAll(codebooks, vecRows) { (cbs, rows) =>
      agree(VecRow, refQtab(col("v"), cbs), Pq.qtabFor(col("v"), cbs), rows)
    }

  // ---- token inputs ----
  private val asciiChar: Gen[Char] = Gen.frequency(
    6 -> Gen.alphaNumChar, 4 -> Gen.const(' '),
    2 -> Gen.oneOf('\t', '\n', '\r', '.', '-', '\''),
    1 -> Gen.choose(0.toChar, 127.toChar))
  // multi-byte codepoints; NBSP and U+3000 are spaces to Unicode but not
  // the 0x20 separator
  private val wideChar: Gen[String] = Gen.oneOf("é", "ß", "中", "😀",
    "\u00a0", "\u3000")
  private val text: Gen[String] = Gen.resize(30, Gen.listOf(Gen.frequency(
    6 -> asciiChar.map(_.toString), 1 -> wideChar))).map(_.mkString)
  // not necessarily valid UTF-8: stray continuation bytes, truncated and
  // overlong sequences, next to spaces
  private val rawBytes: Gen[Array[Byte]] = Gen.resize(20, Gen.listOf(
    Gen.frequency(
      4 -> asciiChar.map(c => Seq(c.toByte)),
      2 -> Gen.choose(0x80, 0xFF).map(b => Seq(b.toByte)),
      1 -> Gen.oneOf(Seq(0xC0, 0xA0), Seq(0xE4, 0xB8), Seq(0xED, 0xA0, 0x80),
        Seq(0xF0, 0x9F, 0x98, 0x80)).map(_.map(_.toByte)))))
    .map(_.flatten.toArray)
  private val textRow: Gen[InternalRow] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.oneOf("", " ", "  ", " a", "a ", "a  b", "\u00a0").map(UTF8String.fromString),
    6 -> text.map(UTF8String.fromString),
    3 -> rawBytes.map(UTF8String.fromBytes)).map(InternalRow(_))

  property("tokenHashes == transform(split(text, \" \"), polyHash)") =
    forAll(Gen.resize(25, Gen.listOf(textRow))) { rows =>
      agree(TextRow, refTokenHashes(col("v")),
        graft.operators.TextOps.tokenHashes(col("v")), rows)
    }
}
