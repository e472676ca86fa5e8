package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions.{ShingleGrams, StringKernels, VectorKernels, TextExpressions => TE}
import graft.functions.GraftFunctions
import graft.operators.{Positional, Pq, Similarity, TextOps}

/** Sizes of the generated kernel_scan tables. */
final case class KernelSizes(textRows: Int, intRows: Int, vecRows: Int,
    dim: Int, partitions: Int)

/** Seeded generators for the kernel_scan columns. Each partition's rows are
  * a pure function of (seed, table, partition), so the reference
  * regenerates exactly the values Spark holds in its cache. */
object KernelData {
  val Needle = "needle"
  val Repl = "pin"
  val LtThreshold = 250000
  val TakePositions = 64
  val ShingleK = 5
  /** xxhash64's default seed in Spark. */
  val HashSeed = 42L

  private def rng(seed: Long, table: Int, part: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + table * 1000003L + part)

  def span(n: Int, p: Int, part: Int): (Int, Int) =
    ((n.toLong * part / p).toInt, (n.toLong * (part + 1) / p).toInt)

  /** 256-byte ASCII strings (half of them carry capitals) with 0-3 planted
    * needles, plus a short letters-only column that is non-null in one row
    * of seven. */
  def text(seed: Long, n: Int, p: Int, part: Int): Iterator[(String, String)] = {
    val r = rng(seed, 1, part)
    val (lo, hi) = span(n, p, part)
    Iterator.range(lo, hi).map { _ =>
      val capitals = r.nextInt(2) == 0
      val c = new Array[Char](256)
      var i = 0
      while (i < 256) {
        val x = r.nextInt(100)
        c(i) = if (x < 15) ' '
          else if (capitals && x < 18) ('A' + r.nextInt(26)).toChar
          else ('a' + r.nextInt(26)).toChar
        i += 1
      }
      (0 until r.nextInt(4)).foreach(_ => Needle.getChars(0, 6, c, r.nextInt(250)))
      val sparse = if (r.nextInt(7) != 0) null else {
        val d = Array.fill(16 + r.nextInt(33))(('a' + r.nextInt(26)).toChar)
        if (r.nextInt(3) == 0) d(r.nextInt(d.length)) = ('0' + r.nextInt(10)).toChar
        new String(d)
      }
      (new String(c), sparse)
    }
  }

  /** Row id, an int with 20% nulls, a bool with 10% nulls. */
  def numeric(seed: Long, n: Int, p: Int, part: Int)
      : Iterator[(Long, java.lang.Integer, java.lang.Boolean)] = {
    val r = rng(seed, 2, part)
    val (lo, hi) = span(n, p, part)
    Iterator.range(lo, hi).map { id =>
      val i = if (r.nextInt(5) == 0) null
        else java.lang.Integer.valueOf(r.nextInt(2000001) - 1000000)
      val b = if (r.nextInt(10) == 0) null
        else java.lang.Boolean.valueOf(r.nextInt(4) != 0)
      (id.toLong, i, b)
    }
  }

  /** An embedding-shaped double array and two overlapping token-hash
    * arrays of 20-60 elements. */
  def vectors(seed: Long, n: Int, p: Int, part: Int, dim: Int)
      : Iterator[(Array[Double], Array[Long], Array[Long])] = {
    val r = rng(seed, 3, part)
    val (lo, hi) = span(n, p, part)
    Iterator.range(lo, hi).map { _ =>
      val emb = Array.fill(dim)(r.nextDouble() * 2 - 1)
      val th = Array.fill(20 + r.nextInt(41))(r.nextLong() & 0xFFFFFL)
      val th2 = th.map(x => if (r.nextInt(3) == 0) r.nextLong() & 0xFFFFFL else x)
      (emb, th, th2)
    }
  }

  def query(seed: Long, dim: Int): Array[Double] = {
    val r = rng(seed, 4, 0)
    Array.fill(dim)(r.nextDouble() * 2 - 1)
  }

  def takePositions(seed: Long, n: Int): Seq[Long] = {
    val r = rng(seed, 5, 0)
    Seq.fill(TakePositions)(r.nextLong(n.toLong)).distinct.sorted
  }
}

/** Plain-Scala answers for every kernel_scan shape, computed in the
  * harness's own JVM from the same generated values. */
object KernelReference {
  import KernelData._

  def xxh(s: String): Long = {
    val u = UTF8String.fromString(s)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, HashSeed)
  }
  def count(s: String, pat: String): Int = {
    var n = 0
    var i = s.indexOf(pat)
    while (i >= 0) { n += 1; i = s.indexOf(pat, i + pat.length) }
    n
  }
  def slice(s: String, start: Int, end: Int, step: Int): String = {
    val b = new StringBuilder
    var i = start
    while (i < math.min(end, s.length)) { b += s(i); i += step }
    b.toString
  }
  def isLower(s: String): Boolean =
    !s.exists(_.isUpper) && s.exists(_.isLower)
  def isAlpha(s: String): Boolean = s.nonEmpty && s.forall(_.isLetter)
  def swap(s: String): String =
    s.map(c => if (c.isUpper) c.toLower else if (c.isLower) c.toUpper else c)
  def poly(s: String): Long = s.foldLeft(0L)((h, c) => (h * 31 + c) % TextOps.PolyMod)
  def seqFold(a: Array[Double], q: Array[Double], f: (Double, Double) => Double): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += f(a(i), q(i)); i += 1 }
    s
  }
  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    val bs = b.toSet
    val inter = a.distinct.count(bs).toLong
    if (a.length + b.length == 0) 1.0 else inter.toDouble / (a.length + b.length - inter)
  }
  def shingles(th: Array[Long], k: Int): Array[Long] =
    if (th.length < k) Array.empty
    else Array.tabulate(th.length - k + 1)(i =>
      (0 until k).foldLeft(0L)((h, j) => (h * 31L + th(i + j)) % TextOps.PolyMod))
  def simHash(th: Array[Long]): Long =
    (0 until 30).foldLeft(0L) { (out, b) =>
      val s = th.foldLeft(0L)((acc, x) => if (((x >> b) & 1L) == 1L) acc + 1 else acc - 1)
      if (s > 0) out + (1L << b) else out
    }

  /** One partial result per partition, computed on a local thread pool. */
  private def perPartition[T](p: Int)(f: Int => T): Seq[T] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence((0 until p).map(part => Future(f(part)))),
      scala.concurrent.duration.Duration.Inf)
  }

  /** Expected folded values per shape. Integer folds are exact; the
    * double sums are compared to 1e-9 relative, since their summation
    * order differs from Spark's. */
  def expected(seed: Long, z: KernelSizes): Map[String, Seq[Any]] = {
    val p = z.partitions
    // count, contains, replace, rfind, slice, lower, alpha, fold, swap, poly
    val xors = Set(2, 4, 7, 8)
    val t = perPartition(p) { part =>
      val a = new Array[Long](10)
      text(seed, z.textRows, p, part).foreach { case (s, s7) =>
        a(0) += count(s, Needle)
        if (s.contains(Needle)) a(1) += 1
        a(2) ^= xxh(s.replace(Needle, Repl))
        a(3) += s.lastIndexOf(Needle)
        a(4) ^= xxh(slice(s, 3, 200, 2))
        if (isLower(s)) a(5) += 1
        if (s7 != null && isAlpha(s7)) a(6) += 1
        a(7) ^= xxh(s.toUpperCase(java.util.Locale.ROOT).toLowerCase(java.util.Locale.ROOT))
        a(8) ^= xxh(swap(s))
        a(9) += poly(s)
      }
      a
    }.reduce((x, y) => Array.tabulate(10)(i => if (xors(i)) x(i) ^ y(i) else x(i) + y(i)))
    val take = takePositions(seed, z.intRows).toSet
    // sum, lt, take sum, take non-null, any null, any true, any false
    val n = perPartition(p) { part =>
      val a = new Array[Long](7)
      numeric(seed, z.intRows, p, part).foreach { case (id, i, b) =>
        if (i != null) {
          a(0) += i.intValue
          if (i.intValue < LtThreshold) a(1) += 1
          if (take(id)) { a(2) += i.intValue; a(3) += 1 }
        }
        if (b == null) a(4) += 1 else if (b.booleanValue) a(5) += 1 else a(6) += 1
      }
      a
    }.reduce((x, y) => x.zip(y).map { case (u, v) => u + v })
    val q = query(seed, z.dim)
    val v = perPartition(p) { part =>
      var l2 = 0.0; var dot = 0.0; var jac = 0.0; var sh = 0L; var simh = 0L
      vectors(seed, z.vecRows, p, part, z.dim).foreach { case (emb, th, th2) =>
        l2 += seqFold(emb, q, (x, y) => (x - y) * (x - y))
        dot += seqFold(emb, q, _ * _)
        jac += jaccard(th, th2)
        sh ^= shingles(th, ShingleK).foldLeft(HashSeed)((h, g) => XXH64.hashLong(g, h))
        simh += simHash(th)
      }
      (l2, dot, jac, sh, simh)
    }.reduce((x, y) => (x._1 + y._1, x._2 + y._2, x._3 + y._3, x._4 ^ y._4, x._5 + y._5))
    Map(
      "text_count" -> Seq(t(0)), "text_contains" -> Seq(t(1)),
      "text_replace" -> Seq(t(2)), "text_rfind" -> Seq(t(3)),
      "text_slice" -> Seq(t(4)), "utf8_is" -> Seq(t(5), t(6)),
      "casefold" -> Seq(t(7)), "swapcase" -> Seq(t(8)), "poly_hash" -> Seq(t(9)),
      "int_sum" -> Seq(n(0).toDouble), "int_lt" -> Seq(n(1)),
      "bool_any_all" -> Seq(n(4) > 0 || n(5) > 0, n(6) == 0),
      "take" -> Seq(if (n(3) == 0) null else n(2), take.size.toLong),
      "vec_l2sq" -> Seq(v._1), "vec_dot" -> Seq(v._2), "jaccard" -> Seq(v._3),
      "shingle" -> Seq(v._4), "simhash" -> Seq(v._5))
  }
}

/** A kernel_scan op: one shape's graft column functions over a cached
  * table, folded to one row. `expected` None leaves the row unchecked (the
  * builtin spellings, which are timed only). */
final class KernelOp(val name: String, frame: () => DataFrame,
    expected: Option[Seq[Any]], override val rows: Long) extends Op {
  def build(): DataFrame = frame()
  def fold(df: DataFrame): DataFrame = df
  def check(out: Array[Row]): Option[String] = expected.flatMap { expected =>
    val got = out(0).toSeq
    val bad = got.zip(expected).filterNot {
      case (a: Double, b: Double) => math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
      case (a: java.lang.Number, b: java.lang.Number) => a.longValue == b.longValue
      case (a, b) => a == b
    }
    if (bad.isEmpty && got.size == expected.size) None
    else Some(s"got ${got.mkString("[", ",", "]")}, expected ${expected.mkString("[", ",", "]")}")
  }
}

final class KernelWorkload(spark: SparkSession, seed: Long, z: KernelSizes) {
  import KernelData._

  private val p = z.partitions
  private val (textN, intN, vecN, dim) = (z.textRows, z.intRows, z.vecRows, z.dim)
  val (textDf, numDf, vecDf) = KernelWorkload.tables(spark, seed, z)

  private val expected = KernelReference.expected(seed, z)
  private val q = typedLit(query(seed, dim))
  private def xorHash(c: Column): Column = bit_xor(xxhash64(c))
  private val s = col("s")

  /** Shape name -> (table, rows, graft spelling). */
  private val shapes: Seq[(String, DataFrame, Long, () => DataFrame)] = {
    def on(t: DataFrame, cs: Column*): () => DataFrame = () => t.agg(cs.head, cs.tail: _*)
    Seq(
      ("text_count", textDf, textN, on(textDf, sum(TE.textCount(s, Needle)))),
      ("text_contains", textDf, textN, on(textDf, count_if(GraftFunctions.textContains(s, Needle)))),
      ("text_replace", textDf, textN, on(textDf, xorHash(TE.textReplaceN(s, Needle, Repl, -1)))),
      ("text_rfind", textDf, textN, on(textDf, sum(TE.textRFind(s, Needle)))),
      ("text_slice", textDf, textN, on(textDf, xorHash(TE.textSlice(s, 3, 200, 2)))),
      ("utf8_is", textDf, textN, on(textDf, count_if(TE.utf8Is(s, "lower")),
        count_if(TE.utf8Is(col("s7"), "alpha")))),
      ("casefold", textDf, textN, on(textDf, xorHash(TE.caseFold(s)))),
      ("swapcase", textDf, textN, on(textDf, xorHash(TE.swapCase(s)))),
      ("poly_hash", textDf, textN, on(textDf, sum(TE.polyHash(s)))),
      ("int_sum", numDf, intN, on(numDf, GraftFunctions.detSum(col("i")))),
      ("int_lt", numDf, intN, on(numDf, count_if(col("i") < lit(LtThreshold)))),
      ("bool_any_all", numDf, intN, on(numDf, GraftFunctions.anyNullIsTrue(col("b")),
        GraftFunctions.allNullSkipped(col("b")))),
      ("take", numDf, intN, () => Positional.takePositions(numDf.select("id", "i"),
        Seq(col("id")), takePositions(seed, intN)).agg(sum(col("i")), count(lit(1)))),
      ("vec_l2sq", vecDf, vecN, on(vecDf, sum(Pq.l2sq(col("emb"), q)))),
      ("vec_dot", vecDf, vecN, on(vecDf, sum(Similarity.dot(col("emb"), q)))),
      ("jaccard", vecDf, vecN, on(vecDf, sum(TextOps.jaccard(col("th"), col("th2"))))),
      ("shingle", vecDf, vecN, on(vecDf, xorHash(graft.expressions.toCol(
        ShingleGrams(graft.expressions.toExpr(col("th")), ShingleK, TextOps.PolyMod))))),
      ("simhash", vecDf, vecN, on(vecDf, sum(TextOps.simHash30(col("th"))))))
  }
  val shapeNames: Seq[String] = shapes.map(_._1)
  private val ops: Seq[Op] = shapes.map { case (n, _, rows, f) =>
    new KernelOp(n, f, Some(expected(n)), rows) }

  /** The seed fixes the data; every pass runs the shapes in one order. */
  def pass(): Seq[Op] = ops

  /** The nearest Spark builtin spelling of a shape, where one exists. Its
    * result is not checked: null and Unicode corners may differ. */
  val builtins: Seq[(String, Long, () => DataFrame)] = {
    val lowers = ('a' to 'z').mkString
    val uppers = lowers.toUpperCase
    def dotLike(f: (Column, Column) => Column): Column =
      sum(aggregate(zip_with(col("emb"), q, f), lit(0.0), _ + _))
    val inter = size(array_intersect(col("th"), col("th2")))
    Seq(
      ("text_count", textN, () => textDf.agg(sum((length(s) -
        length(regexp_replace(s, lit(Needle), lit("")))) / Needle.length))),
      ("text_contains", textN, () => textDf.agg(count_if(instr(s, Needle) > 0))),
      ("text_replace", textN, () => textDf.agg(xorHash(replace(s, lit(Needle), lit(Repl))))),
      ("utf8_is", textN, () => textDf.agg(count_if(s === lower(s) && s =!= upper(s)),
        count_if(col("s7").rlike("^[A-Za-z]+$")))),
      ("casefold", textN, () => textDf.agg(xorHash(lower(s)))),
      ("swapcase", textN, () => textDf.agg(xorHash(translate(s, lowers + uppers, uppers + lowers)))),
      ("int_sum", intN, () => numDf.agg(sum(col("i")).cast(DoubleType))),
      ("bool_any_all", intN, () => numDf.agg(bool_or(col("b")), bool_and(col("b")))),
      ("vec_l2sq", vecN, () => vecDf.agg(dotLike((x, y) => (x - y) * (x - y)))),
      ("vec_dot", vecN, () => vecDf.agg(dotLike(_ * _))),
      ("jaccard", vecN, () => vecDf.agg(sum(inter / (size(col("th")) + size(col("th2")) - inter)))))
  }

  /** The static Java kernel behind a shape, looped on one thread over
    * the first `n` generated rows; ns per row (second of two loops). */
  def bareNsPerRow(n: Int): Seq[(String, Double)] = {
    val strs = text(seed, textN, p, 0).take(n).map(t => UTF8String.fromString(t._1)).toArray
    val vecs = vectors(seed, vecN, p, 0, dim).take(n).toArray
    val qa = ArrayData.toArrayData(query(seed, dim))
    val embs = vecs.map(v => ArrayData.toArrayData(v._1))
    val ths = vecs.map(v => ArrayData.toArrayData(v._2))
    val th2s = vecs.map(v => ArrayData.toArrayData(v._3))
    val needle = UTF8String.fromString(Needle)
    val repl = UTF8String.fromString(Repl)
    var sink = 0L
    def loop[T](xs: Array[T])(f: T => Any): Double = {
      def once(): Long = {
        val t0 = System.nanoTime()
        xs.foreach(x => sink += f(x).hashCode)
        System.nanoTime() - t0
      }
      once()
      once().toDouble / math.max(1, xs.length)
    }
    val idx = embs.indices.toArray
    val out = Seq(
      "text_count" -> loop(strs)(StringKernels.countLiteral(_, needle)),
      "text_replace" -> loop(strs)(StringKernels.replaceN(_, needle, repl, -1)),
      "text_rfind" -> loop(strs)(StringKernels.rfindLiteral(_, needle)),
      "text_slice" -> loop(strs)(StringKernels.sliceCodepoints(_, 3, 200, 2)),
      "utf8_is" -> loop(strs)(StringKernels.isLower(_)),
      "casefold" -> loop(strs)(StringKernels.caseFold(_)),
      "swapcase" -> loop(strs)(StringKernels.swapCase(_)),
      "poly_hash" -> loop(strs)(StringKernels.polyHash(_)),
      "vec_l2sq" -> loop(idx)(i => VectorKernels.l2sq(embs(i), qa)),
      "vec_dot" -> loop(idx)(i => VectorKernels.dot(embs(i), qa)),
      "jaccard" -> loop(idx)(i => VectorKernels.jaccardLong(ths(i), th2s(i))),
      "shingle" -> loop(ths)(VectorKernels.shingleGrams(_, ShingleK, TextOps.PolyMod)),
      "simhash" -> loop(ths)(VectorKernels.simHash30(_)))
    if (sink == 42L) println("") // keep the loops' results observable
    out
  }
}

object KernelWorkload {
  import KernelData._

  private def cached(df: DataFrame): DataFrame = {
    val c = df.cache()
    c.count()
    c
  }

  /** The three generated tables, cached and materialized. */
  def tables(spark: SparkSession, seed: Long, z: KernelSizes)
      : (DataFrame, DataFrame, DataFrame) = {
    val sc = spark.sparkContext
    val p = z.partitions
    val (textN, intN, vecN, dim) = (z.textRows, z.intRows, z.vecRows, z.dim)
    val textDf = cached(spark.createDataFrame(
      sc.parallelize(0 until p, p).mapPartitionsWithIndex((part, _) =>
        text(seed, textN, p, part).map { case (s, s7) => Row(s, s7) }),
      StructType(Seq(StructField("s", StringType, nullable = false),
        StructField("s7", StringType)))))
    val numDf = cached(spark.createDataFrame(
      sc.parallelize(0 until p, p).mapPartitionsWithIndex((part, _) =>
        numeric(seed, intN, p, part).map { case (id, i, b) => Row(id, i, b) }),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("i", IntegerType), StructField("b", BooleanType)))))
    val vecDf = cached(spark.createDataFrame(
      sc.parallelize(0 until p, p).mapPartitionsWithIndex((part, _) =>
        vectors(seed, vecN, p, part, dim).map { case (e, a, b) => Row(e, a, b) }),
      StructType(Seq(
        StructField("emb", ArrayType(DoubleType, containsNull = false), nullable = false),
        StructField("th", ArrayType(LongType, containsNull = false), nullable = false),
        StructField("th2", ArrayType(LongType, containsNull = false), nullable = false)))))
    (textDf, numDf, vecDf)
  }
}
