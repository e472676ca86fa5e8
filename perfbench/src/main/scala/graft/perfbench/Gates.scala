package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}

/** A gate op: one `SparkEntry.queries` entry called with only the session
  * and the data directory, folded to the same digest `graft.Bench` takes
  * (`bit_xor(xxhash64(struct(all columns)))`), and compared with the digest
  * recorded for it. */
final class GateOp(spark: SparkSession, dir: String, val name: String,
    fn: (SparkSession, String) => DataFrame, expected: Option[String]) extends Op {
  def build(): DataFrame = fn(spark, dir)
  def fold(df: DataFrame): DataFrame =
    df.agg(bit_xor(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*))))
  def check(rows: Array[Row]): Option[String] = {
    val got = GateOp.digest(rows)
    expected match {
      case None => Some(s"no expected digest (got $got)")
      case Some(e) if e != got => Some(s"digest $got, expected $e")
      case _ => None
    }
  }
}

object GateOp {
  def digest(rows: Array[Row]): String =
    if (rows.isEmpty || rows(0).isNullAt(0)) "null" else rows(0).getLong(0).toString

  /** `name digest` lines; blank lines and `#` comments are skipped. */
  def readExpected(path: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\\s+", 2); k -> v.trim }.toMap
    finally src.close()
  }
}

/** A gate workload: a frozen gate list, reshuffled with the seed for every
  * pass so every gate runs once per pass. */
final class GateWorkload(spark: SparkSession, dir: String, gates: Seq[String],
    expected: Map[String, String], seed: Long) {
  private val all = graft.SparkEntry.queries
  private val missing = gates.filterNot(all.contains)
  require(missing.isEmpty, s"unknown gates: ${missing.mkString(",")}")
  private val ops = gates.map(g => new GateOp(spark, dir, g, all(g), expected.get(g)))
  private val rng = new scala.util.Random(seed)
  def pass(): Seq[Op] = rng.shuffle(ops)

  /** Bare warm `queries.tbl` per table: the relation-resolution part of the
    * build layer, timed alone (second of two calls). */
  def tblSeconds(): Double = {
    val tables = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    val ts = tables.map { t =>
      graft.queries.tbl(spark, dir, t)
      val t0 = System.nanoTime()
      graft.queries.tbl(spark, dir, t)
      (System.nanoTime() - t0) / 1e9
    }
    if (ts.isEmpty) 0.0 else ts.sum / ts.length
  }
}
