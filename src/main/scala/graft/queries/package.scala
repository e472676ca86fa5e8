package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, timestamp_micros, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

package object queries {
  /** One driver-checkable query: the Spark plan plus (optionally) the
    * equivalent DuckDB SQL oracle. Queries without an oracle get the driver's
    * weaker rows-only check. Every oracle-bearing query MUST produce identical
    * column names and deterministic row order on both sides.
    */
  final case class Q(
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String] = None)

  /** Physical-layout hook applied to every table read. Identity in
    * production; LayoutMatrixSpec swaps in repartition(n) / empty-input to
    * assert every gated query is layout-invariant — the Spark analog of the
    * reference's adversarial chunk-offset/chunking fixtures
    * (reference tests/conftest.py:141-144, tests/test_algorithms.py:58-66).
    *
    * SAFETY: this is a JVM-global mutable hook. It is only sound because the
    * test JVM runs suites sequentially (build.sbt pins
    * `Test / parallelExecution := false`); parallel forked tests would leak
    * adversarial layouts into unrelated suites nondeterministically.
    */
  @volatile private[graft] var tableLayout: DataFrame => DataFrame = identity

  /** Directory of the side tables that the replay gates dump and their
    * oracle SQL reads back: `target/oracle_aux` under the working
    * directory, absolute, ending in `/`. sbt runs forked mains and tests in
    * the checkout, so each checkout writes and reads its own side tables
    * and two checkouts running at once never read each other's. */
  val OracleAuxDir: String =
    java.nio.file.Paths.get("target", "oracle_aux").toAbsolutePath.toString + "/"

  /** The canonical post-read dtype contract for the driver tables' time
    * columns. The data layer is free to regenerate the parquet with any
    * timestamp unit — the r11→r12 regeneration flipped `events.ts` from
    * TIMESTAMP(NANOS) (read as BIGINT under
    * `spark.sql.legacy.parquet.nanosAsLong`) to TIMESTAMP(MICROS) (read as
    * TIMESTAMP_NTZ), which broke every downstream consumer — so the unit is
    * absorbed HERE, at the read boundary, exactly once. The reference applies
    * the same contract by accepting any Arrow timestamp unit on ingest
    * (reference fletcher/base.py:64,94-105 maps all of s/ms/us/ns).
    *
    * Contract: `ts` (the event-time column every as-of/range/session/stream
    * operator does integer arithmetic on) is BIGINT nanoseconds since epoch;
    * date-like columns are TIMESTAMP_NTZ. All sessions run UTC, so every
    * conversion below is exact integer math (no DST/offset ambiguity), and a
    * micros→nanos widening cannot overflow (2^63 ns ≈ year 2262).
    * SchemaContractSpec pins the post-`tbl` schema of every table so a future
    * unit change fails ONE loud spec, not 30 queries downstream.
    */
  private val NanosLongCols = Set("ts")
  private val TimestampCols = Set("l_shipdate", "o_orderdate")

  private[graft] def canonicalizeTime(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      (f.name, f.dataType) match {
        case (n, TimestampType) if NanosLongCols(n) =>
          d.withColumn(n, unix_micros(col(n)) * lit(1000L))
        case (n, TimestampNTZType) if NanosLongCols(n) =>
          d.withColumn(n, unix_micros(col(n).cast(TimestampType)) * lit(1000L))
        case (n, LongType) if TimestampCols(n) =>
          d.withColumn(n,
            timestamp_micros(expr(s"$n div 1000")).cast(TimestampNTZType))
        case (n, TimestampType) if TimestampCols(n) =>
          d.withColumn(n, col(n).cast(TimestampNTZType))
        case _ => d
      }
    }

  /** Read one of the driver-generated tables under the given sf directory,
    * normalized to the canonical time-column contract above. The relation
    * is memoized per session by [[graft.sources.TableMemo]]: metadata only,
    * fingerprint-validated, never memoized on failure. */
  def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    tableLayout(canonicalizeTime(
      graft.sources.TableMemo.read(spark, s"$dir/$name.parquet")))

  /** Write an oracle side-table with a tmp→target directory-rename swap.
    * Every invocation of a side-table gate (verify, bench samples,
    * DumpPlans) rewrites its dump; a plain mode-overwrite deletes the
    * directory before writing, so a concurrent oracle read at the SAME
    * scale could observe a missing/partial table for the whole write. The
    * swap shrinks the exposed window to two directory renames. Shared by
    * the ANN-index gates (Similarity) and the text-pipeline side-table
    * gates (compress-ratio deflate lengths, bloom survivor set). */
  private[graft] def writeTableAtomically(df: DataFrame, path: String): Unit = {
    import java.nio.file._
    import scala.jdk.CollectionConverters._
    def rmTree(p: Path): Unit = if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    val target = Paths.get(path)
    val tmp = Paths.get(path + ".tmp")
    val old = Paths.get(path + ".old")
    rmTree(tmp); rmTree(old)
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    if (Files.exists(target)) Files.move(target, old)
    Files.move(tmp, target)
    rmTree(old)
  }
}
