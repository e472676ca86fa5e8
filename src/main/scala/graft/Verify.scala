package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // only matters when the data layer regenerates events.ts as
      // TIMESTAMP(NANOS) (Spark can't read NANOS except as long); the read
      // boundary (queries.canonicalizeTime) absorbs whichever unit arrives
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated subset for fast local iteration on one
    // oracle; the driver never sets it, so round dumps stay complete.
    val filter = sys.env.get("SPARK_GRAFT_VERIFY_FILTER")
      .map(_.split(',').map(_.trim).toSet)
    // A filtered run leaves any previous full dump's per-query dirs in
    // place, so a later oracle pass over this outDir would silently mix
    // fresh and stale outputs. Leave a marker naming what THIS run wrote
    // (and warn); a full run removes it — so a partial dump can never be
    // mistaken for a complete round dump.
    val marker = Paths.get(s"$outDir/PARTIAL_DUMP.txt")
    filter match {
      case Some(sel) =>
        Files.writeString(marker,
          s"partial verify dump: only ${sel.toSeq.sorted.mkString(", ")} " +
            "were (re)written by the last run; other query dirs may be stale\n")
        System.err.println(s"[verify] PARTIAL dump (filter set): $outDir " +
          "mixes fresh and possibly-stale outputs — see PARTIAL_DUMP.txt")
      case None => Files.deleteIfExists(marker)
    }
    SparkEntry.queries
      .filter { case (name, _) => filter.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // The side-table replay gates' SQL names an oracle_aux dump path, and
    // a static string can only pin ONE scale — the driver's gate scale
    // (sf0.01). But the gate fns dump aux tables suffixed with the scale
    // they RUN at, so rewrite the pinned suffix to THIS run's scale before
    // dumping: at sf0.01 (the driver) this is the identity; at any other
    // scale the dumped SQL now reads the aux tables the fns just wrote,
    // making the full oracle mirror green at every sf instead of skipping
    // the 7 replay gates outside sf0.01. The rewrite is SCOPED to the
    // oracle_aux dump-path shape (not a blind substring replace): a future
    // oracle that legitimately embeds "_sf0.01/*.parquet" in some other
    // literal must not be rewritten. And a FILTERED run dumps SQL only for
    // the gates it actually (re)ran — rewriting an excluded gate's aux
    // path would point DuckDB at a side-table that was never re-dumped at
    // this scale (stale or missing); check_oracle is invoked with explicit
    // gate names under a filter, so the narrower json is sufficient.
    val sfName = new java.io.File(sfDir).getName
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => filter.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(atScale(v, sfName))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** `sql` with every side-table path pinned to sf0.01 rewritten to the
    * scale `sfName` (see the comment in [[main]]). */
  private[graft] def atScale(sql: String, sfName: String): String =
    sql.replaceAll(
      "(" + java.util.regex.Pattern.quote(queries.OracleAuxDir) +
        """[A-Za-z0-9_]+_)sf0\.01(/\*\.parquet)""",
      "$1" + java.util.regex.Matcher.quoteReplacement(sfName) + "$2")
}
