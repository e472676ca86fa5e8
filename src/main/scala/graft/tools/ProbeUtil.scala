package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared plumbing for the probe mains (Sf1Probe; the JACCARD_ORDER_PROBE
  * and MAT_PREFIX_PROBE artifacts were written with it too): ONE
  * SparkSession recipe and ONE recall definition, so the artifacts the
  * probes write stay comparable by construction — a conf or metric drift
  * in a single probe would otherwise make its rows silently incomparable
  * with the others'. */
object ProbeUtil {

  /** The probes' session: local[SPARK_GRAFT_CPUS] with the same confs the
    * driver-contract mains use (nanos timestamps, UTC, UI off, shuffle
    * partitions = cpus). */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** (query_id → neighbor-id set) of a collected k-NN result frame. */
  def topSets(df: DataFrame): Map[Long, Set[Long]] =
    df.select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  /** Mean recall@k of `ann` against the exact `brute` top-k sets — the
    * same definition as queries.Similarity.recallVsBrute's bench metric. */
  def recallOf(brute: Map[Long, Set[Long]],
      ann: Map[Long, Set[Long]]): Double =
    brute.toSeq.map { case (q, b) =>
      ann.getOrElse(q, Set.empty).intersect(b).size.toDouble / b.size
    }.sum / brute.size
}
