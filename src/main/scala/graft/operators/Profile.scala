package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-shot data-quality profiling (the deequ/pandas-`describe` reduction a
  * training-data pipeline runs before trusting a new corpus drop): per
  * column — row count, null count, exact distinct count, min and max.
  *
  * Plan shape: one per-column aggregate, unioned. Each branch's scan is
  * parquet-pruned to exactly its own column (a single wide aggregate with
  * k `count(distinct …)`s would instead plan ONE Expand that replicates
  * every row k times — k× the shuffle volume of the whole table). The
  * per-branch exact distinct is itself two-stage (partial distinct per
  * partition, then merge), so nothing funnels unreduced rows.
  *
  * min/max/distinct surface as STRING (binary UTF8 ordering, identical in
  * Spark and DuckDB; integer→string rendering is locale-free) so one
  * uniform schema covers heterogeneous columns. At 100 TB swap the exact
  * distinct for `approx_count_distinct` (HLL) per column — same plan
  * shape, sketch-sized state — which [[profile]] exposes via `exact`. */
object Profile {

  /** Join pre-flight report: the EXACT statistics that decide how a keyed
    * join should run BEFORE running it — row/distinct counts per side,
    * matched-key count, the exact output cardinality
    * (Σ over matched keys of cl·cr), and the worst single key's output
    * (max cl·cr, the skew indicator that says "salt this"). At 100 TB this
    * one-row report is the difference between discovering an exploding or
    * skewed join in planning versus in a dead executor: output rows far
    * above both inputs ⇒ the key is not what you thought; one key
    * dominating ⇒ salt or pre-aggregate.
    *
    * Cost: one keyed count aggregate per side (map-side partial) + one
    * full-outer join of the two COUNT tables (distinct-key-sized, never
    * row-sized) + a 1-row reduce. All counts are exact BIGINTs.
    *
    * `join_rows` is `sum(cl * cr)` in LONG, computed in that final 1-row
    * reduce over the joined count tables (each product per matched key,
    * then the partial and final sums). It is exact up to 2⁶³ − 1 joined
    * rows; past that, Spark's ANSI mode fails the query with an overflow
    * error rather than returning a wrapped count. */
  def joinStats(left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String): DataFrame = {
    val cl = left.groupBy(col(leftKey).as("__js_k"))
      .agg(count(lit(1)).as("__js_cl"))
    val cr = right.groupBy(col(rightKey).as("__js_k"))
      .agg(count(lit(1)).as("__js_cr"))
    cl.join(cr, Seq("__js_k"), "full_outer")
      .agg(
        coalesce(sum(col("__js_cl")), lit(0L)).as("n_left"),
        coalesce(sum(col("__js_cr")), lit(0L)).as("n_right"),
        count(col("__js_cl")).as("nd_left"),
        count(col("__js_cr")).as("nd_right"),
        count(when(col("__js_cl").isNotNull && col("__js_cr").isNotNull,
          lit(1))).as("n_matched_keys"),
        coalesce(sum(col("__js_cl") * col("__js_cr")), lit(0L))
          .as("join_rows"),
        coalesce(max(col("__js_cl") * col("__js_cr")), lit(0L))
          .as("max_key_rows"))
  }

  def profile(df: DataFrame, cols: Seq[String],
      exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    cols.map { c =>
      val nd =
        if (exact) countDistinct(col(c)) else approx_count_distinct(col(c))
      df.select(col(c)).agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col(c))).as("n_null"),
        nd.as("n_distinct"),
        min(col(c)).cast("string").as("min_v"),
        max(col(c)).cast("string").as("max_v"))
        .select(lit(c).as("column"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_v"), col("max_v"))
    }.reduce(_ unionByName _)
  }
}
