package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.expressions.{SplitBucket, toCol, toExpr}

/** Scale-safe positional operators (take-by-position, factorize).
  *
  * The naive Spark spelling of "global row number" —
  * `row_number().over(Window.orderBy(key))` — funnels the ENTIRE table
  * through one partition: a scale-killer at 100 TB. The subtle trap in the
  * parallel spelling — range partition, then join per-partition counts
  * back — is that each `Exchange rangepartitioning` instance samples its
  * own boundaries, and Spark does not always reuse the exchange between
  * the rows branch and the counts branch, so the two branches can disagree
  * by a row at partition edges (observed in practice).
  *
  * [[withGlobalPos]] therefore pins the boundaries itself: split points of
  * the key column are computed ONCE, as the plan is built, and become the
  * literal splits of a PURE bucket expression,
  * [[graft.expressions.SplitBucket]] (a codegen'd binary search under
  * Catalyst's ordering for the key type).
  * Every pass — per-bucket counts, and the per-bucket `row_number` —
  * evaluates that same pure expression, so no two branches can ever
  * disagree, and the whole plan stays inside whole-stage codegen (no RDD
  * drop-out, no row boxing). Only the final pass moves whole rows; the
  * split and count passes scan just the key column (parquet-pruned).
  *
  * Reference semantics: fletcher take/gather (base.py:1215-1270) and
  * factorize (base.py:961-983).
  */
object Positional {

  /** Attach 0-based global position `posCol` under the total order given by
    * `sortCols`, ascending nulls-first (the combination must be a key —
    * ties across partition boundaries would make positions
    * nondeterministic). Single- and multi-column keys both take the codegen
    * sampled-splits path: buckets come from the LEADING column's split
    * points, and the per-bucket window tie-breaks on the remaining columns.
    * This is sound because bucket boundaries respect leading-column order
    * and equal leading values always land in one bucket, so concatenating
    * buckets yields exactly the composite sort order.
    *
    * 1. [[splitPoints]] → ≤ numShufflePartitions−1 literal split points on
    *    the driver (one key-pruned aggregate job for numeric keys), from
    *    the LEADING sort column;
    * 2. bucket = [[graft.expressions.SplitBucket]] over those splits — a
    *    pure, order-preserving expression;
    * 3. per-bucket base offsets as a broadcast subquery ([[offsets]]);
    * 4. pos = offset(bucket) + row_number() over (bucket, sortCols...) —
    *    the window shuffles each bucket to one reducer, never the whole
    *    table to one. A leading column whose hot value dominates serializes
    *    that bucket through one reducer — put the highest-cardinality
    *    column first when the order is a free choice. */
  def withGlobalPos(df: DataFrame, sortCols: Seq[Column],
      posCol: String): DataFrame = {
    require(sortCols.nonEmpty, "withGlobalPos needs at least one sort column")
    val n = numPartitions(df)
    val bucket = bucketOf(df, sortCols.head, n)
    numbered(df, bucket, offsets(df, bucket), sortCols, posCol, n)
  }

  /** Positional take (gather): rows at the given 0-based positions under the
    * `sortCols` total order, with their positions (one row per distinct
    * position; negative and out-of-range positions match no row).
    *
    * Same plan as [[withGlobalPos]], but with m = clamp(16·k,
    * numShufflePartitions, 4096) finer buckets for k distinct wanted
    * positions, and the offsets table filtered to the buckets whose
    * [base, base + count) holds a wanted position. The inner broadcast
    * join with that table drops every other bucket's rows before the
    * window's exchange, so only ≤ k buckets of ≈ |df|/m rows are shuffled
    * and sorted. Positions stay exact: every base offset is an exact count,
    * so bucket boundaries affect only balance. */
  def takePositions(df: DataFrame, sortCols: Seq[Column],
      positions: Seq[Long], posCol: String = "pos"): DataFrame = {
    require(sortCols.nonEmpty, "takePositions needs at least one sort column")
    val wanted = positions.filter(_ >= 0).distinct.sorted.toIndexedSeq
    val n = numPartitions(df)
    val m = math.max(n, math.min(16L * wanted.size, MaxTakeBuckets).toInt)
    val bucket = bucketOf(df, sortCols.head, m)
    // #{wanted < x}: a bucket holds a wanted position iff the count differs
    // at its two ends
    def below(x: Column) = toCol(SplitBucket(toExpr(x), wanted))
    val hit = offsets(df, bucket).filter(
      below(col("__gp_base") + col("__gp_c")) > below(col("__gp_base")))
    numbered(df, bucket, hit, sortCols, posCol, n)
      .filter(col(posCol).isin(wanted: _*))
  }

  /** Upper bound on [[takePositions]]' bucket count: it bounds the offsets
    * table (broadcast) and the number of split points. */
  private val MaxTakeBuckets = 4096L

  private def numPartitions(df: DataFrame): Int =
    math.max(df.sparkSession.sessionState.conf.numShufflePartitions, 1)

  /** Per-bucket exact row count `__gp_c` and base offset `__gp_base` (the
    * rows of all lower buckets). Stays IN the plan as a broadcast subquery
    * (a key-column-pruned aggregate down to one row per bucket, then a
    * cumulative sum over those rows) — no extra Spark action.
    *
    * The cumsum window runs over one row per bucket, so one window group
    * is fine — but an EMPTY partitionSpec makes WindowExec log the scary
    * "No Partition Defined for Window" WARN that pattern-matches a real
    * scale-killer. Partition by pmod(__gp_b, 1): constant 0 on every row
    * (same single bounded group), yet non-foldable, so the optimizer's
    * EliminateWindowPartitions can't strip it back to the warning case.
    * Genuine full-cardinality global windows stay forbidden by
    * PlanGuardSpec; this just stops the benign bounded one from paging. */
  private def offsets(df: DataFrame, bucket: Column): DataFrame = {
    val cumw = Window.partitionBy(pmod(col("__gp_b"), lit(1)))
      .orderBy(col("__gp_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.groupBy(bucket.as("__gp_b"))
      .agg(count(lit(1)).as("__gp_c"))
      .select(col("__gp_b"), col("__gp_c"),
        coalesce(sum(col("__gp_c")).over(cumw), lit(0L)).as("__gp_base"))
  }

  /** pos = base(bucket) + row_number() within the bucket, over the rows of
    * the buckets listed in `offs` (an inner broadcast join). The rows are
    * placed by bucket id (`repartitionById`: bucket b goes to reducer
    * b mod n), and the window reuses that exchange as its clustering on
    * `__gp_b`. Hash placement collided: at n = 4, buckets 0–3 went to
    * reducers [3, 3, 2, 3].
    *
    * NOT persisted, deliberately: the input is consumed three times (split
    * points, offsets, this pass), but the first two read only the key
    * column (parquet- and cache-pruned), and this pass reads the full width
    * once and shuffles only the listed buckets. A persist would build a
    * full-width columnar cache to save two key-only rescans — the r19
    * measurement on the callers' cheap narrow scans found it cost MORE cpu
    * than it saved, and [[takePositions]]' narrower final pass leaves even
    * less to save. [[groupedPrefixSums]], whose callers hand in aggregates,
    * is the persisting variant. */
  private def numbered(df: DataFrame, bucket: Column, offs: DataFrame,
      sortCols: Seq[Column], posCol: String, n: Int): DataFrame = {
    val rn = row_number().over(
      Window.partitionBy(col("__gp_b"))
        .orderBy(sortCols.map(_.asc_nulls_first): _*))
    df.withColumn("__gp_b", bucket)
      .join(broadcast(offs), "__gp_b")
      .repartitionById(n, col("__gp_b"))
      .withColumn(posCol, col("__gp_base") + rn.cast("long") - 1L)
      .drop("__gp_b", "__gp_c", "__gp_base")
  }

  /** Pure order-preserving bucket expression over split points fixed as
    * the plan is built, for `buckets` buckets of `key` ([[splitPoints]]), as
    * Catalyst values sorted under the key type's ordering. A NULL key falls
    * in bucket 0 and NaN above every number, where ASC NULLS FIRST sorts
    * them (the ordering contract of [[graft.expressions.SplitBucket]]). */
  private def bucketOf(df: DataFrame, key: Column, buckets: Int): Column = {
    val dt = df.select(key).schema.head.dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    val splits = splitPoints(df, key, buckets).map(toCatalyst)
      .sorted(TypeUtils.getInterpretedOrdering(dt)).toIndexedSeq
    toCol(SplitBucket(toExpr(key), splits))
  }

  /** Distributed grouped prefix (running) sum — the two-phase scan: the
    * scale-safe spelling of `sum(v) OVER (PARTITION BY grp ORDER BY ord)`
    * when a single group is too large for one reducer (a low-cardinality
    * `grp` at 100 TB puts terabytes through each window partition).
    *
    * 1. range-bucket every row by driver-pinned split points on the LEADING
    *    order column (same literal-splits machinery as [[withGlobalPos]] —
    *    pure expression, every branch agrees);
    * 2. running sum within each (grp, bucket) window partition — each
    *    partition holds ≈ |df|/numShufflePartitions rows regardless of
    *    group skew, because buckets split the global order-key
    *    distribution;
    * 3. per-(grp, bucket) totals aggregate to ≤ |groups|·(splits+1) rows;
    *    a per-group cumulative sum over that tiny table yields each
    *    bucket's base offset, broadcast-joined back.
    *
    * Requirements: `(grpCols ++ ordCols)` must be a row key (running sums
    * over ties are order-dependent), and `grpCols` cardinality must be
    * bounded enough that |groups|·buckets broadcast — for high-cardinality
    * groups use a plain per-key window instead (partitions are already
    * small there; this operator exists for the SKEWED/low-cardinality
    * case). The prefix sum is inclusive of the current row. */
  def groupedPrefixSum(df: DataFrame, grpCols: Seq[String],
      ordCols: Seq[Column], valCol: Column, outCol: String): DataFrame =
    groupedPrefixSums(df, grpCols, ordCols, Seq(valCol -> outCol))

  /** N running sums over ONE bucket/offsets/window pass — running totals
    * over the same order share everything but the summed value, so
    * computing them together costs one split-point job, one offsets
    * aggregate (N sums wide), and one Window operator evaluating N frames
    * over a single Exchange+Sort, instead of N full passes. */
  def groupedPrefixSums(df0: DataFrame, grpCols: Seq[String],
      ordCols: Seq[Column], vals: Seq[(Column, String)]): DataFrame = {
    require(ordCols.nonEmpty, "groupedPrefixSum needs an order column")
    require(vals.nonEmpty, "groupedPrefixSums needs at least one value")
    // Same three-consumer shape as [[withGlobalPos]] (split points, offsets
    // aggregate, main window pass) — persist the input once per call, via
    // the bounded OpCaches registry (r20: a bare persist had no unpersist
    // path; the registry LRU-bounds the lifetime).
    // Persist re-measured COLD in r20 (per-sample OpCaches.clear in the
    // bench): still a win — q_spearman 3.08 vs 4.26 s, q_prefix_sum 1.56
    // vs 1.87 s without it — so the 3-consumer reuse beats the columnar
    // cache build even when every sample pays the build.
    val df = OpCaches.cached(df0)
    val bucket = bucketOf(df, ordCols.head, numPartitions(df))
    val grpC = grpCols.map(col)
    val vcols = vals.indices.map(i => s"__ps_v$i")
    val withB = vals.zip(vcols).foldLeft(
        df.withColumn("__ps_b", bucket)) {
      case (d, ((v, _), vc)) => d.withColumn(vc, v)
    }
    val runw = Window.partitionBy(grpC :+ col("__ps_b"): _*)
      .orderBy(ordCols.map(_.asc_nulls_first): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offw = Window.partitionBy(grpC: _*)
      .orderBy(col("__ps_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets0 = withB.groupBy(grpC :+ col("__ps_b"): _*)
      .agg(sum(col(vcols.head)).as("__ps_t0"),
        vcols.tail.zipWithIndex.map { case (vc, i) =>
          sum(col(vc)).as(s"__ps_t${i + 1}") }: _*)
      .select((grpC :+ col("__ps_b")) ++ vcols.indices.map(i =>
        coalesce(sum(col(s"__ps_t$i")).over(offw), lit(0L))
          .as(s"__ps_base$i")): _*)
    // disambiguate the group columns for the join-condition build below
    val offsets = grpCols.foldLeft(offsets0)(
      (d, c) => d.withColumnRenamed(c, s"__ps_g_$c"))
    // NULL-SAFE equality on the group keys: groupBy treats NULL as a real
    // group, and the naive window this operator replaces keeps NULL-group
    // rows — a null-unsafe equi-join here would silently drop them
    val joinCond = (grpCols.map(c => withB(c) <=> offsets(s"__ps_g_$c")) :+
      (withB("__ps_b") === offsets("__ps_b"))).reduce(_ && _)
    val joined = withB.join(broadcast(offsets), joinCond)
      .drop(offsets("__ps_b"))
      .drop(grpCols.map(c => s"__ps_g_$c"): _*)
    val withRuns = vals.zip(vcols).zipWithIndex.foldLeft(joined) {
      case (d, (((_, out), vc), i)) =>
        d.withColumn(out, col(s"__ps_base$i") + sum(col(vc)).over(runw))
    }
    withRuns.drop(
      "__ps_b" +: (vcols ++ vcols.indices.map(i => s"__ps_base$i")): _*)
  }

  /** Driver-pinned split points for the bucket expression. Boundary QUALITY
    * only affects bucket balance — positions are correct for ANY boundary
    * set, because every branch of the plan evaluates the same literal
    * splits. So an approximate one-pass answer is ideal: numeric keys get
    * `percentile_approx` (a single key-column-pruned aggregate job); other
    * orderable types fall back to a pure hash-mod sample (count job +
    * pruned sample-collect job). */
  private def splitPoints(df: DataFrame, key: Column, n: Int): Seq[Any] = {
    import org.apache.spark.sql.types.NumericType
    df.select(key).schema.head.dataType match {
      case _: NumericType =>
        val ps = (1 until n).map(_.toDouble / n)
        val row = df.agg(
          percentile_approx(key, typedLit(ps), lit(1000)).as("s")).head()
        if (row.isNullAt(0)) Nil
        else row.getSeq[Any](0).filter(_ != null).distinct
      case _ =>
        val cnt = df.count()
        if (cnt == 0) return Nil
        // ~64 sample keys per target bucket (≥ 16 at takePositions' 4096
        // buckets): plenty for split selection, bounded in memory; the
        // hash-mod filter is a pure predicate.
        val sampleTarget = math.min(math.max(n.toLong * 64, 2048L), 1L << 16)
        val M = 1000000L
        val thresh = math.min(M, (M * sampleTarget) / cnt + 1)
        val sample = df
          .filter(pmod(xxhash64(key), lit(M)) < lit(thresh))
          .select(key.as("__gp_k")).orderBy(col("__gp_k").asc_nulls_first)
          .collect().map(_.get(0)).filter(_ != null).toSeq
        val m = sample.length
        if (m == 0) Nil
        else (1 until n).map(i => sample((i.toLong * m / n).toInt)).distinct
    }
  }

  /** Dictionary-encode `valueCol`: stable dense codes 0..n-1 assigned in
    * value sort order. Null values keep their rows and get code -1, matching
    * pandas factorize's na_sentinel (reference base.py:961-983).
    *
    * Cardinality strategy (probed with one LIMIT maxCategories+1 count over
    * the distributed distinct — no unbounded driver collect anywhere):
    *   - ≤ maxCategories distinct values → dictionary path: the small
    *     distinct set is collected, codes assigned in driver sort order,
    *     broadcast-joined back. One aggregate + zero shuffles of `df`.
    *   - above → [[factorizeShuffle]]: dense codes from the sampled-splits
    *     global-position machinery over the distinct values — fully
    *     distributed, works at any cardinality (one extra shuffle join).
    */
  def factorize(df: DataFrame, valueCol: String, codeCol: String = "code",
      maxCategories: Int = 65536): DataFrame = {
    require(maxCategories > 0, "maxCategories must be positive")
    val distinctVals = df.select(col(valueCol))
      .filter(col(valueCol).isNotNull).distinct()
    // fail-fast-free probe: counts at most maxCategories+1 rows, so the
    // answer is cheap even when the true cardinality is billions
    val overLimit =
      distinctVals.limit(maxCategories + 1).count() > maxCategories
    if (overLimit) return factorizeShuffle(df, valueCol, codeCol)
    val spark = df.sparkSession
    // Bounded by the probe above (≤ maxCategories rows reach the driver) —
    // the same explicit-limit contract as Reshape.getDummies.
    val values = distinctVals.orderBy(col(valueCol)).collect().map(_.get(0))
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      df.schema(valueCol).copy(name = valueCol),
      StructField(codeCol, LongType, nullable = false)))
    val dict = spark.createDataFrame(
      values.zipWithIndex.map { case (v, i) => Row(v, i.toLong) }.toSeq.asJava,
      schema)
    df.join(broadcast(dict), Seq(valueCol), "left")
      .withColumn(codeCol, coalesce(col(codeCol), lit(-1L)))
  }

  /** Shuffle-join factorize for unbounded cardinality: dense codes are the
    * GLOBAL POSITIONS of the distinct values under value sort order
    * ([[withGlobalPos]] over the distinct side — codegen sampled-splits, no
    * driver dictionary), joined back on the value. Both sides shuffle on the
    * value key; the dictionary side is |distinct| rows, never collected.
    * Same output contract as [[factorize]]: codes 0..n-1 in value sort
    * order, nulls → -1. */
  def factorizeShuffle(df: DataFrame, valueCol: String,
      codeCol: String = "code"): DataFrame = {
    val dict = withGlobalPos(
      df.select(col(valueCol)).filter(col(valueCol).isNotNull).distinct(),
      Seq(col(valueCol)), codeCol)
    df.join(dict, Seq(valueCol), "left")
      .withColumn(codeCol, coalesce(col(codeCol), lit(-1L)))
  }
}
