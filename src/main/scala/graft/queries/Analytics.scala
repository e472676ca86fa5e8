package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.{Fuzzy, Graph, Positional, Profile}

/** Corpus/feature analytics beyond the reference surface: data profiling,
  * skew-proof running totals, rank statistics, per-group regression, graph
  * centrality, and retrieval scoring — the reductions a training-data
  * pipeline runs to understand a corpus before and after the cleaning
  * passes in [[TextPipeline]].
  *
  * Cross-engine determinism strategy (the repo-wide rules, see q_corr /
  * q_pipe_tfidf): integer/decimal-exact wherever possible (ranks, counts,
  * fixed-point PageRank), mirrored-IEEE-expression-tree where a float is
  * the answer (correlations, OLS — exact DECIMAL(38,0) power sums, ONE
  * correctly-rounded cast to double, identical formula both sides), and
  * round-6 emission where a transcendental is intrinsic (BM25's ln), with
  * every ORDER/ranking decision taken on exact integers only.
  */
object Analytics {

  /** Exact integer power sum: DECIMAL(38,0) accumulation (order-free),
    * ONE correctly-rounded cast to double (mirrors q_corr). */
  private def isum(c: Column): Column =
    sum(c.cast(DecimalType(38, 0))).cast("double")

  private def dec(c: Column): Column = c.cast(DecimalType(38, 0))

  /** Spearman rho per `l_returnflag` of `d`'s (xi, yi) pairs, where each
    * row of `d` stands for `w` identical rows (q_spearman's rows are
    * single, w = 1).
    *
    * Plan shape (r20, guide §2.3/§2.4 — aggregate before you shuffle):
    * ONE row-level join total, the broadcast of the tiny quantity-rank
    * map. The r18→r19 plan attached BOTH rank maps to every fact row (the
    * price map — one row per distinct price ≈ the row count — via a
    * shuffled-hash join) and aggregated the joined rows. But every power
    * sum is computable from the per-(flag, yi) VALUE-COUNT table once it
    * carries the xi-rank partials: Σrows rx = Σgroups srx, Σrows ry =
    * Σgroups c·ry, Σrows rx·ry = Σgroups ry·srx — exact integer
    * identities, so the six sums (and hence rho) are bit-identical to the
    * row-level spelling while the price-side row join, its exchange of
    * the whole fact table by (flag, yi), and the row-count-sized
    * aggregate input all disappear. `d` itself is NOT persisted: it is
    * two cheap narrow parquet scans (the r19 withGlobalPos measurement:
    * caching cheap scans costs more than the rescan); the expensive
    * aggregate `g` is persisted inside groupedPrefixSum (split points /
    * offsets / window — 3 consumers, via the bounded OpCaches registry).
    *
    * Magnitudes, for N rows in a group and a tie group of c rows: a
    * doubled rank is ≤ 2N, and srx (c ranks) ≤ 2cN, a LONG while
    * c·N < 4.6·10¹⁸. The products rx·rx, c·ry, c·ry·ry and srx·ry and
    * their sums reach c·(2N)², past 2⁶³ (an ANSI overflow error) from
    * 1.5·10⁹ rows, sooner with a large tie group; they are taken in
    * DECIMAL(38,0), exact while 4N³ < 10³⁸. */
  private[graft] def spearmanRho(d: DataFrame): DataFrame = {
    // average ranks (doubled → exact integers) from grouped value
    // counts: r2 = 2·|smaller| + ties + 1, via the distributed prefix
    // sum — no per-group full-table window anywhere.
    def ranksOf(counted: DataFrame, v: String, r: String): DataFrame =
      Positional.groupedPrefixSum(counted, Seq("l_returnflag"),
          Seq(col(v)), col("c"), "cum")
        .withColumn(r,
          lit(2L) * (col("cum") - col("c")) + col("c") + lit(1L))
    // ~50 distinct quantity-cents values per flag — broadcast-safe at
    // any scale (guide §3.1: the r18 plan auto-broadcast the full fact
    // projection instead; pin the genuinely tiny side).
    val rx = ranksOf(
      d.groupBy(col("l_returnflag"), col("xi"))
        .agg(sum(col("w")).as("c")), "xi", "rx")
      .select(col("l_returnflag"), col("xi"), col("rx"))
    // value-count table over yi, carrying the xi-rank partials
    val g = d.join(broadcast(rx), Seq("l_returnflag", "xi"))
      .groupBy(col("l_returnflag"), col("yi"))
      .agg(sum(col("w")).as("c"), sum(col("w") * col("rx")).as("srx"),
        sum(dec(col("w")) * dec(col("rx")) * dec(col("rx"))).as("srxx"))
    ranksOf(g, "yi", "ry")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("c")).cast("double").as("n"),
        isum(col("srx")).as("sx"), isum(dec(col("c")) * dec(col("ry"))).as("sy"),
        isum(col("srxx")).as("sxx"),
        isum(dec(col("c")) * dec(col("ry")) * dec(col("ry"))).as("syy"),
        isum(dec(col("srx")) * dec(col("ry"))).as("sxy"))
      .select(col("l_returnflag"),
        ((col("sxy") - col("sx") * col("sy") / col("n")) /
          (sqrt(col("sxx") - col("sx") * col("sx") / col("n")) *
            sqrt(col("syy") - col("sy") * col("sy") / col("n"))))
          .as("rho"))
  }

  val defs: Map[String, Q] = Map(
    // Per-column corpus profile (deequ/describe shape): row count, nulls,
    // exact distinct, min/max — one parquet-pruned aggregate per column
    // unioned, never one k-way Expand (see operators.Profile).
    "q_profile" -> Q(
      (s, dir) => Profile.profile(tbl(s, dir, "documents"),
          Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy(col("column")),
      Some {
        def one(c: String) =
          s"""SELECT '$c' AS "column", count(*) AS n_rows,
             |  count(*) - count($c) AS n_null,
             |  count(DISTINCT $c) AS n_distinct,
             |  CAST(min($c) AS VARCHAR) AS min_v,
             |  CAST(max($c) AS VARCHAR) AS max_v
             |FROM documents""".stripMargin
        Seq("doc_id", "text", "lang", "source", "n_chars").map(one)
          .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
      }),

    // Running revenue per return flag — the SKEWED running-total shape: 3
    // groups × 200k rows each would put a third of the table through one
    // window reducer; Positional.groupedPrefixSum range-buckets on the
    // order key instead (two-phase scan), so every window partition is
    // ≈ |table|/shuffle-partitions rows regardless of group skew. Integer
    // cents → the running sum is exact and order-free. A running sum is
    // only well-defined over a TOTAL order, and the synthetic lineitem has
    // duplicate (l_orderkey, l_linenumber) pairs — so the cents are first
    // reduced onto that key (one keyed aggregate), making the order a key
    // and the output engine-independent.
    "q_prefix_sum" -> Q(
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
            round(col("l_extendedprice") * 100).cast("long").as("cents"))
          .groupBy(col("l_returnflag"), col("l_orderkey"),
            col("l_linenumber"))
          .agg(sum(col("cents")).as("cents"))
        Positional.groupedPrefixSum(li, Seq("l_returnflag"),
            Seq(col("l_orderkey"), col("l_linenumber")), col("cents"),
            "run_cents")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
            col("run_cents"))
          .orderBy(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
      },
      Some("""WITH g AS (
             |  SELECT l_returnflag, l_orderkey, l_linenumber,
             |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             |      AS BIGINT) AS cents
             |  FROM lineitem GROUP BY 1, 2, 3)
             |SELECT l_returnflag, l_orderkey, l_linenumber,
             |  CAST(sum(cents) OVER (
             |    PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber
             |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_cents
             |FROM g
             |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin)),

    // Spearman rank correlation per group: average ranks (doubled → exact
    // BIGINT even for tied values: r2 = 2·|smaller| + ties + 1) from
    // grouped value counts + the distributed prefix sum — NO per-group
    // full-table window anywhere — then Pearson on the integer ranks via
    // the q_corr decimal machinery (see [[spearmanRho]]). rho is
    // scale-invariant, so the rank doubling cancels.
    "q_spearman" -> Q(
      (s, dir) =>
        spearmanRho(tbl(s, dir, "lineitem").select(col("l_returnflag"),
            round(col("l_quantity") * 100).cast("long").as("xi"),
            round(col("l_extendedprice") * 100).cast("long").as("yi"),
            lit(1L).as("w")))
          .orderBy(col("l_returnflag")),
      Some("""WITH d AS (
             |  SELECT l_returnflag,
             |    CAST(round(l_quantity * 100) AS BIGINT) AS xi,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS yi
             |  FROM lineitem),
             |r AS (
             |  SELECT l_returnflag,
             |    2 * rank() OVER (PARTITION BY l_returnflag ORDER BY xi)
             |      + count(*) OVER (PARTITION BY l_returnflag, xi) - 1 AS rx,
             |    2 * rank() OVER (PARTITION BY l_returnflag ORDER BY yi)
             |      + count(*) OVER (PARTITION BY l_returnflag, yi) - 1 AS ry
             |  FROM d),
             |s AS (
             |  SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n,
             |    CAST(SUM(CAST(rx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(ry AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(rx*rx AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             |    CAST(SUM(CAST(ry*ry AS DECIMAL(38,0))) AS DOUBLE) AS syy,
             |    CAST(SUM(CAST(rx*ry AS DECIMAL(38,0))) AS DOUBLE) AS sxy
             |  FROM r GROUP BY l_returnflag)
             |SELECT l_returnflag,
             |  (sxy - sx*sy/n)
             |    / (sqrt(sxx - sx*sx/n) * sqrt(syy - sy*sy/n)) AS rho
             |FROM s ORDER BY l_returnflag""".stripMargin)),

    // Per-group OLS (price ~ quantity): slope/intercept/r² from the same
    // exact power sums — one keyed aggregate, formulas evaluated as the
    // IDENTICAL IEEE expression tree in both engines. Cents cancel in the
    // slope (both axes scaled 100×); the intercept unscales by one exact
    // power-of-ten division.
    "q_grouped_ols" -> Q(
      (s, dir) => {
        val d = tbl(s, dir, "lineitem").select(col("l_returnflag"),
          col("l_linestatus"),
          round(col("l_quantity") * 100).cast("long").as("xi"),
          round(col("l_extendedprice") * 100).cast("long").as("yi"))
        val sums = d.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).cast("double").as("n"),
            isum(col("xi")).as("sx"), isum(col("yi")).as("sy"),
            isum(col("xi") * col("xi")).as("sxx"),
            isum(col("yi") * col("yi")).as("syy"),
            isum(col("xi") * col("yi")).as("sxy"))
        val num = col("sxy") - col("sx") * col("sy") / col("n")
        val dxx = col("sxx") - col("sx") * col("sx") / col("n")
        val dyy = col("syy") - col("sy") * col("sy") / col("n")
        sums.select(col("l_returnflag"), col("l_linestatus"),
            (num / dxx).as("slope"),
            ((col("sy") / col("n") - num / dxx * (col("sx") / col("n"))) /
              lit(100.0)).as("intercept"),
            (num * num / (dxx * dyy)).as("r2"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""WITH s AS (
             |  SELECT l_returnflag, l_linestatus,
             |    CAST(count(*) AS DOUBLE) AS n,
             |    CAST(SUM(CAST(xi AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(yi AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(xi*xi AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             |    CAST(SUM(CAST(yi*yi AS DECIMAL(38,0))) AS DOUBLE) AS syy,
             |    CAST(SUM(CAST(xi*yi AS DECIMAL(38,0))) AS DOUBLE) AS sxy
             |  FROM (SELECT l_returnflag, l_linestatus,
             |          CAST(round(l_quantity * 100) AS BIGINT) AS xi,
             |          CAST(round(l_extendedprice * 100) AS BIGINT) AS yi
             |        FROM lineitem)
             |  GROUP BY l_returnflag, l_linestatus)
             |SELECT l_returnflag, l_linestatus,
             |  (sxy - sx*sy/n) / (sxx - sx*sx/n) AS slope,
             |  (sy / n - (sxy - sx*sy/n) / (sxx - sx*sx/n) * (sx / n))
             |    / 100.0 AS intercept,
             |  (sxy - sx*sy/n) * (sxy - sx*sy/n)
             |    / ((sxx - sx*sx/n) * (syy - sy*sy/n)) AS r2
             |FROM s ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Fixed-point integer PageRank (3 iterations) over the ED-1 supplier
    // similarity graph — which near-dup cluster members are most central.
    // Integer ranks make the per-node contribution sums order-free (exact
    // under any partitioning) and bit-identical to the oracle's unrolled
    // iterations; a double PageRank could never hash-match cross-engine.
    "q_pagerank" -> Q(
      (s, dir) => {
        val edges = Fuzzy.edSelfJoin(
            tbl(s, dir, "supplier").select(col("s_suppkey"), col("s_name")),
            "s_suppkey", "s_name")
          .select(col("id1"), col("id2"))
        Graph.pageRankFixedPoint(edges, "id1", "id2", iters = 3)
          .orderBy(col("node"))
      },
      Some {
        val iter = (prev: String, cur: String) =>
          s"""$cur AS (SELECT d.node, d.deg,
             |  (15 * (1000000000000 // (SELECT n FROM p))) // 100
             |    + (85 * s) // 100 AS r
             |  FROM d JOIN (
             |    SELECT e.b AS node, CAST(sum($prev.r // $prev.deg) AS BIGINT) AS s
             |    FROM e JOIN $prev ON e.a = $prev.node GROUP BY e.b) t
             |  USING (node))""".stripMargin
        s"""WITH e0 AS (
           |  SELECT a.s_suppkey AS k1, b.s_suppkey AS k2
           |  FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
           |  WHERE levenshtein(a.s_name, b.s_name) <= 1),
           |e AS (SELECT k1 AS a, k2 AS b FROM e0
           |      UNION ALL SELECT k2, k1 FROM e0),
           |d AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
           |      FROM e GROUP BY a),
           |p AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
           |c0 AS (SELECT node, deg,
           |       1000000000000 // (SELECT n FROM p) AS r FROM d),
           |${iter("c0", "c1")},
           |${iter("c1", "c2")},
           |${iter("c2", "c3")}
           |SELECT node, CAST(r AS BIGINT) AS r FROM c3 ORDER BY node""".stripMargin
      }),

    // BM25 relevance scoring for a fixed query over the corpus — the
    // retrieval building block (inverted-index shape: explode → filter to
    // query terms → per-(doc,term) tf; candidate docs only ever carry
    // counts, never text). Scores are emitted per (doc, term), rounded to
    // 6 decimals, ordered by exact integers only — the q_pipe_tfidf rule:
    // a ranking must never depend on cross-engine ln() ulp, so top-k
    // SELECTION (orderBy(score).limit(k) → TakeOrdered, scale-safe) is
    // runtime composition, not part of the pinned gate.
    "q_bm25" -> Q(
      (s, dir) => {
        val terms = Seq("spark", "join", "window")
        val d = tbl(s, dir, "documents")
        val dl = d.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("dl"),
          split(col("text"), " ").as("w"))
        val tf = dl.select(col("doc_id"), col("dl"),
            explode(col("w")).as("tok"))
          .filter(col("tok").isin(terms: _*))
          .groupBy(col("doc_id"), col("dl"), col("tok"))
          .agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        val stats = d.agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("sum_dl"))
        tf.join(dfreq, "tok").crossJoin(broadcast(stats))
          .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("dl"),
            round(
              log(lit(1.0) +
                (col("n_docs") - col("df") + lit(0.5)) /
                  (col("df") + lit(0.5))) *
              (col("tf") * lit(2.2)) /
              (col("tf") + lit(1.2) *
                (lit(0.25) + lit(0.75) * col("dl") /
                  (col("sum_dl") / col("n_docs")))), 6).as("score"))
          .orderBy(col("doc_id"), col("tok"))
      },
      Some("""WITH dl AS (
             |  SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
             |  FROM documents),
             |toks AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |tf AS (
             |  SELECT doc_id, tok, count(*) AS tf FROM toks
             |  WHERE tok IN ('spark', 'join', 'window') GROUP BY 1, 2),
             |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
             |st AS (SELECT count(*) AS n_docs,
             |       CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl)
             |SELECT tf.doc_id, tf.tok, tf.tf, df.df, dl.dl,
             |  ROUND(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
             |    * (tf * 2.2)
             |    / (tf + 1.2 * (0.25 + 0.75 * dl / (sum_dl / n_docs))), 6)
             |    AS score
             |FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), st
             |ORDER BY doc_id, tok""".stripMargin)),

    // Bigram language model over the corpus: adjacent-token pair counts +
    // conditional probability P(w2|w1) = c12/c1 — the statistic LM-based
    // quality filters score against. Pairs come from zip_with over two
    // array slices (no per-token window, no posexplode self-join); the
    // top-50 emission orders on exact integers (count DESC, then lexical)
    // and the probability is one bigint→double division — bit-identical
    // cross-engine, no rounding needed.
    "q_pipe_bigram_lm" -> Q(
      (s, dir) => {
        val d = tbl(s, dir, "documents")
        val w = split(col("text"), " ")
        val pairs = d.select(
            explode(zip_with(
              slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
              (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
          .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        val bg = pairs.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("c12"))
        val un = bg.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
        bg.join(un, "w1")
          .select(col("w1"), col("w2"), col("c12"), col("c1"),
            (col("c12") / col("c1")).as("p_cond"))
          .orderBy(col("c12").desc, col("w1"), col("w2"))
          .limit(50)
      },
      Some("""WITH w AS (
             |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |bg0 AS (
             |  SELECT w[i] AS w1, w[i + 1] AS w2
             |  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM w)),
             |bg AS (SELECT w1, w2, count(*) AS c12 FROM bg0 GROUP BY 1, 2),
             |un AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
             |       FROM bg GROUP BY 1)
             |SELECT bg.w1, bg.w2, c12, c1, c12 / c1 AS p_cond
             |FROM bg JOIN un USING (w1)
             |ORDER BY c12 DESC, bg.w1, w2 LIMIT 50""".stripMargin)),

    // PPMI word-association scores (positive pointwise mutual information,
    // the classic distributional-semantics statistic): co-occurrence pairs
    // within a ±2 token window via zip_with over array slices (narrow — no
    // per-token window, no posexplode self-join), symmetrized, then
    // PPMI = max(0, ln(c_xy·N / (r_x·r_y))) against the co-occurrence
    // marginals. All four operands cast exactly to double (< 2⁵³) so the
    // ratio is the identical IEEE tree both engines; ln is the one
    // transcendental → round-6 emission, ranking on exact integers only
    // (the q_bm25 rule).
    "q_pipe_ppmi" -> Q(
      (s, dir) => {
        val d = tbl(s, dir, "documents")
        val w = split(col("text"), " ")
        def off(k: Int) = zip_with(
          slice(w, lit(1), greatest(size(w) - k, lit(0))),
          slice(w, lit(1 + k), greatest(size(w) - k, lit(0))),
          (a, b) => struct(a.as("x"), b.as("y")))
        val p0 = d.select(explode(concat(off(1), off(2))).as("p"))
          .select(col("p.x").as("x"), col("p.y").as("y"))
        val p = p0.union(p0.select(col("y").as("x"), col("x").as("y")))
        val c = p.groupBy(col("x"), col("y")).agg(count(lit(1)).as("cxy"))
        val r = c.groupBy(col("x")).agg(sum(col("cxy")).as("rx"))
        val n = c.agg(sum(col("cxy")).as("nn"))
        c.join(r, "x")
          .join(r.select(col("x").as("y"), col("rx").as("ry")), "y")
          .crossJoin(broadcast(n))
          .select(col("x"), col("y"), col("cxy"),
            round(greatest(lit(0.0),
              log((col("cxy").cast("double") * col("nn").cast("double")) /
                (col("rx").cast("double") * col("ry").cast("double")))), 6)
              .as("ppmi"))
          .orderBy(col("cxy").desc, col("x"), col("y"))
          .limit(100)
      },
      Some("""WITH wd AS (
             |  SELECT string_split(text, ' ') AS w FROM documents),
             |p0 AS (
             |  SELECT w[i] AS x, w[i + 1] AS y
             |  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM wd)
             |  UNION ALL
             |  SELECT w[i], w[i + 2]
             |  FROM (SELECT w, unnest(range(1, len(w) - 1)) AS i FROM wd)),
             |p AS (SELECT x, y FROM p0 UNION ALL SELECT y, x FROM p0),
             |c AS (SELECT x, y, count(*) AS cxy FROM p GROUP BY 1, 2),
             |r AS (SELECT x, CAST(sum(cxy) AS BIGINT) AS rx FROM c
             |      GROUP BY 1),
             |n AS (SELECT CAST(sum(cxy) AS BIGINT) AS nn FROM c)
             |SELECT c.x, c.y, cxy,
             |  round(greatest(0.0,
             |    ln((CAST(cxy AS DOUBLE) * CAST(nn AS DOUBLE)) /
             |        (CAST(rx AS DOUBLE) * CAST(ry AS DOUBLE)))), 6) AS ppmi
             |FROM c JOIN r USING (x)
             |JOIN (SELECT x AS y, rx AS ry FROM r) USING (y), n
             |ORDER BY cxy DESC, x, y LIMIT 100""".stripMargin)),

    // Expanding (cumulative) mean — pandas expanding().mean() at scale:
    // BOTH running sums (value cents and row count) come from the same
    // skew-proof two-phase prefix sum, so no per-group single-reducer
    // window exists anywhere; the mean is one exact-int → double division,
    // bit-identical cross-engine.
    "q_expanding" -> Q(
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
            round(col("l_extendedprice") * 100).cast("long").as("cents"))
          .groupBy(col("l_returnflag"), col("l_orderkey"),
            col("l_linenumber"))
          .agg(sum(col("cents")).as("cents"), count(lit(1)).as("n"))
        Positional.groupedPrefixSums(li, Seq("l_returnflag"),
            Seq(col("l_orderkey"), col("l_linenumber")),
            Seq(col("cents") -> "run_cents", col("n") -> "run_n"))
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
            (col("run_cents") / col("run_n")).as("exp_mean_cents"))
          .orderBy(col("l_returnflag"), col("l_orderkey"),
            col("l_linenumber"))
      },
      Some("""WITH g AS (
             |  SELECT l_returnflag, l_orderkey, l_linenumber,
             |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             |      AS BIGINT) AS cents,
             |    count(*) AS n
             |  FROM lineitem GROUP BY 1, 2, 3)
             |SELECT l_returnflag, l_orderkey, l_linenumber,
             |  CAST(sum(cents) OVER w AS BIGINT)
             |    / CAST(sum(n) OVER w AS BIGINT) AS exp_mean_cents
             |FROM g
             |WINDOW w AS (PARTITION BY l_returnflag
             |  ORDER BY l_orderkey, l_linenumber ROWS UNBOUNDED PRECEDING)
             |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin)),

    // Fixed-size deterministic stratified sample: EXACTLY min(n, |stratum|)
    // docs per source, selected by md5 order — the "give me 50 audit docs
    // per source" sampler beside q_pipe_sample's rate-based hash filter.
    // The md5 hex string is identical in both engines (lowercase, same
    // int→string rendering), the per-stratum window is keyed by source
    // (parallel), and WindowGroupLimit prunes rows past n before the sort
    // materializes a full stratum.
    "q_pipe_fixed_sample" -> Q(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(md5(col("doc_id").cast("string").cast("binary")),
            col("doc_id"))
        tbl(s, dir, "documents")
          .select(col("doc_id"), col("source"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 50)
          .select(col("doc_id"), col("source"), col("rk"))
          .orderBy(col("source"), col("rk"))
      },
      Some("""SELECT doc_id, source, rk FROM (
             |  SELECT doc_id, source, row_number() OVER (
             |    PARTITION BY source
             |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
             |  FROM documents) t
             |WHERE rk <= 50 ORDER BY source, rk""".stripMargin)),

    // Join pre-flight report (operators.Profile.joinStats): exact
    // row/distinct/matched counts, the exact output cardinality
    // Σ cl·cr, and the worst single key's cl·cr — the planning-time
    // numbers that decide broadcast vs shuffle vs salt before a 100 TB
    // join runs. Cost is two keyed count aggregates + one key-sized join.
    "q_join_stats" -> Q(
      (s, dir) => graft.operators.Profile.joinStats(
        tbl(s, dir, "lineitem"), "l_orderkey",
        tbl(s, dir, "orders"), "o_orderkey"),
      Some("""WITH cl AS (
             |  SELECT l_orderkey AS k, count(*) AS cl FROM lineitem
             |  GROUP BY 1),
             |cr AS (
             |  SELECT o_orderkey AS k, count(*) AS cr FROM orders
             |  GROUP BY 1)
             |SELECT
             |  CAST(coalesce(sum(cl), 0) AS BIGINT) AS n_left,
             |  CAST(coalesce(sum(cr), 0) AS BIGINT) AS n_right,
             |  count(cl) AS nd_left,
             |  count(cr) AS nd_right,
             |  CAST(sum(CASE WHEN cl IS NOT NULL AND cr IS NOT NULL
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_matched_keys,
             |  CAST(coalesce(sum(cl * cr), 0) AS BIGINT) AS join_rows,
             |  CAST(coalesce(max(cl * cr), 0) AS BIGINT) AS max_key_rows
             |FROM cl FULL OUTER JOIN cr USING (k)""".stripMargin)),

    // Benford leading-digit audit — the forensic data-quality check for
    // fabricated numeric columns: observed leading-digit frequency of
    // l_extendedprice vs the Benford expectation log10(1+1/d). The digit
    // comes from the integer |CENTS| string (scaling by 100 never changes
    // the leading significand digit, and abs() first means a negative
    // value can never surface '-' as the "digit" — Spark would cast that
    // to NULL where DuckDB raises, a latent cross-engine divergence if the
    // gate is ever retargeted at a signed column); zero amounts carry no
    // leading digit and are excluded on both sides, per Benford
    // convention. Observed freq is one bigint→double division
    // (bit-identical, no rounding); only the expected curve (a
    // transcendental) rounds to 6. The 1-row total broadcasts (allowed
    // BNLJ shape).
    "q_benford" -> Q(
      (s, dir) => {
        val d = tbl(s, dir, "lineitem")
          .select(substring(abs(round(col("l_extendedprice") * 100)
            .cast("long")).cast("string"), 1, 1).cast("int").as("digit"))
          .filter(col("digit").between(1, 9))
        val c = d.groupBy(col("digit")).agg(count(lit(1)).as("n"))
        val tot = c.agg(sum(col("n")).as("total"))
        c.crossJoin(broadcast(tot))
          .select(col("digit"), col("n"),
            (col("n") / col("total")).as("freq"),
            round(log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0)),
              6).as("benford"))
          .orderBy(col("digit"))
      },
      Some("""WITH d AS (
             |  SELECT CAST(substring(CAST(abs(CAST(round(l_extendedprice
             |    * 100) AS BIGINT)) AS VARCHAR), 1, 1) AS INT) AS digit
             |  FROM lineitem),
             |c AS (SELECT digit, count(*) AS n FROM d
             |      WHERE digit BETWEEN 1 AND 9 GROUP BY 1),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
             |SELECT digit, n, n / total AS freq,
             |  round(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS benford
             |FROM c, t ORDER BY digit""".stripMargin)),

    // Sorted-neighborhood record linkage (see Fuzzy.sortedNeighborhood):
    // the tunable-budget blocking family beside q_fuzzy_join's complete
    // deletion blocking — n·w candidate pairs by construction, positions
    // from the sampled-splits machinery, pairing as an equi-join on the
    // position block. Window 8 on ~ambiguous supplier names; the spec pins
    // SNM ⊆ deletion-blocking pairs (same verify predicate, lossy window).
    "q_snm_join" -> Q(
      (s, dir) => {
        val got = graft.operators.Fuzzy.sortedNeighborhood(
          tbl(s, dir, "supplier").select(col("s_suppkey"), col("s_name")),
          "s_suppkey", "s_name", w = 8)
        got.select(col("id1").as("k1"), col("id2").as("k2"),
            col("ed").cast("long").as("ed"))
          .orderBy(col("k1"), col("k2"))
      },
      Some("""WITH p AS (
             |  SELECT s_suppkey AS id, s_name AS s,
             |    row_number() OVER (ORDER BY s_name, s_suppkey) AS pos
             |  FROM supplier),
             |c AS (
             |  SELECT a.id AS ida, b.id AS idb, a.s AS sa, b.s AS sb
             |  FROM p a JOIN p b
             |    ON b.pos > a.pos AND b.pos <= a.pos + 8)
             |SELECT least(ida, idb) AS k1, greatest(ida, idb) AS k2,
             |  CAST(levenshtein(sa, sb) AS BIGINT) AS ed
             |FROM c WHERE levenshtein(sa, sb) <= 1
             |ORDER BY k1, k2""".stripMargin)),

    // Data-quality constraint report (the deequ-style verification suite a
    // pipeline runs before trusting a corpus drop): completeness,
    // key uniqueness, referential integrity, value domain, and minimum
    // length — each check ONE tiny aggregate (the referential check is one
    // left hash join + aggregate; nothing fans out), unioned into a
    // 5-row report. All counts exact integers; `ok` is a pure comparison.
    "q_quality_checks" -> Q(
      (s, dir) => {
        def report(name: String, d: DataFrame, bad: Column): DataFrame =
          d.agg(bad.as("n_bad"), count(lit(1)).as("n_rows"))
            .select(lit(name).as("check_name"), col("n_bad"), col("n_rows"))
        val li = tbl(s, dir, "lineitem")
        val sup = tbl(s, dir, "supplier")
        val ev = tbl(s, dir, "events")
        val docs = tbl(s, dir, "documents")
        val refJoin = tbl(s, dir, "orders").select(col("o_custkey"))
          .join(tbl(s, dir, "customer").select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left")
        Seq(
          report("lineitem.l_orderkey.complete", li,
            count(lit(1)) - count(col("l_orderkey"))),
          report("supplier.s_suppkey.unique", sup,
            count(lit(1)) - countDistinct(col("s_suppkey"))),
          report("orders.o_custkey.referential", refJoin,
            count(lit(1)) - count(col("c_custkey"))),
          report("events.event_type.domain", ev,
            sum(when(!col("event_type").isin(
              "view", "click", "purchase", "signup"), 1L).otherwise(0L))),
          report("documents.text.min_length_200", docs,
            sum(when(length(col("text")) < 200, 1L).otherwise(0L))))
          .reduce(_ unionByName _)
          .select(col("check_name"), col("n_bad"), col("n_rows"),
            (col("n_bad") === 0).as("ok"))
          .orderBy(col("check_name"))
      },
      Some("""SELECT check_name, n_bad, n_rows, n_bad = 0 AS ok FROM (
             |  SELECT 'lineitem.l_orderkey.complete' AS check_name,
             |    count(*) - count(l_orderkey) AS n_bad,
             |    count(*) AS n_rows FROM lineitem
             |  UNION ALL
             |  SELECT 'supplier.s_suppkey.unique',
             |    count(*) - count(DISTINCT s_suppkey), count(*)
             |  FROM supplier
             |  UNION ALL
             |  SELECT 'orders.o_custkey.referential',
             |    count(*) - count(c.c_custkey), count(*)
             |  FROM orders o LEFT JOIN customer c
             |    ON o.o_custkey = c.c_custkey
             |  UNION ALL
             |  SELECT 'events.event_type.domain',
             |    CAST(sum(CASE WHEN event_type NOT IN
             |      ('view', 'click', 'purchase', 'signup')
             |      THEN 1 ELSE 0 END) AS BIGINT), count(*)
             |  FROM events
             |  UNION ALL
             |  SELECT 'documents.text.min_length_200',
             |    CAST(sum(CASE WHEN len(text) < 200 THEN 1 ELSE 0 END)
             |      AS BIGINT), count(*)
             |  FROM documents) t
             |ORDER BY check_name""".stripMargin))
  )
}
