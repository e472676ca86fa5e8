package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Graph, Positional, Profile}

/** Unit coverage for the analytics layer: grouped prefix sum (vs the naive
  * window), fixed-point PageRank (vs a hand-unrolled tiny graph), the
  * profiling reduction, and the rank/regression/retrieval gate invariants.
  * Cross-engine value equality is covered by the DuckDB oracle gates; these
  * pin the algebra and the scale-plan shape.
  */
class AnalyticsSpec extends SparkTestBase {

  import spark.implicits._

  test("groupedPrefixSum equals the naive per-group running sum") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 500).map { i =>
      (s"g${rnd.nextInt(3)}", rnd.nextInt(100000), i, rnd.nextInt(1000).toLong)
    }
    // (grp, k1, k2) is a key because k2 = i is unique
    val df = rows.toDF("grp", "k1", "k2", "v").repartition(7)
    val got = Positional.groupedPrefixSum(df, Seq("grp"),
        Seq(col("k1"), col("k2")), col("v"), "run")
      .select($"grp", $"k1", $"k2", $"run")
    val naive = df.withColumn("run",
        sum($"v").over(Window.partitionBy($"grp").orderBy($"k1", $"k2")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"grp", $"k1", $"k2", $"run")
    assert(got.except(naive).isEmpty && naive.except(got).isEmpty)
    assert(got.count() === 500)
  }

  test("groupedPrefixSums: N running sums share ONE raw-row window and " +
      "equal N single passes") {
    val rnd = new scala.util.Random(13)
    val df = (1 to 300).map { i =>
      (s"g${rnd.nextInt(3)}", i, rnd.nextInt(100).toLong, rnd.nextInt(9) + 1L)
    }.toDF("grp", "o", "a", "b").repartition(5)
    val both = Positional.groupedPrefixSums(df, Seq("grp"), Seq(col("o")),
      Seq(col("a") -> "ra", col("b") -> "rb"))
    val sa = Positional.groupedPrefixSum(df, Seq("grp"), Seq(col("o")),
      col("a"), "ra").select($"grp", $"o", $"ra")
    val sb = Positional.groupedPrefixSum(df, Seq("grp"), Seq(col("o")),
      col("b"), "rb").select($"grp", $"o", $"rb")
    val joined = sa.join(sb, Seq("grp", "o"))
    val bothP = both.select($"grp", $"o", $"ra", $"rb")
    assert(bothP.except(joined).isEmpty && joined.except(bothP).isEmpty)
    // one Window node over the raw rows carries BOTH running frames
    val wins = both.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    val overRaw = wins.filterNot(_.child.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.Aggregate])
    assert(overRaw.size === 1, s"expected one raw-row window:\n$wins")
    assert(overRaw.head.windowExpressions.size === 2)
  }

  test("groupedPrefixSum keeps NULL-group rows (null-safe offsets join)") {
    val df = Seq((Some("g"), 1, 10L), (None, 2, 5L), (None, 3, 7L),
      (Some("g"), 4, 1L)).toDF("grp", "o", "v").repartition(3)
    val got = Positional.groupedPrefixSum(df, Seq("grp"), Seq(col("o")),
        col("v"), "run")
      .select($"grp", $"o", $"run")
      .collect().map(r => (Option(r.getString(0)), r.getInt(1),
        r.getLong(2))).toSet
    // the naive window keeps NULL as a real group; so must we
    assert(got === Set((Some("g"), 1, 10L), (None, 2, 5L), (None, 3, 12L),
      (Some("g"), 4, 11L)))
  }

  test("groupedPrefixSum window partitions are bucketed, not per-group") {
    // The whole point: no window partition spec of (grp) alone anywhere in
    // the plan — every running-sum window must include the bucket column,
    // so one hot group can never serialize through one reducer.
    val df = (1 to 200).map(i => ("hot", i, i.toLong)).toDF("grp", "k", "v")
    val out = Positional.groupedPrefixSum(df, Seq("grp"), Seq(col("k")),
      col("v"), "run")
    val windows = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    // every window over the unreduced rows carries >= 2 partition exprs
    // (grp + bucket); the offsets cumsum runs over the reduced aggregate
    val overRaw = windows.filterNot(w =>
      w.child.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate])
    assert(overRaw.forall(_.partitionSpec.size >= 2),
      s"raw-row window partitioned by group alone:\n${overRaw.mkString("\n")}")
  }

  test("pageRankFixedPoint matches a hand-unrolled path graph") {
    // path 1-2-3 (undirected): deg(1)=deg(3)=1, deg(2)=2
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val got = Graph.pageRankFixedPoint(edges, "id1", "id2", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // same integer recurrence on the driver
    val scale = 1000000000000L
    val deg = Map(1L -> 1L, 2L -> 2L, 3L -> 1L)
    val nbr = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(2L))
    val r0v = scale / 3
    val tele = (15L * r0v) / 100L
    var r = Map(1L -> r0v, 2L -> r0v, 3L -> r0v)
    for (_ <- 1 to 3)
      r = r.map { case (nd, _) =>
        nd -> (tele + (85L * nbr(nd).map(j => r(j) / deg(j)).sum) / 100L)
      }
    assert(got === r)
    // the center of the path must out-rank the endpoints
    assert(got(2L) > got(1L) && got(1L) === got(3L))
  }

  test("pageRankFixedPoint on an empty edge list is empty, not a crash") {
    val edges = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Graph.pageRankFixedPoint(edges, "id1", "id2").count() === 0)
  }

  test("pageRank mass is conserved up to truncation") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("id1", "id2")
    val total = Graph.pageRankFixedPoint(edges, "id1", "id2", iters = 4)
      .agg(sum($"r")).head.getLong(0)
    val scale = 1000000000000L
    // each div truncates < 1 unit per node per iteration; bound is loose
    assert(total <= scale && total > scale - 1000L)
  }

  test("profile counts nulls, distincts, and min/max per column") {
    val df = Seq(
      (Some(1), Some("b")), (Some(1), None), (Some(3), Some("a")),
      (None, Some("a"))).toDF("x", "s")
    val got = Profile.profile(df, Seq("x", "s")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4),
          r.getString(5))).toMap
    assert(got("x") === ((4L, 1L, 2L, "1", "3")))
    assert(got("s") === ((4L, 1L, 2L, "a", "b")))
    // approx variant keeps the same shape and exact nulls
    val approx = Profile.profile(df, Seq("x"), exact = false).head()
    assert(approx.getLong(2) === 1L && approx.getLong(3) > 0L)
  }

  /** Driver-side reference Spearman (textbook definition: Pearson over
    * average ranks) for the collected fixture. */
  private def refSpearman(xs: Seq[Long], ys: Seq[Long]): Double = {
    def avgRanks(v: Seq[Long]): Seq[Double] = {
      val byVal = v.sorted.zipWithIndex.groupBy(_._1)
        .map { case (x, g) => x -> (g.map(_._2 + 1).sum.toDouble / g.size) }
      v.map(byVal)
    }
    val (rx, ry) = (avgRanks(xs), avgRanks(ys))
    val n = rx.size.toDouble
    val (sx, sy) = (rx.sum, ry.sum)
    val sxy = rx.zip(ry).map { case (a, b) => a * b }.sum
    val sxx = rx.map(a => a * a).sum
    val syy = ry.map(a => a * a).sum
    (sxy - sx * sy / n) /
      (math.sqrt(sxx - sx * sx / n) * math.sqrt(syy - sy * sy / n))
  }

  test("q_spearman matches a driver-side textbook Spearman per group") {
    val got = SparkEntry.queries("q_spearman")(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.nonEmpty)
    val data = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select($"l_returnflag",
        round($"l_quantity" * 100).cast("long"),
        round($"l_extendedprice" * 100).cast("long"))
      .collect()
      .groupBy(_.getString(0))
    for ((g, rows) <- data) {
      val want = refSpearman(rows.map(_.getLong(1)).toSeq,
        rows.map(_.getLong(2)).toSeq)
      assert(math.abs(got(g) - want) < 1e-9,
        s"group $g: got ${got(g)}, reference $want")
      assert(got(g) >= -1.0 && got(g) <= 1.0)
    }
  }

  test("spearmanRho stays exact past 2^63 rank products in a tie-heavy group") {
    // each row stands for w identical rows: group A holds ~2·10⁹ rows in
    // two tie groups of 10⁹, so doubled ranks reach ~4·10⁹ and rx·rx,
    // c·ry·ry pass 2⁶³ — an ANSI overflow error if multiplied in LONG
    val rows = Seq(
      ("A", 10L, 5L, 1000000000L), ("A", 20L, 7L, 1000000000L),
      ("A", 30L, 5L, 3L), ("A", 40L, 9L, 2L), ("A", 5L, 7L, 1L),
      ("B", 1L, 2L, 1L), ("B", 2L, 1L, 1L), ("B", 3L, 3L, 2L))
    val got = graft.queries.Analytics
      .spearmanRho(rows.toDF("l_returnflag", "xi", "yi", "w")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // exact reference: Pearson over the weighted doubled average ranks
    // 2·|smaller| + ties + 1, in BigInt
    def ranks(vw: Seq[(Long, Long)]): Map[Long, BigInt] = {
      val c = vw.groupMapReduce(_._1)(x => BigInt(x._2))(_ + _)
      c.keys.map(v => v -> (2 * c.filter(_._1 < v).values.sum + c(v) + 1)).toMap
    }
    for ((g, rs) <- rows.groupBy(_._1)) {
      val rx = ranks(rs.map(r => (r._2, r._4)))
      val ry = ranks(rs.map(r => (r._3, r._4)))
      def sum(f: ((String, Long, Long, Long)) => BigInt) =
        rs.map(r => BigInt(r._4) * f(r)).sum
      val n = sum(_ => 1)
      val (sx, sy) = (sum(r => rx(r._2)), sum(r => ry(r._3)))
      val sxx = sum(r => rx(r._2) * rx(r._2))
      val syy = sum(r => ry(r._3) * ry(r._3))
      val sxy = sum(r => rx(r._2) * ry(r._3))
      val want = (n * sxy - sx * sy).toDouble /
        math.sqrt((n * sxx - sx * sx).toDouble * (n * syy - sy * sy).toDouble)
      assert(math.abs(got(g) - want) < 1e-9, s"group $g: got ${got(g)}, want $want")
    }
  }

  test("q_grouped_ols matches a driver-side least-squares fit") {
    val got = SparkEntry.queries("q_grouped_ols")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.nonEmpty)
    val data = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select($"l_returnflag", $"l_linestatus",
        $"l_quantity".cast("double"), $"l_extendedprice".cast("double"))
      .collect().groupBy(r => (r.getString(0), r.getString(1)))
    for ((k, rows) <- data) {
      val xs = rows.map(_.getDouble(2)); val ys = rows.map(_.getDouble(3))
      val n = xs.length.toDouble
      val (mx, my) = (xs.sum / n, ys.sum / n)
      val sxy = xs.zip(ys).map { case (a, b) => (a - mx) * (b - my) }.sum
      val sxx = xs.map(a => (a - mx) * (a - mx)).sum
      val syy = ys.map(a => (a - my) * (a - my)).sum
      val slope = sxy / sxx
      val intercept = my - slope * mx
      val r2 = sxy * sxy / (sxx * syy)
      val (gs, gi, gr2) = got(k)
      assert(math.abs(gs - slope) < 1e-6 * math.max(1, math.abs(slope)),
        s"$k slope: got $gs want $slope")
      assert(math.abs(gi - intercept) <
        1e-6 * math.max(1, math.abs(intercept)),
        s"$k intercept: got $gi want $intercept")
      assert(math.abs(gr2 - r2) < 1e-9 && gr2 >= 0.0 && gr2 <= 1.0)
    }
  }

  test("q_bm25: positive scores; rarer term out-scores common term at " +
      "equal tf and dl") {
    val rows = SparkEntry.queries("q_bm25")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getDouble(5) > 0.0))
    // group rows by (tf, dl): within one, score must rise as df falls —
    // the idf monotonicity that makes BM25 a retrieval score
    val byKey = rows.groupBy(r => (r.getLong(2), r.getLong(4)))
      .filter(_._2.map(_.getLong(3)).distinct.size > 1)
    assert(byKey.nonEmpty, "fixture should have comparable (tf, dl) pairs")
    for ((_, g) <- byKey) {
      val sorted = g.sortBy(_.getLong(3)).map(_.getDouble(5)).toSeq // df asc
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b },
        "score must be non-increasing in df at fixed (tf, dl)")
    }
  }

  test("q_pipe_bigram_lm: conditional probabilities are consistent") {
    val rows = SparkEntry.queries("q_pipe_bigram_lm")(spark, sf0001).collect()
    assert(rows.size <= 50 && rows.nonEmpty)
    for (r <- rows) {
      val (c12, c1, p) = (r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(c12 <= c1 && p === c12.toDouble / c1)
      assert(p > 0.0 && p <= 1.0)
    }
    // top-50 emission is count-ordered
    val counts = rows.map(_.getLong(2)).toSeq
    assert(counts === counts.sortBy(-_))
  }

  test("q_profile gate: one row per column, n_rows consistent") {
    val rows = SparkEntry.queries("q_profile")(spark, sf0001).collect()
    assert(rows.map(_.getString(0)).toSeq ===
      Seq("doc_id", "lang", "n_chars", "source", "text"))
    assert(rows.map(_.getLong(1)).distinct.size === 1) // same table
    // doc_id is a key: distinct == rows, no nulls
    val docId = rows.find(_.getString(0) == "doc_id").get
    assert(docId.getLong(2) === 0L && docId.getLong(3) === docId.getLong(1))
  }

  test("q_transitions: rows are a stochastic matrix over observed pairs") {
    val rows = SparkEntry.queries("q_transitions")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // P(next|cur) sums to exactly 1 per cur (n_pair partitions n_from)
    val byCur = rows.groupBy(_.getString(0))
    for ((cur, g) <- byCur) {
      assert(g.map(_.getLong(2)).sum === g.head.getLong(3),
        s"$cur: pair counts must partition n_from")
      assert(math.abs(g.map(_.getDouble(4)).sum - 1.0) < 1e-9)
    }
    // pair count conservation: Σ n_pair = Σ per-user (len-1)
    val ev = spark.read.parquet(s"$sf0001/events.parquet")
      .groupBy($"user_id").count().collect()
    assert(rows.map(_.getLong(2)).sum ===
      ev.map(r => r.getLong(1) - 1).sum)
  }

  test("q_pipe_ppmi: scores non-negative, counts symmetric") {
    val rows = SparkEntry.queries("q_pipe_ppmi")(spark, sf0001).collect()
    assert(rows.nonEmpty && rows.size <= 100)
    assert(rows.forall(_.getDouble(3) >= 0.0))
    // symmetrized counts: whenever BOTH orientations survive the top-100
    // cut they must agree (the cut is on count, so equal counts co-survive
    // unless the lexical tie-break splits them at the boundary — compare
    // only pairs whose count is strictly above the boundary count)
    val boundary = rows.map(_.getLong(2)).min
    val m = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    for (((x, y), c) <- m if c > boundary)
      assert(m.get((y, x)).contains(c), s"asymmetric count for ($x,$y)")
  }

  test("q_islands: streaks are maximal consecutive day runs") {
    val rows = SparkEntry.queries("q_islands")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    for ((_, s, e, n) <- rows) assert(e - s + 1 === n) // consecutive run
    // maximality: adjacent streaks of one user never touch
    for ((_, g) <- rows.groupBy(_._1)) {
      val sorted = g.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, _, e1, _), (_, s2, _, _)) => assert(s2 > e1 + 1)
        case _ => ()
      }
    }
    // coverage: total streak days == distinct active (user, day) pairs
    val dayNs = 86400L * 1000 * 1000 * 1000
    val distinctDays = graft.queries
      .canonicalizeTime(spark.read.parquet(s"$sf0001/events.parquet"))
      .select($"user_id", expr(s"ts div ${dayNs}L").as("day"))
      .distinct().count()
    assert(rows.map(_._4).sum === distinctDays)
  }

  test("q_attribution: revenue conserves over touches incl. the -1 bucket") {
    val rows = SparkEntry.queries("q_attribution")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val totalN = rows.map(_.getLong(1)).sum
    val totalRev = rows.map(r => BigDecimal(r.getDouble(2))).sum
    val p = spark.read.parquet(s"$sf0001/events.parquet")
      .filter($"event_type" === "purchase")
    assert(totalN === p.count())
    val want = p.agg(sum($"value".cast("decimal(38,6)"))).head
      .getDecimal(0)
    // per-touch sums are exact decimals cast once to double; their sum
    // re-accumulates in BigDecimal so only the per-bucket cast rounds
    assert((totalRev - BigDecimal(want)).abs < 1e-3)
  }

  test("q_robust_outlier: flags exactly the driver-computed MAD outliers") {
    val got = SparkEntry.queries("q_robust_outlier")(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    val p = spark.read.parquet(s"$sf0001/events.parquet")
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", round($"value" * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def med2(v: Seq[Long]): Long = { // median on a doubled scale: integer
      val s = v.sorted.map(_ * 2)
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val want = p.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      val m2 = med2(rows.map(_._3).toSeq)
      val devs2 = rows.map(r => math.abs(r._3 * 2 - m2))
      val mad4 = med2(devs2.toSeq) // doubles again inside: the ×4 scale
      rows.zip(devs2).collect {
        case ((id, _, _), d2) if d2 * 20000L > 3L * 14826L * mad4 => id
      }.toSeq
    }.toSet
    assert(got === want)
  }

  test("q_ewm matches the driver-side pandas ewm(alpha=.5, adjust=False) " +
      "recursion bit-for-bit") {
    val got = SparkEntry.queries("q_ewm")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.nonEmpty)
    val ref = graft.queries
      .canonicalizeTime(spark.read.parquet(s"$sf0001/events.parquet"))
      .filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id", $"value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
      .map { case (u, rows) =>
        val xs = rows.sortBy(r => (r._2, r._3)).map(_._4)
        u -> xs.tail.foldLeft(xs.head)((s, x) => (s + x) / 2.0)
      }
    // exact equality: the fold is sequential and identically ordered
    assert(got === ref)
  }

  test("q_expanding equals the naive per-group expanding mean") {
    val got = SparkEntry.queries("q_expanding")(spark, sf0001)
    val li = graft.queries.tbl(spark, sf0001, "lineitem")
      .select($"l_returnflag", $"l_orderkey", $"l_linenumber",
        round($"l_extendedprice" * 100).cast("long").as("cents"))
      .groupBy($"l_returnflag", $"l_orderkey", $"l_linenumber")
      .agg(sum($"cents").as("cents"), count(lit(1)).as("n"))
    val w = Window.partitionBy($"l_returnflag")
      .orderBy($"l_orderkey", $"l_linenumber")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = li.select($"l_returnflag", $"l_orderkey", $"l_linenumber",
      (sum($"cents").over(w) / sum($"n").over(w)).as("exp_mean_cents"))
    assert(got.except(naive).isEmpty && naive.except(got).isEmpty)
  }

  test("q_pipe_fixed_sample: exactly min(50, |stratum|) per source, " +
      "deterministic") {
    val rows = SparkEntry.queries("q_pipe_fixed_sample")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val strata = graft.queries.tbl(spark, sf0001, "documents")
      .groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bySource = rows.groupBy(_._2)
    assert(bySource.keySet === strata.keySet)
    for ((src, g) <- bySource) {
      assert(g.length === math.min(50L, strata(src)))
      assert(g.map(_._3).sorted.toSeq === (1 to g.length).toSeq)
    }
    // determinism: re-run yields the identical sample
    val again = SparkEntry.queries("q_pipe_fixed_sample")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(rows.toSeq === again.toSeq)
  }

  test("q_entropy: bounded by ln(|event types|), zero iff one type") {
    val rows = SparkEntry.queries("q_entropy")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val nTypes = graft.queries.tbl(spark, sf0001, "events")
      .select($"event_type").distinct().count()
    for (r <- rows) {
      val h = r.getDouble(2)
      assert(h >= 0.0 && h <= math.log(nTypes.toDouble) + 1e-6,
        s"user ${r.getLong(0)}: entropy $h outside [0, ln($nTypes)]")
    }
  }

  test("q_benford: digits 1-9, frequencies sum to 1, expectation sums " +
      "to 1") {
    val rows = SparkEntry.queries("q_benford")(spark, sf0001).collect()
    val digits = rows.map(_.getInt(0)).toSet
    assert(digits.subsetOf((1 to 9).toSet) && digits.nonEmpty)
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-9)
    // full Benford curve sums to 1 when all nine digits are present
    if (digits === (1 to 9).toSet)
      assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-5)
  }

  test("joinStats predicts the exact join output and flags the hot key") {
    val left = Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (3L, "e"),
      (3L, "f")).toDF("k", "v")
    val right = Seq((1L, "x"), (3L, "y"), (3L, "z"), (9L, "w"))
      .toDF("k", "w")
    val st = Profile.joinStats(left, "k", right, "k").head()
    assert(st.getLong(0) === 6L && st.getLong(1) === 4L) // rows
    assert(st.getLong(2) === 3L && st.getLong(3) === 3L) // distinct keys
    assert(st.getLong(4) === 2L)                         // matched keys
    // the prediction IS the real inner-join cardinality
    assert(st.getLong(5) === left.join(right, "k").count())
    assert(st.getLong(6) === 6L) // hot key 3: 3 left x 2 right
  }

  test("q_quality_checks: clean keys pass, planted violations are counted") {
    val rows = SparkEntry.queries("q_quality_checks")(spark, sf0001)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(rows.size === 5)
    // structural keys of the synthetic data are clean
    assert(rows("lineitem.l_orderkey.complete")._1 === 0L)
    assert(rows("supplier.s_suppkey.unique")._1 === 0L)
    assert(rows("orders.o_custkey.referential")._1 === 0L)
    // 'error' events sit outside the allowed domain -> non-trivial check
    val (badDomain, nEv, okDomain) = rows("events.event_type.domain")
    assert(badDomain > 0L && badDomain < nEv && !okDomain)
    // every check: ok <=> n_bad == 0
    rows.values.foreach { case (bad, _, ok) => assert(ok === (bad == 0L)) }
  }
}
