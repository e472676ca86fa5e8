package graft

import graft.operators.{AsofJoin, Dedup, OpCaches, RangeJoin}
import org.apache.spark.sql.functions.col
import scala.util.Random

/** Randomized parity: distributed operators vs brute-force in-memory
  * references on seeded random inputs. Fixed fixtures pin the documented
  * semantics; these sweeps hunt the edge-case classes fixtures miss —
  * time ties at the allow-exact boundary, tolerance exactly at the gap,
  * null payloads on matched rows, empty inputs, interval/bin alignment,
  * self-loops and disconnected vertices. Every case derives from a pinned
  * seed, so a failure message names the seed and replays exactly.
  */
class RandomizedParitySpec extends SparkTestBase {
  import spark.implicits._

  // ---------------------------------------------------------------- asof

  private def bruteAsof(
      left: Seq[(String, Option[Long], String)],
      right: Seq[(String, Long, Option[Double])],
      direction: String, tolerance: Option[Long],
      allowExact: Boolean): Map[String, (Option[Double], Option[Long])] =
    left.map { case (k, tOpt, tag) =>
      val hit: Option[(String, Long, Option[Double])] = tOpt.flatMap { t =>
        val cands = right.filter(_._1 == k)
        def bwd = cands.filter(r => if (allowExact) r._2 <= t else r._2 < t)
          .sortBy(_._2).lastOption
        def fwd = cands.filter(r => if (allowExact) r._2 >= t else r._2 > t)
          .sortBy(_._2).headOption
        val best = direction match {
          case "backward" => bwd
          case "forward"  => fwd
          case "nearest" => (bwd, fwd) match {
            case (Some(b), Some(f)) =>
              // backward wins ties (pandas merge_asof)
              if (math.abs(t - b._2) <= math.abs(f._2 - t)) Some(b)
              else Some(f)
            case (b, f) => b.orElse(f)
          }
        }
        best.filter(r => tolerance.forall(tol => math.abs(r._2 - t) <= tol))
      }
      tag -> ((hit.flatMap(_._3), hit.map(_._2)))
    }.toMap

  test("asof join matches a brute-force reference on 24 random cases " +
      "(ties at the boundary, tolerance edges, null times/payloads)") {
    for (seed <- 1000 until 1024) {
      val rnd = new Random(seed)
      val keys = Seq("a", "b", "c").take(1 + rnd.nextInt(3))
      val left = (0 until rnd.nextInt(26)).map { i =>
        val t = if (rnd.nextInt(10) == 0) None
          else Some(rnd.nextInt(31).toLong)
        (keys(rnd.nextInt(keys.length)), t, s"l$i")
      }
      // unique (key, rt) pairs keep the reference deterministic (the
      // operator's right-vs-right tie rule is not part of the contract)
      val right = rnd.shuffle(
          (for (k <- keys; rt <- 0L to 30L) yield (k, rt)).toList)
        .take(rnd.nextInt(26))
        .map { case (k, rt) =>
          (k, rt, if (rnd.nextInt(8) == 0) None
                  else Some(rnd.nextInt(100).toDouble))
        }
      val direction = Seq("backward", "forward", "nearest")(rnd.nextInt(3))
      val tolerance = Seq(None, Some(0L), Some(3L), Some(7L))(rnd.nextInt(4))
      val allowExact = rnd.nextBoolean()

      val expected = bruteAsof(left, right, direction, tolerance, allowExact)
      val got = AsofJoin.asof(
          left.toDF("k", "t", "tag"), right.toDF("k", "rt", "v"),
          Seq("k"), "t", "rt", Seq("v"),
          direction = direction, tolerance = tolerance,
          allowExactMatches = allowExact)
        .collect()
        .map(r => r.getAs[String]("tag") ->
          ((Option(r.getAs[java.lang.Double]("asof_v")).map(_.doubleValue),
            Option(r.getAs[java.lang.Long]("asof_rt")).map(_.longValue))))
        .toMap
      assert(got === expected,
        s"\nseed=$seed direction=$direction tol=$tolerance " +
          s"allowExact=$allowExact\nleft=$left\nright=$right")
    }
  }

  // ----------------------------------------------------------- range join

  test("range join matches a brute-force reference on 20 random cases " +
      "(empty intervals, bin-boundary alignment, multi-bin spans)") {
    for (seed <- 2000 until 2020) {
      val rnd = new Random(seed)
      val keys = Seq("a", "b").take(1 + rnd.nextInt(2))
      val points = (0 until rnd.nextInt(21)).map { i =>
        (keys(rnd.nextInt(keys.length)), rnd.nextInt(40).toLong, i.toLong)
      }
      val intervals = (0 until rnd.nextInt(11)).map { i =>
        val s = rnd.nextInt(40).toLong
        // ~1 in 4 empty (end < start) — must match nothing, not throw
        val e = if (rnd.nextInt(4) == 0) s - 1 - rnd.nextInt(5)
          else s + rnd.nextInt(15)
        (keys(rnd.nextInt(keys.length)), s, e, (100 + i).toLong)
      }
      val binWidth = Seq(1L, 3L, 10L)(rnd.nextInt(3))

      val expected = (for {
        (pk, pt, pid) <- points
        (ik, s, e, iid) <- intervals
        if pk == ik && s <= pt && pt <= e
      } yield (pid, iid)).toSet

      val got = RangeJoin.pointInInterval(
          points.toDF("k", "pt", "pid"), intervals.toDF("k", "s", "e", "iid"),
          Seq("k"), "pt", "s", "e", binWidth)
        .select("pid", "iv_iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected,
        s"\nseed=$seed binWidth=$binWidth\npoints=$points\n" +
          s"intervals=$intervals")
    }
  }

  // ----------------------------------------------------------- edSelfJoin

  private def bruteEd(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("edSelfJoin blocking is COMPLETE for ED<=1: matches brute O(n^2) " +
      "levenshtein on 16 random corpora (empty strings, heavy collisions)") {
    for (seed <- 4000 until 4016) {
      val rnd = new Random(seed)
      // tiny alphabet + short strings force dense ED-1 neighborhoods
      val rows = (0 until (2 + rnd.nextInt(29))).map { i =>
        (i.toLong, (0 until rnd.nextInt(7))
          .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
      }
      val expected = (for {
        (i1, s1) <- rows; (i2, s2) <- rows
        if i1 < i2 && bruteEd(s1, s2) <= 1
      } yield (i1, i2, bruteEd(s1, s2))).toSet
      val got = graft.operators.Fuzzy
        .edSelfJoin(rows.toDF("id", "s"), "id", "s")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got === expected, s"\nseed=$seed\nrows=$rows")
    }
  }

  // ------------------------------------------------------------ factorize

  test("factorize: dictionary path, forced shuffle path, and " +
      "factorizeShuffle all match the brute sorted-dense-code reference " +
      "on 16 random inputs (nulls -> -1, duplicates, single value)") {
    for (seed <- 5000 until 5016) {
      val rnd = new Random(seed)
      val rows = (0 until rnd.nextInt(31)).map { i =>
        val v = if (rnd.nextInt(6) == 0) None
          else Some(s"v${rnd.nextInt(8)}")
        (i.toLong, v)
      }
      val dict = rows.flatMap(_._2).distinct.sorted.zipWithIndex.toMap
      val expected = rows.map { case (id, v) =>
        id -> v.map(dict(_).toLong).getOrElse(-1L)
      }.toMap
      val df = rows.toDF("id", "v")
      val paths = Seq(
        "dict" -> operators.Positional.factorize(df, "v"),
        "probe-shuffle" -> operators.Positional
          .factorize(df, "v", maxCategories = 2),
        "shuffle" -> operators.Positional.factorizeShuffle(df, "v"))
      for ((label, out) <- paths) {
        val got = out.collect()
          .map(r => r.getAs[Long]("id") -> r.getAs[Long]("code")).toMap
        assert(got === expected, s"\nseed=$seed path=$label\nrows=$rows")
      }
    }
  }

  // -------------------------------------------------- takePositions / pos

  test("takePositions gathers exactly the rows at the requested global " +
      "positions on 16 random inputs (out-of-range ignored)") {
    for (seed <- 6000 until 6016) {
      val rnd = new Random(seed)
      val rows = rnd.shuffle((0 until rnd.nextInt(40)).toList)
        .map(v => (v.toLong, s"r$v")) // unique sort key => total order
      val positions = (0 until rnd.nextInt(8))
        .map(_ => rnd.nextInt(45).toLong) // may exceed n-1
      val sorted = rows.sortBy(_._1)
      val expected = positions.distinct.filter(_ < sorted.length)
        .map(p => p -> sorted(p.toInt)._2).toMap
      val got = operators.Positional
        .takePositions(rows.toDF("v", "tag"), Seq(col("v")), positions)
        .collect()
        .map(r => r.getAs[Long]("pos") -> r.getAs[String]("tag")).toMap
      assert(got === expected, s"\nseed=$seed\nrows=$rows pos=$positions")
    }
  }

  // ------------------------------------------------------------ ffillLimit

  test("ffillLimit matches a per-group scan reference on 20 random " +
      "inputs (limit 0, gaps exactly at the limit, leading nulls)") {
    for (seed <- 7000 until 7020) {
      val rnd = new Random(seed)
      val limit = rnd.nextInt(4)
      val rows = for {
        g <- Seq("g1", "g2").take(1 + rnd.nextInt(2))
        i <- 0 until rnd.nextInt(16)
      } yield (g, i.toLong,
        if (rnd.nextInt(3) == 0) None else Some(rnd.nextInt(50).toLong))
      val expected = rows.groupBy(_._1).flatMap { case (_, grp) =>
        var lastV: Option[Long] = None
        var lastAt = Long.MinValue / 2
        grp.sortBy(_._2).map { case (g, i, v) =>
          if (v.isDefined) { lastV = v; lastAt = i }
          (g, i) -> (if (v.isDefined) v
                     else if (i - lastAt <= limit) lastV else None)
        }
      }
      val got = graft.functions.GraftFunctions
        .ffillLimit(rows.toDF("g", "i", "v"), col("v"), limit,
          Seq(col("g")), Seq(col("i")), "filled")
        .collect()
        .map(r => (r.getAs[String]("g"), r.getAs[Long]("i")) ->
          Option(r.getAs[java.lang.Long]("filled")).map(_.longValue))
        .toMap
      assert(got === expected, s"\nseed=$seed limit=$limit\nrows=$rows")
    }
  }

  // ------------------------------------------------------- groupedPrefixSum

  test("groupedPrefixSum matches per-group scanLeft on 16 random inputs " +
      "(negative values, single-row groups, skewed group sizes)") {
    for (seed <- 8000 until 8016) {
      val rnd = new Random(seed)
      val rows = for {
        g <- Seq("g1", "g2", "g3").take(1 + rnd.nextInt(3))
        i <- 0 until (if (g == "g1") rnd.nextInt(25) else rnd.nextInt(6))
      } yield (g, i.toLong, (rnd.nextInt(21) - 10).toLong)
      val expected = rows.groupBy(_._1).flatMap { case (_, grp) =>
        grp.sortBy(_._2).scanLeft(("", 0L, 0L)) {
          case ((_, _, acc), (g, i, v)) => (g, i, acc + v)
        }.drop(1).map { case (g, i, s) => (g, i) -> s }
      }
      val got = operators.Positional
        .groupedPrefixSum(rows.toDF("g", "i", "v"), Seq("g"),
          Seq(col("i")), col("v"), "run")
        .collect()
        .map(r => (r.getAs[String]("g"), r.getAs[Long]("i")) ->
          r.getAs[Long]("run")).toMap
      assert(got === expected, s"\nseed=$seed\nrows=$rows")
    }
  }

  // --------------------------------------------------------- merge family

  test("upsert / upsertLatest match map-override references on 16 random " +
      "snapshots (empty sides, all-new, all-overlap, late old rows)") {
    for (seed <- 9000 until 9016) {
      val rnd = new Random(seed)
      val baseKeys = rnd.shuffle((0 until 12).toList).take(rnd.nextInt(10))
      val updKeys = rnd.shuffle((0 until 12).toList).take(rnd.nextInt(10))
      // unique (key, ts) across the union keeps the latest-row unique
      val ts = rnd.shuffle((0 until 100).toList).iterator
      val base = baseKeys.map(k => (k.toLong, ts.next().toLong, s"b$k"))
      val upd = updKeys.map(k => (k.toLong, ts.next().toLong, s"u$k"))

      // arrival-order upsert: updates win unconditionally
      val expUpsert = (base.map(r => r._1 -> r).toMap ++
        upd.map(r => r._1 -> r).toMap).values.toSet
      val gotUpsert = operators.Merge
        .upsert(base.toDF("k", "ts", "v"), upd.toDF("k", "ts", "v"), "k")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSet
      assert(gotUpsert === expUpsert, s"\nseed=$seed base=$base upd=$upd")

      // event-time upsert: greatest ts wins regardless of arrival side
      val expLatest = (base ++ upd).groupBy(_._1)
        .map(_._2.maxBy(_._2)).toSet
      val gotLatest = operators.Merge
        .upsertLatest(base.toDF("k", "ts", "v"), upd.toDF("k", "ts", "v"),
          "k", Seq("ts"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSet
      assert(gotLatest === expLatest, s"\nseed=$seed base=$base upd=$upd")
    }
  }

  test("snapshotDiff classifies added/removed/changed like a brute map " +
      "diff on 16 random snapshot pairs (null payloads, null-to-null " +
      "unchanged)") {
    for (seed <- 10000 until 10016) {
      val rnd = new Random(seed)
      def side() = rnd.shuffle((0 until 10).toList).take(rnd.nextInt(9))
        .map { k =>
          (k.toLong,
            if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(3).toLong))
        }
      val prev = side(); val next = side()
      val pm = prev.toMap; val nm = next.toMap
      val expected = (pm.keySet ++ nm.keySet).flatMap { k =>
        (pm.get(k), nm.get(k)) match {
          case (Some(_), None)              => Some(k -> "removed")
          case (None, Some(_))              => Some(k -> "added")
          case (Some(p), Some(n)) if p != n => Some(k -> "changed")
          case _                            => None // unchanged dropped
        }
      }.toMap
      val got = operators.Merge
        .snapshotDiff(prev.toDF("k", "v"), next.toDF("k", "v"), "k",
          Seq("v"))
        .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("change"))
        .toMap
      assert(got === expected, s"\nseed=$seed prev=$prev next=$next")
    }
  }

  test("scd2 validity intervals match a per-key sorted scan on 16 random " +
      "change logs (same-tick versions collapse to empty intervals)") {
    val horizon = 1000L
    for (seed <- 11000 until 11016) {
      val rnd = new Random(seed)
      val changes = (0 until rnd.nextInt(25)).map { i =>
        (rnd.nextInt(4).toLong, rnd.nextInt(20).toLong, i.toLong)
      } // (key, ts, tie) — tie globally unique => total order per key
      val expected = changes.groupBy(_._1).flatMap { case (_, grp) =>
        val sorted = grp.sortBy(c => (c._2, c._3))
        sorted.zipWithIndex.map { case ((k, t, i), idx) =>
          val to = if (idx + 1 < sorted.length) sorted(idx + 1)._2 - 1
            else horizon
          (k, t, i) -> ((t, to))
        }
      }
      val got = operators.Merge
        .scd2(changes.toDF("k", "ts", "tie"), "k", "ts", Seq("tie"), horizon)
        .collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Long]("ts"),
          r.getAs[Long]("tie")) ->
          ((r.getAs[Long]("valid_from"), r.getAs[Long]("valid_to"))))
        .toMap
      assert(got === expected, s"\nseed=$seed changes=$changes")
    }
  }

  // ------------------------------------------------------------ sessionize

  test("sessionize matches a per-key gap scan on 16 random event sets " +
      "(step exactly at the gap stays in-session)") {
    for (seed <- 12000 until 12016) {
      val rnd = new Random(seed)
      val gap = 1L + rnd.nextInt(5)
      val rows = (for (k <- 0 until (1 + rnd.nextInt(3))) yield {
        rnd.shuffle((0 until 60).toList).take(rnd.nextInt(20))
          .map(t => (k.toLong, t.toLong))
      }).flatten
      val expected = rows.groupBy(_._1).flatMap { case (_, grp) =>
        val sorted = grp.sortBy(_._2)
        var sid = 0L; var prev = Long.MinValue / 2
        sorted.map { case (k, t) =>
          if (t - prev > gap) sid += 1
          prev = t
          (k, t) -> sid
        }
      }
      val got = operators.Sessionize
        .sessionize(rows.toDF("k", "t"), Seq("k"), "t", gap)
        .collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Long]("t")) ->
          r.getAs[Long]("session_id")).toMap
      assert(got === expected, s"\nseed=$seed gap=$gap rows=$rows")
    }
  }

  // --------------------------------------------------------- resampleInterp

  test("resampleInterp matches a per-key grid scan on 12 random series " +
      "(gap runs, single-bucket keys, boundary-adjacent events)") {
    for (seed <- 13000 until 13012) {
      val rnd = new Random(seed)
      val step = Seq(5L, 7L)(rnd.nextInt(2))
      // integer-valued doubles keep the DECIMAL-summed mean exact on both
      // sides; unique ts per key is not required (means aggregate)
      val rows = (for (k <- 0 until (1 + rnd.nextInt(2))) yield {
        (0 until rnd.nextInt(18)).map { _ =>
          (k.toLong, rnd.nextInt(100).toLong, rnd.nextInt(10).toDouble)
        }
      }).flatten
      val expected = rows.groupBy(_._1).flatMap { case (k, grp) =>
        val byBucket = grp.groupBy(r => r._2 - r._2 % step)
          .map { case (b, rs) => b -> rs.map(_._3).sum / rs.length }
        val (lo, hi) = (byBucket.keys.min, byBucket.keys.max)
        val grid = lo.to(hi, step)
        var ffill: Option[Double] = None
        var bPrev = 0L
        grid.map { b =>
          byBucket.get(b) match {
            case Some(m) =>
              ffill = Some(m); bPrev = b
              (k, b) -> m
            case None =>
              val bNext = grid.drop(((b - lo) / step).toInt)
                .find(byBucket.contains).get
              val vNext = byBucket(bNext)
              val w = (b - bPrev).toDouble / (bNext - bPrev).toDouble
              (k, b) -> (ffill.get + (vNext - ffill.get) * w)
          }
        }
      }
      val got = operators.Resample
        .resampleInterp(rows.toDF("k", "ts", "v"), "k", "ts", step, "v")
        .collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Long]("bucket_ns")) ->
          r.getAs[Double]("v_interp")).toMap
      assert(got.keySet === expected.keySet, s"\nseed=$seed rows=$rows")
      for ((key, exp) <- expected)
        assert(math.abs(got(key) - exp) < 1e-9,
          s"\nseed=$seed at=$key got=${got(key)} exp=$exp rows=$rows")
    }
  }

  // ------------------------------------------------------------ getDummies

  test("getDummies matches a brute indicator matrix on 16 random tag " +
      "columns (shared tags, singleton tags, repeated tags in one row)") {
    for (seed <- 14000 until 14016) {
      val rnd = new Random(seed)
      val tags = Seq("red", "blue", "green", "x")
      val rows = (0 until (1 + rnd.nextInt(15))).map { i =>
        (i.toLong, (0 until (1 + rnd.nextInt(4)))
          .map(_ => tags(rnd.nextInt(tags.length))).mkString("|"))
      }
      val cats = rows.flatMap(_._2.split('|')).distinct.sorted
      val expected = rows.map { case (id, s) =>
        val present = s.split('|').toSet
        id -> cats.map(c => if (present(c)) 1 else 0)
      }.toMap
      val out = operators.Reshape.getDummies(
        rows.toDF("id", "tags"), col("tags"), "|", Seq(col("id")))
      assert(out.columns.toSeq === ("id" +: cats), s"seed=$seed rows=$rows")
      val got = out.collect().map(r =>
        r.getAs[Long]("id") -> cats.map(c => r.getAs[Int](c))).toMap
      assert(got === expected, s"\nseed=$seed rows=$rows")
    }
  }

  // -------------------------------------------------------- chunkDocuments

  test("chunkDocuments matches a brute token-window scan on 16 random " +
      "corpora (tail shorter than stride, no-new-token tails skipped)") {
    for (seed <- 15000 until 15016) {
      val rnd = new Random(seed)
      val size = 2 + rnd.nextInt(5)
      val stride = 1 + rnd.nextInt(size)
      val docs = (0 until (1 + rnd.nextInt(10))).map { i =>
        (i.toLong, (0 until (1 + rnd.nextInt(17)))
          .map(j => s"w$j").mkString(" "))
      }
      val expected = docs.flatMap { case (id, text) =>
        val w = text.split(' ')
        val starts = 0.until(w.length, stride)
          .filter(s => s == 0 || s + size - stride < w.length)
        starts.zipWithIndex.map { case (s, idx) =>
          val chunk = w.slice(s, s + size)
          (id, idx) -> ((chunk.mkString(" "), chunk.length))
        }
      }.toMap
      val got = operators.TextOps
        .chunkDocuments(docs.toDF("doc_id", "text"), "text", "doc_id",
          size, stride)
        .collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Int]("chunk_idx")) ->
          ((r.getAs[String]("chunk_text"), r.getAs[Int]("n_tokens"))))
        .toMap
      assert(got === expected,
        s"\nseed=$seed size=$size stride=$stride\ndocs=$docs")
    }
  }

  // -------------------------------------------- corpus-mix selection ops

  /** The operators' Knuth-multiplicative order key, replicated exactly:
    * pmod-before-multiply keeps the product under 2^63. */
  private def knuthOrd(id: Long): Long = {
    val m = 2147483647L
    val r = ((id % m + m) % m) * 2654435761L
    (r % m + m) % m
  }

  test("capPerKey matches the brute hash-order prefix on 16 random " +
      "inputs, and selectToTokenBudget is parity + budget-monotone " +
      "(bigger budget only ADDS documents)") {
    for (seed <- 16000 until 16016) {
      val rnd = new Random(seed)
      val rows = (0 until rnd.nextInt(31)).map { i =>
        (Seq("s1", "s2", "s3")(rnd.nextInt(3)), i.toLong,
          (1 + rnd.nextInt(9)).toLong)
      }
      val cap = 1 + rnd.nextInt(5)
      val expCap = rows.groupBy(_._1).flatMap { case (_, grp) =>
        grp.sortBy(r => (knuthOrd(r._2), r._2)).take(cap)
      }.map(_._2).toSet
      val gotCap = operators.TextOps
        .capPerKey(rows.toDF("src", "id", "w"), "src", "id", cap)
        .collect().map(_.getAs[Long]("id")).toSet
      assert(gotCap === expCap, s"\nseed=$seed cap=$cap rows=$rows")

      def bruteBudget(b: Long): Set[Long] =
        rows.groupBy(_._1).flatMap { case (_, grp) =>
          grp.sortBy(r => (knuthOrd(r._2), r._2))
            .scanLeft((0L, 0L)) { case ((_, acc), r) => (r._2, acc + r._3) }
            .drop(1).takeWhile(_._2 <= b).map(_._1)
        }.toSet
      def gotBudget(b: Long): Set[Long] = operators.TextOps
        .selectToTokenBudget(rows.toDF("src", "id", "w"), "src", "id",
          "w", b)
        .collect().map(_.getAs[Long]("id")).toSet
      val budgets = Seq(0L, 3L, 10L, 25L, 1000L)
      for (b <- budgets)
        assert(gotBudget(b) === bruteBudget(b), s"\nseed=$seed b=$b")
      for (Seq(b1, b2) <- budgets.sliding(2))
        assert(bruteBudget(b1).subsetOf(bruteBudget(b2)),
          s"\nseed=$seed budgets $b1 -> $b2 not monotone")
    }
  }

  // ------------------------------------------------------------ packTokens

  test("packTokens layout invariants hold on 16 random corpora: every " +
      "token exactly once, every non-final pack exactly seqLen, pieces " +
      "contiguous from 0 within each pack") {
    for (seed <- 17000 until 17016) {
      val rnd = new Random(seed)
      val seqLen = 2 + rnd.nextInt(9)
      val nShards = 1 + rnd.nextInt(3)
      val docs = (0 until rnd.nextInt(25)).map { i =>
        (i.toLong, rnd.nextInt(3 * seqLen).toLong) // incl. 0-token docs
      }
      val pieces = operators.Pack
        .packTokens(docs.toDF("doc_id", "n_tok"), "doc_id", "n_tok",
          nShards, seed, seqLen)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("shard"),
          r.getAs[Long]("pack"), r.getAs[Long]("doc_from"),
          r.getAs[Long]("doc_to"), r.getAs[Long]("pack_from")))

      // every token of every non-empty doc appears in exactly one piece
      val perDoc = pieces.groupBy(_._1).view
        .mapValues(_.map(p => p._5 - p._4).sum).toMap
      for ((id, n) <- docs)
        assert(perDoc.getOrElse(id, 0L) === n,
          s"\nseed=$seed doc=$id tokens=$n covered=${perDoc.get(id)}")
      // pieces within a doc are contiguous ascending [0, n)
      for ((id, ps) <- pieces.groupBy(_._1)) {
        val sorted = ps.sortBy(_._4)
        assert(sorted.head._4 === 0L, s"seed=$seed doc=$id")
        for (Seq(a, b) <- sorted.toSeq.sliding(2) if sorted.length > 1)
          assert(a._5 === b._4, s"seed=$seed doc=$id gap in piece cover")
      }
      // per (shard, pack): contiguous from 0; all but the shard's last
      // pack hold exactly seqLen tokens
      for (((sh, pk), ps) <- pieces.groupBy(p => (p._2, p._3))) {
        val sorted = ps.sortBy(_._6)
        assert(sorted.head._6 === 0L, s"seed=$seed shard=$sh pack=$pk")
        for (Seq(a, b) <- sorted.toSeq.sliding(2) if sorted.length > 1)
          assert(a._6 + (a._5 - a._4) === b._6,
            s"seed=$seed shard=$sh pack=$pk pieces not contiguous")
        val total = sorted.map(p => p._5 - p._4).sum
        val lastPack = pieces.filter(_._2 == sh).map(_._3).max
        if (pk < lastPack)
          assert(total === seqLen.toLong,
            s"seed=$seed shard=$sh pack=$pk total=$total != $seqLen")
        else assert(total <= seqLen.toLong && total > 0,
          s"seed=$seed shard=$sh final pack total=$total")
      }
    }
  }

  // ----------------------------------------------------- det-stats block

  test("deterministic moment stats, quirk mean, exact median, and the " +
      "null-semantics booleans match scalar references on 16 random " +
      "grouped inputs (value and boolean nulls, even/odd median counts)") {
    import org.apache.spark.sql.functions.{count, expr, lit, percentile}
    for (seed <- 18000 until 18016) {
      val rnd = new Random(seed)
      // two distinct non-null anchor values per group keep every moment
      // denominator alive (n >= 2, m2 > 0) — the zero-variance and
      // all-null edges hit ANSI 0/0 and are not part of this contract
      val rows = (for (g <- Seq("a", "b").take(1 + rnd.nextInt(2))) yield {
        val anchors = Seq((g, Some(1L), Some(true): Option[Boolean]),
          (g, Some(5L), Some(false): Option[Boolean]))
        anchors ++ (0 until rnd.nextInt(14)).map { _ =>
          val v = if (rnd.nextInt(6) == 0) None
            else Some(rnd.nextInt(21).toLong)
          (g, v, if (rnd.nextInt(4) == 0) None
                 else Some(rnd.nextBoolean()))
        }
      }).flatten
      val expected = rows.groupBy(_._1).map { case (g, grp) =>
        val xs = grp.flatMap(_._2).map(_.toDouble)
        val total = grp.length
        val n = xs.length.toDouble
        val (s1, s2, s3, s4) =
          (xs.sum, xs.map(x => x * x).sum, xs.map(x => x * x * x).sum,
            xs.map(x => x * x * x * x).sum)
        val m = s1 / n
        val m2 = s2 / n - m * m
        val m3 = s3 / n - 3.0 * m * s2 / n + 2.0 * m * m * m
        val m4 = s4 / n - 4.0 * m * s3 / n + 6.0 * m * m * s2 / n -
          3.0 * m * m * m * m
        val sorted = xs.sorted
        val pos = 0.5 * (sorted.length - 1)
        val median =
          if (sorted.isEmpty) Double.NaN
          else sorted(pos.toInt) +
            (pos - pos.toInt) * (sorted(math.ceil(pos).toInt) -
              sorted(pos.toInt))
        val bools = grp.map(_._3)
        g -> ((s1 / total, (s2 - s1 * s1 / n) / (n - 1.0),
          m3 / (m2 * math.sqrt(m2)), m4 / (m2 * m2) - 3.0, median,
          bools.forall(_.getOrElse(true)), // all skipna: null skipped
          bools.exists(_.getOrElse(true)))) // any skipna=false: null=true
      }
      val out = rows.toDF("g", "v", "b").groupBy(col("g"))
        .agg(
          graft.functions.GraftFunctions.fletcherMean(col("v")).as("mean"),
          graft.functions.GraftFunctions.detVarSamp(col("v")).as("variance"),
          graft.functions.GraftFunctions.detSkewness(col("v")).as("skew"),
          graft.functions.GraftFunctions.detKurtosis(col("v")).as("kurt"),
          percentile(col("v"), lit(0.5)).as("median"),
          graft.functions.GraftFunctions.allNullSkipped(col("b")).as("all_b"),
          graft.functions.GraftFunctions.anyNullIsTrue(col("b")).as("any_b"))
        .collect()
        .map(r => r.getAs[String]("g") ->
          ((r.getAs[Double]("mean"), r.getAs[Double]("variance"),
            r.getAs[Double]("skew"), r.getAs[Double]("kurt"),
            r.getAs[Double]("median"), r.getAs[Boolean]("all_b"),
            r.getAs[Boolean]("any_b")))).toMap
      for ((g, (em, ev, es, ek, emed, eall, eany)) <- expected) {
        val (gm, gv, gs, gk, gmed, gall, gany) = out(g)
        def close(a: Double, b: Double, what: String): Unit =
          assert((a.isNaN && b.isNaN) || math.abs(a - b) <=
            1e-9 * math.max(1.0, math.abs(b)),
            s"seed=$seed g=$g $what got=$a exp=$b rows=$rows")
        close(gm, em, "mean"); close(gv, ev, "variance")
        close(gs, es, "skew"); close(gk, ek, "kurtosis")
        close(gmed, emed, "median")
        assert(gall === eall && gany === eany,
          s"seed=$seed g=$g booleans got=($gall,$gany) exp=($eall,$eany)")
      }
    }
  }

  // --------------------------------------------------------------- Z-order

  test("zValue matches brute bit interleaving on 16 random inputs " +
      "(negative values pmod-wrapped, 1..4 columns, bit budget edges)") {
    for (seed <- 19000 until 19016) {
      val rnd = new Random(seed)
      val nCols = 1 + rnd.nextInt(4)
      val bits = 1 + rnd.nextInt(62 / nCols)
      val mask = 1L << bits
      // /2 keeps |v| <= 2^62 so the brute pmod's `+ mask` can't overflow
      // even at the bits=62 edge (same value range both engines see)
      val rows = (0 until (1 + rnd.nextInt(20))).map { i =>
        (i.toLong, Seq.fill(nCols)(rnd.nextLong() / 2))
      }
      def brute(vs: Seq[Long]): Long = {
        var z = 0L
        for ((v, ci) <- vs.zipWithIndex; j <- 0 until bits) {
          val m = ((v % mask) + mask) % mask // pmod
          z |= ((m >> j) & 1L) << (j * nCols + ci)
        }
        z
      }
      val expected = rows.map { case (id, vs) => id -> brute(vs) }.toMap
      val df = rows.map { case (id, vs) => (id, vs(0),
        if (nCols > 1) vs(1) else 0L, if (nCols > 2) vs(2) else 0L,
        if (nCols > 3) vs(3) else 0L) }.toDF("id", "c0", "c1", "c2", "c3")
      val got = df.withColumn("z", operators.Layout.zValue(
          (0 until nCols).map(i => col(s"c$i")), bits))
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("z")).toMap
      assert(got === expected,
        s"\nseed=$seed nCols=$nCols bits=$bits rows=$rows")
    }
  }

  test("zRank invariants on 12 random columns: range [0, 2^bits), " +
      "monotone in the value, equal values share a rank") {
    for (seed <- 20000 until 20012) {
      val rnd = new Random(seed)
      val bits = 1 + rnd.nextInt(6)
      val rows = (0 until (2 + rnd.nextInt(40))).map { i =>
        (i.toLong, (rnd.nextInt(30) - 10).toDouble)
      }
      val df = rows.toDF("id", "x")
      val got = df.withColumn("r", operators.Layout.zRank(df, "x", bits))
        .collect().map(r => (r.getAs[Double]("x"), r.getAs[Long]("r")))
      for ((x, r) <- got)
        assert(r >= 0 && r < (1L << bits), s"seed=$seed x=$x rank=$r")
      for (((x1, r1), (x2, r2)) <- got.flatMap(a => got.map((a, _)))) {
        if (x1 < x2) assert(r1 <= r2,
          s"seed=$seed rank not monotone: ($x1,$r1) vs ($x2,$r2)")
        if (x1 == x2) assert(r1 === r2,
          s"seed=$seed equal values split ranks: $x1 -> $r1 vs $r2")
      }
    }
  }

  // ------------------------------------------- text-signal scalar kernels

  test("simHash30 matches brute bit voting on 16 random hash sets, " +
      "jaccard matches set arithmetic on random distinct arrays") {
    for (seed <- 21000 until 21016) {
      val rnd = new Random(seed)
      val rows = (0 until (1 + rnd.nextInt(15))).map { i =>
        (i.toLong, Seq.fill(rnd.nextInt(12))(rnd.nextLong() / 2))
      }
      def bruteSim(hs: Seq[Long]): Long =
        (0 until 30).map { b =>
          val vote = hs.map(h => if (((h >> b) & 1L) == 1L) 1L else -1L).sum
          if (vote > 0) 1L << b else 0L
        }.sum
      val expSim = rows.map { case (id, hs) => id -> bruteSim(hs) }.toMap
      val gotSim = rows.toDF("id", "hs")
        .select(col("id"), operators.TextOps.simHash30(col("hs")).as("sh"))
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("sh")).toMap
      assert(gotSim === expSim, s"\nseed=$seed rows=$rows")

      val pairs = (0 until (1 + rnd.nextInt(10))).map { i =>
        def arr() = rnd.shuffle((0 until 12).toList)
          .take(rnd.nextInt(8)).map(_.toLong)
        (i.toLong, arr(), arr())
      }
      val expJ = pairs.map { case (id, a, b) =>
        val inter = a.toSet.intersect(b.toSet).size.toDouble
        // empty vs empty: identical sets → 1.0 (the ANSI-divide edge this
        // sweep originally caught as a DIVIDE_BY_ZERO throw)
        id -> (if (a.isEmpty && b.isEmpty) 1.0
               else inter / (a.size + b.size - inter))
      }.toMap
      val gotJ = pairs.toDF("id", "a", "b")
        .select(col("id"), operators.TextOps
          .jaccard(col("a"), col("b")).as("j"))
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("j"))
        .toMap
      for ((id, e) <- expJ) {
        val g = gotJ(id)
        assert((g.isNaN && e.isNaN) || math.abs(g - e) < 1e-12,
          s"seed=$seed id=$id jaccard got=$g exp=$e pairs=$pairs")
      }
    }
  }

  test("langPredict matches the brute marker-hit argmax with first-listed " +
      "tie wins on 16 random token streams (zero-hit docs fall to 'en')") {
    val langs = operators.TextOps.LangOrder
    val vocab = langs.flatMap(_._2) ++ Seq("zzz", "qqq", "www")
    for (seed <- 22000 until 22016) {
      val rnd = new Random(seed)
      val rows = (0 until (1 + rnd.nextInt(12))).map { i =>
        (i.toLong, Seq.fill(rnd.nextInt(15))(vocab(rnd.nextInt(vocab.length))))
      }
      val expected = rows.map { case (id, toks) =>
        val scores = langs.map { case (l, set) =>
          l -> toks.count(set.contains)
        }
        val best = scores.map(_._2).max
        id -> scores.find(_._2 == best).get._1
      }.toMap
      val got = rows.toDF("id", "toks")
        .select(col("id"), operators.TextOps
          .langPredict(col("toks")).as("lang"))
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("lang"))
        .toMap
      assert(got === expected, s"\nseed=$seed rows=$rows")
    }
  }

  // ----------------------------------------------- zero-norm vector edge

  test("knnBrute and knnSq8 tolerate all-zero embeddings (ANSI divide " +
      "edge): zero vectors score 0.0 cosine and rank behind every real " +
      "neighbor, and a zero-vector QUERY still returns k rows") {
    val rnd = new Random(23000)
    val dim = 8
    val rows = (0L until 12L).map { i =>
      val v = if (i == 0L || i == 7L) Seq.fill(dim)(0.0f) // two zero rows
        else Seq.fill(dim)(rnd.nextInt(9).toFloat - 4f)
      (i, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val brute = operators.Similarity
      .knnBrute(emb, "embedding", "vec_id", Seq(1L, 0L), k = 3)
      .collect()
    val byQuery = brute.groupBy(_.getAs[Long]("query_id"))
    // real query: the zero corpus rows score exactly 0.0 and lose to any
    // positive-cosine neighbor
    val q1 = byQuery(1L).map(r =>
      r.getAs[Long]("neighbor_id") -> r.getAs[Double]("cosine"))
    assert(q1.length === 3)
    for ((nid, c) <- q1 if nid == 0L || nid == 7L)
      assert(c === 0.0, s"zero vector scored $c")
    // zero-vector query: every cosine is 0.0, k rows still emitted with
    // the deterministic id tie-break
    val q0 = byQuery(0L).map(r =>
      r.getAs[Long]("neighbor_id") -> r.getAs[Double]("cosine"))
    assert(q0.length === 3 && q0.forall(_._2 === 0.0),
      s"zero query: $q0")
    // SQ8 trains per-dim ranges over NORMALIZED coords — must survive the
    // zero rows (they pass through unnormalized) and return k rows
    val sq = operators.Sq
      .knnSq8(emb, "embedding", "vec_id", Seq(1L), k = 3).collect()
    assert(sq.length === 3)
  }

  // -------------------------------------- adversarial-text robustness

  test("per-doc text operators survive adversarial strings (empty, " +
      "whitespace-only, unicode, one giant token, heavy repetition): one " +
      "output row per doc, ratio signals finite and in range") {
    val docs = Seq(
      (0L, ""), (1L, " "), (2L, "    "), (3L, "x"),
      (4L, "z" * 5000), // one giant token
      (5L, Seq.fill(200)("dup").mkString(" ")), // total repetition
      (6L, "中文 文本 中文 文本 éß Ω"), (7L, "a b c d e f g h i j"),
      (8L, "\n\n\n"), (9L, "- bullet\n- bullet\n…"))
      .toDF("doc_id", "text")
    val n = 10L

    // documented contract: only docs with >= max(ks) tokens are scored
    // (shorter docs belong to a length filter, not a repetition filter);
    // " "-splitting means whitespace-only docs DO tokenize to empties
    val rep = operators.Quality
      .repetitionSignals(docs, "text", "doc_id", ks = Seq(2, 3)).collect()
    assert(rep.map(_.getAs[Long]("doc_id")).sorted.toSeq ===
      Seq(2L, 5L, 6L, 7L, 9L))
    for (r <- rep; c <- Seq("top3_frac", "dup3_frac")) {
      val v = r.getAs[Double](c)
      assert(v >= 0.0 && v <= 1.0 && !v.isNaN, s"$c=$v: $r")
    }
    val struct = operators.Quality
      .structuralSignals(docs, "text", "doc_id").collect()
    assert(struct.length === n)
    for (r <- struct; c <- Seq("bullet_line_frac", "alpha_word_frac"))
      for (v <- Option(r.getAs[java.lang.Double](c)))
        assert(v >= 0.0 && v <= 1.0, s"$c=$v out of range: $r")
    val oov = operators.Quality
      .oovRate(docs, "text", "doc_id", vocabSize = 3).collect()
    assert(oov.length === n)
    for (r <- oov) {
      val v = r.getAs[Double]("oov_rate")
      assert(v >= 0.0 && v <= 1.0 && !v.isNaN, s"oov_rate=$v: $r")
    }
    val comp = operators.Quality
      .compressionSignal(docs, "text", "doc_id").collect()
    assert(comp.length === n)
    // dedup pipeline end to end on the same corpus: docs 5's total
    // repetition and the empty/whitespace cluster must not throw anywhere
    val pairs = operators.Dedup
      .minhashDupPairs(docs, "text", "doc_id", k = 2, threshold = 0.5)
    val groups = Dedup.dupGroups(pairs).collect()
    assert(groups.length <= n)
    val sim = operators.Dedup
      .simhashFingerprints(docs, "text", "doc_id").collect()
    assert(sim.length === n)
    val redacted = docs.select(operators.Quality
      .redactPii(col("text")).as("t")).collect()
    assert(redacted.length === n)
  }

  // ------------------------------------------------------------ dupGroups

  private def bruteComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r); r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(id => id -> find(id)).toMap
  }

  test("dupGroups (BOTH branches) matches brute-force min-label " +
      "components on 12 random graphs (self-loops, isolated pairs, " +
      "dense blobs)") {
    for (seed <- 3000 until 3012) {
      val rnd = new Random(seed)
      val n = 2 + rnd.nextInt(39)
      val edges = (0 until rnd.nextInt(61)).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong) // self-loops allowed
      }
      val expected = bruteComponents(edges)
      val pairs = edges.toDF("id1", "id2")
      // driver union-find branch (default limit) and distributed
      // relax+pointer-jump branch (limit 0) must agree exactly
      for (limit <- Seq(2000000L, 0L)) {
        val got = Dedup.dupGroups(pairs, driverEdgeLimit = limit)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === expected,
          s"\nseed=$seed limit=$limit n=$n\nedges=$edges")
      }
    }
  }

  // ------------------------------------------- dedup-pair family (brute)

  // In-memory replicas of the hashing primitives (polyHash codepoint fold,
  // shingle fold, the 16-function MinHash family, band keys, jaccard) —
  // independent reimplementations in plain Scala, so these sweeps check
  // BOTH the distributed blocking/join machinery and the codegen kernels
  // against a reference that shares no code with them. Only the published
  // constants (HashA/HashB/NumBands/RowsPerBand/PolyMod) are reused.
  private def refHash(s: String): Long = {
    var h = 0L; var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    h
  }
  // Spark's split(text, " ") keeps trailing empty strings (limit -1)
  private def refTokens(s: String): Vector[String] =
    s.split(" ", -1).toVector
  private def refTokenHashSet(s: String): Set[Long] =
    refTokens(s).map(refHash).toSet
  private def refShingleAll(s: String, k: Int): Vector[Long] = {
    val th = refTokens(s).map(refHash)
    (0 to th.length - k).map { i =>
      (0 until k).foldLeft(0L)((acc, j) =>
        (acc * 31L + th(i + j)) % 1000000007L)
    }.toVector
  }
  private def refMinSig(distinctHashes: Seq[Long]): Vector[Long] =
    graft.operators.TextOps.HashA.zip(graft.operators.TextOps.HashB)
      .map { case (a, b) => distinctHashes.map(h => (h * a + b) % 1000000007L).min }
      .toVector
  private def refBandKeys(sig: Vector[Long]): Vector[String] =
    (0 until graft.operators.TextOps.NumBands).map { b =>
      sig.slice(b * graft.operators.TextOps.RowsPerBand,
        (b + 1) * graft.operators.TextOps.RowsPerBand).mkString(",")
    }.toVector
  private def refJaccard(a: Set[Long], b: Set[Long]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else { val i = (a & b).size; i.toDouble / (a.size + b.size - i) }

  private def randDoc(rnd: Random, vocab: IndexedSeq[String],
      maxLen: Int): String =
    (0 until rnd.nextInt(maxLen + 1))
      .map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")

  test("ngramJaccardPairs (hash-ordered AND frequency-ordered prefixes) " +
      "is LOSSLESS: matches brute all-pairs token Jaccard on 12 random " +
      "corpora (empty docs, shared boilerplate, threshold edges incl 1.0)") {
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    for (seed <- 7000 until 7012) {
      val rnd = new Random(seed)
      val thr = Seq(0.25, 0.5, 0.75, 0.9, 1.0)(rnd.nextInt(5))
      val docs = (0 until (2 + rnd.nextInt(19))).map { i =>
        (i.toLong, randDoc(rnd, vocab, 8), s"blk${rnd.nextInt(3)}")
      }
      val expected = (for {
        (i1, t1, b1) <- docs; (i2, t2, b2) <- docs
        if i1 < i2 && b1 == b2
        j = refJaccard(refTokenHashSet(t1), refTokenHashSet(t2))
        if j >= thr
      } yield (i1, i2, b1, j)).toSet
      for (freqOrdered <- Seq(false, true)) {
        val got = Dedup.ngramJaccardPairs(docs.toDF("id", "text", "blk"),
            "text", "id", "blk", thr, frequencyOrdered = freqOrdered)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
            r.getDouble(3))).toSet
        assert(got === expected,
          s"\nseed=$seed thr=$thr freqOrdered=$freqOrdered\ndocs=$docs")
      }
    }
  }

  test("minhashDupPairs matches brute band-collision + exact-Jaccard on " +
      "10 random corpora, and the maxBucket cap drops exactly the " +
      "over-full buckets the brute reference computes (stats included)") {
    val vocab = Vector("x", "y", "z", "w")
    for (seed <- 7100 until 7110) {
      val rnd = new Random(seed)
      val k = 2 + rnd.nextInt(2)
      val thr = Seq(0.5, 0.7)(rnd.nextInt(2))
      val docs = (0 until (2 + rnd.nextInt(15))).map { i =>
        (i.toLong, randDoc(rnd, vocab, 7))
      }
      // signatures exist only for docs with >= k tokens
      val sigs = docs.filter { case (_, t) => refTokens(t).length >= k }
        .map { case (i, t) =>
          val hs = refShingleAll(t, k).distinct
          (i, hs.toSet, refBandKeys(refMinSig(hs)))
        }
      for (cap <- Seq(Int.MaxValue, 1, 2, 3)) {
        // bucket = (band index, key); membership is one row per doc
        val buckets = sigs.flatMap { case (i, _, bks) =>
          bks.zipWithIndex.map { case (key, band) => ((band, key), i) } }
          .groupBy(_._1).map { case (bk, rows) => bk -> rows.map(_._2) }
        val (kept, dropped) = buckets.partition(_._2.size <= cap)
        val expStats = Dedup.BucketCapStats(
          if (cap == Int.MaxValue) 0L else dropped.size.toLong,
          if (cap == Int.MaxValue) 0L
          else dropped.values.map(_.size.toLong).sum)
        val expPairs = (for {
          ids <- kept.values.toSeq
          i1 <- ids; i2 <- ids if i1 < i2
        } yield (i1, i2)).distinct.map { case (i1, i2) =>
          val h1 = sigs.find(_._1 == i1).get._2
          val h2 = sigs.find(_._1 == i2).get._2
          val j = refJaccard(h1, h2)
          (i1, i2, j, j >= thr)
        }.toSet
        val (df, stats) = Dedup.minhashDupPairsWithStats(
          docs.toDF("id", "text"), "text", "id", k, thr, maxBucket = cap)
        val got = df.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
            r.getBoolean(3))).toSet
        df.unpersist()
        assert(got === expPairs,
          s"\nseed=$seed k=$k thr=$thr cap=$cap\ndocs=$docs")
        assert(stats === expStats,
          s"\nseed=$seed k=$k thr=$thr cap=$cap\ndocs=$docs")
      }
    }
  }

  test("dedupAgainstIndex (incremental probe vs persisted band index) " +
      "matches brute cross-pair band collision + exact Jaccard on 10 " +
      "random corpus/batch splits (short docs dropped, multi-collisions)") {
    val vocab = Vector("p", "q", "r", "s")
    for (seed <- 7200 until 7210) {
      val rnd = new Random(seed)
      val k = 2
      val thr = 0.6
      val corpus = (0 until (2 + rnd.nextInt(12))).map { i =>
        (i.toLong, randDoc(rnd, vocab, 6)) }
      val batch = (0 until (1 + rnd.nextInt(8))).map { i =>
        ((100 + i).toLong, randDoc(rnd, vocab, 6)) }
      def sigsOf(rows: Seq[(Long, String)]) =
        rows.filter { case (_, t) => refTokens(t).length >= k }
          .map { case (i, t) =>
            val hs = refShingleAll(t, k).distinct
            (i, hs.toSet, refBandKeys(refMinSig(hs)))
          }
      val cs = sigsOf(corpus); val bs = sigsOf(batch)
      val expected = (for {
        (ni, nh, nb) <- bs; (oi, oh, ob) <- cs
        if nb.zip(ob).exists { case (x, y) => x == y }
        j = refJaccard(nh, oh)
      } yield (ni, oi, j, j >= thr)).toSet
      val corpusDf = corpus.toDF("id", "text")
      val index = Dedup.bandIndex(corpusDf, "text", "id", k)
      val got = Dedup.dedupAgainstIndex(batch.toDF("id", "text"), "text",
          "id", k, thr, index, corpusDf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getBoolean(3))).toSet
      assert(got === expected,
        s"\nseed=$seed\ncorpus=$corpus\nbatch=$batch")
    }
  }

  test("ngramContamination (broadcast AND shuffle eval paths) matches " +
      "brute distinct-gram overlap counts on 12 random corpora (short " +
      "docs dropped, eval-only grams, zero-overlap docs absent)") {
    val vocab = Vector("m", "n", "o", "u", "v")
    for (seed <- 7300 until 7312) {
      val rnd = new Random(seed)
      val k = 2 + rnd.nextInt(2)
      val docs = (0 until (2 + rnd.nextInt(15))).map { i =>
        (i.toLong, randDoc(rnd, vocab, 7), rnd.nextInt(4) == 0)
      }
      val longEnough = docs.filter { case (_, t, _) =>
        refTokens(t).length >= k }
      val evalGrams = longEnough.filter(_._3)
        .flatMap { case (_, t, _) => refShingleAll(t, k) }.toSet
      val expected = longEnough.filterNot(_._3).flatMap { case (i, t, _) =>
        val n = (refShingleAll(t, k).toSet & evalGrams).size
        if (n > 0) Some(i -> n.toLong) else None
      }.toMap
      for (bcast <- Seq(true, false)) {
        val got = Dedup.ngramContamination(docs.toDF("id", "text", "ev"),
            "text", "id", col("ev"), k, broadcastEval = bcast)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === expected,
          s"\nseed=$seed k=$k bcast=$bcast\ndocs=$docs")
      }
    }
  }

  test("dupSpanCoverage matches brute merged-interval coverage on 12 " +
      "random corpora (overlapping flagged grams, repeats within one " +
      "doc, minDocs 2 and 3, short docs with zero grams)") {
    val vocab = Vector("g", "h", "i", "j")
    for (seed <- 7400 until 7412) {
      val rnd = new Random(seed)
      val k = 2 + rnd.nextInt(2)
      val minDocs = 2 + rnd.nextInt(2)
      val docs = (0 until (2 + rnd.nextInt(13))).map { i =>
        (i.toLong, randDoc(rnd, vocab, 9))
      }
      // gram document-frequency over positional (with-multiplicity) hashes
      val df = docs.flatMap { case (i, t) =>
        if (refTokens(t).length >= k) refShingleAll(t, k).distinct.map(_ -> i)
        else Nil
      }.groupBy(_._1).map { case (gh, rows) => gh -> rows.map(_._2).size }
      val hot = df.filter(_._2 >= minDocs).keySet
      val expected = docs.map { case (i, t) =>
        val toks = refTokens(t)
        val flagged =
          if (toks.length >= k)
            refShingleAll(t, k).zipWithIndex.collect {
              case (gh, p) if hot(gh) => p }
          else Vector.empty[Int]
        val covered = flagged.flatMap(p => p until p + k).toSet.size
        val frac = covered.toDouble / toks.length
        (i, toks.length.toLong, flagged.size.toLong, covered.toLong, frac)
      }.toSet
      val got = graft.operators.Dedup.dupSpanCoverage(
          docs.toDF("id", "text"), "text", "id", k, minDocs)
        .collect()
        .map(r => (r.getLong(0), r.getAs[Number]("n_tokens").longValue,
          r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
      assert(got === expected, s"\nseed=$seed k=$k minDocs=$minDocs\ndocs=$docs")
    }
  }

  test("dedupSegments matches brute first-occurrence-wins reassembly on " +
      "12 random corpora (within-doc repeats, fully-duplicated docs, " +
      "partial tail segments, empty text)") {
    val vocab = Vector("aa", "bb", "cc")
    for (seed <- 7500 until 7512) {
      val rnd = new Random(seed)
      val seg = 1 + rnd.nextInt(3)
      val docs = (0 until (2 + rnd.nextInt(11))).map { i =>
        (i.toLong, randDoc(rnd, vocab, 8))
      }
      // first occurrence of each segment hash by (doc_id, seg_idx) order
      case class S(doc: Long, idx: Int, text: String)
      val segsByDoc = docs.map { case (i, t) =>
        val toks = refTokens(t)
        val starts = 0 to math.max(toks.length - 1, 0) by seg
        i -> starts.zipWithIndex.map { case (st, idx) =>
          S(i, idx, toks.slice(st, st + seg).mkString(" ")) }.toVector
      }.toMap
      val firstOf = segsByDoc.values.flatten.toVector
        .groupBy(s => refHash(s.text))
        .map { case (h, ss) => h -> ss.minBy(s => (s.doc, s.idx)) }
      val expected = docs.map { case (i, _) =>
        val segs = segsByDoc(i)
        val kept = segs.filter(s => firstOf(refHash(s.text)) == s)
        (i, kept.map(_.text).mkString(" "), segs.length.toLong,
          kept.length.toLong)
      }.toSet
      val got = Dedup.dedupSegments(docs.toDF("id", "text"), "text", "id",
          seg)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(got === expected, s"\nseed=$seed seg=$seg\ndocs=$docs")
    }
  }

  // -------------------------------------------------- SNM + graph (brute)

  test("sortedNeighborhood matches the brute sorted-window pair set on " +
      "16 random corpora (duplicate strings, empty strings, window 1-4, " +
      "maxEd 0-2)") {
    for (seed <- 7600 until 7616) {
      val rnd = new Random(seed)
      val w = 1 + rnd.nextInt(4)
      val maxEd = rnd.nextInt(3)
      val rows = (0 until (2 + rnd.nextInt(25))).map { i =>
        (i.toLong, (0 until rnd.nextInt(6))
          .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
      }
      val sorted = rows.sortBy { case (id, s) => (s, id) }
      val expected = (for {
        i <- sorted.indices; j <- (i + 1) to math.min(i + w, sorted.length - 1)
        ed = bruteEd(sorted(i)._2, sorted(j)._2) if ed <= maxEd
      } yield (math.min(sorted(i)._1, sorted(j)._1),
        math.max(sorted(i)._1, sorted(j)._1), ed)).toSet
      val got = graft.operators.Fuzzy
        .sortedNeighborhood(rows.toDF("id", "s"), "id", "s", w, maxEd)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got === expected, s"\nseed=$seed w=$w maxEd=$maxEd\nrows=$rows")
    }
  }

  test("triangleCounts matches brute per-node triangle enumeration on 16 " +
      "random canonical edge lists (dense blobs, chains, isolated edges)") {
    for (seed <- 7700 until 7716) {
      val rnd = new Random(seed)
      val n = 3 + rnd.nextInt(10)
      val all = for (a <- 0 until n; b <- (a + 1) until n) yield (a.toLong, b.toLong)
      val edges = rnd.shuffle(all.toList).take(rnd.nextInt(all.length + 1))
      val es = edges.toSet
      val triCounts = collection.mutable.Map.empty[Long, Long]
      for {
        (x, y) <- es; z <- (y + 1) to (n - 1).toLong
        if es((y, z)) && es((x, z))
      } Seq(x, y, z).foreach(v => triCounts(v) = triCounts.getOrElse(v, 0L) + 1)
      val expected = triCounts.toMap
      val got = graft.operators.Graph
        .triangleCounts(edges.toDF("src", "dst"), "src", "dst")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"\nseed=$seed n=$n\nedges=$edges")
    }
  }

  test("pageRankFixedPoint matches an exact integer reference on 12 " +
      "random graphs x iterations 1-3 (stars, chains, disconnected " +
      "components; bit-identical long arithmetic)") {
    for (seed <- 7800 until 7812) {
      val rnd = new Random(seed)
      val n = 2 + rnd.nextInt(9)
      val all = for (a <- 0 until n; b <- (a + 1) until n) yield (a.toLong, b.toLong)
      val edges = rnd.shuffle(all.toList).take(1 + rnd.nextInt(all.length))
      val iters = 1 + rnd.nextInt(3)
      val scale = 1000000000000L
      val dir = edges ++ edges.map { case (a, b) => (b, a) }
      val deg = dir.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
      val nodes = deg.keySet
      val r0 = scale / nodes.size
      val teleport = (15L * r0) / 100L
      var r = nodes.map(_ -> r0).toMap
      for (_ <- 1 to iters) {
        val s = collection.mutable.Map.empty[Long, Long]
        for ((a, b) <- dir) s(b) = s.getOrElse(b, 0L) + r(a) / deg(a)
        r = nodes.map(v => v -> (teleport + (85L * s(v)) / 100L)).toMap
      }
      val got = graft.operators.Graph
        .pageRankFixedPoint(edges.toDF("src", "dst"), "src", "dst", iters)
        .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
      assert(got === r, s"\nseed=$seed n=$n iters=$iters\nedges=$edges")
    }
  }

  // -------------------------------------------- quality + profiling (brute)

  test("repetitionSignals matches brute gram-count fractions on 12 random " +
      "corpora (ks {1},{1,2},{2,3}; spam repeats, all-distinct docs, " +
      "short docs dropped by max(ks))") {
    val vocab = Vector("t0", "t1", "t2")
    for (seed <- 7900 until 7912) {
      val rnd = new Random(seed)
      val ks = Seq(Seq(1), Seq(1, 2), Seq(2, 3))(rnd.nextInt(3))
      val docs = (0 until (2 + rnd.nextInt(11))).map { i =>
        (i.toLong, randDoc(rnd, vocab, 9))
      }
      val expected = docs.filter { case (_, t) =>
        refTokens(t).length >= ks.max }.map { case (i, t) =>
        val perK = ks.flatMap { k =>
          val counts = refShingleAll(t, k).groupBy(identity)
            .map(_._2.size.toLong)
          val total = counts.sum
          Seq(counts.max.toDouble / total,
            counts.filter(_ > 1).sum.toDouble / total)
        }
        i -> perK.toVector
      }.toMap
      val got = graft.operators.Quality.repetitionSignals(
          docs.toDF("id", "text"), "text", "id", ks)
        .collect().map { r =>
          r.getLong(0) -> (1 until 1 + 2 * ks.length)
            .map(r.getDouble).toVector
        }.toMap
      assert(got === expected, s"\nseed=$seed ks=$ks\ndocs=$docs")
    }
  }

  test("corpusRankScore matches the brute (count DESC, token ASC) global " +
      "vocabulary ranking on 12 random corpora (count ties broken " +
      "lexicographically, repeated tokens, empty-string tokens)") {
    val vocab = Vector("r", "rr", "s", "ss", "t")
    for (seed <- 8000 until 8012) {
      val rnd = new Random(seed)
      val docs = (0 until (2 + rnd.nextInt(11))).map { i =>
        (i.toLong, randDoc(rnd, vocab, 8))
      }
      val counts = docs.flatMap { case (_, t) => refTokens(t) }
        .groupBy(identity).map { case (t, os) => t -> os.size.toLong }
      val rank = counts.toSeq.sortBy { case (t, c) => (-c, t) }
        .zipWithIndex.map { case ((t, _), i) => t -> (i + 1).toLong }.toMap
      val expected = docs.map { case (i, t) =>
        val toks = refTokens(t)
        i -> ((toks.length.toLong, toks.map(rank).sum))
      }.toMap
      val got = graft.operators.Quality.corpusRankScore(
          docs.toDF("id", "text"), "text", "id")
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got === expected, s"\nseed=$seed\ndocs=$docs")
    }
  }

  test("joinStats matches brute exact-cardinality prediction on 16 random " +
      "keyed pairs (null keys unmatched but distinct-counted, empty " +
      "sides, skewed hot keys)") {
    for (seed <- 8100 until 8116) {
      val rnd = new Random(seed)
      def side(n: Int): Seq[Option[Int]] = (0 until n).map { _ =>
        if (rnd.nextInt(10) == 0) None
        else Some(if (rnd.nextInt(4) == 0) 0 else rnd.nextInt(6)) // hot key 0
      }
      val left = side(rnd.nextInt(30)); val right = side(rnd.nextInt(30))
      val cl = left.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val cr = right.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      // null keys never match (equi-join), but each side's null group IS a
      // distinct key in nd_left/nd_right — mirroring the full-outer plan
      val matched = (cl.keySet & cr.keySet).filter(_.isDefined)
      val expected = (
        left.size.toLong, right.size.toLong,
        cl.size.toLong, cr.size.toLong, matched.size.toLong,
        matched.toSeq.map(k => cl(k) * cr(k)).sum,
        if (matched.isEmpty) 0L else matched.toSeq.map(k => cl(k) * cr(k)).max)
      val r = graft.operators.Profile.joinStats(
          left.map(k => Tuple1(k.map(Integer.valueOf).orNull))
            .toDF("k"), "k",
          right.map(k => Tuple1(k.map(Integer.valueOf).orNull))
            .toDF("k2"), "k2")
        .head()
      val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))
      assert(got === expected, s"\nseed=$seed\nleft=$left\nright=$right")
    }
  }

  test("profile matches brute per-column statistics on 12 random frames " +
      "(nulls, all-null columns, duplicate values, string and int " +
      "columns, exact and approx distinct counts)") {
    for (seed <- 8200 until 8212) {
      val rnd = new Random(seed)
      val rows = (0 until (1 + rnd.nextInt(25))).map { _ =>
        (if (rnd.nextInt(5) == 0) null
         else Integer.valueOf(rnd.nextInt(7)),
         if (rnd.nextInt(4) == 0) null else s"v${rnd.nextInt(5)}")
      }
      val df = rows.toDF("a", "b")
      // min/max run on the TYPED column (numeric order for ints), the
      // string cast happens after — so the brute orders typed, renders last
      def brute[T](vs: Seq[T])(implicit ord: Ordering[T])
          : (Long, Long, Long, Option[String], Option[String]) = {
        val nn = vs.filter(_ != null)
        (vs.size.toLong, (vs.size - nn.size).toLong,
          nn.distinct.size.toLong,
          if (nn.isEmpty) None else Some(nn.min.toString),
          if (nn.isEmpty) None else Some(nn.max.toString))
      }
      val expected = Map(
        "a" -> brute(rows.map(x =>
          if (x._1 == null) null.asInstanceOf[Integer] else x._1))(
          Ordering.by((i: Integer) => i.intValue)),
        "b" -> brute(rows.map(_._2)))
      val got = graft.operators.Profile.profile(df, Seq("a", "b"))
        .collect().map { r =>
          r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
            Option(r.getString(4)), Option(r.getString(5))))
        }.toMap
      assert(got === expected, s"\nseed=$seed\nrows=$rows")
      // approx path: same shape, distinct within HLL tolerance (tiny
      // cardinalities here, so it is exact in practice but not pinned)
      val approx = graft.operators.Profile.profile(df, Seq("a", "b"),
          exact = false)
        .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
      for ((c, (_, _, nd, _, _)) <- expected)
        assert(math.abs(approx(c) - nd) <= math.max(1L, nd / 5),
          s"\nseed=$seed col=$c approx=${approx(c)} exact=$nd")
    }
  }

  test("structuralSignals matches brute Gopher shape metrics on 12 random " +
      "corpora (bullets, ellipses, symbol runs, empty lines, duplicate " +
      "lines, no-word docs -> null metrics and keep=false)") {
    val words = Vector("ab", "x#", "...", "zz9", "q…w", "", "Altair")
    for (seed <- 8300 until 8312) {
      val rnd = new Random(seed)
      def line(): String = {
        val bullet = Seq("", "- ", "* ", "• ")(rnd.nextInt(4))
        val body = (0 until rnd.nextInt(4))
          .map(_ => words(rnd.nextInt(words.length))).mkString(" ")
        val tail = Seq("", "...", "…")(rnd.nextInt(3))
        bullet + body + tail
      }
      val docs = (0 until (2 + rnd.nextInt(9))).map { i =>
        val nl = rnd.nextInt(5)
        val ls = (0 until nl).map(_ => line())
        // duplicate a line sometimes to exercise the dup-line metrics
        val ls2 = if (ls.nonEmpty && rnd.nextBoolean()) ls ++ Seq(ls(0)) else ls
        (i.toLong, ls2.mkString("\n"))
      }
      def cnt(text: String, pat: String, width: Int): Long =
        ((text.length - text.replaceAll(pat, "").length).toDouble / width)
          .toLong
      val expected = docs.map { case (i, t) =>
        val lines = t.split(java.util.regex.Pattern.quote("\n"), -1).toVector
        val ws = lines.flatMap(_.split(" ", -1)).filter(_.nonEmpty)
        val nW = ws.length; val nL = lines.length
        val meanLen =
          if (nW == 0) None else Some(ws.map(_.length.toLong).sum.toDouble / nW)
        val symbol = if (nW == 0) None else Some(
          (cnt(t, "#", 1) + cnt(t, "…", 1) + cnt(t, "\\.\\.\\.", 3)).toDouble
            / nW)
        val bullet = lines.count(l =>
          l.nonEmpty && "-*•".contains(l.head)).toDouble / nL
        val ellipsis = lines.count(l =>
          l.endsWith("...") || l.endsWith("…")).toDouble / nL
        val alpha = if (nW == 0) None else Some(ws.count(_.exists(c =>
          (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))).toDouble / nW)
        val groups = lines.groupBy(refHash).values.toVector
        val dupFrac = groups.filter(_.size > 1).map(_.size).sum.toDouble / nL
        val totc = lines.map(_.length.toLong).sum
        val dupc = groups.filter(_.size > 1)
          .map(g => g.size.toLong * g.head.length).sum
        val charFrac = if (totc == 0) None else Some(dupc.toDouble / totc)
        val keep = meanLen.exists(m => m >= 3.0 && m <= 10.0) &&
          symbol.exists(_ <= 0.1) && bullet <= 0.9 && ellipsis <= 0.3 &&
          alpha.exists(_ >= 0.8) && dupFrac <= 0.3 && charFrac.exists(_ <= 0.2)
        (i, nL.toLong, nW.toLong, meanLen, symbol, bullet, ellipsis, alpha,
          dupFrac, charFrac, keep)
      }.toSet
      val got = graft.operators.Quality.structuralSignals(
          docs.toDF("id", "text"), "text", "id")
        .collect().map { r =>
          def d(n: String): Option[Double] =
            Option(r.getAs[java.lang.Double](n)).map(_.doubleValue)
          (r.getLong(0), r.getAs[Number]("n_lines").longValue,
            r.getAs[Number]("n_words").longValue,
            d("mean_word_len"), d("symbol_word_ratio"),
            r.getAs[Double]("bullet_line_frac"),
            r.getAs[Double]("ellipsis_line_frac"), d("alpha_word_frac"),
            r.getAs[Double]("dup_line_frac"), d("dup_line_char_frac"),
            r.getAs[Boolean]("keep"))
        }.toSet
      assert(got === expected, s"\nseed=$seed\ndocs=$docs")
    }
  }

  test("oovRate matches the brute top-vocab membership on 12 random " +
      "corpora (count ties broken token-ASC at the vocabulary boundary, " +
      "vocabSize larger and smaller than the vocabulary)") {
    val vocab = Vector("u0", "u1", "u2", "u3", "u4", "u5")
    for (seed <- 8400 until 8412) {
      val rnd = new Random(seed)
      val vs = 1 + rnd.nextInt(8)
      val docs = (0 until (2 + rnd.nextInt(11))).map { i =>
        (i.toLong, randDoc(rnd, vocab, 8))
      }
      val counts = docs.flatMap { case (_, t) => refTokens(t) }
        .groupBy(identity).map { case (t, os) => t -> os.size.toLong }
      val top = counts.toSeq.sortBy { case (t, c) => (-c, t) }
        .take(vs).map(_._1).toSet
      val expected = docs.map { case (i, t) =>
        val toks = refTokens(t)
        val oov = toks.count(!top(_)).toLong
        (i, toks.length.toLong, oov, oov.toDouble / toks.length)
      }.toSet
      val got = graft.operators.Quality.oovRate(
          docs.toDF("id", "text"), "text", "id", vs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(got === expected, s"\nseed=$seed vs=$vs\ndocs=$docs")
    }
  }

  test("stratifiedKeep and the PII count/redact columns match brute " +
      "references on 16 random inputs (rate 0 and 1 strata, unknown " +
      "strata on the default rate; overlapping PII shapes, order of " +
      "redaction)") {
    import graft.operators.{Quality, TextOps}
    val frags = Vector("plain text", "a@b.co", "bob.smith+x@mail.example.org",
      "10.0.0.1", "999.1.2.3", "555-0199", "123-4567x", "1.2.3", "@nope.",
      "c@d.io 9.9.9.9 111-2222")
    for (seed <- 8500 until 8516) {
      val rnd = new Random(seed)
      val rates = Map("s0" -> 0.0, "s1" -> 1.0,
        "s2" -> Seq(0.25, 0.5, 0.8)(rnd.nextInt(3)))
      val defaultRate = Seq(0.0, 0.37, 1.0)(rnd.nextInt(3))
      val rows = (0 until (1 + rnd.nextInt(20))).map { i =>
        ((0 until (1 + rnd.nextInt(3)))
           .map(_ => frags(rnd.nextInt(frags.length))).mkString(" "),
         s"s${rnd.nextInt(5)}", i.toLong)
      }
      val email = java.util.regex.Pattern.compile(Quality.EmailRe)
      val ip = java.util.regex.Pattern.compile(Quality.Ipv4Re)
      val phone = java.util.regex.Pattern.compile(Quality.PhoneRe)
      def nMatches(p: java.util.regex.Pattern, s: String): Int = {
        val m = p.matcher(s); var n = 0; while (m.find()) n += 1; n
      }
      val expected = rows.map { case (content, stratum, id) =>
        val rate = rates.getOrElse(stratum, defaultRate)
        val keep = refHash(content) % 10000L < math.round(rate * 10000L)
        val redacted = content.replaceAll(Quality.EmailRe, "<EMAIL>")
          .replaceAll(Quality.Ipv4Re, "<IP>")
          .replaceAll(Quality.PhoneRe, "<PHONE>")
        (id, keep, nMatches(email, content), nMatches(ip, content),
          nMatches(phone, content), redacted)
      }.toSet
      val (ce, ci, cp) = Quality.piiCounts(col("content"))
      val got = rows.toDF("content", "stratum", "id")
        .select(col("id"),
          TextOps.stratifiedKeep(col("content"), col("stratum"), rates,
            defaultRate).as("keep"),
          ce.as("ne"), ci.as("ni"), cp.as("np"),
          Quality.redactPii(col("content")).as("red"))
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getInt(2),
          r.getInt(3), r.getInt(4), r.getString(5))).toSet
      assert(got === expected, s"\nseed=$seed rates=$rates def=$defaultRate")
    }
  }

  test("resample (bucket means + dense grid + ffill) matches a brute " +
      "per-key scan on 12 random series (gap buckets, boundary " +
      "timestamps, integer-valued doubles keep the mean exact)") {
    for (seed <- 8600 until 8612) {
      val rnd = new Random(seed)
      val step = Seq(5L, 7L, 10L)(rnd.nextInt(3)) * 1000000000L
      val keys = Seq("k0", "k1").take(1 + rnd.nextInt(2))
      val rows = (0 until (1 + rnd.nextInt(30))).map { _ =>
        (keys(rnd.nextInt(keys.length)),
          rnd.nextLong(100L) * 1000000000L + rnd.nextLong(1000L),
          rnd.nextInt(20).toDouble)
      }
      val expected = keys.flatMap { k =>
        val ev = rows.filter(_._1 == k)
        if (ev.isEmpty) Nil else {
          val byBucket = ev.groupBy { case (_, ts, _) => ts - ts % step }
          val lo = byBucket.keys.min; val hi = byBucket.keys.max
          var fill: Option[Double] = None
          (lo to hi by step).map { b =>
            val vs = byBucket.get(b)
            val mean = vs.map(g => g.map(_._3).sum / g.size)
            if (mean.isDefined) fill = mean
            (k, b, vs.map(_.size.toLong).getOrElse(0L), mean, fill)
          }
        }
      }.toSet
      val got = graft.operators.Resample.resample(
          rows.toDF("k", "ts", "v"), "k", "ts", step, "v")
        .collect().map { r =>
          (r.getString(0), r.getLong(1), r.getLong(2),
            Option(r.getAs[java.lang.Double](3)).map(_.doubleValue),
            Option(r.getAs[java.lang.Double](4)).map(_.doubleValue))
        }.toSet
      assert(got === expected, s"\nseed=$seed step=$step\nrows=$rows")
    }
  }

  // ------------------------------------------- pack + composed clean (brute)

  private val KnuthM = 2147483647L
  private def refShuffleKey(id: Long, seed: Long): Long =
    Math.floorMod(Math.floorMod(id, KnuthM) * 2654435761L + seed % KnuthM,
      KnuthM)

  test("shardDocs matches the brute salted-Knuth-hash layout on 16 random " +
      "inputs (negative ids through pmod, nShards 1-4, epoch seeds give " +
      "different orders)") {
    for (seed <- 8700 until 8716) {
      val rnd = new Random(seed)
      val nShards = 1 + rnd.nextInt(4)
      val epoch = rnd.nextLong(1L << 40)
      val ids = rnd.shuffle((-8 until 24).map(_.toLong).toList)
        .take(1 + rnd.nextInt(30))
      val expected = ids.map { id =>
        val h = refShuffleKey(id, epoch)
        (id, h, (h % nShards).toInt)
      }.groupBy(_._3).flatMap { case (shard, rows) =>
        rows.sortBy { case (id, h, _) => (h, id) }.zipWithIndex
          .map { case ((id, _, _), i) => (id, shard, i) }
      }.toSet
      val got = graft.operators.Pack
        .shardDocs(ids.map(Tuple1(_)).toDF("id"), "id", nShards, epoch)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      assert(got === expected, s"\nseed=$seed nShards=$nShards epoch=$epoch" +
        s"\nids=$ids")
    }
  }

  test("packText pieces reassemble the exact shard token stream on 12 " +
      "random corpora (docs straddling pack cuts, seqLen 1-5, final " +
      "partial packs): brute layout AND per-piece text agree") {
    val vocab = Vector("w0", "w1", "w2", "w3")
    for (seed <- 8800 until 8812) {
      val rnd = new Random(seed)
      val nShards = 1 + rnd.nextInt(3)
      val seqLen = 1 + rnd.nextInt(5)
      val epoch = rnd.nextLong(1L << 40)
      val docs = (0 until (1 + rnd.nextInt(14))).map { i =>
        (i.toLong, randDoc(rnd, vocab, 9))
      }
      val expected = docs.map { case (id, t) =>
        (id, refShuffleKey(id, epoch), refTokens(t))
      }.groupBy { case (_, h, _) => (h % nShards).toInt }
        .flatMap { case (shard, rows) =>
          val ordered = rows.toSeq.sortBy { case (id, h, _) => (h, id) }
          var start = 0L
          ordered.flatMap { case (id, _, toks) =>
            val n = toks.length.toLong
            val pieces = (start / seqLen) to ((start + n - 1) / seqLen)
            val out = pieces.map { pack =>
              val docFrom = math.max(pack * seqLen - start, 0L)
              val docTo = math.min((pack + 1) * seqLen - start, n)
              val packFrom = math.max(start - pack * seqLen, 0L)
              (id, shard, pack, packFrom,
                toks.slice(docFrom.toInt, docTo.toInt).mkString(" "))
            }
            start += n
            out
          }
        }.toSet
      val got = graft.operators.Pack.packText(docs.toDF("id", "text"),
          "text", "id", nShards, epoch, seqLen)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getLong(3), r.getString(4))).toSet
      assert(got === expected,
        s"\nseed=$seed nShards=$nShards seqLen=$seqLen epoch=$epoch")
    }
  }

  test("cleanCorpus composes keeper/lang/quality/decontamination into the " +
      "brute per-doc decision record on 12 random corpora (eval docs, " +
      "exact-dup groups, stopword ratios at the floor, overlap budgets)") {
    import graft.operators.TextOps
    val vocab = Vector("the", "a", "der", "und", "el", "zz", "qq", "rr")
    for (seed <- 8900 until 8912) {
      val rnd = new Random(seed)
      val k = 2
      val minTok = 2; val maxTok = 6
      val minStop = 0.2
      val keepLang = Seq("en", "de")(rnd.nextInt(2))
      val maxOverlap = rnd.nextInt(2).toLong
      val texts = (0 until (2 + rnd.nextInt(8)))
        .map(_ => randDoc(rnd, vocab, 7))
      val docs = (0 until (2 + rnd.nextInt(12))).map { i =>
        (i.toLong, texts(rnd.nextInt(texts.length)), rnd.nextInt(4) == 0)
      }
      val keeperOf = docs.groupBy(_._2)
        .map { case (_, ds) => ds.map(_._1).min -> () }
      val evalGrams = docs.filter(d => d._3 && refTokens(d._2).length >= k)
        .flatMap(d => refShingleAll(d._2, k)).toSet
      val expected = docs.map { case (id, t, ev) =>
        val toks = refTokens(t)
        val scores = TextOps.LangOrder.map { case (l, set) =>
          l -> toks.count(set.contains) }
        val lang = scores.find(_._2 == scores.map(_._2).max).get._1
        val stopR = toks.count(TextOps.StopEn.contains).toDouble / toks.length
        val quality = toks.length >= minTok && toks.length <= maxTok &&
          stopR >= minStop
        val overlap = if (ev || toks.length < k) 0L
          else (refShingleAll(t, k).toSet & evalGrams).size.toLong
        val isKeeper = keeperOf.contains(id) &&
          docs.filter(_._2 == t).map(_._1).min == id
        (id, ev, isKeeper, lang, quality, overlap,
          !ev && isKeeper && quality && lang == keepLang &&
            overlap <= maxOverlap)
      }.toSet
      val got = graft.operators.Quality.cleanCorpus(
          docs.toDF("id", "text", "ev"), "text", "id", col("ev"), k,
          minTok, maxTok, minStop, keepLang, maxOverlap)
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
          r.getString(3), r.getBoolean(4), r.getLong(5), r.getBoolean(6)))
        .toSet
      assert(got === expected,
        s"\nseed=$seed keepLang=$keepLang maxOverlap=$maxOverlap\ndocs=$docs")
    }
  }

  // ----------------------------------------- exact-ANN kernels (bitwise)

  // The cosine/SQ8 pipelines are sequential IEEE folds with deterministic
  // tie-breaks, so the references replicate them BITWISE: left-to-right
  // dot products, sqrt norms, single-rounded quantization, integer L2.
  private def refDot(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
  private def refCos(a: Seq[Double], b: Seq[Double]): Double = {
    val na = math.sqrt(refDot(a, a)); val nb = math.sqrt(refDot(b, b))
    if (na * nb > 0.0) refDot(a, b) / (na * nb) else 0.0
  }
  private def randVecs(rnd: Random, n: Int, dim: Int)
      : Seq[(Long, Seq[Float])] =
    (0L until n.toLong).map { i =>
      val v = if (rnd.nextInt(8) == 0) Seq.fill(dim)(0.0f) // zero-norm rows
        else Seq.fill(dim)((rnd.nextInt(2001) - 1000) / 1000.0f)
      (i, v)
    }

  test("knnBrute and cosineNearDupPairs match bitwise in-memory cosine " +
      "references on 10 random corpora (zero-norm rows rank last at " +
      "0.0, ties break by neighbor id, threshold boundaries)") {
    for (seed <- 9000 until 9010) {
      val rnd = new Random(seed)
      val dim = 3 + rnd.nextInt(6)
      val rows = randVecs(rnd, 4 + rnd.nextInt(12), dim)
      val dv = rows.map { case (i, v) => i -> v.map(_.toDouble) }.toMap
      val k = 1 + rnd.nextInt(4)
      val qIds = rnd.shuffle(rows.map(_._1).toList).take(1 + rnd.nextInt(3))
      val expKnn = (for {
        q <- qIds
        ranked = rows.map(_._1).filter(_ != q)
          .map(n => (n, refCos(dv(q), dv(n))))
          .sortBy { case (n, c) => (-c, n) }.take(k)
        (n, c) <- ranked
      } yield (q, n, c)).toSet
      val gotKnn = graft.operators.Similarity.knnBrute(
          rows.toDF("vec_id", "embedding"), "embedding", "vec_id", qIds, k)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(gotKnn === expKnn, s"\nseed=$seed dim=$dim k=$k qIds=$qIds")
      val thr = Seq(0.0, 0.5, 0.9)(rnd.nextInt(3))
      val expPairs = (for {
        (i1, _) <- rows; (i2, _) <- rows if i1 < i2
        c = refCos(dv(i1), dv(i2)) if c >= thr
      } yield (i1, i2, c)).toSet
      val gotPairs = graft.operators.Similarity.cosineNearDupPairs(
          rows.toDF("vec_id", "embedding"), "embedding", "vec_id", thr)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(gotPairs === expPairs, s"\nseed=$seed dim=$dim thr=$thr")
    }
  }

  test("knnSq8 matches the bitwise in-memory scalar-quantization " +
      "reference on 10 random corpora (range training, clamped codes, " +
      "degenerate constant dims, integer L2 with id tie-breaks)") {
    for (seed <- 9100 until 9110) {
      val rnd = new Random(seed)
      val dim = 3 + rnd.nextInt(5)
      val rows = randVecs(rnd, 4 + rnd.nextInt(12), dim)
      val k = 1 + rnd.nextInt(4)
      val qIds = rnd.shuffle(rows.map(_._1).toList).take(1 + rnd.nextInt(3))
      val normed = rows.map { case (i, v) =>
        val d = v.map(_.toDouble)
        val nrm = math.sqrt(refDot(d, d))
        i -> (if (nrm > 0.0) d.map(_ / nrm) else d)
      }.toMap
      val mins = (0 until dim).map(j => normed.values.map(_(j)).min)
      val maxs = (0 until dim).map(j => normed.values.map(_(j)).max)
      val codes = normed.map { case (i, v) =>
        i -> v.zipWithIndex.map { case (x, j) =>
          if (maxs(j) == mins(j)) 0L
          else math.min(math.max(
            math.floor((x - mins(j)) * 255.0 / (maxs(j) - mins(j))).toLong,
            0L), 255L)
        }
      }
      val expected = (for {
        q <- qIds
        ranked = rows.map(_._1).filter(_ != q)
          .map { n =>
            val d = codes(q).zip(codes(n))
              .map { case (a, b) => (a - b) * (a - b) }.sum
            (n, d)
          }.sortBy { case (n, d) => (d, n) }.take(k)
        (n, d) <- ranked
      } yield (q, n, d)).toSet
      val got = graft.operators.Sq.knnSq8(
          rows.toDF("vec_id", "embedding"), "embedding", "vec_id", qIds, k)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === expected, s"\nseed=$seed dim=$dim k=$k qIds=$qIds")
    }
  }

  // ------------------------------------ quantized-ANN brute equivalence

  // The quantized rungs (PQ / IVF / IVF-PQ) have exactness regimes where
  // the approximation must VANISH: a full-corpus re-rank or a full-cell
  // probe makes the candidate set total, so the output must equal brute
  // force BITWISE (same cosine fold, same tie-breaks). These sweeps pin
  // those regimes on random corpora with caller-supplied (random) indexes
  // — no k-means involved, so a failure is unambiguously in the scoring /
  // blocking machinery, not in training.

  private def refL2sq(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }

  private def bruteSet(df: org.apache.spark.sql.DataFrame,
      qIds: Seq[Long], k: Int): Set[(Long, Long, Double)] =
    graft.operators.Similarity.knnBrute(df, "embedding", "vec_id", qIds, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("knnPqFrom matches the bitwise in-memory ADC reference with " +
      "caller-supplied random codebooks, and rerank=|corpus| equals " +
      "knnBrute exactly (10 random corpora)") {
    for (seed <- 9200 until 9210) {
      val rnd = new Random(seed)
      val m = 1 + rnd.nextInt(3)
      val subDim = 1 + rnd.nextInt(3)
      val dim = m * subDim
      val kCb = 1 + rnd.nextInt(5)
      val rows = randVecs(rnd, 4 + rnd.nextInt(12), dim)
      val cbs: Seq[Seq[Array[Double]]] = (0 until m).map(_ =>
        (0 until kCb).map(_ =>
          Array.fill(subDim)((rnd.nextInt(2001) - 1000) / 500.0)).toSeq)
      val dv = rows.map { case (i, v) => i -> v.map(_.toDouble) }.toMap
      // replicate codesFor: per subspace, strict-< argmin over the
      // left-to-right-summed squared L2 — first min wins on ties
      def codes(v: Seq[Double]): Seq[Int] = (0 until m).map { s =>
        val sub = v.slice(s * subDim, (s + 1) * subDim)
        var best = Double.PositiveInfinity; var cid = -1
        for (ci <- 0 until kCb) {
          val d = refL2sq(sub, cbs(s)(ci).toSeq)
          if (d < best) { best = d; cid = ci }
        }
        cid
      }
      // replicate the ADC score: qtab lookups summed left-to-right over
      // subspaces (the engine's aggregate-over-zip_with fold order)
      def adc(q: Seq[Double], n: Seq[Double]): Double = {
        val cs = codes(n)
        (0 until m).foldLeft(0.0)((acc, s) => acc +
          refL2sq(q.slice(s * subDim, (s + 1) * subDim), cbs(s)(cs(s)).toSeq))
      }
      val k = 1 + rnd.nextInt(4)
      val qIds = rnd.shuffle(rows.map(_._1).toList).take(1 + rnd.nextInt(3))
      val expected = (for {
        q <- qIds
        ranked = rows.map(_._1).filter(_ != q)
          .map(n => (n, adc(dv(q), dv(n))))
          .sortBy { case (n, d) => (d, n) }.take(k)
        (n, d) <- ranked
      } yield (q, n, d)).toSet
      val df = rows.toDF("vec_id", "embedding")
      val corpus = graft.operators.Similarity.prepared(
        df, "embedding", "vec_id")
      val got = graft.operators.Pq.knnPqFrom(corpus, cbs, qIds, k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(got === expected,
        s"\nseed=$seed m=$m subDim=$subDim kCb=$kCb k=$k qIds=$qIds")
      val rer = graft.operators.Pq
        .knnPqFrom(corpus, cbs, qIds, k, rerank = rows.size)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(rer === bruteSet(df, qIds, k),
        s"\nseed=$seed rerank=${rows.size} k=$k qIds=$qIds")
    }
  }

  test("knnIvfFrom with nProbe=|cells| equals knnBrute bitwise on 10 " +
      "random corpora with random centroids, on BOTH the literal-fold " +
      "and broadcast-join assignment paths") {
    for (seed <- 9300 until 9310) {
      val rnd = new Random(seed)
      val dim = 2 + rnd.nextInt(5)
      val rows = randVecs(rnd, 4 + rnd.nextInt(12), dim)
      val nC = 1 + rnd.nextInt(4)
      val cents = (0 until nC).map { ci =>
        val cv = Array.fill(dim)((rnd.nextInt(2001) - 1000) / 500.0)
        graft.operators.Similarity.Cent(ci.toLong, cv,
          math.sqrt(refDot(cv.toSeq, cv.toSeq)))
      }
      val k = 1 + rnd.nextInt(4)
      val qIds = rnd.shuffle(rows.map(_._1).toList).take(1 + rnd.nextInt(3))
      val df = rows.toDF("vec_id", "embedding")
      val brute = bruteSet(df, qIds, k)
      val corpus = graft.operators.Similarity.prepared(
        df, "embedding", "vec_id")
      for (lim <- Seq(graft.operators.Similarity.LiteralDoubleLimit, 0L)) {
        val got = graft.operators.Similarity
          .knnIvfFrom(corpus, cents, qIds, k, nProbe = nC,
            literalLimit = lim)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toSet
        assert(got === brute,
          s"\nseed=$seed nC=$nC k=$k literalLimit=$lim qIds=$qIds")
      }
    }
  }

  test("knnIvfPqFrom with nProbe=|cells| and rerank=|corpus| equals " +
      "knnBrute bitwise on 10 random corpora (random centroids AND " +
      "random residual codebooks — the approximation must vanish)") {
    for (seed <- 9400 until 9410) {
      val rnd = new Random(seed)
      val m = 1 + rnd.nextInt(2)
      val subDim = 1 + rnd.nextInt(3)
      val dim = m * subDim
      val rows = randVecs(rnd, 4 + rnd.nextInt(12), dim)
      val nC = 1 + rnd.nextInt(4)
      val cents = (0 until nC).map { ci =>
        val cv = Array.fill(dim)((rnd.nextInt(2001) - 1000) / 500.0)
        graft.operators.Similarity.Cent(ci.toLong, cv,
          math.sqrt(refDot(cv.toSeq, cv.toSeq)))
      }
      val kCb = 1 + rnd.nextInt(4)
      val cbs: Seq[Seq[Array[Double]]] = (0 until m).map(_ =>
        (0 until kCb).map(_ =>
          Array.fill(subDim)((rnd.nextInt(2001) - 1000) / 500.0)).toSeq)
      val k = 1 + rnd.nextInt(4)
      val qIds = rnd.shuffle(rows.map(_._1).toList).take(1 + rnd.nextInt(3))
      val df = rows.toDF("vec_id", "embedding")
      val corpus = graft.operators.Similarity.prepared(
        df, "embedding", "vec_id")
      val got = graft.operators.Ivfpq
        .knnIvfPqFrom(corpus, cents, cbs, qIds, k, nProbe = nC,
          rerank = rows.size)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(got === bruteSet(df, qIds, k),
        s"\nseed=$seed nC=$nC m=$m kCb=$kCb k=$k qIds=$qIds")
    }
  }

  // ---------------------------------------------- leakage-safe splitting

  test("leakageSafeSplit matches the brute keeper-hash assignment on 12 " +
      "random corpora (random dup graphs incl self-loops, random " +
      "train/val percentages, empty-text docs) and no dup edge ever " +
      "straddles splits") {
    val vocab = Vector("a", "b", "c", "d", "e")
    for (seed <- 9500 until 9512) {
      val rnd = new Random(seed)
      val n = 3 + rnd.nextInt(20)
      val docRows = (0L until n.toLong).map(i =>
        (i, randDoc(rnd, vocab, 6)))
      val text = docRows.toMap
      val edges = (0 until rnd.nextInt(2 * n)).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }
      val keeperOf = bruteComponents(edges)
      val trainPct = 1 + rnd.nextInt(80)
      val valPct = rnd.nextInt(101 - trainPct)
      def splitOf(hv: Long): String =
        if (hv < trainPct) "train"
        else if (hv < trainPct + valPct) "val" else "test"
      val expected = docRows.map { case (i, t) =>
        val grouped = keeperOf.contains(i)
        val hv = refHash(text(keeperOf.getOrElse(i, i))) % 100
        i -> ((splitOf(hv), grouped))
      }.toMap
      val groups = keeperOf.toSeq.sortBy(_._1).toDF("id", "keeper")
      val got = Dedup.leakageSafeSplit(docRows.toDF("doc_id", "text"),
          "doc_id", "text", groups, trainPct, valPct)
        .collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2))))
        .toMap
      assert(got === expected,
        s"\nseed=$seed n=$n trainPct=$trainPct valPct=$valPct" +
          s"\nedges=$edges")
      // the operator's whole point: components never straddle splits
      edges.foreach { case (a, b) =>
        assert(got(a)._1 === got(b)._1,
          s"\nseed=$seed edge ($a,$b) straddles ${got(a)._1}/${got(b)._1}")
      }
    }
  }

  test("knnLsh with probes=numPlanes (full Hamming radius — every " +
      "bucket probed) equals knnBrute bitwise on 10 random corpora: " +
      "the last ANN rung's exactness regime") {
    for (seed <- 9700 until 9710) {
      val rnd = new Random(seed)
      val dim = 2 + rnd.nextInt(5)
      val rows = randVecs(rnd, 4 + rnd.nextInt(12), dim)
      val nPlanes = 1 + rnd.nextInt(3)
      val k = 1 + rnd.nextInt(4)
      val qIds = rnd.shuffle(rows.map(_._1).toList).take(1 + rnd.nextInt(3))
      val df = rows.toDF("vec_id", "embedding")
      val got = graft.operators.Similarity.knnLsh(df, "embedding",
          "vec_id", qIds, k, numPlanes = nPlanes, dim = dim,
          probes = nPlanes)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(got === bruteSet(df, qIds, k),
        s"\nseed=$seed dim=$dim nPlanes=$nPlanes k=$k qIds=$qIds")
    }
  }

  test("sqrtTemperatureKeep matches the brute integer derivation " +
      "(floor-sqrt weights, integer targets and thresholds, polyHash " +
      "keep) on 12 random corpora with skewed domains and random " +
      "targets, incl. the keep-all regime") {
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g")
    for (seed <- 9600 until 9612) {
      val rnd = new Random(seed)
      val domains = Vector("d0", "d1", "d2", "d3").take(1 + rnd.nextInt(4))
      val docRows = (0L until (3 + rnd.nextInt(40)).toLong).map { i =>
        // skew: domain 0 gets a double chance
        val d = domains((rnd.nextInt(domains.length + 1))
          .min(domains.length - 1))
        (i, d, randDoc(rnd, vocab, 5))
      }
      val target = 1L + rnd.nextInt(60)
      val n = docRows.groupBy(_._2).map { case (d, rs) => d -> rs.size.toLong }
      val w = n.map { case (d, c) =>
        d -> math.floor(math.sqrt(c.toDouble)).toLong }
      val sw = w.values.sum
      val thr = n.map { case (d, c) =>
        d -> (BigInt(10000) * target * w(d) / (BigInt(sw) * c))
          .min(BigInt(10000)).toLong }
      val expected = docRows.collect {
        case (i, d, t) if refHash(t) % 10000L < thr(d) => i
      }.toSet
      val got = graft.operators.TextOps.sqrtTemperatureKeep(
          docRows.toDF("doc_id", "lang", "text"), "lang", "text", target)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(got === expected,
        s"\nseed=$seed target=$target n=$n thr=$thr")
    }
  }

  test("sqrtTemperatureKeep keeps rare domains in the many-domains / " +
      "small-target regime where the old double-truncated form floored " +
      "every per-domain target to zero") {
    // 30 equal domains of 40 docs: w = 6 each, Σw = 180. target = 20 means
    // targetDocs·w = 120 < Σw, so (target·w) div Σw = 0 and the old
    // threshold (SampleMod·0) div n = 0 dropped the ENTIRE corpus. The
    // single-division form gives thr = ⌊10000·20·6/(180·40)⌋ = 166 —
    // every domain keeps its proportional ~1.7%.
    val rnd = new Random(4242)
    val vocab = Vector("p", "q", "r", "s", "t", "u", "v", "w")
    val docRows = for {
      d <- 0 until 30; i <- 0 until 40
    } yield ((d * 40 + i).toLong, s"dom$d", randDoc(rnd, vocab, 7))
    val expected = docRows.collect {
      case (i, _, t) if refHash(t) % 10000L < 166L => i
    }.toSet
    assert(expected.nonEmpty, "regime setup must leave survivors")
    val got = graft.operators.TextOps.sqrtTemperatureKeep(
        docRows.toDF("doc_id", "lang", "text"), "lang", "text", 20L)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got === expected)
  }

  test("winnowingFingerprints matches the brute MOSS replica (window min, " +
      "rightmost tie-break, distinct positional selections) on 12 random " +
      "corpora over a tiny alphabet (maximizing gram-hash ties), and every " +
      "shared run of >= w+k-1 tokens shares a fingerprint") {
    // two-letter vocab so k-grams repeat heavily — the tie-break and
    // overlap-collapse paths get exercised, not just the generic min
    val vocab = Vector("a", "b")
    for (seed <- 9840 until 9852) {
      val rnd = new Random(seed)
      val k = 1 + rnd.nextInt(3)
      val w = 1 + rnd.nextInt(5)
      val docRows = (0L until (2 + rnd.nextInt(8)).toLong).map { i =>
        (i, randDoc(rnd, vocab, 2 + rnd.nextInt(12)))
      }
      def winnow(text: String): Set[(Long, Long)] = {
        val g = refShingleAll(text, k)
        if (g.isEmpty) Set.empty
        else (0 to math.max(g.length - w, 0)).flatMap { i =>
          val s = g.slice(i, i + w)
          val m = s.min
          val rpos = s.lastIndexOf(m) // rightmost min, 0-based in window
          Some(((i + rpos + 1).toLong, m)) // 1-based gram position
        }.toSet
      }
      val expected = docRows.flatMap { case (id, t) =>
        winnow(t).map { case (p, f) => (id, p, f) } }.toSet
      val got = graft.operators.TextOps.winnowingFingerprints(
          docRows.toDF("doc_id", "text"), "text", "doc_id", k, w)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got === expected, s"\nseed=$seed k=$k w=$w")
      // the winnowing theorem on the data we have: if two docs share a
      // token run of >= w+k-1, they must share a fingerprint VALUE
      val byDoc = docRows.map { case (id, t) =>
        id -> (t.split(" ").toVector, winnow(t).map(_._2)) }.toMap
      val runLen = w + k - 1
      for {
        (i, (ti, fi)) <- byDoc; (j, (tj, fj)) <- byDoc if i < j
        if ti.sliding(runLen).exists(r =>
          r.length == runLen && tj.sliding(runLen).contains(r))
      } assert(fi.intersect(fj).nonEmpty,
        s"\nseed=$seed docs $i,$j share a $runLen-token run but no fp")
    }
  }

  test("winnowingSharedSpans matches the brute pair replica (fp join, df " +
      "cap, extent aggregates) on 12 random corpora over a tiny alphabet, " +
      "and a planted shared run always surfaces its pair") {
    val vocab = Vector("a", "b")
    for (seed <- 9860 until 9872) {
      val rnd = new Random(seed)
      val k = 1 + rnd.nextInt(3)
      val w = 1 + rnd.nextInt(4)
      val maxDf = 2 + rnd.nextInt(4)
      // 2-letter docs share grams heavily — the df cap actually trips
      val base = (0L until (4 + rnd.nextInt(6)).toLong).map { i =>
        (i, randDoc(rnd, vocab, 2 + rnd.nextInt(10)))
      }
      // plant one shared run of EXACTLY w+k-1 tokens (randDoc's length
      // arg is a maximum, not exact) in two fresh docs: the theorem pair
      val runVocab = Vector("x", "y", "z")
      val run = (0 until (w + k - 1))
        .map(_ => runVocab(rnd.nextInt(runVocab.length))).mkString(" ")
      val docRows = base ++ Seq(
        (100L, run + " " + randDoc(rnd, vocab, 3)),
        (101L, randDoc(rnd, vocab, 3) + " " + run))
      def winnow(text: String): Set[(Long, Long)] = {
        val g = refShingleAll(text, k)
        if (g.isEmpty) Set.empty
        else (0 to math.max(g.length - w, 0)).map { i =>
          val s = g.slice(i, i + w)
          val m = s.min
          ((i + s.lastIndexOf(m) + 1).toLong, m)
        }.toSet
      }
      val sel = docRows.flatMap { case (id, t) =>
        winnow(t).map { case (p, f) => (id, p, f) } }
      val df = sel.groupBy(_._3).view
        .mapValues(_.map(_._1).distinct.size).toMap
      val rare = sel.filter { case (_, _, f) => df(f) <= maxDf }
      val expected = (for {
        (i1, p1, f1) <- rare; (i2, p2, f2) <- rare
        if f1 == f2 && i1 < i2
      } yield (i1, i2, f1, p1, p2))
        .groupBy { case (i1, i2, _, _, _) => (i1, i2) }
        .map { case ((i1, i2), rows) =>
          (i1, i2, rows.map(_._3).distinct.size.toLong,
            rows.map(_._4).min, rows.map(_._4).max,
            rows.map(_._5).min, rows.map(_._5).max)
        }.toSet
      val got = graft.operators.TextOps.winnowingSharedSpans(
          docRows.toDF("doc_id", "text"), "text", "doc_id", k, w, maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
        .toSet
      assert(got === expected, s"\nseed=$seed k=$k w=$w maxDf=$maxDf")
      // the planted x/y/z run appears in exactly docs 100 and 101 (df=2
      // <= maxDf, never capped), so the MOSS theorem forces the pair out
      assert(got.exists { case (a, b, _, _, _, _, _) =>
        a == 100L && b == 101L },
        s"\nseed=$seed planted $w+$k-1-token run did not surface (100,101)")
    }
  }

  test("winnowingSharedSpans cached (default) and uncached spellings are " +
      "identical — the extent-frame persist is an execution detail, " +
      "never a semantic input (r15 verdict item 1)") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    def inMemory(f: org.apache.spark.sql.DataFrame) =
      f.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r }.isDefined
    def rows(f: org.apache.spark.sql.DataFrame) = f.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSet
    val vocab = Vector("a", "b", "c")
    for (seed <- 9890 until 9894) {
      val rnd = new Random(seed)
      val k = 1 + rnd.nextInt(3)
      val w = 1 + rnd.nextInt(4)
      val maxDf = 2 + rnd.nextInt(4)
      val docRows = (0L until (5 + rnd.nextInt(6)).toLong)
        .map(i => (i, randDoc(rnd, vocab, 3 + rnd.nextInt(10))))
      val df = docRows.toDF("doc_id", "text")
      def build() = graft.operators.TextOps
        .winnowingSharedSpans(df, "text", "doc_id", k, w, maxDf)
      // the lazy side: the registered frame is released before the first
      // action, so this plan recomputes the extents on every consumer
      val lazySpans = build()
      OpCaches.clear()
      assert(!inMemory(lazySpans), s"\nseed=$seed")
      val uncached = rows(lazySpans)
      val cachedSpans = build()
      assert(inMemory(cachedSpans), s"\nseed=$seed")
      assert(rows(cachedSpans) === uncached,
        s"\nseed=$seed k=$k w=$w maxDf=$maxDf")
    }
  }

  test("winnowingSharedSpans' frame registry: interleaved corpora each " +
      "keep their cached frame (the r16 single slot thrashed them), " +
      "repeats re-find it, and the pin count stays bounded at " +
      "OpCaches.MaxFrames with LRU eviction (r16 verdict residual 4)") {
    val rnd = new Random(9911)
    val vocab = Vector("a", "b", "c")
    def corpus(n: Long) = (0L until n)
      .map(i => (i, randDoc(rnd, vocab, 4 + rnd.nextInt(8))))
      .toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) = graft.operators.TextOps
      .winnowingSharedSpans(df, "text", "doc_id", 2, 2, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSet
    OpCaches.clear()
    val (dfA, dfB) = (corpus(6), corpus(7))
    val (a1, b1) = (run(dfA), run(dfB)) // cold: two registrations
    val h0 = OpCaches.hits.get()
    val (a2, b2) = (run(dfA), run(dfB)) // interleaved repeats: both HIT
    assert(OpCaches.hits.get() - h0 === 2L,
      "each interleaved corpus must re-find its own persisted frame")
    assert(a1 === a2); assert(b1 === b2)
    assert(OpCaches.frameCount === 2)
    // MaxFrames - 1 more corpora make MaxFrames + 1 registrations: the
    // registry evicts the least-recently-used frame (A — access order
    // after the repeats is A then B) and stays at its bound
    (1 until OpCaches.MaxFrames).foreach(i => run(corpus(7L + i)))
    assert(OpCaches.frameCount === OpCaches.MaxFrames,
      "registry must stay bounded at OpCaches.MaxFrames")
    // the evicted corpus still computes correctly (lazy recompute) and
    // re-registers as a miss, not a hit
    val h1 = OpCaches.hits.get()
    assert(run(dfA) === a1)
    assert(OpCaches.hits.get() === h1,
      "an evicted frame must re-register (miss), not phantom-hit")
    OpCaches.clear()
  }

  test("winnowingSharedSpans' frame registry purges entries whose session " +
      "has stopped — unregistered AND unpersist attempted, without failing " +
      "the live caller (r17 verdict residual 3 + ADVICE). The stopped-ness " +
      "predicate is injected: a JVM allows one active SparkContext, so the " +
      "spec cannot stop a real second session without killing the suite's") {
    val rnd = new Random(9931)
    val vocab = Vector("a", "b", "c")
    val df = (0L until 6L)
      .map(i => (i, randDoc(rnd, vocab, 4 + rnd.nextInt(8))))
      .toDF("doc_id", "text")
    def run() = graft.operators.TextOps
      .winnowingSharedSpans(df, "text", "doc_id", 2, 2, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val first = run() // registers a frame for the suite session
    assert(OpCaches.frameCount >= 1)
    // every-session-dead: the purge must empty the registry entirely
    OpCaches.purgeStoppedSessions(_ => true)
    assert(OpCaches.frameCount === 0,
      "a stopped session's frame must be unregistered at purge")
    // the live session recomputes correctly (unpersist was best-effort,
    // the plan is lazy) and re-registers as a cold miss, not a hit
    val h0 = OpCaches.hits.get()
    assert(run() === first)
    assert(OpCaches.hits.get() === h0,
      "a purged frame must re-register (miss), not phantom-hit")
    // real predicate over the live suite session: purge keeps the entry
    OpCaches.purgeStoppedSessions()
    assert(OpCaches.frameCount >= 1,
      "a live session's frame must survive the real-predicate purge")
  }

  test("knnTruncated matches the in-memory prefix-shortlist + exact-rerank " +
      "replica on 10 random corpora, and prefix=dim / shortlist=n equals " +
      "knnBrute bitwise (the matryoshka exactness regime)") {
    for (seed <- 9800 until 9810) {
      val rnd = new Random(seed)
      val dim = 2 + rnd.nextInt(6)
      val rows = randVecs(rnd, 5 + rnd.nextInt(12), dim)
      val k = 1 + rnd.nextInt(4)
      val prefixDim = 1 + rnd.nextInt(dim)
      val shortlist = k + rnd.nextInt(8)
      val qIds = rnd.shuffle(rows.map(_._1).toList).take(1 + rnd.nextInt(3))
      val df = rows.toDF("vec_id", "embedding")
      val vecs = rows.map { case (i, v) => i -> v.map(_.toDouble) }.toMap
      // SQL sort treats -0.0 == 0.0; normalize before the replica's sortBy
      def sKey(c: Double): Double = if (c == 0.0) 0.0 else c
      def topBy(scored: Seq[(Long, Double)], n: Int): Seq[(Long, Double)] =
        scored.sortBy { case (id, c) => (-sKey(c), id) }.take(n)
      val expected = qIds.flatMap { q =>
        val pq = vecs(q).take(prefixDim)
        val cands = rows.collect { case (i, _) if i != q =>
          i -> refCos(vecs(i).take(prefixDim), pq) }
        val short = topBy(cands, shortlist).map(_._1)
        val exact = short.map(i => i -> refCos(vecs(i), vecs(q)))
        topBy(exact, k).map { case (i, c) => (q, i, c) }
      }.toSet
      val got = graft.operators.Similarity.knnTruncated(df, "embedding",
          "vec_id", qIds, k, prefixDim, shortlist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(got === expected,
        s"\nseed=$seed dim=$dim prefixDim=$prefixDim shortlist=$shortlist")
      // exactness regime: full prefix + full shortlist — the truncation
      // must VANISH, indicting the shortlist machinery if it differs
      val full = graft.operators.Similarity.knnTruncated(df, "embedding",
          "vec_id", qIds, k, dim, rows.size)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(full === bruteSet(df, qIds, k),
        s"\nseed=$seed full-prefix/full-shortlist must equal knnBrute")
    }
  }

  test("rrfFuse matches the in-memory reciprocal-rank-fusion replica " +
      "(fused score doubles bitwise, missing-list nulls, per-query top-k) " +
      "on 12 random shortlist pairs") {
    for (seed <- 9820 until 9832) {
      val rnd = new Random(seed)
      val qids = (0 until (1 + rnd.nextInt(3))).map(_.toLong)
      val ids = (0 until 15).map(_.toLong)
      def mkList(q: Long): Seq[(Long, Long, Long)] =
        rnd.shuffle(ids.toList).take(rnd.nextInt(8)).zipWithIndex
          .map { case (id, i) => (q, id, (i + 1).toLong) }
      val la = qids.flatMap(mkList)
      val lb = qids.flatMap(mkList)
      val k = 1 + rnd.nextInt(5)
      val rrfK = rnd.nextInt(80)
      val byA = la.map { case (q, id, r) => (q, id) -> r }.toMap
      val byB = lb.map { case (q, id, r) => (q, id) -> r }.toMap
      val expected = (byA.keySet ++ byB.keySet).groupBy(_._1).toSeq
        .flatMap { case (q, keys) =>
          val scored = keys.toSeq.map { case (_, id) =>
            val ra = byA.get((q, id)); val rb = byB.get((q, id))
            val sc = ra.map(r => 1.0 / (rrfK + r)).getOrElse(0.0) +
              rb.map(r => 1.0 / (rrfK + r)).getOrElse(0.0)
            (id, ra, rb, sc)
          }
          scored.sortBy { case (id, _, _, sc) => (-sc, id) }.take(k)
            .map { case (id, ra, rb, sc) => (q, id, ra, rb, sc) }
        }.toSet
      val got = graft.operators.Similarity.rrfFuse(
          la.toDF("query_id", "id", "rank"),
          lb.toDF("query_id", "id", "rank"), k, rrfK)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          r.getDouble(4))).toSet
      assert(got === expected, s"\nseed=$seed k=$k rrfK=$rrfK")
    }
  }
}
