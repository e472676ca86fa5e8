// Run with: sbt "runMain graft.tools.Sf1Probe [gate ...]"
package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.OpCaches

/** Super-linear-tail probe: run the slow-tail gates ONCE at the scaled-up
  * sf1 directory ([[ScaleUp]] output) and record wall time + exchange
  * volume next to their sf0.1 baselines. The per-round bench grades sf0.1;
  * this is the cheapest way to surface a tail that only bends at 10× —
  * candidate-pair growth in jaccard/SNM-style blocking, state growth in
  * stream-stream joins — before a 1000× cluster run finds it the hard way.
  * Writes BENCH_sf1_probe.json: per gate {sf1_sec, sf01_sec, ratio,
  * sf1_shuffle_mb, sf01_shuffle_mb, shuffle_ratio}. A time ratio ≲ ~10
  * (per 10× data) reads as linear-ish; shuffle bytes are the noise-free
  * cross-check (wall time on a busy sandbox is not).
  */
object Sf1Probe {
  def main(args: Array[String]): Unit = {
    val sf1 = "/root/repo/target/sf1"
    val sf01 = "/root/testdata/sf0.1"
    val gates = if (args.nonEmpty) args.toSeq else Seq(
      "q_sim_knn_ivfpq", "q_spearman", "q_stream_outer_join",
      "q_stream_stream_join", "q_stream_session_parity",
      // q_sim_semdedup (the pinned fixed-k trap) left the TIMED set in
      // r19 (verdict item 5): its oracle-pinned k=8 makes intra-cell
      // verify n²/k — super-linear BY DESIGN, measured ×19.9 at ×10 and
      // costing 74 s of every probe run to demonstrate a documented
      // anti-pattern. The correctness gate keeps running at every scale;
      // the scale claim rides on q_sim_semdedup_auto + semdedup_scaled_k.
      "q_prefix_sum", "q_pipe_jaccard_block", "q_pipe_jaccard_freq",
      "q_sim_knn_pq_rerank", "q_join_bucketed",
      // the two r13 additions with real I/O (BMP decode, write-compact-
      // read cycle). The graph GATES (q_pagerank/q_triangles) are NOT
      // probeable this way: they read supplier, which ScaleUp leaves
      // unscaled (dimension table), so their sf1 input is byte-identical
      // to sf0.1 and a flat ratio would be input-didn't-grow, not
      // linearity — the graph stack is probed separately below on a
      // supplier entity table scaled 10x in-process.
      "q_mm_embed_real", "q_layout_compact",
      // r13 gate 166: the minhash -> dup-groups -> keeper-hash-join
      // composition — probes candidate-pair growth plus the two
      // assignment joins at 10x
      "q_pipe_split_safe",
      // r13 gate 167: histogram -> orderless global window -> broadcast
      // thresholds -> narrow keep filter
      "q_pipe_temp_sample",
      // r14 gate 168: SemDeDup with k derived from the corpus count —
      // probing it alongside the fixed-k gate shows the auto default
      // holds the intra-cell kernel linear where fixed k blew up 22x
      "q_sim_semdedup_auto",
      // r14 gate 169: prefix-dim scan + max(8k, n/25) shortlist + exact
      // re-rank — probes the thin-rerank scaling contrast with pq_rerank
      "q_sim_knn_matryoshka",
      // the two remaining >= 2 s gates (r14 verdict item 2): expanding-
      // window stats (per-key cumulative frames over events) and the
      // DISTRIBUTED dup-group path (relax+jump pointer-doubling rounds)
      "q_expanding", "q_pipe_dup_groups_dist",
      // r15 gate: fp-equality span join — the probe watches the pair
      // count (copies are token-disjoint, so pairs must scale linearly,
      // and the df cap bounds any hot fingerprint)
      "q_pipe_winnow_spans",
      // r17 gates: the two production ANN paths now oracle-gated —
      // k=64 bucketed-Lloyd training (n·O(√k) rounds; scoring probes a
      // fixed 25% cell fraction) and the m=16/32-cent PQ point whose
      // re-rank breadth is max(8k, ⌈√n⌉), sublinear by construction
      "q_sim_knn_ivf_learned_k64", "q_sim_knn_pq_prod")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = ProbeUtil.session()

    // The timer wraps the WHOLE gate fn, not just the final collect:
    // streaming gates replay their micro-batch stream and ANN gates run
    // their training collects eagerly INSIDE fn, and that work is
    // exactly what the bench times too. Metrics come from the EXECUTED
    // materialization plan (SQLMetrics live on executed nodes only);
    // work done by eager jobs inside fn (training, stream replay) moves
    // data outside this plan, so shuffle_mb is the final-plan volume —
    // the right number for "does the output-producing plan's movement
    // scale linearly", the figure PLANS.md audits.
    def runOnce(gate: String, dir: String): (Double, Double) = {
      val fn = graft.SparkEntry.queries(gate)
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      val out = df.agg(
        bit_xor(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*))))
      out.collect()
      val sec = (System.nanoTime() - t0) / 1e9
      val vol = PlanMetrics.exchangeVolume(out)
      (sec, vol.shuffleWritten / 1e6)
    }

    // one warmup to pay session-level JIT/codegen before any timed run
    try runOnce("q1_agg", sf01) catch { case _: Throwable => }

    val rows = gates.map { g =>
      // per-(gate, SCALE) warmup: the timed run is always the SECOND run
      // at that scale. The first-ever run of a gate pays whole-stage-
      // codegen compile and kernel JIT (the r14 rationale for the sf0.1
      // warmup), and — since r17's winnow-span frame registry — a
      // caching operator's first run AT A SCALE additionally pays its
      // frame materialization while the second reuses it. Warming only
      // sf0.1 made the two scales measure different path mixes (the
      // sf0.1 number rode the warm cache, the sf1 number paid the cold
      // materialization — the r17 first probe draft printed winnow-spans
      // x3.9 that way); warming per scale times the steady-state cost at
      // BOTH scales, so the ratio is like-for-like.
      runOnce(g, sf01)
      val (s01, mb01) = runOnce(g, sf01)
      runOnce(g, sf1)
      val (s1, mb1) = runOnce(g, sf1)
      println(f"[probe] $g%-26s sf0.1 $s01%6.2fs ${mb01}%8.2fMB | " +
        f"sf1 $s1%6.2fs ${mb1}%8.2fMB | x${s1 / s01}%.1f time x${
          if (mb01 > 0) mb1 / mb01 else 0.0}%.1f shuffle")
      g -> (s01, s1, mb01, mb1)
    }
    // SemDeDup fixed-k vs scaled-k demonstration: the gate pins k=8 for
    // the DuckDB replay, which makes intra-cell verify O(sum cell^2) —
    // genuinely super-linear when n grows 10x under fixed k (the x20+
    // ratio above is REAL, not noise). The production knob is k ~ n /
    // target-cell-size; running the OPERATOR with k scaled 10x alongside
    // shows the same workload goes back to linear-ish.
    def semdedupK(dir: String, k: Int): Double = {
      OpCaches.withPersisted(graft.operators.Similarity
          .prepared(graft.queries.tbl(spark, dir, "embeddings"),
            "embedding", "vec_id")) { corpus =>
        val t0 = System.nanoTime()
        val cents = graft.operators.Similarity
          .kmeansCentroidsSeq(corpus, k, lloydIters = 2)
        val df = graft.operators.Similarity
          .semDedupDecisions(corpus, cents, 0.3)
        df.agg(bit_xor(xxhash64(struct(
          df.columns.toIndexedSeq.map(col): _*)))).collect()
        (System.nanoTime() - t0) / 1e9
      }
    }
    semdedupK(sf01, 8) // warm
    val sdBase = semdedupK(sf01, 8)
    val sdScaled = semdedupK(sf1, 80)
    println(f"[probe] semdedup scaled-k: sf0.1 k=8 $sdBase%6.2fs | " +
      f"sf1 k=80 $sdScaled%6.2fs | x${sdScaled / sdBase}%.1f time " +
      "(vs fixed-k gate ratio above)")

    // Append + real-watermark sessionization — the PRODUCTION session
    // shape whose linearity the Complete-mode parity gate structurally
    // cannot show (its whole-state re-emit per batch is oracle-harness
    // cost, not operator cost): with a 30-minute delay the watermark
    // passes closed sessions every batch, state EVICTS, and each session
    // is sorted once. Late rows dropping against the tight horizon is
    // the production semantic (cross-engine parity is the Complete
    // gate's business — eviction itself is spec-pinned in StreamsSpec).
    // Same state-partition sizing rule as the gate drains.
    def sessionAppend(dir: String, rocks: Boolean = false)
        : (Double, Option[graft.streaming.Streams.StateTelemetry]) = {
      val staged = graft.queries.Streaming.stageEventsMulti(spark, dir)
      val f = new java.io.File(s"$dir/events.parquet")
      val bytes =
        if (f.isDirectory)
          Option(f.listFiles()).map(_.map(_.length).sum).getOrElse(0L)
        else f.length()
      val parts = math.max(2,
        math.min(32, ((bytes + (2L << 20) - 1) / (2L << 20)).toInt))
      def drain(): Unit =
        graft.streaming.Streams.withStatePartitions(spark, parts) {
          val stream = graft.streaming.Streams
            .eventStream(spark, staged, maxFilesPerTrigger = Some(1))
            .withColumn("value", col("value").cast("decimal(38,6)"))
          val agg = graft.streaming.Streams.sessionize(stream,
            gap = "30 minutes", maxDelay = "30 minutes")
          val out = graft.streaming.Streams
            .runToTableAppend(agg, "probe_session_append")
          out.agg(bit_xor(xxhash64(struct(
            out.columns.toIndexedSeq.map(col): _*)))).collect(): Unit
        }
      val t0 = System.nanoTime()
      if (rocks) graft.streaming.Streams.withRocksDBStateStore(spark)(drain())
      else drain()
      ((System.nanoTime() - t0) / 1e9,
        graft.streaming.Streams.lastRunStateTelemetry)
    }
    // per-(variant, scale) warmups, same rule as the gate rows: the
    // timed run is the second at that scale/provider, so staged-file
    // page cache, codegen, and (for RocksDB) native-lib + SST setup are
    // warm on both sides of every ratio — the first r17 draft timed the
    // sf1 default drain cold and the RocksDB drain warm, biasing
    // rocksdb_vs_default low and the sf1/sf01 ratio high
    sessionAppend(sf01) // warm
    val (saBase, stBase) = sessionAppend(sf01)
    sessionAppend(sf1) // warm
    val (saScaled, stScaled) = sessionAppend(sf1)
    def stFmt(t: Option[graft.streaming.Streams.StateTelemetry]): String =
      t.map(s => f"${s.rows} rows/${s.bytes / 1e6}%.1f MB").getOrElse("n/a")
    println(f"[probe] session append-mode: sf0.1 $saBase%6.2fs | " +
      f"sf1 $saScaled%6.2fs | x${saScaled / saBase}%.1f time " +
      "(production eviction path; vs Complete-mode parity gate above; " +
      s"final-batch LIVE state ${stFmt(stBase)} -> ${stFmt(stScaled)} — " +
      "the residency the default provider holds ON-HEAP per executor)")
    // Same drain under the RocksDB provider — the production answer to
    // that on-heap residency (off-heap native memory + local SST files).
    // The row makes "RocksDB at scale" a measurement: wall overhead vs
    // the default provider at 10x data, with the same state row count.
    sessionAppend(sf1, rocks = true) // warm
    val (saRocks, stRocks) = sessionAppend(sf1, rocks = true)
    println(f"[probe] session append-mode sf1 under RocksDB: $saRocks%6.2fs" +
      f" (x${saRocks / saScaled}%.2f vs default provider) | " +
      s"state ${stFmt(stRocks)}")

    // Stream-STREAM interval-join state residency (r18 verdict item 2 →
    // r19): the interval join buffers the LARGEST state of the streaming
    // surface (both sides' rows held until the watermark clears them), so
    // "RocksDB at scale" must be measured on IT, not only on session
    // state. Runs the full gate drain under both providers at both
    // scales; telemetry is the final-batch live state from engine
    // progress, same recipe as session_append.
    def streamJoin(dir: String, rocks: Boolean)
        : (Double, Option[graft.streaming.Streams.StateTelemetry]) = {
      val g = if (rocks) "q_stream_stream_join_rocksdb"
        else "q_stream_stream_join"
      val (sec, _) = runOnce(g, dir)
      (sec, graft.streaming.Streams.lastRunStateTelemetry)
    }
    streamJoin(sf01, rocks = false) // warm
    val (sjBase, sjStBase) = streamJoin(sf01, rocks = false)
    streamJoin(sf1, rocks = false) // warm
    val (sjScaled, sjStScaled) = streamJoin(sf1, rocks = false)
    streamJoin(sf1, rocks = true) // warm
    val (sjRocks, sjStRocks) = streamJoin(sf1, rocks = true)
    println(f"[probe] stream-stream join state: sf0.1 $sjBase%6.2fs " +
      s"${stFmt(sjStBase)} | sf1 $sjScaled%.2fs ${stFmt(sjStScaled)} | " +
      f"sf1 RocksDB $sjRocks%6.2fs (x${sjRocks / sjScaled}%.2f vs " +
      s"default) state ${stFmt(sjStRocks)}")

    // Bucketed-assignment JOINED fallback — the over-literal-budget
    // spelling a real-width (dim ≥ 1024) corpus runs on. Forced here via
    // literalLimit = 0 on the same data/groups the gate assigns with, so
    // the row shows the fallback's own scaling (one id-keyed corpus
    // shuffle + two broadcast joins) rather than trusting the
    // spec-pinned equality alone.
    def assignJoined(dir: String): Double = {
      val corpus = graft.operators.Similarity
        .prepared(graft.queries.tbl(spark, dir, "embeddings"),
          "embedding", "vec_id")
      val n = corpus.count()
      val cents = graft.operators.Similarity.kmeansCentroidsSeq(
        corpus, graft.operators.Similarity.semDedupAutoK(n, 125L),
        lloydIters = 1)
      val (groups, cid2gid) = graft.operators.Similarity
        .groupCentroids(cents,
          graft.operators.Similarity.centroidGroupCount(cents.size))
      val t0 = System.nanoTime()
      val df = graft.operators.Similarity.assignCellsGrouped(
        corpus, cents, groups, cid2gid,
        graft.operators.Similarity.GroupProbes, literalLimit = 0L)
      df.agg(bit_xor(xxhash64(struct(col("id"), col("cell"))))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    assignJoined(sf01) // warm
    val ajBase = assignJoined(sf01)
    val ajScaled = assignJoined(sf1)
    println(f"[probe] bucketed-assign joined: sf0.1 $ajBase%6.2fs | " +
      f"sf1 $ajScaled%6.2fs | x${ajScaled / ajBase}%.1f time " +
      "(over-literal-budget fallback, forced via literalLimit=0)")

    // PQ re-rank at the PRODUCTION sublinear schedule (r15 verdict item
    // 4): the shipped gate runs the ceil(2n/5) corpus-fraction breadth
    // its recall spec pins (shuffle x228 per x10 data — linear-in-n by
    // construction); Pq.rerankBreadthSublinear (max(8k, ceil(sqrt n)))
    // was unit-pinned only. This measures it end to end at the
    // PRODUCTION-SHAPED codebook (m=16, 32 cents — 4-dim subspaces over
    // the 64-dim corpus, the standard PQ regime), 40-query recall panel
    // vs exact brute, at BOTH scales — so the production operating point
    // ships as a measurement (time, breadth, recall), not prose. The
    // gate's own m=4/8-cent codebook (coarse BY DESIGN so DuckDB can
    // replay the ADC scoring) is measured beside it: a sqrt(n) shortlist
    // only repairs what ADC ranks near the top, so the coarse codebook
    // starves under this schedule (the r16 fidelity sweep measured
    // 0.20->0.12 across 10x) while the production codebook HOLDS recall
    // flat across the same growth — the precondition now documented on
    // rerankBreadthSublinear itself.
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      ProbeUtil.topSets(df)
    def pqSublinear(dir: String, m: Int, cents: Int)
        : (Double, Int, Double) = {
      val emb = graft.queries.tbl(spark, dir, "embeddings")
      OpCaches.withPersisted(graft.operators.Similarity
          .prepared(emb, "embedding", "vec_id")) { corpus =>
        val k = 5
        val breadth = graft.operators.Pq
          .rerankBreadthSublinear(corpus.count(), k)
        val cbs = graft.operators.Pq.trainCodebooks(corpus, m, cents,
          lloydIters = 2)
        val panel = graft.queries.Similarity.RecallPanel
        val t0 = System.nanoTime()
        val ann = topSets(graft.operators.Pq.knnPqFrom(
          corpus, cbs, panel, k, rerank = breadth))
        val sec = (System.nanoTime() - t0) / 1e9
        val brute = topSets(graft.operators.Similarity.knnBrute(
          emb, "embedding", "vec_id", panel, k))
        val recall = ProbeUtil.recallOf(brute, ann)
        (sec, breadth, recall)
      }
    }
    pqSublinear(sf01, 16, 32) // warm
    val (pqsBase, pqsBreadth01, pqsRec01) = pqSublinear(sf01, 16, 32)
    val (pqsScaled, pqsBreadth1, pqsRec1) = pqSublinear(sf1, 16, 32)
    val (_, _, pqsGateRec01) = pqSublinear(sf01, 4, 8)
    val (_, _, pqsGateRec1) = pqSublinear(sf1, 4, 8)
    println(f"[probe] pq rerank sublinear (m=16/32c): sf0.1 $pqsBase%6.2fs " +
      f"breadth=$pqsBreadth01 recall=$pqsRec01%.3f | " +
      f"sf1 $pqsScaled%6.2fs breadth=$pqsBreadth1 recall=$pqsRec1%.3f | " +
      f"x${pqsScaled / pqsBase}%.1f time | gate-codebook (m=4/8c) recall " +
      f"$pqsGateRec01%.3f -> $pqsGateRec1%.3f (starved — needs the " +
      "ceil(2n/5) gate fraction for its pinned 0.90)")

    // Matryoshka shortlist-FLOOR sweep (r16 verdict item 7): the
    // operating shortlist is max(MatShortlistMin, 2*ceil(sqrt n)); r17
    // ships the floor at 16k = 80 (was 8k = 40 through r16). The sweep
    // arms are the old and new floors. At THESE scales the sqrt term
    // passes both floors (n = 1600 is where 80 is overtaken), so both
    // arms resolve to the SAME shortlist — the row proves the floor is a
    // small-corpus-only knob (the scale where it binds, sf0.01, is
    // measured in PROGRESS: 0.775 -> 0.890 at n=500). The brute baseline
    // is floor-independent and computed once per scale; an arm whose
    // shortlist equals the other's reuses its ANN result rather than
    // recomputing a configuration that cannot differ.
    def matSweep(dir: String): (Seq[(Int, Int, Double)]) = {
      val emb = graft.queries.tbl(spark, dir, "embeddings")
      val n = emb.count()
      val k = graft.queries.Similarity.K
      val panel = graft.queries.Similarity.RecallPanel
      val brute = topSets(graft.operators.Similarity.knnBrute(
        emb, "embedding", "vec_id", panel, k))
      val cache = scala.collection.mutable.Map.empty[Int, Double]
      // arms DERIVED from the named constants (r17 ADVICE: hardcoded
      // Seq(40, 80) would silently sweep stale arms after a floor retune)
      Seq(graft.queries.Similarity.MatShortlistMinPrior,
          graft.queries.Similarity.MatShortlistMin).map { floor =>
        val shortlist = math.max(floor,
          2 * math.ceil(math.sqrt(n.toDouble)).toInt)
        val recall = cache.getOrElseUpdate(shortlist, {
          val ann = topSets(graft.operators.Similarity.knnTruncated(
            emb, "embedding", "vec_id", panel, k,
            graft.queries.Similarity.MatPrefixDim, shortlist))
          ProbeUtil.recallOf(brute, ann)
        })
        (floor, shortlist, recall)
      }
    }
    val Seq((_, ms01a, mr01a), (_, ms01b, mr01b)) = matSweep(sf01)
    val Seq((_, ms1a, mr1a), (_, ms1b, mr1b)) = matSweep(sf1)
    println(f"[probe] matryoshka floor sweep: sf0.1 floor40->short=$ms01a " +
      f"recall=$mr01a%.3f vs floor80->short=$ms01b recall=$mr01b%.3f | " +
      f"sf1 floor40->short=$ms1a recall=$mr1a%.3f vs floor80->short=$ms1b " +
      f"recall=$mr1b%.3f (sqrt term dominates past n=1600 — the floor is " +
      "a small-corpus knob)")

    // Learned-IVF Lloyd rounds at a production-scale k (r15 verdict item
    // 2): kmeansDriver now defaults to the bucketed n*O(sqrt k)
    // assignment at k >= 64 — every oracle gate trains below that, so
    // these rows are the only measurement of the new default. k held
    // FIXED across scales so the ratio reads Lloyd-pass linearity in n;
    // the flat fold is timed beside it at sf1 for the constant-factor
    // comparison the threshold claims. Two k points: at k=128 per-row
    // work is small either way and plan overhead dominates (the r16
    // first run measured a wash, 2.72s vs 2.67s); k=512 is where the
    // n*k term separates (4*sqrt(512) ~ 90 vs 512 dots per row).
    def lloyd(dir: String, k: Int, flat: Boolean): Double = {
      OpCaches.withPersisted(graft.operators.Similarity
          .prepared(graft.queries.tbl(spark, dir, "embeddings"),
            "embedding", "vec_id")) { corpus =>
        corpus.count()
        val t0 = System.nanoTime()
        if (flat)
          graft.operators.Similarity.kmeansCentroidsSeqFlat(
            corpus, k, lloydIters = 2)
        else
          graft.operators.Similarity.kmeansCentroidsSeq(
            corpus, k, lloydIters = 2)
        (System.nanoTime() - t0) / 1e9
      }
    }
    lloyd(sf01, 128, flat = false) // warm
    val lbBase = lloyd(sf01, 128, flat = false)
    val lbScaled = lloyd(sf1, 128, flat = false)
    lloyd(sf01, 128, flat = true) // warm the flat literal-kernel codegen
    val lfScaled = lloyd(sf1, 128, flat = true)
    println(f"[probe] lloyd k=128 bucketed: sf0.1 $lbBase%6.2fs | " +
      f"sf1 $lbScaled%6.2fs | x${lbScaled / lbBase}%.1f time | " +
      f"flat sf1 $lfScaled%6.2fs (bucketed default above k=64)")
    // k=512 plans are shape-distinct from k=128 (literal sizes, group
    // count), so they get their own warmups — the artifact's stat field
    // promises every timed number follows a same-shape warm run
    lloyd(sf01, 512, flat = false) // warm
    val lb512Base = lloyd(sf01, 512, flat = false)
    val lb512Scaled = lloyd(sf1, 512, flat = false)
    lloyd(sf01, 512, flat = true) // warm
    val lf512Scaled = lloyd(sf1, 512, flat = true)
    println(f"[probe] lloyd k=512 bucketed: sf0.1 $lb512Base%6.2fs | " +
      f"sf1 $lb512Scaled%6.2fs | x${lb512Scaled / lb512Base}%.1f time | " +
      f"flat sf1 $lf512Scaled%6.2fs (the n*k-vs-n*sqrt(k) separation " +
      "point)")

    // Graph-stack probe on a supplier entity table scaled in-process:
    // the risky part at 100 TB is ED-1 deletion-neighborhood blocking
    // (candidate-pair growth) feeding pagerank/triangles, and the gates
    // can't show it because ScaleUp keeps supplier unscaled. Copy i gets
    // the name suffix "~<i><i>" — any two distinct suffixes differ in 2+
    // chars (and base-vs-suffixed in 3 appended chars), so there are NO
    // cross-copy ED-1 edges: nodes and edges both grow exactly linearly
    // in `copies`, making the time ratio a clean linearity read.
    def graphStack(copies: Int): (Double, Long) = {
      val sup = graft.queries.tbl(spark, sf01, "supplier")
        .select(col("s_suppkey"), col("s_name"))
      val shift = sup.agg(max("s_suppkey")).head().getLong(0) + 1L
      val scaled = (0 until copies).map { i =>
        sup.select((col("s_suppkey") + lit(i * shift)).as("s_suppkey"),
          (if (i == 0) col("s_name")
           else concat(col("s_name"), lit(s"~$i$i"))).as("s_name"))
      }.reduce(_ unionAll _)
      val t0 = System.nanoTime()
      OpCaches.withPersisted(graft.operators.Fuzzy
          .edSelfJoin(scaled, "s_suppkey", "s_name")
          .select(col("id1"), col("id2"))) { edges =>
        val nEdges = edges.count()
        val pr = graft.operators.Graph
          .pageRankFixedPoint(edges, "id1", "id2", iters = 3)
        pr.agg(bit_xor(xxhash64(struct(
          pr.columns.toIndexedSeq.map(col): _*)))).collect()
        val tc = graft.operators.Graph.triangleCounts(edges, "id1", "id2")
        tc.agg(bit_xor(xxhash64(struct(
          tc.columns.toIndexedSeq.map(col): _*)))).collect()
        ((System.nanoTime() - t0) / 1e9, nEdges)
      }
    }
    graphStack(1) // warm
    val (g1, e1) = graphStack(1)
    val (g10, e10) = graphStack(10)
    println(f"[probe] graph scaled-supplier: x1 $g1%6.2fs ($e1 edges) | " +
      f"x10 $g10%6.2fs ($e10 edges) | x${g10 / g1}%.1f time " +
      f"x${e10.toDouble / e1}%.1f edges")

    // Self-describing rows (r15 verdict item 6): a reader of this file
    // alone must not mistake a deliberately-retained demonstration for a
    // scale failure — the tag rides in the artifact, not just PLANS.md.
    val noteFor = Map(
      "q_sim_semdedup" -> ("pinned fixed-k trap demonstration (oracle " +
        "replays k=8, making intra-cell verify n^2/k) — super-linear BY " +
        "DESIGN; the production default is auto-k: see q_sim_semdedup_auto" +
        " and semdedup_scaled_k"),
      "q_sim_knn_pq_rerank" -> ("gate runs the ceil(2n/5) corpus-fraction" +
        " breadth its recall spec pins (linear-in-n by construction); the" +
        " production sublinear schedule is measured in pq_rerank_sublinear"),
      "q_pipe_jaccard_block" -> ("the ratio straddles a PLAN TRANSITION: " +
        "at sf0.1 the prefix-token self-join broadcasts (the persisted " +
        "prefix table sits under the 10MB threshold), at sf1 its " +
        "in-memory stats cross it and the join becomes sort-merge — the " +
        "honest 100TB shape, where nothing broadcasts. Within the SMJ " +
        "regime (threshold -1, measured r17, ATTRIBUTED r18 — " +
        "JACCARD_ORDER_PROBE.json): candidates scale exactly x10 per x10 " +
        "data under BOTH token orderings; the x18 shuffle-bytes term is " +
        "the pre-distinct candidate edge's map-side partial aggregate " +
        "degrading from perfect dedup (sf0.1) toward pass-through (none " +
        "left at sf2), bounded by the raw join multiplicity (candidates " +
        "x ~7.4 shared prefix tokens) — LINEAR in n here, a one-time " +
        "regime transition (sf1->sf2 at x2 data re-measures x2.17 " +
        "converging on x2); frequencyOrdered=true was measured NOT to " +
        "collapse it (x17.6 vs x18.3, zero candidate reduction, MORE " +
        "absolute shuffle from its two extra token stages), so hash " +
        "stays the default on unskewed vocabularies — the freq order's " +
        "regime is vocabulary skew, auditable via " +
        "ngramJaccardPairsWithStats (see Dedup scaladoc)"),
      "q_sim_knn_matryoshka" -> ("shuffle_ratio reads huge only because " +
        "the sf0.1 base is ~0 (compressed KBs): the one real exchange " +
        "carries shortlist(=2*ceil(sqrt n)) * partitions * |queries| " +
        "candidate tuples from the partial WindowGroupLimit — SUBLINEAR " +
        "in n by the r16 schedule (the r15 n/25 shortlist was linear)"),
      "q_stream_session_parity" -> ("Append drain over the ordered " +
        "5-file staging with a 1h production watermark (r16): state " +
        "evicts progressively and shuffle is x1.0; the wall ratio is the " +
        "state-store term — per-batch telemetry shows ~half the trigger " +
        "time is batch 0 creating 57% of all sessions (600k rows -> 573k " +
        "session state rows at sf1), i.e. real sessionization work " +
        "growing ~linearly while the wall grows slower; the in-process " +
        "session_append demo isolates the same eviction path (and " +
        "measures state rows/bytes + the RocksDB provider, r17)"),
      "q_sim_knn_ivf_learned_k64" -> ("training dominates (k=64 " +
        "bucketed-Lloyd rounds, n*O(sqrt k) per round); scoring probes " +
        "a fixed 16-of-64 cell fraction so the candidate set is ~25% of " +
        "n by construction — linear, like the other fixed-fraction gates"),
      "q_sim_knn_pq_prod" -> ("production PQ point: m=16/32-cent " +
        "training (k*dim-bounded collects per Lloyd round) + ADC scan + " +
        "max(8k, ceil sqrt n) exact re-rank — the re-rank fetch is " +
        "SUBLINEAR in n (45 rows/query at sf0.1 -> 142 at sf1, vs the " +
        "2n/5 gate fraction's 800 -> 8000)"))
    val json = rows.map { case (g, (s01, s1, mb01, mb1)) =>
      val note =
        noteFor.get(g).map(n => s""", "note": "$n"""").getOrElse("")
      f"""  "$g": {"sf01_sec": $s01%.3f, "sf1_sec": $s1%.3f, "ratio": ${
        s1 / s01}%.2f, "sf01_shuffle_mb": $mb01%.3f, "sf1_shuffle_mb": $mb1%.3f, "shuffle_ratio": ${
        if (mb01 > 0) mb1 / mb01 else 0.0}%.2f$note}"""
    }.mkString("{\n", ",\n", "\n}")
    val stat = "single_run_per_scale after per-(gate,scale) warmup: the " +
      "timed run is the SECOND at each scale, so codegen/JIT AND any " +
      "operator-level caches (r17 winnow-span frame registry) are warm " +
      "on both sides of every ratio — like-for-like steady-state cost; " +
      s"local[$cpus], timer wraps gate fn + materialization"
    val out = s"""{"sf1_dir": "$sf1", "copies": 10, "stat": "$stat", "semdedup_scaled_k": {"sf01_k8_sec": ${
      f"$sdBase%.3f"}, "sf1_k80_sec": ${f"$sdScaled%.3f"}, "ratio": ${
      f"${sdScaled / sdBase}%.2f"}}, "session_append": {"sf01_sec": ${
      f"$saBase%.3f"}, "sf1_sec": ${f"$saScaled%.3f"}, "ratio": ${
      f"${saScaled / saBase}%.2f"}, "sf01_state_rows": ${
      stBase.map(_.rows).getOrElse(-1L)}, "sf01_state_mb": ${
      f"${stBase.map(_.bytes).getOrElse(0L) / 1e6}%.2f"}, "sf1_state_rows": ${
      stScaled.map(_.rows).getOrElse(-1L)}, "sf1_state_mb": ${
      f"${stScaled.map(_.bytes).getOrElse(0L) / 1e6}%.2f"}, "rocksdb_sf1_sec": ${
      f"$saRocks%.3f"}, "rocksdb_vs_default": ${
      f"${saRocks / saScaled}%.2f"}, "rocksdb_sf1_state_rows": ${
      stRocks.map(_.rows).getOrElse(-1L)}, "note": "state rows/bytes are the final data-batch LIVE residency from engine progress (r17 — the 100x wall is this residency on the default on-heap provider; the RocksDB row is the production answer, output spec-pinned identical)"}, "stream_stream_join_state": {"sf01_sec": ${
      f"$sjBase%.3f"}, "sf1_sec": ${f"$sjScaled%.3f"}, "ratio": ${
      f"${sjScaled / sjBase}%.2f"}, "sf01_state_rows": ${
      sjStBase.map(_.rows).getOrElse(-1L)}, "sf01_state_mb": ${
      f"${sjStBase.map(_.bytes).getOrElse(0L) / 1e6}%.2f"}, "sf1_state_rows": ${
      sjStScaled.map(_.rows).getOrElse(-1L)}, "sf1_state_mb": ${
      f"${sjStScaled.map(_.bytes).getOrElse(0L) / 1e6}%.2f"}, "rocksdb_sf1_sec": ${
      f"$sjRocks%.3f"}, "rocksdb_vs_default": ${
      f"${sjRocks / sjScaled}%.2f"}, "rocksdb_sf1_state_rows": ${
      sjStRocks.map(_.rows).getOrElse(-1L)}, "rocksdb_sf1_state_mb": ${
      f"${sjStRocks.map(_.bytes).getOrElse(0L) / 1e6}%.2f"}, "note": "the interval join is the LARGEST state-holder of the streaming surface (both sides buffered to the watermark horizon) — r19 gives it the same both-provider residency measurement the session drain got in r18; correctness under RocksDB is oracle-gated by q_stream_stream_join_rocksdb"}, "matryoshka_floor_sweep": {"sf01_floor40_shortlist": $ms01a, "sf01_floor40_recall": ${
      f"$mr01a%.3f"}, "sf01_floor80_shortlist": $ms01b, "sf01_floor80_recall": ${
      f"$mr01b%.3f"}, "sf1_floor40_shortlist": $ms1a, "sf1_floor40_recall": ${
      f"$mr1a%.3f"}, "sf1_floor80_shortlist": $ms1b, "sf1_floor80_recall": ${
      f"$mr1b%.3f"}, "note": "both floors resolve to the same shortlist past n=1600 (sqrt term dominates) — the floor is a small-corpus knob; r17 ships 16k (sf0.01 recall 0.775 -> 0.890, production points untouched)"}, "bucketed_assign_joined": {"sf01_sec": ${
      f"$ajBase%.3f"}, "sf1_sec": ${f"$ajScaled%.3f"}, "ratio": ${
      f"${ajScaled / ajBase}%.2f"}}, "pq_rerank_sublinear": {"sf01_sec": ${
      f"$pqsBase%.3f"}, "sf1_sec": ${f"$pqsScaled%.3f"}, "ratio": ${
      f"${pqsScaled / pqsBase}%.2f"}, "sf01_breadth": $pqsBreadth01, "sf1_breadth": $pqsBreadth1, "codebook": "m=16, 32 cents (production-shaped; 4-dim subspaces)", "sf01_recall": ${
      f"$pqsRec01%.3f"}, "sf1_recall": ${
      f"$pqsRec1%.3f"}, "gate_codebook_sf01_recall": ${
      f"$pqsGateRec01%.3f"}, "gate_codebook_sf1_recall": ${
      f"$pqsGateRec1%.3f"}, "note": "the sqrt(n) schedule needs codebook fidelity: the gate's m=4/8-cent codebook (coarse so DuckDB replays the ADC scoring) starves under it and needs the gate's ceil(2n/5) fraction for its pinned 0.90 — see Pq.rerankBreadthSublinear scaladoc"}, "lloyd_bucketed_k128": {"sf01_sec": ${
      f"$lbBase%.3f"}, "sf1_sec": ${f"$lbScaled%.3f"}, "ratio": ${
      f"${lbScaled / lbBase}%.2f"}, "flat_sf1_sec": ${
      f"$lfScaled%.3f"}}, "lloyd_bucketed_k512": {"sf01_sec": ${
      f"$lb512Base%.3f"}, "sf1_sec": ${f"$lb512Scaled%.3f"}, "ratio": ${
      f"${lb512Scaled / lb512Base}%.2f"}, "flat_sf1_sec": ${
      f"$lf512Scaled%.3f"}}, "graph_scaled_supplier": {"x1_sec": ${
      f"$g1%.3f"}, "x10_sec": ${f"$g10%.3f"}, "ratio": ${
      f"${g10 / g1}%.2f"}, "x1_edges": $e1, "x10_edges": $e10}, "gates": $json}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("/root/repo/BENCH_sf1_probe.json"),
      out.getBytes("UTF-8"))
    println(out)
    spark.stop()
  }
}
