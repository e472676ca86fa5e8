package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import TextOps._

/** Deduplication operators for 100 TB-scale corpus cleaning.
  *
  * Scale design: exact dedup shuffles only a 128-bit digest, never the text;
  * MinHash LSH turns the quadratic all-pairs problem into a bucket-local
  * self-join (candidates only collide within a band bucket) and re-joins the
  * signature sets by doc_id for the exact-Jaccard verify, so no wide arrays
  * travel through the exploded band shuffle. All expressions are codegen'd —
  * no UDFs anywhere.
  */
object Dedup {

  /** Exact duplicate groups keyed by md5(text): (text_hash, keeper = min id,
    * n_copies). Only the digest is shuffled. */
  def exactGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** Per-document MinHash signature over distinct k-shingle hashes.
    * Returns (id, h: array<long> shingle hashes, m: array<long> 16 minhashes). */
  def minhashSignatures(docs: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    val toks = tokens(col(textCol))
    docs.select(
        col(idCol).as("id"),
        when(size(toks) >= k, shingleHashes(col(textCol), k))
          .otherwise(array().cast("array<bigint>")).as("h"))
      .filter(size(col("h")) > 0)
      .withColumn("m", minHashSig(col("h")))
  }

  /** LSH candidate pairs with exact-Jaccard verification.
    * Output: (id1, id2, jacc, is_dup) — id1 < id2, band-deduplicated.
    *
    * `maxBucket` is the skew guard for real corpora: boilerplate/template
    * text collapses thousands of documents into ONE band bucket, and the
    * bucket self-join then materializes |bucket|² candidate pairs inside a
    * single task — the classic LSH skew failure, invisible at test scale
    * and fatal at 100 TB. Buckets larger than the cap are dropped BEFORE
    * the self-join (one extra (band,key)-count aggregation over longs).
    * The recall loss is PROBABILISTIC, not free: members of an over-full
    * bucket agree on one band of minhashes, which makes them highly
    * SIMILAR with high probability — not byte-identical — so a digest-exact
    * [[exactGroups]] pass run alongside recovers the identical copies but
    * NOT near-identical template variants (one token differs) whose pairs
    * lived only in a dropped bucket. Quantify what a cap discarded with
    * [[minhashDupPairsWithStats]] before trusting a capped run. Default
    * keeps every bucket (the oracle-gated lossless behavior).
    */
  def minhashDupPairs(docs: DataFrame, textCol: String, idCol: String,
      k: Int, threshold: Double, maxBucket: Int = Int.MaxValue): DataFrame =
    minhashDupPairsWithStats(docs, textCol, idCol, k, threshold, maxBucket)._1

  /** Dropped-bucket observability for the `maxBucket` skew guard. */
  final case class BucketCapStats(droppedBuckets: Long, droppedRows: Long)

  /** [[minhashDupPairs]] plus how much the `maxBucket` cap discarded:
    * the number of over-full (band, key) buckets dropped before the
    * self-join and the number of (doc, band) memberships inside them —
    * the run-level audit that turns the cap's probabilistic recall loss
    * from a leap of faith into a measured quantity. Stats are computed
    * eagerly (one count over the small bucket-size aggregate — no text,
    * no pair materialization); `(df, BucketCapStats(0, 0))` when the cap
    * is off. */
  def minhashDupPairsWithStats(docs: DataFrame, textCol: String,
      idCol: String, k: Int, threshold: Double,
      maxBucket: Int = Int.MaxValue): (DataFrame, BucketCapStats) = {
    // The signature subtree feeds BOTH the band-bucket branch and the
    // exact-verify self-join; without materialization Spark recomputes the
    // (expensive) shingle hashing for each branch. Signatures are small —
    // (id, hash-set, 16 minhashes), no text — so MEMORY_AND_DISK is safe
    // at corpus scale. The persist is owned by OpCaches: bounded by its LRU
    // and dropped by OpCaches.clear(), never by the caller.
    val sig = OpCaches.cached(minhashSignatures(docs, textCol, idCol, k))
    // band buckets: only (band, key) and id travel through this shuffle
    val bucketsAll = sig.select(col("id"),
      posexplode(bandKeys(col("m"))).as(Seq("band", "key")))
    val (buckets, stats) =
      if (maxBucket == Int.MaxValue) (bucketsAll, BucketCapStats(0L, 0L))
      else {
        // map-side partial count collapses each bucket to one row before
        // the shuffle; the surviving (band, key) set joins back as the
        // candidate filter. The dropped-side aggregate is the audit trail
        // (collapses to one row before reaching the driver).
        val sizes = bucketsAll.groupBy(col("band"), col("key"))
          .agg(count(lit(1)).as("__bsz"))
        val droppedRow = sizes.filter(col("__bsz") > maxBucket)
          .agg(count(lit(1)).as("nb"),
            coalesce(sum(col("__bsz")), lit(0L)).as("nr"))
          .head()
        val small = sizes.filter(col("__bsz") <= maxBucket)
          .select(col("band"), col("key"))
        (bucketsAll.join(small, Seq("band", "key")),
          BucketCapStats(droppedRow.getLong(0), droppedRow.getLong(1)))
      }
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id1"), col("y.id").as("id2"))
      .distinct()
    // join the shingle sets back by id for the exact verify
    val h = sig.select(col("id"), col("h"))
    val out = cand
      .join(h.withColumnRenamed("id", "id1").withColumnRenamed("h", "h1"), "id1")
      .join(h.withColumnRenamed("id", "id2").withColumnRenamed("h", "h2"), "id2")
      .select(col("id1"), col("id2"),
        jaccard(col("h1"), col("h2")).as("jacc"))
      .withColumn("is_dup", col("jacc") >= threshold)
    (out, stats)
  }

  /** MinHash band index of an already-deduplicated corpus: (band, key, id)
    * — one row per (document, band). This is the PERSISTED artifact of
    * incremental dedup: build it once per corpus snapshot, write it
    * partitioned/bucketed by (band, key), and every subsequent ingest
    * probes it with [[dedupAgainstIndex]] instead of re-running the
    * corpus×corpus self-join. Rows are (long, string, long) — no text, no
    * signatures — so a 100 TB corpus's index is a few TB of longs. */
  def bandIndex(docs: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame =
    minhashSignatures(docs, textCol, idCol, k)
      .select(col("id"), posexplode(bandKeys(col("m"))).as(Seq("band", "key")))

  /** Incremental dedup: probe a NEW batch of documents against a persisted
    * [[bandIndex]] of the existing corpus. Output: (new_id, old_id, jacc,
    * is_dup) — every (new doc, corpus doc) pair that collides in at least
    * one LSH band, with the exact-Jaccard verdict at `threshold`. Banding
    * is a pure function of the text, so probing an index equals the full
    * corpus∪batch self-join restricted to cross pairs (spec-pinned) — at a
    * fraction of the cost.
    *
    * Scale: the daily/weekly ingest is orders of magnitude smaller than
    * the corpus, so the probe side (new bands) is the small side of the
    * (band, key) join — AQE broadcasts it and the INDEX NEVER SHUFFLES
    * (with the index bucketed by (band, key) the join is also
    * exchange-free by layout). Corpus text is re-read only for candidate
    * old ids (left-semi prune before shingling), so verify cost scales
    * with candidates, not corpus size. */
  def dedupAgainstIndex(newDocs: DataFrame, textCol: String, idCol: String,
      k: Int, threshold: Double, index: DataFrame,
      corpus: DataFrame): DataFrame = {
    // registered: feeds both the probe branch and the verify join
    val sigNew =
      OpCaches.cached(minhashSignatures(newDocs, textCol, idCol, k))
    val probe = sigNew.select(col("id").as("new_id"),
      posexplode(bandKeys(col("m"))).as(Seq("band", "key")))
    val cand = probe.join(
        index.select(col("band"), col("key"), col("id").as("old_id")),
        Seq("band", "key"))
      .select(col("new_id"), col("old_id")).distinct()
    val oldSub = corpus.join(
      cand.select(col("old_id").as(idCol)).distinct(), Seq(idCol), "left_semi")
    val oldH = minhashSignatures(oldSub, textCol, idCol, k)
      .select(col("id").as("old_id"), col("h").as("h2"))
    cand
      .join(sigNew.select(col("id").as("new_id"), col("h").as("h1")),
        "new_id")
      .join(oldH, "old_id")
      .select(col("new_id"), col("old_id"),
        jaccard(col("h1"), col("h2")).as("jacc"))
      .withColumn("is_dup", col("jacc") >= threshold)
  }

  /** 30-bit SimHash fingerprint per document (over distinct token hashes),
    * plus the two 15-bit halves used for banded near-dup lookup. */
  def simhashFingerprints(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val h = array_distinct(tokenHashes(col(textCol)))
    docs.select(col(idCol).as("id"), h.as("h"))
      .withColumn("simhash", simHash30(col("h")))
      .withColumn("band_lo", col("simhash") % lit(1 << 15))
      .withColumn("band_hi", (col("simhash") / lit(1 << 15)).cast("bigint"))
      .drop("h")
  }

  /** Connected components over an undirected dup-pair graph (id1, id2):
    * returns (id, keeper) where keeper = min id of the component — the
    * "which copy do we keep" step that turns near-dup PAIRS into dedup
    * DECISIONS. Iterative min-label propagation (the Pregel pattern):
    * each round is a shuffle-by-neighbor join + min-aggregate, fully
    * parallel; rounds = component diameter (near-dup clusters are
    * shallow — a handful of rounds in practice, `maxIter` caps
    * pathological chains). */
  def dupGroups(pairs: DataFrame, maxIter: Int = 20,
      driverEdgeLimit: Long = 2000000L): DataFrame =
    dupGroupsWithStats(pairs, maxIter, driverEdgeLimit)._1

  /** [[dupGroups]] plus the number of distributed rounds executed (0 on the
    * driver union-find branch) — the observability hook that lets specs and
    * the bench pin the O(log diameter) convergence bound of the
    * relax+pointer-jump loop instead of trusting it. */
  def dupGroupsWithStats(pairs: DataFrame, maxIter: Int = 20,
      driverEdgeLimit: Long = 2000000L): (DataFrame, Int) = {
    // ADAPTIVE strategy (the broadcast-join-threshold pattern): the dup-pair
    // graph is usually orders of magnitude smaller than the corpus — near-dup
    // clusters are sparse. Below the edge limit (~32 MB of longs), a driver
    // union-find answers the components; above it, the iterative path keeps
    // everything distributed. Both produce identical min-label components.
    //
    // The strategy probe is ONE bounded limit-collect (factorize's bounded-
    // probe pattern, minus the separate count): at most limit+1 edge rows
    // reach the driver, and in the common sparse case that collect IS the
    // whole graph — the expensive upstream pair pipeline runs exactly once,
    // with no full-materializing count() before the branch switch (the r11
    // eager count+persist cost q_pipe_dup_groups 3× at gate scale).
    //
    // The persist sits UNDER the probe: the probe's incremental jobs warm
    // the cache for whatever partitions they compute, so an over-limit
    // graph's follow-up count() only computes the remainder — the
    // expensive upstream never runs twice on either branch. A limit above
    // what a driver collect could ever hold skips the probe entirely (no
    // silent union-find over a TRUNCATED edge set — dropped edges would
    // split components and produce wrong dedup decisions).
    OpCaches.withPersisted(pairs) { p =>
      val probeable = driverEdgeLimit < Int.MaxValue.toLong - 1
      val probe: Array[org.apache.spark.sql.Row] =
        if (probeable)
          p.select(col("id1"), col("id2"))
            .limit(driverEdgeLimit.toInt + 1).collect()
        else Array.empty
      if (probeable && probe.length <= driverEdgeLimit)
        (unionFind(pairs.sparkSession, probe), 0)
      else {
        // eager count before the union: it scans p twice CONCURRENTLY, and
        // two racing scans of a partially-cached frame each recompute
        // uncached partitions; the count reuses everything the probe
        // already cached
        p.count()
        OpCaches.withPersisted(
            p.select(col("id1").as("a"), col("id2").as("b"))
              .union(p.select(col("id2").as("a"), col("id1").as("b"))))(
          labelRounds(_, maxIter))
      }
    }
  }

  /** Min-id components of a driver-held edge list (union by min, path
    * compression): the keeper of every vertex is its component's min id. */
  private def unionFind(spark: org.apache.spark.sql.SparkSession,
      edges: Array[org.apache.spark.sql.Row]): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { row =>
      val (a, b) = (row.getLong(0), row.getLong(1))
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // union by min: keeper is the smallest id
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val rows = parent.keys.toSeq.sorted.map(id => (id, find(id)))
    import spark.implicits._
    rows.toDF("id", "keeper")
  }

  /** The distributed branch of [[dupGroupsWithStats]]: relax + pointer-jump
    * rounds over the symmetric edge frame (a, b) until no label moves. */
  private def labelRounds(edges: DataFrame,
      maxIter: Int): (DataFrame, Int) = {
    // Iteration durability: localCheckpoint blocks live on executors, so on
    // a real cluster losing one executor mid-iteration fails the job. When
    // the session has a reliable checkpoint dir configured (HDFS/object
    // store via sc.setCheckpointDir), use true checkpoint()s instead —
    // labels are tiny (two longs per vertex), so the per-round write is
    // cheap insurance at 100 TB. Locally (no dir set) localCheckpoint is
    // the right call: same plan-truncation effect, no disk round-trip.
    def truncate(df: DataFrame): DataFrame =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(true)
      else df.localCheckpoint(true)
    // localCheckpoint per round: labels feeds THREE places each round
    // (neighbor join, relax join, pointer-jump), so a lazy plan would
    // double per iteration — exponential logical-plan growth is the classic
    // iterative-Spark failure (manifests as analyzer/explain OOM long
    // before data size matters). Checkpointing truncates plan + lineage.
    var labels = truncate(edges.select(col("a").as("id")).distinct()
      .withColumn("label", col("id")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // relax: take the min label among neighbors
      val neighborMin = edges.join(labels, edges("a") === labels("id"))
        .groupBy(col("b").as("nid")).agg(min(col("label")).as("nlabel"))
      val relaxed = labels.join(neighborMin, labels("id") === col("nid"),
          "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nlabel"), col("label")))
            .as("mid"))
      // pointer-jump: follow the label's own label (path compression) —
      // relax alone needs O(diameter) rounds; relax+jump needs O(log d)
      val jumpTo = relaxed.select(col("id").as("jid"), col("mid").as("jlabel"))
      val jumped = truncate(relaxed.join(jumpTo, col("mid") === col("jid"))
        .select(col("id"), col("old"),
          least(col("mid"), col("jlabel")).as("label")))
      changed = jumped.filter(col("label") < col("old")).count()
      labels = jumped.select(col("id"), col("label"))
      iter += 1
    }
    // Exiting on the iteration cap with labels still moving means the
    // component labeling is WRONG (split components → wrong dedup
    // decisions), and dupGroups discards the iteration count — so a
    // silent return here would hand corrupt keepers to a caller with no
    // signal at all. Fail fast instead: relax+pointer-jump converges in
    // O(log diameter) rounds, so hitting the cap indicates a pathological
    // graph or a far-too-small maxIter, both of which the caller must
    // decide about.
    if (changed > 0)
      throw new IllegalStateException(
        s"dupGroups did not converge in $maxIter rounds ($changed labels " +
          "still changing); components would be split and dedup decisions " +
          "wrong. Raise maxIter (rounds needed ~ log2 of the largest " +
          "component's diameter).")
    (labels.withColumnRenamed("label", "keeper"), iter)
  }

  /** Exact word-set Jaccard pairs within a blocking key (e.g. lang),
    * via PREFIX FILTERING (Bayardo et al., "Scaling Up All Pairs Similarity
    * Search", WWW'07; Chaudhuri et al. SSJoin): two sets with J ≥ τ must
    * share at least one element among the first |x| − ⌈τ·|x|⌉ + 1 elements
    * of any globally-ordered spelling of the set. So instead of a quadratic
    * self-join on the coarse block, we explode only the short sorted prefix
    * and join on (block, prefix-token) — candidates form only around shared
    * rare-ish tokens — then apply the size filter (τ·|x| ≤ |y| ≤ |x|/τ,
    * since J ≥ τ ⇒ min/max ≥ τ) and verify exact Jaccard. The result is
    * IDENTICAL to the all-pairs spelling (prefix filtering is lossless), so
    * the DuckDB oracle keeps the simple quadratic SQL at gate scale while
    * this side scales: shuffle volume is O(Σ prefix-len), and no block ever
    * materializes |block|² pairs.
    *
    * The losslessness theorem holds for ANY fixed total order of the token
    * universe. `frequencyOrdered = false` (default) orders by hash — a
    * narrow per-row array_sort, no extra passes. `frequencyOrdered = true`
    * is the canonical Bayardo ordering: tokens ranked by ASCENDING global
    * document frequency (ties by hash), so every prefix carries the
    * document's RAREST tokens and candidates form only around genuinely
    * discriminative tokens. On a skewed vocabulary (a near-universal
    * boilerplate token landing in hash-order prefixes) this collapses the
    * candidate count at the price of two extra token-level shuffles (the
    * frequency count and the per-doc rank). Measure before committing via
    * [[ngramJaccardPairsWithStats]]'s candidate count: it pays only when
    * hash-order candidates sit far above verified pairs.
    *
    * Why hash order is the DEFAULT (r18 measurement, forced-SMJ regime —
    * broadcast threshold −1 — at sf0.1/sf1/sf2; artifact:
    * JACCARD_ORDER_PROBE.json): on this corpus candidate pairs scale
    * ×10.00 per ×10 data and ×2.00 per ×2 under BOTH orderings, and the
    * frequency order removes no candidates (547,823 vs hash's 547,908 at
    * sf0.1 — no vocabulary skew to exploit) while MOVING strictly more
    * shuffle (608 vs 519 MB at sf1: the df count + per-doc rank are two
    * extra token-level stages). The r17 "×18 shuffle bytes per ×10 data"
    * that made this a weak item is NOT candidate blowup and NOT
    * prefix-selection variance — frequency ordering was measured not to
    * collapse it (×17.6 vs ×18.3): per-exchange attribution puts it
    * entirely on the pre-`distinct` candidate edge, whose map-side
    * partial aggregate dedupes perfectly at sf0.1 (emits exactly the
    * candidate count, 547,908), ~86% less so at sf1 (35.0M), and not at
    * all at sf2 (81.0M = the raw join multiplicity: candidates × ~7.4
    * avg shared prefix tokens). The emitted rows are BOUNDED by that raw
    * multiplicity, which scales linearly here (copy-disjoint growth), so
    * the ×18 is the one-time transition between partial-agg regimes, not
    * a growth law — the last doubling measured ×2.17 shuffle, converging
    * on ×2. The honest 100 TB caveat: raw multiplicity is Σ per
    * (block, prefix-token) cnt² — linear only while prefix-token
    * frequencies stay bounded. A REAL corpus whose vocabulary skews (a
    * boilerplate token in many prefixes) grows that term quadratically,
    * and THAT is the regime `frequencyOrdered = true` exists for: it
    * fills prefixes with the rarest tokens, minimizing the per-token
    * cnt² sum. Dispatch rule: audit with [[ngramJaccardPairsWithStats]]
    * — candidates ≫ verified under hash order = skew = flip the flag. */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
      blockCol: String, threshold: Double,
      frequencyOrdered: Boolean = false): DataFrame =
    jaccardPlan(docs, textCol, idCol, blockCol, threshold, frequencyOrdered)._2

  /** Prefix-filter effectiveness audit: how many candidate pairs the
    * (block, prefix-token) join emitted vs how many survived the exact
    * Jaccard verify. */
  final case class JaccardJoinStats(candidates: Long, verified: Long)

  /** [[ngramJaccardPairs]] plus eager candidate/verified pair counts — the
    * measurement that decides whether `frequencyOrdered` pays for its two
    * extra token shuffles on a given corpus: a skewed vocabulary shows up
    * as a candidate count far above the verified count under hash order,
    * and the frequency order collapses the candidates (never the output:
    * both orders are lossless, so `verified` is identical). The returned
    * DataFrame is registered in [[OpCaches]] (the counts already
    * materialized it). */
  def ngramJaccardPairsWithStats(docs: DataFrame, textCol: String,
      idCol: String, blockCol: String, threshold: Double,
      frequencyOrdered: Boolean = false): (DataFrame, JaccardJoinStats) = {
    val (cand, out) = jaccardPlan(docs, textCol, idCol, blockCol, threshold,
      frequencyOrdered)
    // `out` embeds `cand`'s plan, and Spark swaps in cached data when a plan
    // first executes, so the verify count reads the persisted candidates
    OpCaches.withPersisted(cand) { cand =>
      val nCand = cand.count()
      val res = OpCaches.cached(out)
      (res, JaccardJoinStats(nCand, res.count()))
    }
  }

  /** Shared prefix-filter join plan, returning (candidate-pair set,
    * verified output). */
  private def jaccardPlan(docs: DataFrame, textCol: String, idCol: String,
      blockCol: String, threshold: Double,
      frequencyOrdered: Boolean): (DataFrame, DataFrame) = {
    // registered: the prefix branch and both verify joins would otherwise
    // re-hash the corpus (same pattern as minhashDupPairs)
    val withSets = OpCaches.cached(docs.select(col(idCol).as("id"),
        col(blockCol).as("block"),
        array_distinct(tokenHashes(col(textCol))).as("h"))
      .withColumn("sz", size(col("h"))))
    // prefix length p = |h| − ⌈τ·|h|⌉ + 1 under the chosen total order;
    // the 1e-9 guard only ever LENGTHENS the prefix (safe direction for FP).
    val prefixLen = (col("sz") -
      ceil(lit(threshold) * col("sz") - lit(1e-9)).cast("int") + 1)
    // Both branches carry each prefix token's 1-based POSITION in the
    // doc's total token order — the input to the positional filter on the
    // candidate join below (PPJoin, Xiao et al. WWW'08).
    val pre =
      if (!frequencyOrdered)
        withSets.select(col("id"), col("block"), col("sz"),
          posexplode(slice(array_sort(col("h")), lit(1), prefixLen))
            .as(Seq("__p0", "tok")))
          .select(col("id"), col("block"), col("sz"), col("tok"),
            (col("__p0") + 1).as("pos"))
      else {
        // global df per token, joined back onto the exploded tokens; the
        // per-doc (cnt asc, tok asc) rank replaces the array_sort slice —
        // only (id, block, sz, tok, cnt) longs travel through the shuffles.
        // PERSISTED via the bounded OpCaches registry: the self-join below
        // references `pre` from BOTH sides, and self-join aliasing defeats
        // exchange reuse — unpersisted, the whole explode → df-join →
        // per-doc rank pipeline (the two extra token-level shuffles this
        // ordering pays for) executed TWICE per action (guide §2.4/§5:
        // reuse beats recompute; measured ~2× on the q_pipe_jaccard_freq
        // gate). The hash-order branch stays lazy: its prefix is one
        // narrow array_sort over the already-persisted `withSets`, cheap
        // to evaluate per side. The registry bounds the frame's lifetime
        // (r19 verdict: the bare persist here had no unpersist path).
        val toks = withSets.select(col("id"), col("block"), col("sz"),
          explode(col("h")).as("tok"))
        val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("__cnt"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("id")).orderBy(col("__cnt"), col("tok"))
        OpCaches.cached(toks.join(freq, "tok")
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= prefixLen)
          .select(col("id"), col("block"), col("sz"), col("tok"),
            col("__rk").as("pos")))
      }
    val cand = pre.as("a").join(pre.as("b"),
        col("a.block") === col("b.block") && col("a.tok") === col("b.tok") &&
          col("a.id") < col("b.id") &&
          // size filter: J ≥ τ ⇒ τ·|a| ≤ |b| ≤ |a|/τ (ε-guards widen only)
          col("b.sz") >= lit(threshold) * col("a.sz") - lit(1e-9) &&
          col("b.sz") <= col("a.sz") / lit(threshold) + lit(1e-9) &&
          // positional filter (PPJoin): every common token of the pair is
          // ≥ this matched token in the shared total order, so the overlap
          // is bounded by 1 + min(tokens remaining after the match on each
          // side); J ≥ τ needs overlap ≥ α = ⌈τ/(1+τ)·(|a|+|b|)⌉. A pair
          // whose TRUE Jaccard reaches τ always survives: its smallest
          // common token lies inside both prefixes (the prefix theorem,
          // using the size filter above) and passes this bound, so the
          // filter is lossless for the verified output — it only prunes
          // rows the exact verify below would reject anyway. The 1e-9
          // guard only ever LOWERS the required bound (keeps more pairs).
          lit(1) + least(col("a.sz") - col("a.pos"),
            col("b.sz") - col("b.pos")) >=
            ceil(lit(threshold / (1.0 + threshold)) *
              (col("a.sz") + col("b.sz")) - lit(1e-9)))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    val h = withSets.select(col("id"), col("block"), col("h"))
    val out = cand
      .join(h.select(col("id").as("id1"), col("block"),
        col("h").as("h1")), "id1")
      .join(h.select(col("id").as("id2"), col("h").as("h2")), "id2")
      .select(col("id1"), col("id2"), col("block"),
        jaccard(col("h1"), col("h2")).as("jacc"))
      .filter(col("jacc") >= threshold)
    (cand, out)
  }

  /** Benchmark decontamination: flag training documents sharing any word
    * k-gram with an evaluation set. Returns (id, n_overlap) for each
    * NON-eval document with ≥ 1 distinct k-gram hash in common with ANY
    * eval document (`isEval` marks the eval rows inside `docs`).
    *
    * This is the standard n-gram test-set-overlap filter (GPT-3 appx C /
    * PaLM-style); real pipelines use k ≈ 8-13 — callers pick k, the gate
    * uses a small k only because its synthetic documents are short.
    *
    * Scale: the eval side reduces to DISTINCT gram hashes — benchmarks are
    * tiny next to a 100 TB corpus, so with `broadcastEval` (default) the
    * train side is scanned once with a broadcast-hash semi-ish join and
    * NEVER shuffled; only (id, hash) pairs of actually-contaminated grams
    * reach the final per-doc count. Set `broadcastEval=false` if the eval
    * gram set genuinely exceeds broadcast size — same plan, shuffle join.
    */
  def ngramContamination(docs: DataFrame, textCol: String, idCol: String,
      isEval: Column, k: Int, broadcastEval: Boolean = true): DataFrame = {
    val sh = docs.select(col(idCol).as("id"), isEval.as("__is_eval"),
        col(textCol).as("__text"))
      .filter(size(tokens(col("__text"))) >= k)
      .select(col("id"), col("__is_eval"),
        explode(shingleHashes(col("__text"), k)).as("h"))
    val evalGrams = sh.filter(col("__is_eval")).select(col("h")).distinct()
    val evalSide = if (broadcastEval) broadcast(evalGrams) else evalGrams
    // (id, h) is unique per doc (shingleHashes is distinct), so count(*)
    // after the gram join IS the distinct-overlap count — no countDistinct.
    sh.filter(!col("__is_eval")).select(col("id"), col("h"))
      .join(evalSide, "h")
      .groupBy(col("id")).agg(count(lit(1)).as("n_overlap"))
  }

  /** [[ngramContamination]]'s beyond-broadcast scale path: the eval gram
    * set is compressed into ONE Bloom filter (Spark's own
    * BloomFilterAggregate — the runtime-filter machinery of SPARK-32268,
    * reused as a first-class operator) and shipped as a single binary
    * scalar, so train-side grams are probed with NO join at all — a narrow
    * `might_contain` filter in the scan pipeline. This is the shape that
    * survives an eval set whose distinct gram table is itself too large to
    * broadcast-hash-join comfortably: the filter costs `numBits/8` bytes
    * REGARDLESS of eval cardinality.
    *
    * Contract: Bloom filters have NO false negatives, so per doc
    * `n_flagged ≥` the exact `n_overlap` (DedupSpec pins the superset
    * property), and the overshoot is bounded by the false-positive rate
    * set by `numBits/expectedGrams` (~10 bits/item ≈ 1% FP). Use the exact
    * join when the decision must be exact; use this to PRE-PRUNE at scale
    * (drop the provably-clean 99% cheaply, then exact-check the rest). */
  def ngramContaminationBloom(docs: DataFrame, textCol: String,
      idCol: String, isEval: Column, k: Int, expectedGrams: Long,
      numBits: Long): DataFrame = {
    import org.apache.spark.sql.graft.Bridge.{toCol, toExpr}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val sh = docs.select(col(idCol).as("id"), isEval.as("__is_eval"),
        col(textCol).as("__text"))
      .filter(size(tokens(col("__text"))) >= k)
      .select(col("id"), col("__is_eval"),
        explode(shingleHashes(col("__text"), k)).as("h"))
    val bloom = sh.filter(col("__is_eval")).select(col("h")).distinct()
      .agg(toCol(new BloomFilterAggregate(toExpr(col("h")),
        Literal(expectedGrams), Literal(numBits)).toAggregateExpression())
        .as("bf"))
    // might_contain requires its filter side as a CONSTANT or scalar
    // subquery (the runtime-filter contract) — which is also the better
    // plan: no join node at all, the probe is a narrow filter whose
    // subquery result broadcasts once per executor
    val bfSub = org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
      bloom.queryExecution.analyzed)
    sh.filter(!col("__is_eval")).select(col("id"), col("h"))
      .filter(toCol(BloomFilterMightContain(bfSub, toExpr(col("h")))))
      .groupBy(col("id")).agg(count(lit(1)).as("n_flagged"))
  }

  /** Quality-preferring keeper selection over dup groups: [[dupGroups]]
    * labels each component by its MIN id — an arbitrary survivor. Real
    * cleaning passes keep the BEST copy (near-dups differ: one has the
    * full text, another a truncated scrape). Given `groups` = (id, keeper)
    * from [[dupGroups]] and a per-doc `score` table, re-keys every group
    * member to the component's highest-`scoreCol` doc (ties broken by min
    * id, so selection is total and layout-independent).
    *
    * Output: (id, group, best) — `group` the original min-id component
    * label, `best` the doc to keep. Scale: one row_number window per
    * component + a component-keyed join; scores travel, text does not.
    */
  def keepBestPerGroup(groups: DataFrame, score: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    val g = groups.join(
      score.select(col(idCol).as("id"), col(scoreCol).as("__s")), "id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("keeper")).orderBy(col("__s").desc, col("id"))
    val best = g.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("keeper"), col("id").as("best"))
    groups.join(best, "keeper")
      .select(col("id"), col("keeper").as("group"), col("best"))
  }

  /** Leakage-safe train/val/test split: every document in a NEAR-DUP
    * component (`groups` = [[dupGroups]] output, (id, keeper)) takes the
    * split decision of its component's keeper, so near-duplicates can never
    * straddle train and eval — the benchmark-contamination channel that
    * per-document splitting leaves open (a test document's near-copy in
    * train is exactly what document-level dedup literature warns inflates
    * eval: Lee et al. 2022 §6.2). Ungrouped documents hash their own text.
    * The decision is polyHash(text) mod 100 against [0,trainPct),
    * [trainPct,trainPct+valPct), rest — content-addressed, so it is
    * reproducible across engines, runs, and partitionings, and exact
    * duplicates agree even without a groups row.
    *
    * Output: one row per input document — (idCol, split, grouped), where
    * `grouped` flags membership in a dup component (the rows whose
    * assignment was inherited from a keeper).
    *
    * Precondition: `groups` must come from [[dupGroups]] over THESE docs
    * (every keeper id present in `docs`). The precondition is ENFORCED:
    * a groups row whose keeper joins to no docs row (a stale groups table
    * from a different corpus snapshot) raises at execution time instead
    * of silently falling back to the member's own hash — for an operator
    * whose one job is the leakage guarantee, a quiet downgrade of that
    * guarantee is a trap, and the condition is detectable for free inside
    * the assignment join (no extra pass).
    *
    * Scale design: both sides hash text IN PLACE before any join, so only
    * (id, hv) long tuples ever shuffle — the corpus text never travels.
    * The keeper-text fetch joins the distinct keepers (|components| rows)
    * against the corpus by id; the member assignment join carries
    * |dup members| rows — both orders of magnitude below corpus size for
    * real near-dup rates, and AQE broadcasts them when small. */
  def leakageSafeSplit(docs: DataFrame, idCol: String, textCol: String,
      groups: DataFrame, trainPct: Int, valPct: Int): DataFrame = {
    require(trainPct >= 1 && valPct >= 0 && trainPct + valPct <= 100,
      s"need 1 <= trainPct and trainPct + valPct <= 100, " +
        s"got trainPct=$trainPct valPct=$valPct")
    def hv(t: Column): Column =
      graft.expressions.TextExpressions.polyHash(t) % 100
    val reps = groups.select(col("keeper")).distinct()
      .join(docs.select(col(idCol).as("__kid"), col(textCol).as("__kt")),
        col("keeper") === col("__kid"))
      .select(col("keeper"), hv(col("__kt")).as("__ghv"),
        lit(true).as("__found"))
    // LEFT join: a member whose keeper found no docs row keeps a null
    // __found marker, which the output plan turns into a raise_error —
    // never a silent fall-back to the member's own hash. The marker (not
    // __ghv) distinguishes the two failure modes: a keeper PRESENT in
    // docs with a NULL text has __found set but a null __ghv
    // (polyHash(NULL) is null) — that case must ALSO fail loud (with an
    // accurate message), because letting members fall through to their
    // OWN hashes would scatter one dup group across train/test, the
    // exact silent leakage this operator exists to prevent.
    val members = groups.join(reps, Seq("keeper"), "left")
      .select(col("id").as("__mid"), col("__ghv"), col("__found"))
    val own = docs.select(col(idCol), hv(col(textCol)).as("__ohv"))
    own.join(members, col(idCol) === col("__mid"), "left")
      .select(col(idCol),
        when(col("__mid").isNotNull && col("__found").isNull,
          raise_error(concat(
            lit("leakageSafeSplit: the groups row for id "), col("__mid"),
            lit(" names a keeper absent from docs — a stale groups table" +
              " would silently lose the leakage guarantee")))
            .cast("string"))
          .when(col("__mid").isNotNull && col("__ghv").isNull,
            raise_error(concat(
              lit("leakageSafeSplit: the keeper for id "), col("__mid"),
              lit(" has NULL text, so the group hash is undefined —" +
                " falling back to per-member hashes would scatter the" +
                " dup group across splits")))
              .cast("string"))
          .when(coalesce(col("__ghv"), col("__ohv")) < trainPct, "train")
          .when(coalesce(col("__ghv"), col("__ohv")) < trainPct + valPct,
            "val")
          .otherwise("test").as("split"),
        col("__mid").isNotNull.as("grouped"))
  }

  /** Cross-document duplicated-span coverage: for every document, how many
    * of its tokens sit inside a word k-gram that also occurs in at least
    * `minDocs − 1` OTHER documents. The token-level signal behind
    * substring-level corpus dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better" — their suffix-array ExactSubstr,
    * approximated here at k-gram granularity so it distributes): document-
    * level dedup misses boilerplate (headers, license blocks, navigation)
    * pasted into otherwise-unique pages, which this surfaces as a
    * per-document `dup_frac` a cleaning pass can threshold on.
    *
    * Output: (doc_id, n_tokens, dup_grams, dup_tokens, dup_frac) — one row
    * per input document; `dup_grams` counts flagged k-gram positions,
    * `dup_tokens` counts distinct token positions covered by a flagged gram
    * (overlapping grams merged), `dup_frac = dup_tokens / n_tokens`.
    *
    * Scale design: positional gram hashes come from [[TextOps
    * .shingleHashesAll]] (pure codegen long arithmetic, O(n + k·n) per doc);
    * every shuffle — the distinct-doc frequency aggregate, the flagged-gram
    * join, the per-doc coverage window — carries only (long, int) tuples,
    * never text. Coverage is computed by an interval-merge window (each
    * flagged position contributes `min(k, gap-to-previous)`) instead of
    * exploding the k covered positions per gram, so the widest intermediate
    * is ONE row per flagged gram, not k. The frequency side is unbounded at
    * corpus scale, so it is a plain shuffle join on the gram hash — AQE
    * broadcasts it when it turns out small.
    */
  def dupSpanCoverage(docs: DataFrame, textCol: String, idCol: String,
      k: Int, minDocs: Int = 2): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      size(tokens(col(textCol))).as("n_tokens"))
    val grams = docs
      .filter(size(tokens(col(textCol))) >= k)
      .select(col(idCol).as("doc_id"),
        posexplode(shingleHashesAll(col(textCol), k)).as(Seq("p", "gh")))
    val dupGrams = grams.groupBy(col("gh"))
      .agg(countDistinct(col("doc_id")).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("gh"))
    val flagged = grams.join(dupGrams, "gh").select(col("doc_id"), col("p"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    val cov = flagged
      .withColumn("__prev", lag(col("p"), 1).over(w))
      // first flagged gram covers k tokens; each later one only the tokens
      // past the previous gram's span (overlap-merged interval coverage)
      .withColumn("__c", when(col("__prev").isNull, lit(k))
        .otherwise(least(lit(k), col("p") - col("__prev"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dup_grams"),
        sum(col("__c")).cast("long").as("dup_tokens"))
    base.join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_frac",
        col("dup_tokens").cast("double") / col("n_tokens"))
  }

  /** Sub-document SEGMENT dedup with reassembly (the CCNet/RefinedWeb
    * "paragraph dedup" pass, token-window edition): cut every document
    * into non-overlapping `segTokens`-token segments, keep only the
    * corpus-wide FIRST occurrence of each distinct segment (first = lowest
    * (doc_id, seg_idx) in document order — deterministic, engine-free),
    * and stitch each document back together from its surviving segments.
    * Unlike whole-document dedup this removes boilerplate that recurs
    * INSIDE otherwise-unique documents (headers, navigation, license
    * blocks) — at web-corpus scale most duplicated bytes live there, not
    * in exact-duplicate documents. Repeats within one document dedup too
    * (a later identical segment loses to the earlier one).
    *
    * Output: (doc_id, clean_text, n_segs, kept_segs) — clean_text is ''
    * (never null) when every segment was seen earlier.
    *
    * Corpora shipping real newline structure should pre-split on '\n' and
    * feed paragraphs as single-segment rows; the windowing here is the
    * degenerate-structure fallback (this testdata is single-line).
    *
    * Scale shape: text moves through exactly ONE exchange, keyed by doc.
    * (1) First-occurrence election groups (hash, posKey) LONGS by the
    * segment polyHash; min(posKey) is exact and total because
    * posKey = doc_id·2^20 + seg_idx packs the document order into one
    * BIGINT (requires 0 ≤ doc_id < 2^43, seg_idx < 2^20 — enforced).
    * (2) The winning posKeys are unpacked back to (doc_id, seg_idx) —
    * pure long arithmetic, no join back to the segment rows, so the
    * election side never needs the text at all — and collected per doc
    * into a kept-index list (again a long-only shuffle). (3) The index
    * lists join the ORIGINAL documents by doc_id and the surviving
    * segments are re-sliced from the token array narrowly — the one
    * exchange that carries text, and the same doc-keyed shuffle any
    * reassembly needs. n_segs derives from the token count in the same
    * projection (no separate aggregate). Hash collisions (mod 1e9+7) can
    * drop a colliding later segment — the standard hash-dedup
    * false-positive tradeoff, same as [[exactGroups]]' md5. */
  def dedupSegments(docs: DataFrame, textCol: String, idCol: String,
      segTokens: Int): DataFrame = {
    require(segTokens >= 1, "segTokens must be >= 1")
    val MaxSeg = 1L << 20
    val toks = tokens(col(textCol))
    // election input: (hash, posKey) longs only — the segment string dies
    // in this projection, before any exchange
    val hashed = docs
      .select(col(idCol).as("doc_id"), toks.as("__w"))
      .withColumn("__starts",
        sequence(lit(0), greatest(size(col("__w")) - 1, lit(0)),
          lit(segTokens)))
      .select(col("doc_id"), col("__w"),
        posexplode(col("__starts")).as(Seq("seg_idx", "__start")))
      // guard the posKey packing domain once, inside the plan (narrow)
      .withColumn("__pk",
        when(col("doc_id") < 0 || col("doc_id") >= (1L << 43) ||
            col("seg_idx") >= MaxSeg,
          raise_error(lit("dedupSegments: doc_id/seg_idx outside packing " +
            "domain [0,2^43)/[0,2^20)")))
          .otherwise(col("doc_id") * MaxSeg + col("seg_idx")))
      .withColumn("__h", graft.expressions.TextExpressions.polyHash(
        array_join(slice(col("__w"), col("__start") + 1, lit(segTokens)),
          " ")))
      .select(col("__h"), col("__pk"))
    // winners unpack straight from the min posKey — no join to segments
    val keepIdx = hashed.groupBy(col("__h"))
      .agg(min(col("__pk")).as("__first_pk"))
      .select(expr(s"__first_pk div $MaxSeg").as("doc_id"),
        pmod(col("__first_pk"), lit(MaxSeg)).cast("int").as("seg_idx"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("seg_idx"))).as("__keep"),
        count(lit(1)).as("kept_segs"))
    // the ONE text-bearing exchange: documents meet their kept-index list
    // keyed by doc_id; surviving segments re-slice narrowly from tokens
    docs.select(col(idCol).as("doc_id"), toks.as("__w"))
      .join(keepIdx, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(
          array_join(transform(col("__keep"), i =>
            array_join(slice(col("__w"), i * segTokens + 1, lit(segTokens)),
              " ")), " "),
          lit("")).as("clean_text"),
        (expr(s"greatest(size(__w) - 1, 0) div $segTokens").cast("long")
          + 1L).as("n_segs"),
        coalesce(col("kept_segs"), lit(0L)).as("kept_segs"))
  }
}
