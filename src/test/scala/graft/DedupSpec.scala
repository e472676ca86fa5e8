package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Edge semantics of the dedup operators beyond what the oracle corpus
  * exercises: null/short documents, pair ordering, known-graph clustering.
  */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  test("minhash signatures skip null and sub-k documents") {
    val df = Seq((1L, "a b c d e"), (2L, "a b"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSignatures(df, "text", "doc_id", k = 3)
    assert(sig.select($"id").as[Long].collect().toSeq === Seq(1L))
    assert(sig.select(size($"m")).head.getInt(0) === 16)
  }

  test("dup pairs are ordered id1 < id2 and identical docs verify at 1.0") {
    val df = Seq(
        (10L, "the quick brown fox jumps over the dog"),
        (7L, "the quick brown fox jumps over the dog"),
        (3L, "completely different words entirely here now"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashDupPairs(df, "text", "doc_id", 3, 0.8).collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    val dup = pairs.find(r => r.getLong(0) == 7L && r.getLong(1) == 10L)
    assert(dup.isDefined && dup.get.getAs[Double]("jacc") === 1.0 &&
      dup.get.getAs[Boolean]("is_dup"))
  }

  test("probing a band index equals the full self-join restricted to " +
      "cross pairs") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val isNew = col("doc_id") % 5 === 0
    val incr = Dedup.dedupAgainstIndex(
        d.filter(isNew), "text", "doc_id", k = 3, threshold = 0.8,
        index = Dedup.bandIndex(d.filter(!isNew), "text", "doc_id", k = 3),
        corpus = d.filter(!isNew))
      .select($"new_id", $"old_id", $"jacc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // full corpus∪batch self-join, reoriented to (new, old) cross pairs
    val full = Dedup.minhashDupPairs(d, "text", "doc_id", 3, 0.8)
      .filter((col("id1") % 5 === 0) =!= (col("id2") % 5 === 0))
      .select(
        when(col("id1") % 5 === 0, col("id1")).otherwise(col("id2"))
          .as("new_id"),
        when(col("id1") % 5 === 0, col("id2")).otherwise(col("id1"))
          .as("old_id"),
        col("jacc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(incr.nonEmpty && incr === full)
  }

  test("maxBucket skew guard drops template buckets; exactGroups covers them") {
    // 20 identical template docs (one massive band bucket — the LSH skew
    // case) plus one genuine near-dup pair with unique text
    val template = "terms of service apply to all users of this site"
    val docs = ((1L to 20L).map(i => (i, template)) ++ Seq(
        (50L, "the quick brown fox jumps over the lazy dog"),
        (51L, "the quick brown fox jumps over the lazy cat")))
      .toDF("doc_id", "text")
    val unlimited = Dedup.minhashDupPairs(docs, "text", "doc_id", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.minhashDupPairs(docs, "text", "doc_id", 3, 0.5,
        maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // unlimited finds the 190 template pairs AND the near-dup pair
    assert(unlimited.contains((50L, 51L)) && unlimited.size > 190)
    // the cap removes the over-full template bucket's pairs, keeps the rest
    assert(capped === Set((50L, 51L)))
    // the dropped documents are exactly the digest-exact class: the cheap
    // exact pass still groups all 20 under one keeper
    val g = Dedup.exactGroups(docs, "text", "doc_id").collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(g(1L) === 20L)
  }

  test("dupGroups resolves chains and keeps the min id per component") {
    // components: {1,2,3,4} via chain, {10,11} isolated pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id1", "id2")
    val groups = Dedup.dupGroups(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("dupGroups handles a long chain within maxIter via pointer jumping") {
    val n = 40
    val pairs = (1 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id1", "id2")
    // driverEdgeLimit=0 forces the distributed iterative path under test
    val groups = Dedup.dupGroups(pairs, maxIter = 10, driverEdgeLimit = 0)
      .collect()
    assert(groups.length === n)
    assert(groups.forall(_.getLong(1) === 1L),
      groups.sortBy(_.getLong(0)).map(r => s"${r.getLong(0)}->${r.getLong(1)}")
        .mkString(","))
  }

  test("dupGroups fails fast when the iteration cap cuts convergence " +
      "short (split components must never ship silently)") {
    // a 40-vertex chain cannot converge in one relax+jump round; before
    // r13 the loop returned the half-propagated labels anyway — corrupt
    // keepers with no signal (ADVICE r12). Now it throws with guidance.
    val pairs = (1 until 40).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id1", "id2")
    val e = intercept[IllegalStateException](
      Dedup.dupGroups(pairs, maxIter = 1, driverEdgeLimit = 0).collect())
    assert(e.getMessage.contains("did not converge"))
    assert(e.getMessage.contains("maxIter"))
  }

  test("dupGroups converges in O(log diameter) rounds on a 10^4 chain") {
    // worst-case topology for label propagation: one path of 10^4 vertices
    // (diameter 10^4 - 1). Plain relaxation needs ~10^4 rounds; the
    // relax+pointer-jump loop must stay logarithmic — this pins the bound
    // mechanically instead of trusting the scaladoc.
    val n = 10000
    val pairs = (1 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id1", "id2")
    val (groups, rounds) =
      Dedup.dupGroupsWithStats(pairs, maxIter = 40, driverEdgeLimit = 0)
    val rows = groups.collect()
    assert(rows.length === n)
    assert(rows.forall(_.getLong(1) === 1L))
    val bound = 2 * (math.log(n) / math.log(2)).ceil.toInt // 2·log2(n) = 28
    assert(rounds <= bound, s"took $rounds rounds, bound $bound")
  }

  test("dupGroups driver union-find and distributed propagation agree") {
    // mixed topology: chain, star, pair, self-contained triangle
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (20L, 21L),
      (30L, 31L), (30L, 32L), (30L, 33L), (40L, 41L), (41L, 42L),
      (40L, 42L))).toDF("id1", "id2")
    val fast = Dedup.dupGroups(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.dupGroups(pairs, driverEdgeLimit = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === dist)
  }

  test("prefix-filtered jaccard pairs equal the naive all-pairs spelling") {
    // corpus with near-dups, exact dups, and unrelated docs across 2 blocks
    val docs = Seq(
        (1L, "a", "the quick brown fox jumps over the lazy dog"),
        (2L, "a", "the quick brown fox jumps over the lazy cat"),
        (3L, "a", "totally unrelated words appear in this document"),
        (4L, "a", "the quick brown fox jumps over the lazy dog"),
        (5L, "b", "the quick brown fox jumps over the lazy dog"),
        (6L, "b", "short text"),
        (7L, "b", "short text too"))
      .toDF("doc_id", "source", "text")
    val fast = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "source", 0.5)
      .select($"id1", $"id2", $"jacc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // naive quadratic reference spelling (what the DuckDB oracle runs)
    val sets = docs.select($"doc_id".as("id"), $"source".as("block"),
      array_distinct(transform(split($"text", " "),
        t => graft.expressions.TextExpressions.polyHash(t))).as("h"))
    val naive = sets.as("a").join(sets.as("b"),
        $"a.block" === $"b.block" && $"a.id" < $"b.id")
      .select($"a.id".as("id1"), $"b.id".as("id2"),
        graft.operators.TextOps.jaccard($"a.h", $"b.h").as("jacc"))
      .filter($"jacc" >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fast === naive)
    assert(fast.contains((1L, 4L, 1.0)))       // exact dup within block a
    assert(!fast.exists(p => p._1 == 4L && p._2 == 5L)) // cross-block excluded
  }

  test("frequency-ordered prefixes exclude a universal boilerplate token") {
    // every doc shares the token "copyright": under hash order it can land
    // in many prefixes (candidate blowup); under frequency order it ranks
    // LAST, so prefixes carry only the rare discriminative tokens. Output
    // must be identical either way; the frequency path's candidate join
    // must not key on the universal token for these prefix lengths.
    val docs = (1 to 12).map(i =>
        (i.toLong, "x", s"copyright w${i}a w${i}b w${i}c w${i}d w${i}e"))
      .toDF("doc_id", "source", "text")
    val hashOrd = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "source",
        0.6).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val freqOrd = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "source",
        0.6, frequencyOrdered = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // disjoint rare vocab → no pair reaches tau under either order
    assert(hashOrd === freqOrd && freqOrd.isEmpty)
  }

  test("prefix filtering prunes the candidate space below all-pairs") {
    // 30 mutually-dissimilar docs in ONE block: all-pairs would be 435
    // candidate pairs; disjoint vocabularies share no prefix token, so the
    // prefix join must produce (near) zero candidates. We assert on the
    // OUTPUT being empty and, structurally, that the plan joins on the
    // exploded prefix token, not on the block alone.
    val docs = (1 to 30).map(i =>
        (i.toLong, "x", (0 until 8).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val out = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "source", 0.5)
    assert(out.count() === 0L)
    val plan = out.queryExecution.optimizedPlan.toString
    assert(plan.contains("tok"), plan)  // candidate join keyed by prefix token
  }

  test("withStats: frequency order never emits more candidates than hash " +
      "order, and collapses them on a skewed vocabulary") {
    // every doc shares one near-universal boilerplate token; rare vocab is
    // disjoint and chosen so every rare token's polyHash EXCEEDS the
    // boilerplate token's — under hash order the universal token therefore
    // sits at prefix position 1 of every doc (the worst case: all C(12,2)
    // pairs become candidates), while frequency order ranks it LAST (df=12
    // vs 1) and prefixes carry only rare tokens. Both orders are lossless,
    // so the verified output must be identical.
    val pool = (1 to 400).map(i => f"tok$i%03d")
    val hashOf = pool.toDF("t")
      .select($"t", graft.expressions.TextExpressions.polyHash($"t").as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bp = pool.minBy(hashOf) // the "boilerplate" token: smallest hash
    val rare = pool.filter(_ != bp).sortBy(hashOf).takeRight(60)
    assert(rare.forall(t => hashOf(t) > hashOf(bp)))
    val docs = (0 until 12).map(i =>
        ((i + 1).toLong, "x",
          (bp +: rare.slice(i * 5, i * 5 + 5)).mkString(" ")))
      .toDF("doc_id", "source", "text")
    val (hashDf, hashStats) = Dedup.ngramJaccardPairsWithStats(
      docs, "text", "doc_id", "source", 0.6)
    val (freqDf, freqStats) = Dedup.ngramJaccardPairsWithStats(
      docs, "text", "doc_id", "source", 0.6, frequencyOrdered = true)
    assert(freqStats.verified === hashStats.verified)
    assert(freqStats.candidates <= hashStats.candidates,
      s"freq=${freqStats.candidates} hash=${hashStats.candidates}")
    // the skew case is why the ordering exists: hash order keys every
    // C(12,2) pair on the universal token, frequency order none
    assert(hashStats.candidates === 66L && freqStats.candidates === 0L,
      s"freq=${freqStats.candidates} hash=${hashStats.candidates}")
    hashDf.unpersist(); freqDf.unpersist()
  }

  test("gate skew fixture: the shipped boilerplate tokens hash into the " +
      "prefix-leading band and skewedDocs appends them to every row") {
    // q_pipe_jaccard_freq's adversarial property rests on these hashes
    // sorting FIRST in essentially every doc's token set (~0.012% of the
    // 1e9 hash space) — pin it so a suffix retune can't silently land in
    // the middle of the hash order and neuter the fixture
    val toks = graft.queries.TextPipeline.JaccardSkewSuffix.trim.split(" ")
    assert(toks.length === 3)
    val hashes = toks.toSeq.toDF("t")
      .select(graft.expressions.TextExpressions.polyHash($"t"))
      .collect().map(_.getLong(0))
    assert(hashes.forall(h => h > 0 && h < 1000000L),
      s"skew tokens must hash into the leading band: ${hashes.toSeq}")
    // and the suffix reaches every document verbatim
    val base = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text")
      .withColumn("source", lit("x"))
    val dir = java.nio.file.Files.createTempDirectory("graft_skewfix")
    try {
      base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = graft.queries.TextPipeline.skewedDocs(spark, dir.toString)
        .select($"text").collect().map(_.getString(0))
      assert(out.forall(_.endsWith(
        graft.queries.TextPipeline.JaccardSkewSuffix)))
    } finally graft.queries.Streaming.deleteRecursively(dir)
  }

  test("minhashDupPairsWithStats quantifies what the maxBucket cap dropped") {
    val template = "terms of service apply to all users of this site"
    val docs = ((1L to 20L).map(i => (i, template)) ++ Seq(
        (50L, "the quick brown fox jumps over the lazy dog"),
        (51L, "the quick brown fox jumps over the lazy cat")))
      .toDF("doc_id", "text")
    val (unlimitedDf, noCap) = Dedup.minhashDupPairsWithStats(
      docs, "text", "doc_id", 3, 0.5)
    assert(noCap === Dedup.BucketCapStats(0L, 0L))
    assert(unlimitedDf.count() > 190)
    // cap 10: every band bucket of the 20 identical templates (20 members
    // each) is dropped; the near-dup pair's buckets (≤ 2 members) survive
    val (cappedDf, stats) = Dedup.minhashDupPairsWithStats(
      docs, "text", "doc_id", 3, 0.5, maxBucket = 10)
    assert(stats.droppedBuckets > 0)
    assert(stats.droppedRows === 20L * stats.droppedBuckets,
      s"$stats: dropped rows should be the 20 template docs per bucket")
    assert(cappedDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((50L, 51L)))
  }

  test("dupGroups uses reliable checkpoint when a checkpoint dir is set") {
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
      val groups = Dedup.dupGroups(pairs, driverEdgeLimit = 0).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(groups === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
        10L -> 10L, 11L -> 10L))
      // reliable checkpoint actually wrote RDD data under the dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
      assert(wrote > 0, s"no rdd-* checkpoint data under $dir")
    } finally {
      sc.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("exactGroups counts copies and keeps the min id") {
    val df = Seq((5L, "same"), (2L, "same"), (9L, "other"))
      .toDF("doc_id", "text")
    val g = Dedup.exactGroups(df, "text", "doc_id").collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(g === Map(2L -> 2L, 9L -> 1L))
  }

  private def spanMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) ->
      ((r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap

  test("dupSpanCoverage merges overlapping shared grams into one span") {
    // docs 1 and 2 share the 8-token run "a b c d e f g h": doc 1 has four
    // flagged 5-gram positions (0..3) whose covered tokens MERGE to 8, not
    // 4*5; doc 3 shares nothing.
    val df = Seq(
        (1L, "a b c d e f g h"),
        (2L, "x y a b c d e f g h z w"),
        (3L, "p q r s t u v w1 w2 w3"))
      .toDF("doc_id", "text")
    val m = spanMap(Dedup.dupSpanCoverage(df, "text", "doc_id", k = 5))
    assert(m(1L) === ((8, 4L, 8L, 1.0)))
    assert(m(2L) === ((12, 4L, 8L, 8.0 / 12)))
    assert(m(3L) === ((10, 0L, 0L, 0.0)))
  }

  test("dupSpanCoverage ignores grams repeated only WITHIN one document") {
    // doc 1 repeats its own 5-gram three times; no other doc has it, so
    // minDocs=2 must not flag anything.
    val df = Seq(
        (1L, "a b c d e a b c d e a b c d e"),
        (2L, "q r s t u v w x y z"))
      .toDF("doc_id", "text")
    val m = spanMap(Dedup.dupSpanCoverage(df, "text", "doc_id", k = 5))
    assert(m(1L)._3 === 0L && m(2L)._3 === 0L)
  }

  test("dupSpanCoverage keeps sub-k and gap-split documents correct") {
    // doc 2's two shared runs are separated by unique tokens: two disjoint
    // spans of 5, not one run of 10. doc 4 is shorter than k and must still
    // appear with zero coverage.
    val df = Seq(
        (1L, "a b c d e m n o p q"),
        (2L, "a b c d e u1 u2 u3 m n o p q"),
        (4L, "tiny doc"))
      .toDF("doc_id", "text")
    val m = spanMap(Dedup.dupSpanCoverage(df, "text", "doc_id", k = 5))
    assert(m(2L) === ((13, 2L, 10L, 10.0 / 13)))
    assert(m(4L) === ((2, 0L, 0L, 0.0)))
  }

  test("dupSpanCoverage is partitioning-invariant") {
    val docs = (1L to 40L).map { i =>
      val shared = "common boiler plate text here"
      val tail = s"unique$i t${i}a t${i}b t${i}c t${i}d"
      (i, if (i % 3 == 0) s"$shared $tail" else s"$tail $tail")
    }.toDF("doc_id", "text")
    val one = spanMap(Dedup.dupSpanCoverage(
      docs.coalesce(1), "text", "doc_id", k = 5))
    val many = spanMap(Dedup.dupSpanCoverage(
      docs.repartition(7), "text", "doc_id", k = 5))
    assert(one === many)
    // the i%3==0 docs all share the 5-token boilerplate prefix
    assert(one(3L)._3 === 5L)
  }

  test("positional filter is lossless under BOTH orderings: prefix-join " +
      "pairs equal brute-force all-pairs on a heavily overlapping corpus") {
    // r20: the candidate join prunes matched-token rows whose positional
    // overlap bound 1 + min(|a|-pa, |b|-pb) cannot reach
    // α = ⌈τ/(1+τ)(|a|+|b|)⌉ (PPJoin). The bound must never drop a TRUE
    // pair — pin it against a driver-side brute force over the same
    // polyHash sets, on a corpus dense enough that late-position prefix
    // matches (the pruned class) actually occur, plus exact duplicates.
    val rnd = new scala.util.Random(42)
    val vocab = (1 to 12).map(i => s"w$i")
    val base = (1 to 36).map { i =>
      val n = 4 + rnd.nextInt(4)
      (i.toLong, rnd.shuffle(vocab).take(n).mkString(" "))
    }
    val dups = (1 to 4).map(i => (100L + i, base(i)._2)) // guaranteed pairs
    val docs = (base ++ dups).map { case (id, t) => (id, "blk", t) }
      .toDF("doc_id", "source", "text")
    val hashOf = vocab.toDF("t")
      .select($"t", graft.expressions.TextExpressions.polyHash($"t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sets = (base ++ dups).map { case (id, t) =>
      id -> t.split(" ").map(hashOf).toSet }.toMap
    val expect = (for {
      (i, si) <- sets.toSeq; (j, sj) <- sets.toSeq if i < j
      inter = (si & sj).size
      jacc = inter.toDouble / (si.size + sj.size - inter).toDouble
      if jacc >= 0.5
    } yield (i, j, jacc)).toSet
    assert(expect.nonEmpty, "fixture must produce true pairs")
    for (freq <- Seq(false, true)) {
      val got = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "source",
          0.5, frequencyOrdered = freq)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Double]("jacc"))).toSet
      assert(got === expect, s"frequencyOrdered=$freq")
    }
  }

  test("minhash signature persists are bounded by OpCaches and released " +
      "by OpCaches.clear()") {
    val sc = spark.sparkContext
    graft.operators.OpCaches.clear()
    val before = sc.getPersistentRDDs.size
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    for (i <- 0 until 10) {
      Dedup.minhashDupPairs(d.filter(col("doc_id") % 10 =!= i),
        "text", "doc_id", 3, 0.8).count()
      assert(graft.operators.OpCaches.frameCount <=
        graft.operators.OpCaches.MaxFrames)
      assert(sc.getPersistentRDDs.size - before <=
        graft.operators.OpCaches.MaxFrames, s"call $i")
    }
    graft.operators.OpCaches.clear()
    assert(sc.getPersistentRDDs.size === before)
  }
}
