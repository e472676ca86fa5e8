package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.{toCol, toExpr, VectorCalls, VectorKernels, VectorSet}

/** Embedding similarity search (approximate-nearest-neighbor surface).
  *
  * Scale design: the query set is broadcast (never shuffles the corpus);
  * brute force is one narrow scan per corpus partition; the LSH variant
  * prunes candidates to one signature bucket (2^planes fan-in reduction)
  * before scoring. Dot products are sequential left-folds in double — the
  * deterministic, oracle-reproducible kernel (see DuckFrag.dotSql).
  */
object Similarity {

  /** Sequential-fold dot product, null when the lengths differ or an
    * element is null (bit-identical to `aggregate(zip_with(a,b,*), 0.0, +)`,
    * see VectorKernels' contract). */
  def dot(a: Column, b: Column): Column = toCol(VectorCalls.dot(toExpr(a), toExpr(b)))

  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine from precomputed norms. A zero-norm vector has no direction —
    * its similarity to anything is 0.0 by convention (ranking it last),
    * guarded BEFORE the division: under ANSI mode (Spark 4 default) the
    * bare `dot/(na*nb)` THROWS DIVIDE_BY_ZERO the moment a corpus carries
    * one all-zero embedding (a padding row or dead model output — routine
    * at real corpus scale). Non-zero norms take the identical IEEE
    * division the oracle SQL mirrors. */
  def cosine(a: Column, na: Column, b: Column, nb: Column): Column =
    when(na * nb > 0.0, dot(a, b) / (na * nb)).otherwise(lit(0.0))

  /** Corpus with v = embedding widened to double and its precomputed norm. */
  def prepared(emb: DataFrame, vecCol: String, idCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    emb.select(col(idCol).as("id"), v.as("v")).withColumn("nrm", norm(col("v")))
  }

  /** Brute-force top-k cosine neighbors for the query ids.
    * One broadcast join + per-query TakeOrdered — the exact baseline. */
  def knnBrute(emb: DataFrame, vecCol: String, idCol: String,
      queryIds: Seq[Long], k: Int): DataFrame = {
    val corpus = prepared(emb, vecCol, idCol)
    val queries = corpus.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = corpus.join(broadcast(queries), col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .drop("rn")
  }

  /** All pairs with cosine ≥ threshold (embedding near-dup detection).
    * Exact quadratic kernel; block with [[lshBucket]] first at scale. */
  def cosineNearDupPairs(emb: DataFrame, vecCol: String, idCol: String,
      threshold: Double): DataFrame = {
    val corpus = prepared(emb, vecCol, idCol)
    corpus.as("a").join(corpus.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        cosine(col("a.v"), col("a.nrm"), col("b.v"), col("b.nrm")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Deterministic pseudo-random hyperplanes: w(p,i) derives from a Knuth
    * multiplicative hash of (p, i) — reproducible in any engine, no RNG
    * state. Components in [-1, 1]. */
  def planes(numPlanes: Int, dim: Int): Seq[Array[Double]] =
    (0 until numPlanes).map { p =>
      Array.tabulate(dim) { i =>
        (((p.toLong * dim + i) * 2654435761L % 2147483647L % 2001L) - 1000L) / 1000.0
      }
    }

  /** Signed-random-projection LSH bucket id (bit p iff dot(v, plane p) > 0):
    * one [[graft.expressions.VectorKernels.lshBits]] call per row over the
    * plane matrix as one [[VectorSet]] literal. Past [[LiteralDoubleLimit]]
    * plane doubles this fails fast; [[withBuckets]] dispatches to the join. */
  def lshBucket(v: Column, ps: Seq[Array[Double]]): Column = {
    val planeDoubles = ps.iterator.map(_.length.toLong).sum
    require(planeDoubles <= LiteralDoubleLimit,
      s"plane matrix too large for a plan-side literal ($planeDoubles " +
        s"doubles > 2^22); use lshBucketsJoined / knnLsh, which dispatch to " +
        s"the broadcast-join bucket computation past this limit")
    toCol(VectorCalls.lshBits(toExpr(v), new VectorSet(
      ps.indices.map(_.toLong).toArray, ps.map(_.clone()).toArray,
      new Array[Double](ps.size), null)))
  }

  /** Bucket computation for plane matrices too large to inline as a
    * literal: broadcast the plane TABLE, expand corpus × planes, sum the
    * per-plane bit contributions back to one (id, bucket) with a map-side
    * partial aggregate, join back by id. Same shape and tie-free semantics
    * as [[lshBucket]] (each plane contributes `bit` iff dot > 0). */
  def lshBucketsJoined(corpus: DataFrame, ps: Seq[Array[Double]]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val planesDf = ps.zipWithIndex
      .map { case (w, p) => (1L << p, w.toSeq) }.toDF("bit", "w")
    val bits = corpus.join(broadcast(planesDf))
      .select(col("id"),
        when(dot(col("v"), col("w")) > 0, col("bit")).otherwise(lit(0L))
          .as("contrib"))
      .groupBy(col("id")).agg(sum(col("contrib")).as("bucket"))
    corpus.join(bits, "id")
  }

  /** Corpus with a `bucket` column: literal kernel below `literalLimit` total
    * plane doubles, broadcast-join fallback above. */
  def withBuckets(corpus: DataFrame, ps: Seq[Array[Double]],
      literalLimit: Long = LiteralDoubleLimit): DataFrame =
    if (ps.iterator.map(_.length.toLong).sum <= literalLimit)
      corpus.withColumn("bucket", lshBucket(col("v"), ps))
    else lshBucketsJoined(corpus, ps)

  /** Driver-side centroid: id, vector, precomputed norm. Centroid sets are
    * tiny by construction (k ≤ a few thousand · dim doubles), so holding
    * them on the driver and passing them as one literal is the scale-safe
    * spelling — the alternative (a condition-less broadcast join + per-id
    * window) multiplies the corpus ×k and shuffles every embedding. */
  final case class Cent(cid: Long, cv: Array[Double], cnrm: Double)

  /** Plan-side budget: past ~2^22 doubles (~32 MB) a [[VectorSet]] literal
    * bloats the plan and every task, so the join-backed fallbacks
    * ([[assignCellsJoined]], [[lshBucketsJoined]]) take over. */
  val LiteralDoubleLimit: Long = 1L << 22

  private def centDoubles(cents: Seq[Cent]): Long =
    cents.iterator.map(_.cv.length.toLong).sum

  /** Centroids in ascending cid as a flat [[VectorSet]]. */
  private def centSet(cents: Seq[Cent]): VectorSet = {
    val s = cents.sortBy(_.cid)
    new VectorSet(s.map(_.cid).toArray, s.map(_.cv.clone()).toArray,
      s.map(_.cnrm).toArray, null)
  }

  /** Centroid set as a (cid, cv, cnrm) DataFrame for the join-backed path. */
  private def centsDf(corpus: DataFrame, cents: Seq[Cent]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    cents.map(c => (c.cid, c.cv.toSeq, c.cnrm)).toDF("cid", "cv", "cnrm")
  }

  /** Cell assignment for centroid sets too large to inline as a literal
    * (e.g. 64k × 1024 ≈ 2^26 doubles): broadcast the centroid TABLE, expand
    * corpus × k, collapse back to one (id, cell) per row with a map-side
    * partial `max_by` (the ×k expansion never reaches the shuffle), then
    * join the cell back onto the corpus by id. Costs one corpus shuffle the
    * literal path avoids — the honest price of a centroid set that cannot
    * live in the plan. Tie-break matches [[cellFor]]: the (cos, -cid) key
    * is unique per (id, cid), so ties keep the smallest cid
    * deterministically. */
  def assignCellsJoined(corpus: DataFrame, cents: Seq[Cent]): DataFrame = {
    val scored = corpus.join(broadcast(centsDf(corpus, cents)))
      .select(col("id"), col("cid"),
        cosine(col("v"), col("nrm"), col("cv"), col("cnrm")).as("cos"))
    val best = scored.groupBy(col("id"))
      .agg(max_by(col("cid"), struct(col("cos"), -col("cid"))).as("cell"))
    corpus.join(best, "id")
  }

  /** Corpus with a `cell` column: the literal argmax kernel below
    * `literalLimit` total centroid doubles, broadcast-join fallback above. */
  def assignCells(corpus: DataFrame, cents: Seq[Cent],
      literalLimit: Long = LiteralDoubleLimit): DataFrame =
    if (centDoubles(cents) <= literalLimit)
      corpus.withColumn("cell", cellFor(col("v"), col("nrm"), cents))
    else assignCellsJoined(corpus, cents)

  /** Coarse group over a centroid set: gid, the group's mean vector and
    * its norm. Driver-side by construction — groups exist only to bound
    * how many FINE centroids a corpus row scores against. */
  final case class CentGroup(gid: Long, gv: Array[Double], gn: Double)

  /** Default probe width for [[assignCellsBucketed]]: how many coarse
    * groups each row's fine-centroid scan descends into. */
  val GroupProbes: Int = 4

  /** Group count minimizing per-row work at [[GroupProbes]] probes: the
    * row scores m coarse centers plus ~probes·k/m fine members, and
    * m = ⌈2√k⌉ balances the two terms at ~4√k total — the knob that turns
    * the flat argmax's n·k into n·O(√k). */
  def centroidGroupCount(k: Int): Int =
    math.max(1, math.ceil(2.0 * math.sqrt(math.max(0, k).toDouble)).toInt)

  /** Deterministic driver-side grouping of a centroid set: stride seeds
    * over the cid-sorted centroids, two Lloyd rounds by max cosine (ties
    * to the smallest gid), group center = member coordinate mean. Pure
    * sequential Scala over at most a few thousand centroids — k·m·dim
    * flops, negligible next to any corpus pass — and bit-reproducible, so
    * the groups can ride to a cross-engine oracle as a side-table.
    * Returns (non-empty groups, cid → gid). */
  def groupCentroids(cents: Seq[Cent],
      numGroups: Int): (Seq[CentGroup], Map[Long, Long]) = {
    val sorted = cents.sortBy(_.cid).toIndexedSeq
    if (sorted.isEmpty) return (Seq.empty, Map.empty)
    val m = math.max(1, math.min(numGroups, sorted.size))
    def cosTo(c: Cent, gv: Array[Double], gn: Double): Double =
      if (c.cnrm * gn > 0) VectorKernels.dotOf(gv, c.cv) / (c.cnrm * gn) else 0.0
    var centers: IndexedSeq[(Array[Double], Double)] =
      (0 until m).map { j =>
        val c = sorted((j.toLong * sorted.size / m).toInt); (c.cv, c.cnrm)
      }
    def assignAll(): Array[Int] = sorted.map { c =>
      var bj = 0; var bc = Double.NegativeInfinity
      var j = 0
      while (j < centers.size) {
        val cs = cosTo(c, centers(j)._1, centers(j)._2)
        if (cs > bc) { bc = cs; bj = j } // strict > keeps the smallest gid
        j += 1
      }
      bj
    }.toArray
    var assign = assignAll()
    for (_ <- 1 to 2) {
      centers = centers.indices.map { j =>
        val mem = sorted.indices.filter(assign(_) == j)
        if (mem.isEmpty) centers(j)
        else {
          val dim = sorted(mem.head).cv.length
          val mean = new Array[Double](dim)
          for (i <- mem) {
            var d = 0
            while (d < dim) { mean(d) += sorted(i).cv(d); d += 1 }
          }
          var d = 0
          while (d < dim) { mean(d) /= mem.size; d += 1 }
          (mean, math.sqrt(VectorKernels.dotOf(mean, mean)))
        }
      }
      assign = assignAll()
    }
    val groups = centers.indices.collect {
      case j if assign.contains(j) =>
        CentGroup(j.toLong, centers(j)._1, centers(j)._2)
    }
    val cid2gid =
      sorted.indices.map(i => sorted(i).cid -> assign(i).toLong).toMap
    (groups, cid2gid)
  }

  /** The (gcos DESC, gid ASC) probe ranking of the joined fallback; the
    * literal kernel ranks non-null cosines the same way, and the two paths'
    * bitwise equality is spec-pinned, so edit a tie-break in both. */
  private val byGcosDescGid: (Column, Column) => Column = (l, r) =>
    when(l.getField("gcos") > r.getField("gcos"), lit(-1))
      .when(l.getField("gcos") < r.getField("gcos"), lit(1))
      .when(l.getField("gid") < r.getField("gid"), lit(-1))
      .when(l.getField("gid") > r.getField("gid"), lit(1))
      .otherwise(lit(0))

  /** Two-level argmax-cosine cell id in ONE narrow projection: score the
    * coarse group centers, keep the top `nProbe` by (cos DESC, gid), and
    * take the argmax (cos DESC, cid) over those groups' members — one
    * [[graft.expressions.VectorKernels.argmaxCosine]] call per row, m +
    * nProbe·k/m dot products instead of k. With nProbe ≥ m the result is
    * IDENTICAL to [[cellFor]] (spec-pinned); below that it is the
    * deterministic two-level rule an oracle replays from the side-tables,
    * the standard IVF trade. */
  private[operators] def bucketedCellFor(v: Column, nrm: Column,
      groups: Seq[CentGroup], members: Map[Long, Seq[Cent]],
      nProbe: Int): Column = {
    val gs = groups.sortBy(_.gid)
    val set = new VectorSet(gs.map(_.gid).toArray, gs.map(_.gv.clone()).toArray,
      gs.map(_.gn).toArray,
      gs.map(g => centSet(members.getOrElse(g.gid, Seq.empty))).toArray)
    toCol(VectorCalls.argmaxCosine(toExpr(v), toExpr(nrm), set, nProbe))
  }

  /** Corpus with a `cell` column assigned through a CALLER-SUPPLIED group
    * structure — the hook that lets a gate dump the exact groups its plan
    * assigned with (same contract as [[knnIvfFrom]]'s caller-supplied
    * centroids). Below the literal budget this is one narrow projection
    * (no join, no shuffle); above it ([[assignCellsGroupedJoined]]) the
    * same two-level rule runs as broadcast joins with ONE id-keyed
    * corpus shuffle — both spellings are bitwise-equal (spec-pinned), so
    * the dispatch is an execution detail, never a semantic input. The
    * literal budget matters at real embedding widths: at dim 1024 the
    * 2^22-double cap holds only k ≈ 4000 centroids (~20 M rows per job
    * at cellSize 5000) — a 100 TB corpus lives on the joined path. */
  def assignCellsGrouped(corpus: DataFrame, cents: Seq[Cent],
      groups: Seq[CentGroup], cidToGid: Map[Long, Long],
      nProbe: Int = GroupProbes,
      literalLimit: Long = LiteralDoubleLimit): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val nDoubles = centDoubles(cents) +
      groups.iterator.map(_.gv.length.toLong).sum
    if (nDoubles <= literalLimit) {
      val byGid = cents.groupBy(c => cidToGid(c.cid))
      corpus.withColumn("cell",
        bucketedCellFor(col("v"), col("nrm"), groups, byGid, nProbe))
    } else assignCellsGroupedJoined(corpus, cents, groups, cidToGid, nProbe)
  }

  /** The two-level assignment for grouped centroid sets too large to
    * inline as a literal: broadcast the GROUP-CENTER table (m rows),
    * expand corpus × m, collapse to each row's top-`nProbe` probe list
    * with ONE id-keyed shuffle (map-side partial collect of m tiny
    * structs; the vector rides that single exchange), explode the probe
    * list (n·nProbe rows), equi-join the broadcast CENTROID table by gid
    * (n·nProbe·k/m scoring rows, never materialized past the map side),
    * and collapse back to one (id, cell) with a map-side `max_by` whose
    * (cos, −cid) key reproduces the literal kernel's smallest-cid
    * tie-break. Same rule, same arithmetic, same tie-breaks as
    * [[bucketedCellFor]] — bitwise equal output for corpora meeting the
    * `prepared()` contract this whole family assumes: ids UNIQUE and
    * NON-NULL (an id-keyed aggregate cannot assign two duplicate-id rows
    * independently the way a per-row projection can, and a NULL id never
    * matches the re-attach join). Rows whose probed groups carry no
    * members keep the literal kernel's degenerate cell = −1 via the LEFT
    * re-attach below rather than vanishing. */
  def assignCellsGroupedJoined(corpus: DataFrame, cents: Seq[Cent],
      groups: Seq[CentGroup], cidToGid: Map[Long, Long],
      nProbe: Int = GroupProbes): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    // empty centroid set: same degenerate contract as the literal kernel
    // (no candidate) — every row cell = -1
    if (groups.isEmpty || cents.isEmpty)
      return corpus.withColumn("cell", lit(-1L))
    val spark = corpus.sparkSession
    val gdf = spark.createDataFrame(
      groups.map(g => (g.gid, g.gv.toSeq, g.gn)))
      .toDF("gid", "gv", "gn")
    // (gcos, gid) is unique per id, so the sorted-then-sliced probe list
    // is partition-order invariant; under the unique-id precondition the
    // firsts are single-row and deterministic
    val probed = corpus.join(broadcast(gdf))
      .select(col("id"), col("v"), col("nrm"),
        struct(cosine(col("v"), col("nrm"), col("gv"), col("gn"))
          .as("gcos"), col("gid").as("gid")).as("gs"))
      .groupBy(col("id"))
      .agg(first(col("v")).as("v"), first(col("nrm")).as("nrm"),
        slice(array_sort(collect_list(col("gs")), byGcosDescGid),
          1, nProbe).as("probes"))
    val cands = probed.select(col("id"), col("v"), col("nrm"),
      explode(transform(col("probes"), p => p.getField("gid"))).as("gid"))
    val cdf = spark.createDataFrame(
      cents.map(c => (c.cid, cidToGid(c.cid), c.cv.toSeq, c.cnrm)))
      .toDF("cid", "cgid", "cv", "cnrm")
    val best = cands.join(broadcast(cdf), col("gid") === col("cgid"))
      .select(col("id"), col("cid"),
        cosine(col("v"), col("nrm"), col("cv"), col("cnrm")).as("cos"))
      .groupBy(col("id"))
      .agg(max_by(col("cid"), struct(col("cos"), -col("cid"))).as("cell"))
    // LEFT + coalesce: a row whose probed groups had no members (possible
    // only with caller-supplied degenerate groupings) keeps the literal
    // kernel's cell = -1 instead of silently vanishing from the corpus
    corpus.join(best.withColumnRenamed("cell", "__cell"), Seq("id"), "left")
      .withColumn("cell", coalesce(col("__cell"), lit(-1L)))
      .drop("__cell")
  }

  /** Bucketed cell assignment with groups derived on the spot
    * ([[groupCentroids]] at [[centroidGroupCount]] groups): the n·k flat
    * argmax becomes n·O(√k) — the term that made auto-k SemDeDup's
    * assignment quadratic in n (k ∝ n at constant cell size; the sf1
    * probe measured the flat argmax at ×4.6 wall per 10× data at the demo
    * cell size). Use [[assignCellsGrouped]] when the caller needs the
    * group structure itself (oracle side-tables). */
  def assignCellsBucketed(corpus: DataFrame, cents: Seq[Cent],
      nProbe: Int = GroupProbes, numGroups: Int = 0): DataFrame = {
    if (cents.isEmpty)
      return corpus.withColumn("cell", lit(-1L))
    // counted AFTER the empty-centroids early return: the counter's
    // contract (SimilaritySpec's exact-delta assertion) is "one increment
    // per bucketed assignment that actually ran", and a no-op invocation
    // counting would make that delta lie
    bucketedAssignCalls.incrementAndGet(): Unit
    val m = if (numGroups > 0) numGroups else centroidGroupCount(cents.size)
    val (groups, cid2gid) = groupCentroids(cents, m)
    assignCellsGrouped(corpus, cents, groups, cid2gid, nProbe)
  }

  /** Argmax-cosine cell id (ties to the smallest cid, −1 without a
    * non-null cosine) as ONE narrow projection: the two-level kernel with
    * every centroid in one group at full probe. No row multiplication, no
    * shuffle — the corpus never moves for assignment. */
  private[operators] def cellFor(v: Column, nrm: Column,
      cents: Seq[Cent]): Column = {
    val nDoubles = centDoubles(cents)
    require(nDoubles <= LiteralDoubleLimit,
      s"centroid set too large for a plan-side literal ($nDoubles doubles > " +
        s"2^22); use assignCellsJoined / knnIvfFrom, which dispatch to the " +
        s"broadcast-join cell assignment past this limit")
    bucketedCellFor(v, nrm, Seq(CentGroup(0L, Array.emptyDoubleArray, 0.0)),
      Map(0L -> cents), 1)
  }

  /** IVF-style ANN: partition the corpus into cells by nearest centroid,
    * probe only the query's cell. Centroid selection for the ORACLE gate is
    * the deterministic "first n ids" seed (cross-engine reproducible);
    * production recall uses [[kmeansCentroids]] via [[knnIvfLearned]] — the
    * cell-assign/probe machinery is identical. The seed-centroid collect is
    * bounded at numCentroids rows. */
  def knnIvf(emb: DataFrame, vecCol: String, idCol: String,
      queryIds: Seq[Long], k: Int, numCentroids: Int,
      nProbe: Int = 1): DataFrame = {
    val corpus = prepared(emb, vecCol, idCol)
    val cents = corpus.filter(col("id") < numCentroids)
      .collect()
      .map(r => Cent(r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .toSeq
    knnIvfFrom(corpus, cents, queryIds, k, nProbe)
  }

  /** IVF ANN with centroids LEARNED by deterministic k-means||
    * ([[kmeansCentroids]]) instead of the seed heuristic — the production
    * recall path. The corpus is cached only for the multi-pass Lloyd loop
    * and released before the (single-pass) scoring plan is returned. */
  def knnIvfLearned(emb: DataFrame, vecCol: String, idCol: String,
      queryIds: Seq[Long], k: Int, numCentroids: Int,
      lloydIters: Int = 3, nProbe: Int = 1): DataFrame = {
    val corpus = prepared(emb, vecCol, idCol)
    val cents = OpCaches.withPersisted(corpus)(
      kmeansDriver(_, numCentroids, lloydIters))
    knnIvfFrom(corpus, cents, queryIds, k, nProbe)
  }

  /** Learned k-means|| centroids as a driver-side Seq — the hook for
    * callers that need the SAME centroid set both for scoring and for an
    * external dump (e.g. the oracle side-table in q_sim_knn_ivf_learned). */
  def kmeansCentroidsSeq(corpus: DataFrame, k: Int,
      lloydIters: Int): Seq[Cent] = kmeansDriver(corpus, k, lloydIters)

  /** [[kmeansCentroidsSeq]] with the Lloyd assignment forced to the flat
    * n·k argmax regardless of k — a probe hook only, so Sf1Probe can
    * measure the flat-vs-bucketed Lloyd term side by side at a
    * production-scale k instead of trusting the complexity argument. */
  private[graft] def kmeansCentroidsSeqFlat(corpus: DataFrame, k: Int,
      lloydIters: Int): Seq[Cent] =
    kmeansDriver(corpus, k, lloydIters, Some(assignCells(_, _)))

  /** Top-`p` cids by (cosine desc, cid asc), a null cosine last as in the
    * joined path's window — the nProbe probe list, one
    * [[graft.expressions.VectorKernels.topCosine]] call per query row. */
  private[operators] def cellsFor(v: Column, nrm: Column, cents: Seq[Cent],
      p: Int): Column =
    toCol(VectorCalls.topCosine(toExpr(v), toExpr(nrm), centSet(cents), p))

  /** Shared IVF machinery: assign every corpus row to its max-cosine
    * centroid cell ([[assignCells]] — narrow literal kernel below
    * `literalLimit` total centroid doubles, broadcast-join fallback above),
    * then score queries against their `nProbe` nearest cells. The probe
    * expansion happens on the TINY broadcast query side — the corpus never
    * multiplies, and only reshuffles on the join-backed fallback; nProbe =
    * |cents| probes every cell (exact search, the recall upper bound
    * SimilaritySpec pins). */
  def knnIvfFrom(corpus: DataFrame, cents: Seq[Cent],
      queryIds: Seq[Long], k: Int, nProbe: Int = 1,
      literalLimit: Long = LiteralDoubleLimit): DataFrame = {
    // empty corpus → empty centroid set → empty result
    if (cents.isEmpty)
      return corpus.select(col("id").as("query_id"),
        col("id").as("neighbor_id"), lit(0.0).as("cosine")).limit(0)
    require(nProbe >= 1 && nProbe <= cents.size, "nProbe in [1, |cents|]")
    val literal = centDoubles(cents) <= literalLimit
    val assigned = assignCells(corpus, cents, literalLimit)
    val qrows = assigned.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val queries =
      if (literal)
        qrows.withColumn("qcell",
          explode(cellsFor(col("qv"), col("qn"), cents, nProbe)))
      else {
        // probe list via the same broadcast centroid table: rank cells per
        // query by (cos desc, cid) — identical ordering to cellsFor's
        // kernel (DESC puts a null cosine last) — and keep the top nProbe
        val qscored = qrows.join(broadcast(centsDf(corpus, cents)))
          .select(col("query_id"), col("qv"), col("qn"), col("cid"),
            cosine(col("qv"), col("qn"), col("cv"), col("cnrm")).as("cos"))
        val qw = Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("cid"))
        qscored.withColumn("rk", row_number().over(qw))
          .filter(col("rk") <= nProbe)
          .select(col("query_id"), col("qv"), col("qn"),
            col("cid").as("qcell"))
      }
    val scored = assigned.join(broadcast(queries),
        col("cell") === col("qcell") && col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .drop("rn")
  }

  /** Deterministic k-means|| centroid learning (Bahmani et al., VLDB'12
    * shape, RNG-free):
    *   1. OVERSAMPLE distributedly: the 2k corpus rows with the smallest
    *      xxhash64(id) — a uniform pseudo-random sample, reproducible
    *      across runs/partitionings.
    *   2. REDUCE on the driver: greedy farthest-point traversal (k-center
    *      init) over the tiny candidate set — deterministic stand-in for
    *      the weighted k-means++ reduction; only 2k·dim doubles ever reach
    *      the driver.
    *   3. LLOYD rounds distributedly: broadcast centroids, assign by max
    *      cosine, recompute cell means via a posexplode + per-(cell,dim)
    *      avg — two narrow shuffles per round, corpus never collected.
    * Returns (cid, cv, cnrm) ready for [[knnIvfFrom]]. */
  def kmeansCentroids(corpus: DataFrame, k: Int, lloydIters: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    kmeansDriver(corpus, k, lloydIters)
      .map(c => (c.cid, c.cv.toSeq, c.cnrm))
      .toDF("cid", "cv", "cnrm")
  }

  /** k threshold above which the Lloyd rounds default to the bucketed
    * two-level assignment: per-row cost is ~4√k dot products vs the flat
    * argmax's k, so the crossover where the two-level dispatch pays for
    * itself is k ≈ 16 (4√16 = 16); 64 leaves margin for the grouping and
    * probe-sort overhead (at k = 64 bucketed does ~32 dots vs 64 flat,
    * at k = 4096 ~256 vs 4096). Every oracle gate trains at k below
    * this, so gate centroids are bitwise unchanged; production k
    * (thousands of cells at constant cell size) stops paying the n·k
    * Lloyd term the r15 round killed for SemDeDup's final pass —
    * `knnIvfLearned` was the remaining flat-by-default caller
    * (r15 verdict item 2). Below full probe the bucketed argmax is the
    * deterministic two-level rule, not the exact argmax — the same trade
    * [[semDedupAuto]] documents, and the full-probe exactness sweep in
    * SimilaritySpec pins where they coincide. */
  private[graft] val LloydBucketedMinK = 64

  /** Invocations of [[assignCellsBucketed]] — the observability counter
    * that lets a spec (and the k ≥ [[LloydBucketedMinK]] oracle gate's
    * definition-of-done) PROVE a training run's Lloyd rounds dispatched
    * to the bucketed two-level rule rather than trusting the dispatch
    * expression: snapshot, train, assert the delta equals the Lloyd
    * round count. Monotonic; never reset. */
  private[graft] val bucketedAssignCalls =
    new java.util.concurrent.atomic.AtomicLong(0)

  private def kmeansDriver(corpus: DataFrame, k: Int, lloydIters: Int,
      assignFn: Option[(DataFrame, Seq[Cent]) => DataFrame] = None)
      : Seq[Cent] = {
    val assign: (DataFrame, Seq[Cent]) => DataFrame =
      assignFn.getOrElse(
        if (k >= LloydBucketedMinK) assignCellsBucketed(_, _)
        else assignCells(_, _))
    // 1. oversample (distributed top-2k by hash — TakeOrdered, no full sort)
    val cand = corpus.select(col("id"), col("v"), col("nrm"))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(2 * k)
      .collect()
      .map(r => (r.getSeq[Double](1).toArray, r.getDouble(2)))
    // empty corpus → empty centroid set (knnIvfFrom short-circuits to an
    // empty result) — layout/empty-input invariance over throwing
    if (cand.isEmpty) return Seq.empty
    // 2. greedy k-center on the driver (cosine distance), starting from the
    // first candidate (the smallest xxhash64(id)); maxBy keeps the first of
    // equally far candidates
    def cos(a: (Array[Double], Double), b: (Array[Double], Double)): Double =
      VectorKernels.dotOf(b._1, a._1) / (a._2 * b._2)
    val picked = scala.collection.mutable.ArrayBuffer(cand.head)
    while (picked.length < math.min(k, cand.length)) {
      val next = cand.maxBy(c => -picked.map(p => cos(c, p)).max) // farthest
      picked += next
    }
    var cents: Seq[Cent] = picked.zipWithIndex.map { case ((v, n), i) =>
      Cent(i.toLong, v, n)
    }.toSeq
    // 3. Lloyd rounds: narrow argmax assignment (flat literal kernel below
    // LloydBucketedMinK, the n·O(√k) bucketed two-level rule above — see
    // `assign`; no join, no window on the literal paths), then a
    // per-(cell,dim) mean via a two-stage reduce. Each round collects only
    // the k·dim new centroid components; the plan restarts from `corpus`
    // every round, so there is no growing lineage to checkpoint.
    for (_ <- 1 to lloydIters) {
      // ONE aggregate per round: the k·dim (cell, pos, mean) rows collect
      // directly and assemble into vectors on the driver — the r18 spelling
      // paid a second shuffle (groupBy(cell).collect_list) per round just
      // to do that assembly distributed, on ≤ k·dim rows (guide §2.4:
      // remove shuffles outright). The avg() values are bit-identical —
      // same partial/final aggregate, only the assembly moved.
      cents = assign(corpus, cents)
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos")).agg(avg(col("x")).as("x"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1)
        .map { case (cid, rows) =>
          // Quantize each mean to a 1e-9 grid: the distributed avg() sums
          // partials in partition order, so raw means carry ulp-level noise
          // that varies with input partitioning — harmless numerically, but
          // it would make the learned centroids (and any assignment within
          // an ulp of a cell boundary) layout-SENSITIVE. Snapping to a grid
          // far coarser than the noise (~1e-16 rel) and far finer than the
          // data restores the invariant the layout matrix pins: partition
          // count is an execution detail, never a semantic input.
          val cv = rows.sortBy(_._2).map(_._3).toArray
            .map(x => math.rint(x * 1e9) / 1e9)
          Cent(cid, cv, math.sqrt(cv.map(x => x * x).sum))
        }.toSeq.sortBy(_.cid)
    }
    cents
  }

  /** All XOR masks over `numPlanes` bit positions with popcount ≤ `radius`,
    * ascending — the probe set of multi-probe LSH (Lv et al. 2007,
    * "Multi-Probe LSH"): probing every bucket within Hamming distance r of
    * the query's bucket recovers neighbors that fall just across r
    * hyperplanes, the dominant recall loss of single-bucket SRP-LSH.
    * |masks| = Σ_{i≤r} C(numPlanes, i) — e.g. 37 for (8, 2). */
  def probeMasks(numPlanes: Int, radius: Int): Seq[Long] = {
    require(radius >= 0 && radius <= numPlanes, "probes in [0, numPlanes]")
    require(numPlanes >= 0 && numPlanes <= 63,
      s"numPlanes $numPlanes outside [0, 63]: bucket bits live in one Long")
    // combinatorial generation — Σ_{i≤r} C(numPlanes, i) masks, NOT a
    // 2^numPlanes range scan (which would hang past ~28 planes and
    // silently misbehave at 63/64 where 1L << n wraps)
    def choose(from: Int, left: Int, acc: Long): Seq[Long] =
      if (left == 0) Seq(acc)
      else (from until numPlanes).flatMap(p =>
        choose(p + 1, left - 1, acc | (1L << p)))
    (0 to radius).flatMap(r => choose(0, r, 0L)).distinct.sorted
  }

  /** ANN top-k via LSH bucket pruning: candidates sharing the query's
    * bucket — or, with `probes` = r > 0, any bucket within Hamming distance
    * r (full multi-probe, see [[probeMasks]]). The probe expansion happens
    * on the tiny broadcast query side — |queries|·Σ C(planes, ≤r) rows —
    * while the corpus still joins by bucket EQUALITY, so the plan stays a
    * broadcast hash join over one narrow corpus scan at any radius. */
  def knnLsh(emb: DataFrame, vecCol: String, idCol: String,
      queryIds: Seq[Long], k: Int, numPlanes: Int, dim: Int,
      probes: Int = 0): DataFrame = {
    val masks = probeMasks(numPlanes, probes)
    val ps = planes(numPlanes, dim)
    val corpus = withBuckets(prepared(emb, vecCol, idCol), ps)
    val probeBuckets =
      array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)
    val queries = corpus.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), explode(probeBuckets).as("qbucket"))
    val scored = corpus.join(broadcast(queries),
        col("bucket") === col("qbucket") && col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cosine"))
    // no dedup needed: a corpus row has ONE bucket and the probe set per
    // query is distinct values, so each (query, neighbor) matches once
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .drop("rn")
  }

  /** ANN top-k via the multi-TABLE LSH OR-construction (Indyk–Motwani /
    * Gionis et al. 1999): `numTables` independent hash tables of
    * `bitsPerTable` hyperplanes each; a corpus row is a candidate if it
    * shares the query's bucket in ANY table. AND within a table sharpens
    * precision (P^b), OR across tables repairs recall (1−(1−P^b)^L) — the
    * standard shape when single-table collision probability is low (weakly
    * clustered corpora, where nearest-neighbor angles approach random).
    *
    * Scale shape: the per-table buckets are narrow literal kernels over ONE
    * corpus scan; the (table, bucket) index explodes corpus ×L as a
    * streamed projection feeding a broadcast hash join with the probe set
    * (never materialized, never shuffled). Only the matched candidate rows
    * — (query_id, neighbor_id, cosine) longs+double — reach the dedup
    * aggregate, whose shuffle is bounded by the candidate count, not the
    * corpus. */
  def knnLshTables(emb: DataFrame, vecCol: String, idCol: String,
      queryIds: Seq[Long], k: Int, numTables: Int, bitsPerTable: Int,
      dim: Int): DataFrame = {
    require(numTables >= 1 && bitsPerTable >= 1,
      "numTables and bitsPerTable must be >= 1")
    val all = planes(numTables * bitsPerTable, dim)
    val corpus = prepared(emb, vecCol, idCol)
    def tablePlanes(t: Int) = all.slice(t * bitsPerTable, (t + 1) * bitsPerTable)
    val buckets = array((0 until numTables)
      .map(t => lshBucket(col("v"), tablePlanes(t))): _*)
    val indexed = corpus.select(col("id"), col("v"), col("nrm"),
      posexplode(buckets).as(Seq("t", "b")))
    val queries = indexed.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("t").as("qt"), col("b").as("qb"))
    val scored = indexed.join(broadcast(queries),
        col("t") === col("qt") && col("b") === col("qb") &&
          col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cosine"))
    // a pair can match in several tables; collapse before ranking (cosine
    // is identical across duplicates, max is just the dedup spelling)
    val dedup = scored.groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cosine")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    dedup.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .drop("rn")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by clustering embeddings with k-means and connecting
    * within-cluster pairs whose cosine clears `threshold`; each connected
    * component keeps its min-id row. Emits one decision record per input
    * row: (id, cell, keeper, keep) — rows with no near-duplicate are their
    * own keeper.
    *
    * Scale shape: clustering bounds the pairwise kernel to |cell|² per
    * cell instead of n² — at corpus scale k grows ∝ n so cells stay
    * constant-size, and the only vector-carrying shuffle is the ONE
    * hash-partition by cell feeding the self-join (cell assignment itself
    * is a narrow literal kernel, [[assignCells]]). Everything after the
    * cosine filter moves (id, id) longs only. Cells come from the caller
    * ([[kmeansCentroidsSeq]] for learned, or any Cent seq) so a gate can
    * hand the exact centroid table to a cross-engine oracle.
    *
    * MEASURED (BENCH_sf1_probe.json): with k held FIXED at 8 while the
    * corpus grows 10×, wall grows 8.8× — the intra-cell verify is the
    * super-linear term exactly as this scaling argument predicts. Size k
    * for a constant target cell size (k ≈ n / 5000) and the verify term
    * is linear. k here is the caller's knob so a gate can pin the exact
    * centroid table for the DuckDB replay — production callers should go
    * through [[semDedupAuto]], which derives k from the corpus count and
    * cannot be handed the fixed-k scale trap. */
  def semDedupDecisions(corpus: DataFrame, cents: Seq[Cent],
      threshold: Double): DataFrame =
    semDedupFrom(assignCells(corpus, cents), threshold)

  /** SemDeDup pair kernel + component fold over an already-assigned
    * corpus — shared by the flat ([[semDedupDecisions]]) and bucketed
    * ([[semDedupAuto]]) assignment paths. */
  private def semDedupFrom(assignedIn: DataFrame,
      threshold: Double): DataFrame =
    OpCaches.withPersisted(assignedIn) { assigned =>
      val pairs = assigned.as("a").join(assigned.as("b"),
          col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
        .filter(cosine(col("a.v"), col("a.nrm"), col("b.v"), col("b.nrm"))
          >= threshold)
        .select(col("a.id").as("id1"), col("b.id").as("id2"))
      val groups = Dedup.dupGroups(pairs)
        .withColumnRenamed("keeper", "grp_keeper")
      assigned.select(col("id"), col("cell"))
        .join(groups, Seq("id"), "left")
        .select(col("id"), col("cell"),
          coalesce(col("grp_keeper"), col("id")).as("keeper"),
          (coalesce(col("grp_keeper"), col("id")) === col("id")).as("keep"))
    }

  /** Matryoshka / adaptive retrieval (Kusupati et al. 2022, "Matryoshka
    * Representation Learning" §4.3 shape): the full corpus scan scores
    * only a PREFIX of the embedding dimensions (MRL models front-load
    * information, so the first d′ dims are themselves a valid embedding),
    * keeps a per-query shortlist by prefix cosine, and re-ranks just the
    * shortlist with the exact full-dimension cosine. The scan does
    * prefixDim/dim of the FLOPs and — in a production layout where the
    * prefix is stored as its own compact column — reads prefixDim/dim of
    * the bytes (MEASURED, not prose: MatryoshkaLayoutSpec builds the
    * two-column layout and pins from the parquet column-chunk sizes that
    * the 32-of-64 phase-1 read is < 60% of the full bytes, with the
    * suffix chunks provably absent from the pruned scan's read schema);
    * only shortlist·|queries| full vectors are ever fetched
    * (by id-join, broadcast candidates), so the expensive column never
    * rides a shuffle. Both phases are the same deterministic left-fold
    * cosine the oracle replays bitwise.
    *
    * Scale shape: identical to [[knnBrute]]'s broadcast-queries narrow
    * scan, at a fraction of the arithmetic; shortlist should grow with k
    * (a small multiple), NOT with the corpus — that is the operating-
    * point difference from [[graft.operators.Pq.rerankBreadth]], where
    * the coarse ADC ordering needs a corpus-fraction repair. */
  def knnTruncated(emb: DataFrame, vecCol: String, idCol: String,
      queryIds: Seq[Long], k: Int, prefixDim: Int,
      shortlist: Int): DataFrame = {
    require(prefixDim >= 1, s"prefixDim must be >= 1, got $prefixDim")
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val corpus = prepared(emb, vecCol, idCol)
      .withColumn("pv", slice(col("v"), 1, prefixDim))
      .withColumn("pn", norm(col("pv")))
    val queries = corpus.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("pv").as("qpv"),
        col("pn").as("qpn"))
    val scored = corpus.join(broadcast(queries), col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        cosine(col("qpv"), col("qpn"), col("pv"), col("pn")).as("pcos"))
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("neighbor_id"))
    val cand = scored.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val nb = prepared(emb, vecCol, idCol)
      .select(col("id").as("neighbor_id"), col("v").as("nv"),
        col("nrm").as("nn"))
    val qv = prepared(emb, vecCol, idCol)
      .filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val exact = cand.join(nb, "neighbor_id").join(broadcast(qv), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("qn"), col("nv"), col("nn")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    exact.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .drop("rn")
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two per-query
    * shortlists — the standard hybrid-retrieval combiner (lexical ∪
    * vector): fused score = Σ_lists 1/(rrfK + rank), summed over the
    * lists that contain the candidate (a candidate missing from one list
    * contributes only the other term). RANKS are the exchange currency —
    * integer, engine-exact — so the fused double is the same two IEEE
    * divisions and one add in any engine, and the gate can hash-match
    * where raw-score fusion (ln-based BM25 doubles) never could. Inputs:
    * (query_id, id, rank) with rank unique per query within each list.
    *
    * Scale shape: both inputs are already per-query shortlists (top-L),
    * so the full-outer fuse join moves |queries|·L rank tuples — never a
    * corpus. */
  def rrfFuse(ranksA: DataFrame, ranksB: DataFrame, k: Int,
      rrfK: Int = 60): DataFrame = {
    require(k >= 1 && rrfK >= 0, s"need k >= 1, rrfK >= 0; got $k, $rrfK")
    val a = ranksA.select(col("query_id"), col("id"), col("rank").as("ra"))
    val b = ranksB.select(col("query_id"), col("id"), col("rank").as("rb"))
    val fused = a.join(b, Seq("query_id", "id"), "full_outer")
      .select(col("query_id"), col("id"), col("ra"), col("rb"),
        (coalesce(lit(1.0) / (lit(rrfK.toDouble) + col("ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK.toDouble) + col("rb")), lit(0.0)))
          .as("rrf"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("id"))
    fused.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .drop("rn")
  }

  /** Scale-safe cell count for SemDeDup: k = ⌈n / targetCellSize⌉ (min 1).
    * At a constant cell size the intra-cell pair kernel is Σ|cell|² ≈
    * n·targetCellSize — LINEAR in n — whereas any fixed k makes it n²/k
    * (measured 22.3× wall at 10× data in BENCH_sf1_probe.json when k was
    * pinned at the gate's 8). */
  def semDedupAutoK(n: Long, targetCellSize: Long = 5000L): Int = {
    require(targetCellSize >= 1,
      s"targetCellSize must be >= 1, got $targetCellSize")
    math.min(math.max(1L, (n + targetCellSize - 1L) / targetCellSize),
      Int.MaxValue.toLong).toInt
  }

  /** Everything a caller needs to replay [[semDedupAuto]]'s decisions
    * externally: the learned fine centroids, their coarse grouping
    * (cid → gid plus the group centers), the probe width, and the
    * decision frame itself. A cross-engine oracle re-derives the SAME
    * two-level assignment from the (cid, cv, cnrm, gid) and (gid, gv, gn)
    * tables — rank groups by (cos DESC, gid), argmax (cos DESC, cid) over
    * the top-nProbe groups' members. */
  final case class SemDedupAutoModel(cents: Seq[Cent],
      cidToGid: Map[Long, Long], groups: Seq[CentGroup], nProbe: Int,
      decisions: DataFrame)

  /** SemDeDup with the scale-safe defaults: ONE corpus count sizes
    * k = [[semDedupAutoK]], k-means|| learns that many centroids, and the
    * pair kernel runs over a BUCKETED cell assignment. Returns the full
    * [[SemDedupAutoModel]] so callers that replay the decision externally
    * (oracle side-tables, incremental re-runs) use the exact cluster AND
    * group sets that produced it.
    *
    * Cost anatomy under auto-k: the intra-cell PAIR kernel is linear
    * (Σ|cell|² ≈ n·targetCellSize). Cell ASSIGNMENT — both the Lloyd
    * rounds inside training and the final pass — goes through
    * [[assignCellsBucketed]], so each pass is n·O(√k) dot products
    * instead of the flat argmax's n·k = n²/targetCellSize (the term the
    * sf1 probe measured at ×4.6 wall per 10× data at the demo cell size
    * when assignment was flat). Every term is now linear or O(n^1.5 /
    * √targetCellSize), and the √k term has a ~35× advantage over flat at
    * the 100 M-row/5000-cell operating point. */
  def semDedupAuto(corpus: DataFrame, threshold: Double,
      targetCellSize: Long = 5000L,
      lloydIters: Int = 2): SemDedupAutoModel =
    OpCaches.withPersisted(corpus) { corpus =>
      val k = semDedupAutoK(corpus.count(), targetCellSize)
      val cents = kmeansDriver(corpus, k, lloydIters,
        Some(assignCellsBucketed(_, _)))
      val (groups, cid2gid) = groupCentroids(cents,
        centroidGroupCount(cents.size))
      val assigned = assignCellsGrouped(corpus, cents, groups, cid2gid,
        GroupProbes)
      SemDedupAutoModel(cents, cid2gid, groups, GroupProbes,
        semDedupFrom(assigned, threshold))
    }
}
