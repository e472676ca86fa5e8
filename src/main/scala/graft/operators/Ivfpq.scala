package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-PQ composite ANN (Jégou et al. 2011 §IV "searching with an inverted
  * file"; the faiss `IVFPQ` index): coarse-quantize every vector to its
  * nearest-centroid cell, PRODUCT-quantize the RESIDUAL (vector − cell
  * centroid), and at query time probe only the `nProbe` nearest cells,
  * scoring candidates by ADC over residual codes — then repair recall by
  * exact re-ranking of the top ADC candidates. The two pruning axes
  * compose: IVF prunes WHICH rows are scored (probed cells only), PQ
  * compresses WHAT is scored (m byte codes instead of dim doubles) — at
  * 100 TB of embeddings this is the standard production operating point:
  * neither the full-corpus ADC scan of plain PQ nor the full-vector
  * distances of plain IVF.
  *
  * Geometry: everything runs on UNIT vectors (v/‖v‖), so squared L2 is
  * 2 − 2·cosine — monotone in cosine — and the ADC ranking approximates
  * the cosine ranking the exact re-rank finishes. Residuals are computed
  * against UNIT centroids; ADC is exact for the residual pair
  * ‖(q̂−c) − (x̂−c)‖² = ‖q̂−x̂‖², so the only approximation is the PQ
  * codebook itself (plus the cell pruning).
  *
  * Plan shape: cell assignment and residual encoding are ONE narrow
  * literal-kernel projection over the corpus scan (no join, no shuffle);
  * probe expansion and per-(query, cell) ADC tables live on the broadcast
  * query side; the candidate join is an equi-join on `cell`; only
  * (id, cell, codes) rows ever meet it. The exact re-rank fetches
  * rerank·|queries| full vectors by id-join. Training = one bounded
  * oversample collect + Lloyd rounds whose shuffles carry scalars
  * (see [[Similarity.kmeansCentroidsSeq]], [[Pq.trainCodebooks]]).
  *
  * Everything is deterministic (hash-seeded sampling, quantized means,
  * strict-< folds, ascending-id tie-breaks) — reproducible across runs,
  * partitionings, and engines.
  */
object Ivfpq {

  /** Unit-normalized vector (guarding the zero vector, which `prepared`
    * corpora can contain; its residual is −centroid, still well-defined). */
  private def unit(v: Column, nrm: Column): Column =
    when(nrm > 0.0, transform(v, x => x / nrm)).otherwise(v)

  /** Train coarse centroids + residual codebooks. Returns
    * (cells sorted by cid, codebooks); both empty iff the corpus is. */
  def train(corpus: DataFrame, nCells: Int, m: Int, kSub: Int,
      lloydIters: Int): (Seq[Similarity.Cent], Seq[Seq[Array[Double]]]) = {
    val cents = Similarity.kmeansCentroidsSeq(corpus, nCells, lloydIters)
    if (cents.isEmpty) return (cents, Seq.empty)
    val res = residuals(corpus, cents).select(col("id"), col("rv").as("v"))
    (cents, Pq.trainCodebooks(res, m, kSub, lloydIters))
  }

  /** Unit centroids as a DENSE cid-indexed table (position cid+1):
    * Lloyd rounds may drop a cell that loses all members, leaving the cid
    * set sparse within 0..k−1 — a positional lookup over the sorted
    * SURVIVORS would then silently mis-index. Holes get a zero vector no
    * row can reference (no assignment targets a dropped cid). */
  private def cuDense(cents: Seq[Similarity.Cent]): Column = {
    val byCid = cents.map(c => c.cid ->
      c.cv.map(x => if (c.cnrm > 0.0) x / c.cnrm else x).toSeq).toMap
    val dim = cents.head.cv.length
    val dense = (0L to cents.map(_.cid).max).map(i =>
      byCid.getOrElse(i, Seq.fill(dim)(0.0)))
    typedLit(dense).cast("array<array<double>>")
  }

  /** Corpus rows with `cell` (max-cosine centroid) and `rv` (unit-vector
    * residual against the UNIT centroid of that cell) — one narrow
    * projection, centroids inlined as a literal. */
  private def residuals(corpus: DataFrame,
      cents: Seq[Similarity.Cent]): DataFrame = {
    val sorted = cents.sortBy(_.cid)
    val cuLit = cuDense(sorted)
    Similarity.assignCells(corpus, sorted)
      .withColumn("__u", unit(col("v"), col("nrm")))
      .withColumn("rv", zip_with(col("__u"),
        element_at(cuLit, col("cell").cast("int") + 1), (a, b) => a - b))
      .drop("__u")
  }

  /** IVF-PQ top-k for the query ids, exact-cosine re-ranked. `rerank` must
    * be ≥ k; the pure-ADC ranking is internal (candidate generation), the
    * emitted score is exact cosine — the production configuration, and the
    * only honest one for a composed approximation this aggressive. */
  def knnIvfPqFrom(corpus: DataFrame, cents: Seq[Similarity.Cent],
      cbs: Seq[Seq[Array[Double]]], queryIds: Seq[Long], k: Int,
      nProbe: Int, rerank: Int): DataFrame = {
    require(rerank >= k, "rerank must be >= k")
    if (cents.isEmpty || cbs.isEmpty)
      return corpus.select(col("id").as("query_id"),
        col("id").as("neighbor_id"), lit(0.0).as("cosine")).limit(0)
    require(nProbe >= 1 && nProbe <= cents.size, "nProbe in [1, |cells|]")
    val sorted = cents.sortBy(_.cid)
    val coded = residuals(corpus, sorted)
      .select(col("id"), col("cell"), Pq.codesFor(col("rv"), cbs).as("codes"))
    val cuLit = cuDense(sorted)
    // ONE query-row projection feeds both the probe/ADC-table side and
    // the exact re-rank join below — two verbatim filter+select copies
    // would each re-scan the corpus lineage (recomputing norms when the
    // caller did not persist)
    val qrows = corpus.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    // broadcast side: per query, the nProbe nearest cells — ranked by the
    // SAME raw-vector cosine expression the corpus assignment folds, so
    // probe and assignment can never disagree in an ulp — each probe with
    // its own residual ADC table (the residual depends on the probed cell)
    val queries = qrows
      .withColumn("qu", unit(col("qv"), col("qn")))
      .withColumn("qcell",
        explode(Similarity.cellsFor(col("qv"), col("qn"), sorted, nProbe)))
      .withColumn("qtab", Pq.qtabFor(
        zip_with(col("qu"),
          element_at(cuLit, col("qcell").cast("int") + 1), (a, b) => a - b),
        cbs))
      .select(col("query_id"), col("qcell"), col("qtab"))
    val adc = coded.join(broadcast(queries),
        col("cell") === col("qcell") && col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        aggregate(
          zip_with(col("codes"), col("qtab"),
            (c, tab) => element_at(tab, c + 1)),
          lit(0.0), (acc, x) => acc + x).as("adc_dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id"))
    val cand = adc.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= rerank).drop("rn", "adc_dist")
    val nb = corpus.select(col("id").as("neighbor_id"),
      col("v").as("nv"), col("nrm").as("nn"))
    val exact = cand.join(nb, "neighbor_id")
      .join(broadcast(qrows), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("qv"), col("qn"), col("nv"), col("nn"))
          .as("cosine"))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    exact.withColumn("rn", row_number().over(w2)).filter(col("rn") <= k)
      .drop("rn")
  }

  /** Train-and-search entry (the recall panel's hook; training is
    * deterministic, so panel and oracle gate score identical indexes).
    *
    * The prepared corpus stays persisted THROUGH the search: the returned
    * plan scans it three times (residual coding, query-row fetch, exact
    * re-rank fetch), so unpersisting right after training — the r12
    * spelling, mirroring the pqTrainOnly gate idiom — re-derived the
    * prepared/norm lineage on every scan. The search plan is consumed
    * eagerly here (the result is a k·|queries|-row TakeOrdered-sized
    * frame, localCheckpointed) so the cache can be released before
    * returning — callers get a small materialized frame, not a lazy plan
    * over an unpersisted cache. */
  def knnIvfPq(emb: DataFrame, vecCol: String, idCol: String,
      queryIds: Seq[Long], k: Int, nCells: Int, m: Int, kSub: Int,
      nProbe: Int, rerank: Int, lloydIters: Int = 3): DataFrame = {
    OpCaches.withPersisted(Similarity.prepared(emb, vecCol, idCol)) {
      corpus =>
        val (cents, cbs) = train(corpus, nCells, m, kSub, lloydIters)
        knnIvfPqFrom(corpus, cents, cbs, queryIds, k, nProbe, rerank)
          .localCheckpoint(true)
    }
  }
}
