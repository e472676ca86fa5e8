package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._
import graft.expressions.{toCol, toExpr, ShingleGrams, StringCalls, VectorKernels}
import graft.expressions.TextExpressions.polyHash

/** Shared primitives for the LLM-training-data pipeline operators (dedup,
  * text analysis, similarity). Everything is a pure narrow Column expression
  * over arrays — whole-stage codegen'd, no UDFs, no driver-side state — so
  * the operators scale linearly with partitions on a real cluster.
  *
  * Cross-engine determinism: hashes are [[graft.expressions.StringKernels.polyHash]]
  * (mod 1e9+7), folds are sequential left-folds, and every constant below is
  * shared with the generated DuckDB oracle SQL.
  */
object TextOps {

  val PolyMod = 1000000007L

  /** MinHash affine family h_j(x) = (A(j)·x + B(j)) mod P — 16 functions,
    * 4 bands × 4 rows (standard LSH banding for τ ≈ 0.5-0.8). */
  val HashA: Seq[Long] = Seq(3L, 5L, 7L, 11L, 13L, 17L, 19L, 23L,
    29L, 31L, 37L, 41L, 43L, 47L, 53L, 59L)
  val HashB: Seq[Long] = Seq(17L, 29L, 41L, 53L, 67L, 79L, 97L, 103L,
    113L, 127L, 137L, 149L, 157L, 167L, 179L, 191L)
  val NumBands = 4
  val RowsPerBand = 4

  /** Whitespace tokens (documents are single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** The polyHash of every whitespace token, in order (one
    * [[graft.expressions.StringKernels.tokenHashes]] call per row). */
  def tokenHashes(text: Column): Column =
    toCol(StringCalls.tokenHashes(toExpr(text)))

  /** All k-shingle hashes IN ORDER (with multiplicity): each token is
    * polyHash'd once, then a shingle hash is the left fold
    * h = (h·31 + tokHash) mod P over its k token hashes, so no gram string
    * is materialized — two kernel calls per row ([[tokenHashes]], then
    * [[ShingleGrams]]). Fewer than k tokens gives no grams. */
  def shingleHashesAll(text: Column, k: Int): Column =
    toCol(ShingleGrams(toExpr(tokenHashes(text)), k, PolyMod))

  /** Distinct k-shingle hash set — the dedup signature. */
  def shingleHashes(text: Column, k: Int): Column =
    array_distinct(shingleHashesAll(text, k))

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    * the MOSS algorithm): slide a window of `w` consecutive k-gram hashes
    * and keep the window MINIMUM, rightmost occurrence on ties — the tie
    * rule that makes both documents of a matching pair select the same
    * gram, which is the theorem the algorithm exists for: any shared token
    * run of length ≥ w + k − 1 contributes at least one IDENTICAL
    * (fingerprint, in-doc offset) selection in both documents, at expected
    * density 2/(w+1) of the gram stream. The positional output (doc_id,
    * pos, fp) — pos = 1-based gram index — is what q_pipe_fingerprint's
    * whole-doc digest cannot give: fingerprint-equality JOINS locate the
    * matching SPANS, the plagiarism / boilerplate-extent signal.
    *
    * Docs with fewer than k tokens have no grams and emit nothing (the
    * same contract as [[shingleHashesAll]]'s other callers). Overlapping
    * windows re-selecting one gram collapse via DISTINCT.
    *
    * Scale design: the whole selection is ONE narrow per-document pass of
    * kernel calls (token hashes → gram hashes → per-window argmin), no
    * explode until the selected fingerprints (~2n/(w+1) rows per doc); the
    * only shuffle is the final DISTINCT on (doc_id, pos, fp) longs. */
  def winnowingFingerprints(docs: DataFrame, textCol: String, idCol: String,
      k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1, got k=$k w=$w")
    val grams = shingleHashesAll(col(textCol), k)
    val withG = docs
      .filter(size(tokens(col(textCol))) >= k)
      .select(col(idCol).as("doc_id"), grams.as("__g"))
    // Per-window rightmost-min (x <= best takes the later occurrence on
    // ties, i.e. array_min + rightmost array_position): one
    // VectorKernels.winnowSelect call per row, no per-window arrays.
    withG
      .select(col("doc_id"), explode(winnowSelect(col("__g"), w)).as("__s"))
      .select(col("doc_id"), col("__s.pos").as("pos"), col("__s.fp").as("fp"))
      .distinct()
  }

  /** The (fp, pos) selection of every window of `w` gram hashes, as
    * [[winnowingFingerprints]] explodes it. */
  private[graft] def winnowSelect(grams: Column, w: Int): Column =
    toCol(StaticInvoke(classOf[VectorKernels],
      ArrayType(StructType(Seq(StructField("fp", LongType, nullable = false),
        StructField("pos", LongType, nullable = false))), containsNull = false),
      "winnowSelect", Seq(toExpr(grams), Literal(w)),
      Seq(ArrayType(LongType), IntegerType), returnNullable = false))

  /** Cross-document matched-span extents from winnowing fingerprints —
    * the signal [[winnowingFingerprints]] exists to feed: an fp-EQUALITY
    * join locates the documents pairs sharing a token run of length
    * ≥ w + k − 1 (the MOSS theorem guarantees both sides selected at
    * least one identical fingerprint inside any such run), and the
    * per-pair aggregate reports how MUCH overlaps and WHERE: shared-
    * fingerprint count plus each side's min/max matched gram position —
    * the plagiarism / boilerplate-extent readout.
    *
    * `maxDf`: fingerprints appearing in more than `maxDf` documents are
    * dropped BEFORE the self-join. This is the scale guard, not a
    * nicety — a boilerplate fingerprint (license header, nav bar) shared
    * by d documents contributes d²/2 join pairs, so one hot fp at
    * corpus scale is a quadratic blowup; capping df bounds the join at
    * |doc-fp rows|·maxDf pairs (the same reasoning as the banded-LSH
    * bucket cap and the Bayardo prefix filter). Real MOSS deployments do
    * exactly this ("ignore matches in many documents"). The join runs
    * over ONE row per (doc, fp) — positions pre-aggregate to per-doc
    * min/max first — so WITHIN-document fingerprint multiplicity (a
    * document that is one token repeated 10k times selects the same fp
    * at every window) cannot blow the join up either; the per-pair
    * extents are identical to the position-level join's (min of mins,
    * max of maxes, one fp per doc pair per fingerprint).
    *
    * Scale design: fingerprints are ~2n/(w+1) per document and carry
    * (doc_id, pos, fp) longs only — text never reaches any shuffle. The
    * df aggregate, the fp equi-join, and the pair aggregate all key on
    * longs; AQE broadcasts the capped-df fp list when small. The lazy
    * plan references the per-(doc, fp) extent frame from THREE consumers
    * (the df aggregate and both join sides), and exchange reuse does not
    * dedupe them across the self-join's aliasing — so that frame is
    * persisted MEMORY_AND_DISK and the text-side array pass runs ONCE per action instead of three
    * times (the r15 sf1 probe's ×3.9 wall at ×10 data included the
    * recompute). The cached frame is 4 longs per (doc, fp) — a vanishing
    * fraction of the corpus — spills to disk under pressure, and keeps
    * its lineage (fault-tolerant recompute on a real cluster, unlike a
    * local checkpoint). It is registered in [[OpCaches]]: repeated
    * invocations over one corpus reuse the persisted frame, and the
    * registry bounds how many such frames stay pinned. */
  def winnowingSharedSpans(docs: DataFrame, textCol: String, idCol: String,
      k: Int, w: Int, maxDf: Int): DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2 (a shared fp needs 2 docs), " +
      s"got $maxDf")
    val fps = winnowingFingerprints(docs, textCol, idCol, k, w)
    // ONE row per (doc, fp) with its positional extent — this collapse is
    // what makes the self-join immune to within-doc multiplicity
    val docFp = OpCaches.cached(fps.groupBy(col("doc_id"), col("fp"))
      .agg(min(col("pos")).as("pmin"), max(col("pos")).as("pmax")))
    val rare = docFp.join(
      docFp.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf).select(col("fp")),
      "fp")
    rare.as("a").join(rare.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(count(lit(1)).as("n_shared"),
        min(col("a.pmin")).as("d1_min_pos"),
        max(col("a.pmax")).as("d1_max_pos"),
        min(col("b.pmin")).as("d2_min_pos"),
        max(col("b.pmax")).as("d2_max_pos"))
  }

  /** 16 MinHash values of a shingle-hash set. */
  def minHashSig(hashes: Column): Column =
    array(HashA.zip(HashB).map { case (a, b) =>
      array_min(transform(hashes, h => (h * lit(a) + lit(b)) % lit(PolyMod)))
    }: _*)

  /** LSH band keys: NumBands strings of comma-joined minhash rows. */
  def bandKeys(sig: Column): Column =
    array((0 until NumBands).map { b =>
      concat_ws(",", transform(
        slice(sig, b * RowsPerBand + 1, RowsPerBand), _.cast("string")))
    }: _*)

  /** Exact Jaccard similarity of two distinct-element arrays:
    * |∩| / (|a|+|b|-|∩|), computed in double. Two empty sets are
    * identical → 1.0 (the denominator is 0 exactly then, and ANSI double
    * division would throw instead of yielding a similarity). */
  def jaccard(a: Column, b: Column): Column =
    // VectorKernels.jaccardLong mirrors the expression exactly:
    // array_intersect distinct-count, raw sizes in the denominator,
    // empty-vs-empty → 1.0 before any division (the ANSI divide guard).
    toCol(StaticInvoke(classOf[VectorKernels], DoubleType, "jaccardLong",
      Seq(toExpr(a), toExpr(b)), Seq(ArrayType(LongType), ArrayType(LongType)),
      returnNullable = false))

  /** 30-bit SimHash over the distinct token-hash set: bit b is set when
    * Σ_tokens (±1 by hash bit b) > 0, one kernel call per row with the
    * replaced fold's null corners (a null element votes −1, a null array
    * gives 0), so the column is non-nullable. */
  def simHash30(hashes: Column): Column =
    toCol(StaticInvoke(classOf[VectorKernels], LongType, "simHash30",
      Seq(toExpr(hashes)), Seq(ArrayType(LongType)), propagateNull = false,
      returnNullable = false))

  // ---- language-ID stopword marker sets (tiny n-gram-free heuristic;
  // deterministic and SQL-expressible). Tie-break order: en,de,es,fr,zh. ----
  val StopEn = Seq("the", "a", "of", "and", "to", "is", "in")
  val StopDe = Seq("der", "die", "und", "das", "ist", "ein")
  val StopEs = Seq("el", "la", "de", "que", "y", "los")
  val StopFr = Seq("le", "la", "et", "les", "des", "un")
  val StopZh = Seq("的", "是", "了", "在")
  val LangOrder: Seq[(String, Seq[String])] = Seq(
    "en" -> StopEn, "de" -> StopDe, "es" -> StopEs,
    "fr" -> StopFr, "zh" -> StopZh)

  // ---- counting kernels of the text-quality gates. Byte contract: a
  // token or document is compared and classified on its UTF-8 bytes, never
  // decoded to a java.lang.String. Null contract: a null element is never
  // counted, and a null array or string gives what `size(null)` gives under
  // the session conf when the Column is built (-1 with
  // spark.sql.legacy.sizeOfNull and ANSI off, else NULL). ----

  /** Count of tokens belonging to a marker set (with multiplicity), equal
    * to `size(filter(toks, t => t.isin(set: _*)))`: byte-exact and
    * case-sensitive ("The" is not the marker "the"), one pass per row. */
  def stopHits(toks: Column, set: Seq[String]): Column =
    graft.expressions.TextExpressions.markerHits(toks, set)

  /** Arg-max language by marker-hit count over [[LangOrder]], every set
    * counted in one pass; first-listed wins ties, so a row with no marker
    * is "en". A null array is "und", or "en" where `size(null)` is -1
    * (every set then scores -1). Never NULL. */
  def langPredict(toks: Column): Column =
    graft.expressions.TextExpressions.langPredict(toks, LangOrder)

  /** BPE-ish pre-token count of a document, equal to
    * `size(regexp_extract_all(text, "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+", 0))`:
    * the maximal runs of ASCII letters, of ASCII digits, or of other bytes
    * except the space byte, counted in one pass over the UTF-8 bytes. Every
    * byte >= 0x80 is an "other" byte, so a non-ASCII codepoint (or an
    * invalid byte, which the regex sees as U+FFFD) joins the run it sits
    * in; tab and newline are "other" bytes too. */
  def pretokenCount(text: Column): Column =
    graft.expressions.TextExpressions.pretokenCount(text)

  /** Per-ten-thousand resolution of the deterministic sampling hash. */
  val SampleMod = 10000L

  /** Integer keep-threshold for a rate: round-half-up, NOT truncation —
    * rate 0.3 must give exactly 3000, not 2999 (binary 0.3·10000 is
    * 2999.999…). Shared with the oracle SQL so both engines compare the
    * hash against the identical literal. */
  def sampleThreshold(r: Double): Long = math.round(r * SampleMod)

  /** Deterministic stratified downsampling: keep a row iff
    * `polyHash(content) mod 10000 < 10000·rate(stratum)` — the standard
    * corpus-rebalancing primitive (e.g. downweight over-represented
    * languages or sources before training).
    *
    * Content-hash selection (vs rand()) means the decision is a pure,
    * reproducible function of the row: stable across runs, engines, and
    * partitionings, and exact duplicates are kept or dropped TOGETHER —
    * composes soundly with content-hash train/val splitting. A narrow
    * filter: no shuffle, no state. */
  def stratifiedKeep(content: Column, stratum: Column,
      rates: Map[String, Double], defaultRate: Double): Column = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 1),
      "sampling rates must be in [0, 1]")
    val thresh = rates.toSeq.sortBy(_._1).foldLeft(
      lit(sampleThreshold(defaultRate))) { case (acc, (k, r)) =>
      when(stratum === k, lit(sampleThreshold(r))).otherwise(acc)
    }
    polyHash(content) % SampleMod < thresh
  }

  /** Deterministic per-key cap (domain balancing): keep at most `n` rows
    * per `key`, chosen by a Knuth-multiplicative hash of the id (ties by
    * id) — a uniform pseudo-random pick that is a pure function of the
    * row, so it is stable across runs, engines, and partitionings. The
    * hard-cap complement of [[stratifiedKeep]]'s rate-based sampling:
    * rates rebalance proportions, caps bound the absolute contribution of
    * any one source/domain (the standard guard against a single crawl
    * domain dominating a training mix).
    *
    * Scale: one hash-partitioned window per key — state is a row counter,
    * no buffering; a pathologically hot key costs one task scanning that
    * key's rows once (the order key is computed narrowly before the
    * shuffle). */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String,
      n: Int): DataFrame = {
    require(n >= 1, "cap must be >= 1")
    // pmod BEFORE the multiply bounds the product by (2^31-2)·2654435761 <
    // 2^63, so the hash never overflows Long — a bare id·2654435761 throws
    // under ANSI mode (Spark 4 default) once ids exceed ~3.47e9, and
    // engines that wrap instead (Java semantics) would order negative
    // products differently from the oracle. pmod AFTER keeps the key
    // non-negative for negative ids. For ids in [0, 2^31-1) the key equals
    // the historical (id·2654435761) % (2^31-1) exactly.
    val m = lit(2147483647L)
    val ord = pmod(pmod(col(idCol), m) * lit(2654435761L), m)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(ord, col(idCol))
    df.withColumn("__cap_rk", row_number().over(w))
      .filter(col("__cap_rk") <= n)
      .drop("__cap_rk")
  }

  /** Temperature-rebalanced domain sampling at α = 1/2: per-domain keep
    * rates DERIVED from corpus statistics so low-resource domains are
    * up-weighted relative to their raw share — the standard multilingual /
    * multi-domain rebalancing of training mixes (Conneau et al. 2020
    * "Unsupervised Cross-lingual Representation Learning at Scale" §3.1
    * sample with p_l ∝ n_l^α; also the LLaMA corpus-weighting shape).
    * Each domain d with n_d documents gets weight w_d = ⌊√n_d⌋ and a
    * target of `targetDocs`·w_d/Σw documents; a document is kept iff
    * polyHash(text) mod [[SampleMod]] falls under the integer threshold
    * min(SampleMod, ⌊SampleMod·targetDocs·w_d / (Σw·n_d)⌋) — ONE exact
    * integer division, so a rare domain whose real target is fractional
    * (targetDocs·w_d < Σw) still gets its proportional keep rate instead
    * of being floored to zero and dropped entirely (the opposite of the
    * α=1/2 up-weighting purpose); the cap means a domain at or under its
    * target keeps everything. The numerator/denominator products run in
    * DECIMAL(38,0) (HUGEINT on the oracle side): at corpus scale
    * SampleMod·targetDocs·w overflows BIGINT long before the math is
    * wrong. The complement of [[stratifiedKeep]]
    * (CALLER-chosen rates) and [[capPerKey]] (hard caps): here the rates
    * come from the data itself.
    *
    * α is fixed at 1/2 because √ is the one power IEEE 754 requires
    * correctly rounded — ⌊√n⌋ is bit-identical in every engine, so the
    * whole derivation (integer weights, integer targets, integer
    * thresholds) is exactly replayable in the DuckDB oracle. An arbitrary
    * α would hang the gate on cross-engine pow() ulps.
    *
    * Scale design: the statistics pass is ONE (domain, count) partial/final
    * aggregate; thresholds are |domains| rows, broadcast back; the keep
    * decision is a narrow codegen filter (polyHash in place) — the corpus
    * text never shuffles, and the decision is a pure function of the row
    * and the domain histogram (reproducible across runs and layouts). */
  def sqrtTemperatureKeep(docs: DataFrame, domainCol: String,
      textCol: String, targetDocs: Long): DataFrame = {
    require(targetDocs >= 1, s"targetDocs must be >= 1, got $targetDocs")
    val counts = docs.groupBy(col(domainCol).as("__d"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__w",
        expr("CAST(floor(sqrt(CAST(__n AS DOUBLE))) AS BIGINT)"))
    // Σw as an ORDERLESS global window over the already-reduced
    // (domain, count) frame — one exchange of |domains| 24-byte rows,
    // never the corpus. A 1-row aggregate frame joined back would plan
    // as BroadcastNestedLoopJoin (the equi-key constant-folds away),
    // which the plan guard bans outside its scalar allowlist.
    val thr = counts
      .withColumn("__sw", sum(col("__w")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("__thr", least(lit(SampleMod),
        expr(s"(CAST($SampleMod AS DECIMAL(38,0)) * $targetDocs * __w)" +
          s" div (CAST(__sw AS DECIMAL(38,0)) * __n)")))
      .select(col("__d"), col("__thr"))
    docs.join(broadcast(thr), col(domainCol) <=> col("__d"))
      .filter(polyHash(col(textCol)) % SampleMod < col("__thr"))
      .drop("__d", "__thr")
  }

  /** Split each document into fixed-size token windows with overlap — the
    * sequence-packing step that turns a cleaned corpus into model-ready
    * training chunks. Windows start every `stride` tokens (stride < size
    * ⇒ size − stride tokens of overlap, the standard long-document
    * recipe); the tail window is shorter rather than dropped, so every
    * token appears in ≥ 1 chunk. A tail start that adds NO new token (s > 0
    * with s − stride + size ≥ n_tokens: the previous window already reaches
    * the document end) is skipped — emitting it would duplicate training
    * text beyond the size/stride overlap factor (e.g. 13 tokens, size 5,
    * stride 4 would yield a 4th chunk whose single token is already the
    * tail of chunk 3). Output: (id, chunk_idx, chunk_text, n_tokens),
    * chunk_idx dense from 0 in document order (skips only ever occur at
    * the tail, so density is preserved).
    *
    * Scale: pure narrow explode — starts are a per-row `sequence` literal
    * over the token count, the window itself a per-row array slice; no
    * shuffle, no state, whole-stage codegen'd. Output row count is
    * Σ ⌈n_tokens/stride⌉ — the explode multiplies rows but text bytes only
    * by the overlap factor size/stride. */
  def chunkDocuments(docs: DataFrame, textCol: String, idCol: String,
      size: Int, stride: Int): DataFrame = {
    require(size >= 1 && stride >= 1 && stride <= size,
      "need 1 <= stride <= size (stride > size would drop tokens)")
    val toks = tokens(col(textCol))
    docs
      .select(col(idCol).as("id"), toks.as("__w"))
      .withColumn("__starts",
        filter(
          sequence(lit(0),
            greatest(org.apache.spark.sql.functions.size(col("__w")) - 1, lit(0)),
            lit(stride)),
          s => s === 0 || s + lit(size - stride) <
            org.apache.spark.sql.functions.size(col("__w"))))
      .select(col("id"), col("__w"),
        posexplode(col("__starts")).as(Seq("chunk_idx", "__start")))
      .withColumn("__chunk", slice(col("__w"), col("__start") + 1, lit(size)))
      .select(col("id"), col("chunk_idx"),
        array_join(col("__chunk"), " ").as("chunk_text"),
        org.apache.spark.sql.functions.size(col("__chunk")).as("n_tokens"))
  }

  /** Deterministic per-key selection to a TOKEN budget — the data-mix
    * builder's unit of account. [[capPerKey]] bounds documents per key;
    * real mixture specs bound TOKENS per source ("at most 10 B tokens of
    * domain X"), which document caps only approximate when length varies.
    * Docs are taken per key in the same Knuth-multiplicative hash order as
    * [[capPerKey]] (an unbiased deterministic sample of the key's docs)
    * while the running `weightCol` total stays ≤ `budget`. Weights are
    * positive, so the running total is strictly increasing and the kept
    * set is a clean prefix of the hash order: selection is stable under
    * budget growth (a bigger budget only ADDS documents — mixes stay
    * reproducible across budget sweeps).
    *
    * Scale: identical shape to [[capPerKey]] — one hash-partitioned window
    * per key whose state is one running sum; the order key is computed
    * narrowly before the shuffle, and only (key, id, weight) travels.
    */
  def selectToTokenBudget(df: DataFrame, keyCol: String, idCol: String,
      weightCol: String, budget: Long): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    val m = lit(2147483647L)
    val ord = pmod(pmod(col(idCol), m) * lit(2654435761L), m)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(ord, col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("cum_tokens", sum(col(weightCol).cast("long")).over(w))
      .filter(col("cum_tokens") <= budget)
  }
}
