package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import TextOps._

/** Corpus quality-filtering operators beyond the per-row heuristics in
  * [[TextOps]]: n-gram repetition signals (the Gopher/C4 family of filters)
  * and PII redaction.
  *
  * Scale design: repetition signals shuffle only (doc_id, gram-hash)
  * pairs — never the document text — and aggregate map-side first; PII
  * redaction is a pure narrow regexp projection (codegen'd, no UDFs).
  */
object Quality {

  /** Per-document word n-gram repetition signals for each k in `ks`:
    *
    *   - `top{k}_frac` — occurrences of the single most frequent k-gram
    *     divided by the total k-gram count (Gopher's "fraction of text in
    *     the most common n-gram", word-level);
    *   - `dup{k}_frac` — fraction of k-gram occurrences whose gram appears
    *     more than once (Gopher's "duplicate n-gram fraction").
    *
    * Only documents with at least `max(ks)` tokens are scored — shorter
    * documents have no k-gram for the largest k and belong to a length
    * filter, not a repetition filter.
    *
    * Scale: explode → groupBy(doc, gram-HASH) — the shuffle carries two
    * longs per occurrence, not text; partial aggregation collapses repeats
    * map-side, so a pathological million-token spam doc contributes its
    * distinct-gram count to the shuffle, not its length. Signals for all
    * ks are computed from independent shuffles and joined back on doc_id
    * (each side already reduced to one row per doc).
    */
  def repetitionSignals(docs: DataFrame, textCol: String, idCol: String,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), "ks must be positive")
    val scored = docs
      .filter(size(tokens(col(textCol))) >= ks.max)
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"))
    ks.map { k =>
      // gram identity = combined token-hash (TextOps.shingleHashesAll):
      // collision-safe enough for a quality *signal* and 8 bytes instead
      // of k words — and no gram string is ever built.
      val grams = scored.select(col("doc_id"),
        explode(shingleHashesAll(col("__text"), k)).as("g"))
      grams.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id")).agg(
          (max(col("n")) / sum(col("n"))).as(s"top${k}_frac"),
          (sum(when(col("n") > 1, col("n")).otherwise(0L)) / sum(col("n")))
            .as(s"dup${k}_frac"))
    }.reduce(_.join(_, Seq("doc_id")))
  }

  /** Gopher-style STRUCTURAL quality signals (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", table A1 document filters) — the rules
    * that look at document SHAPE rather than token statistics:
    *
    *   - `mean_word_len` with bounds [3, 10];
    *   - `symbol_word_ratio` — '#', '…' and '...' occurrences per word
    *     (cap 0.1);
    *   - `bullet_line_frac` — lines starting with a bullet (cap 0.9);
    *   - `ellipsis_line_frac` — lines ending in an ellipsis (cap 0.3);
    *   - `alpha_word_frac` — words containing at least one alphabetic
    *     character (floor 0.8);
    *   - `dup_line_frac` / `dup_line_char_frac` — fraction of line
    *     occurrences (resp. their characters) whose line appears more than
    *     once in the document (caps 0.3 / 0.2; same more-than-once
    *     convention as [[repetitionSignals]]'s dup-gram fractions);
    *   - `keep` — the conjunction of all seven bounds.
    *
    * Lines are `lineSep`-separated; words are the non-empty
    * space-separated tokens of the lines. Empty documents (no words or no
    * lines) yield null fractions and `keep = false`.
    *
    * Scale: every per-word/per-line metric is a narrow codegen'd
    * higher-order-function projection — no shuffle, no UDF. The duplicate-
    * line metrics are the one aggregation, and they shuffle (doc_id,
    * line-HASH, line-len) longs only — the line TEXT never leaves the
    * map side (same design as [[repetitionSignals]]). All fractions are
    * single divisions of exact integer counts, so cross-engine results
    * are bit-identical. */
  def structuralSignals(docs: DataFrame, textCol: String, idCol: String,
      lineSep: String = "\n",
      meanWordLenMin: Double = 3.0, meanWordLenMax: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
      maxDupLineFrac: Double = 0.3, maxDupLineCharFrac: Double = 0.2)
      : DataFrame = {
    val sepLit = java.util.regex.Pattern.quote(lineSep)
    val lines = split(col(textCol), sepLit)
    val words = filter(flatten(transform(lines, l => split(l, " "))),
      w => length(w) > 0)
    def dbl(c: Column): Column = c.cast("double")
    def occurrences(pat: String, width: Int): Column =
      ((length(col(textCol)) -
        length(regexp_replace(col(textCol), pat, ""))) / lit(width))
        .cast("long")
    val nWords = size(words)
    val nLines = size(lines)
    val narrow = docs.select(col(idCol).as("doc_id"),
        nLines.as("n_lines"), nWords.as("n_words"),
        when(nWords > 0, dbl(aggregate(words, lit(0L),
            (acc, w) => acc + length(w).cast("long"))) / dbl(nWords))
          .as("mean_word_len"),
        when(nWords > 0, dbl(occurrences("#", 1) + occurrences("…", 1) +
            occurrences("\\.\\.\\.", 3)) / dbl(nWords))
          .as("symbol_word_ratio"),
        when(nLines > 0,
            dbl(size(filter(lines, l => l.rlike("^[-*•]")))) / dbl(nLines))
          .as("bullet_line_frac"),
        when(nLines > 0,
            dbl(size(filter(lines, l => l.rlike("(\\.\\.\\.|…)$")))) /
              dbl(nLines))
          .as("ellipsis_line_frac"),
        when(nWords > 0,
            dbl(size(filter(words, w => w.rlike("[A-Za-z]")))) / dbl(nWords))
          .as("alpha_word_frac"))
    // duplicate-line metrics: only (doc_id, line-hash, line-len) longs
    // shuffle; the text dies in the map-side projection
    val lineRows = docs.select(col(idCol).as("doc_id"), explode(lines).as("l"))
      .select(col("doc_id"),
        graft.expressions.TextExpressions.polyHash(col("l")).as("lh"),
        length(col("l")).cast("long").as("lc"))
    val dup = lineRows.groupBy(col("doc_id"), col("lh"))
      .agg(count(lit(1)).as("n"), max(col("lc")).as("lc"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("tot"),
        sum(when(col("n") > 1, col("n")).otherwise(0L)).as("dup"),
        sum(col("n") * col("lc")).as("totc"),
        sum(when(col("n") > 1, col("n") * col("lc")).otherwise(0L))
          .as("dupc"))
      .select(col("doc_id"),
        (dbl(col("dup")) / dbl(col("tot"))).as("dup_line_frac"),
        when(col("totc") > 0, dbl(col("dupc")) / dbl(col("totc")))
          .as("dup_line_char_frac"))
    narrow.join(dup, Seq("doc_id"), "left")
      .withColumn("keep",
        coalesce(col("mean_word_len") >= meanWordLenMin &&
          col("mean_word_len") <= meanWordLenMax &&
          col("symbol_word_ratio") <= maxSymbolRatio &&
          col("bullet_line_frac") <= maxBulletFrac &&
          col("ellipsis_line_frac") <= maxEllipsisFrac &&
          col("alpha_word_frac") >= minAlphaFrac &&
          col("dup_line_frac") <= maxDupLineFrac &&
          col("dup_line_char_frac") <= maxDupLineCharFrac, lit(false)))
  }

  /** Corpus-adaptive out-of-vocabulary rate: the fraction of each
    * document's tokens that fall outside the corpus's own top-`vocabSize`
    * vocabulary (by global count; ties broken by token ASC, so the
    * boundary is a deterministic total order on every engine). High OOV
    * against the corpus's own vocabulary flags gibberish, encoding
    * damage, and wrong-domain text WITHOUT an external wordlist — the
    * corpus-relative cousin of the stopword-ratio filter.
    *
    * Output: (doc_id, n_tokens, n_oov, oov_rate) — documents with no
    * tokens have no rows (nothing to rate).
    *
    * Scale: pass 1 is the canonical word count (map-side partial agg, so
    * the shuffle carries one row per distinct token per partition) +
    * TakeOrdered(vocabSize); pass 2 probes the BROADCAST vocabulary — the
    * corpus-sized token stream never shuffles for the membership test,
    * and the final per-doc aggregate reduces map-side to one row per doc.
    */
  def oovRate(docs: DataFrame, textCol: String, idCol: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("t"))
    val vocab = tok.groupBy(col("t")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("t")).limit(vocabSize)
      .select(col("t"), lit(true).as("__in"))
    tok.join(broadcast(vocab), Seq("t"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  // ---- PII patterns (shared with the DuckDB oracle via DuckFrag; kept to
  // the RE2-safe common subset of Java and RE2 regex: no backrefs, no
  // lookaround) ----
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}-\\d{4}\\b"

  /** Match counts per PII class, before redaction. */
  def piiCounts(text: Column): (Column, Column, Column) =
    (regexp_count(text, lit(EmailRe)),
      regexp_count(text, lit(Ipv4Re)),
      regexp_count(text, lit(PhoneRe)))

  /** Redact PII in place: emails → `<EMAIL>`, IPv4s → `<IP>`, then
    * phone-shaped digit groups → `<PHONE>`. Order matters — emails and IPs
    * are replaced first so their digit runs can't be re-matched as phones.
    * A pure narrow projection: no shuffle, codegen'd regexp. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** The composed corpus-cleaning pass a training-data pipeline actually
    * runs: one auditable DECISION RECORD per document —
    *
    *   - `is_keeper`   exact-dedup survivor (doc_id == min id of its
    *                   md5(text) group);
    *   - `lang_pred`   n-gram-heuristic language id ([[TextOps.langPredict]]);
    *   - `keep_quality` token-count bounds + stopword-ratio floor (the
    *                   q_pipe_text_quality filter);
    *   - `n_overlap`   distinct k-gram collisions with the eval set
    *                   ([[Dedup.ngramContamination]], 0 when clean);
    *   - `keep`        the conjunction: non-eval ∧ keeper ∧ quality ∧
    *                   lang == keepLang ∧ n_overlap ≤ maxOverlap.
    *
    * Emitting the full record (not just survivors) is deliberate: at 100 TB
    * you audit WHY documents dropped (and rates per reason) before
    * committing to a filter config; the survivor set is `.filter(col("keep"))`.
    *
    * Scale: quality + lang are narrow projections; the dedup-keeper join
    * shuffles only (md5 digest, id); contamination broadcasts the DISTINCT
    * eval gram set so the train side never shuffles; the final assembly is
    * one digest-keyed join plus one left join on id. Text never travels
    * through any shuffle.
    */
  def cleanCorpus(docs: DataFrame, textCol: String, idCol: String,
      isEval: Column, k: Int = 3, minTokens: Int = 10, maxTokens: Int = 1000,
      minStopRatio: Double = 0.01, keepLang: String = "en",
      maxOverlap: Long = 0L): DataFrame = {
    val toks = tokens(col("__text"))
    val nTok = size(toks)
    val stopR = stopHits(toks, StopEn).cast("double") / nTok.cast("double")
    val base = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"),
        isEval.as("is_eval"))
      .withColumn("__h", md5(col("__text")))
    val keepers = base.groupBy(col("__h")).agg(min(col("doc_id")).as("__keeper"))
    val contam = Dedup.ngramContamination(docs, textCol, idCol, isEval, k)
      .select(col("id").as("doc_id"), col("n_overlap"))
    base
      .withColumn("lang_pred", langPredict(toks))
      .withColumn("keep_quality",
        nTok >= minTokens && nTok <= maxTokens && stopR >= minStopRatio)
      .join(keepers, "__h")
      .join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_eval"),
        (col("doc_id") === col("__keeper")).as("is_keeper"),
        col("lang_pred"), col("keep_quality"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("keep",
        !col("is_eval") && col("is_keeper") && col("keep_quality") &&
          col("lang_pred") === lit(keepLang) &&
          col("n_overlap") <= lit(maxOverlap))
  }

  /** Unigram-LM perplexity PROXY with integer-exact arithmetic: rank every
    * vocabulary token by corpus frequency (1 = most frequent; ties broken
    * by token text so the ranking is total and engine-free), then score
    * each document by the SUM of its tokens' ranks (with multiplicity) —
    * rank_sum/n_tokens is the mean rank, high = rare-word-heavy. This is
    * the CCNet perplexity-filter idea with ranks standing in for −log p:
    * both orderings agree on "unusually rare vocabulary", but a rank sum
    * is a BIGINT — bitwise-reproducible in any engine — where a log-prob
    * sum would hash-differently per ulp. Complements [[TextOps]]' OOV rate
    * (binary in/out of vocab) with a graded signal.
    *
    * Output: (doc_id, n_tokens, rank_sum). Callers threshold the mean
    * rank_sum/n_tokens; it is left unreduced so the decision stays exact.
    *
    * Scale: the vocabulary aggregate collapses map-side to one row per
    * distinct token; ranking uses [[Positional.withGlobalPos]]'s
    * sampled-split bucket machinery — exact global positions with NO
    * global-sort window, so even a 100M-token web vocabulary ranks in
    * parallel (ties of a hot count value share a bucket; the per-bucket
    * window is the only serialization). The score join shuffles (token,
    * rank) rows, and the final per-doc sum aggregates map-side. */
  /** Incompressibility quality signal: DEFLATE-compressed size over raw
    * UTF-8 size. Natural prose sits ~0.3-0.5; templated/repetitive
    * boilerplate far lower; random gibberish ≈ 1 — the cheap two-sided
    * filter (too compressible = spam/boilerplate, incompressible =
    * noise/binary-in-text) used by Dolma/RedPajama-style curation.
    * One static kernel call ([[graft.expressions.StringKernels.deflateLen]], zlib
    * thread-local-reused) — pure narrow projection, no shuffle. The raw
    * size is UTF-8 BYTES (not codepoints): same units the compressor sees.
    *
    * Spec-pinned, not oracle-gated: deflate output is zlib-version-stable
    * within a cluster but not a cross-engine constant (DuckDB has no
    * deflate), so the gate records the weaker rows-only check and
    * CorpusOpsSpec pins ordering/bounds/determinism. */
  def compressionSignal(docs: DataFrame, textCol: String, idCol: String,
      level: Int = 6): DataFrame = {
    val rawLen = octet_length(col(textCol))
    val defLen = graft.expressions.TextExpressions
      .deflateLen(col(textCol), level)
    docs.select(col(idCol).as("doc_id"), rawLen.as("raw_bytes"),
      defLen.as("deflate_bytes"),
      // empty text: 0 raw bytes but ~8 deflate header bytes — 8/0.0 would
      // be +Infinity under IEEE division and read as "maximally
      // incompressible noise" to any threshold; null says "no signal"
      when(rawLen === 0, lit(null))
        .otherwise(defLen.cast("double") / rawLen.cast("double"))
        .as("compress_ratio"))
  }

  def corpusRankScore(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("__t"))
    val vocab = toks.groupBy(col("__t"))
      .agg(count(lit(1)).as("__cnt"))
      // negate so ascending global positions give (count DESC, token ASC)
      .withColumn("__neg", -col("__cnt"))
    val vocabRank = Positional
      .withGlobalPos(vocab, Seq(col("__neg"), col("__t")), "__pos")
      .select(col("__t"), (col("__pos") + 1L).as("__rank"))
    toks.join(vocabRank, "__t")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__rank")).as("rank_sum"))
  }
}
