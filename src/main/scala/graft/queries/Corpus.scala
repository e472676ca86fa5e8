package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Pack, Quality}

/** Corpus-preparation gates: training-order sharding, sequence packing,
  * sub-document segment dedup, the rank-based quality proxy, and the JSONL
  * interchange boundary — the last-mile operators between a cleaned corpus
  * and a training job. Oracle SQL mirrors the operators' integer arithmetic
  * exactly (Knuth hash, BIGINT cumsums/divisions, polyHash) so both engines
  * derive the byte layout independently from the data.
  */
object Corpus {

  private def docs(s: org.apache.spark.sql.SparkSession, dir: String) =
    tbl(s, dir, "documents")

  /** The salted Knuth shuffle key of [[Pack.shuffleKey]] in DuckDB:
    * pmod(pmod(id, M)·2654435761 + seed, M), spelled with the
    * ((x % M + M) % M) pmod idiom. The inner pmod bounds the product below
    * 2^63 (DuckDB would RAISE on BIGINT overflow where Java wraps — this
    * keeps both engines exact instead of merely agreeing on garbage). */
  private def knuthSql(idExpr: String, seed: Long): String =
    s"((($idExpr % 2147483647 + 2147483647) % 2147483647) * 2654435761 + " +
      s"${seed % 2147483647L}) % 2147483647"

  /** Side-table handing the per-doc DEFLATE lengths to the oracle (same
    * contract and sf-suffix concurrency story as the ANN index dumps in
    * [[Similarity]]): deflate is zlib-deterministic within a JVM but not a
    * cross-engine constant, so the plan dumps the lengths it scored with
    * and both engines derive ratio + keep from the same table. Declared
    * BEFORE [[defs]] — the oracle string interpolates it eagerly at object
    * init, and vals initialize in declaration order. */
  private val DeflateDumpBase = OracleAuxDir + "deflate_len_"
  private def deflateDump(dir: String): String =
    DeflateDumpBase + new java.io.File(dir).getName

  val defs: Map[String, Q] = Map(

    // Deterministic training-order shuffle + sharding: hash order is a
    // uniform pseudo-random permutation but a pure function of (id, seed),
    // so shard layout is reproducible at any cluster size.
    "q_pipe_shard" -> Q(
      (s, dir) => Pack.shardDocs(
          docs(s, dir).select(col("doc_id")), "doc_id", nShards = 8,
          seed = 7L)
        .orderBy(col("doc_id")),
      Some(s"""WITH h AS (
              |  SELECT doc_id, ${knuthSql("doc_id", 7L)} AS hk
              |  FROM documents)
              |SELECT doc_id, CAST(hk % 8 AS INT) AS shard,
              |       CAST(row_number() OVER (PARTITION BY hk % 8
              |         ORDER BY hk, doc_id) - 1 AS INT) AS seq
              |FROM h ORDER BY doc_id""".stripMargin)),

    // GPT-style concat-and-split packing: documents laid end to end in
    // shuffle order within each shard, cut every 256 tokens; a doc
    // crossing a cut emits one piece per overlapped pack. All-BIGINT
    // window cumsum + floor divisions — bitwise identical cross-engine.
    "q_pipe_pack" -> Q(
      (s, dir) => Pack.packTokens(
          docs(s, dir).select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tok")),
          "doc_id", "n_tok", nShards = 4, seed = 3L, seqLen = 256)
        .orderBy(col("doc_id"), col("pack")),
      Some(s"""WITH t AS (
              |  SELECT doc_id,
              |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
              |  FROM documents),
              |h AS (
              |  SELECT doc_id, n_tok, ${knuthSql("doc_id", 3L)} AS hk
              |  FROM t),
              |s AS (
              |  SELECT doc_id, n_tok, CAST(hk % 4 AS INT) AS shard,
              |         CAST(row_number() OVER (PARTITION BY hk % 4
              |           ORDER BY hk, doc_id) - 1 AS INT) AS seq,
              |         CAST(sum(n_tok) OVER (PARTITION BY hk % 4
              |           ORDER BY hk, doc_id
              |           ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT)
              |           AS start
              |  FROM h),
              |p AS (
              |  SELECT *, unnest(range(start // 256,
              |           (start + n_tok - 1) // 256 + 1)) AS pack
              |  FROM s WHERE n_tok > 0)
              |SELECT doc_id, n_tok, shard, seq, pack,
              |       greatest(pack * 256 - start, 0) AS doc_from,
              |       least((pack + 1) * 256 - start, n_tok) AS doc_to,
              |       greatest(start - pack * 256, 0) AS pack_from
              |FROM p ORDER BY doc_id, pack""".stripMargin)),

    // Sub-document segment dedup (CCNet/RefinedWeb paragraph-dedup,
    // token-window edition): corpus-wide first occurrence of each 8-token
    // segment wins, documents reassembled from their surviving segments.
    "q_pipe_seg_dedup" -> Q(
      (s, dir) => Dedup.dedupSegments(docs(s, dir), "text", "doc_id",
          segTokens = 8)
        .orderBy(col("doc_id")),
      Some(s"""WITH t AS (
              |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |st AS (
              |  SELECT doc_id, w,
              |         unnest(range(0, greatest(len(w), 1), 8)) AS start
              |  FROM t),
              |sg AS (
              |  SELECT doc_id, start // 8 AS seg_idx,
              |         array_to_string(list_slice(w, start + 1, start + 8),
              |           ' ') AS seg
              |  FROM st),
              |hh AS (
              |  SELECT doc_id, seg_idx, seg,
              |         ${DuckFrag.polyHashSql("seg")} AS h,
              |         doc_id * 1048576 + seg_idx AS pk
              |  FROM sg),
              |fst AS (SELECT h, min(pk) AS fpk FROM hh GROUP BY h),
              |kept AS (
              |  SELECT hh.* FROM hh
              |  JOIN fst ON hh.h = fst.h AND hh.pk = fst.fpk),
              |ns AS (
              |  SELECT doc_id, count(*) AS n_segs FROM sg GROUP BY doc_id),
              |rb AS (
              |  SELECT doc_id,
              |         string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text,
              |         count(*) AS kept_segs
              |  FROM kept GROUP BY doc_id)
              |SELECT ns.doc_id, coalesce(rb.clean_text, '') AS clean_text,
              |       ns.n_segs, coalesce(rb.kept_segs, 0) AS kept_segs
              |FROM ns LEFT JOIN rb USING (doc_id)
              |ORDER BY ns.doc_id""".stripMargin)),

    // Integer-exact unigram-LM perplexity proxy: corpus frequency rank of
    // every token (ties by token text), document score = BIGINT sum of its
    // tokens' ranks — the CCNet perplexity-filter ordering without the
    // cross-engine log-prob ulp problem.
    "q_pipe_word_rank" -> Q(
      (s, dir) => Quality.corpusRankScore(docs(s, dir), "text", "doc_id")
        .orderBy(col("doc_id")),
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
             |  FROM documents),
             |v AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
             |r AS (
             |  SELECT t, CAST(row_number() OVER (ORDER BY c DESC, t)
             |    AS BIGINT) AS rank
             |  FROM v)
             |SELECT doc_id, count(*) AS n_tokens,
             |       CAST(sum(rank) AS BIGINT) AS rank_sum
             |FROM tok JOIN r USING (t) GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)),

    // JSONL interchange boundary: parquet → jsonl directory → read-back
    // with an explicit schema must be the identity. The oracle reads the
    // ORIGINAL parquet — a lossy escape/encode/type mapping on either leg
    // breaks the hash. Distributed on both legs (one file per partition);
    // the scratch dir is keyed by scale so concurrent scales don't clobber.
    "q_jsonl_roundtrip" -> Q(
      (s, dir) => {
        val src = docs(s, dir)
        val path = "/root/repo/target/scratch/jsonl_docs_" +
          dir.replaceAll("[^A-Za-z0-9.]", "_")
        graft.sources.TextFormats.writeJsonl(src, path)
        graft.sources.TextFormats.readJsonl(s, path, src.schema)
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, text, lang, source, n_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // The packed PIECES as text — the writer step: concatenating a pack's
    // pieces in pack_from order yields the training sequence verbatim.
    // Layout derives from counts (ids/longs through the shard exchange);
    // text joins back once by id after the explode.
    "q_pipe_pack_text" -> Q(
      (s, dir) => Pack.packText(docs(s, dir), "text", "doc_id",
          nShards = 4, seed = 3L, seqLen = 256)
        .orderBy(col("doc_id"), col("pack")),
      Some(s"""WITH t AS (
              |  SELECT doc_id, string_split(text, ' ') AS w,
              |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
              |  FROM documents),
              |h AS (
              |  SELECT doc_id, w, n_tok, ${knuthSql("doc_id", 3L)} AS hk
              |  FROM t),
              |s AS (
              |  SELECT doc_id, w, n_tok, CAST(hk % 4 AS INT) AS shard,
              |         CAST(sum(n_tok) OVER (PARTITION BY hk % 4
              |           ORDER BY hk, doc_id
              |           ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT)
              |           AS start
              |  FROM h),
              |p AS (
              |  SELECT *, unnest(range(start // 256,
              |           (start + n_tok - 1) // 256 + 1)) AS pack
              |  FROM s WHERE n_tok > 0)
              |SELECT doc_id, shard, pack,
              |       greatest(start - pack * 256, 0) AS pack_from,
              |       array_to_string(list_slice(w,
              |         greatest(pack * 256 - start, 0) + 1,
              |         least((pack + 1) * 256 - start, n_tok)), ' ')
              |         AS piece_text
              |FROM p ORDER BY doc_id, pack""".stripMargin)),

    // END-TO-END mix build: the whole last mile in ONE plan — exact-dedup
    // keepers → per-source cap (domain balancing) → deterministic shard
    // shuffle → concat-and-split packing. Documents in, training pieces
    // out; every stage's arithmetic is already individually mirrored
    // (md5 keeper election, capPerKey Knuth window, Pack shard/cumsum),
    // so the composed oracle re-derives the full byte layout from the
    // data. This is the "a user can run their pipeline on this engine"
    // gate: stages chain through Catalyst as one optimized plan, not as
    // materialized steps.
    "q_pipe_e2e_mix" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        val keepers = Dedup.exactGroups(d, "text", "doc_id")
          .select(col("keeper").as("doc_id"))
        val kept = d.join(keepers, Seq("doc_id"), "left_semi")
        val capped = graft.operators.TextOps.capPerKey(
          kept.select(col("doc_id"), col("source"), col("text")),
          "source", "doc_id", n = 50)
        Pack.packTokens(
            capped.select(col("doc_id"),
              size(split(col("text"), " ")).cast("long").as("n_tok")),
            "doc_id", "n_tok", nShards = 4, seed = 11L, seqLen = 128)
          .orderBy(col("doc_id"), col("pack"))
      },
      Some(s"""WITH k AS (
              |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
              |kept AS (
              |  SELECT d.doc_id, d.source, d.text
              |  FROM documents d JOIN k USING (doc_id)),
              |cap AS (
              |  SELECT doc_id, text FROM (
              |    SELECT doc_id, text,
              |           row_number() OVER (PARTITION BY source
              |             ORDER BY (((doc_id % 2147483647 + 2147483647)
              |                        % 2147483647) * 2654435761)
              |                      % 2147483647, doc_id) AS rk
              |    FROM kept)
              |  WHERE rk <= 50),
              |t AS (
              |  SELECT doc_id,
              |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
              |  FROM cap),
              |h AS (
              |  SELECT doc_id, n_tok, ${knuthSql("doc_id", 11L)} AS hk
              |  FROM t),
              |s AS (
              |  SELECT doc_id, n_tok, CAST(hk % 4 AS INT) AS shard,
              |         CAST(row_number() OVER (PARTITION BY hk % 4
              |           ORDER BY hk, doc_id) - 1 AS INT) AS seq,
              |         CAST(sum(n_tok) OVER (PARTITION BY hk % 4
              |           ORDER BY hk, doc_id
              |           ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT)
              |           AS start
              |  FROM h),
              |p AS (
              |  SELECT *, unnest(range(start // 128,
              |           (start + n_tok - 1) // 128 + 1)) AS pack
              |  FROM s WHERE n_tok > 0)
              |SELECT doc_id, n_tok, shard, seq, pack,
              |       greatest(pack * 128 - start, 0) AS doc_from,
              |       least((pack + 1) * 128 - start, n_tok) AS doc_to,
              |       greatest(start - pack * 128, 0) AS pack_from
              |FROM p ORDER BY doc_id, pack""".stripMargin)),

    // Incompressibility signal (deflate ratio) + the two-sided filter
    // decision built on it. DuckDB has no deflate, so the raw compressed
    // size can never be recomputed cross-engine; instead the gate uses the
    // side-table replay pattern (same as the PQ codebook gates): the plan's
    // own deflate lengths are dumped to a parquet side-table and read BACK
    // as the plan input, and the oracle reads the same table — so deflate
    // agreement is by construction, while everything downstream of it is a
    // genuine cross-engine check: the raw UTF-8 byte length (Spark
    // octet_length vs DuckDB strlen, computed independently from the text),
    // the null-on-empty ratio arithmetic, and the two-sided keep decision
    // (too compressible = boilerplate/spam, incompressible = noise).
    // CorpusOpsSpec still pins the deflate signal itself (ordering
    // boilerplate < prose < gibberish, bounds, determinism).
    "q_pipe_compress_ratio" -> Q(
      (s, dir) => {
        val sig = Quality.compressionSignal(docs(s, dir), "text", "doc_id")
        writeTableAtomically(
          sig.select(col("doc_id"),
            col("deflate_bytes").cast("long").as("deflate_bytes")),
          deflateDump(dir))
        docs(s, dir)
          .select(col("doc_id"),
            octet_length(col("text")).cast("long").as("raw_bytes"))
          .join(s.read.parquet(deflateDump(dir)), "doc_id")
          .withColumn("compress_ratio",
            when(col("raw_bytes") === 0, lit(null).cast("double"))
              .otherwise(col("deflate_bytes").cast("double") /
                col("raw_bytes").cast("double")))
          .withColumn("keep",
            coalesce(col("compress_ratio") >= 0.25 &&
              col("compress_ratio") <= 0.95, lit(false)))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (
              |  SELECT doc_id, CAST(deflate_bytes AS BIGINT) AS deflate_bytes
              |  FROM read_parquet('${DeflateDumpBase}sf0.01/*.parquet')),
              |r AS (
              |  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS raw_bytes
              |  FROM documents),
              |c AS (
              |  SELECT r.doc_id AS doc_id, raw_bytes, deflate_bytes,
              |         CASE WHEN raw_bytes = 0 THEN NULL
              |              ELSE CAST(deflate_bytes AS DOUBLE) /
              |                   CAST(raw_bytes AS DOUBLE) END
              |           AS compress_ratio
              |  FROM r JOIN d USING (doc_id))
              |SELECT doc_id, raw_bytes, deflate_bytes, compress_ratio,
              |       coalesce(compress_ratio >= 0.25 AND
              |                compress_ratio <= 0.95, FALSE) AS keep
              |FROM c ORDER BY doc_id""".stripMargin)))
}
