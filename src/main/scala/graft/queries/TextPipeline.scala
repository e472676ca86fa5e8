package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextOps}
import graft.operators.TextOps._

/** LLM-training-data pipeline ops: dedup, text analysis, fingerprinting —
  * each wired to a DuckDB oracle built from the SAME constants
  * (graft.operators.TextOps via DuckFrag), so Spark and oracle cannot drift.
  *
  * Scale notes are on the operators themselves (graft.operators.Dedup):
  * exact dedup shuffles a 128-bit digest; minhash LSH is banded/bucketed
  * (never all-pairs); blocked jaccard uses lossless prefix filtering, so
  * no block ever materializes its quadratic pair set.
  */
object TextPipeline {

  private def docs(s: org.apache.spark.sql.SparkSession, dir: String) =
    tbl(s, dir, "documents")

  /** Skewed-vocabulary fixture suffix for the frequency-ordered jaccard
    * gate: three boilerplate tokens appended to EVERY document. Chosen
    * adversarially against the HASH prefix order: polyHash("zz0") =
    * 121072 (and zz1/zz2 adjacent) — ~0.012% of the 1e9 hash space, below
    * essentially every real token's hash, so under hash order all three
    * sort to the FRONT of every doc's token set and land in every τ=0.5
    * prefix, degenerating each block's (block, prefix-token) join to its
    * full quadratic pair set. Under the Bayardo frequency order their
    * maximal document frequency ranks them LAST (cnt asc), so they never
    * enter a prefix — the regime the `frequencyOrdered` flag exists for
    * (Dedup.scala's 100 TB skew caveat), now pinned by both an oracle
    * gate and the skew arms recorded in JACCARD_ORDER_PROBE.json. */
  val JaccardSkewSuffix = " zz0 zz1 zz2"

  /** The documents table with [[JaccardSkewSuffix]] appended to every
    * text — the skewed corpus the freq-ordered gate runs on. */
  def skewedDocs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    docs(s, dir).withColumn("text",
      concat(col("text"), lit(JaccardSkewSuffix)))

  /** CTE prelude shared by the shingle-based oracles: tokens + k-shingle
    * hash sets for docs with ≥ k tokens (mirrors Dedup.minhashSignatures). */
  private def shingleCte(k: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sh AS (
       |  SELECT doc_id, ${DuckFrag.shingleHashesSql(k)} AS h
       |  FROM toks WHERE len(w) >= $k)""".stripMargin

  /** Extends [[shingleCte]] through LSH banding to a `pairs(id1, id2)` CTE
    * of verified duplicates at `threshold` (mirrors Dedup.minhashDupPairs
    * + is_dup filter). */
  private def dupPairsCte(k: Int, threshold: Double): String =
    s"""${shingleCte(k)},
       |sig AS (
       |  SELECT doc_id, h, ${DuckFrag.minHashSigSql} AS m
       |  FROM sh WHERE len(h) > 0),
       |bands AS (
       |  SELECT doc_id, b AS band,
       |         array_to_string(list_slice(m, b*${RowsPerBand}+1,
       |           b*${RowsPerBand}+${RowsPerBand}), ',') AS key
       |  FROM sig, (SELECT unnest(range($NumBands)) AS b)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
       |pairs AS MATERIALIZED (
       |  SELECT c.id1, c.id2 FROM cand c
       |  JOIN sig a ON a.doc_id = c.id1
       |  JOIN sig b ON b.doc_id = c.id2
       |  WHERE ${DuckFrag.jaccardSql("a.h", "b.h")} >= $threshold)""".stripMargin

  /** Side-table handing the Bloom-survivor set to the oracle (same
    * contract and sf-suffix concurrency story as the ANN index dumps in
    * [[Similarity]]): the Bloom bit layout is Spark-internal, so the plan
    * dumps the (doc_id, n_flagged) set its filter produced; both engines
    * then verify the pre-prune invariants against their OWN exact overlap
    * computation. Declared BEFORE [[defs]] — the oracle string
    * interpolates it eagerly at object init, and vals initialize in
    * declaration order. */
  private val BloomDumpBase = OracleAuxDir + "bloom_survivors_"
  private def bloomDump(dir: String): String =
    BloomDumpBase + new java.io.File(dir).getName

  /** Embedding width of the q_mm_embed gate. Declared BEFORE [[defs]]
    * (the oracle builder reads it eagerly at object init). */
  private val EmbDim = 16

  /** DuckDB replay of FakeCodec.embed (operators/Multimodal.scala): h0 =
    * FNV-1a 64 over the blob bytes, then per dim d: h_d = h_{d-1} * M + A
    * (mod 2^64), value = (h_d >>> 40) / 2^24 − 0.5. All mod-2^64 wrapping
    * runs in HUGEINT (every intermediate product ≤ 2^64·M < 2^127), the
    * unsigned shift is an integer divide by 2^40, and the float steps are
    * power-of-two scales of a < 2^24 integer — exact in float32 and
    * float64 alike, so Spark's Array[Float] cast to double matches the
    * DOUBLE SQL bitwise. The 16 LCG steps unroll as chained CTEs (SQL has
    * no sequential fold that also emits intermediates cleanly), and the
    * embedding lands as 16 scalar e0..e15 columns — the driver's
    * comparator hashes scalars, not float arrays. */
  private def fakeEmbedOracleSql: String = {
    val W = "18446744073709551616" // 2^64
    val lcg = (1 to EmbDim).map { d =>
      val (src, prev) = if (d == 1) ("f", "h0") else (s"e${d - 1}", s"h${d - 1}")
      s"e$d AS (SELECT *, ($prev * 6364136223846793005 + " +
        s"1442695040888963407) % $W AS h$d FROM $src)"
    }.mkString(",\n")
    val emb = (1 to EmbDim)
      .map(d => s"CAST(h$d // 1099511627776 AS DOUBLE) / 16777216.0 - 0.5" +
        s" AS e${d - 1}")
      .mkString(",\n  ")
    s"""WITH bl AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bin' END AS kind,
       |    CASE WHEN doc_id % 2 = 0 THEN
       |      [137,80,78,71,13,10,26,10,0,0,0,13,73,72,68,82,
       |       0,0,CAST((doc_id % 512 + 16) // 256 AS INTEGER),
       |           CAST((doc_id % 512 + 16) % 256 AS INTEGER),
       |       0,0,CAST((doc_id % 384 + 16) // 256 AS INTEGER),
       |           CAST((doc_id % 384 + 16) % 256 AS INTEGER)]
       |    ELSE list_transform(regexp_split_to_array(md5(text), ''),
       |           c -> unicode(c))
       |    END AS b
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, kind,
       |    list_reduce(
       |      list_prepend(CAST(1469598103934665603 AS HUGEINT),
       |        list_transform(b, x -> CAST(x AS HUGEINT))),
       |      (h, x) -> ((h - (h % 256) +
       |        CAST(xor(CAST(h % 256 AS BIGINT), CAST(x AS BIGINT))
       |          AS HUGEINT)) * 1099511628211) % $W) AS h0
       |  FROM bl),
       |$lcg
       |SELECT doc_id AS media_id, kind,
       |  $emb
       |FROM e$EmbDim ORDER BY media_id""".stripMargin
  }

  /** 54-byte header of an 8×8 bottom-up 24-bit uncompressed BMP (BITMAP
    * FILEHEADER + BITMAPINFOHEADER; 24-byte rows are already 4-aligned so
    * there is no padding). BMP is the one JDK-decodable format whose pixel
    * bytes pass through ImageIO verbatim — which is what lets the REAL
    * codec path be oracle-gated (q_mm_embed_real). */
  private val BmpHeaderHex =
    "424DF600000000000000360000002800000008000000080000000100180000" +
      "000000C000000000000000000000000000000000000000"

  /** DuckDB replay of ImageIoCodec.embed over the synthetic BMP: the
    * pixel formula is shared (file row r = 7 − image y, channel values
    * linear in (doc_id, x, r) mod 256), the BT.601 luminance and the 4×4
    * average-pooled grid replicate Java's accumulation order exactly
    * ((y asc, x asc) within each 2×2 cell), every literal is forced
    * DOUBLE (a bare 0.299 is DECIMAL in DuckDB — exact-decimal arithmetic
    * that only coincidentally rounds like binary doubles), and the final
    * CAST(... AS REAL) reproduces the float32 the codec emits. Validated
    * bit-exact against the JDK decoder on 500 doc ids. */
  private def realEmbedOracleSql: String = {
    def lum(x: Int, yImg: Int): String = {
      val r = 7 - yImg
      val b = s"((doc_id + ${7 * x} + ${11 * r}) % 256)"
      val g = s"((3*doc_id + ${5 * x} + ${13 * r}) % 256)"
      val rr = s"((5*doc_id + ${3 * x} + ${17 * r}) % 256)"
      s"(CAST(0.299 AS DOUBLE) * $rr + CAST(0.587 AS DOUBLE) * $g + " +
        s"CAST(0.114 AS DOUBLE) * $b)"
    }
    val cells = (0 until 16).map { d =>
      val (gy, gx) = (d / 4, d % 4)
      val l = for (y <- Seq(2 * gy, 2 * gy + 1); x <- Seq(2 * gx, 2 * gx + 1))
        yield lum(x, y)
      s"CAST(CAST(((((${l(0)} + ${l(1)}) + ${l(2)}) + ${l(3)}) / 4) / " +
        s"CAST(255.0 AS DOUBLE) - CAST(0.5 AS DOUBLE) AS REAL) AS DOUBLE)" +
        s" AS e$d"
    }.mkString(",\n  ")
    s"""SELECT doc_id AS media_id,
       |  CAST(8 AS INTEGER) AS out_width, CAST(8 AS INTEGER) AS out_height,
       |  $cells
       |FROM documents ORDER BY media_id""".stripMargin
  }

  /** A VALID 8×8 24-bit PNG whose pixels are the shared linear channel
    * formula of (doc_id, x, y) — the second real-decode format after BMP.
    * PNG is top-down (no BMP row flip) and LOSSLESS, and without ancillary
    * color chunks (no gAMA/iCCP) ImageIO passes truecolor samples through
    * verbatim, so the decoded RGB equals the formula exactly. The IDAT
    * deflate stream uses one STORED block (BTYPE=00) — bit-exact
    * reproducible, no compressor version dependence; CRC32/Adler32 come
    * from java.util.zip. Pure function of doc_id: executors rebuild it
    * deterministically under task retry. */
  private[graft] def pngBytes(docId: Long): Array[Byte] = {
    val raw = new java.io.ByteArrayOutputStream()
    for (y <- 0 until 8) {
      raw.write(0) // filter: None
      for (x <- 0 until 8) {
        raw.write((((5 * docId + 3 * x + 17 * y) % 256 + 256) % 256).toInt)
        raw.write((((3 * docId + 5 * x + 13 * y) % 256 + 256) % 256).toInt)
        raw.write((((docId + 7 * x + 11 * y) % 256 + 256) % 256).toInt)
      }
    }
    val rawBytes = raw.toByteArray // 8 rows x (1 filter + 24 RGB) = 200
    def be32(v: Long): Array[Byte] = Array(
      ((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
      ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(tpe: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      val t = tpe.getBytes("US-ASCII")
      crc.update(t); crc.update(data)
      be32(data.length.toLong) ++ t ++ data ++ be32(crc.getValue)
    }
    val ihdr = be32(8) ++ be32(8) ++
      Array[Byte](8, 2, 0, 0, 0) // depth 8, truecolor, deflate, none, none
    val adler = new java.util.zip.Adler32()
    adler.update(rawBytes)
    val idat = Array[Byte](0x78, 0x01, // zlib CMF/FLG (check-valid)
        0x01, // stored block, BFINAL=1
        (rawBytes.length & 0xff).toByte, ((rawBytes.length >> 8) & 0xff).toByte,
        (~rawBytes.length & 0xff).toByte, ((~rawBytes.length >> 8) & 0xff).toByte) ++
      rawBytes ++ be32(adler.getValue)
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", idat) ++
      chunk("IEND", Array.empty[Byte])
  }

  /** DuckDB replay of ImageIoCodec.embed over the synthetic PNG — same
    * pooled-luminance arithmetic as [[realEmbedOracleSql]] but with PNG's
    * top-down rows: the channel formulas key on image y directly (BMP's
    * file row was 7 − y). */
  private def realEmbedPngOracleSql: String = {
    def lum(x: Int, y: Int): String = {
      val b = s"((doc_id + ${7 * x} + ${11 * y}) % 256)"
      val g = s"((3*doc_id + ${5 * x} + ${13 * y}) % 256)"
      val rr = s"((5*doc_id + ${3 * x} + ${17 * y}) % 256)"
      s"(CAST(0.299 AS DOUBLE) * $rr + CAST(0.587 AS DOUBLE) * $g + " +
        s"CAST(0.114 AS DOUBLE) * $b)"
    }
    val cells = (0 until 16).map { d =>
      val (gy, gx) = (d / 4, d % 4)
      val l = for (y <- Seq(2 * gy, 2 * gy + 1); x <- Seq(2 * gx, 2 * gx + 1))
        yield lum(x, y)
      s"CAST(CAST(((((${l(0)} + ${l(1)}) + ${l(2)}) + ${l(3)}) / 4) / " +
        s"CAST(255.0 AS DOUBLE) - CAST(0.5 AS DOUBLE) AS REAL) AS DOUBLE)" +
        s" AS e$d"
    }.mkString(",\n  ")
    s"""SELECT doc_id AS media_id,
       |  CAST(8 AS INTEGER) AS out_width, CAST(8 AS INTEGER) AS out_height,
       |  $cells
       |FROM documents ORDER BY media_id""".stripMargin
  }

  /** [[TextOps.sqrtTemperatureKeep]] gate target: between the sf0.001
    * corpus (~20 docs — every domain under target, keep-all regime) and
    * sf0.1 (~2000 docs — strong rebalancing), so the tri-scale mirror
    * exercises both regimes. Declared before [[defs]]: the oracle SQL
    * interpolates it eagerly at object init. */
  private val TempSampleTarget = 120L

  /** Winnowing gate sizing: word 3-grams, window 4 — the match-length
    * guarantee is WinW + WinK − 1 = 6 shared tokens, expected fingerprint
    * density 2/(WinW+1) = 40% of the gram stream (small window so the
    * gate corpus yields plenty of tie/overlap cases; production text uses
    * k≈5, w≈8+ for ~22% density). */
  private val WinK = 3
  private val WinW = 4

  /** Document-frequency cap for the span-join gate: fingerprints in more
    * than this many docs drop before the fp self-join (each such fp costs
    * df²/2 pairs — the boilerplate-blowup guard). 16 is small enough to
    * actually trip on the gate corpus's hottest grams, proving the cap
    * path executes. */
  private val WinDfCap = 16

  val defs: Map[String, Q] = Map(

    // Exact dedup: group by md5(text) — only the 128-bit digest shuffles.
    // Reference: corpus-dedup extension of fletcher's unique/value_counts
    // surface (base.py:961-1005).
    "q_pipe_dedup_exact" -> Q(
      (s, dir) => Dedup.exactGroups(docs(s, dir), "text", "doc_id")
        .orderBy(col("text_hash")),
      Some("""SELECT md5(text) AS text_hash, min(doc_id) AS keeper,
             |       count(*) AS n_copies
             |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin)),

    // MinHash LSH near-dup pairs with exact-Jaccard verify at τ=0.8.
    "q_pipe_dedup_minhash" -> Q(
      (s, dir) => Dedup.minhashDupPairs(docs(s, dir), "text", "doc_id",
          k = 3, threshold = 0.8)
        .orderBy(col("id1"), col("id2")),
      Some(s"""${shingleCte(3)},
              |sig AS (
              |  SELECT doc_id, h, ${DuckFrag.minHashSigSql} AS m
              |  FROM sh WHERE len(h) > 0),
              |bands AS (
              |  SELECT doc_id, b AS band,
              |         array_to_string(list_slice(m, b*${RowsPerBand}+1,
              |           b*${RowsPerBand}+${RowsPerBand}), ',') AS key
              |  FROM sig, (SELECT unnest(range($NumBands)) AS b)),
              |cand AS (
              |  SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
              |  FROM bands x JOIN bands y
              |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)
              |SELECT c.id1, c.id2,
              |       ${DuckFrag.jaccardSql("a.h", "b.h")} AS jacc,
              |       ${DuckFrag.jaccardSql("a.h", "b.h")} >= 0.8 AS is_dup
              |FROM cand c
              |JOIN sig a ON a.doc_id = c.id1
              |JOIN sig b ON b.doc_id = c.id2
              |ORDER BY c.id1, c.id2""".stripMargin)),

    // Dup GROUPS from dup pairs: connected components (min-label
    // propagation), keeper = min doc_id per component — the decision step
    // of the dedup pipeline. Oracle: recursive CTE reachability.
    "q_pipe_dup_groups" -> Q(
      (s, dir) => Dedup.dupGroups(
          Dedup.minhashDupPairs(docs(s, dir), "text", "doc_id",
              k = 3, threshold = 0.8)
            .filter(col("is_dup"))
            .select(col("id1"), col("id2")))
        .orderBy(col("id")),
      Some(s"""WITH RECURSIVE ${dupPairsCte(3, 0.8).stripPrefix("WITH ")},
              |edges AS (
              |  SELECT id1 AS a, id2 AS b FROM pairs
              |  UNION ALL SELECT id2, id1 FROM pairs),
              |${DuckFrag.componentCtes}
              |SELECT id, keeper FROM comp
              |ORDER BY id""".stripMargin)),

    // The SAME dup-group pipeline forced onto the DISTRIBUTED
    // min-label + pointer-jump branch (driverEdgeLimit = 0): identical
    // output to q_pipe_dup_groups by construction, so it shares the oracle —
    // the gate proves branch equivalence cross-engine every round, and the
    // bench times the iterative path (its checkpoints + O(log d) shuffle
    // rounds) at the round's pair volume instead of leaving the 100 TB
    // branch untimed.
    "q_pipe_dup_groups_dist" -> Q(
      (s, dir) => Dedup.dupGroups(
          Dedup.minhashDupPairs(docs(s, dir), "text", "doc_id",
              k = 3, threshold = 0.8)
            .filter(col("is_dup"))
            .select(col("id1"), col("id2")),
          driverEdgeLimit = 0L)
        .orderBy(col("id")),
      Some(s"""WITH RECURSIVE ${dupPairsCte(3, 0.8).stripPrefix("WITH ")},
              |edges AS (
              |  SELECT id1 AS a, id2 AS b FROM pairs
              |  UNION ALL SELECT id2, id1 FROM pairs),
              |${DuckFrag.componentCtes}
              |SELECT id, keeper FROM comp
              |ORDER BY id""".stripMargin)),

    // Quality-preferring keeper selection: same dup components as
    // q_pipe_dup_groups, but every member re-keyed to the group's
    // LONGEST doc (n_chars desc, id asc) instead of the arbitrary min id —
    // keep the full text, drop the truncated scrapes.
    "q_pipe_dedup_keep_best" -> Q(
      (s, dir) => Dedup.keepBestPerGroup(
          Dedup.dupGroups(
            Dedup.minhashDupPairs(docs(s, dir), "text", "doc_id",
                k = 3, threshold = 0.8)
              .filter(col("is_dup"))
              .select(col("id1"), col("id2"))),
          docs(s, dir), "doc_id", "n_chars")
        .orderBy(col("id")),
      Some(s"""WITH RECURSIVE ${dupPairsCte(3, 0.8).stripPrefix("WITH ")},
              |edges AS (
              |  SELECT id1 AS a, id2 AS b FROM pairs
              |  UNION ALL SELECT id2, id1 FROM pairs),
              |${DuckFrag.componentCtes},
              |grp AS (SELECT id, keeper AS grp FROM comp),
              |best AS (
              |  SELECT grp, id AS best FROM (
              |    SELECT g.grp, g.id,
              |           row_number() OVER (PARTITION BY g.grp
              |             ORDER BY d.n_chars DESC, g.id) AS rk
              |    FROM grp g JOIN documents d ON d.doc_id = g.id)
              |  WHERE rk = 1)
              |SELECT g.id, g.grp AS "group", b.best
              |FROM grp g JOIN best b USING (grp)
              |ORDER BY g.id""".stripMargin)),

    // INCREMENTAL dedup: the new batch (doc_id % 5 = 0) probes a band
    // index built from the existing corpus (the rest) — the snapshot-over-
    // snapshot pattern that avoids re-self-joining 100 TB per ingest. The
    // oracle restricts the full banded self-join to cross pairs, which the
    // probe must equal exactly (banding is a pure function of the text).
    "q_pipe_dedup_incr" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        val isNew = col("doc_id") % 5 === 0
        Dedup.dedupAgainstIndex(
            d.filter(isNew), "text", "doc_id", k = 3, threshold = 0.8,
            index = Dedup.bandIndex(d.filter(!isNew), "text", "doc_id", k = 3),
            corpus = d.filter(!isNew))
          .orderBy(col("new_id"), col("old_id"))
      },
      Some(s"""${shingleCte(3)},
              |sig AS (
              |  SELECT doc_id, h, ${DuckFrag.minHashSigSql} AS m
              |  FROM sh WHERE len(h) > 0),
              |bands AS (
              |  SELECT doc_id, b AS band,
              |         array_to_string(list_slice(m, b*${RowsPerBand}+1,
              |           b*${RowsPerBand}+${RowsPerBand}), ',') AS key
              |  FROM sig, (SELECT unnest(range($NumBands)) AS b)),
              |cand AS (
              |  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
              |  FROM bands n JOIN bands o
              |    ON n.band = o.band AND n.key = o.key
              |   AND n.doc_id % 5 = 0 AND o.doc_id % 5 <> 0)
              |SELECT c.new_id, c.old_id,
              |       ${DuckFrag.jaccardSql("a.h", "b.h")} AS jacc,
              |       ${DuckFrag.jaccardSql("a.h", "b.h")} >= 0.8 AS is_dup
              |FROM cand c
              |JOIN sig a ON a.doc_id = c.new_id
              |JOIN sig b ON b.doc_id = c.old_id
              |ORDER BY c.new_id, c.old_id""".stripMargin)),

    // 30-bit SimHash fingerprint + 15-bit halves for banded lookup.
    "q_pipe_dedup_simhash" -> Q(
      (s, dir) => Dedup.simhashFingerprints(docs(s, dir), "text", "doc_id")
        .orderBy(col("id")),
      Some(s"""WITH toks AS (
              |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |hs AS (
              |  SELECT doc_id,
              |         list_distinct(list_transform(w,
              |           t -> ${DuckFrag.polyHashSql("t")})) AS h
              |  FROM toks),
              |fp AS (SELECT doc_id AS id, ${DuckFrag.simHash30Sql} AS simhash
              |       FROM hs)
              |SELECT id, simhash, simhash % ${1 << 15} AS band_lo,
              |       simhash // ${1 << 15} AS band_hi
              |FROM fp ORDER BY id""".stripMargin)),

    // Exact token-set Jaccard pairs blocked by source, computed with
    // lossless prefix filtering (Bayardo WWW'07) — identical output to the
    // quadratic all-pairs spelling the oracle uses, but never materializes
    // |block|² pairs (see Dedup.ngramJaccardPairs scale notes).
    "q_pipe_jaccard_block" -> Q(
      (s, dir) => Dedup.ngramJaccardPairs(docs(s, dir), "text", "doc_id",
          "source", threshold = 0.5)
        .orderBy(col("id1"), col("id2")),
      Some(s"""WITH sets AS (
              |  SELECT doc_id, source AS block,
              |         list_distinct(list_transform(string_split(text, ' '),
              |           t -> ${DuckFrag.polyHashSql("t")})) AS h
              |  FROM documents)
              |SELECT a.doc_id AS id1, b.doc_id AS id2, a.block,
              |       ${DuckFrag.jaccardSql("a.h", "b.h")} AS jacc
              |FROM sets a JOIN sets b
              |  ON a.block = b.block AND a.doc_id < b.doc_id
              |WHERE ${DuckFrag.jaccardSql("a.h", "b.h")} >= 0.5
              |ORDER BY id1, id2""".stripMargin)),

    // The BAYARDO (frequency-ordered) prefix path on a corpus where it
    // actually wins: the skewed-vocabulary fixture appends three
    // boilerplate tokens to EVERY document (see [[JaccardSkewSuffix]] for
    // why their hashes land in every hash-order prefix), so hash-order
    // candidates degenerate to each block's full quadratic pair set while
    // the frequency order — ranking tokens by ascending global df — puts
    // the boilerplate LAST and never in a prefix. The gate runs
    // frequencyOrdered = true end to end (df count, per-doc rank, prefix
    // join, exact verify) against the same order-independent all-pairs
    // oracle; the candidate collapse itself was measured by the skew arms
    // recorded in JACCARD_ORDER_PROBE.json. The r18
    // dispatch rule at Dedup.scala (candidates >> verified under hash
    // order = skew = flip the flag) stops being hypothetical here.
    "q_pipe_jaccard_freq" -> Q(
      (s, dir) => Dedup.ngramJaccardPairs(skewedDocs(s, dir), "text",
          "doc_id", "source", threshold = 0.5, frequencyOrdered = true)
        .orderBy(col("id1"), col("id2")),
      Some(s"""WITH sets AS (
              |  SELECT doc_id, source AS block,
              |         list_distinct(list_transform(
              |           string_split(text || '$JaccardSkewSuffix', ' '),
              |           t -> ${DuckFrag.polyHashSql("t")})) AS h
              |  FROM documents)
              |SELECT a.doc_id AS id1, b.doc_id AS id2, a.block,
              |       ${DuckFrag.jaccardSql("a.h", "b.h")} AS jacc
              |FROM sets a JOIN sets b
              |  ON a.block = b.block AND a.doc_id < b.doc_id
              |WHERE ${DuckFrag.jaccardSql("a.h", "b.h")} >= 0.5
              |ORDER BY id1, id2""".stripMargin)),

    // Language-ID (stopword-marker argmax) confusion counts vs the label.
    "q_pipe_lang_id" -> Q(
      (s, dir) => docs(s, dir)
        .select(col("lang"), langPredict(tokens(col("text"))).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("lang"), col("lang_pred")),
      Some(s"""WITH toks AS (
              |  SELECT lang, string_split(text, ' ') AS w FROM documents),
              |scored AS (
              |  SELECT lang, ${LangOrder.map { case (l, set) =>
                  s"${DuckFrag.stopHitsSql(set)} AS s_$l" }.mkString(", ")}
              |  FROM toks)
              |SELECT lang, ${DuckFrag.langPredictSql} AS lang_pred,
              |       count(*) AS cnt
              |FROM scored GROUP BY 1, 2 ORDER BY lang, lang_pred""".stripMargin)),

    // Text quality scoring: token counts, type-token ratio, stopword ratio,
    // and a composite keep/drop flag — the per-doc filter pass of a corpus
    // cleaning pipeline.
    "q_pipe_text_quality" -> Q(
      (s, dir) => {
        val toks = tokens(col("text"))
        val nTok = size(toks)
        val stopR = stopHits(toks, StopEn).cast("double") / nTok.cast("double")
        docs(s, dir).select(
            col("doc_id"),
            length(col("text")).as("len_chars"),
            nTok.as("n_tokens"),
            size(array_distinct(toks)).as("n_types"),
            (size(array_distinct(toks)).cast("double") / nTok.cast("double"))
              .as("ttr"),
            stopR.as("stop_ratio"),
            (nTok >= 10 && nTok <= 1000 && stopR >= 0.01).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, text, string_split(text, ' ') AS w
              |  FROM documents),
              |m AS (
              |  SELECT doc_id, length(text) AS len_chars,
              |         len(w) AS n_tokens, len(list_distinct(w)) AS n_types,
              |         CAST(len(list_distinct(w)) AS DOUBLE) /
              |           CAST(len(w) AS DOUBLE) AS ttr,
              |         CAST(${DuckFrag.stopHitsSql(StopEn)} AS DOUBLE) /
              |           CAST(len(w) AS DOUBLE) AS stop_ratio
              |  FROM toks)
              |SELECT *, n_tokens >= 10 AND n_tokens <= 1000
              |          AND stop_ratio >= 0.01 AS keep
              |FROM m ORDER BY doc_id""".stripMargin)),

    // Gopher STRUCTURAL rules over deterministically re-lined documents
    // (7 tokens per line, '\n'-joined — the corpus text is flat, so the
    // line structure the rules inspect is derived identically on both
    // sides; crafted line/symbol/bullet shapes are QualitySpec's job).
    // Duplicate-line fractions have real variance here: the synthetic docs
    // repeat 7-gram spans. Line identity is the polyHash on BOTH sides, so
    // the engine's hash-grouped aggregation is mirrored exactly.
    "q_pipe_gopher_struct" -> Q(
      (s, dir) => {
        val w = tokens(col("text"))
        val lined = docs(s, dir).select(col("doc_id"),
          array_join(transform(
              sequence(lit(0), ceil(size(w) / lit(7.0)).cast("int") - 1),
              i => array_join(slice(w, i * lit(7) + lit(1), lit(7)), " ")),
            "\n").as("text"))
        graft.operators.Quality.structuralSignals(lined, "text", "doc_id")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |lined AS (
              |  SELECT doc_id, w,
              |         list_transform(range(CAST(ceil(len(w)/7.0) AS BIGINT)),
              |           i -> array_to_string(
              |                  list_slice(w, i*7+1, i*7+7), ' ')) AS lines
              |  FROM toks),
              |m AS (
              |  SELECT doc_id, lines,
              |         array_to_string(lines, chr(10)) AS t2,
              |         len(lines) AS n_lines,
              |         list_filter(w, x -> length(x) > 0) AS fw
              |  FROM lined),
              |n AS (
              |  SELECT doc_id, n_lines, len(fw) AS n_words,
              |         CAST(list_sum(list_transform(fw, x -> length(x)))
              |           AS DOUBLE) / len(fw) AS mean_word_len,
              |         CAST(length(t2) - length(replace(t2, '#', ''))
              |            + length(t2) - length(replace(t2, '…', ''))
              |            + (length(t2) - length(replace(t2, '...', ''))) // 3
              |           AS DOUBLE) / len(fw) AS symbol_word_ratio,
              |         CAST(len(list_filter(lines,
              |             l -> regexp_matches(l, '^[-*•]'))) AS DOUBLE) /
              |           len(lines) AS bullet_line_frac,
              |         CAST(len(list_filter(lines,
              |             l -> regexp_matches(l, '(\\.\\.\\.|…)$$')))
              |           AS DOUBLE) / len(lines) AS ellipsis_line_frac,
              |         CAST(len(list_filter(fw,
              |             l -> regexp_matches(l, '[A-Za-z]'))) AS DOUBLE) /
              |           len(fw) AS alpha_word_frac
              |  FROM m),
              |lm AS (
              |  SELECT doc_id, ${DuckFrag.polyHashSql("line")} AS lh,
              |         count(*) AS cnt, max(length(line)) AS lc
              |  FROM (SELECT doc_id, unnest(lines) AS line FROM lined)
              |  GROUP BY doc_id, lh),
              |dl AS (
              |  SELECT doc_id,
              |         CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)
              |           AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)
              |           AS dup_line_frac,
              |         CASE WHEN SUM(cnt*lc) > 0 THEN
              |           CAST(SUM(CASE WHEN cnt > 1 THEN cnt*lc ELSE 0 END)
              |             AS DOUBLE) / CAST(SUM(cnt*lc) AS DOUBLE)
              |         END AS dup_line_char_frac
              |  FROM lm GROUP BY doc_id)
              |SELECT n.*, dl.dup_line_frac, dl.dup_line_char_frac,
              |       COALESCE(n.mean_word_len >= 3.0
              |         AND n.mean_word_len <= 10.0
              |         AND n.symbol_word_ratio <= 0.1
              |         AND n.bullet_line_frac <= 0.9
              |         AND n.ellipsis_line_frac <= 0.3
              |         AND n.alpha_word_frac >= 0.8
              |         AND dl.dup_line_frac <= 0.3
              |         AND dl.dup_line_char_frac <= 0.2, false) AS keep
              |FROM n JOIN dl USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // Corpus-adaptive OOV rate at V=16 (the corpus has 31 distinct
    // tokens, so the top-16 boundary is live and tie-broken by token ASC
    // on both engines).
    "q_pipe_oov" -> Q(
      (s, dir) => graft.operators.Quality.oovRate(
          docs(s, dir), "text", "doc_id", vocabSize = 16)
        .orderBy(col("doc_id")),
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
             |  FROM documents),
             |cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
             |vocab AS (SELECT t FROM cnt ORDER BY c DESC, t LIMIT 16)
             |SELECT tok.doc_id, count(*) AS n_tokens,
             |       CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END)
             |         AS BIGINT) AS n_oov,
             |       CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END)
             |         AS DOUBLE) / count(*) AS oov_rate
             |FROM tok LEFT JOIN vocab v ON tok.t = v.t
             |GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin)),

    // TF-IDF top terms per document — the classic corpus-statistics op
    // (keyword extraction / quality signals). Shape at scale: explode →
    // two partial/final count aggregates → a token-keyed join (DF side is
    // vocabulary-sized) → per-doc rank window. RANKING uses the exact
    // integer proxy (tf DESC, df ASC, tok) rather than the float score —
    // cross-engine ln() can differ in the last ulp, and a ranking must
    // never depend on that; the score itself is emitted rounded to 6
    // decimals as a value column.
    "q_pipe_tfidf" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        val toks = d.select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("tok"))
        val tf = toks.groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("tf"))
        val df_ = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        val nDocs = d.select(count(lit(1)).as("n_docs"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy(col("tf").desc, col("df").asc, col("tok"))
        tf.join(df_, "tok")
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .crossJoin(broadcast(nDocs))
          .select(col("doc_id"), col("rk"), col("tok"), col("tf"), col("df"),
            round(col("tf") * log(col("n_docs") / col("df")), 6).as("score"))
          .orderBy(col("doc_id"), col("rk"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
             |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |ranked AS (
             |  SELECT doc_id, tok, tf, df,
             |    CAST(row_number() OVER (PARTITION BY doc_id
             |      ORDER BY tf DESC, df ASC, tok) AS INTEGER) AS rk
             |  FROM tf JOIN df USING (tok))
             |SELECT doc_id, rk, tok, tf, df,
             |  ROUND(tf * ln(n_docs * 1.0 / df), 6) AS score
             |FROM ranked, n WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin)),

    // Deterministic content-hash train/val/test split (80/10/10): the
    // assignment depends only on the text (polyHash mod 100), so it is
    // reproducible across engines, runs, and partitionings — and exact
    // duplicates always land in the same split (no train/val leakage).
    "q_pipe_split" -> Q(
      (s, dir) => {
        val h = graft.expressions.TextExpressions.polyHash(col("text")) % 100
        val split = when(h < 80, "train").when(h < 90, "val")
          .otherwise("test")
        docs(s, dir).select(col("doc_id"), split.as("split"))
          .groupBy(col("split")).agg(count(lit(1)).as("n"),
            min(col("doc_id")).as("min_id"))
          .orderBy(col("split"))
      },
      Some(s"""WITH h AS (
              |  SELECT doc_id, ${DuckFrag.polyHashSql("text")} % 100 AS hv
              |  FROM documents)
              |SELECT CASE WHEN hv < 80 THEN 'train'
              |            WHEN hv < 90 THEN 'val' ELSE 'test' END AS split,
              |       count(*) AS n, min(doc_id) AS min_id
              |FROM h GROUP BY 1 ORDER BY split""".stripMargin)),

    // LEAKAGE-SAFE split (Dedup.leakageSafeSplit): near-dup components
    // (the q_pipe_dup_groups pipeline) inherit their keeper's split
    // decision, so a test document's near-copy can never sit in train —
    // the contamination channel plain content-hash splitting leaves open.
    // Oracle: the full recursive-CTE dup-group pipeline + the same
    // keeper-hash assignment, end to end in DuckDB — no side tables.
    "q_pipe_split_safe" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        val groups = Dedup.dupGroups(
          Dedup.minhashDupPairs(d, "text", "doc_id", k = 3, threshold = 0.8)
            .filter(col("is_dup"))
            .select(col("id1"), col("id2")))
        Dedup.leakageSafeSplit(d, "doc_id", "text", groups,
            trainPct = 80, valPct = 10)
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
            sum(when(col("grouped"), 1L).otherwise(0L)).as("n_grouped"))
          .orderBy(col("split"))
      },
      Some(s"""WITH RECURSIVE ${dupPairsCte(3, 0.8).stripPrefix("WITH ")},
              |edges AS (
              |  SELECT id1 AS a, id2 AS b FROM pairs
              |  UNION ALL SELECT id2, id1 FROM pairs),
              |${DuckFrag.componentCtes},
              |grp AS (SELECT id, keeper FROM comp),
              |reps AS (
              |  SELECT k.keeper, ${DuckFrag.polyHashSql("d.text")} % 100 AS ghv
              |  FROM (SELECT DISTINCT keeper FROM grp) k
              |  JOIN documents d ON d.doc_id = k.keeper),
              |assign AS (
              |  SELECT d.doc_id,
              |         COALESCE(r.ghv, ${DuckFrag.polyHashSql("d.text")} % 100)
              |           AS hv,
              |         g.id IS NOT NULL AS grouped
              |  FROM documents d
              |  LEFT JOIN grp g ON d.doc_id = g.id
              |  LEFT JOIN reps r ON g.keeper = r.keeper)
              |SELECT CASE WHEN hv < 80 THEN 'train'
              |            WHEN hv < 90 THEN 'val' ELSE 'test' END AS split,
              |       count(*) AS n, min(doc_id) AS min_id,
              |       CAST(SUM(CASE WHEN grouped THEN 1 ELSE 0 END) AS BIGINT)
              |         AS n_grouped
              |FROM assign GROUP BY 1 ORDER BY split""".stripMargin)),

    // Deterministic stratified downsampling (operators.TextOps
    // .stratifiedKeep): rebalance the corpus by language — keep half the
    // over-represented 'en', a quarter of 'de', 10% elsewhere — with a
    // content-hash decision (stable across engines/runs/layouts; exact
    // duplicates sampled together). Narrow filter, zero shuffle before the
    // gate's final reduce.
    "q_pipe_sample" -> Q(
      (s, dir) => {
        val keep = graft.operators.TextOps.stratifiedKeep(col("text"),
          col("lang"), Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1)
        docs(s, dir).filter(keep)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_id"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH h AS (
              |  SELECT doc_id, lang,
              |         ${DuckFrag.polyHashSql("text")} % $SampleMod AS hv
              |  FROM documents)
              |SELECT lang, count(*) AS n_kept, min(doc_id) AS min_id
              |FROM h
              |WHERE hv < CASE lang WHEN 'en' THEN ${sampleThreshold(0.5)}
              |                     WHEN 'de' THEN ${sampleThreshold(0.25)}
              |                     ELSE ${sampleThreshold(0.1)} END
              |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Temperature-rebalanced sampling (TextOps.sqrtTemperatureKeep):
    // per-domain keep rates DERIVED from the corpus histogram at α = 1/2
    // (p_d ∝ √n_d — the XLM-R/LLaMA mix-rebalancing shape), not chosen by
    // the caller. ⌊√n⌋ + integer targets + integer thresholds make the
    // whole derivation bit-exact cross-engine (√ is the one power IEEE
    // requires correctly rounded).
    "q_pipe_temp_sample" -> Q(
      (s, dir) => {
        graft.operators.TextOps.sqrtTemperatureKeep(docs(s, dir),
            "lang", "text", targetDocs = TempSampleTarget)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_id"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH c AS (
              |  SELECT lang AS d, count(*) AS n FROM documents GROUP BY 1),
              |w AS (
              |  SELECT d, n,
              |         CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS w
              |  FROM c),
              |s AS (SELECT CAST(SUM(w) AS BIGINT) AS sw FROM w),
              |thr AS (
              |  SELECT d, least($SampleMod,
              |           (CAST($SampleMod AS HUGEINT) * $TempSampleTarget * w)
              |             // (CAST(sw AS HUGEINT) * n))
              |           AS thr
              |  FROM w, s),
              |h AS (
              |  SELECT doc_id, lang,
              |         ${DuckFrag.polyHashSql("text")} % $SampleMod AS hv
              |  FROM documents)
              |SELECT lang, count(*) AS n_kept, min(doc_id) AS min_id
              |FROM h JOIN thr ON h.lang IS NOT DISTINCT FROM thr.d
              |WHERE hv < thr
              |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Token counting: whitespace words + a BPE-ish segmentation
    // (GPT-2-style word/number/punct alternation, counted by
    // TextOps.pretokenCount; the oracle runs the same alternation as a
    // regex, with no lookaheads, so RE2 and the byte counter agree) +
    // chars-per-token, the budget metrics a training-data pipeline reports
    // per document.
    "q_pipe_token_count" -> Q(
      (s, dir) => {
        val nWs = size(split(col("text"), " "))
        val nBpe = pretokenCount(col("text"))
        docs(s, dir).select(
            col("doc_id"),
            nWs.as("n_ws_tokens"),
            nBpe.as("n_bpeish_tokens"),
            (length(col("text")).cast("double") / nBpe.cast("double"))
              .as("chars_per_token"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
             |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+'))
             |       AS INTEGER) AS n_bpeish_tokens,
             |  CAST(length(text) AS DOUBLE) /
             |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+'))
             |         AS DOUBLE) AS chars_per_token
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Multimodal binary-column metadata: blobs as opaque binary + digest/
    // size/format-sniff metadata (operators.Multimodal) — the SQL-checkable
    // half of the media pipeline (decode stages are Dataset ops, pinned in
    // MultimodalSpec).
    "q_mm_binary_meta" -> Q(
      (s, dir) => {
        val bytes = encode(col("text"), "UTF-8")
        graft.operators.Multimodal.withBlobMeta(
            docs(s, dir).select(col("doc_id"), bytes.as("bytes")),
            col("bytes"))
          .select(col("doc_id"), col("byte_len"), col("content_md5"),
            col("content_sha256"),
            hex(substring(col("bytes"), 1, 4)).as("magic_hex"),
            col("format"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
             |  md5(text) AS content_md5,
             |  sha256(text) AS content_sha256,
             |  upper(left(CAST(hex(encode(text)) AS VARCHAR), 8)) AS magic_hex,
             |  'unknown' AS format
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Multimodal DECODE stage under the oracle: decodeAndEmbed end to end
    // (typed Dataset → bounded-batch mapPartitions → MediaFeatures) on
    // deterministic synthetic blobs. Even docs carry a minimal PNG whose
    // IHDR encodes dims derived from doc_id — ImageIoCodec's pixel decode
    // fails on the truncated body and falls back to the REAL header parse
    // (Multimodal.ImageHeaders), which the oracle reproduces from the same
    // arithmetic. Odd docs carry non-image bytes (the doc text's md5 hex,
    // ASCII so DuckDB's codepoints == UTF-8 bytes) — FakeCodec's
    // pseudo-dim fold (h·31+byte mod 1000003) is replicated in SQL.
    // This closes the one surface previously gated only by ScalaTest.
    "q_mm_decode_dims" -> Q(
      (s, dir) => {
        import s.implicits._
        val isPng = col("doc_id") % 2 === 0
        val be32 = (c: org.apache.spark.sql.Column) =>
          unhex(lpad(hex(c), 8, "0"))
        val w = (col("doc_id") % 512 + 16).cast("int")
        val h = (col("doc_id") % 384 + 16).cast("int")
        val png = concat(
          unhex(lit("89504E470D0A1A0A0000000D49484452")), be32(w), be32(h))
        val bin = encode(md5(col("text")), "UTF-8")
        val media = docs(s, dir).select(
            col("doc_id").as("media_id"),
            when(isPng, "png").otherwise("bin").as("kind"),
            when(isPng, png).otherwise(bin).as("bytes"),
            lit(0).as("width"), lit(0).as("height"), lit(0).as("n_frames"))
          .as[graft.operators.Multimodal.MediaRow]
        graft.operators.Multimodal.decodeAndEmbed(media, dim = 16)
          .toDF()
          .select(col("media_id"), col("kind"),
            col("out_width"), col("out_height"),
            size(col("embedding")).as("emb_dim"))
          .orderBy(col("media_id"))
      },
      Some("""WITH f AS (
             |  SELECT doc_id,
             |    list_reduce(list_prepend(CAST(17 AS BIGINT),
             |      list_transform(regexp_split_to_array(md5(text), ''),
             |        c -> CAST(unicode(c) AS BIGINT))),
             |      (a, c) -> (a * 31 + c) % 1000003) AS fh
             |  FROM documents)
             |SELECT doc_id AS media_id,
             |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bin' END AS kind,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 512 + 16
             |            ELSE fh % 640 + 64 END AS INTEGER) AS out_width,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 384 + 16
             |            ELSE fh // 640 % 480 + 48 END AS INTEGER) AS out_height,
             |  CAST(16 AS INTEGER) AS emb_dim
             |FROM f ORDER BY media_id""".stripMargin)),

    // Multimodal EMBEDDING VALUES under the oracle — the last pillar
    // component that was spec-pinned only. decodeAndEmbed runs end to end
    // (typed Dataset → bounded-batch mapPartitions → MediaFeatures) with
    // the hermetic FakeCodec, whose embedding is pure 64-bit arithmetic —
    // an FNV-1a fold over the blob bytes seeding a per-dim LCG — which
    // DuckDB replays EXACTLY in HUGEINT (wrapping multiply = % 2^64; every
    // float step is a power-of-two scale of a <2^24 integer, so float and
    // double arithmetic agree bitwise). Blobs are the same deterministic
    // mix as q_mm_decode_dims (even docs: synthetic PNG header bytes; odd
    // docs: md5-hex ASCII). ImageIoCodec's luminance-grid embedding stays
    // spec-pinned (MultimodalSpec): real JDK pixel decode is exactly the
    // part no cross-engine SQL can replay — FakeCodec under the oracle
    // proves the decode-stage PLUMBING (schema, batching, value
    // transport) delivers codec output unmangled.
    "q_mm_embed" -> Q(
      (s, dir) => {
        import s.implicits._
        val isPng = col("doc_id") % 2 === 0
        val be32 = (c: org.apache.spark.sql.Column) =>
          unhex(lpad(hex(c), 8, "0"))
        val w = (col("doc_id") % 512 + 16).cast("int")
        val h = (col("doc_id") % 384 + 16).cast("int")
        val png = concat(
          unhex(lit("89504E470D0A1A0A0000000D49484452")), be32(w), be32(h))
        val bin = encode(md5(col("text")), "UTF-8")
        val media = docs(s, dir).select(
            col("doc_id").as("media_id"),
            when(isPng, "png").otherwise("bin").as("kind"),
            when(isPng, png).otherwise(bin).as("bytes"),
            lit(0).as("width"), lit(0).as("height"), lit(0).as("n_frames"))
          .as[graft.operators.Multimodal.MediaRow]
        graft.operators.Multimodal
          .decodeAndEmbed(media, dim = EmbDim,
            codec = graft.operators.Multimodal.FakeCodec)
          .toDF()
          .select(col("media_id") +: col("kind") +:
            (0 until EmbDim).map(d =>
              col("embedding")(d).cast("double").as(s"e$d")): _*)
          .orderBy(col("media_id"))
      },
      Some(fakeEmbedOracleSql)),

    // The REAL codec path under the oracle: each doc carries a VALID 8×8
    // 24-bit BMP (the one JDK format whose pixel bytes pass through
    // unmodified — no entropy coding, no color management), with channel
    // values a shared linear formula of (doc_id, x, file-row). ImageIo
    // Codec pixel-decodes it and emits the BT.601 luminance-grid
    // embedding; the oracle recomputes the identical arithmetic straight
    // from the formula (no BMP parsing needed — both sides KNOW the
    // pixels). With q_mm_embed (FakeCodec plumbing) this closes the
    // multimodal pillar: real decode, real pooling, real float rounding,
    // all hash-gated cross-engine.
    "q_mm_embed_real" -> Q(
      (s, dir) => {
        import s.implicits._
        val pixHex = array_join(
          transform(sequence(lit(0), lit(191)), { i =>
            // Column./ is DOUBLE division in Spark — floor() recovers the
            // integer byte-index arithmetic (i is 0..191, so trunc==floor)
            val r = floor(i / 24).cast("long")
            val x = floor(pmod(i, lit(24)) / 3).cast("long")
            val ch = pmod(i, lit(3)).cast("long")
            val v = when(ch === 0,
                pmod(col("doc_id") + lit(7L) * x + lit(11L) * r, lit(256L)))
              .when(ch === 1,
                pmod(lit(3L) * col("doc_id") + lit(5L) * x + lit(13L) * r,
                  lit(256L)))
              .otherwise(
                pmod(lit(5L) * col("doc_id") + lit(3L) * x + lit(17L) * r,
                  lit(256L)))
            lpad(hex(v), 2, "0")
          }), "")
        val media = docs(s, dir).select(
            col("doc_id").as("media_id"), lit("bmp").as("kind"),
            unhex(concat(lit(BmpHeaderHex), pixHex)).as("bytes"),
            lit(0).as("width"), lit(0).as("height"), lit(0).as("n_frames"))
          .as[graft.operators.Multimodal.MediaRow]
        graft.operators.Multimodal
          .decodeAndEmbed(media, dim = EmbDim,
            codec = graft.operators.Multimodal.ImageIoCodec)
          .toDF()
          .select(col("media_id") +: col("out_width") +: col("out_height") +:
            (0 until EmbDim).map(d =>
              col("embedding")(d).cast("double").as(s"e$d")): _*)
          .orderBy(col("media_id"))
      },
      Some(realEmbedOracleSql)),

    // Real decode, second format: a VALID stored-deflate PNG per doc
    // (see [[pngBytes]] — lossless, no color-management chunks, so JDK
    // decode returns the formula pixels verbatim). Same luminance-grid
    // arithmetic as the BMP gate but over PNG's top-down rows — the codec
    // trait's real-decode path stops being single-format at the oracle
    // level: two container formats, two row orders, one embedding
    // contract. Blob construction is a pure function of doc_id (typed
    // map, executor-side, deterministic under retry).
    "q_mm_embed_real_png" -> Q(
      (s, dir) => {
        import s.implicits._
        val media = docs(s, dir).select(col("doc_id")).as[Long].map { id =>
          graft.operators.Multimodal.MediaRow(id, "png", pngBytes(id),
            0, 0, 0)
        }
        graft.operators.Multimodal
          .decodeAndEmbed(media, dim = EmbDim,
            codec = graft.operators.Multimodal.ImageIoCodec)
          .toDF()
          .select(col("media_id") +: col("out_width") +: col("out_height") +:
            (0 until EmbDim).map(d =>
              col("embedding")(d).cast("double").as(s"e$d")): _*)
          .orderBy(col("media_id"))
      },
      Some(realEmbedPngOracleSql)),

    // Document fingerprinting: whole-doc polyHash + min 5-shingle rolling
    // hash (winnowing-style content fingerprint, stable under reordering of
    // documents but not of content).
    // Cross-document duplicated-span coverage (ExactSubstr signal at k-gram
    // granularity): fraction of each doc's tokens inside a 5-gram shared
    // with another doc — catches pasted boilerplate document-level dedup
    // misses. Oracle rebuilds the same positional gram hashes (DuckFrag
    // shares the constants) and the same interval-merge coverage window.
    "q_pipe_dup_spans" -> Q(
      (s, dir) => Dedup.dupSpanCoverage(docs(s, dir), "text", "doc_id", k = 5)
        .orderBy(col("doc_id")),
      Some(s"""WITH toks AS (
              |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |h AS (
              |  SELECT doc_id, ${DuckFrag.shingleHashesAllSql(5)} AS l
              |  FROM toks WHERE len(w) >= 5),
              |g AS (
              |  SELECT doc_id, unnest(range(0, len(l))) AS p,
              |         unnest(l) AS gh
              |  FROM h),
              |dup AS (
              |  SELECT gh FROM (
              |    SELECT gh, count(DISTINCT doc_id) AS df FROM g GROUP BY gh)
              |  WHERE df >= 2),
              |f AS (
              |  SELECT g.doc_id, g.p,
              |         lag(g.p) OVER (PARTITION BY g.doc_id ORDER BY g.p)
              |           AS prev
              |  FROM g JOIN dup USING (gh)),
              |cov AS (
              |  SELECT doc_id, count(*) AS dup_grams,
              |         sum(CASE WHEN prev IS NULL THEN 5
              |             ELSE least(5, p - prev) END)::BIGINT AS dup_tokens
              |  FROM f GROUP BY doc_id)
              |SELECT t.doc_id, len(t.w) AS n_tokens,
              |       coalesce(c.dup_grams, 0) AS dup_grams,
              |       coalesce(c.dup_tokens, 0) AS dup_tokens,
              |       coalesce(c.dup_tokens, 0)::DOUBLE / len(t.w) AS dup_frac
              |FROM toks t LEFT JOIN cov c USING (doc_id)
              |ORDER BY t.doc_id""".stripMargin)),

    "q_pipe_fingerprint" -> Q(
      (s, dir) => docs(s, dir).select(
          col("doc_id"),
          graft.expressions.TextExpressions.polyHash(col("text")).as("fp"),
          array_min(shingleHashes(col("text"), 5)).as("min_shingle"))
        .orderBy(col("doc_id")),
      Some(s"""WITH toks AS (
              |  SELECT doc_id, text, string_split(text, ' ') AS w
              |  FROM documents)
              |SELECT doc_id, ${DuckFrag.polyHashSql("text")} AS fp,
              |       list_min(${DuckFrag.shingleHashesSql(5)}) AS min_shingle
              |FROM toks ORDER BY doc_id""".stripMargin)),

    // POSITIONAL document fingerprints — full MOSS winnowing (Schleimer
    // et al. 2003): per window of WinW consecutive WinK-gram hashes keep
    // the minimum, rightmost on ties, DISTINCT the (pos, fp) selections.
    // Guarantee: token runs >= WinW + WinK - 1 shared between two docs
    // select at least one identical fingerprint in both — so fp-equality
    // joins locate matching SPANS, which the whole-doc digest above
    // cannot. The oracle re-derives gram hashes (shared constants), the
    // same list_slice windows, and the same reversed-position rightmost
    // tie-break.
    "q_pipe_winnow" -> Q(
      (s, dir) => graft.operators.TextOps.winnowingFingerprints(
          docs(s, dir), "text", "doc_id", WinK, WinW)
        .orderBy(col("doc_id"), col("pos"), col("fp")),
      Some(s"""WITH toks AS (
              |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |h AS (
              |  SELECT doc_id, ${DuckFrag.shingleHashesAllSql(WinK)} AS g
              |  FROM toks WHERE len(w) >= $WinK),
              |win AS (
              |  SELECT doc_id,
              |         unnest(range(0, greatest(len(g) - $WinW, 0) + 1)) AS i,
              |         g
              |  FROM h),
              |sl AS (
              |  SELECT doc_id, i, list_slice(g, i + 1, i + $WinW) AS s
              |  FROM win)
              |SELECT DISTINCT doc_id,
              |  CAST(i + (len(s) - list_position(list_reverse(s),
              |    list_min(s)) + 1) AS BIGINT) AS pos,
              |  list_min(s) AS fp
              |FROM sl ORDER BY doc_id, pos, fp""".stripMargin)),

    // Matched-span extents from the winnowing fingerprints — the signal
    // the positional selection exists for: an fp-equality join finds the
    // document pairs sharing a >= WinW+WinK-1 token run (MOSS theorem),
    // and the per-pair aggregate reports shared-fp count + min/max
    // matched gram position per side. Positions collapse to ONE
    // (doc, fp) extent row before any join (within-doc multiplicity
    // can't explode the join), and fingerprints over WinDfCap documents
    // drop BEFORE the self-join (one boilerplate fp shared by d docs is
    // d^2/2 pairs — the quadratic term the cap bounds at
    // |doc-fp rows|*cap). Every shuffle carries long tuples; the text
    // never leaves the initial narrow fingerprint pass. The oracle
    // replays the position-level join — provably equal extents (min of
    // mins, max of maxes, one fp per pair per doc).
    "q_pipe_winnow_spans" -> Q(
      (s, dir) => graft.operators.TextOps.winnowingSharedSpans(
          docs(s, dir), "text", "doc_id", WinK, WinW, WinDfCap)
        .orderBy(col("doc1"), col("doc2")),
      Some(s"""WITH toks AS (
              |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |h AS (
              |  SELECT doc_id, ${DuckFrag.shingleHashesAllSql(WinK)} AS g
              |  FROM toks WHERE len(w) >= $WinK),
              |win AS (
              |  SELECT doc_id,
              |         unnest(range(0, greatest(len(g) - $WinW, 0) + 1)) AS i,
              |         g
              |  FROM h),
              |sl AS (
              |  SELECT doc_id, i, list_slice(g, i + 1, i + $WinW) AS s
              |  FROM win),
              |sel AS (
              |  SELECT DISTINCT doc_id,
              |    CAST(i + (len(s) - list_position(list_reverse(s),
              |      list_min(s)) + 1) AS BIGINT) AS pos,
              |    list_min(s) AS fp
              |  FROM sl),
              |rare AS (
              |  SELECT fp FROM (
              |    SELECT fp, count(DISTINCT doc_id) AS df FROM sel
              |    GROUP BY fp)
              |  WHERE df <= $WinDfCap)
              |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
              |       count(DISTINCT a.fp) AS n_shared,
              |       min(a.pos) AS d1_min_pos, max(a.pos) AS d1_max_pos,
              |       min(b.pos) AS d2_min_pos, max(b.pos) AS d2_max_pos
              |FROM sel a
              |JOIN rare USING (fp)
              |JOIN sel b ON b.fp = a.fp AND a.doc_id < b.doc_id
              |GROUP BY a.doc_id, b.doc_id
              |ORDER BY doc1, doc2""".stripMargin)),

    // Gopher-style n-gram repetition signals (top-gram fraction + duplicate
    // gram fraction, word-level, k = 2 and 3). Shuffle carries only
    // (doc_id, gram-hash) longs — never text (operators.Quality).
    "q_pipe_repetition" -> Q(
      (s, dir) => graft.operators.Quality
        .repetitionSignals(docs(s, dir), "text", "doc_id", Seq(2, 3))
        .orderBy(col("doc_id")),
      Some(s"""WITH toks AS (
              |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |ok AS (SELECT doc_id, w FROM toks WHERE len(w) >= 3),
              |${Seq(2, 3).map { k =>
                 s"""g$k AS (
                 |  SELECT doc_id,
                 |    unnest(${DuckFrag.shingleHashesAllSql(k)}) AS g
                 |  FROM ok),
                 |c$k AS (SELECT doc_id, g, count(*) AS n
                 |        FROM g$k GROUP BY 1, 2),
                 |s$k AS (
                 |  SELECT doc_id,
                 |    CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
                 |      AS top${k}_frac,
                 |    CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS DOUBLE) /
                 |      CAST(sum(n) AS DOUBLE) AS dup${k}_frac
                 |  FROM c$k GROUP BY 1)""".stripMargin
               }.mkString(",\n")}
              |SELECT s2.doc_id AS doc_id, top2_frac, dup2_frac,
              |       top3_frac, dup3_frac
              |FROM s2 JOIN s3 USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // Benchmark decontamination: training docs (doc_id % 20 <> 0) sharing
    // any word 3-gram with the eval slice (doc_id % 20 = 0). The eval gram
    // set is DISTINCT'd and broadcast, so the 100 TB train side is never
    // shuffled (operators.Dedup.ngramContamination). Real pipelines use
    // k ≈ 8-13; the synthetic docs are short, hence k = 3 at gate scale.
    "q_pipe_decontam" -> Q(
      (s, dir) => graft.operators.Dedup
        .ngramContamination(docs(s, dir), "text", "doc_id",
          col("doc_id") % 20 === 0, k = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id")),
      Some(s"""${shingleCte(3)},
              |e AS (SELECT DISTINCT unnest(h) AS hh FROM sh
              |      WHERE doc_id % 20 = 0),
              |t AS (SELECT doc_id, unnest(h) AS hh FROM sh
              |      WHERE doc_id % 20 <> 0)
              |SELECT t.doc_id AS doc_id, count(*) AS n_overlap
              |FROM t JOIN e USING (hh)
              |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // Bloom-compressed decontamination pre-prune (the beyond-broadcast
    // scale path — see Dedup.ngramContaminationBloom): the eval gram set
    // travels as ONE binary scalar whatever its cardinality; train grams
    // probe it with a narrow might_contain filter, no join. The Bloom bit
    // layout is Spark-internal, so DuckDB cannot replay the probe itself;
    // the gate instead uses the side-table replay pattern: the survivor
    // set is dumped to parquet and read BACK as the plan input, and BOTH
    // engines independently recompute the exact n-gram overlap and derive
    // the pre-prune invariants as DATA — per-survivor exact overlap count
    // (0 marks a Bloom false positive), `missed` = exact-contaminated docs
    // absent from the survivor set (no-false-negatives ⇒ must be 0), and
    // `fp_count` = survivors with no exact overlap. Spark derives them via
    // its shingle operators, DuckDB via SQL shingles — a Spark-side
    // shingle/bloom common-mode miss is caught by the exact gate
    // (q_pipe_decontam) this one is paired with. The FP-RATE bound stays
    // spec-pinned in DedupSpec (it needs the numBits/expectedGrams model,
    // not SQL). The flags frame (survivors ∪ contaminated — one narrow
    // row per doc with any signal) is localCheckpointed so the exact
    // shingle pipeline runs ONCE even though both the per-row output and
    // the 1-row invariant aggregate read it; at 100 TB the operator
    // itself (ngramContaminationBloom) is the product, not this
    // verification harness.
    "q_pipe_decontam_bloom" -> Q(
      (s, dir) => {
        val bloom = graft.operators.Dedup
          .ngramContaminationBloom(docs(s, dir), "text", "doc_id",
            col("doc_id") % 20 === 0, k = 3,
            expectedGrams = 100000L, numBits = 1000000L)
          .withColumnRenamed("id", "doc_id")
        writeTableAtomically(bloom, bloomDump(dir))
        val survivors = s.read.parquet(bloomDump(dir))
        val exact = graft.operators.Dedup
          .ngramContamination(docs(s, dir), "text", "doc_id",
            col("doc_id") % 20 === 0, k = 3)
          .withColumnRenamed("id", "doc_id")
        val flags = survivors.join(exact, Seq("doc_id"), "full_outer")
          .select(col("doc_id"), col("n_flagged"), col("n_overlap"))
          .localCheckpoint(true)
        val stats = flags.agg(
          count(when(col("n_flagged").isNull, lit(1))).as("missed"),
          count(when(col("n_overlap").isNull, lit(1))).as("fp_count"))
        flags.filter(col("n_flagged").isNotNull)
          .na.fill(0L, Seq("n_overlap"))
          .crossJoin(broadcast(stats))
          .select(col("doc_id"), col("n_flagged"), col("n_overlap"),
            col("missed"), col("fp_count"))
          .orderBy(col("doc_id"))
      },
      Some(s"""${shingleCte(3)},
              |e AS (SELECT DISTINCT unnest(h) AS hh FROM sh
              |      WHERE doc_id % 20 = 0),
              |t AS (SELECT doc_id, unnest(h) AS hh FROM sh
              |      WHERE doc_id % 20 <> 0),
              |ex AS (SELECT t.doc_id AS doc_id, count(*) AS n_overlap
              |       FROM t JOIN e USING (hh) GROUP BY 1),
              |bl AS (SELECT doc_id, CAST(n_flagged AS BIGINT) AS n_flagged
              |       FROM read_parquet('${BloomDumpBase}sf0.01/*.parquet')),
              |fl AS (SELECT coalesce(bl.doc_id, ex.doc_id) AS doc_id,
              |              bl.n_flagged, ex.n_overlap
              |       FROM bl FULL OUTER JOIN ex ON bl.doc_id = ex.doc_id),
              |st AS (SELECT
              |         count(CASE WHEN n_flagged IS NULL THEN 1 END)
              |           AS missed,
              |         count(CASE WHEN n_overlap IS NULL THEN 1 END)
              |           AS fp_count
              |       FROM fl)
              |SELECT doc_id, n_flagged, coalesce(n_overlap, 0) AS n_overlap,
              |       missed, fp_count
              |FROM fl CROSS JOIN st
              |WHERE n_flagged IS NOT NULL
              |ORDER BY doc_id""".stripMargin)),

    // Sequence chunking: each doc split into 8-token windows every 6
    // tokens (2-token overlap), short tail kept — the packing step that
    // turns cleaned text into model-ready chunks. Oracle mirrors the
    // window arithmetic with range()/list_slice (both engines clamp array
    // slices at the document end).
    "q_pipe_chunk" -> Q(
      (s, dir) => TextOps.chunkDocuments(docs(s, dir), "text", "doc_id",
          size = 8, stride = 6)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("chunk_idx")),
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |st AS (
             |  SELECT doc_id, w,
             |         unnest(range(0, greatest(len(w), 1), 6)) AS start
             |  FROM toks),
             |stk AS (
             |  -- mirror of chunkDocuments' redundant-tail skip: a start > 0
             |  -- whose previous window already reaches the document end
             |  -- (start + size - stride >= len) adds no new tokens
             |  SELECT * FROM st WHERE start = 0 OR start + 2 < len(w)),
             |ch AS (
             |  SELECT doc_id, start // 6 AS chunk_idx,
             |         list_slice(w, start + 1, start + 8) AS chunk
             |  FROM stk)
             |SELECT doc_id, chunk_idx,
             |       array_to_string(chunk, ' ') AS chunk_text,
             |       len(chunk) AS n_tokens
             |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin)),

    // Deterministic per-source cap (domain balancing): at most n docs per
    // source, picked by a Knuth-multiplicative id hash mirrored exactly in
    // the oracle — the hard-cap complement of rate-based q_pipe_sample.
    "q_pipe_source_cap" -> Q(
      (s, dir) => TextOps.capPerKey(
          docs(s, dir).select(col("doc_id"), col("source")),
          "source", "doc_id", n = 10)
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, source FROM (
             |  SELECT doc_id, source,
             |         row_number() OVER (PARTITION BY source
             |           ORDER BY (((doc_id % 2147483647 + 2147483647)
             |                      % 2147483647) * 2654435761)
             |                    % 2147483647, doc_id)
             |           AS rk
             |  FROM documents)
             |WHERE rk <= 10 ORDER BY doc_id""".stripMargin)),

    // Per-source TOKEN-budget selection (the mixture builder's unit of
    // account): docs taken in the capPerKey hash order while the running
    // token total stays <= 2000 — prefix property means a budget sweep only
    // ever ADDS docs. Weight = whitespace token count, shared with the
    // oracle.
    "q_pipe_token_budget" -> Q(
      (s, dir) => TextOps.selectToTokenBudget(
          docs(s, dir).select(col("doc_id"), col("source"),
            size(TextOps.tokens(col("text"))).as("n_tok")),
          "source", "doc_id", "n_tok", budget = 2000L)
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, source, n_tok, cum_tokens FROM (
             |  SELECT doc_id, source, n_tok,
             |         CAST(sum(n_tok) OVER (PARTITION BY source
             |           ORDER BY (((doc_id % 2147483647 + 2147483647)
             |                      % 2147483647) * 2654435761)
             |                    % 2147483647, doc_id
             |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
             |  FROM (SELECT doc_id, source,
             |          len(string_split(text, ' ')) AS n_tok
             |        FROM documents))
             |WHERE cum_tokens <= 2000 ORDER BY doc_id""".stripMargin)),

    // The COMPOSED corpus-cleaning pass: per-document decision record
    // (exact-dedup keeper, predicted lang, quality bounds, eval k-gram
    // contamination, final keep verdict). One gate proving the composition
    // of four independently-gated stages stays correct end-to-end — the
    // config a real cleaning run would audit before filtering 100 TB.
    "q_pipe_clean_corpus" -> Q(
      (s, dir) => graft.operators.Quality
        .cleanCorpus(docs(s, dir), "text", "doc_id",
          col("doc_id") % 20 === 0, k = 3)
        .orderBy(col("doc_id")),
      Some(s"""${shingleCte(3)},
              |e AS (SELECT DISTINCT unnest(h) AS hh FROM sh
              |      WHERE doc_id % 20 = 0),
              |t AS (SELECT doc_id, unnest(h) AS hh FROM sh
              |      WHERE doc_id % 20 <> 0),
              |c AS (SELECT doc_id, count(*) AS n_overlap FROM t
              |      JOIN e USING (hh) GROUP BY 1),
              |d AS (
              |  SELECT doc_id, md5(text) AS h, string_split(text, ' ') AS w
              |  FROM documents),
              |scored AS (
              |  SELECT doc_id, h, w, ${LangOrder.map { case (l, set) =>
                   s"${DuckFrag.stopHitsSql(set)} AS s_$l" }.mkString(", ")}
              |  FROM d),
              |q AS (
              |  SELECT doc_id, h, ${DuckFrag.langPredictSql} AS lang_pred,
              |         len(w) AS n_tokens,
              |         CAST(${DuckFrag.stopHitsSql(StopEn)} AS DOUBLE) /
              |           CAST(len(w) AS DOUBLE) AS stop_ratio
              |  FROM scored),
              |kp AS (SELECT md5(text) AS h, min(doc_id) AS keeper
              |       FROM documents GROUP BY 1),
              |rec AS (
              |  SELECT q.doc_id, (q.doc_id % 20 = 0) AS is_eval,
              |         (q.doc_id = kp.keeper) AS is_keeper, q.lang_pred,
              |         (q.n_tokens >= 10 AND q.n_tokens <= 1000
              |          AND q.stop_ratio >= 0.01) AS keep_quality,
              |         COALESCE(c.n_overlap, 0) AS n_overlap
              |  FROM q JOIN kp ON q.h = kp.h
              |  LEFT JOIN c ON c.doc_id = q.doc_id)
              |SELECT *, (NOT is_eval AND is_keeper AND keep_quality
              |           AND lang_pred = 'en' AND n_overlap <= 0) AS keep
              |FROM rec ORDER BY doc_id""".stripMargin)),

    // PII detection + redaction (operators.Quality): the testdata carries
    // no PII, so the gate deterministically injects synthetic emails /
    // phones / IPs from doc_id before counting and redacting — the regex
    // surface is what is under test. Patterns live in Quality.* and the
    // oracle embeds the SAME strings (RE2-safe subset, no lookaround).
    "q_pipe_pii_redact" -> Q(
      (s, dir) => {
        val Q_ = graft.operators.Quality
        val injected = concat(col("text"),
          when(col("doc_id") % 3 === 0, concat(lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, concat(lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0, concat(lit(" host 10.0."),
            (col("doc_id") % 256).cast("string"), lit("."),
            ((col("doc_id") * 7) % 256).cast("string")))
            .otherwise(lit("")))
        val (nEmail, nIp, nPhone) = Q_.piiCounts(col("pii_text"))
        docs(s, dir).select(col("doc_id"), injected.as("pii_text"))
          .select(col("doc_id"),
            nEmail.as("n_email"), nIp.as("n_ip"), nPhone.as("n_phone"),
            Q_.redactPii(col("pii_text")).as("redacted"))
          .filter(col("n_email") + col("n_ip") + col("n_phone") > 0)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH pii AS (
              |  SELECT doc_id, text
              |    || CASE WHEN doc_id % 3 = 0 THEN ' contact user'
              |            || doc_id || '@example.com' ELSE '' END
              |    || CASE WHEN doc_id % 5 = 0 THEN ' call 555-'
              |            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              |            ELSE '' END
              |    || CASE WHEN doc_id % 7 = 0 THEN ' host 10.0.'
              |            || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
              |            ELSE '' END AS pii_text
              |  FROM documents),
              |counted AS (
              |  SELECT doc_id,
              |    CAST(len(regexp_extract_all(pii_text,
              |      '${graft.operators.Quality.EmailRe}')) AS INTEGER)
              |      AS n_email,
              |    CAST(len(regexp_extract_all(pii_text,
              |      '${graft.operators.Quality.Ipv4Re}')) AS INTEGER)
              |      AS n_ip,
              |    CAST(len(regexp_extract_all(pii_text,
              |      '${graft.operators.Quality.PhoneRe}')) AS INTEGER)
              |      AS n_phone,
              |    regexp_replace(regexp_replace(regexp_replace(pii_text,
              |      '${graft.operators.Quality.EmailRe}', '<EMAIL>', 'g'),
              |      '${graft.operators.Quality.Ipv4Re}', '<IP>', 'g'),
              |      '${graft.operators.Quality.PhoneRe}', '<PHONE>', 'g')
              |      AS redacted
              |  FROM pii)
              |SELECT * FROM counted
              |WHERE n_email + n_ip + n_phone > 0
              |ORDER BY doc_id""".stripMargin))
  )
}
