package graft.queries

import graft.operators.TextOps._

/** DuckDB SQL fragments mirroring graft.operators.TextOps expressions.
  * Generated from the SAME Scala constants (hash family, stopword sets,
  * thresholds) so the Spark plan and the oracle can never drift apart.
  */
object DuckFrag {

  /** polyHash of a string expression (mirrors StringKernels.polyHash). */
  def polyHashSql(expr: String): String =
    s"CAST(list_reduce(list_prepend(0, list_transform(regexp_split_to_array($expr,''), " +
      s"c -> CAST(unicode(c) AS BIGINT))), (a,c) -> (a*31+c) % $PolyMod) AS BIGINT)"

  /** One k-shingle hash at 1-based token offset `i` of token list `w`:
    * left fold h = (h·31 + polyHash(token)) mod P over the k tokens
    * (mirrors TextOps.shingleHashesAll's token-hash combination). */
  def shingleHashAtSql(k: Int): String =
    (0 until k).foldLeft("CAST(0 AS BIGINT)") { (acc, j) =>
      s"(($acc * 31 + ${polyHashSql(s"w[i+$j]")}) % $PolyMod)"
    }

  /** All k-shingle hashes in order (with multiplicity) over token list
    * column `w`. */
  def shingleHashesAllSql(k: Int): String =
    s"list_transform(range(1, greatest(len(w)-$k+2, 1)), " +
      s"i -> ${shingleHashAtSql(k)})"

  /** Distinct k-shingle hash set over token list column `w`. */
  def shingleHashesSql(k: Int): String =
    s"list_distinct(${shingleHashesAllSql(k)})"

  /** 16 MinHash values of hash-set column `h` (same affine family). */
  def minHashSigSql: String =
    HashA.zip(HashB).map { case (a, b) =>
      s"list_min(list_transform(h, x -> (x*$a+$b) % $PolyMod))"
    }.mkString("[", ", ", "]")

  /** Exact Jaccard of two distinct-element list columns. */
  def jaccardSql(a: String, b: String): String =
    s"CAST(len(list_intersect($a, $b)) AS DOUBLE) / " +
      s"CAST(len($a) + len($b) - len(list_intersect($a, $b)) AS DOUBLE)"

  /** 30-bit SimHash of hash-set column `h` (mirrors TextOps.simHash30). */
  def simHash30Sql: String =
    (0 until 30).map { b =>
      s"(CASE WHEN CAST(list_sum(list_transform(h, x -> " +
        s"CASE WHEN ((x >> $b) & 1) = 1 THEN 1 ELSE -1 END)) AS BIGINT) > 0 " +
        s"THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")

  /** Multiplicity-counting stopword hits on token list `w`. */
  def stopHitsSql(set: Seq[String]): String =
    s"CAST(len(list_filter(w, t -> list_contains(${set.mkString("['", "','", "']")}, t))) AS INTEGER)"

  /** Arg-max language CASE (first in LangOrder wins ties). */
  def langPredictSql: String = {
    val best = LangOrder.map { case (l, _) => s"s_$l" }
      .reduce((a, b) => s"greatest($a, $b)")
    LangOrder.map { case (l, _) => s"WHEN s_$l = $best THEN '$l'" }
      .mkString("CASE ", " ", " ELSE 'und' END")
  }

  /** Sequential left-fold dot product of DOUBLE[] columns (matches Spark's
    * aggregate(zip_with(...)) fold order exactly). */
  def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a)+1), " +
      s"i -> $a[i] * $b[i])), (acc, x) -> acc + x)"

  /** Sequential left-fold squared L2 distance of DOUBLE[] columns (matches
    * graft.operators.Pq.l2sq's fold order exactly). */
  def l2sqSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a)+1), " +
      s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), (acc, x) -> acc + x)"

  /** Connected-component fold over a symmetric `edges(a, b)` CTE already
    * in scope: emits `lmin` and `reach` plus a final `comp(id, keeper)` =
    * min node id per component, covering exactly the nodes that appear in
    * `edges` (the same node set the Spark-side dupGroups emits; isolated
    * nodes are the caller's coalesce/left-join business).
    *
    * This replaces the naive all-seeds reachability CTE
    * (`SELECT a, a FROM edges UNION SELECT e.b, reach.r ...`), which
    * materializes Σ|component|² (node, seed) rows — at sf1 the SemDeDup
    * cells are single near-clique components of ~2.5k nodes each, and the
    * naive fold ground past every per-gate DuckDB budget (the r18
    * full-surface run needed 1800 s for the two gates carrying it). Two
    * lossless prunes fix the asymptote:
    *   - seed only from LOCAL MINIMA (`a < min(neighbors)`): the component
    *     min is always one, and a dense near-dup cluster has very few
    *     (a clique has exactly one);
    *   - propagate a label r to node b only when `r < b`: the component
    *     min m satisfies m < b for every other member, so m still floods
    *     the whole component; only never-winning labels are dropped.
    * Every node's multiset of surviving labels still contains its
    * component min, so `min(r)` per id is unchanged — verified against a
    * union-find ground truth on the sf1 pair set (377k edges, 8
    * components), 367 s → 4.6 s.
    *
    * Callers MUST declare their `pairs` CTE `AS MATERIALIZED`: DuckDB
    * 1.0 inlines plain CTEs at every reference, and `edges` sits inside
    * the RECURSIVE term — an expensive pair join (the LSH-bucket cosine
    * filter) would otherwise re-execute on every fixpoint iteration
    * (measured at sf1: q_sim_neardup_groups >300 s inlined vs 18.6 s
    * materialized, identical 17,866-row result). */
  def componentCtes: String =
    """lmin AS (SELECT a AS id FROM edges GROUP BY a HAVING a < min(b)),
      |reach(id, r) AS (
      |  SELECT id, id FROM lmin
      |  UNION
      |  SELECT e.b, reach.r FROM edges e
      |  JOIN reach ON e.a = reach.id
      |  WHERE reach.r < e.b),
      |comp AS (SELECT id, min(r) AS keeper FROM reach GROUP BY id)""".stripMargin

  /** Guarded cosine from precomputed norms — mirrors Similarity.cosine
    * EXACTLY, including the zero-norm convention: a zero-norm vector has
    * similarity 0.0 to everything (ranked last), never a division by
    * zero. Without the mirror, the first all-zero embedding in a
    * regenerated corpus makes Spark emit 0.0 while DuckDB emits inf/NULL,
    * flipping every ANN gate red with a confusing value diff. */
  def cosineSql(a: String, na: String, b: String, nb: String): String =
    s"(CASE WHEN $na * $nb > 0.0 THEN ${dotSql(a, b)} / ($na * $nb) " +
      s"ELSE 0.0 END)"

  /** Normalized coordinate `v[i] / nrm` with the zero-norm pass-through
    * guard — mirrors Sq.normed / Ivfpq.unit (zero-norm vectors stay
    * unnormalized, i.e. all zeros). */
  def unitSql(v: String, nrm: String, i: String): String =
    s"(CASE WHEN $nrm > 0.0 THEN $v[$i] / $nrm ELSE $v[$i] END)"
}
