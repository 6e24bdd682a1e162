package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.similarity.{Similarity, VecIndex}
import graft.text.TextAnalysis

import QueryTables.{t, tw}

/** Oracle-checked queries for the training-data pipeline operators
  * (dedup / similarity / text analysis) over the `documents` and
  * `embeddings` scale tables. Every Spark plan is mirrored by arithmetic-
  * identical DuckDB SQL: hashes via md5, ratios via integer scaling,
  * cosines via exact quantized-integer dot products.
  */
object PipelineQueries {

  // DuckDB building blocks mirroring TextAnalysis/Dedup ------------------

  /** tokens: whitespace split of trimmed text, empties removed. */
  private val tokSql =
    """toks AS (
      |  SELECT doc_id, lang, source, text,
      |         list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                     x -> x <> '') AS tk
      |  FROM documents)""".stripMargin

  /** word-3-gram distinct sorted shingles (mirror of Dedup.shingles n=3). */
  private val shSql =
    """sh AS (
      |  SELECT doc_id, lang, source,
      |         CASE WHEN len(tk) - 2 > 0
      |              THEN list_sort(list_distinct(list_transform(
      |                     range(1, len(tk) - 1),
      |                     i -> array_to_string(tk[i:i+2], ' '))))
      |              ELSE CAST([] AS VARCHAR[]) END AS sh
      |  FROM toks)""".stripMargin

  /** Inverted-index restatement of the blocked all-pairs shingle join
    * — the d6 lesson applied to the whole d2 oracle family (r15):
    * `sh a JOIN sh b ON block AND a.doc_id < b.doc_id` with a per-pair
    * `list_intersect` is O(N²/blocks) pairs × O(|sh|) intersects —
    * 1373 s of the d20 sf1 replay. Since `sh` is DISTINCT per doc,
    * the gram equi-join's per-pair row count IS the intersection size
    * and |A ∪ B| = |A| + |B| − |A ∩ B|, so the grouped join below is
    * BIT-IDENTICAL (measured: identical pair sets at sf0.01/sf0.1,
    * 5.4× faster at sf0.1, and the unchanged Spark side re-gates
    * green at sf1) while pairs materialize only from co-occurrence.
    */
  private val seSql =
    """se AS (
      |  SELECT doc_id, lang, source, len(sh) AS nsh, unnest(sh) AS g
      |  FROM sh)""".stripMargin

  /** `pr(id1, id2, jac)` — exact ppm Jaccard per co-occurring pair. */
  private val prJacSql =
    """pr AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2,
      |         CAST(FLOOR(CAST(COUNT(*) AS BIGINT) * 1000000
      |                    / (ANY_VALUE(a.nsh) + ANY_VALUE(b.nsh)
      |                       - COUNT(*))) AS BIGINT) AS jac
      |  FROM se a JOIN se b
      |    ON a.g = b.g AND a.lang = b.lang AND a.source = b.source
      |   AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)""".stripMargin

  /** `pr(id1, id2)` — co-occurring pairs only (the closure inputs). */
  private val prCoocSql =
    """pr AS (
      |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      |  FROM se a JOIN se b
      |    ON a.g = b.g AND a.lang = b.lang AND a.source = b.source
      |   AND a.doc_id < b.doc_id)""".stripMargin

  /** `edges`/`reach` — the symmetric edge list of `$pairs(id1, id2)` and
    * its recursive closure, every node reached under every label of its
    * component (min label = [[graft.dedup.DupClusters]]' cluster id).
    */
  private def closureSql(pairs: String): String =
    s"""edges AS (
       |  SELECT id1 AS src, id2 AS dst FROM $pairs
       |  UNION
       |  SELECT id2, id1 FROM $pairs),
       |reach AS (
       |  SELECT DISTINCT src AS node, src AS lbl FROM edges
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node)""".stripMargin

  /** The d7 closure over the blocked 3-gram co-occurrence graph, ending
    * at `reach` — d7, d8 and d23 stand on it.
    */
  private val jaccardClosureSql =
    s"""WITH RECURSIVE $tokSql,
       |$shSql,
       |$seSql,
       |$prCoocSql,
       |${closureSql("pr")}""".stripMargin

  /** MinHash(16) + LSH(4×4) banding over `sh` (mirror of
    * [[Dedup.minhashSignatures]] / [[Dedup.lshCandidatePairs]]): `hs`
    * the 28-bit md5 shingle hashes, `sig` the 16 affine-permuted minima,
    * `bands` four 4-row band keys. Shingle-less docs (< n tokens) get NO
    * signature row: the Spark side has nothing to aggregate, and an
    * all-sentinel signature would falsely band every short doc together.
    */
  private val minhashBandsSql =
    s"""$tokSql,
       |$shSql,
       |hs AS (
       |  SELECT doc_id,
       |         list_transform(sh, s -> CAST('0x' || substr(md5(s), 1, 7) AS BIGINT)) AS hs
       |  FROM sh WHERE len(sh) > 0),
       |sig AS (
       |  SELECT doc_id,
       |         list_transform(range(0, 16),
       |           i -> coalesce(list_min(list_transform(hs,
       |                  h -> (h * (i * 2 + 3) + 7919 * i) % 1000003)), 1000003)) AS sig
       |  FROM hs),
       |bands AS (
       |  SELECT doc_id, b.b AS band_idx,
       |         array_to_string(sig[b.b*4+1:b.b*4+4], '-') AS band_sig
       |  FROM sig, (SELECT unnest(range(4)) AS b) b)""".stripMargin

  /** `cand(id1, id2)` — band-equal doc pairs, id1 < id2 (d3's pair set). */
  private val lshCandSql =
    """cand AS (
      |  SELECT DISTINCT b1.doc_id AS id1, b2.doc_id AS id2
      |  FROM bands b1 JOIN bands b2
      |    ON b1.band_idx = b2.band_idx AND b1.band_sig = b2.band_sig
      |   AND b1.doc_id < b2.doc_id)""".stripMargin

  /** Matching signature positions per `cand` pair — d3's output rows. */
  private val lshEstSql =
    """SELECT c.id1, c.id2,
      |       CAST(list_sum(list_transform(range(0, 16),
      |              i -> CASE WHEN s1.sig[CAST(i AS INT)+1] = s2.sig[CAST(i AS INT)+1]
      |                        THEN 1 ELSE 0 END)) AS INT) AS est_matches
      |FROM cand c
      |JOIN sig s1 ON s1.doc_id = c.id1
      |JOIN sig s2 ON s2.doc_id = c.id2""".stripMargin

  /** Deterministic 90/5/5 train/val/test label of `$id` over `$src` — the
    * mirror of `Sampling.hashUniformPpm($id, "split")`, t10's split.
    */
  private def splitSql(id: String, src: String): String =
    s"""SELECT $id,
       |       CASE WHEN ppm < 900000 THEN 'train'
       |            WHEN ppm < 950000 THEN 'val'
       |            ELSE 'test' END AS split
       |FROM (
       |  SELECT $id,
       |         CAST('0x' || substr(md5(CAST($id AS VARCHAR) || '|split'), 1, 15) AS BIGINT)
       |           % 1000000 AS ppm
       |  FROM $src)""".stripMargin

  /** T1's integer quality score over `n_tok`, `n_chr`, `n_pun` and the
    * stopword-hit count `$hits` (mirror of [[TextAnalysis.qualityScore]]).
    */
  private def qualitySql(hits: String): String =
    s"""LEAST(100, n_tok)
       |+ CASE WHEN n_tok > 0
       |       THEN LEAST(100, CAST(FLOOR($hits * 500 / n_tok) AS INT))
       |       ELSE 0 END
       |+ 100 - CASE WHEN n_chr > 0
       |       THEN LEAST(100, CAST(FLOOR(n_pun * 300 / n_chr) AS INT))
       |       ELSE 0 END""".stripMargin

  /** BM25/TF-IDF inputs for the fixed query (join, scan, merge): per-doc
    * `base(doc_id, dl, tf_*)` over `toks`.
    */
  private val bm25BaseSql =
    """base AS (
      |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
      |         CAST(len(list_filter(tk, x -> x = 'join')) AS BIGINT) AS tf_join,
      |         CAST(len(list_filter(tk, x -> x = 'scan')) AS BIGINT) AS tf_scan,
      |         CAST(len(list_filter(tk, x -> x = 'merge')) AS BIGINT) AS tf_merge
      |  FROM toks)""".stripMargin

  /** Per-term document frequencies and the corpus size — `stats` columns. */
  private val bm25DfSql =
    """CAST(SUM(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_join,
      |CAST(SUM(CASE WHEN tf_scan > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_scan,
      |CAST(SUM(CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_merge,
      |(SELECT COUNT(*) FROM documents) AS n_all""".stripMargin

  /** t23's BM25 score over `base, stats`, per-term sums in FIXED order. */
  private val bm25ScoreSql =
    """CAST(length(bin((n_all + 1) // (df_join + 1))) AS BIGINT)
      |  * CAST(22 * tf_join * tl AS DOUBLE)
      |  / CAST(10 * tl * tf_join + 3 * tl + 9 * dl * n_all AS DOUBLE)
      |+ CAST(length(bin((n_all + 1) // (df_scan + 1))) AS BIGINT)
      |  * CAST(22 * tf_scan * tl AS DOUBLE)
      |  / CAST(10 * tl * tf_scan + 3 * tl + 9 * dl * n_all AS DOUBLE)
      |+ CAST(length(bin((n_all + 1) // (df_merge + 1))) AS BIGINT)
      |  * CAST(22 * tf_merge * tl AS DOUBLE)
      |  / CAST(10 * tl * tf_merge + 3 * tl + 9 * dl * n_all AS DOUBLE)""".stripMargin

  /** Exact KMV(64) estimate over md5-40-bit content hashes (t4's one-shot
    * sketch), open-ended so callers may add output columns before
    * `FROM topk`.
    */
  private val kmvEstimateSql =
    s"""WITH h AS (
       |  SELECT DISTINCT CAST('0x' || substr(md5(text), 1, 10) AS BIGINT) AS hh
       |  FROM documents),
       |topk AS (SELECT hh FROM h ORDER BY hh LIMIT 64)
       |SELECT CAST(CASE WHEN COUNT(*) < 64 THEN COUNT(*)
       |            ELSE ${63L * graft.sketch.Sketch.HashSpace} // MAX(hh) END
       |       AS BIGINT) AS distinct_estimate,
       |       COUNT(*) AS sketch_size""".stripMargin

  /** Per-language token-budget shard manifest (t19's cumulative-sum
    * arithmetic) at `$budget` tokens per shard.
    */
  private def shardManifestSql(budget: Long): String =
    s"""WITH $tokSql,
       |v AS (SELECT lang, doc_id, CAST(len(tk) AS BIGINT) AS tok FROM toks),
       |w AS (SELECT lang, doc_id, tok,
       |        CAST(SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id
       |               ROWS UNBOUNDED PRECEDING) - tok AS BIGINT) AS start_off
       |      FROM v)
       |SELECT lang, CAST(start_off // $budget AS BIGINT) AS shard_id,
       |       COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS tok_sum,
       |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM w
       |GROUP BY lang, shard_id
       |ORDER BY lang, shard_id""".stripMargin

  /** τ=½ mixture weights over `sup(lang, supply_tokens)`: `w` the integer
    * √supply per language, `tot` the supply and weight totals (mirror of
    * the temperature weights in [[graft.sampling.Sampling]]).
    */
  private val sqrtWeightsSql =
    """w AS (
      |  SELECT lang, supply_tokens,
      |         CAST(floor(sqrt(CAST(supply_tokens AS DOUBLE))) AS BIGINT)
      |           AS weight_s
      |  FROM sup),
      |tot AS (
      |  SELECT CAST(SUM(supply_tokens) AS BIGINT) AS t,
      |         CAST(SUM(weight_s) AS BIGINT) AS sw
      |  FROM w)""".stripMargin

  /** `cells(source, r, bucket, cnt)` — the 4×512 count-min grid of
    * `tok2(source, token)` per source (mirror of
    * [[graft.sketch.Sketch.cmsJoinSize]]'s md5 row hashes).
    */
  private val cmsCellsSql =
    """rr AS (SELECT unnest([0, 1, 2, 3]) AS r),
      |cells AS (
      |  SELECT source, r,
      |         CAST('0x' || substr(md5(r || ':' || token), 1, 10)
      |              AS BIGINT) % 512 AS bucket,
      |         COUNT(*) AS cnt
      |  FROM tok2 CROSS JOIN rr GROUP BY 1, 2, 3)""".stripMargin

  /** The lineitem columns the column profilers (a9/a12/a15/a17) cover. */
  private val profileCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** One profiler leg of column `$c`: exact non-null count, min, max and
    * row count, with the distinct estimate `$est.nd` of the subquery the
    * caller cross-joins as `$est`.
    */
  private def profileLegSql(c: String, est: String): String =
    s"""SELECT '$c' AS column_name, s.n_nonnull, $est.nd AS n_distinct_est,
       |  s.min_v, s.max_v, s.n_rows
       |FROM (SELECT CAST(COUNT($c) AS BIGINT) AS n_nonnull,
       |             CAST(MIN($c) AS DOUBLE) AS min_v,
       |             CAST(MAX($c) AS DOUBLE) AS max_v,
       |             CAST(COUNT(*) AS BIGINT) AS n_rows
       |      FROM lineitem) s""".stripMargin

  /** The KMV(256) estimate `$est` of a column from its minima (the a12
    * sketch, exact below 256 distinct values), over [[kmv256MinimaSql]].
    */
  private def kmv256EstSql(est: String): String =
    s"""CAST(CASE WHEN COUNT(*) < 256 THEN COUNT(*)
       |            ELSE ${255L * graft.sketch.Sketch.HashSpace} // MAX(hh)
       |            END AS BIGINT) AS $est""".stripMargin

  /** The 256 smallest md5-40-bit hashes of lineitem column `$c`. */
  private def kmv256MinimaSql(c: String): String =
    s"""SELECT hh FROM (
       |    SELECT DISTINCT CAST('0x' ||
       |        substr(md5(CAST($c AS VARCHAR)), 1, 10) AS BIGINT) AS hh
       |    FROM lineitem WHERE $c IS NOT NULL)
       |  ORDER BY hh LIMIT 256""".stripMargin

  // DuckDB building blocks mirroring Similarity ---------------------------

  /** `SELECT $cols, qv FROM $src` — the ×1000 rounding quantizer of
    * `embedding` (mirror of [[Similarity.quantize]]).
    */
  private def quantizeSql(cols: String, src: String): String =
    s"""SELECT $cols,
       |         list_transform(embedding,
       |           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
       |  FROM $src""".stripMargin

  private val qSql = s"qv AS (\n  ${quantizeSql("vec_id", "embeddings")})"

  private def dotSql(a: String, b: String): String =
    s"CAST(list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[])) AS BIGINT)"

  /** IEEE cosine of two quantized vectors from their exact integer dots,
    * NULL when either norm is zero (mirror of [[Similarity.cosineFromQ]]).
    */
  private def cosineSql(a: String, b: String): String =
    s"""CASE WHEN ${dotSql(a, a)} > 0 AND ${dotSql(b, b)} > 0
       |              THEN CAST(${dotSql(a, b)} AS DOUBLE) /
       |                   sqrt(CAST(${dotSql(a, a)} * ${dotSql(b, b)} AS DOUBLE))
       |         END""".stripMargin

  /** Exact integer test cosine(a, b) ≥ `$ppm`/10⁶ in HUGEINT (mirror of
    * `graft.functions.cosine_gate_ppm`) — no float at the boundary.
    */
  private def cosineGateSql(a: String, b: String, ppm: Long): String =
    s"""${dotSql(a, b)} > 0
       |    AND CAST(${dotSql(a, b)} AS HUGEINT) * ${dotSql(a, b)}
       |        * 1000000 * 1000000
       |        >= CAST(${dotSql(a, a)} AS HUGEINT) * ${dotSql(b, b)}
       |           * $ppm * $ppm""".stripMargin

  /** Per-`$key` cosine rank over `$src(…, neighbor_id, cosine)`: NULL
    * cosines last, ties to the smaller neighbor (bruteForceTopK's order).
    */
  private def rankSql(key: String, src: String): String =
    s"""SELECT *, row_number() OVER (PARTITION BY $key
       |            ORDER BY cosine DESC NULLS LAST, neighbor_id) AS rank
       |  FROM $src""".stripMargin

  /** The tail every ANN oracle ends with: rank `scored` per query and
    * output `query_id, rank, $cols` for rank ≤ `$k`.
    */
  private def topKSql(k: Int, cols: String): String =
    s"""ranked AS (
       |  ${rankSql("query_id", "scored")})
       |SELECT query_id, CAST(rank AS INT) AS rank, $cols
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** The exact top-5 reference set of the recall queries: `ex_scored`
    * (brute force over the 1-in-20 `$key` sample) and `exact($key,
    * neighbor_id)`.
    */
  private def exactTop5Sql(key: String): String =
    s"""ex_scored AS (
       |  SELECT q.vec_id AS $key, c.vec_id AS neighbor_id,
       |         ${cosineSql("q.qv", "c.qv")} AS cosine
       |  FROM qv q, qv c
       |  WHERE q.vec_id % 20 = 0 AND q.vec_id <> c.vec_id),
       |exact AS (
       |  SELECT $key, neighbor_id FROM (
       |    ${rankSql(key, "ex_scored")}) WHERE rank <= 5)""".stripMargin

  /** Per-query recall of `approx` against `exact` (s11's tail). */
  private val recallSql =
    """SELECT e.query_id, COUNT(*) AS n_exact,
      |       CAST(COALESCE(SUM(CASE WHEN a.neighbor_id IS NOT NULL
      |                              THEN 1 ELSE 0 END), 0) AS BIGINT) AS hits,
      |       CAST(COALESCE(SUM(CASE WHEN a.neighbor_id IS NOT NULL
      |                              THEN 1 ELSE 0 END), 0) * 1000000
      |            // COUNT(*) AS BIGINT) AS recall_ppm
      |FROM exact e LEFT JOIN approx a
      |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
      |GROUP BY e.query_id
      |ORDER BY e.query_id""".stripMargin

  /** Per-`$key` recall of `$approx` (aliased `$a`) against `exact`, with
    * the hit test on `$a.$key` (s22/s23's tail).
    */
  private def keyedRecallSql(key: String, approx: String, a: String): String =
    s"""SELECT e.$key AS $key, CAST(COUNT(*) AS BIGINT) AS n_exact,
       |       CAST(COALESCE(SUM(CASE WHEN $a.$key IS NOT NULL
       |                               THEN 1 ELSE 0 END), 0) AS BIGINT) AS hits,
       |       CAST(COALESCE(SUM(CASE WHEN $a.$key IS NOT NULL
       |                               THEN 1 ELSE 0 END), 0) * 1000000
       |            // COUNT(*) AS BIGINT) AS recall_ppm
       |FROM exact e LEFT JOIN $approx $a
       |  ON e.$key = $a.$key AND e.neighbor_id = $a.neighbor_id
       |GROUP BY e.$key
       |ORDER BY e.$key""".stripMargin

  /** Scale-aware ANN oracle constants — [[Similarity.scaledBits]] and
    * [[Similarity.scaledCentroids]] replayed in SQL, so one oracle text
    * is correct at EVERY scale factor (the former literal 8/16 were only
    * right while the embeddings corpus stayed under 4096 rows; the sf1
    * ratchet crosses that). `ceil(log2(buckets))` equals the Scala
    * `64 - nlz(buckets - 1)` for buckets >= 2; the greatest(2, ·) floor
    * lands in the same max(8, ·) clamp as Scala's buckets <= 1 case.
    */
  private val annParamsSql =
    """params AS (
      |  SELECT least(24, greatest(8,
      |           CAST(ceil(log2(greatest(2, count(*) // 64))) AS INT))) AS bits,
      |         CASE WHEN count(*) <= 4096 THEN 16
      |              ELSE least(65536, CAST(ceil(sqrt(count(*))) AS BIGINT))
      |         END AS k
      |  FROM embeddings)""".stripMargin

  /** `rp(i, r)` — `$n` deterministic Rademacher hyperplanes over 64 dims
    * (the md5 mirror of [[Similarity.randomProjection]]'s ±1 planes).
    */
  private def hyperplanesSql(n: String): String =
    s"""rp AS (
       |  SELECT i.i AS i,
       |         list_transform(range(0, 64),
       |           j -> CASE WHEN CAST('0x' || substr(md5('rp-' || i.i || '-' || j),
       |                               1, 1) AS INT) % 2 = 0
       |                     THEN 1 ELSE -1 END) AS r
       |  FROM (SELECT unnest(range($n)) AS i) i)""".stripMargin

  /** `bk(vec_id, qv, bucket)` — the `params.bits`-bit sign bucket of
    * every `qv` vector (mirror of [[Similarity.signBucket]]).
    */
  private val signBucketSql =
    """bk AS (
      |  SELECT vec_id, qv,
      |         CAST(list_sum(list_transform(range(0, p.bits),
      |           j -> CASE WHEN qv[CAST(j AS INT)+1] > 0
      |                     THEN (1 << CAST(j AS INT)) ELSE 0 END)) AS INT) AS bucket
      |  FROM qv, params p)""".stripMargin

  /** `cent(centroid_id, nrm, cv)` — the `params.k` md5 hash centroids over
    * 64 dims, L2-normalized to the ×1000 scale (mirror of
    * [[Similarity.ivfCentroids]]).
    */
  private val hashCentroidsSql =
    """cent AS (
      |  SELECT centroid_id,
      |         greatest(1.0, sqrt(list_sum(list_transform(raw,
      |           x -> CAST(x * x AS DOUBLE))))) AS nrm,
      |         list_transform(raw,
      |           x -> CAST(trunc(x * 1000.0 / nrm) AS BIGINT)) AS cv
      |  FROM (
      |    SELECT c.c AS centroid_id,
      |           list_transform(range(0, 64),
      |             d -> CAST('0x' || substr(md5('ivf-' || c.c || '-' || d), 1, 7) AS BIGINT)
      |                  % 2001 - 1000) AS raw
      |    FROM (SELECT unnest(range((SELECT k FROM params))) AS c) c))""".stripMargin

  /** Nearest-centroid rank of every `$src` vector (`$cols` from `v`)
    * against `$cents(centroid_id, cv)`: exact integer squared distance,
    * ties to the smaller id — `rk = 1` is the IVF assignment.
    */
  private def centroidRanksSql(cols: String, src: String, cents: String): String =
    s"""SELECT $cols, c.centroid_id,
       |       row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |         ${dotSql("v.qv", "v.qv")} - 2 * ${dotSql("v.qv", "c.cv")}
       |           + ${dotSql("c.cv", "c.cv")} ASC, c.centroid_id) AS rk
       |FROM $src v CROSS JOIN $cents c""".stripMargin

  /** Single-list IVF assignment `(vec_id, qv, centroid_id)` of `qv`. */
  private def assignSql(cents: String): String =
    s"""SELECT vec_id, qv, centroid_id FROM (
       |  ${centroidRanksSql("v.vec_id, v.qv", "qv", cents)}) WHERE rk = 1""".stripMargin

  /** Multi-probe sides over `ranks`: `assignq` (each `% $queryMod` query's
    * `$nprobe` nearest lists) and `assignc` (the corpus, single-list).
    */
  private def probeSidesSql(nprobe: Int, queryMod: Int): String =
    s"""assignq AS (
       |  SELECT vec_id, qv, centroid_id FROM ranks
       |  WHERE rk <= $nprobe AND vec_id % $queryMod = 0),
       |assignc AS (SELECT vec_id, qv, centroid_id FROM ranks WHERE rk = 1)""".stripMargin

  /** `$name(query_id, neighbor_id, cosine)` — cosine of every `$q` query
    * against the `$c` vectors of the same centroid list.
    */
  private def listScoredSql(name: String, q: String, c: String): String =
    s"""$name AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         ${cosineSql("q.qv", "c.qv")} AS cosine
       |  FROM $q q JOIN $c c
       |    ON q.centroid_id = c.centroid_id AND q.vec_id <> c.vec_id)""".stripMargin

  /** The planted-leakage embeddings (the m4/d18 re-ingest pattern): every
    * `vec_id % 17 = 0` vector re-enters under +10⁷ (ids < 10⁷ only, the
    * planted offset's domain) — the `aug` CTE of [[plantedEmbeddings]].
    */
  private val augSql =
    """aug AS (
      |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10000000
      |  UNION ALL
      |  SELECT vec_id + 10000000, embedding
      |  FROM embeddings WHERE vec_id % 17 = 0 AND vec_id < 10000000)""".stripMargin

  /** The s21 decontamination inputs over `aug`: quantized vectors with
    * their squared norms `nn`, split labels `sp`, and the val∪test side
    * `ev` that the exact asymmetric scan confirms against `nn`.
    */
  private val plantedEvalSql =
    s"""$augSql,
       |nv AS (
       |  ${quantizeSql("vec_id", "aug")}),
       |nn AS (SELECT vec_id, qv, ${dotSql("qv", "qv")} AS nsq FROM nv),
       |sp AS (
       |  ${splitSql("vec_id", "aug")}),
       |ev AS (
       |  SELECT n.vec_id, n.qv, n.nsq FROM nn n JOIN sp s USING (vec_id)
       |  WHERE s.split <> 'train')""".stripMargin

  /** The planted-leakage corpus, the Spark twin of [[augSql]]: every
    * `vec_id % 17 = 0` embedding re-enters under +10⁷ with an independent
    * split hash, so identical vectors straddle splits at every scale.
    * id-range guard: planted re-ingests live at vec_id + 10⁷ (no-op at
    * gate scales; collision-proof domain bound at any other).
    */
  private def plantedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val emb0 = t(s, dir, "embeddings").filter(col("vec_id") < 10000000L)
    emb0.unionByName(emb0.filter(col("vec_id") % 17 === 0)
      .withColumn("vec_id", col("vec_id") + 10000000L))
  }

  /** The 90/5/5 train/val/test label of `id` — t10's split, the Spark twin
    * of [[splitSql]].
    */
  private def splitLabel(id: String): Column = {
    val u = graft.sampling.Sampling.hashUniformPpm(col(id), "split")
    when(u < 900000L, "train").when(u < 950000L, "val").otherwise("test")
  }

  // ------------------------------------------------------------------ text

  /** T1–T4 — token counts, quality score, language ID, rolling-hash
    * fingerprint, content hash: the full text-analysis layer in one pass.
    */
  val tTextStats = QueryDef("t_text_stats",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      // Sort FIRST, project the heavy per-row expressions (8 regex/hash
      // passes over the full text) AFTER: the ordered output needs a range
      // exchange anyway, and putting the projection above it runs the
      // CPU-bound pass at full cluster width instead of at scan
      // parallelism — which for a compact source (one parquet row group
      // per file is common after compaction) can be a single task. The
      // explicit partition count keeps AQE from coalescing the tiny
      // shuffle back to one partition (AQE sizes by shuffle bytes and
      // cannot see per-row CPU cost). Same rows, same order, one shuffle
      // either way.
      val width = s.conf.get("spark.sql.shuffle.partitions").toInt
      docs.repartitionByRange(width, col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.subwordCount(col("text")).as("n_subwords"),
        TextAnalysis.punctCount(col("text")).as("n_punct"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.langId(col("text")).as("lang_guess"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"),
        TextAnalysis.contentHash(col("text")).as("content_hash"))
    },
    Some(s"""
      |WITH $tokSql,
      |st AS (
      |  SELECT doc_id, text, tk,
      |         len(tk) AS n_tok,
      |         length(text) AS n_chr,
      |         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_let,
      |         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_dig,
      |         length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS n_pun,
      |         len(list_intersect(tk, ['the','of','and','to','in','is','for','on','with','as'])) AS en_hits,
      |         len(list_intersect(tk, ['de','la','que','el','en','y','los','del','las','por'])) AS es_hits
      |  FROM toks)
      |SELECT doc_id,
      |       CAST(n_tok AS INT) AS n_tokens,
      |       CAST((n_let + 3) // 4 + n_dig + n_pun AS BIGINT) AS n_subwords,
      |       CAST(n_pun AS INT) AS n_punct,
      |       CAST(${qualitySql("(en_hits + es_hits)")}
      |            AS BIGINT) AS quality,
      |       CASE WHEN en_hits > es_hits THEN 'en'
      |            WHEN es_hits > en_hits THEN 'es' ELSE 'und' END AS lang_guess,
      |       CASE WHEN n_chr > 0 THEN
      |         list_reduce(list_transform(range(1, n_chr + 1),
      |                                    i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS BIGINT)),
      |                     (a, b) -> (a * 31 + b) % 2147483647)
      |       END AS fingerprint,
      |       md5(text) AS content_hash
      |FROM st
      |ORDER BY doc_id
      |""".stripMargin))

  /** T5 — corpus profile: per-language doc counts, exact token/char
    * totals and distinct-content cardinality — the dataset-curation
    * dashboard numbers (one hash-aggregate pass; all metrics are
    * integer-exact so the oracle matches bit-for-bit).
    */
  val t2CorpusProfile = QueryDef("t2_corpus_profile",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      docs.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("total_tokens"),
          sum(length(col("text")).cast("long")).as("total_chars"),
          countDistinct(TextAnalysis.contentHash(col("text"))).as("distinct_contents"))
        .orderBy(col("lang"))
    },
    Some("""
      |WITH st AS (
      |  SELECT lang, text,
      |         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                         x -> x <> '')) AS n_tok,
      |         length(text) AS n_chr,
      |         md5(text) AS h
      |  FROM documents)
      |SELECT lang, COUNT(*) AS n_docs,
      |       CAST(SUM(CAST(n_tok AS BIGINT)) AS BIGINT) AS total_tokens,
      |       CAST(SUM(CAST(n_chr AS BIGINT)) AS BIGINT) AS total_chars,
      |       COUNT(DISTINCT h) AS distinct_contents
      |FROM st GROUP BY lang
      |ORDER BY lang
      |""".stripMargin))

  /** T6 — deterministic corpus downsampling: a 25% hash-Bernoulli sample
    * plus a per-language quota of 30, both decided by md5-derived
    * uniforms (reproducible on any engine/partitioning — no RNG seeds).
    */
  val t3DeterministicSample = QueryDef("t3_deterministic_sample",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val sampled = graft.sampling.Sampling.hashSample(docs, "doc_id", 250000L)
      graft.sampling.Sampling.stratifiedQuota(sampled, "lang", "doc_id", 30)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
    Some("""
      |WITH u AS (
      |  SELECT doc_id, lang,
      |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|sample'), 1, 15) AS BIGINT)
      |           % 1000000 AS ppm
      |  FROM documents),
      |sampled AS (SELECT * FROM u WHERE ppm < 250000),
      |ranked AS (
      |  SELECT doc_id, lang,
      |         row_number() OVER (PARTITION BY lang ORDER BY ppm, doc_id) AS rk
      |  FROM sampled)
      |SELECT doc_id, lang FROM ranked WHERE rk <= 30
      |ORDER BY doc_id
      |""".stripMargin))

  // ----------------------------------------------------------------- dedup

  /** D1 — exact dedup keep-list over a corpus with synthesized duplicates
    * (docs with doc_id % 10 == 0 are repeated under a shifted id): one
    * winner (min id) + dupe count per distinct content.
    */
  val d1ExactDedup = QueryDef("d1_exact_dedup",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val dupes = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000)
      Dedup.exactDedup(docs.unionByName(dupes), "text", "doc_id")
        .orderBy(col("content_hash"))
    },
    Some("""
      |WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0)
      |SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
      |       COUNT(*) AS dupe_count
      |FROM corpus
      |GROUP BY md5(text)
      |ORDER BY content_hash
      |""".stripMargin))

  /** D2 — blocked n-gram Jaccard near-dup pairs: exact ppm similarity over
    * distinct word 3-grams, blocked by (lang, source). Only pairs with a
    * nonzero intersection exist (inverted-index join semantics).
    */
  val d2JaccardPairs = QueryDef("d2_jaccard_pairs",
    (s, dir) => jaccardPairsShared(s, dir)
      .orderBy(col("jaccard_ppm").desc, col("id1"), col("id2")),
    Some(s"""
      |WITH $tokSql,
      |$shSql,
      |$seSql,
      |$prJacSql
      |SELECT id1, id2, jac AS jaccard_ppm
      |FROM pr
      |ORDER BY jaccard_ppm DESC, id1, id2
      |""".stripMargin))

  /** D6 — shared-long-window pairs (8-token windows, ≥3 shared): the
    * exact-substring duplication signal; inverted-index join, never
    * all-pairs. The oracle uses the same inverted-index shape — the
    * original all-pairs `a JOIN b ON id1 < id2` with a per-pair
    * list_intersect was semantically identical but O(N²): 125k pairs at
    * the sf0.01 gate, 2.5 BILLION at the sf1 ratchet, where DuckDB ran
    * >100 minutes without finishing. Since `w` is distinct per doc, the
    * per-pair row count of the window-keyed equi-join IS the
    * intersection size, and pairs materialize only from co-occurrence.
    */
  val d6SharedWindows = QueryDef("d6_shared_windows",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.sharedWindowPairs(docs, "doc_id", "text", 8, 3)
        .orderBy(col("id1"), col("id2"))
    },
    Some("""
      |WITH toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                             x -> x <> '') AS tk
      |  FROM documents),
      |w8 AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |           range(1, GREATEST(len(tk) - 7, 0) + 1),
      |           i -> array_to_string(list_slice(tk, CAST(i AS INT), CAST(i AS INT) + 7), ' '))) AS w
      |  FROM toks),
      |e AS (SELECT doc_id, unnest(w) AS s FROM w8)
      |SELECT a.doc_id AS id1, b.doc_id AS id2,
      |       CAST(COUNT(*) AS BIGINT) AS shared_windows
      |FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING COUNT(*) >= 3
      |ORDER BY id1, id2
      |""".stripMargin))

  /** T5 — token-length histogram per language (fixed 16-token buckets):
    * the corpus length profile every training-data pipeline plots. One
    * hash aggregate; buckets are exact integer floor-division.
    */
  val t5TokenHistogram = QueryDef("t5_token_histogram",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("lang"),
          (TextAnalysis.tokenCount(col("text")).cast("long") / 16)
            .cast("long").as("bucket"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("bucket"))
    },
    Some(s"""
      |WITH $tokSql
      |SELECT lang, CAST(len(tk) // 16 AS BIGINT) AS bucket,
      |       COUNT(*) AS n_docs
      |FROM toks
      |GROUP BY lang, bucket
      |ORDER BY lang, bucket
      |""".stripMargin))

  /** T6 — exact interpolated token-length quantiles per language:
    * `percentile` (exact, sort-based) rather than `approx_percentile`
    * (whose sketch is merge-order-dependent — nondeterministic across
    * partitionings). DuckDB's `quantile_cont` implements the same
    * linear-interpolation definition, and the interpolated halves of
    * small integers are exact doubles — bit-identical on both engines.
    */
  val t6LengthQuantiles = QueryDef("t6_length_quantiles",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .groupBy(col("lang"))
        .agg(expr("percentile(n_tokens, array(0.25D, 0.5D, 0.75D, 0.9D))")
          .as("q_arr"))
        .select(col("lang"),
          element_at(col("q_arr"), 1).cast("double").as("p25"),
          element_at(col("q_arr"), 2).cast("double").as("p50"),
          element_at(col("q_arr"), 3).cast("double").as("p75"),
          element_at(col("q_arr"), 4).cast("double").as("p90"))
        .orderBy(col("lang"))
    },
    Some(s"""
      |WITH $tokSql
      |SELECT lang,
      |       CAST(quantile_cont(len(tk), 0.25) AS DOUBLE) AS p25,
      |       CAST(quantile_cont(len(tk), 0.50) AS DOUBLE) AS p50,
      |       CAST(quantile_cont(len(tk), 0.75) AS DOUBLE) AS p75,
      |       CAST(quantile_cont(len(tk), 0.90) AS DOUBLE) AS p90
      |FROM toks
      |GROUP BY lang
      |ORDER BY lang
      |""".stripMargin))

  /** T8 — length-weighted deterministic sampling
    * ([[graft.sampling.Sampling.weightedSample]]): each document keeps
    * with probability proportional to its token count (capped at 1) —
    * the curation move that tilts a training mix toward substantial
    * documents without a second pass. Same md5 uniforms as t3, so the
    * oracle replays the exact decisions.
    */
  val t8WeightedSample = QueryDef("t8_weighted_sample",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.sampling.Sampling.weightedSample(docs, "doc_id",
          TextAnalysis.tokenCount(col("text")).cast("long") * 5000L)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
    Some("""
      |WITH u AS (
      |  SELECT doc_id, lang,
      |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|wsample'), 1, 15) AS BIGINT)
      |           % 1000000 AS ppm,
      |         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                         x -> x <> '')) AS n_tok
      |  FROM documents)
      |SELECT doc_id, lang FROM u
      |WHERE ppm < LEAST(1000000, GREATEST(0, n_tok * 5000))
      |ORDER BY doc_id
      |""".stripMargin))

  /** T10 — deterministic train/val/test split (90/5/5): the same
    * md5-uniform machinery as t3/t8 assigns every document a split
    * label that is a pure function of its id — stable across runs,
    * partitionings, and engines, so a row can never leak between
    * splits when the corpus is rebuilt.
    */
  val t10SplitAssignment = QueryDef("t10_split_assignment",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"), splitLabel("doc_id").as("split"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      |${splitSql("doc_id", "documents")}
      |ORDER BY doc_id
      |""".stripMargin))

  /** T11 — context-window chunking ([[TextAnalysis.chunkRows]]): 64-token
    * chunks with 16 tokens of overlap (step 48). Chunk text rides as an
    * md5 so the output stays narrow; the oracle re-derives every chunk
    * with the same slice arithmetic.
    */
  val t11Chunking = QueryDef("t11_chunking",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.chunkRows(docs, "doc_id", "text", 64, 16)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"),
          md5(col("chunk_text").cast("binary")).as("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    Some(s"""
      |WITH $tokSql,
      |st AS (SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0),
      |ch AS (
      |  SELECT doc_id,
      |         unnest(range(0, GREATEST(n - 17, 0) // 48 + 1)) AS chunk_idx,
      |         tk, n
      |  FROM st)
      |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
      |       CAST(LEAST(64, n - chunk_idx * 48) AS INT) AS chunk_tokens,
      |       md5(array_to_string(
      |         tk[CAST(chunk_idx * 48 + 1 AS INT):CAST(chunk_idx * 48 + 64 AS INT)], ' ')) AS chunk_hash
      |FROM ch
      |ORDER BY doc_id, chunk_idx
      |""".stripMargin))

  /** T9 — corpus-wide top tokens: explode → hash-aggregate (map-side
    * combine collapses per-partition repeats) → `TakeOrderedAndProject`
    * for the top 25 (never a full sort). Vocabulary/stopword analysis
    * over the whole corpus in one shuffle on the token key.
    */
  val t9TopTokens = QueryDef("t9_top_tokens",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(25)
    },
    Some("""
      |SELECT token, COUNT(*) AS n
      |FROM (SELECT unnest(list_filter(
      |        regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS token
      |      FROM documents)
      |GROUP BY token
      |ORDER BY n DESC, token
      |LIMIT 25
      |""".stripMargin))

  /** D11 — incremental dedup through [[Dedup.bloomNewRows]]: incoming
    * batch minus the corpus, with the bloom prefilter deciding which
    * incoming rows pay the exact anti-join. The oracle is the plain
    * NOT IN — the bloom is an execution strategy, not a semantics
    * change, and this query proves it (any false-negative in the bloom
    * path would hash-mismatch). Corpus bloom sized from parquet footer
    * counts, not a count() job.
    */
  val d11BloomNewDocs = QueryDef("d11_bloom_new_docs",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val key = TextAnalysis.contentHash(col("text")).as("content_hash")
      val corpus = docs.filter(col("doc_id") % 3 =!= 0).select(key)
      val incoming = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), key)
      Dedup.bloomNewRows(corpus, incoming, "content_hash",
          Tables.rowCount(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },
    Some("""
      |WITH corpus AS (
      |  SELECT md5(text) AS content_hash FROM documents WHERE doc_id % 3 <> 0),
      |inc AS (
      |  SELECT doc_id, md5(text) AS content_hash FROM documents
      |  WHERE doc_id % 2 = 0)
      |SELECT doc_id, content_hash FROM inc
      |WHERE content_hash NOT IN (SELECT content_hash FROM corpus)
      |ORDER BY doc_id
      |""".stripMargin))

  /** T13 — within-doc repetition ratio ([[Dedup.repetitionStats]]):
    * boilerplate/degenerate-text detection. All scan-stage expression
    * work — the oracle recomputes the identical integer ppm.
    */
  val t13Repetition = QueryDef("t13_repetition",
    (s, dir) => {
      Dedup.repetitionStats(t(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy(col("doc_id"))
    },
    Some("""
      |WITH toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                             x -> x <> '') AS tk
      |  FROM documents),
      |w AS (
      |  SELECT doc_id,
      |         CAST(GREATEST(len(tk) - 2, 0) AS BIGINT) AS windows,
      |         CAST(len(list_distinct(list_transform(
      |           range(1, GREATEST(len(tk) - 2, 0) + 1),
      |           i -> array_to_string(list_slice(tk, CAST(i AS INT), CAST(i AS INT) + 2), ' ')))) AS BIGINT) AS distinct_windows
      |  FROM toks)
      |SELECT doc_id, windows, distinct_windows,
      |       CAST(CASE WHEN windows > 0
      |                 THEN ((windows - distinct_windows) * 1000000) // windows
      |                 ELSE 0 END AS BIGINT) AS repetition_ppm
      |FROM w ORDER BY doc_id
      |""".stripMargin))

  /** T12 — Misra–Gries heavy hitters
    * ([[graft.sketch.Sketch.MisraGriesAggregator]]) run in its exact
    * regime: capacity 64 far exceeds the event-type vocabulary, so no
    * decrement ever fires and the sketch's lower-bound counts equal the
    * true counts — which is what makes the sketch oracle-checkable
    * against a plain GROUP BY. The plan ships ≤ 64 (string, long)
    * counters per map partition instead of one key per distinct value,
    * the property that matters when the vocabulary is 100 TB-scale.
    */
  val t12HeavyHitters = QueryDef("t12_heavy_hitters",
    (s, dir) => {
      val mg = udaf(graft.sketch.Sketch.MisraGriesAggregator(64))
      t(s, dir, "events")
        .agg(mg(col("event_type")).as("mg"))
        .select(explode(col("mg")).as(Seq("event_type", "cnt")))
        .orderBy(col("event_type"))
    },
    Some("""
      |SELECT event_type, COUNT(*) AS cnt
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type
      |""".stripMargin))

  /** T7 — per-group KMV distinct estimate via the typed
    * [[graft.sketch.Sketch.KmvAggregator]] UDAF: the group-by form of
    * t4. Map-side partial aggregation ships ≤ k longs per (partition,
    * group); the oracle recomputes the identical k-minima per group
    * with a window — the estimator is a pure function of the data.
    */
  val t7KmvByGroup = QueryDef("t7_kmv_by_group",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.sketch.Sketch.kmvEstimateByGroup(
          docs.select(col("lang"),
            graft.sketch.Sketch.hash40(col("text")).as("h")),
          Seq("lang"), "h", 64)
        .orderBy(col("lang"))
    },
    Some(s"""
      |WITH h AS (
      |  SELECT DISTINCT lang,
      |         CAST('0x' || substr(md5(text), 1, 10) AS BIGINT) AS hh
      |  FROM documents),
      |r AS (
      |  SELECT lang, hh,
      |         row_number() OVER (PARTITION BY lang ORDER BY hh) AS rn
      |  FROM h),
      |topk AS (SELECT lang, hh, rn FROM r WHERE rn <= 64)
      |SELECT lang,
      |       CAST(CASE WHEN COUNT(*) < 64 THEN COUNT(*)
      |            ELSE ${63L * graft.sketch.Sketch.HashSpace} // MAX(hh) END
      |       AS BIGINT) AS distinct_estimate,
      |       COUNT(*) AS sketch_size
      |FROM topk GROUP BY lang
      |ORDER BY lang
      |""".stripMargin))

  /** D7 — duplicate clusters: transitive closure of the n-gram Jaccard
    * pair graph ([[graft.dedup.DupClusters.connectedComponents]] — min-
    * label propagation + pointer jumping). The oracle computes the same
    * closure with a recursive CTE: every node labeled with the minimum
    * id reachable through the symmetric edge list.
    */
  /** Session-memoized cluster membership of the Jaccard pair graph: d7
    * reports it and d8 elects keepers from it — the closure (iterative,
    * already checkpointed per round) runs once per (session, table), not
    * once per query. The memo holds a checkpointed frame of
    * O(paired docs) rows — index-sized, not corpus-sized.
    */
  /** Blocked 3-gram Jaccard pairs of the documents table, memoized per
    * (session, table) — the [[minhashSigs]] materialized-view idiom (r16):
    * d2 reports this frame, [[dupMembers]]'s closure consumes it, and
    * d20 weights medoids with it, so the shingle self-join (the pair
    * family's one corpus-scale computation) runs once per session, not
    * three times. Lazy checkpoint: building a query never runs a job;
    * the frame is O(near-dup pairs) — index-sized.
    */
  private def jaccardPairsShared(s: SparkSession, dir: String): DataFrame =
    SessionViews(s, dir, "jacc") {
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", 3,
          Seq("lang", "source"))
        .localCheckpoint(eager = false)
    }

  private def dupMembers(s: SparkSession, dir: String): DataFrame =
    SessionViews(s, dir, "cc") {
      val pairs = jaccardPairsShared(s, dir).select(col("id1"), col("id2"))
      graft.dedup.DupClusters.connectedComponents(pairs, "id1", "id2")
    }

  val d7DupClusters = QueryDef("d7_dup_clusters",
    (s, dir) => dupMembers(s, dir)
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id")),
    Some(s"""
      |$jaccardClosureSql
      |SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
      |FROM reach GROUP BY node
      |ORDER BY doc_id
      |""".stripMargin))

  /** D8 — canonical-document election after clustering: one keeper per
    * duplicate cluster (most tokens, ties to the smallest id) plus the
    * cluster size — the keep-one policy a dedup pass applies downstream
    * of D7. Spark side is a single struct-argmax hash aggregate (no
    * window sort); the oracle mirrors with a deterministic row_number.
    */
  val d8CanonicalDocs = QueryDef("d8_canonical_docs",
    (s, dir) => graft.dedup.DupClusters
      .canonicalPerCluster(dupMembers(s, dir), t(s, dir, "documents"),
        "doc_id", "text")
      .orderBy(col("cluster_id")),
    Some(s"""
      |$jaccardClosureSql,
      |comp AS (
      |  SELECT node AS id, min(lbl) AS cluster_id FROM reach GROUP BY node),
      |ranked AS (
      |  SELECT c.cluster_id,
      |         count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size,
      |         t.doc_id AS keep_id,
      |         CAST(len(t.tk) AS INT) AS keep_tokens,
      |         row_number() OVER (PARTITION BY c.cluster_id
      |           ORDER BY len(t.tk) DESC, t.doc_id ASC) AS rn
      |  FROM comp c JOIN toks t ON t.doc_id = c.id)
      |SELECT cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
      |       keep_id, keep_tokens
      |FROM ranked WHERE rn = 1
      |ORDER BY cluster_id
      |""".stripMargin))

  /** D9 — benchmark decontamination ([[Dedup.contaminationCheck]]):
    * treat source `src0` as the held-out benchmark and flag every other
    * document sharing ≥2 eight-token windows with it. The pre-training
    * hygiene pass that keeps test items out of the training corpus;
    * inverted-index join, linear in collisions.
    */
  val d9Contamination = QueryDef("d9_contamination",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationCheck(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text", 8, minShared = 2)
        .orderBy(col("doc_id"))
    },
    Some("""
      |WITH toks AS (
      |  SELECT doc_id, source,
      |         list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                     x -> x <> '') AS tk
      |  FROM documents),
      |w8 AS (
      |  SELECT doc_id, source, list_distinct(list_transform(
      |           range(1, GREATEST(len(tk) - 7, 0) + 1),
      |           i -> array_to_string(list_slice(tk, CAST(i AS INT), CAST(i AS INT) + 7), ' '))) AS w
      |  FROM toks),
      |c AS (SELECT doc_id, unnest(w) AS s FROM w8 WHERE source <> 'src0'),
      |b AS (SELECT doc_id AS bench_id, unnest(w) AS s FROM w8 WHERE source = 'src0')
      |SELECT c.doc_id AS doc_id,
      |       COUNT(DISTINCT s) AS contaminated_windows,
      |       COUNT(DISTINCT bench_id) AS benchmark_docs
      |FROM c JOIN b USING (s)
      |GROUP BY c.doc_id HAVING COUNT(DISTINCT s) >= 2
      |ORDER BY doc_id
      |""".stripMargin))

  /** D3 — MinHash(16)+LSH(4×4) candidate pairs with exact signature-match
    * counts. The banding join is the only shuffle; signatures are per-row
    * expressions.
    */
  /** MinHash(16) signatures memoized per (session, table): d3 and d10
    * both band the SAME signatures — one checkpointed computation,
    * shared like [[dupMembers]]' pair graph. Lazy checkpoint: building
    * a query must never run a Spark job.
    */
  private def minhashSigs(s: SparkSession, dir: String): DataFrame =
    SessionViews(s, dir, "sig") {
      Dedup.minhashSignatures(
          t(s, dir, "documents"), "doc_id", "text", 3, 16)
        .localCheckpoint(eager = false)
    }

  /** LSH(4×4) candidate pairs over [[minhashSigs]], memoized per
    * (session, table) — r16: SIX queries (d3, d10, d15, d16, d17, d19)
    * re-ran the identical banding self-join + distinct from the shared
    * signatures; the candidate frame is O(colliding pairs), far smaller
    * than the signature frame, so one lazy-checkpointed materialization
    * serves them all (the [[minhashSigs]] idiom one level up).
    */
  private def lshCandsShared(s: SparkSession, dir: String): DataFrame =
    SessionViews(s, dir, "lshCand") {
      Dedup.lshCandidatePairs(minhashSigs(s, dir), "doc_id", "sig", 4, 4)
        .localCheckpoint(eager = false)
    }

  val d3MinhashLsh = QueryDef("d3_minhash_lsh",
    (s, dir) => lshCandsShared(s, dir).orderBy(col("id1"), col("id2")),
    Some(s"""
      |WITH $minhashBandsSql,
      |$lshCandSql
      |$lshEstSql
      |ORDER BY id1, id2
      |""".stripMargin))

  /** D10 — sketch calibration: for every LSH candidate pair, the
    * MinHash-ESTIMATED similarity (matching signature positions / k)
    * next to the EXACT n-gram Jaccard — the measurement that tells a
    * pipeline whether its banding threshold is honest before trusting
    * it at full scale. Exact sets join in only for the candidate pairs
    * (never all-pairs), so the diagnostic costs O(candidates).
    */
  val d10SketchCalibration = QueryDef("d10_sketch_calibration",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val cands = lshCandsShared(s, dir) // id prune + final join share it
      // r16 (guide §3.2 / §5): the exact shingle SETS are consumed only
      // through INNER joins on the candidate ids, so building them over
      // the whole corpus paid a corpus-wide collect_set shuffle of
      // per-doc arrays for rows the join then discarded. Restricting the
      // set build to candidate endpoints first is an identity on the
      // result; the id list is LSH-candidate-bounded (the query's own
      // output grain), so the broadcast is index-sized, never
      // corpus-sized.
      val candIds = cands.select(col("id1").as("doc_id"))
        .union(cands.select(col("id2").as("doc_id"))).distinct()
      val sets = Dedup.shingleRows(
          docs.join(broadcast(candIds), Seq("doc_id"), "left_semi"),
          "doc_id", "text", 3)
        .groupBy(col("doc_id")).agg(collect_set(col("s")).as("sh"))
      cands
        .join(sets.select(col("doc_id").as("id1"), col("sh").as("sh1")), "id1")
        .join(sets.select(col("doc_id").as("id2"), col("sh").as("sh2")), "id2")
        .withColumn("inter",
          size(array_intersect(col("sh1"), col("sh2"))).cast("long"))
        .select(col("id1"), col("id2"), col("est_matches"),
          expr("est_matches * 1000000L DIV 16").as("est_ppm"),
          floor(col("inter") * 1000000L /
            (size(col("sh1")) + size(col("sh2")) - col("inter")))
            .as("exact_ppm"))
        .orderBy(col("id1"), col("id2"))
    },
    Some(s"""
      |WITH $minhashBandsSql,
      |$lshCandSql,
      |est AS (
      |  SELECT c.id1, c.id2,
      |         CAST(list_sum(list_transform(range(0, 16),
      |                i -> CASE WHEN s1.sig[CAST(i AS INT)+1] = s2.sig[CAST(i AS INT)+1]
      |                          THEN 1 ELSE 0 END)) AS INT) AS est_matches
      |  FROM cand c
      |  JOIN sig s1 ON s1.doc_id = c.id1
      |  JOIN sig s2 ON s2.doc_id = c.id2)
      |SELECT e.id1, e.id2, est_matches,
      |       est_matches * 1000000 // 16 AS est_ppm,
      |       CAST(FLOOR(CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) * 1000000
      |                  / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))))
      |            AS BIGINT) AS exact_ppm
      |FROM est e
      |JOIN sh a ON a.doc_id = e.id1
      |JOIN sh b ON b.doc_id = e.id2
      |ORDER BY id1, id2
      |""".stripMargin))

  /** D4 — 60-bit SimHash per document plus blocked near-dup pairs
    * (hamming ≤ 16 within the same lang).
    */
  val d4Simhash = QueryDef("d4_simhash",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.simhashes(docs, "doc_id", "text").orderBy(col("doc_id"))
    },
    Some("""
      |WITH toks AS (
      |  SELECT doc_id,
      |         list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                     x -> x <> '') AS tk
      |  FROM documents),
      |th AS (
      |  SELECT doc_id, unnest(list_transform(tk,
      |           t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT))) AS h
      |  FROM toks),
      |bits AS (
      |  SELECT doc_id, j.j AS j, SUM(((h >> j.j) & 1) * 2 - 1) AS s
      |  FROM th, (SELECT unnest(range(60)) AS j) j
      |  GROUP BY doc_id, j.j),
      |sh AS (
      |  SELECT doc_id,
      |         SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
      |                  ELSE 0 END) AS simhash
      |  FROM bits GROUP BY doc_id)
      |SELECT doc_id, CAST(simhash AS BIGINT) AS simhash FROM sh
      |ORDER BY doc_id
      |""".stripMargin))

  /** D4b — SimHash near-dup pairs: hamming distance ≤ 5, blocked by lang.
    * Candidates come from 6×10-bit band-equality joins (pigeonhole-complete
    * for radius 5 — see [[Dedup.simhashNearDupPairs]]), NOT from an
    * all-pairs product within a language: at 100 TB one language is the
    * whole corpus and a lang-blocked self-join is quadratic.
    */
  val d4SimhashPairs = QueryDef("d4_simhash_pairs",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val sh = Dedup.simhashes(docs, "doc_id", "text", carry = Seq("lang"))
        .localCheckpoint(eager = false) // band rows + signature joins share one computation
      Dedup.simhashNearDupPairs(sh, "doc_id", "simhash",
          radius = 5, blockCols = Seq("lang"))
        .orderBy(col("id1"), col("id2"))
    },
    Some("""
      |WITH toks AS (
      |  SELECT doc_id, lang,
      |         list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                     x -> x <> '') AS tk
      |  FROM documents),
      |th AS (
      |  SELECT doc_id, lang, unnest(list_transform(tk,
      |           t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT))) AS h
      |  FROM toks),
      |bits AS (
      |  SELECT doc_id, lang, j.j AS j, SUM(((h >> j.j) & 1) * 2 - 1) AS s
      |  FROM th, (SELECT unnest(range(60)) AS j) j
      |  GROUP BY doc_id, lang, j.j),
      |sh AS (
      |  SELECT doc_id, lang,
      |         CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
      |                  ELSE 0 END) AS BIGINT) AS simhash
      |  FROM bits GROUP BY doc_id, lang)
      |SELECT a.doc_id AS id1, b.doc_id AS id2,
      |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      |FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 5
      |ORDER BY id1, id2
      |""".stripMargin))

  // ------------------------------------------------------------ similarity

  /** S1 — brute-force cosine top-5 for the query subset vec_id % 20 == 0:
    * the exact baseline every ANN variant is measured against.
    */
  val s1AnnBruteForce = QueryDef("s1_ann_brute_force",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 20 === 0)
      Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""
      |WITH $qSql,
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         ${dotSql("q.qv", "c.qv")} AS dot_q,
      |         ${cosineSql("q.qv", "c.qv")} AS cosine
      |  FROM qv q, qv c
      |  WHERE q.vec_id % 20 = 0 AND q.vec_id <> c.vec_id),
      |${topKSql(5, "neighbor_id, dot_q, cosine")}
      |""".stripMargin))

  /** S2 — sign-bucket LSH ANN: top-3 within the query's 8-bit sign bucket.
    * The scale path: corpus partitionable by bucket, no all-pairs scan.
    */
  val s2AnnBucketed = QueryDef("s2_ann_bucketed",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      // bits scale with corpus size (== 8, the oracle's constant, at the
      // driver's verification scales — SimilaritySpec pins this). Corpus
      // cardinality comes from parquet footer metadata (Tables.rowCount),
      // NOT df.count(): the builder must not run a full-corpus job.
      Similarity.bucketedTopK(emb, "vec_id", "embedding", 3,
          bits = Similarity.scaledBits(Tables.rowCount(s, dir, "embeddings")))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""
      |WITH $qSql,
      |$annParamsSql,
      |$signBucketSql,
      |scored AS (
      |  SELECT q.bucket, q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         ${cosineSql("q.qv", "c.qv")} AS cosine
      |  FROM bk q JOIN bk c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id),
      |${topKSql(3, "neighbor_id, bucket, cosine")}
      |""".stripMargin))

  /** S3 — IVF ANN (nprobe=1): deterministic md5-derived coarse centroids,
    * exact-integer nearest-centroid assignment, top-3 within the query's
    * list. Complements the sign-bucket LSH variant; at scale the corpus is
    * stored partitioned by centroid list.
    */
  val s3AnnIvf = QueryDef("s3_ann_ivf",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      // nCentroids scales ~sqrt(corpus) (== 16, the oracle's constant, at
      // the driver's verification scales — SimilaritySpec pins this);
      // sized from footer metadata, not a count() job (see s2).
      Similarity.ivfTopK(emb, "vec_id", "embedding", 3,
          nCentroids = Similarity.scaledCentroids(Tables.rowCount(s, dir, "embeddings")))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""
      |WITH $qSql,
      |$annParamsSql,
      |$hashCentroidsSql,
      |assign AS (
      |  ${assignSql("cent")}),
      |scored AS (
      |  SELECT q.centroid_id, q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         ${cosineSql("q.qv", "c.qv")} AS cosine
      |  FROM assign q JOIN assign c
      |    ON q.centroid_id = c.centroid_id AND q.vec_id <> c.vec_id),
      |${topKSql(3, "neighbor_id, centroid_id, cosine")}
      |""".stripMargin))

  /** S4 — multi-probe IVF (nprobe=4): each query searches its 4 nearest
    * coarse lists, the corpus stays single-list — the recall lever that
    * makes IVF usable at 100 TB without re-partitioning the corpus.
    */
  val s4AnnIvfProbe = QueryDef("s4_ann_ivf_probe",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopKProbe(emb, "vec_id", "embedding", 5,
          nCentroids = Similarity.scaledCentroids(
            Tables.rowCount(s, dir, "embeddings")), nprobe = 4,
          queryFilter = col("vec_id") % 20 === 0)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""
      |WITH $qSql,
      |$annParamsSql,
      |$hashCentroidsSql,
      |ranks AS (
      |  ${centroidRanksSql("v.vec_id, v.qv", "qv", "cent")}),
      |${probeSidesSql(4, 20)},
      |${listScoredSql("scored", "assignq", "assignc")},
      |${topKSql(5, "neighbor_id, cosine")}
      |""".stripMargin))

  /** T23 — BM25 retrieval scoring (integer-idf variant), the classic
    * lexical search ranking over the corpus for a fixed 3-term query.
    * Every piece is engine-exact: tf is computed SCAN-SIDE per document
    * with an array filter (no explode, no shuffle of the vocabulary);
    * the tf-saturation core is the exact rational
    * `(k1+1)·tf / (tf + k1·(1−b+b·dl/avgdl))` cleared of floats by
    * multiplying through by `10·total_len` (k1=1.2, b=0.75 →
    * numerator 22·tf·TL, denominator 10·TL·tf + 3·TL + 9·dl·N — all
    * integers); idf is the dampened integer `floor(log2((N+1)/(df+1)))+1`
    * (length-of-binary, the t20 convention — a float log's last ulp
    * could flip ranks between engines). Per-term scores are one
    * correctly-rounded double division each and the query score sums
    * them in FIXED textual order, so both engines produce bit-identical
    * doubles. Corpus stats (df per term, total length, N) reduce to ONE
    * broadcast row — the whole query is one scan + one bounded agg +
    * a top-10.
    */
  val t23Bm25 = QueryDef("t23_bm25",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val n = Tables.rowCount(s, dir, "documents")
      val terms = Seq("join", "scan", "merge")
      val base = docs.select(col("doc_id"),
        TextAnalysis.tokens(col("text")).as("tk"))
      val withTf = terms.foldLeft(
        base.withColumn("dl", size(col("tk")).cast("long"))) {
          case (df, term) => df.withColumn(s"tf_$term",
            size(filter(col("tk"), x => x === term)).cast("long"))
        }.drop("tk").localCheckpoint(eager = false) // stats + scores share it
      val statAggs = sum(col("dl")).as("tl") +:
        terms.map(tm =>
          sum(when(col(s"tf_$tm") > 0, 1L).otherwise(0L)).as(s"df_$tm"))
      val stats = withTf.agg(statAggs.head, statAggs.tail: _*)
      val scored = withTf.crossJoin(broadcast(stats))
      val perTerm = terms.map { tm =>
        val idf = (length(bin(expr(
          s"CAST(${n + 1} AS BIGINT) div (df_$tm + 1)")))).cast("long")
        (idf * (lit(22L) * col(s"tf_$tm") * col("tl")).cast("double") /
          (lit(10L) * col("tl") * col(s"tf_$tm") + lit(3L) * col("tl") +
            lit(9L) * col("dl") * lit(n)).cast("double")).as(s"s_$tm")
      }
      scored.select((col("doc_id") +: col("dl") +:
          terms.map(tm => col(s"tf_$tm"))) ++ perTerm: _*)
        .withColumn("score",
          col("s_join") + col("s_scan") + col("s_merge"))
        .drop("s_join", "s_scan", "s_merge")
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
    },
    Some(s"""
      |WITH $tokSql,
      |$bm25BaseSql,
      |stats AS (
      |  SELECT CAST(SUM(dl) AS BIGINT) AS tl, COUNT(*) AS n,
      |         $bm25DfSql
      |  FROM base),
      |scored AS (
      |  SELECT doc_id, dl, tf_join, tf_scan, tf_merge,
      |    $bm25ScoreSql
      |      AS score
      |  FROM base, stats)
      |SELECT doc_id, dl, tf_join, tf_scan, tf_merge, score
      |FROM scored
      |ORDER BY score DESC, doc_id
      |LIMIT 10
      |""".stripMargin))

  /** S9 — filtered ANN FROM THE INDEX (s4's multi-probe IVF with s8's
    * metadata predicate): the corpus filter is fused BEFORE assignment
    * and scoring, so excluded rows never cost a quantization, a list
    * assignment, or a dot product — and k never under-fills, unlike
    * post-filtering the top-k. This is the production serving shape:
    * at 100 TB the filter prunes the index scan (partition/footer
    * stats) and the probe reads only its lists. The oracle replays the
    * full md5-centroid assignment with the same predicate.
    */
  val s9AnnIvfFiltered = QueryDef("s9_ann_ivf_filtered",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopKProbe(emb, "vec_id", "embedding", 5,
          nCentroids = Similarity.scaledCentroids(
            Tables.rowCount(s, dir, "embeddings")), nprobe = 4,
          queryFilter = col("vec_id") % 20 === 0,
          corpusFilter = col("label") % 2 === 0)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""
      |WITH qvl AS (
      |  ${quantizeSql("vec_id, label", "embeddings")}),
      |$annParamsSql,
      |$hashCentroidsSql,
      |ranks AS (
      |  ${centroidRanksSql("v.vec_id, v.label, v.qv", "qvl", "cent")}),
      |assignq AS (
      |  SELECT vec_id, qv, centroid_id FROM ranks
      |  WHERE rk <= 4 AND vec_id % 20 = 0),
      |assignc AS (
      |  SELECT vec_id, qv, centroid_id FROM ranks
      |  WHERE rk = 1 AND label % 2 = 0),
      |${listScoredSql("scored", "assignq", "assignc")},
      |${topKSql(5, "neighbor_id, cosine")}
      |""".stripMargin))

  /** Trained centroids memoized per (session, dir): training runs
    * `iterations + 1` small jobs (the smallest-id init collect plus one
    * assign+mean pass per round), so it happens once per session, not
    * once per query build. The entry holds k × dims longs — no
    * checkpoint blocks to pin.
    */
  private def trainedCents(s: SparkSession, dir: String): Seq[(Int, Seq[Long])] =
    SessionViews(s, dir, "cent") {
      Similarity.trainIvfCentroids(t(s, dir, "embeddings"), "vec_id",
        "embedding",
        Similarity.scaledCentroids(Tables.rowCount(s, dir, "embeddings")))
    }

  /** Oracle for the trained-IVF path: replays
    * [[Similarity.trainIvfCentroids]] exactly — deterministic
    * smallest-id init, then `iterations` UNROLLED Lloyd's rounds (one
    * assign + per-dim mean CTE trio per round: nearest centroid by exact
    * integer distance with ties to the smaller id, centroid update by
    * truncating-division mean `(s - s % n) / n` which matches Scala Long
    * division on negative sums where DuckDB's float division would not,
    * empty lists keeping their previous centroid) — then the
    * multi-probe search under the final centroids, shaped like s4's.
    */
  private def trainedIvfSql(dims: Int, iterations: Int,
      nprobe: Int, topK: Int, queryMod: Int): String = {
    val iterCtes = (1 to iterations).map { i =>
      s"""a$i AS (
         |  ${assignSql(s"c${i - 1}")}),
         |m$i AS (
         |  SELECT a.centroid_id, dd.d AS d,
         |         SUM(a.qv[CAST(dd.d AS INT)+1]) AS s, COUNT(*) AS n
         |  FROM a$i a, dims dd
         |  GROUP BY a.centroid_id, dd.d),
         |c$i AS (
         |  SELECT p.centroid_id, COALESCE(m.cv, p.cv) AS cv
         |  FROM c${i - 1} p LEFT JOIN (
         |    SELECT centroid_id,
         |           list(CAST((s - (s % n)) / n AS BIGINT) ORDER BY d) AS cv
         |    FROM m$i GROUP BY centroid_id) m
         |    ON m.centroid_id = p.centroid_id)""".stripMargin
    }.mkString(",\n")
    s"""
       |WITH $qSql,
       |$annParamsSql,
       |dims AS (SELECT unnest(range($dims)) AS d),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS centroid_id,
       |         qv AS cv
       |  FROM qv
       |  QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT k FROM params)),
       |$iterCtes,
       |ranks AS (
       |  ${centroidRanksSql("v.vec_id, v.qv", "qv", s"c$iterations")}),
       |${probeSidesSql(nprobe, queryMod)},
       |${listScoredSql("scored", "assignq", "assignc")},
       |${topKSql(topK, "neighbor_id, cosine")}
       |""".stripMargin
  }

  /** S5 — trained-IVF multi-probe ANN, the production entry point
    * ([[Similarity.ivfTrainedTopK]]'s two halves): k-means-trained coarse
    * lists follow the data distribution so no list degenerates into a
    * corpus-sized cell, then the s4-shaped multi-probe search. The
    * oracle replays the ENTIRE training loop in SQL — this row gates
    * the trained path's arithmetic end-to-end, not just its specs.
    */
  val s5AnnIvfTrained = QueryDef("s5_ann_ivf_trained",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopKProbeWith(emb, "vec_id", "embedding", 5,
          trainedCents(s, dir), nprobe = 4,
          queryFilter = col("vec_id") % 20 === 0)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(trainedIvfSql(dims = 64, iterations = 5, nprobe = 4,
      topK = 5, queryMod = 20)))

  /** Trained on-disk index, built once per (session, dir) like
    * [[ivfIndexDir]] but with the k-means centroids — the layout the
    * FULL production path serves from.
    */
  private def trainedIndexDir(s: SparkSession, dir: String): String =
    SessionViews(s, dir, "trainedIdx") {
      val path = TempStores.dir("graft-ivf-trained") + "/index"
      Similarity.writeIvfIndex(t(s, dir, "embeddings"), "vec_id",
        "embedding", path, trainedCents(s, dir))
      path
    }

  /** S7 — the COMPLETE production serving path in one gate row:
    * k-means-trained centroids ([[Similarity.trainIvfCentroids]]),
    * corpus persisted `partitionBy(centroid_id)` with its sidecar
    * ([[Similarity.writeIvfIndex]]), queries multi-probing their 4
    * nearest lists against the RELOADED index
    * ([[Similarity.readIvfCentroids]] + [[Similarity.ivfTopKFromIndex]]).
    * The oracle is byte-for-byte s5's unrolled-k-means SQL — so the gate
    * proves store-served trained search ≡ in-memory trained search ≡ the
    * DuckDB replay of the entire training + probe arithmetic.
    */
  val s7AnnTrainedStore = QueryDef("s7_ann_trained_store",
    (s, dir) => {
      val path = trainedIndexDir(s, dir)
      val cents = Similarity.readIvfCentroids(s, path)
      Similarity.ivfTopKFromIndex(s,
          t(s, dir, "embeddings").filter(col("vec_id") % 20 === 0),
          "vec_id", "embedding", path, 5, cents, nprobe = 4)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(trainedIvfSql(dims = 64, iterations = 5, nprobe = 4,
      topK = 5, queryMod = 20)))

  /** On-disk IVF index built once per (session, dir): the quantized
    * corpus written `partitionBy(centroid_id)` with its `_centroids`
    * sidecar ([[Similarity.writeIvfIndex]]) into a temp dir — the
    * durable layout a 100 TB deployment would keep for years. Memoized
    * so bench iterations re-SERVE, not re-build.
    */
  private def ivfIndexDir(s: SparkSession, dir: String): String =
    SessionViews(s, dir, "idx") {
      val path = TempStores.dir("graft-ivf-index") + "/index"
      Similarity.writeIvfIndex(t(s, dir, "embeddings"), "vec_id",
        "embedding", path,
        Similarity.ivfCentroids(Similarity.scaledCentroids(
          Tables.rowCount(s, dir, "embeddings")), 64))
      path
    }

  /** S6 — IVF ANN served FROM THE PERSISTED INDEX: centroids reloaded
    * from the sidecar, corpus read from the `centroid_id=` partition
    * dirs, queries probing their single nearest list. Must equal s3's
    * in-memory answer (same centroids, same assignment, same ranking) —
    * the oracle is s3's minus the centroid_id column, so the gate
    * proves the store path returns the identical ANN result.
    */
  val s6AnnIvfStore = QueryDef("s6_ann_ivf_store",
    (s, dir) => {
      val path = ivfIndexDir(s, dir)
      val cents = Similarity.readIvfCentroids(s, path)
      Similarity.ivfTopKFromIndex(s, t(s, dir, "embeddings"), "vec_id",
          "embedding", path, 3, cents, nprobe = 1)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""
      |WITH $qSql,
      |$annParamsSql,
      |$hashCentroidsSql,
      |assign AS (
      |  ${assignSql("cent")}),
      |${listScoredSql("scored", "assign", "assign")},
      |${topKSql(3, "neighbor_id, cosine")}
      |""".stripMargin))

  /** D5 — embedding-cosine near-duplicate pairs at threshold 0.40, decided
    * in exact integer arithmetic (no float boundary), blocked by sign
    * bucket. Threshold chosen NON-VACUOUS for the synthetic embeddings
    * (4 pairs at sf0.01, 24 at sf0.1 — the original 0.55 matched zero
    * pairs at every scale, so the oracle row never checked a single
    * pair's arithmetic).
    */
  val d5CosineNearDup = QueryDef("d5_cosine_near_dup",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 400000L,
          bits = Similarity.scaledBits(Tables.rowCount(s, dir, "embeddings")))
        .orderBy(col("id1"), col("id2"))
    },
    Some(s"""
      |WITH $qSql,
      |$annParamsSql,
      |$signBucketSql
      |SELECT a.vec_id AS id1, b.vec_id AS id2,
      |       ${dotSql("a.qv", "b.qv")} AS dot_q
      |FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      |WHERE ${cosineGateSql("a.qv", "b.qv", 400000L)}
      |ORDER BY id1, id2
      |""".stripMargin))

  /** T7 — KMV distinct-count sketch over document content: an
    * engine-portable cardinality estimate (md5 k-minima are a pure
    * function of the data, so the oracle reproduces the sketch AND the
    * estimate exactly — impossible with HyperLogLog).
    */
  val t4KmvDistinct = QueryDef("t4_kmv_distinct",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.sketch.Sketch.kmvEstimate(docs, "text", 64)
    },
    Some(s"""
      |$kmvEstimateSql
      |FROM topk
      |""".stripMargin))

  // ------------------------------------------------------------ multimodal

  /** M1 — multimodal metadata decode: binary media column (synthesized
    * md5-byte blobs) → typed metadata via the batched mapPartitions stub
    * codec. The oracle recomputes the byte arithmetic from the md5 hex.
    */
  val m1MediaMeta = QueryDef("m1_media_meta",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val media = graft.multimodal.Multimodal.synthesizeFromDocs(docs)
      graft.multimodal.Multimodal.decodeMeta(media).toDF()
        .orderBy(col("media_id"))
    },
    Some("""
      |WITH m AS (
      |  SELECT doc_id AS media_id,
      |         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |              ELSE 'video' END AS kind,
      |         md5(text) AS h
      |  FROM documents)
      |SELECT media_id, kind,
      |       CAST(1 + (CAST('0x' || substr(h, 1, 2) AS INT) & 127) AS INT) AS width,
      |       CAST(1 + (CAST('0x' || substr(h, 3, 2) AS INT) & 127) AS INT) AS height,
      |       CAST(8000 + 100 * CAST('0x' || substr(h, 5, 2) AS INT) AS INT) AS sample_rate,
      |       CAST(1000 + 100 * CAST('0x' || substr(h, 7, 2) AS INT) AS BIGINT) AS duration_ms,
      |       CASE kind WHEN 'image' THEN 'png' WHEN 'audio' THEN 'wav'
      |            ELSE 'mp4' END AS format
      |FROM m
      |ORDER BY media_id
      |""".stripMargin))

  /** M2 — multimodal → similarity composition: stub feature vectors (16
    * dims from the md5 bytes, exactly representable k/128 floats) ranked
    * by the same quantized-cosine ANN as the embeddings table.
    */
  val m2MediaAnn = QueryDef("m2_media_ann",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val media = graft.multimodal.Multimodal.synthesizeFromDocs(docs)
      // both join sides derive from the same synthesize+extract pass —
      // materialize it once (lazy) instead of decoding per side
      val feats = graft.multimodal.Multimodal.extractFeatures(media, 16)
        .toDF().localCheckpoint(eager = false)
      Similarity.bruteForceTopK(
          feats.filter(col("media_id") % 25 === 0), feats,
          "media_id", "features", 3)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""
      |WITH m AS (
      |  SELECT doc_id AS media_id, md5(text) AS h FROM documents),
      |fv AS (
      |  SELECT media_id,
      |         list_transform(range(0, 16),
      |           i -> CAST(round(((CAST('0x' || substr(h, CAST(i AS INT)*2+1, 2) AS INT) - 128)
      |                            / 128.0) * 1000) AS BIGINT)) AS qv
      |  FROM m),
      |scored AS (
      |  SELECT q.media_id AS query_id, c.media_id AS neighbor_id,
      |         ${dotSql("q.qv", "c.qv")} AS dot_q,
      |         ${cosineSql("q.qv", "c.qv")} AS cosine
      |  FROM fv q, fv c
      |  WHERE q.media_id % 25 = 0 AND q.media_id <> c.media_id),
      |${topKSql(3, "neighbor_id, dot_q, cosine")}
      |""".stripMargin))

  /** M3 — multimodal resize → frame-sample composition: binary media
    * (md5-byte blobs) resized to 8×8 (64 bytes, stub codec cycles the
    * source pattern) then exploded to 4 frames per item — all inside
    * `mapPartitions`, no shuffle. The oracle re-derives each frame's
    * length and first byte from the md5 hex arithmetic, proving the
    * Dataset plumbing (schema, batching, flatMap explosion) end to end.
    */
  val m3MediaFrames = QueryDef("m3_media_frames",
    (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 25 === 0)
      val media = graft.multimodal.Multimodal.synthesizeFromDocs(docs)
      val resized = graft.multimodal.Multimodal.resize(media, 8, 8)
      graft.multimodal.Multimodal.sampleFrames(resized, 4).toDF()
        .select(col("media_id"), col("frame_idx"),
          length(col("frame")).as("frame_len"),
          conv(hex(substring(col("frame"), 1, 1)), 16, 10)
            .cast("int").as("first_byte"))
        .orderBy(col("media_id"), col("frame_idx"))
    },
    Some("""
      |WITH m AS (
      |  SELECT doc_id AS media_id, md5(text) AS h
      |  FROM documents WHERE doc_id % 25 = 0),
      |f AS (SELECT unnest(range(4)) AS fi)
      |SELECT media_id, CAST(fi AS INT) AS frame_idx,
      |       CAST(64 - fi AS INT) AS frame_len,
      |       CAST('0x' || substr(h, CAST(fi AS INT) * 2 + 1, 2)
      |            AS INT) AS first_byte
      |FROM m CROSS JOIN f
      |ORDER BY media_id, frame_idx
      |""".stripMargin))

  /** T14 — count-min sketch frequency estimates
    * ([[graft.sketch.Sketch.cmsSketch]]): the grid is one bounded hash
    * aggregate (depth×width cells, so map-side partials are fixed-size
    * regardless of vocabulary — the same ship-k-counters property as
    * t12's Misra–Gries, but answering POINT queries with an
    * overestimate-only guarantee instead of a top list). Probing the 10
    * exact-top tokens pairs every estimate with its true count, so the
    * oracle checks the full grid arithmetic AND the min-of-cells
    * estimator; cms_n ≥ exact_n by construction, and any cell drift on
    * either engine hash-mismatches.
    */
  val t14CmsEstimate = QueryDef("t14_cms_estimate",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      val exact = toks.groupBy(col("token"))
        .agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("token")).limit(10)
      val sk = graft.sketch.Sketch.cmsSketch(toks, "token", 4, 512)
      graft.sketch.Sketch.cmsEstimate(sk, exact, "token", 4, 512)
        .orderBy(col("exact_n").desc, col("token"))
    },
    Some(s"""
      |WITH $tokSql,
      |tok2 AS (SELECT unnest(tk) AS token FROM toks),
      |ex AS (
      |  SELECT token, COUNT(*) AS exact_n FROM tok2
      |  GROUP BY token ORDER BY exact_n DESC, token LIMIT 10),
      |rr AS (SELECT unnest([0, 1, 2, 3]) AS r),
      |cells AS (
      |  SELECT r,
      |         CAST('0x' || substr(md5(r || ':' || token), 1, 10) AS BIGINT)
      |           % 512 AS bucket,
      |         COUNT(*) AS cnt
      |  FROM tok2 CROSS JOIN rr GROUP BY 1, 2),
      |probe AS (
      |  SELECT token, exact_n, r,
      |         CAST('0x' || substr(md5(r || ':' || token), 1, 10) AS BIGINT)
      |           % 512 AS bucket
      |  FROM ex CROSS JOIN rr)
      |SELECT p.token, p.exact_n, CAST(MIN(c.cnt) AS BIGINT) AS cms_n
      |FROM probe p JOIN cells c USING (r, bucket)
      |GROUP BY p.token, p.exact_n
      |ORDER BY exact_n DESC, token
      |""".stripMargin))

  /** D12 — corpus boilerplate census ([[Dedup.boilerplateStats]]):
    * per-document positions covered by 3-grams that appear in ≥ minDf
    * DISTINCT documents — the CCNet-style cross-document complement of
    * t13's within-document repetition. minDf scales with the corpus
    * (max(3, N/500)): the Spark side sizes it from parquet footer
    * counts, the oracle from COUNT(*), so one query text is correct at
    * every scale factor.
    */
  val d12Boilerplate = QueryDef("d12_boilerplate",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val minDf = math.max(3L, Tables.rowCount(s, dir, "documents") / 500L)
      Dedup.boilerplateStats(docs, "doc_id", "text", 3, minDf)
        .orderBy(col("doc_id"))
    },
    Some(s"""
      |WITH $tokSql,
      |pos AS (
      |  SELECT doc_id,
      |         unnest(CASE WHEN len(tk) - 2 > 0
      |                THEN list_transform(range(1, len(tk) - 1),
      |                       i -> array_to_string(tk[i:i+2], ' '))
      |                ELSE CAST([] AS VARCHAR[]) END) AS s
      |  FROM toks),
      |pdg AS (SELECT doc_id, s, COUNT(*) AS pos_in_doc
      |        FROM pos GROUP BY doc_id, s),
      |dfr AS (SELECT doc_id, pos_in_doc,
      |               COUNT(*) OVER (PARTITION BY s) AS df
      |        FROM pdg),
      |per AS (
      |  SELECT doc_id, SUM(pos_in_doc) AS n_pos,
      |         SUM(CASE WHEN df >= GREATEST(3,
      |               (SELECT COUNT(*) FROM documents) // 500)
      |             THEN pos_in_doc ELSE 0 END) AS n_boiler
      |  FROM dfr GROUP BY doc_id)
      |SELECT d.doc_id,
      |       CAST(COALESCE(n_pos, 0) AS BIGINT) AS n_pos,
      |       CAST(COALESCE(n_boiler, 0) AS BIGINT) AS n_boiler,
      |       CAST(CASE WHEN COALESCE(n_pos, 0) > 0
      |            THEN (n_boiler * 1000000) // n_pos ELSE 0 END AS BIGINT)
      |         AS boiler_ppm
      |FROM documents d LEFT JOIN per USING (doc_id)
      |ORDER BY doc_id
      |""".stripMargin))

  /** T15 — PII redaction ([[TextAnalysis.redactPii]]): emails and
    * international-format phones masked by dialect-portable regexes
    * (Java ∩ RE2 — no backreferences/lookaround, so DuckDB reproduces
    * the exact rewrite and the redacted STRINGS hash-match, not just
    * counts). The fixture text derives deterministically from the
    * customer table on both sides, so match/replace arithmetic is
    * genuinely exercised (the documents corpus contains no PII shapes).
    * Per-row scan-stage expressions — the form that runs at firehose
    * width with no shuffle.
    */
  val t15PiiRedact = QueryDef("t15_pii_redact",
    (s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_custkey") % 37 === 0)
      val raw = concat(lit("contact "), col("c_name"), lit(" at "),
        lower(regexp_replace(col("c_name"), "#", ".")),
        lit("@example.com or +56 9 "),
        ((col("c_custkey") * 7919L) % 90000000L + 10000000L).cast("string"),
        lit(" today"))
      c.select(col("c_custkey"), raw.as("raw"))
        .select(col("c_custkey"),
          TextAnalysis.emailCount(col("raw")).as("n_emails"),
          TextAnalysis.phoneCount(col("raw")).as("n_phones"),
          TextAnalysis.redactPii(col("raw")).as("redacted"))
        .orderBy(col("c_custkey"))
    },
    Some(s"""
      |WITH raw AS (
      |  SELECT c_custkey,
      |         'contact ' || c_name || ' at ' ||
      |         lower(replace(c_name, '#', '.')) ||
      |         '@example.com or +56 9 ' ||
      |         CAST((c_custkey * 7919) % 90000000 + 10000000 AS VARCHAR) ||
      |         ' today' AS raw
      |  FROM customer WHERE c_custkey % 37 = 0)
      |SELECT c_custkey,
      |       CAST(len(regexp_extract_all(raw, '${TextAnalysis.EmailRegex}')) AS INT) AS n_emails,
      |       CAST(len(regexp_extract_all(raw, '${TextAnalysis.PhoneRegex}')) AS INT) AS n_phones,
      |       regexp_replace(regexp_replace(raw,
      |         '${TextAnalysis.EmailRegex}', '[EMAIL]', 'g'),
      |         '${TextAnalysis.PhoneRegex}', '[PHONE]', 'g') AS redacted
      |FROM raw ORDER BY c_custkey
      |""".stripMargin))

  /** T17 — exact quantiles PER GROUP (the by-group form of t6): char-
    * length quartiles per language, `percentile` + posexplode to tidy
    * (lang, qi, value) rows. Exact (sort-based within group) and
    * engine-portable — DuckDB's `quantile_cont` uses the same linear
    * interpolation, so values hash-match; approx_percentile's sketch is
    * engine-private and could never sit under this oracle. Memory is
    * ∝ distinct values per group, the right trade for bounded-
    * cardinality profiling dimensions (lang/source); unbounded group
    * domains should use the approximate form instead.
    */
  val t17QuantilesByLang = QueryDef("t17_quantiles_by_lang",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      docs.groupBy(col("lang"))
        .agg(expr("percentile(n_chars, array(0.25D, 0.5D, 0.75D))").as("qs"))
        .select(col("lang"), posexplode(col("qs")).as(Seq("qi", "q_chars")))
        .orderBy(col("lang"), col("qi"))
    },
    Some("""
      |WITH q AS (
      |  SELECT lang, quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS qs
      |  FROM documents GROUP BY lang)
      |SELECT lang, CAST(n - 1 AS INT) AS qi, qs[CAST(n AS INT)] AS q_chars
      |FROM q CROSS JOIN (SELECT unnest([1, 2, 3]) AS n) i
      |ORDER BY lang, qi
      |""".stripMargin))

  /** T18 — APPROXIMATE quantiles per group, the bounded-state form t17's
    * scaladoc promises for unbounded group domains: a DDSketch-style
    * integer log-histogram ([[graft.sketch.ApproxQuantiles]]) whose
    * per-group state is ≤ 64·2^4 cells no matter the group size, so a
    * 100 TB profiling pass grouped by domain/source-URL holds. The bin
    * arithmetic is integer-exact (floor(log2) via binary-string length,
    * nearest-rank via rational ceil) so DuckDB replays the sketch
    * bit-for-bit — same calibration stance as d10/t14: the ESTIMATOR
    * itself sits under the oracle, not just its inputs.
    */
  val t18ApproxQuantiles = QueryDef("t18_approx_quantiles_by_lang",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.sketch.ApproxQuantiles.quantilesByGroup(docs, "lang", "n_chars")
        .orderBy(col("lang"), col("qi"))
    },
    Some(s"""
      |WITH v AS (SELECT lang, CAST(n_chars AS BIGINT) AS v FROM documents
      |           WHERE n_chars IS NOT NULL AND n_chars >= 0),
      |b AS (SELECT lang, ${graft.sketch.ApproxQuantiles.logBinSql("v", 4)} AS id FROM v),
      |h AS (SELECT lang, id, COUNT(*) AS c FROM b GROUP BY 1, 2),
      |w AS (SELECT lang, id,
      |        SUM(c) OVER (PARTITION BY lang ORDER BY id) AS cum,
      |        SUM(c) OVER (PARTITION BY lang) AS n FROM h),
      |q(qi, num, den) AS (VALUES (0, 1, 4), (1, 2, 4), (2, 3, 4)),
      |sel AS (SELECT lang, qi, MIN(id) AS id FROM w, q
      |        WHERE cum >= (n * num + den - 1) // den GROUP BY 1, 2)
      |SELECT lang, qi, ${graft.sketch.ApproxQuantiles.binEstimateSql("id", 4)} AS q_est
      |FROM sel ORDER BY lang, qi
      |""".stripMargin))

  /** T16 — curation funnel: the composed training-set selection pipeline
    * (exact dedup first-wins → length band → zero within-doc window
    * repetition) reported as cumulative per-stage survivor counts — the
    * shape every production curation run logs. One scan computes every
    * per-doc signal (tokens projected ONCE, same multi-reference rule as
    * t13); first-wins election is a struct-argmax hash aggregate keyed
    * on content_hash (`min(struct(doc_id, …))`, the d8 shape), NOT a
    * window: a window partition over content_hash cannot be AQE-skew-
    * split, so a boilerplate page duplicated millions of times would pin
    * its whole cluster on one reducer — the same argument that shaped
    * d12. A hash aggregate's map-side partials absorb that skew instead.
    * One more aggregate folds the four stage counts and `stack` unpivots
    * them — no per-stage re-scan, so the funnel costs one pass at 100 TB
    * no matter how many stages. Logic lives in
    * [[graft.pipeline.Curation]], shared verbatim with the streaming
    * ingest host (CurationFunnelStreamSpec pins streamed ≡ batch).
    */
  val t16CurationFunnel = QueryDef("t16_curation_funnel",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.pipeline.Curation.funnel(
        graft.pipeline.Curation.signals(docs, "doc_id", "text"), "doc_id")
    },
    Some(s"""
      |WITH $tokSql,
      |st AS (
      |  SELECT doc_id, text, len(tk) AS n_tok,
      |         CAST(GREATEST(len(tk) - 2, 0) AS BIGINT) AS windows,
      |         CAST(len(list_distinct(list_transform(
      |           range(1, GREATEST(len(tk) - 2, 0) + 1),
      |           i -> array_to_string(list_slice(tk, CAST(i AS INT), CAST(i AS INT) + 2), ' ')))) AS BIGINT) AS dw
      |  FROM toks),
      |f AS (
      |  SELECT doc_id, n_tok,
      |         CASE WHEN windows > 0
      |              THEN ((windows - dw) * 1000000) // windows ELSE 0 END AS rep_ppm,
      |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |  FROM st),
      |c AS (
      |  SELECT COUNT(*) AS t,
      |         COUNT(*) FILTER (rn = 1) AS u,
      |         COUNT(*) FILTER (rn = 1 AND n_tok BETWEEN 10 AND 95) AS l,
      |         COUNT(*) FILTER (rn = 1 AND n_tok BETWEEN 10 AND 95
      |                          AND rep_ppm = 0) AS cl
      |  FROM f)
      |SELECT stage, n_docs FROM (
      |  SELECT '0_total' AS stage, t AS n_docs FROM c
      |  UNION ALL SELECT '1_unique', u FROM c
      |  UNION ALL SELECT '2_length', l FROM c
      |  UNION ALL SELECT '3_clean', cl FROM c)
      |ORDER BY stage
      |""".stripMargin))

  /** T20 — distinctive terms per language: TF·IDF with INTEGER-EXACT
    * scoring so the ranking replays bit-for-bit under the oracle. The
    * idf factor is floor(log2(N // df)) computed as `length(bin(x)) − 1`
    * (pure integer/string ops — the ApproxQuantiles convention; a
    * floating log's last-ulp rounding could flip ranks between
    * engines), so ubiquitous tokens (df ≈ N) score 0 and drop out
    * without a stopword list. N comes from parquet footer metadata
    * ([[Tables.rowCount]]) — no hidden count() job. Scale: two
    * token-keyed hash aggregates + one token-keyed join (stopword skew
    * is AQE-splittable); the top-5 window partitions on lang — bounded
    * cardinality, the t17 stance.
    */
  val t20TfidfTerms = QueryDef("t20_tfidf_terms",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val n = Tables.rowCount(s, dir, "documents")
      // ONE explode pass: per-(token, doc) occurrence counts feed both
      // the tf rollup and the df count (a doc has one lang, so distinct
      // (token, doc) rows ARE the document frequency) — without the
      // checkpoint the two branches would each re-run the explode scan,
      // doubling the most expensive stage at 100 TB
      val perDoc = docs
        .select(col("lang"), col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token"), col("lang"), col("doc_id"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = false)
      val tf = perDoc.groupBy(col("lang"), col("token"))
        .agg(sum(col("c")).as("tf"))
      val dfx = perDoc.groupBy(col("token"))
        .agg(count(lit(1)).as("df"))
      val scored = tf.join(dfx, "token")
        .withColumn("ilog",
          (length(bin(expr(s"CAST($n AS BIGINT) div df"))) - 1).cast("long"))
        .withColumn("score", col("tf") * col("ilog"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("score").desc, col("token"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("lang"), col("rank"), col("token"),
          col("tf"), col("df"), col("score"))
        .orderBy(col("lang"), col("rank"))
    },
    Some(s"""
      |WITH $tokSql,
      |tok AS (SELECT lang, doc_id, unnest(tk) AS token FROM toks),
      |tf AS (SELECT lang, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |dfx AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      |        FROM tok GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |sc AS (SELECT lang, token, tf, df,
      |         CAST(tf * (length(bin(n.n // df)) - 1) AS BIGINT) AS score
      |       FROM tf JOIN dfx USING (token), n),
      |rk AS (SELECT lang, token, tf, df, score,
      |         row_number() OVER (PARTITION BY lang
      |           ORDER BY score DESC, token) AS rank FROM sc)
      |SELECT lang, CAST(rank AS INT) AS rank, token, tf, df, score
      |FROM rk WHERE rank <= 5
      |ORDER BY lang, rank
      |""".stripMargin))

  /** Memoized persisted LSH index for D14: the corpus slice signed and
    * banded once, written bucket-partitioned ([[graft.dedup.LshIndex]]).
    * Memoized per (session, dir) so bench iterations probe, not rebuild
    * (the s6/k6/k7 pattern).
    */
  private def lshStoreDir(s: SparkSession, dir: String): String =
    SessionViews(s, dir, "lshStore") {
      val path = TempStores.dir("graft-lshstore") + "/index"
      graft.dedup.LshIndex.writeLshIndex(
        t(s, dir, "documents").filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", path)
      path
    }

  /** D14 — LSH index SERVING path (the s6/s7 stance applied to dedup):
    * near-dup candidates of an incoming batch answered FROM the
    * persisted bucket-partitioned index must equal the banding recomputed
    * from raw text — the oracle never sees the store, so a signature
    * mis-signed at append time, a band row lost by the bucketed write, or
    * a probe that prunes a bucket it needed all hash-mismatch. This is
    * the operator that lets incremental ingest dedup against 100 TB of
    * history without re-signaturing it: the corpus side is a
    * directory-pruned read of ≤ batch×bands buckets. Bucket routing is a
    * pure function of band_sig, so pruning can never drop a true
    * candidate (equal sigs ⇒ equal bucket) — the pigeonhole argument
    * LshIndexSpec pins alongside probe ≡ rebuild equivalence.
    */
  val d14LshStore = QueryDef("d14_lsh_store",
    (s, dir) => {
      val probes = t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
      graft.dedup.LshIndex
        .probeLshIndex(s, probes, "doc_id", "text", lshStoreDir(s, dir))
        .orderBy(col("probe_id"), col("corpus_id"))
    },
    Some(s"""
      |WITH $minhashBandsSql,
      |cand AS (
      |  SELECT DISTINCT p.doc_id AS probe_id, c.doc_id AS corpus_id
      |  FROM bands p JOIN bands c
      |    ON p.band_idx = c.band_idx AND p.band_sig = c.band_sig
      |  WHERE p.doc_id % 3 = 0 AND c.doc_id % 3 <> 0)
      |SELECT cand.probe_id, cand.corpus_id,
      |       CAST(list_sum(list_transform(range(0, 16),
      |              i -> CASE WHEN s1.sig[CAST(i AS INT)+1] = s2.sig[CAST(i AS INT)+1]
      |                        THEN 1 ELSE 0 END)) AS INT) AS est_matches
      |FROM cand
      |JOIN sig s1 ON s1.doc_id = cand.probe_id
      |JOIN sig s2 ON s2.doc_id = cand.corpus_id
      |ORDER BY probe_id, corpus_id
      |""".stripMargin))

  /** Memoized ACCRETED LSH index for D21: the same corpus slice as
    * [[lshStoreDir]], but ingested the way the streaming host does it —
    * an initial write plus two sequential `appendToLshIndex` batches —
    * so the gated store is the probe-then-append loop's final state,
    * not a one-shot build.
    */
  private def lshAccretedDir(s: SparkSession, dir: String): String =
    SessionViews(s, dir, "lshAccreted") {
      val path = TempStores.dir("graft-lshaccr") + "/index"
      val corpus = t(s, dir, "documents").filter(col("doc_id") % 3 =!= 0)
      graft.dedup.LshIndex.writeLshIndex(
        corpus.filter(col("doc_id") % 5 < 2), "doc_id", "text", path)
      graft.dedup.LshIndex.appendToLshIndex(
        corpus.filter(col("doc_id") % 5 === 2), "doc_id", "text", path)
      graft.dedup.LshIndex.appendToLshIndex(
        corpus.filter(col("doc_id") % 5 > 2), "doc_id", "text", path)
      path
    }

  /** D21 — incremental-ingest LSH index state under the oracle: the
    * index is built the way the streaming probe-then-append loop builds
    * it (bootstrap write + two sequential appends over disjoint
    * slices), then probed with d14's probe set — and the oracle
    * recomputes every candidate from RAW TEXT, never seeing the store.
    * d14 gates the one-shot build; this row gates the ACCRETED state:
    * an append that mis-signs, drops a band row, or routes a bucket
    * differently from the bootstrap write hash-mismatches here even if
    * the one-shot path is correct. Batch-boundary invariance of the
    * loop itself (probe sees exactly prior history) is
    * LshIngestStreamSpec's streamed≡batch pin; together they close the
    * streaming-ingest gate the r9 verdict asked for.
    */
  val d21LshAccreted = QueryDef("d21_lsh_accreted",
    (s, dir) => {
      val probes = t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
      graft.dedup.LshIndex
        .probeLshIndex(s, probes, "doc_id", "text", lshAccretedDir(s, dir))
        .orderBy(col("probe_id"), col("corpus_id"))
    },
    d14LshStore.oracle)

  /** T19 — token-budget training-shard manifest: lay each language's
    * token stream out in doc_id order and cut it into 512-token shards,
    * reporting per-shard document count, token sum, and first/last doc
    * ([[graft.pipeline.ShardPacking]] — next-fit by start offset, the
    * sequence-packing convention where a document belongs to the shard
    * its first token lands in). One window over a bounded-cardinality
    * stratum (lang) plus one hash aggregate; deliberately NOT greedy
    * bin packing, which is iterative driver-side state that neither
    * scales out nor replays under a SQL oracle. The oracle mirrors the
    * cumulative-sum arithmetic exactly (integer offsets, floor div).
    */
  val t19ShardPacking = QueryDef("t19_shard_packing",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.pipeline.ShardPacking.manifest(
          docs, "lang", "doc_id",
          TextAnalysis.tokenCount(col("text")).cast("long"), budget = 512L)
        .orderBy(col("lang"), col("shard_id"))
    },
    Some(s"""
      |${shardManifestSql(512L)}
      |""".stripMargin))

  /** T22 — corpus mixing to target proportions
    * ([[graft.sampling.Sampling.mixToProportions]]): the pretraining
    * data-mix step. Targets 40% en / 15% each of es-de-fr-zh; the
    * operator derives integer ppm keep-rates that realize the largest
    * corpus at that mix and cuts by the deterministic md5 Bernoulli, so
    * DuckDB replays the exact keep-set. The gate reports per-language
    * original size, applied rate, and kept count — realized mix is
    * binomially tight around target (the scalable contract; an exact
    * per-stratum cut would need a per-stratum global sort).
    */
  val t22CorpusMix = QueryDef("t22_corpus_mix",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val shares = Seq("en" -> 400000L, "es" -> 150000L, "de" -> 150000L,
        "fr" -> 150000L, "zh" -> 150000L)
      graft.sampling.Sampling
        .mixToProportions(docs, "lang", "doc_id", shares)
        .groupBy(col("lang"), col("n_s").as("n_orig"), col("rate_ppm"))
        .agg(count(lit(1)).as("n_kept"))
        .select(col("lang"), col("n_orig"), col("rate_ppm"), col("n_kept"))
        .orderBy(col("lang"))
    },
    Some("""
      |WITH sh(lang, share_ppm) AS (VALUES
      |  ('en', CAST(400000 AS BIGINT)), ('es', 150000), ('de', 150000),
      |  ('fr', 150000), ('zh', 150000)),
      |cnt AS (SELECT lang, COUNT(*) AS n_s FROM documents GROUP BY 1),
      |caps AS (
      |  SELECT c.lang, n_s, share_ppm, n_s * 1000000 // share_ppm AS cap
      |  FROM cnt c JOIN sh USING (lang)),
      |nm AS (SELECT MIN(cap) AS n_max FROM caps),
      |rates AS (
      |  SELECT lang, n_s,
      |         LEAST(1000000, n_max * share_ppm // n_s) AS rate_ppm
      |  FROM caps, nm),
      |kept AS (
      |  SELECT d.lang FROM documents d JOIN rates r USING (lang)
      |  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|mix'), 1, 15) AS BIGINT)
      |          % 1000000 < r.rate_ppm)
      |SELECT r.lang, CAST(r.n_s AS BIGINT) AS n_orig,
      |       CAST(r.rate_ppm AS BIGINT) AS rate_ppm,
      |       (SELECT COUNT(*) FROM kept k WHERE k.lang = r.lang) AS n_kept
      |FROM rates r
      |ORDER BY lang
      |""".stripMargin))

  /** S8 — FILTERED vector search (metadata predicate + ANN, the
    * "filtered ANN" serving feature): exact top-5 cosine neighbors among
    * only the corpus rows passing `label % 2 = 0`. The predicate is a
    * scan-stage filter FUSED BEFORE the distance computation — at 100 TB
    * it prunes with footer stats / partition layout rather than scoring
    * then discarding (post-filtering also under-fills k when the
    * predicate is selective; pre-filtering cannot). Brute-force form —
    * the exactness baseline the index-filtered path (s6/s7 + the same
    * pushed filter) is graded against.
    */
  val s8AnnFiltered = QueryDef("s8_ann_filtered",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
          emb.filter(col("vec_id") % 20 === 0),
          emb.filter(col("label") % 2 === 0),
          "vec_id", "embedding", 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""
      |WITH qv AS (
      |  ${quantizeSql("vec_id, label", "embeddings")}),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         ${dotSql("q.qv", "c.qv")} AS dot_q,
      |         ${cosineSql("q.qv", "c.qv")} AS cosine
      |  FROM qv q, qv c
      |  WHERE q.vec_id % 20 = 0 AND c.label % 2 = 0
      |    AND q.vec_id <> c.vec_id),
      |${topKSql(5, "neighbor_id, dot_q, cosine")}
      |""".stripMargin))

  /** Memoized packed shard store for T21 (the k6/s6 read-path pattern):
    * documents laid out by [[graft.pipeline.ShardPacking.writeShards]] —
    * one directory per (lang, shard), one file per shard. The write runs
    * the skew-proof bucketed prefix sum (t41's two-phase form, proven
    * bit-identical to the single window), so a dominant stratum never
    * serializes one reducer in the layout job; the t19-shape oracle below
    * deliberately replays the STRAIGHTFORWARD single-window arithmetic.
    */
  private def shardStoreDir(s: SparkSession, dir: String): String =
    SessionViews(s, dir, "shardStore") {
      val root = TempStores.dir("graft-shardstore")
      graft.pipeline.ShardPacking.writeShards(
        t(s, dir, "documents"), "lang", "doc_id",
        TextAnalysis.tokenCount(col("text")).cast("long"), budget = 512L,
        path = root + "/shardStore.parquet", buckets = 8)
      root
    }

  /** T21 — the shard store READ path: the per-shard manifest recomputed
    * FROM the materialized layout (directory-partition columns and all)
    * must equal the manifest computed from raw documents — any doc
    * dropped, duplicated, or mis-routed by the packed write
    * hash-mismatches. The oracle never sees the store (t19's
    * cumulative-sum SQL over raw text); ShardPackingSpec separately
    * pins the one-file-per-shard layout contract.
    */
  val t21ShardStore = QueryDef("t21_shard_store",
    (s, dir) => {
      val st = t(s, shardStoreDir(s, dir), "shardStore")
      st.groupBy(col("lang"), col("shard_id").cast("bigint").as("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tok")).as("tok_sum"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("lang"), col("shard_id"))
    },
    Some(s"""
      |${shardManifestSql(512L)}
      |""".stripMargin))

  /** D13 — snapshot diff (incremental-refresh front door): two simulated
    * point-in-time snapshots of the corpus (membership and revision
    * derived deterministically from doc_id so the same query text is
    * non-vacuous at every scale factor), every key classified
    * added/removed/changed/unchanged by fingerprint comparison across a
    * full outer join ([[graft.pipeline.SnapshotDiff]]), rolled up per
    * (lang, change). The join carries only (key, md5) — fingerprints are
    * computed scan-side, so at 100 TB the shuffle is two fixed-width
    * columns, and snapshot keys are unique so the join has no skew by
    * construction.
    */
  val d13SnapshotDiff = QueryDef("d13_snapshot_diff",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val old = docs.filter(col("doc_id") % 19 =!= 7)
      val cur = docs.filter(col("doc_id") % 17 =!= 3)
        .withColumn("text",
          when(col("doc_id") % 13 === 5, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")))
      graft.pipeline.SnapshotDiff
        .diff(old, cur, "doc_id", TextAnalysis.contentHash(col("text")))
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"), col("change"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("first_key"),
          max(col("doc_id")).as("last_key"))
        .orderBy(col("lang"), col("change"))
    },
    Some("""
      |WITH old AS (
      |  SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 19 <> 7),
      |cur AS (
      |  SELECT doc_id,
      |         md5(CASE WHEN doc_id % 13 = 5 THEN text || ' [rev2]'
      |                  ELSE text END) AS fp
      |  FROM documents WHERE doc_id % 17 <> 3),
      |d AS (
      |  SELECT COALESCE(o.doc_id, c.doc_id) AS doc_id,
      |         CASE WHEN o.fp IS NULL THEN 'added'
      |              WHEN c.fp IS NULL THEN 'removed'
      |              WHEN o.fp = c.fp THEN 'unchanged'
      |              ELSE 'changed' END AS change
      |  FROM old o FULL OUTER JOIN cur c ON o.doc_id = c.doc_id)
      |SELECT g.lang, d.change, COUNT(*) AS n_docs,
      |       MIN(d.doc_id) AS first_key, MAX(d.doc_id) AS last_key
      |FROM d JOIN documents g ON d.doc_id = g.doc_id
      |GROUP BY g.lang, d.change
      |ORDER BY lang, change
      |""".stripMargin))

  /** D15 — split-leakage audit: LSH near-dup candidate pairs (d3's
    * banding, est. similarity ≥ 8/16 signature positions) whose two
    * documents landed in DIFFERENT train/val/test splits (t10's
    * md5-uniform assignment) — the held-out-contamination check every
    * training pipeline needs before trusting its eval numbers, and a
    * pure composition of two already-gated operators. Cost is two
    * broadcast-able key joins on top of the banding join (the memoized
    * signature frame is shared with d3/d10); never all-pairs.
    */
  val d15SplitLeakage = QueryDef("d15_split_leakage",
    (s, dir) => {
      val cands = lshCandsShared(s, dir)
      val splits = t(s, dir, "documents").select(col("doc_id"),
        splitLabel("doc_id").as("split"))
      cands.filter(col("est_matches") >= 8)
        .join(splits.select(col("doc_id").as("id1"),
          col("split").as("split1")), "id1")
        .join(splits.select(col("doc_id").as("id2"),
          col("split").as("split2")), "id2")
        .filter(col("split1") =!= col("split2"))
        .select(col("id1"), col("split1"), col("id2"), col("split2"),
          col("est_matches"))
        .orderBy(col("id1"), col("id2"))
    },
    Some(s"""
      |WITH $minhashBandsSql,
      |$lshCandSql,
      |est AS (
      |$lshEstSql),
      |splits AS (
      |  ${splitSql("doc_id", "documents")})
      |SELECT e.id1, s1.split AS split1, e.id2, s2.split AS split2,
      |       e.est_matches
      |FROM est e
      |JOIN splits s1 ON s1.doc_id = e.id1
      |JOIN splits s2 ON s2.doc_id = e.id2
      |WHERE e.est_matches >= 8 AND s1.split <> s2.split
      |ORDER BY id1, id2
      |""".stripMargin))

  /** S11 — ANN recall@k evaluation: the multi-probe IVF answer (s4)
    * measured against the exact brute-force top-5 (s1), per query —
    * the acceptance metric a vector pipeline checks before trusting an
    * index configuration at scale, here AS an operator so the
    * measurement itself is distributed (a join of the two result sets,
    * never a re-scan). recall_ppm is exact integer arithmetic; the
    * oracle replays both rankers and the same join-count algebra.
    */
  val s11AnnRecall = QueryDef("s11_ann_recall",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 20 === 0)
      val exact = Similarity.bruteForceTopK(queries, emb,
        "vec_id", "embedding", 5)
      val approx = Similarity.ivfTopKProbe(emb, "vec_id", "embedding", 5,
        nCentroids = Similarity.scaledCentroids(
          Tables.rowCount(s, dir, "embeddings")), nprobe = 4,
        queryFilter = col("vec_id") % 20 === 0)
      exact.select(col("query_id"), col("neighbor_id"))
        .join(approx.select(col("query_id"), col("neighbor_id"))
          .withColumn("hit", lit(1L)), Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum(col("hit")), lit(0L)).as("hits"))
        .withColumn("recall_ppm",
          expr("hits * 1000000L div n_exact"))
        .orderBy(col("query_id"))
    },
    Some(s"""
      |WITH $qSql,
      |$annParamsSql,
      |$hashCentroidsSql,
      |${exactTop5Sql("query_id")},
      |ranks AS (
      |  ${centroidRanksSql("v.vec_id, v.qv", "qv", "cent")}),
      |${probeSidesSql(4, 20)},
      |${listScoredSql("ap_scored", "assignq", "assignc")},
      |approx AS (
      |  SELECT query_id, neighbor_id FROM (
      |    ${rankSql("query_id", "ap_scored")}) WHERE rank <= 5)
      |$recallSql
      |""".stripMargin))

  /** T26 — incremental cardinality store ([[graft.sketch.Sketch
    * .mergeKmvSketches]]): the corpus arrives as three batches, each is
    * sketched independently, and the store accretes by sketch MERGE —
    * never re-reading earlier batches. KMV's merge property makes the
    * accreted store identical to a one-shot sketch of everything, and
    * the gate proves exactly that: the oracle is the ONE-SHOT KMV
    * computation (t4's), so any drift introduced by the incremental
    * path — a lost minimum, a k-cut before the distinct, a batch
    * double-merged — hash-mismatches. This is the 100 TB profiling
    * story: per-batch work is O(batch), the store is k longs, and the
    * estimate never degrades with the number of increments.
    */
  val t26IncrementalKmv = QueryDef("t26_incremental_kmv",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val store = (0 to 2)
        .map(i => graft.sketch.Sketch.kmvSketch(
          docs.filter(col("doc_id") % 3 === i), "text", 64))
        .reduce((a, b) => graft.sketch.Sketch.mergeKmvSketches(a, b, 64))
      graft.sketch.Sketch.estimateFromSketch(store, 64)
        .withColumn("n_batches", lit(3))
    },
    Some(s"""
      |$kmvEstimateSql,
      |       CAST(3 AS INT) AS n_batches
      |FROM topk
      |""".stripMargin))

  /** T27 — per-source curation scorecard: the one-pass quality dashboard
    * a corpus owner reads before deciding which feeds to keep — doc
    * count, language spread, exact-dup rate, mean quality score, and
    * PII exposure, all per source. Every signal is a scan-stage
    * expression already gated elsewhere (contentHash/d1, qualityScore/
    * t_text_stats, email+phone counts/t15) composed under ONE grouped
    * aggregate; ratios are integer ppm/milli with pinned division
    * order. Bounded output (one row per source), no windows.
    */
  val t27SourceScorecard = QueryDef("t27_source_scorecard",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      docs.groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(TextAnalysis.contentHash(col("text")))
            .as("distinct_contents"),
          sum(TextAnalysis.qualityScore(col("text"))).as("sum_quality"),
          sum((TextAnalysis.emailCount(col("text")) +
            TextAnalysis.phoneCount(col("text"))).cast("long")).as("pii_hits"))
        .withColumn("dup_ppm",
          expr("(n_docs - distinct_contents) * 1000000L div n_docs"))
        .withColumn("qual_mean_milli", expr("sum_quality * 1000L div n_docs"))
        .orderBy(col("source"))
    },
    Some(s"""
      |WITH $tokSql,
      |st AS (
      |  SELECT source, lang, md5(text) AS h,
      |         len(tk) AS n_tok, length(text) AS n_chr,
      |         length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS n_pun,
      |         len(list_intersect(tk,
      |           [${(TextAnalysis.EnglishStopwords ++ TextAnalysis.SpanishStopwords)
                    .map("'" + _ + "'").mkString(",")}])) AS hits,
      |         len(regexp_extract_all(text, '${TextAnalysis.EmailRegex}'))
      |           + len(regexp_extract_all(text, '${TextAnalysis.PhoneRegex}')) AS pii
      |  FROM toks),
      |q AS (
      |  SELECT source, lang, h, pii,
      |         ${qualitySql("hits")} AS quality
      |  FROM st)
      |SELECT source, COUNT(*) AS n_docs,
      |       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
      |       COUNT(DISTINCT h) AS distinct_contents,
      |       CAST(SUM(quality) AS BIGINT) AS sum_quality,
      |       CAST(SUM(pii) AS BIGINT) AS pii_hits,
      |       CAST((COUNT(*) - COUNT(DISTINCT h)) * 1000000 // COUNT(*) AS BIGINT) AS dup_ppm,
      |       CAST(SUM(quality) * 1000 // COUNT(*) AS BIGINT) AS qual_mean_milli
      |FROM q GROUP BY source ORDER BY source
      |""".stripMargin))

  /** D16 — similarity-graph centrality ([[graft.dedup.DupClusters
    * .pageRank]]): 3-iteration integer PageRank over the d3 LSH
    * candidate-pair graph, surfacing template/boilerplate hubs (a
    * document near-duplicate to MANY others is structure, not
    * content). The LSH pair graph alone is pure CLIQUES on this corpus
    * (dup clusters), where every node sits at PageRank's 10⁶ fixed
    * point and a broken damping step would pass unnoticed — so the
    * edge set also carries per-lang template-hub edges (the lang's
    * min-id doc linked to its `doc_id % 25` members), giving the graph
    * genuine star structure whose centers MUST rank above 10⁶ and
    * leaves below it. The oracle unrolls all three iterations with the
    * same pinned integer-division order, so every damping step replays
    * bit-for-bit — the engine's demonstration that iterative Pregel-
    * style graph algorithms reduce to per-round join+aggregate pairs
    * the optimizer can split.
    */
  val d16SimilarityPagerank = QueryDef("d16_similarity_pagerank",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val cands = lshCandsShared(s, dir)
      val hubs = docs.groupBy(col("lang")).agg(min(col("doc_id")).as("hub"))
      val hubEdges = docs.filter(col("doc_id") % 25 === 0)
        .join(hubs, "lang").filter(col("doc_id") =!= col("hub"))
        .select(col("hub").as("id1"), col("doc_id").as("id2"))
      val edges = cands.select(col("id1"), col("id2")).unionByName(hubEdges)
      graft.dedup.DupClusters.pageRank(edges, "id1", "id2", iterations = 3)
        .select(col("id").as("doc_id"), col("deg"), col("pr_ppm"))
        .orderBy(col("pr_ppm").desc, col("doc_id"))
        .limit(20)
    },
    Some(s"""
      |WITH $minhashBandsSql,
      |$lshCandSql,
      |hubs AS (SELECT lang, MIN(doc_id) AS hub FROM documents GROUP BY lang),
      |pairs AS (
      |  SELECT id1, id2 FROM cand
      |  UNION ALL
      |  SELECT h.hub AS id1, d.doc_id AS id2
      |  FROM documents d JOIN hubs h ON d.lang = h.lang
      |  WHERE d.doc_id % 25 = 0 AND d.doc_id <> h.hub),
      |edges AS (
      |  SELECT id1 AS src, id2 AS dst FROM pairs
      |  UNION
      |  SELECT id2, id1 FROM pairs),
      |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
      |r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS pr FROM deg),
      |r1 AS (
      |  SELECT e.dst AS id,
      |         CAST(150000 + (850000 * SUM(r.pr // d.deg)) // 1000000 AS BIGINT) AS pr
      |  FROM r0 r JOIN edges e ON r.id = e.src JOIN deg d ON d.src = e.src
      |  GROUP BY e.dst),
      |r2 AS (
      |  SELECT e.dst AS id,
      |         CAST(150000 + (850000 * SUM(r.pr // d.deg)) // 1000000 AS BIGINT) AS pr
      |  FROM r1 r JOIN edges e ON r.id = e.src JOIN deg d ON d.src = e.src
      |  GROUP BY e.dst),
      |r3 AS (
      |  SELECT e.dst AS id,
      |         CAST(150000 + (850000 * SUM(r.pr // d.deg)) // 1000000 AS BIGINT) AS pr
      |  FROM r2 r JOIN edges e ON r.id = e.src JOIN deg d ON d.src = e.src
      |  GROUP BY e.dst)
      |SELECT r3.id AS doc_id, d.deg, r3.pr AS pr_ppm
      |FROM r3 JOIN deg d ON d.src = r3.id
      |ORDER BY pr_ppm DESC, doc_id LIMIT 20
      |""".stripMargin))

  /** T24 — Gopher-style quality-rule census: the standard pretraining
    * heuristics (token-count bounds, mean-word-length bounds, stopword
    * presence, top-token repetition cap) evaluated per document and
    * rolled up per language. Every rule is INTEGER arithmetic on
    * scan-stage expressions (mean word length `[2,8]` is
    * `2·dl ≤ Σlen ≤ 8·dl`, the repetition cap `≤25%` is
    * `4·maxtf ≤ dl`) — no floats, no shuffle beyond the bounded
    * per-lang aggregate. `maxtf` scans the token array quadratically
    * per row (distinct × filter) but stays in the scan stage, the t13
    * repetition stance; Catalyst's CollapseProject keeps the tokenize
    * from re-running per rule (aliases referenced more than once are
    * not inlined).
    */
  val t24QualityRules = QueryDef("t24_quality_rules",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val base = docs
        .select(col("lang"), TextAnalysis.tokens(col("text")).as("tk"))
        .select(col("lang"),
          size(col("tk")).cast("long").as("dl"),
          aggregate(col("tk"), lit(0L), (a, x) => a + length(x)).as("sumlen"),
          coalesce(array_max(transform(array_distinct(col("tk")),
            tt => size(filter(col("tk"), x => x === tt)))), lit(0))
            .cast("long").as("maxtf"),
          (array_contains(col("tk"), "the") || array_contains(col("tk"), "a"))
            .as("has_stop"))
      val rLen = col("dl").between(20L, 100L)
      val rWl = col("sumlen") >= lit(2L) * col("dl") &&
        col("sumlen") <= lit(8L) * col("dl") && col("dl") > 0
      val rStop = col("has_stop")
      val rRep = lit(4L) * col("maxtf") <= col("dl") && col("dl") > 0
      def cnt(c: org.apache.spark.sql.Column, n: String) =
        sum(when(c, 1L).otherwise(0L)).as(n)
      base.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          cnt(rLen, "pass_len"), cnt(rWl, "pass_word_len"),
          cnt(rStop, "pass_stopword"), cnt(rRep, "pass_repetition"),
          cnt(rLen && rWl && rStop && rRep, "keep"))
        .orderBy(col("lang"))
    },
    Some(s"""
      |WITH $tokSql,
      |q AS (
      |  SELECT lang,
      |         CAST(len(tk) AS BIGINT) AS dl,
      |         CAST(coalesce(list_sum(list_transform(tk, x -> len(x))), 0)
      |              AS BIGINT) AS sumlen,
      |         CAST(coalesce(list_max(list_transform(list_distinct(tk),
      |                t -> len(list_filter(tk, x -> x = t)))), 0)
      |              AS BIGINT) AS maxtf,
      |         (list_contains(tk, 'the') OR list_contains(tk, 'a'))
      |           AS has_stop
      |  FROM toks)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN dl BETWEEN 20 AND 100 THEN 1 ELSE 0 END) AS BIGINT) AS pass_len,
      |  CAST(SUM(CASE WHEN sumlen >= 2 * dl AND sumlen <= 8 * dl AND dl > 0
      |                THEN 1 ELSE 0 END) AS BIGINT) AS pass_word_len,
      |  CAST(SUM(CASE WHEN has_stop THEN 1 ELSE 0 END) AS BIGINT) AS pass_stopword,
      |  CAST(SUM(CASE WHEN 4 * maxtf <= dl AND dl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pass_repetition,
      |  CAST(SUM(CASE WHEN dl BETWEEN 20 AND 100
      |                 AND sumlen >= 2 * dl AND sumlen <= 8 * dl
      |                 AND has_stop
      |                 AND 4 * maxtf <= dl AND dl > 0
      |                THEN 1 ELSE 0 END) AS BIGINT) AS keep
      |FROM q GROUP BY lang ORDER BY lang
      |""".stripMargin))

  /** T25 — unigram-LM surprisal scoring, the perplexity-proxy quality
    * signal: a unigram model is fit on the corpus itself (token counts)
    * and every document is scored by its mean per-token surprisal,
    * surfacing the least-likely (most out-of-distribution) documents.
    * The surprisal of a token with count `c` out of `N` is the INTEGER
    * `length(bin(N div c))` — the dampened log₂ convention t20/t23 use,
    * so both engines rank identically; the only float is the single
    * correctly-rounded `bits/dl` division per document. One explode
    * pass builds per-(doc, token) counts that feed BOTH the vocabulary
    * fit and the scoring join (the t20 one-pass stance); the vocabulary
    * join is token-keyed and AQE broadcasts it when the vocabulary is
    * bounded — at open-vocabulary scale it shuffle-joins and stopword
    * skew splits.
    */
  val t25UnigramSurprisal = QueryDef("t25_unigram_surprisal",
    (s, dir) => {
      val docs = tw(s, dir, "documents", "doc_id")
      val perDoc = docs
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = false) // vocabulary fit + scoring share it
      val vocab = perDoc.groupBy(col("token")).agg(sum(col("c")).as("vc"))
      val nTotal = vocab.agg(sum(col("vc")).as("n"))
      val vStats = vocab.crossJoin(broadcast(nTotal))
        .withColumn("surp", length(bin(expr("n div vc"))).cast("long"))
        .select(col("token"), col("surp"))
      perDoc.join(vStats, "token")
        .groupBy(col("doc_id"))
        .agg(sum(col("c") * col("surp")).as("bits"), sum(col("c")).as("dl"))
        .withColumn("score", col("bits").cast("double") / col("dl").cast("double"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(15)
        .select(col("doc_id"), col("dl"), col("bits"), col("score"))
    },
    Some(s"""
      |WITH $tokSql,
      |tok AS (SELECT doc_id, unnest(tk) AS token FROM toks),
      |pd AS (SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      |vocab AS (SELECT token, CAST(SUM(c) AS BIGINT) AS vc FROM pd GROUP BY 1),
      |n AS (SELECT CAST(SUM(vc) AS BIGINT) AS n FROM vocab),
      |vs AS (SELECT token, CAST(length(bin(n.n // vc)) AS BIGINT) AS surp
      |       FROM vocab, n),
      |sc AS (SELECT doc_id, CAST(SUM(c * surp) AS BIGINT) AS bits,
      |              CAST(SUM(c) AS BIGINT) AS dl
      |       FROM pd JOIN vs USING (token) GROUP BY 1)
      |SELECT doc_id, dl, bits,
      |       CAST(bits AS DOUBLE) / CAST(dl AS DOUBLE) AS score
      |FROM sc ORDER BY score DESC, doc_id LIMIT 15
      |""".stripMargin))

  /** S10 — hybrid retrieval via reciprocal-rank fusion: the t23 BM25
    * ranking and a length-normalized TF·IDF dot-product ranking (same
    * integer-idf convention, NO tf saturation — a genuinely different
    * ranker) are each cut to a top-20, then fused with the standard
    * RRF(k=60): `Σ 1/(60 + rank)`, absent list ⇒ no contribution. Both
    * scores come off ONE shared scan (the t23 tf frame); each top-20 is
    * a global TakeOrdered (no full sort), and the rank window runs on
    * the 20-row cut — bounded by construction, the t17 stance. The
    * fusion join is 20×20 row-trivial. All floats are per-term
    * correctly-rounded divisions summed in fixed textual order, so both
    * engines produce bit-identical doubles.
    */
  val s10RrfFusion = QueryDef("s10_rrf_fusion",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val n = Tables.rowCount(s, dir, "documents")
      val terms = Seq("join", "scan", "merge")
      val base = docs.select(col("doc_id"),
        TextAnalysis.tokens(col("text")).as("tk"))
      val withTf = terms.foldLeft(
        base.withColumn("dl", size(col("tk")).cast("long"))) {
          case (df, term) => df.withColumn(s"tf_$term",
            size(filter(col("tk"), x => x === term)).cast("long"))
        }.drop("tk").localCheckpoint(eager = false)
      val statAggs = sum(col("dl")).as("tl") +:
        terms.map(tm =>
          sum(when(col(s"tf_$tm") > 0, 1L).otherwise(0L)).as(s"df_$tm"))
      val stats = withTf.agg(statAggs.head, statAggs.tail: _*)
      def idf(tm: String) = length(bin(expr(
        s"CAST(${n + 1} AS BIGINT) div (df_$tm + 1)"))).cast("long")
      val bm = terms.map { tm =>
        idf(tm) * (lit(22L) * col(s"tf_$tm") * col("tl")).cast("double") /
          (lit(10L) * col("tl") * col(s"tf_$tm") + lit(3L) * col("tl") +
            lit(9L) * col("dl") * lit(n)).cast("double")
      }.reduce(_ + _)
      val ti = when(col("dl") > 0, terms.map { tm =>
        (idf(tm) * idf(tm) * col(s"tf_$tm")).cast("double") /
          col("dl").cast("double")
      }.reduce(_ + _)).otherwise(lit(0.0))
      val scored = withTf.crossJoin(broadcast(stats))
        .select(col("doc_id"), bm.as("s_bm"), ti.as("s_ti"))
        .localCheckpoint(eager = false) // both top-20 cuts share it
      def top20(scoreCol: String, rankName: String) = {
        // rank window runs AFTER the global top-k cut: 20 rows, bounded
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col(scoreCol).desc, col("doc_id"))
        scored.orderBy(col(scoreCol).desc, col("doc_id")).limit(20)
          .withColumn(rankName, row_number().over(w))
          .select(col("doc_id"), col(rankName))
      }
      top20("s_bm", "r_bm25").join(top20("s_ti", "r_tfidf"),
          Seq("doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("r_bm25")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("r_tfidf")), lit(0.0)))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("r_bm25"), col("r_tfidf"), col("rrf"))
    },
    Some(s"""
      |WITH $tokSql,
      |$bm25BaseSql,
      |stats AS (
      |  SELECT CAST(SUM(dl) AS BIGINT) AS tl,
      |         $bm25DfSql
      |  FROM base),
      |scored AS (
      |  SELECT doc_id,
      |    $bm25ScoreSql
      |      AS s_bm,
      |    CASE WHEN dl > 0 THEN
      |      CAST(length(bin((n_all + 1) // (df_join + 1)))
      |           * length(bin((n_all + 1) // (df_join + 1))) * tf_join AS DOUBLE)
      |        / CAST(dl AS DOUBLE)
      |      + CAST(length(bin((n_all + 1) // (df_scan + 1)))
      |           * length(bin((n_all + 1) // (df_scan + 1))) * tf_scan AS DOUBLE)
      |        / CAST(dl AS DOUBLE)
      |      + CAST(length(bin((n_all + 1) // (df_merge + 1)))
      |           * length(bin((n_all + 1) // (df_merge + 1))) * tf_merge AS DOUBLE)
      |        / CAST(dl AS DOUBLE)
      |    ELSE CAST(0 AS DOUBLE) END AS s_ti
      |  FROM base, stats),
      |b1 AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY s_bm DESC, doc_id) AS r_bm25
      |  FROM scored ORDER BY s_bm DESC, doc_id LIMIT 20),
      |b2 AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY s_ti DESC, doc_id) AS r_tfidf
      |  FROM scored ORDER BY s_ti DESC, doc_id LIMIT 20)
      |SELECT COALESCE(b1.doc_id, b2.doc_id) AS doc_id,
      |       CAST(r_bm25 AS INT) AS r_bm25, CAST(r_tfidf AS INT) AS r_tfidf,
      |       COALESCE(CAST(1 AS DOUBLE) / (60 + r_bm25), CAST(0 AS DOUBLE))
      |         + COALESCE(CAST(1 AS DOUBLE) / (60 + r_tfidf), CAST(0 AS DOUBLE))
      |         AS rrf
      |FROM b1 FULL OUTER JOIN b2 ON b1.doc_id = b2.doc_id
      |ORDER BY rrf DESC, doc_id LIMIT 10
      |""".stripMargin))

  /** M4 — multimodal exact dedup: duplicate media detected on the md5 of
    * the BINARY payload itself (not any sidecar text), with canonical
    * election by min id — d1's shape moved onto the opaque-binary
    * column, which is how image/audio dedup actually runs at 100 TB
    * (hash the bytes once at ingest, group on the fixed-width digest).
    * A `doc_id % 7` slice re-lands under fresh ids (the double-ingested
    * batch every crawl eventually produces), so the query is
    * non-vacuous at every scale. The oracle groups by the synthesis
    * pre-image (`md5(text)`) — the identical PARTITION of ids, since
    * the payload is a pure function of the text — so the gate pins
    * group membership, sizes, and canonical election; DuckDB has no
    * blob md5 to replay the digest string itself.
    */
  val m4MediaDedup = QueryDef("m4_media_dedup",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val media = graft.multimodal.Multimodal.synthesizeFromDocs(docs).toDF()
      val reingested = graft.multimodal.Multimodal.synthesizeFromDocs(
        docs.filter(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 10000000L)).toDF()
      media.unionByName(reingested)
        .withColumn("chash", md5(col("content")))
        .groupBy(col("chash"))
        .agg(min(col("media_id")).as("canonical_id"),
          count(lit(1)).as("n_copies"),
          countDistinct(col("kind")).as("n_kinds"))
        .filter(col("n_copies") > 1)
        .select(col("canonical_id"), col("n_copies"), col("n_kinds"))
        .orderBy(col("canonical_id"))
    },
    Some("""
      |WITH m AS (
      |  SELECT doc_id, md5(text) AS h FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000, md5(text) FROM documents
      |  WHERE doc_id % 7 = 0)
      |SELECT MIN(doc_id) AS canonical_id,
      |       COUNT(*) AS n_copies,
      |       CAST(COUNT(DISTINCT CASE doc_id % 3
      |              WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |              ELSE 'video' END) AS BIGINT) AS n_kinds
      |FROM m GROUP BY h HAVING COUNT(*) > 1
      |ORDER BY canonical_id
      |""".stripMargin))

  /** T28 — dedup savings: the measurement that tells a pretraining run
    * what exact dedup actually buys — per language, raw vs effective
    * (first-wins deduped) document and token counts and the savings in
    * ppm. Keeper election is the d8 struct-argmax (min-doc_id row rides
    * a single hash aggregate on content hash — no window); a
    * `doc_id % 7` slice re-lands under fresh ids (the m4 convention) so
    * savings are non-zero at every scale. Integer ppm with pinned
    * division order.
    */
  val t28DedupSavings = QueryDef("t28_dedup_savings",
    (s, dir) => {
      val raw0 = t(s, dir, "documents")
      val docs = raw0.unionByName(
        raw0.filter(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 10000000L))
      val perDoc = docs.select(col("lang"), col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"),
          TextAnalysis.contentHash(col("text")).as("h"))
        .localCheckpoint(eager = false) // raw rollup + keeper election share it
      val raw = perDoc.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("raw_tokens"))
      val kept = perDoc.groupBy(col("h"))
        .agg(min(struct(col("doc_id"), col("lang"), col("n_tok"))).as("k"))
        .groupBy(col("k.lang").as("lang"))
        .agg(count(lit(1)).as("kept_docs"),
          sum(col("k.n_tok")).as("kept_tokens"))
      raw.join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("raw_tokens"),
          coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
        .withColumn("savings_ppm",
          expr("(raw_tokens - kept_tokens) * 1000000L div raw_tokens"))
        .orderBy(col("lang"))
    },
    Some(s"""
      |WITH m AS (
      |  SELECT lang, doc_id, text FROM documents
      |  UNION ALL
      |  SELECT lang, doc_id + 10000000, text FROM documents
      |  WHERE doc_id % 7 = 0),
      |st AS (
      |  SELECT lang, doc_id,
      |         CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
      |                              x -> x <> '')) AS BIGINT) AS n_tok,
      |         md5(text) AS h
      |  FROM m),
      |k AS (SELECT h, MIN(doc_id) AS kid FROM st GROUP BY h),
      |kept AS (
      |  SELECT s.lang, CAST(COUNT(*) AS BIGINT) AS kept_docs,
      |         CAST(SUM(s.n_tok) AS BIGINT) AS kept_tokens
      |  FROM st s JOIN k ON s.h = k.h AND s.doc_id = k.kid
      |  GROUP BY s.lang),
      |raw AS (
      |  SELECT lang, COUNT(*) AS n_docs,
      |         CAST(SUM(n_tok) AS BIGINT) AS raw_tokens
      |  FROM st GROUP BY lang)
      |SELECT raw.lang AS lang, n_docs, raw_tokens,
      |       COALESCE(kept_docs, 0) AS kept_docs,
      |       COALESCE(kept_tokens, 0) AS kept_tokens,
      |       CAST((raw_tokens - COALESCE(kept_tokens, 0)) * 1000000
      |            // raw_tokens AS BIGINT) AS savings_ppm
      |FROM raw LEFT JOIN kept ON raw.lang = kept.lang
      |ORDER BY raw.lang
      |""".stripMargin))

  /** T29 — cross-source vocabulary overlap matrix
    * ([[graft.dedup.Dedup.sourceOverlap]]): pairwise shared-3-gram
    * counts and vocabulary Jaccard for every source pair — the
    * corpus-mixing diagnostic that flags mirrored/syndicated feeds
    * before document-level dedup can (mirrors share vocabulary long
    * before exact hashes collide; this corpus has ZERO cross-source
    * exact dups at gate scale but rich n-gram overlap). One distinct
    * over (source, gram), a gram-keyed self-join whose fan-out per gram
    * is bounded by the SOURCE cardinality (each source posts a gram
    * once), and broadcast per-source sizes. Output is the S² matrix.
    */
  val t29SourceOverlap = QueryDef("t29_source_overlap",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.sourceOverlap(docs, "source", "doc_id", "text", n = 3)
        .orderBy(col("source_1"), col("source_2"))
    },
    Some(s"""
      |WITH $tokSql,
      |$shSql,
      |v AS (SELECT DISTINCT source, unnest(sh) AS s FROM sh),
      |sizes AS (SELECT source, COUNT(*) AS sz FROM v GROUP BY 1),
      |inter AS (
      |  SELECT a.source AS source_1, b.source AS source_2,
      |         COUNT(*) AS shared_grams
      |  FROM v a JOIN v b ON a.s = b.s AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT i.source_1, i.source_2, i.shared_grams,
      |       s1.sz AS sz1, s2.sz AS sz2,
      |       CAST(i.shared_grams * 1000000 //
      |            (s1.sz + s2.sz - i.shared_grams) AS BIGINT) AS jaccard_ppm
      |FROM inter i
      |JOIN sizes s1 ON i.source_1 = s1.source
      |JOIN sizes s2 ON i.source_2 = s2.source
      |ORDER BY source_1, source_2
      |""".stripMargin))

  /** T30 — fixed-size priority sample
    * ([[graft.sampling.Sampling.prioritySample]]): 50 documents drawn
    * with probability proportional to token count under the
    * Duffield–Lund–Thorup scheme, each carrying the Horvitz–Thompson
    * `est_w = max(w, τ)` that makes sampled subset-sums unbiased — the
    * fixed-budget audit primitive (inspect exactly 50 docs, extrapolate
    * token totals). All integer arithmetic; the oracle replays the
    * exact sample, threshold, and estimator.
    */
  val t30PrioritySample = QueryDef("t30_priority_sample",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.sampling.Sampling.prioritySample(
          docs, "doc_id", TextAnalysis.tokenCount(col("text")), k = 50)
        .select(col("doc_id"), col("lang"), col("w"), col("priority"),
          col("tau"), col("est_w"))
        .orderBy(col("priority").desc, col("doc_id"))
    },
    Some(s"""
      |WITH $tokSql,
      |b AS (
      |  SELECT doc_id, lang, CAST(len(tk) AS BIGINT) AS w,
      |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|psample'),
      |              1, 10) AS BIGINT) AS h
      |  FROM toks WHERE len(tk) > 0),
      |p AS (SELECT doc_id, lang, w,
      |             w * ${1L << 40} // (h + 1) AS priority FROM b),
      |top AS (SELECT * FROM p ORDER BY priority DESC, doc_id LIMIT 51),
      |thr AS (SELECT CAST(CASE WHEN COUNT(*) = 51 THEN MIN(priority)
      |                    ELSE 0 END AS BIGINT) AS tau FROM top),
      |r AS (SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id)
      |        AS rk FROM top)
      |SELECT doc_id, lang, w, priority, tau,
      |       GREATEST(w, tau) AS est_w
      |FROM r, thr WHERE rk <= 50
      |ORDER BY priority DESC, doc_id
      |""".stripMargin))

  /** T31 — robust outlier census ([[graft.sketch.RobustStats
    * .madCensus]]): per-language median / MAD / max-robust-z over token
    * counts, with the z>3 outlier count — the length-anomaly gate a
    * corrupt feed can't drag past itself (50% breakdown point, vs 0%
    * for a mean/stddev cut). Doubled-unit integer medians make every
    * value engine-exact; this uniform synthetic corpus has NO z>3 tail
    * (n_out_z3 = 0 is the true answer — the spec proves the detection
    * leg on planted spikes), while med2/mad4/max_z_milli pin the full
    * arithmetic chain against the oracle.
    */
  val t31MadCensus = QueryDef("t31_mad_census",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.sketch.RobustStats.madCensus(
          docs, "lang", TextAnalysis.tokenCount(col("text")))
        .orderBy(col("lang"))
    },
    Some(s"""
      |WITH $tokSql,
      |v AS (SELECT lang, CAST(len(tk) AS BIGINT) AS x FROM toks),
      |med AS (SELECT lang, CAST(quantile_cont(2 * x, 0.5) AS BIGINT) AS med2
      |        FROM v GROUP BY 1),
      |dev AS (SELECT v.lang, x, abs(2 * x - med2) AS dev2, med2
      |        FROM v JOIN med USING (lang)),
      |mad AS (SELECT lang, CAST(quantile_cont(2 * dev2, 0.5) AS BIGINT) AS mad4
      |        FROM dev GROUP BY 1)
      |SELECT d.lang, COUNT(*) AS n_docs,
      |       any_value(d.med2) AS med2, any_value(m.mad4) AS mad4,
      |       MAX(CASE WHEN m.mad4 > 0 THEN 2000 * d.dev2 // m.mad4 END)
      |         AS max_z_milli,
      |       CAST(SUM(CASE WHEN 2 * d.dev2 > 3 * m.mad4 THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_out_z3
      |FROM dev d JOIN mad m USING (lang)
      |GROUP BY d.lang ORDER BY d.lang
      |""".stripMargin))

  /** D17 — edit-distance verification of the LSH candidates
    * ([[graft.dedup.Dedup.editVerifiedPairs]]): classic two-stage
    * near-dup dedup — d3's banded MinHash proposes, exact Levenshtein
    * over a 200-char prefix confirms, killing banding false positives
    * before a merge acts on them. The O(L²) DP is paid ONLY on the
    * blocker's output with a capped prefix (≤40k cells per pair), never
    * against the corpus; the text joins are id-equi and AQE-managed.
    * Also the cross-engine pin for Levenshtein itself (Spark
    * commons-text vs DuckDB, incl. CJK text).
    */
  val d17EditVerified = QueryDef("d17_edit_verified",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val cands = lshCandsShared(s, dir)
      Dedup.editVerifiedPairs(cands, docs, "doc_id", "text", prefix = 200)
        .orderBy(col("id1"), col("id2"))
    },
    Some(s"""
      |WITH $minhashBandsSql,
      |$lshCandSql,
      |est AS (
      |$lshEstSql),
      |p AS (SELECT doc_id, substr(text, 1, 200) AS pfx FROM documents),
      |v AS (
      |  SELECT e.id1, e.id2, e.est_matches,
      |         CAST(levenshtein(p1.pfx, p2.pfx) AS BIGINT) AS edit_dist,
      |         CAST(GREATEST(length(p1.pfx), length(p2.pfx)) AS BIGINT) AS plen
      |  FROM est e
      |  JOIN p p1 ON p1.doc_id = e.id1
      |  JOIN p p2 ON p2.doc_id = e.id2)
      |SELECT id1, id2, est_matches, edit_dist, plen,
      |       CASE WHEN plen = 0 THEN 1000000
      |            ELSE (plen - edit_dist) * 1000000 // plen END AS edit_sim_ppm,
      |       edit_dist * 1000000 <= plen * 200000 AS verified
      |FROM v ORDER BY id1, id2
      |""".stripMargin))

  /** J12 — incremental materialized-rollup maintenance
    * ([[graft.pipeline.IncrementalRollup]]): a per-priority (count, sum)
    * rollup of `orders` is kept current from a retractable CDC feed —
    * inserts, deletes, and GROUP-MOVING updates (the case that corrupts
    * naive delta schemes) — touching only Δ, never the base. The feed is
    * carved deterministically from the table (k%4=0 inserts; k%10=1
    * deletes; k%10=2 updates moved to a synthetic group at +500 cents),
    * and the oracle recomputes the applied state from scratch: any
    * missed retraction, double-counted assertion, or undrained group
    * hash-mismatches. Maintenance is one Δ scan + one group-bounded
    * aggregate + one group-equi merge — the O(Δ) dashboard-refresh
    * contract at 100 TB.
    */
  val j12IncrementalRollup = QueryDef("j12_incremental_rollup",
    (s, dir) => {
      val ir = graft.pipeline.IncrementalRollup
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("grp"),
          round(col("o_totalprice") * 100, 0).cast("decimal(18,0)")
            .cast("long").as("v"))
        .localCheckpoint(eager = false) // base split + three feed slices
      val base = orders.filter(col("k") % 4 =!= 0)
      val nullS = lit(null).cast("string")
      val nullL = lit(null).cast("long")
      val inserts = orders.filter(col("k") % 4 === 0)
        .select(lit("I").as("op"), col("grp"), col("v"),
          nullS.as("old_grp"), nullL.as("old_v"))
      val deletes = base.filter(col("k") % 10 === 1)
        .select(lit("D").as("op"), nullS.as("grp"), nullL.as("v"),
          col("grp").as("old_grp"), col("v").as("old_v"))
      val updates = base.filter(col("k") % 10 === 2)
        .select(lit("U").as("op"),
          concat(lit("MOVED-"), substring(col("grp"), 1, 1)).as("grp"),
          (col("v") + 500L).as("v"),
          col("grp").as("old_grp"), col("v").as("old_v"))
      val feed = inserts.unionByName(deletes).unionByName(updates)
      val prior = ir.recompute(base, "grp", "v")
      ir.maintain(prior, feed, "grp", "v").orderBy(col("grp"))
    },
    Some("""
      |WITH o AS (
      |  SELECT o_orderkey AS k, o_orderpriority AS grp,
      |         CAST(CAST(ROUND(o_totalprice * 100) AS DECIMAL(18,0)) AS BIGINT) AS v
      |  FROM orders),
      |base AS (SELECT * FROM o WHERE k % 4 <> 0),
      |applied AS (
      |  SELECT grp, v FROM base WHERE k % 10 NOT IN (1, 2)
      |  UNION ALL SELECT grp, v FROM o WHERE k % 4 = 0
      |  UNION ALL SELECT 'MOVED-' || substr(grp, 1, 1) AS grp, v + 500 AS v
      |    FROM base WHERE k % 10 = 2)
      |SELECT grp, COUNT(*) AS cnt, CAST(SUM(v) AS BIGINT) AS sum
      |FROM applied GROUP BY grp ORDER BY grp
      |""".stripMargin))

  /** T32 — bigram-LM surprisal scoring, the CONDITIONAL extension of
    * t25's unigram model: every document is scored by its mean
    * per-bigram surprisal `−log₂ p(w2 | w1)` under a model fit on the
    * corpus itself, surfacing documents whose token TRANSITIONS are
    * out-of-distribution (word salad scores high even when every
    * individual token is common — the failure mode a unigram score
    * can't see). Context counts derive from the same bigram frame
    * (`c1(w1) = Σ_w2 c2(w1,w2)`), so the model is a proper conditional,
    * and surprisal is the integer `length(bin(c1 div c2))` — the
    * dampened-log₂ convention of t20/t23/t25; the only float is one
    * correctly-rounded `bits/nb` division per doc. One explode pass
    * builds per-doc bigram counts feeding BOTH the fit and the scoring
    * join; the vocabulary joins are token-keyed, AQE-managed.
    */
  val t32BigramSurprisal = QueryDef("t32_bigram_surprisal",
    (s, dir) => {
      val docs = tw(s, dir, "documents", "doc_id")
      val pd = docs
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(tk) - 1)," +
            " i -> struct(tk[i-1] AS w1, tk[i] AS w2))")).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .groupBy(col("doc_id"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = false) // model fit + scoring share it
      val c2 = pd.groupBy(col("w1"), col("w2")).agg(sum(col("c")).as("c2"))
      val c1 = pd.groupBy(col("w1")).agg(sum(col("c")).as("c1"))
      val cond = c2.join(c1, "w1")
        .withColumn("surp", length(bin(expr("c1 div c2"))).cast("long"))
        .select(col("w1"), col("w2"), col("surp"))
      pd.join(cond, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c") * col("surp")).as("bits"), sum(col("c")).as("nb"))
        .withColumn("score",
          col("bits").cast("double") / col("nb").cast("double"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(15)
        .select(col("doc_id"), col("nb"), col("bits"), col("score"))
    },
    Some(s"""
      |WITH $tokSql,
      |ix AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
      |       FROM toks WHERE len(tk) >= 2),
      |pr AS (SELECT doc_id, tk[CAST(i AS INT)] AS w1,
      |              tk[CAST(i AS INT) + 1] AS w2 FROM ix),
      |pd AS (SELECT doc_id, w1, w2, COUNT(*) AS c FROM pr GROUP BY 1, 2, 3),
      |c2 AS (SELECT w1, w2, CAST(SUM(c) AS BIGINT) AS c2 FROM pd GROUP BY 1, 2),
      |c1 AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS c1 FROM pd GROUP BY 1),
      |vs AS (SELECT c2.w1, c2.w2,
      |              CAST(length(bin(c1.c1 // c2.c2)) AS BIGINT) AS surp
      |       FROM c2 JOIN c1 USING (w1)),
      |sc AS (SELECT doc_id, CAST(SUM(c * surp) AS BIGINT) AS bits,
      |              CAST(SUM(c) AS BIGINT) AS nb
      |       FROM pd JOIN vs USING (w1, w2) GROUP BY 1)
      |SELECT doc_id, nb, bits,
      |       CAST(bits AS DOUBLE) / CAST(nb AS DOUBLE) AS score
      |FROM sc ORDER BY score DESC, doc_id LIMIT 15
      |""".stripMargin))

  /** S12 — MMR-diversified retrieval ([[Similarity.mmrDiversify]]):
    * a brute-force top-10 pool per probe (vec_id % 50) re-ranked to 3
    * picks by maximal marginal relevance with λ = ½ — relevance minus
    * worst redundancy against what's already picked. The oracle
    * unrolls both greedy rounds (the s5 unrolled-k-means precedent)
    * with identical IEEE double arithmetic over exact integer dots, so
    * every pick and every score replays bit-for-bit.
    */
  val s12MmrRerank = QueryDef("s12_mmr_rerank",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val pool = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") % 50 === 0), emb, "vec_id", "embedding", 10)
      Similarity.mmrDiversify(pool, emb, "vec_id", "embedding", k = 3)
        .orderBy(col("query_id"), col("mmr_rank"))
    },
    Some(s"""
      |WITH $qSql,
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         ${cosineSql("q.qv", "c.qv")} AS cosine
      |  FROM qv q, qv c
      |  WHERE q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
      |pool AS (
      |  SELECT * FROM (
      |    ${rankSql("query_id", "scored")}) WHERE rank <= 10),
      |ps AS (
      |  SELECT a.query_id, a.neighbor_id AS a, b.neighbor_id AS b,
      |         ${cosineSql("va.qv", "vb.qv")} AS sim
      |  FROM pool a JOIN pool b
      |    ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
      |  JOIN qv va ON va.vec_id = a.neighbor_id
      |  JOIN qv vb ON vb.vec_id = b.neighbor_id),
      |s1 AS (SELECT query_id, neighbor_id, cosine AS mmr_score
      |       FROM pool WHERE rank = 1),
      |c2 AS (
      |  SELECT ps.query_id, ps.a AS neighbor_id, pl.cosine,
      |         MAX(ps.sim) AS maxsim
      |  FROM ps
      |  JOIN s1 ON ps.query_id = s1.query_id AND ps.b = s1.neighbor_id
      |  JOIN pool pl ON pl.query_id = ps.query_id AND pl.neighbor_id = ps.a
      |  WHERE NOT EXISTS (SELECT 1 FROM s1 x
      |                    WHERE x.query_id = ps.query_id
      |                      AND x.neighbor_id = ps.a)
      |  GROUP BY 1, 2, 3),
      |s2 AS (
      |  SELECT query_id, neighbor_id,
      |         0.5 * cosine - 0.5 * maxsim AS mmr_score
      |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |          ORDER BY 0.5 * cosine - 0.5 * maxsim DESC, neighbor_id) AS rn
      |        FROM c2) WHERE rn = 1),
      |sel2 AS (SELECT query_id, neighbor_id FROM s1
      |         UNION ALL SELECT query_id, neighbor_id FROM s2),
      |c3 AS (
      |  SELECT ps.query_id, ps.a AS neighbor_id, pl.cosine,
      |         MAX(ps.sim) AS maxsim
      |  FROM ps
      |  JOIN sel2 ON ps.query_id = sel2.query_id AND ps.b = sel2.neighbor_id
      |  JOIN pool pl ON pl.query_id = ps.query_id AND pl.neighbor_id = ps.a
      |  WHERE NOT EXISTS (SELECT 1 FROM sel2 x
      |                    WHERE x.query_id = ps.query_id
      |                      AND x.neighbor_id = ps.a)
      |  GROUP BY 1, 2, 3),
      |s3 AS (
      |  SELECT query_id, neighbor_id,
      |         0.5 * cosine - 0.5 * maxsim AS mmr_score
      |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |          ORDER BY 0.5 * cosine - 0.5 * maxsim DESC, neighbor_id) AS rn
      |        FROM c3) WHERE rn = 1)
      |SELECT query_id, CAST(1 AS INT) AS mmr_rank, neighbor_id, mmr_score FROM s1
      |UNION ALL
      |SELECT query_id, CAST(2 AS INT), neighbor_id, mmr_score FROM s2
      |UNION ALL
      |SELECT query_id, CAST(3 AS INT), neighbor_id, mmr_score FROM s3
      |ORDER BY query_id, mmr_rank
      |""".stripMargin))

  /** T33 — content-defined chunk dedup census
    * ([[graft.dedup.Dedup.contentDefinedChunks]]): the corpus cut into
    * gear-CDC token chunks (expected ~16 tokens; a position whose
    * trailing 3-token window hashes to 0 mod 16 closes its chunk) and
    * deduplicated at CHUNK granularity —
    * the storage/transfer savings measurement that sees the partial
    * overlap (shared paragraphs between near-dups) document-level d1 /
    * t28 cannot. Boundaries are pure functions of local content, so an
    * edit re-chunks only its neighborhood. Per-language: chunk counts,
    * distinct chunks, dup ppm, and token-weighted storage savings.
    */
  val t33CdcChunks = QueryDef("t33_cdc_chunks",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contentDefinedChunks(docs, "doc_id", "text", Seq("lang"), 16)
        .groupBy(col("lang"), col("chunk_hash"))
        .agg(count(lit(1)).as("cnt"), max(col("n_tok")).as("nt"))
        .groupBy(col("lang"))
        .agg(sum(col("cnt")).as("n_chunks"),
          count(lit(1)).as("distinct_chunks"),
          sum(col("cnt") * col("nt")).as("tok_total"),
          sum(col("nt")).as("tok_stored"))
        .select(col("lang"), col("n_chunks"), col("distinct_chunks"),
          expr("(n_chunks - distinct_chunks) * 1000000L div n_chunks")
            .as("dup_chunk_ppm"),
          col("tok_total"), col("tok_stored"),
          expr("(tok_total - tok_stored) * 1000000L div tok_total")
            .as("savings_ppm"))
        .orderBy(col("lang"))
    },
    Some(s"""
      |WITH $tokSql,
      |ix AS (SELECT doc_id, lang, tk, unnest(range(1, len(tk) + 1)) AS i
      |       FROM toks WHERE len(tk) > 0),
      |tp AS (SELECT doc_id, lang, tk, CAST(i AS INT) AS pos,
      |              tk[CAST(i AS INT)] AS tok FROM ix),
      |b AS (SELECT doc_id, lang, pos, tok,
      |        CASE WHEN pos >= 3 AND
      |                  CAST('0x' || substr(md5(
      |                    array_to_string(tk[pos-2:pos], ' ')), 1, 7) AS BIGINT)
      |                  % 16 = 0 THEN 1 ELSE 0 END AS is_b FROM tp),
      |c AS (SELECT *, SUM(is_b) OVER (PARTITION BY doc_id ORDER BY pos)
      |                - is_b AS chunk_idx FROM b),
      |ch AS (SELECT doc_id, lang, chunk_idx,
      |              md5(string_agg(tok, ' ' ORDER BY pos)) AS h,
      |              COUNT(*) AS n_tok
      |       FROM c GROUP BY 1, 2, 3),
      |g AS (SELECT lang, h, COUNT(*) AS cnt, MAX(n_tok) AS nt
      |      FROM ch GROUP BY 1, 2)
      |SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n_chunks,
      |       COUNT(*) AS distinct_chunks,
      |       CAST((SUM(cnt) - COUNT(*)) * 1000000 // SUM(cnt) AS BIGINT)
      |         AS dup_chunk_ppm,
      |       CAST(SUM(cnt * nt) AS BIGINT) AS tok_total,
      |       CAST(SUM(nt) AS BIGINT) AS tok_stored,
      |       CAST((SUM(cnt * nt) - SUM(nt)) * 1000000 // SUM(cnt * nt)
      |            AS BIGINT) AS savings_ppm
      |FROM g GROUP BY lang ORDER BY lang
      |""".stripMargin))

  /** T34 — cross-group score calibration
    * ([[graft.sketch.ApproxQuantiles.calibratedRankPpm]]): every doc's
    * quality score converted to a PERCENTILE RANK within its own
    * language, from the bounded log-histogram — "83rd percentile of its
    * group" transfers across corpora whose raw score scales don't. The
    * gate reports the per-language decile census of the calibrated
    * ranks (ties share floor-convention ranks, so the census pins the
    * whole histogram→rank chain). No per-group window over the data —
    * the grid is windowed (≤1024 cells/group) and broadcast back, the
    * skew-free calibration form.
    */
  val t34CalibratedQuality = QueryDef("t34_calibrated_quality",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("lang"),
          TextAnalysis.qualityScore(col("text")).cast("long").as("q"))
      graft.sketch.ApproxQuantiles.calibratedRankPpm(docs, "lang", "q")
        .groupBy(col("lang"),
          expr("rank_ppm div 100000").as("decile"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("decile"))
    },
    Some(s"""
      |WITH $tokSql,
      |st AS (
      |  SELECT lang,
      |         len(tk) AS n_tok, length(text) AS n_chr,
      |         length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS n_pun,
      |         len(list_intersect(tk,
      |           [${(TextAnalysis.EnglishStopwords ++ TextAnalysis.SpanishStopwords)
                    .map("'" + _ + "'").mkString(",")}])) AS hits
      |  FROM toks),
      |q AS (
      |  SELECT lang,
      |         ${qualitySql("hits")} AS v
      |  FROM st),
      |b AS (SELECT lang, ${graft.sketch.ApproxQuantiles.logBinSql("v", 4)} AS id
      |      FROM q WHERE v >= 0),
      |hist AS (SELECT lang, id, COUNT(*) AS c FROM b GROUP BY 1, 2),
      |cum AS (SELECT lang, id,
      |          SUM(c) OVER (PARTITION BY lang ORDER BY id) - c AS cum_below,
      |          SUM(c) OVER (PARTITION BY lang) AS n
      |        FROM hist),
      |r AS (SELECT b.lang, cum_below * 1000000 // n AS rank_ppm
      |      FROM b JOIN cum USING (lang, id))
      |SELECT lang, CAST(rank_ppm // 100000 AS BIGINT) AS decile,
      |       COUNT(*) AS n_docs
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2
      |""".stripMargin))

  /** T35 — document novelty ranking ([[graft.dedup.Dedup
    * .noveltyScores]]): the 15 MOST DERIVATIVE documents — those whose
    * distinct 3-grams were almost all seen in earlier (lower-id) docs.
    * Verbatim re-posts score 0 ppm; content stitched from many sources
    * scores low with NO single near-dup pair to betray it — the signal
    * pairwise dedup (d2/d3/d17) structurally can't produce. One
    * first-owner aggregate + one gram-keyed join, no pair space.
    */
  val t35Novelty = QueryDef("t35_novelty",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.noveltyScores(docs, "doc_id", "text", 3, carry = Seq("lang"))
        .orderBy(col("novelty_ppm"), col("doc_id"))
        .limit(15)
        .select(col("doc_id"), col("lang"), col("n_grams"),
          col("novel_grams"), col("novelty_ppm"))
    },
    Some(s"""
      |WITH $tokSql,
      |$shSql,
      |ex AS (SELECT DISTINCT doc_id, lang, unnest(sh) AS s FROM sh),
      |first AS (SELECT s, MIN(doc_id) AS fd FROM ex GROUP BY 1),
      |sc AS (
      |  SELECT ex.doc_id, ex.lang, COUNT(*) AS n_grams,
      |         CAST(SUM(CASE WHEN fd = ex.doc_id THEN 1 ELSE 0 END)
      |              AS BIGINT) AS novel_grams
      |  FROM ex JOIN first USING (s)
      |  GROUP BY 1, 2)
      |SELECT doc_id, lang, n_grams, novel_grams,
      |       novel_grams * 1000000 // n_grams AS novelty_ppm
      |FROM sc ORDER BY novelty_ppm, doc_id LIMIT 15
      |""".stripMargin))

  /** E9 — interarrival anomaly census: [[graft.sketch.RobustStats
    * .madCensus]] applied to per-user event gaps, grouped by the
    * arriving event's type — the robust tail census that flags burst /
    * stall anomalies per event class without a threshold to tune
    * (median/MAD can't be dragged by the bursts themselves, t31's
    * argument on the time axis). Per-user lag windows are user-bounded
    * (the e2 shape); gaps ride the micros axis (`ts DIV 1000` ≡
    * `epoch_us`, the e2 truncation convention). Event times are
    * near-Poisson, so genuine z>3 tails EXIST here — the detection leg
    * t31's uniform corpus couldn't exercise under the oracle.
    */
  val e9GapAnomaly = QueryDef("e9_gap_anomaly",
    (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        expr("ts DIV 1000").as("tus"), col("event_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
      val gaps = ev
        .withColumn("ptus", lag(col("tus"), 1).over(w))
        .filter(col("ptus").isNotNull)
        .select(col("event_type"), expr("(tus - ptus) DIV 1000").as("gap_ms"))
      graft.sketch.RobustStats.madCensus(gaps, "event_type", col("gap_ms"))
        .orderBy(col("event_type"))
    },
    Some("""
      |WITH g AS (
      |  SELECT event_type,
      |         (epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |            PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
      |           // 1000 AS x
      |  FROM events),
      |v AS (SELECT event_type, x FROM g WHERE x IS NOT NULL),
      |med AS (SELECT event_type,
      |          CAST(quantile_cont(2 * x, 0.5) AS BIGINT) AS med2
      |        FROM v GROUP BY 1),
      |dev AS (SELECT v.event_type, abs(2 * x - med2) AS dev2, med2
      |        FROM v JOIN med USING (event_type)),
      |mad AS (SELECT event_type,
      |          CAST(quantile_cont(2 * dev2, 0.5) AS BIGINT) AS mad4
      |        FROM dev GROUP BY 1)
      |SELECT d.event_type, COUNT(*) AS n_docs,
      |       any_value(d.med2) AS med2, any_value(m.mad4) AS mad4,
      |       MAX(CASE WHEN m.mad4 > 0 THEN 2000 * d.dev2 // m.mad4 END)
      |         AS max_z_milli,
      |       CAST(SUM(CASE WHEN 2 * d.dev2 > 3 * m.mad4 THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_out_z3
      |FROM dev d JOIN mad m USING (event_type)
      |GROUP BY d.event_type ORDER BY d.event_type
      |""".stripMargin))

  /** J13 — bloom-pruned semi join ([[graft.dedup.Dedup
    * .bloomSemiJoin]]): lineitem reduced to the rows of URGENT orders
    * with the fact side cut SCAN-STAGE by a codegen'd `might_contain`
    * before any exchange — the explicit form of the runtime join
    * filters Spark injects, sized from footer counts. The bloom can
    * only divert definite-non-members away from the exact semi join,
    * so the oracle is the plain `IN` subquery: any fpp leakage or
    * misrouted row hash-mismatches. Output is the per-returnflag
    * census of the reduced fact.
    */
  val j13BloomSemiJoin = QueryDef("j13_bloom_semi_join",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey"))
      Dedup.bloomSemiJoin(li, urgent, "l_orderkey",
          expectedKeys = Tables.rowCount(s, dir, "orders"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      |SELECT l_returnflag, COUNT(*) AS n_items,
      |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
      |                     WHERE o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag ORDER BY l_returnflag
      |""".stripMargin))

  /** S13 — random-projection ANN with measured recall
    * ([[Similarity.randomProjection]]): embeddings compressed 64 → 16
    * dims by a deterministic Rademacher ±1 matrix (JL sign projection),
    * top-5 answered in the PROJECTED space, and recall scored against
    * the exact full-dimension top-5 per probe — the 4×-smaller-vector
    * lever with its accuracy cost measured, not assumed. Projection is
    * scan-stage (one codegen'd integer dot per output dim against a
    * literal row); the oracle regenerates the same matrix from the same
    * md5 parity and replays every projected coordinate exactly.
    */
  val s13RpRecall = QueryDef("s13_rp_recall",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val exact = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") % 20 === 0), emb, "vec_id", "embedding", 5)
      val proj = Similarity.randomProjection(emb, "vec_id", "embedding",
        outDims = 16, inDims = 64)
      val approx = Similarity.topKFromQuantized(
        proj.filter(col("vec_id") % 20 === 0)
          .select(col("vec_id").as("query_id"), col("pv").as("qv")),
        proj.select(col("vec_id").as("neighbor_id"), col("pv").as("cv")), 5)
      exact.select(col("query_id"), col("neighbor_id"))
        .join(approx.select(col("query_id"), col("neighbor_id"))
          .withColumn("hit", lit(1L)), Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum(col("hit")), lit(0L)).as("hits"))
        .withColumn("recall_ppm", expr("hits * 1000000L div n_exact"))
        .orderBy(col("query_id"))
    },
    Some(s"""
      |WITH $qSql,
      |${hyperplanesSql("16")},
      |pvec AS (
      |  SELECT vec_id, list(CAST(d AS BIGINT) ORDER BY i) AS pv
      |  FROM (SELECT v.vec_id, r.i,
      |               list_dot_product(CAST(v.qv AS DOUBLE[]),
      |                                CAST(r.r AS DOUBLE[])) AS d
      |        FROM qv v, rp r)
      |  GROUP BY vec_id),
      |${exactTop5Sql("query_id")},
      |ap_scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         ${cosineSql("q.pv", "c.pv")} AS cosine
      |  FROM pvec q, pvec c
      |  WHERE q.vec_id % 20 = 0 AND q.vec_id <> c.vec_id),
      |approx AS (
      |  SELECT query_id, neighbor_id FROM (
      |    ${rankSql("query_id", "ap_scored")}) WHERE rank <= 5)
      |$recallSql
      |""".stripMargin))

  /** T36 — per-language fixed-size priority sample
    * ([[graft.sampling.Sampling.prioritySampleByGroup]]): t30's DLT
    * scheme within each language — 10 docs per lang, each stratum with
    * its own threshold and Horvitz–Thompson weights, so per-stratum
    * token totals extrapolate unbiasedly from the balanced sample.
    * Selection is the window-free grouped top-k aggregate (map-side
    * k-slot partials — a mega-stratum splits like any hash aggregate);
    * the oracle ranks per-lang with a window, which is fine THERE:
    * DuckDB replays sf-scale data, the Spark plan is the one that must
    * survive 100×.
    */
  val t36StratifiedPriority = QueryDef("t36_stratified_priority",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.sampling.Sampling.prioritySampleByGroup(
          docs, "lang", "doc_id", TextAnalysis.tokenCount(col("text")),
          k = 10)
        .orderBy(col("lang"), col("rank"))
    },
    Some(s"""
      |WITH $tokSql,
      |b AS (
      |  SELECT lang, doc_id, CAST(len(tk) AS BIGINT) AS w,
      |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|psample'),
      |              1, 10) AS BIGINT) AS h
      |  FROM toks WHERE len(tk) > 0),
      |p AS (SELECT lang, doc_id, w,
      |             w * ${1L << 40} // (h + 1) AS priority FROM b),
      |r AS (SELECT *, row_number() OVER (PARTITION BY lang
      |        ORDER BY priority DESC, doc_id) AS rk FROM p),
      |thr AS (
      |  SELECT lang,
      |         CAST(COALESCE(MAX(CASE WHEN rk = 11 THEN priority END), 0)
      |              AS BIGINT) AS tau
      |  FROM r WHERE rk <= 11 GROUP BY lang)
      |SELECT r.lang, CAST(rk AS INT) AS rank, doc_id, w, priority, tau,
      |       GREATEST(w, tau) AS est_w
      |FROM r JOIN thr USING (lang) WHERE rk <= 10
      |ORDER BY lang, rank
      |""".stripMargin))

  /** D18 — truncation/containment detection ([[graft.dedup.Dedup
    * .containmentPairs]]): finds documents whose token stream is a
    * strict prefix of another's — the truncated re-post exact dedup
    * can't hash-match and aggressive cuts hide from LSH (50% truncation
    * ⇒ Jaccard ~0.5, under the banding threshold). The corpus has no
    * natural truncations, so the gate re-ingests a half-length slice
    * (doc_id % 13, the m4 planted-structure stance) and must recover
    * exactly those pairs plus any same-prefix structure. Blocking on
    * the exact 8-token prefix hash keeps candidates to prefix families.
    */
  val d18Containment = QueryDef("d18_containment",
    (s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
      val trunc = base
        .filter(col("doc_id") % 13 === 0 && size(col("tk")) >= 16)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          expr("slice(tk, 1, size(tk) div 2)").as("tk"))
      Dedup.containmentPairs(base.unionByName(trunc), "doc_id", "tk", 8)
        .orderBy(col("contained_id"), col("container_id"))
    },
    Some(s"""
      |WITH $tokSql,
      |aug AS (
      |  SELECT doc_id, tk FROM toks
      |  UNION ALL
      |  SELECT doc_id + 10000000, tk[1:CAST(len(tk) // 2 AS INT)]
      |  FROM toks WHERE doc_id % 13 = 0 AND len(tk) >= 16),
      |j AS (
      |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n,
      |         array_to_string(tk, ' ') AS tj,
      |         md5(array_to_string(tk[1:8], ' ')) AS pk
      |  FROM aug WHERE len(tk) >= 8)
      |SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
      |       a.n AS n_a, b.n AS n_b,
      |       a.n * 1000000 // b.n AS coverage_ppm
      |FROM j a JOIN j b ON a.pk = b.pk AND a.n < b.n
      |WHERE substr(b.tj, 1, CAST(length(a.tj) + 1 AS INT)) = a.tj || ' '
      |ORDER BY contained_id, container_id
      |""".stripMargin))

  /** T37 — per-source HyperLogLog distinct 3-gram estimate
    * ([[graft.sketch.Sketch.hllRegistersByGroup]]): the register-array
    * cardinality sketch as TWO plain hash aggregates — `groupBy(source,
    * bucket).max(rho)` then the per-source harmonic fold — no UDAF, no
    * window, fully codegen'd, ≤ 256 cells per source at any corpus
    * size. Complements t7's KMV: registers merge by cell-wise MAX
    * (idempotent — an incremental register store replays batches for
    * free, where KMV needs the k-minima fold). The sketched domain is
    * 3-gram windows, not raw tokens: the ~31-token vocabulary would sit
    * in HLL's small-range regime where the raw estimator is biased
    * (and single-token hashes degenerate per the corpus note) — gram
    * cardinality clears 2.5·m at every gate scale. Duplicate grams feed
    * the registers directly (max absorbs them): no distinct shuffle.
    * Integer-exact estimator: Σ2^(−M_j) scaled by 2^33, then
    * `HllAlphaNum DIV S` (the α·m²·2^33 numerator pre-folded to a
    * 49-bit constant, overflow-free at any cardinality) — bit-identical
    * on both engines.
    */
  val t37HllBySource = QueryDef("t37_hll_by_source",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.sketch.Sketch.hllEstimateByGroup(
          Dedup.positionalShingleRows(docs, "doc_id", "text", 3,
            Seq("source")),
          Seq("source"), "s")
        .orderBy(col("source"))
    },
    Some(s"""
      |WITH $tokSql,
      |g AS (
      |  SELECT source, unnest(list_transform(range(1, len(tk) - 1),
      |         i -> array_to_string(tk[i:i+2], ' '))) AS gram
      |  FROM toks WHERE len(tk) >= 3),
      |h AS (
      |  SELECT source,
      |         CAST('0x' || substr(md5(gram), 1, 10) AS BIGINT) AS hh
      |  FROM g),
      |reg AS (
      |  SELECT source, hh >> 32 AS bucket,
      |         MAX(CASE WHEN (hh & 4294967295) = 0 THEN 33
      |                  ELSE 33 - length(bin(hh & 4294967295)) END) AS r
      |  FROM h GROUP BY source, hh >> 32),
      |est AS (
      |  SELECT source, SUM(1::BIGINT << (33 - r)) AS s_ne,
      |         COUNT(*) AS ne
      |  FROM reg GROUP BY source)
      |SELECT source,
      |       CAST(${graft.sketch.Sketch.HllAlphaNum}
      |            // (s_ne + (256 - ne) * ${1L << 33}) AS BIGINT)
      |            AS distinct_estimate,
      |       CAST(ne AS BIGINT) AS sketch_size
      |FROM est ORDER BY source
      |""".stripMargin))

  /** T38 — stupid-backoff trigram surprisal (Brants et al. 2007), the
    * top of the t25 → t32 quality-signal ladder: held-out documents are
    * scored under a trigram model FIT ON THE t10 TRAIN SPLIT, backing
    * off trigram → bigram → unigram with a fixed integer penalty per
    * level (the dampened −log₂ 0.4). The split is what makes backoff
    * real: a self-fit model (t32's stance) contains every gram it
    * scores and never backs off — here val/test trigrams genuinely miss
    * the train tensor, and `backoff_ppm` exposes how much of each doc's
    * probability mass lives below the trigram level (the
    * out-of-distribution signal itself).
    *
    * Every count is a marginal of ONE fitted trigram tensor (c2/c1/N by
    * summing out positions), so the model is a proper conditional at
    * each level and the oracle replays it from the same tensor. All
    * surprisal arithmetic is the integer `length(bin(ctx div gram))`
    * convention of t20/t23/t25/t32; the only float is one
    * correctly-rounded bits/n division per doc. Vocabulary joins are
    * token-keyed and AQE-managed; the model frames are marginal-sized
    * (≤ vocab³), never corpus-sized.
    */
  val t38BackoffSurprisal = QueryDef("t38_backoff_surprisal",
    (s, dir) => {
      val docs = tw(s, dir, "documents", "doc_id")
      val pd = docs
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(tk) - 2)," +
            " i -> struct(tk[i-1] AS w1, tk[i] AS w2, tk[i+1] AS w3))"))
          .as("tg"))
        .select(col("doc_id"), col("tg.w1").as("w1"), col("tg.w2").as("w2"),
          col("tg.w3").as("w3"))
        .groupBy(col("doc_id"), col("w1"), col("w2"), col("w3"))
        .agg(count(lit(1)).as("c"))
        .withColumn("ppm",
          graft.sampling.Sampling.hashUniformPpm(col("doc_id"), "split"))
        .localCheckpoint(eager = false) // fit + held-out scoring share it
      val c3 = pd.filter(col("ppm") < 900000L)
        .groupBy(col("w1"), col("w2"), col("w3"))
        .agg(sum(col("c")).as("c3"))
        .localCheckpoint(eager = false) // five marginals read it
      val c2ctx = c3.groupBy(col("w1"), col("w2"))
        .agg(sum(col("c3")).as("c2ctx"))
      val c2b = c3.groupBy(col("w2"), col("w3")).agg(sum(col("c3")).as("c2b"))
      val c1w2 = c3.groupBy(col("w2")).agg(sum(col("c3")).as("c1w2"))
      val c1w3 = c3.groupBy(col("w3")).agg(sum(col("c3")).as("c1w3"))
      val nTot = c3.agg(sum(col("c3")).as("ntot"))
      pd.filter(col("ppm") >= 900000L)
        .join(c3, Seq("w1", "w2", "w3"), "left")
        .join(c2ctx, Seq("w1", "w2"), "left")
        .join(c2b, Seq("w2", "w3"), "left")
        .join(c1w2, Seq("w2"), "left")
        .join(c1w3, Seq("w3"), "left")
        .crossJoin(broadcast(nTot))
        .withColumn("surp",
          when(col("c3").isNotNull, length(bin(expr("c2ctx div c3"))))
            .when(col("c2b").isNotNull,
              lit(1) + length(bin(expr("c1w2 div c2b"))))
            .otherwise(lit(2) + when(col("c1w3").isNotNull,
                length(bin(expr("ntot div c1w3"))))
              .otherwise(length(bin(col("ntot"))))).cast("long"))
        .withColumn("bo", when(col("c3").isNotNull, lit(0L)).otherwise(col("c")))
        .groupBy(col("doc_id"))
        .agg(sum(col("c") * col("surp")).as("bits"), sum(col("c")).as("n3"),
          sum(col("bo")).as("bo"))
        .select(col("doc_id"), col("n3"), col("bits"),
          (col("bits").cast("double") / col("n3").cast("double")).as("score"),
          expr("bo * 1000000 div n3").as("backoff_ppm"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(15)
    },
    Some(s"""
      |WITH $tokSql,
      |ix AS (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
      |       FROM toks WHERE len(tk) >= 3),
      |tg AS (SELECT doc_id, tk[CAST(i AS INT)] AS w1,
      |              tk[CAST(i AS INT) + 1] AS w2,
      |              tk[CAST(i AS INT) + 2] AS w3 FROM ix),
      |pd AS (SELECT doc_id, w1, w2, w3, COUNT(*) AS c,
      |              CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|split'),
      |                   1, 15) AS BIGINT) % 1000000 AS ppm
      |       FROM tg GROUP BY ALL),
      |c3 AS (SELECT w1, w2, w3, CAST(SUM(c) AS BIGINT) AS c3
      |       FROM pd WHERE ppm < 900000 GROUP BY ALL),
      |c2ctx AS (SELECT w1, w2, CAST(SUM(c3) AS BIGINT) AS c2ctx
      |          FROM c3 GROUP BY ALL),
      |c2b AS (SELECT w2, w3, CAST(SUM(c3) AS BIGINT) AS c2b
      |        FROM c3 GROUP BY ALL),
      |c1w2 AS (SELECT w2, CAST(SUM(c3) AS BIGINT) AS c1w2 FROM c3 GROUP BY ALL),
      |c1w3 AS (SELECT w3, CAST(SUM(c3) AS BIGINT) AS c1w3 FROM c3 GROUP BY ALL),
      |ntot AS (SELECT CAST(SUM(c3) AS BIGINT) AS ntot FROM c3),
      |sc AS (
      |  SELECT h.doc_id, h.c,
      |         CASE WHEN c3.c3 IS NOT NULL THEN length(bin(c2ctx // c3.c3))
      |              WHEN c2b.c2b IS NOT NULL THEN 1 + length(bin(c1w2 // c2b.c2b))
      |              ELSE 2 + CASE WHEN c1w3.c1w3 IS NOT NULL
      |                            THEN length(bin(ntot // c1w3.c1w3))
      |                            ELSE length(bin(ntot)) END END AS surp,
      |         CASE WHEN c3.c3 IS NOT NULL THEN 0 ELSE h.c END AS bo
      |  FROM pd h
      |  LEFT JOIN c3 USING (w1, w2, w3)
      |  LEFT JOIN c2ctx USING (w1, w2)
      |  LEFT JOIN c2b USING (w2, w3)
      |  LEFT JOIN c1w2 USING (w2)
      |  LEFT JOIN c1w3 USING (w3)
      |  CROSS JOIN ntot
      |  WHERE h.ppm >= 900000),
      |ag AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n3,
      |              CAST(SUM(c * surp) AS BIGINT) AS bits,
      |              CAST(SUM(bo) AS BIGINT) AS bo
      |       FROM sc GROUP BY 1)
      |SELECT doc_id, n3, bits,
      |       CAST(bits AS DOUBLE) / CAST(n3 AS DOUBLE) AS score,
      |       bo * 1000000 // n3 AS backoff_ppm
      |FROM ag ORDER BY score DESC, doc_id LIMIT 15
      |""".stripMargin))

  /** E10 — rolling 6-hour distinct users per event type from HOURLY KMV
    * sketches: the pre-aggregated re-aggregation lever. Hourly sketches
    * are ≤ k longs per (type, hour); each contributes to the 6 target
    * hours it covers (sketch-row fan-out, never raw-event fan-out — a
    * 6× wider window costs 6× the SKETCH rows, not 6× the scan), and
    * the k-minima of a union being a pure function of the parts' minima
    * makes the merged estimate IDENTICAL to sketching the window
    * directly (t26's algebra, applied to time windows). Below k the
    * sketch IS the distinct set, so gate-scale outputs are exact
    * counts; at 100 TB the same plan degrades gracefully to the
    * (k−1)·U/h_k estimate. Target hours are the hours each type is
    * active in (inner join against the hourly keys). Both aggregations
    * are the bounded [[graft.sketch.Sketch.KmvAggregator]] — map-side
    * partials ship ≤ k longs per group per task.
    */
  val e10RollingDistinct = QueryDef("e10_rolling_distinct",
    (s, dir) => {
      val k = 64
      val sketch = udaf(graft.sketch.Sketch.KmvAggregator(k))
      val ev = t(s, dir, "events").select(col("event_type"),
        expr("ts div 3600000000000L").as("hr"),
        graft.sketch.Sketch.hash40(col("user_id")).as("h"))
      val hourly = ev.groupBy(col("event_type"), col("hr"))
        .agg(sketch(col("h")).as("sk"))
        .localCheckpoint(eager = false) // contributes + target-hour keys
      val contrib = hourly
        .select(col("event_type"),
          explode(sequence(col("hr"), col("hr") + 5)).as("tgt"), col("sk"))
        .join(hourly.select(col("event_type"), col("hr").as("tgt")),
          Seq("event_type", "tgt"))
        .select(col("event_type"), col("tgt"), explode(col("sk")).as("h"))
      graft.sketch.Sketch.kmvEstimateByGroup(
          contrib, Seq("event_type", "tgt"), "h", k)
        .withColumnRenamed("tgt", "hour_end")
        .orderBy(col("event_type"), col("hour_end"))
    },
    Some(s"""
      |WITH ev AS (
      |  SELECT DISTINCT event_type, epoch_ns(ts) // 3600000000000 AS hr,
      |         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 10)
      |              AS BIGINT) AS h
      |  FROM events),
      |hourly AS (
      |  SELECT event_type, hr, h FROM (
      |    SELECT event_type, hr, h,
      |           row_number() OVER (PARTITION BY event_type, hr
      |                              ORDER BY h) AS rn
      |    FROM ev) WHERE rn <= 64),
      |hours AS (SELECT DISTINCT event_type, hr FROM ev),
      |contrib AS (
      |  SELECT DISTINCT s.event_type, t.hr AS tgt, s.h
      |  FROM hourly s JOIN hours t
      |    ON s.event_type = t.event_type
      |   AND t.hr BETWEEN s.hr AND s.hr + 5),
      |merged AS (
      |  SELECT event_type, tgt, h,
      |         row_number() OVER (PARTITION BY event_type, tgt
      |                            ORDER BY h) AS rn
      |  FROM contrib)
      |SELECT event_type, tgt AS hour_end,
      |       CAST(CASE WHEN COUNT(*) < 64 THEN COUNT(*)
      |            ELSE ${63L * graft.sketch.Sketch.HashSpace} // MAX(h) END
      |            AS BIGINT) AS distinct_estimate,
      |       COUNT(*) AS sketch_size
      |FROM merged WHERE rn <= 64
      |GROUP BY event_type, tgt
      |ORDER BY event_type, hour_end
      |""".stripMargin))

  /** T39 — BPE merge training (Sennrich et al. 2016), three unrolled
    * rounds: the tokenizer-training inner loop as a distributed
    * operator. The scan-scale work is ONE pass building the word
    * frequency table (the sufficient statistic — BPE never needs the
    * corpus again); every merge round then runs on the VOCAB-sized
    * symbol frame: position-pair census weighted by word frequency,
    * arg-max merge candidate (count desc, then lexicographic — total
    * order), and greedy left-to-right merge application as a sequential
    * `aggregate` fold per word (the fold IS greedy non-overlapping
    * application: a merged symbol can never re-merge with its
    * predecessor in the same round). The winning pair per round is one
    * collected row — bounded model state, the s5 trained-centroid
    * stance — and the oracle replays each round with a recursive-CTE
    * fold (the d7/s5 unrolled-replay precedent), so every census count
    * and every pick is engine-checked.
    */
  val t39BpeMerges = QueryDef("t39_bpe_merges",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val words = docs
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      var syms = words.select(col("w"), col("freq"),
        expr("transform(sequence(1, char_length(w))," +
          " i -> substring(w, i, 1))").as("syms"))
        .localCheckpoint(eager = false)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      for (r <- 1 to 3) {
        val top = syms
          // single-symbol words carry no pairs (and sequence(1, 0)
          // counts DOWN — the shinglesOfTokens guard, same pitfall)
          .filter(size(col("syms")) >= 2)
          .select(col("freq"), explode(expr(
            "transform(sequence(1, size(syms) - 1)," +
              " i -> struct(syms[i-1] AS a, syms[i] AS b))")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(1).collect()(0)
        val (a, b) = (top.getString(0), top.getString(1))
        require(!(a + b).exists(c => c == '\'' || c == '\\'),
          "merge symbols must not need SQL escaping")
        out += ((r, a, b, top.getLong(2)))
        syms = syms.withColumn("syms", expr(
          s"""aggregate(syms, cast(array() as array<string>), (acc, x) ->
             | case when size(acc) > 0 and element_at(acc, -1) = '$a'
             |            and x = '$b'
             | then concat(slice(acc, 1, size(acc) - 1), array('$a$b'))
             | else concat(acc, array(x)) end)""".stripMargin.replace("\n", " ")))
          .localCheckpoint(eager = false)
      }
      out.toSeq.toDF("round", "left_sym", "right_sym", "pair_count")
        .orderBy(col("round"))
    },
    Some(s"""
      |WITH RECURSIVE $tokSql,
      |words AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w),
      |s0 AS (
      |  SELECT w, freq,
      |         list_transform(range(1, length(w) + 1),
      |           i -> substr(w, CAST(i AS INT), 1)) AS syms
      |  FROM words),
      |p1 AS (
      |  SELECT syms[CAST(i AS INT)] AS a, syms[CAST(i AS INT) + 1] AS b,
      |         CAST(SUM(freq) AS BIGINT) AS cnt
      |  FROM s0, unnest(range(1, len(syms))) r(i)
      |  GROUP BY 1, 2),
      |t1 AS (SELECT a, b, cnt FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
      |f1 AS (
      |  SELECT w, freq, syms, 1 AS i, CAST([] AS VARCHAR[]) AS acc FROM s0
      |  UNION ALL
      |  SELECT w, freq, syms, i + 1,
      |         CASE WHEN len(acc) > 0 AND acc[-1] = (SELECT a FROM t1)
      |                   AND syms[CAST(i AS INT)] = (SELECT b FROM t1)
      |              THEN list_append(acc[1:len(acc)-1], (SELECT a || b FROM t1))
      |              ELSE list_append(acc, syms[CAST(i AS INT)]) END
      |  FROM f1 WHERE i <= len(syms)),
      |s1 AS (SELECT w, freq, acc AS syms FROM f1 WHERE i = len(syms) + 1),
      |p2 AS (
      |  SELECT syms[CAST(i AS INT)] AS a, syms[CAST(i AS INT) + 1] AS b,
      |         CAST(SUM(freq) AS BIGINT) AS cnt
      |  FROM s1, unnest(range(1, len(syms))) r(i)
      |  GROUP BY 1, 2),
      |t2 AS (SELECT a, b, cnt FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
      |f2 AS (
      |  SELECT w, freq, syms, 1 AS i, CAST([] AS VARCHAR[]) AS acc FROM s1
      |  UNION ALL
      |  SELECT w, freq, syms, i + 1,
      |         CASE WHEN len(acc) > 0 AND acc[-1] = (SELECT a FROM t2)
      |                   AND syms[CAST(i AS INT)] = (SELECT b FROM t2)
      |              THEN list_append(acc[1:len(acc)-1], (SELECT a || b FROM t2))
      |              ELSE list_append(acc, syms[CAST(i AS INT)]) END
      |  FROM f2 WHERE i <= len(syms)),
      |s2 AS (SELECT w, freq, acc AS syms FROM f2 WHERE i = len(syms) + 1),
      |p3 AS (
      |  SELECT syms[CAST(i AS INT)] AS a, syms[CAST(i AS INT) + 1] AS b,
      |         CAST(SUM(freq) AS BIGINT) AS cnt
      |  FROM s2, unnest(range(1, len(syms))) r(i)
      |  GROUP BY 1, 2),
      |t3 AS (SELECT a, b, cnt FROM p3 ORDER BY cnt DESC, a, b LIMIT 1)
      |SELECT CAST(1 AS INT) AS round, a AS left_sym, b AS right_sym,
      |       cnt AS pair_count FROM t1
      |UNION ALL SELECT 2, a, b, cnt FROM t2
      |UNION ALL SELECT 3, a, b, cnt FROM t3
      |ORDER BY round
      |""".stripMargin))

  /** D19 — triangle census with local clustering over the d16
    * similarity graph (LSH candidate cliques + template-hub stars):
    * the structural signal that SEPARATES the two — a star closes zero
    * triangles (hub clustering 0) while clique members sit at 10⁶ ppm,
    * so boilerplate hubs and organic dup clusters are distinguishable
    * from topology alone, no content pass. Enumeration is the
    * degree-ordered compact-forward scheme: every edge is oriented
    * from its (deg, id)-smaller endpoint, wedges pivot at the
    * rank-lowest node, and the third edge closes via one directed
    * equi-join — each triangle counted exactly once, wedge fan-out
    * bounded by the pivot's OUT-degree (≈ arboricity, not raw degree:
    * a mega-hub's deg² wedge space never materializes because hubs
    * rank HIGH and thus have tiny out-degree). All equi-joins +
    * bounded aggregates; the oracle replays the same total order.
    */
  val d19Triangles = QueryDef("d19_triangles",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val cands = lshCandsShared(s, dir)
      val hubs = docs.groupBy(col("lang")).agg(min(col("doc_id")).as("hub"))
      val hubEdges = docs.filter(col("doc_id") % 25 === 0)
        .join(hubs, "lang").filter(col("doc_id") =!= col("hub"))
        .select(least(col("hub"), col("doc_id")).as("id1"),
          greatest(col("hub"), col("doc_id")).as("id2"))
      val und = cands.select(col("id1").as("a"), col("id2").as("b"))
        .unionByName(hubEdges.select(col("id1").as("a"), col("id2").as("b")))
        .distinct().localCheckpoint(eager = false) // deg + orientation
      val deg = und.select(col("a").as("v"))
        .unionByName(und.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        .localCheckpoint(eager = false) // orientation + output spine
      val lower = struct(col("da"), col("a")) < struct(col("db"), col("b"))
      val oriented = und
        .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
        .select(when(lower, col("a")).otherwise(col("b")).as("s"),
          when(lower, col("b")).otherwise(col("a")).as("t"))
        .localCheckpoint(eager = false) // wedge sides + closure probe
      val dr = oriented
        .join(deg.select(col("v").as("t"), col("deg").as("tdeg")), "t")
      val tri = dr.select(col("s"), col("t").as("y"), col("tdeg").as("dy"))
        .join(dr.select(col("s"), col("t").as("z"), col("tdeg").as("dz")), "s")
        .filter(struct(col("dy"), col("y")) < struct(col("dz"), col("z")))
        .join(oriented.select(col("s").as("y"), col("t").as("z")),
          Seq("y", "z"))
        .select(col("s").as("x"), col("y"), col("z"))
      val ntri = tri
        .select(explode(array(col("x"), col("y"), col("z"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("tri"))
      deg.join(ntri, Seq("v"), "left")
        .withColumn("tri0", coalesce(col("tri"), lit(0L)))
        .select(col("v").as("doc_id"), col("deg"), col("tri0").as("tri"),
          when(col("deg") >= 2,
            expr("tri0 * 2000000 div (deg * (deg - 1))"))
            .otherwise(lit(0L)).as("clustering_ppm"))
        .orderBy(col("deg").desc, col("doc_id")).limit(20)
    },
    Some(s"""
      |WITH $minhashBandsSql,
      |$lshCandSql,
      |hubs AS (SELECT lang, MIN(doc_id) AS hub FROM documents GROUP BY lang),
      |pairs AS (
      |  SELECT id1, id2 FROM cand
      |  UNION ALL
      |  SELECT LEAST(h.hub, d.doc_id), GREATEST(h.hub, d.doc_id)
      |  FROM documents d JOIN hubs h ON d.lang = h.lang
      |  WHERE d.doc_id % 25 = 0 AND d.doc_id <> h.hub),
      |und AS (SELECT DISTINCT id1 AS a, id2 AS b FROM pairs),
      |deg AS (
      |  SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM (
      |    SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v),
      |dirE AS (
      |  SELECT CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.a ELSE u.b END AS s,
      |         CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.b ELSE u.a END AS t
      |  FROM und u JOIN deg da ON da.v = u.a JOIN deg db ON db.v = u.b),
      |dr AS (SELECT d.s, d.t, g.deg AS tdeg FROM dirE d JOIN deg g ON g.v = d.t),
      |tri AS (
      |  SELECT e1.s AS x, e1.t AS y, e2.t AS z
      |  FROM dr e1 JOIN dr e2
      |    ON e1.s = e2.s AND ((e1.tdeg, e1.t) < (e2.tdeg, e2.t))
      |  JOIN dirE e3 ON e3.s = e1.t AND e3.t = e2.t),
      |ntri AS (
      |  SELECT v, CAST(COUNT(*) AS BIGINT) AS tri FROM (
      |    SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
      |    UNION ALL SELECT z FROM tri) GROUP BY v)
      |SELECT d.v AS doc_id, d.deg, COALESCE(n.tri, 0) AS tri,
      |       CASE WHEN d.deg >= 2
      |            THEN COALESCE(n.tri, 0) * 2000000 // (d.deg * (d.deg - 1))
      |            ELSE 0 END AS clustering_ppm
      |FROM deg d LEFT JOIN ntri n ON n.v = d.v
      |ORDER BY d.deg DESC, doc_id LIMIT 20
      |""".stripMargin))

  /** D20 — distance-medoid canonical election: upgrades d8's
    * heuristic keeper pick (longest doc) to the cluster member
    * MINIMIZING total n-gram Jaccard distance to its cluster — the
    * representative that best preserves the cluster's content, the
    * pick that matters when dedup keeps one of N near-dups for
    * training. Total distance = Σ(10⁶ − jaccard_ppm) over the member's
    * in-cluster pairs plus 10⁶ per co-member it shares NO pair with
    * (transitive-only links are maximal distance) — all from the d2
    * pair frame and d7's membership, no new pair space. Election is
    * the d8 struct-argmin (no window); memoized cluster membership and
    * the capped inverted-index pair join keep every stage index-sized.
    */
  val d20ClusterMedoids = QueryDef("d20_cluster_medoids",
    (s, dir) => {
      val members = dupMembers(s, dir)
      val pairs = jaccardPairsShared(s, dir) // both incidence directions
      val cs = members.groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
      val incid = pairs
        .select(col("id1").as("id"),
          (lit(1000000L) - col("jaccard_ppm")).as("d"))
        .unionByName(pairs.select(col("id2").as("id"),
          (lit(1000000L) - col("jaccard_ppm")).as("d")))
      members.join(cs, "cluster_id").join(incid, Seq("id"), "left")
        .groupBy(col("cluster_id"), col("id"), col("n"))
        .agg(coalesce(sum(col("d")), lit(0L)).as("sd"),
          count(col("d")).as("np"))
        .select(col("cluster_id"), col("id"), col("n"),
          (col("sd") + (col("n") - 1 - col("np")) * 1000000L)
            .as("total_dist"))
        .groupBy(col("cluster_id"))
        .agg(min(struct(col("total_dist"), col("id"))).as("w"),
          max(col("n")).as("cluster_size"))
        .select(col("cluster_id"), col("cluster_size"),
          col("w.id").as("medoid_id"), col("w.total_dist").as("total_dist"))
        .orderBy(col("cluster_id"))
    },
    Some(s"""
      |WITH RECURSIVE $tokSql,
      |$shSql,
      |$seSql,
      |$prJacSql,
      |edges AS (SELECT id1 AS src, id2 AS dst FROM pr
      |          UNION SELECT id2, id1 FROM pr),
      |reach AS (
      |  SELECT DISTINCT src AS node, src AS lbl FROM edges
      |  UNION
      |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
      |comp AS (SELECT node AS id, min(lbl) AS cluster_id
      |         FROM reach GROUP BY node),
      |cs AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n
      |       FROM comp GROUP BY cluster_id),
      |incid AS (
      |  SELECT id1 AS id, 1000000 - jac AS d FROM pr
      |  UNION ALL SELECT id2, 1000000 - jac FROM pr),
      |tot AS (
      |  SELECT c.cluster_id, c.id,
      |         CAST(COALESCE(SUM(i.d), 0)
      |              + (ANY_VALUE(cs.n) - 1 - COALESCE(COUNT(i.d), 0)) * 1000000
      |              AS BIGINT) AS total_dist
      |  FROM comp c JOIN cs USING (cluster_id) LEFT JOIN incid i ON i.id = c.id
      |  GROUP BY c.cluster_id, c.id),
      |med AS (
      |  SELECT cluster_id, MIN(STRUCT_PACK(td := total_dist, id := id)) AS w
      |  FROM tot GROUP BY cluster_id)
      |SELECT m.cluster_id, cs.n AS cluster_size,
      |       (m.w).id AS medoid_id, (m.w).td AS total_dist
      |FROM med m JOIN cs USING (cluster_id) ORDER BY cluster_id
      |""".stripMargin))

  /** T40 — curation filter-bias audit: the token-distribution drift
    * INDUCED by the t24 quality rules — per-token ppm share before vs
    * after filtering, the measurement that catches a "quality" filter
    * quietly reshaping the corpus (here the stopword rule visibly
    * boosts 'a'/'the' by ~10³ ppm while content tokens drop — exactly
    * the bias a pretraining curator must know about). One explode pass
    * carries the per-doc keep flag to every token, so before/after
    * tallies come from the SAME scan (conditional aggregates, no
    * second pass, no join of two censuses); totals broadcast as one
    * row. Output is the full vocabulary-bounded census ordered by
    * drift — at any corpus scale the frame is vocab-sized.
    */
  val t40FilterBias = QueryDef("t40_filter_bias",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val base = docs
        .select(TextAnalysis.tokens(col("text")).as("tk"))
        .select(col("tk"),
          size(col("tk")).cast("long").as("dl"),
          aggregate(col("tk"), lit(0L), (a, x) => a + length(x)).as("sumlen"),
          coalesce(array_max(transform(array_distinct(col("tk")),
            tt => size(filter(col("tk"), x => x === tt)))), lit(0))
            .cast("long").as("maxtf"),
          (array_contains(col("tk"), "the") || array_contains(col("tk"), "a"))
            .as("has_stop"))
      val keep = col("dl").between(20L, 100L) &&
        col("sumlen") >= lit(2L) * col("dl") &&
        col("sumlen") <= lit(8L) * col("dl") &&
        col("has_stop") &&
        lit(4L) * col("maxtf") <= col("dl") && col("dl") > 0
      val tokrows = base.select(col("tk"), keep.as("keep"))
        .select(explode(col("tk")).as("token"), col("keep"))
        .localCheckpoint(eager = false) // census + totals share the scan
      val tot = tokrows.agg(count(lit(1)).as("nb"),
        coalesce(sum(when(col("keep"), 1L)), lit(0L)).as("na"))
      tokrows.groupBy(col("token"))
        .agg(count(lit(1)).as("cb"),
          coalesce(sum(when(col("keep"), 1L)), lit(0L)).as("ca"))
        .crossJoin(broadcast(tot))
        .select(col("token"),
          expr("cb * 1000000 div nb").as("ppm_before"),
          expr("ca * 1000000 div na").as("ppm_after"),
          expr("ca * 1000000 div na - cb * 1000000 div nb").as("delta_ppm"))
        .orderBy(col("delta_ppm"), col("token"))
    },
    Some(s"""
      |WITH $tokSql,
      |q2 AS (
      |  SELECT tk, CAST(len(tk) AS BIGINT) AS dl,
      |         CAST(coalesce(list_sum(list_transform(tk, x -> len(x))), 0)
      |              AS BIGINT) AS sumlen,
      |         CAST(coalesce(list_max(list_transform(list_distinct(tk),
      |                t -> len(list_filter(tk, x -> x = t)))), 0)
      |              AS BIGINT) AS maxtf,
      |         (list_contains(tk, 'the') OR list_contains(tk, 'a')) AS has_stop
      |  FROM toks),
      |flagged AS (
      |  SELECT tk, (dl BETWEEN 20 AND 100 AND sumlen >= 2*dl
      |              AND sumlen <= 8*dl AND has_stop
      |              AND 4*maxtf <= dl AND dl > 0) AS keep
      |  FROM q2),
      |tokrows AS (SELECT unnest(tk) AS token, keep FROM flagged),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb,
      |               CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS na
      |        FROM tokrows),
      |f AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cb,
      |             CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS ca
      |      FROM tokrows GROUP BY token)
      |SELECT token, cb * 1000000 // nb AS ppm_before,
      |       ca * 1000000 // na AS ppm_after,
      |       ca * 1000000 // na - cb * 1000000 // nb AS delta_ppm
      |FROM f, tot ORDER BY delta_ppm, token
      |""".stripMargin))

  /** T41 — SKEW-PROOF shard packing
    * ([[graft.pipeline.ShardPacking.manifestBucketed]]): the same
    * token-budget manifest as t19, computed through the two-phase
    * distributed prefix sum (order-contiguous buckets per stratum →
    * per-(stratum,bucket) local cumsum → buckets-bounded base-offset
    * prefix) instead of one window per stratum. The oracle deliberately
    * replays the STRAIGHTFORWARD single-window arithmetic: a hash match
    * proves the bucketed decomposition is offset-exact, not merely
    * self-consistent. Different budget (256) and an extra manifest
    * consumer keep the gate non-vacuous vs t19; the plan property (a
    * dominant stratum splits into >1 window unit) is pinned in
    * ShardPackingSpec.
    */
  val t41ShardBucketed = QueryDef("t41_shard_bucketed",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.pipeline.ShardPacking.manifestBucketed(
          docs, "lang", "doc_id",
          TextAnalysis.tokenCount(col("text")).cast("long"),
          budget = 256L, buckets = 8)
        .orderBy(col("lang"), col("shard_id"))
    },
    Some(s"""
      |${shardManifestSql(256L)}
      |""".stripMargin))

  /** The t42 oracle, generated: `n` unrolled BPE rounds, each a pair
    * census (aggregate over the previous symbol state), a total-order
    * arg-max, and a recursive-CTE greedy fold — the t39 three-round
    * pattern extended mechanically. The text is long but each round is
    * vocabulary-bounded (≤ |vocab| rows, recursion depth ≤ max word
    * length + 1), so DuckDB replays 60 rounds in seconds. The final
    * round needs no fold (nothing consumes its state).
    */
  private def bpeOracleSql(n: Int, foldFinal: Boolean = false,
      finalSelect: Option[String] = None): String = {
    val sb = new StringBuilder
    sb ++= s"""
      |WITH RECURSIVE $tokSql,
      |words AS MATERIALIZED (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w),
      |s0 AS MATERIALIZED (
      |  SELECT w, freq,
      |         list_transform(range(1, length(w) + 1),
      |           i -> substr(w, CAST(i AS INT), 1)) AS syms
      |  FROM words),""".stripMargin
    for (r <- 1 to n) {
      sb ++= s"""
      |p$r AS (
      |  SELECT syms[CAST(i AS INT)] AS a, syms[CAST(i AS INT) + 1] AS b,
      |         CAST(SUM(freq) AS BIGINT) AS cnt
      |  FROM s${r - 1}, unnest(range(1, len(syms))) r(i)
      |  GROUP BY 1, 2),
      |t$r AS MATERIALIZED (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),""".stripMargin
      if (r < n || foldFinal) sb ++= s"""
      |f$r AS (
      |  SELECT w, freq, syms, 1 AS i, CAST([] AS VARCHAR[]) AS acc FROM s${r - 1}
      |  UNION ALL
      |  SELECT w, freq, syms, i + 1,
      |         CASE WHEN len(acc) > 0 AND acc[-1] = (SELECT a FROM t$r)
      |                   AND syms[CAST(i AS INT)] = (SELECT b FROM t$r)
      |              THEN list_append(acc[1:len(acc)-1], (SELECT a || b FROM t$r))
      |              ELSE list_append(acc, syms[CAST(i AS INT)]) END
      |  FROM f$r WHERE i <= len(syms)),
      |s$r AS MATERIALIZED (SELECT w, freq, acc AS syms FROM f$r WHERE i = len(syms) + 1),""".stripMargin
    }
    sb ++= finalSelect.getOrElse {
      (1 to n).map(r =>
        s"""
      |  SELECT CAST($r AS INT) AS round, a AS left_sym, b AS right_sym,
      |         cnt AS pair_count FROM t$r""".stripMargin)
        .mkString("\nsel AS (", "\n  UNION ALL", ")") +
        "\nSELECT round, left_sym, right_sym, pair_count FROM sel ORDER BY round\n"
    }
    sb.toString
  }

  /** T42 — hybrid BPE training at production merge depth
    * ([[graft.text.BpeTrainer]]): t39's distributed 3-round unroll
    * replaced by the scalable shape — ONE corpus pass builds the
    * word-frequency table (BPE's sufficient statistic), a vocab-bounded
    * collect pulls it to the driver, and 60 merge rounds run as a local
    * fold whose cost is independent of corpus size (32k merges = 32k
    * in-memory iterations, not 32k Spark jobs). The oracle replays all
    * 60 rounds — census, total-order arg-max, greedy fold — as
    * generated recursive-CTE SQL, so every pick is engine-checked, not
    * just the first three. 60 clears the gate corpora's ~89-round pair
    * supply with margin while staying well past the "≥50 merges"
    * production bar.
    */
  val t42BpeTrain = QueryDef("t42_bpe_train",
    (s, dir) => graft.text.BpeTrainer.train(s, t(s, dir, "documents"), 60),
    Some(bpeOracleSql(60)))

  /** T43 — corpus ENCODING under the trained tokenizer
    * ([[graft.text.BpeTrainer.encode]]), the apply step t42 trains for:
    * per-language token/unit/char totals and fertility (BPE units per
    * 1000 whitespace tokens) after 60 merges. The scalable contract is
    * the point: segmentation is a pure function of the WORD, so the
    * encode table is vocab-sized and the corpus pass is ONE broadcast
    * equi-join — encoding 100 TB never runs a merge loop over corpus
    * rows. The oracle replays training INCLUDING the final round's fold
    * (state s60), derives the same per-word unit counts, and joins the
    * token stream — so a wrong segmentation anywhere in the 60-round
    * chain, not just a wrong merge pick, hash-mismatches.
    */
  val t43BpeEncode = QueryDef("t43_bpe_encode",
    (s, dir) => {
      graft.text.BpeTrainer
        .encode(s, t(s, dir, "documents"), 60, carryCols = Seq("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("n_units")).as("n_units"),
          sum(col("n_chars")).as("n_chars"))
        .withColumn("fertility_permille",
          expr("n_units * 1000 div n_tokens"))
        .orderBy(col("lang"))
    },
    Some(bpeOracleSql(60, foldFinal = true, finalSelect = Some("""
      |enc AS (
      |  SELECT w, CAST(len(syms) AS BIGINT) AS n_units,
      |         CAST(length(w) AS BIGINT) AS n_chars
      |  FROM s60),
      |tok AS (SELECT lang, unnest(tk) AS w FROM toks)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |       CAST(SUM(n_units) AS BIGINT) AS n_units,
      |       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |       CAST(SUM(n_units) * 1000 // COUNT(*) AS BIGINT)
      |         AS fertility_permille
      |FROM tok JOIN enc USING (w)
      |GROUP BY lang ORDER BY lang
      |""".stripMargin))))

  /** S15 — SEMANTIC split leakage: embedding-space near-dup pairs whose
    * endpoints landed in different t10 train/val/test splits — the
    * decontamination check d15's n-gram containment cannot make
    * (paraphrases and re-encodings share no 8-gram but sit at high
    * cosine). Same two-stage economics as d5 — blocking proposes, the
    * exact integer cosine test confirms, and the split label joins on
    * as two id-equi lookups AFTER the pair space is already blocked (the
    * corpus-sized split frame never enters a pair join) — but the
    * proposer is the BANDED MULTI-PROBE blocking
    * ([[Similarity.cosineNearDupPairsBanded]]): for decontamination a
    * blocking miss is a leaked eval pair, and s16 measures the
    * single-band bucket at 2% recall vs 76% for 8 hyperplane bands +
    * 1-bit probe at this threshold (0.4, mirroring d5). The gate corpus
    * PLANTS leakage
    * (the m4/d18 re-ingest pattern): every `vec_id % 17 = 0` embedding
    * re-enters under a new id whose split hash is independent, so
    * identical vectors genuinely straddle splits at every scale —
    * without planting, the handful of organic near-dup pairs can all
    * land same-split and the oracle passes vacuously on empty output
    * (the corpus-degeneracy trap).
    */
  val s15SemanticLeakage = QueryDef("s15_semantic_leakage",
    (s, dir) => {
      val emb = plantedEmbeddings(s, dir)
      val split = emb.select(col("vec_id"), splitLabel("vec_id").as("split"))
      Similarity.cosineNearDupPairsBanded(emb, "vec_id", "embedding", 400000L,
          bands = 8,
          bitsPerBand =
            Similarity.scaledBits(Tables.rowCount(s, dir, "embeddings")),
          probe1 = true)
        .join(split.select(col("vec_id").as("id1"), col("split").as("split1")),
          Seq("id1"))
        .join(split.select(col("vec_id").as("id2"), col("split").as("split2")),
          Seq("id2"))
        .filter(col("split1") =!= col("split2"))
        .select(col("id1"), col("id2"), col("split1"), col("split2"),
          col("dot_q"))
        .orderBy(col("id1"), col("id2"))
    },
    Some(s"""
      |WITH $augSql,
      |qv AS (
      |  ${quantizeSql("vec_id", "aug")}),
      |$annParamsSql,
      |sp AS (
      |  ${splitSql("vec_id", "aug")}),
      |${bandedBlockSql("qv")}
      |pairs AS (
      |  SELECT c.id1, c.id2, ${dotSql("x.qv", "y.qv")} AS dot_q
      |  FROM cand c
      |  JOIN qv x ON x.vec_id = c.id1 JOIN qv y ON y.vec_id = c.id2
      |  WHERE ${cosineGateSql("x.qv", "y.qv", 400000L)})
      |SELECT id1, id2, s1.split AS split1, s2.split AS split2, dot_q
      |FROM pairs
      |JOIN sp s1 ON s1.vec_id = id1
      |JOIN sp s2 ON s2.vec_id = id2
      |WHERE s1.split <> s2.split
      |ORDER BY id1, id2
      |""".stripMargin))

  /** S21 — EXACT asymmetric decontamination
    * ([[Similarity.exactNearPairsAsym]]): the same cross-split leakage
    * question as s15, answered with 10⁶ ppm recall BY CONSTRUCTION.
    * s16 measures s15's banded blocking at 76% recall at cosine 0.4 —
    * and for decontamination a blocking miss is a leaked eval pair the
    * detector never shows anyone. Every cross-split pair touches the
    * val∪test side (three splits: a split1≠split2 pair cannot be
    * train×train), and that side is small by construction (10% here;
    * real benchmark suites are thousands of rows against billions) —
    * so broadcast its quantized vectors and confirm with the exact
    * integer cosine against ONE linear corpus scan, no blocking stage,
    * no pair space beyond |eval|·|corpus|. The SimilaritySpec subset
    * gate pins s15 ⊆ s21 row-for-row on the same corpus, and s16's
    * `exact_asym` row measures the operator's recall at 10⁶ ppm
    * through the same harness that measures the blockers. Same
    * planted-leakage corpus as s15 (every `vec_id % 17 = 0` embedding
    * re-ingested under +10⁷ with an independent split hash).
    */
  val s21ExactLeakage = QueryDef("s21_exact_leakage",
    (s, dir) => {
      val emb = plantedEmbeddings(s, dir)
      val split = emb.select(col("vec_id"), splitLabel("vec_id").as("split"))
        .localCheckpoint(eager = false) // eval filter + two label joins
      val evalSide = emb.join(
        split.filter(col("split") =!= "train").select("vec_id"), "vec_id")
      Similarity.exactNearPairsAsym(evalSide, emb, "vec_id", "embedding",
          400000L)
        .select(least(col("eval_id"), col("corpus_id")).as("id1"),
          greatest(col("eval_id"), col("corpus_id")).as("id2"),
          col("dot_q"))
        .distinct() // a val×test pair is found from both endpoints
        .join(split.select(col("vec_id").as("id1"), col("split").as("split1")),
          Seq("id1"))
        .join(split.select(col("vec_id").as("id2"), col("split").as("split2")),
          Seq("id2"))
        .filter(col("split1") =!= col("split2"))
        .select(col("id1"), col("id2"), col("split1"), col("split2"),
          col("dot_q"))
        .orderBy(col("id1"), col("id2"))
    },
    Some(s"""
      |WITH $plantedEvalSql,
      |conf AS (
      |  SELECT DISTINCT least(eid, cid) AS id1, greatest(eid, cid) AS id2,
      |         dot AS dot_q
      |  FROM (
      |    SELECT e.vec_id AS eid, c.vec_id AS cid,
      |           ${dotSql("e.qv", "c.qv")} AS dot, e.nsq AS n1, c.nsq AS n2
      |    FROM ev e JOIN nn c ON e.vec_id <> c.vec_id) p
      |  WHERE dot > 0
      |    AND CAST(dot AS HUGEINT) * dot * 1000000 * 1000000
      |        >= CAST(n1 AS HUGEINT) * n2 * 400000 * 400000)
      |SELECT id1, id2, s1.split AS split1, s2.split AS split2, dot_q
      |FROM conf
      |JOIN sp s1 ON s1.vec_id = id1
      |JOIN sp s2 ON s2.vec_id = id2
      |WHERE s1.split <> s2.split
      |ORDER BY id1, id2
      |""".stripMargin))

  /** DuckDB replay of [[Similarity.cosineNearDupPairsBanded]]'s banded
    * multi-probe blocking over a quantized-vector CTE `src(vec_id, qv)`:
    * the deterministic Rademacher hyperplane family (s13's md5 mirror),
    * 8 bands × `params.bits` planes, per-band sign buckets, 1-bit
    * multi-probe expansion, and the candidate equi-join — ending at a
    * deduped `cand(id1, id2)` CTE the caller confirms with the exact
    * integer cosine test. Emitted as a fragment (trailing comma) so s15
    * and s16 share one replay of the blocking they both stand on.
    */
  private def bandedBlockSql(src: String, bands: Int = 8): String = s"""
      |${hyperplanesSql(s"$bands * (SELECT bits FROM params)")},
      |pl AS (
      |  SELECT v.vec_id, CAST(r.i // p.bits AS INT) AS band,
      |         CASE WHEN ${dotSql("v.qv", "r.r")} > 0
      |              THEN (1 << CAST(r.i % p.bits AS INT)) ELSE 0 END AS bit
      |  FROM $src v, rp r, params p),
      |bb AS (
      |  SELECT vec_id, band, CAST(SUM(bit) AS INT) AS bucket
      |  FROM pl GROUP BY vec_id, band),
      |fl AS (
      |  SELECT unnest(list_prepend(0, list_transform(range(0, p.bits),
      |           j -> (1 << CAST(j AS INT))))) AS f
      |  FROM params p),
      |pr AS (
      |  SELECT vec_id, band, CAST(xor(bucket, CAST(f AS INT)) AS INT) AS bucket
      |  FROM bb, fl),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
      |  FROM pr a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket
      |    AND a.vec_id < b.vec_id),""".stripMargin

  /** The s18/s25 store-probe replay: the planted re-ingest tier (`bb`
    * rows passing `$probeFilter`, re-keyed to +10⁷) multi-probes the
    * banded buckets of `$src` and confirms at cosine 0.9.
    */
  private def storeProbeSql(src: String, probeFilter: String): String =
    s"""${bandedBlockSql(src)}
       |pbb AS (
       |  SELECT vec_id + 10000000 AS probe_id, vec_id AS orig_id,
       |         band, bucket
       |  FROM bb WHERE $probeFilter),
       |ppr AS (
       |  SELECT probe_id, orig_id, band,
       |         CAST(xor(bucket, CAST(f AS INT)) AS INT) AS bucket
       |  FROM pbb, fl),
       |cands AS (
       |  SELECT DISTINCT p.probe_id, p.orig_id, b.vec_id AS corpus_id
       |  FROM ppr p JOIN bb b ON p.band = b.band AND p.bucket = b.bucket),
       |conf AS (
       |  SELECT c.probe_id, c.corpus_id,
       |         ${dotSql("x.qv", "y.qv")} AS dot_q
       |  FROM cands c
       |  JOIN $src x ON x.vec_id = c.orig_id
       |  JOIN $src y ON y.vec_id = c.corpus_id
       |  WHERE c.probe_id <> c.corpus_id
       |    AND ${cosineGateSql("x.qv", "y.qv", 900000L)})
       |SELECT probe_id, corpus_id, dot_q FROM conf
       |ORDER BY probe_id, corpus_id""".stripMargin

  /** S16 — BLOCKING RECALL of the near-dup pair proposers, measured the
    * way s11/s13 measure ANN recall: the d5 single-band sign bucket and
    * the banded multi-probe blocking
    * ([[Similarity.cosineNearDupPairsBanded]]) are each scored against
    * the EXACT brute-force above-threshold pair set at cosine 0.4 on a
    * deterministic query sample (pairs touching `vec_id % 20 = 0`). For
    * dedup a blocking miss is wasted storage; for DECONTAMINATION (s15)
    * it is a leaked eval pair — so the detector's recall must be a
    * measured number, not an assumption (the oracle-green s15 row alone
    * cannot reveal it: the oracle replays the same blocking). Measured
    * at sf0.1: single-band 2% — the all-bits-equal bucket is tuned for
    * near-1.0 cosine — vs 76% for 8 hyperplane bands with 1-bit
    * multi-probe, which s15 adopts. The third row scores the s21
    * decontamination operator ([[Similarity.exactNearPairsAsym]])
    * through the same harness: unblocked, its recall is 10⁶ ppm — the
    * measured justification for paying its linear scan when a miss is
    * a contaminated benchmark. The exact side is a broadcast
    * nested-loop of the 1-in-20 query sample against the corpus
    * (n²/20 — the s1 measurement shape, run at gate scales; at 100 TB
    * you measure recall on exactly such a sample, never the full pair
    * space).
    */
  val s16BlockingRecall = QueryDef("s16_blocking_recall",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val bits = Similarity.scaledBits(Tables.rowCount(s, dir, "embeddings"))
      val q = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), Similarity.quantize(col("embedding")).as("qv1"))
      val c = emb.select(col("vec_id").as("cid"),
        Similarity.quantize(col("embedding")).as("qv2"))
      val dot = Similarity.dotQ(col("qv1"), col("qv2"))
      val exact = c.join(broadcast(q), col("qid") =!= col("cid"))
        .filter(graft.functions.cosine_gate_ppm(dot,
          Similarity.normSqQ(col("qv1")), Similarity.normSqQ(col("qv2")),
          400000L))
        .select(least(col("qid"), col("cid")).as("id1"),
          greatest(col("qid"), col("cid")).as("id2"))
        .distinct()
      def recallRow(method: String, blocked: org.apache.spark.sql.DataFrame) =
        exact.join(blocked.select(col("id1"), col("id2"))
            .withColumn("hit", lit(1L)), Seq("id1", "id2"), "left")
          .agg(count(lit(1)).as("n_exact"),
            coalesce(sum(col("hit")), lit(0L)).as("hits"))
          .withColumn("method", lit(method))
      val plain = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
        400000L, bits = bits)
      val banded = Similarity.cosineNearDupPairsBanded(emb, "vec_id",
        "embedding", 400000L, bands = 8, bitsPerBand = bits, probe1 = true)
      // the s21 decontamination operator, scored through the SAME
      // harness: its proposer is the unblocked eval×corpus scan, so its
      // measured recall is 10⁶ ppm — the row that justifies paying the
      // linear scan when a miss is a contaminated benchmark
      val asym = Similarity.exactNearPairsAsym(
          emb.filter(col("vec_id") % 20 === 0), emb, "vec_id", "embedding",
          400000L)
        .select(least(col("eval_id"), col("corpus_id")).as("id1"),
          greatest(col("eval_id"), col("corpus_id")).as("id2"))
        .distinct()
      recallRow("banded_probe1", banded)
        .unionByName(recallRow("exact_asym", asym))
        .unionByName(recallRow("single_band", plain))
        .withColumn("recall_ppm",
          expr("hits * 1000000L div greatest(n_exact, 1L)"))
        .select(col("method"), col("n_exact"), col("hits"), col("recall_ppm"))
        .orderBy(col("method"))
    },
    Some(s"""
      |WITH $qSql,
      |$annParamsSql,
      |ex AS (
      |  SELECT DISTINCT least(q.vec_id, c.vec_id) AS id1,
      |         greatest(q.vec_id, c.vec_id) AS id2
      |  FROM qv q, qv c
      |  WHERE q.vec_id % 20 = 0 AND q.vec_id <> c.vec_id
      |    AND ${cosineGateSql("q.qv", "c.qv", 400000L)}),
      |$signBucketSql,
      |plain AS (
      |  SELECT a.vec_id AS id1, b.vec_id AS id2
      |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      |  WHERE ${cosineGateSql("a.qv", "b.qv", 400000L)}),
      |${bandedBlockSql("qv")}
      |banded AS (
      |  SELECT c.id1, c.id2 FROM cand c
      |  JOIN qv x ON x.vec_id = c.id1 JOIN qv y ON y.vec_id = c.id2
      |  WHERE ${cosineGateSql("x.qv", "y.qv", 400000L)}),
      |scored AS (
      |  SELECT 'banded_probe1' AS method, COUNT(*) AS n_exact,
      |         CAST(COALESCE(SUM(CASE WHEN b.id1 IS NOT NULL THEN 1 ELSE 0 END), 0)
      |              AS BIGINT) AS hits
      |  FROM ex e LEFT JOIN banded b ON e.id1 = b.id1 AND e.id2 = b.id2
      |  UNION ALL
      |  SELECT 'exact_asym' AS method, COUNT(*) AS n_exact,
      |         CAST(COALESCE(SUM(CASE WHEN x.id1 IS NOT NULL THEN 1 ELSE 0 END), 0)
      |              AS BIGINT) AS hits
      |  FROM ex e LEFT JOIN ex x ON e.id1 = x.id1 AND e.id2 = x.id2
      |  UNION ALL
      |  SELECT 'single_band' AS method, COUNT(*) AS n_exact,
      |         CAST(COALESCE(SUM(CASE WHEN p.id1 IS NOT NULL THEN 1 ELSE 0 END), 0)
      |              AS BIGINT) AS hits
      |  FROM ex e LEFT JOIN plain p ON e.id1 = p.id1 AND e.id2 = p.id2)
      |SELECT method, CAST(n_exact AS BIGINT) AS n_exact, hits,
      |       CAST(hits * 1000000 // greatest(n_exact, 1) AS BIGINT) AS recall_ppm
      |FROM scored ORDER BY method
      |""".stripMargin))

  /** S17 — k-NN GRAPH over the banded candidates
    * ([[Similarity.knnGraphBanded]]): every corpus vector's top-5
    * neighbors among its banded multi-probe proposals — the build step
    * of semantic-dedup sweeps and graph indexes, where EVERY node is a
    * query (s1/s2 rank a 1-in-20 sample; a graph build cannot sample).
    * Per-node work is candidate-bounded (≤ bands·(bits+1)·bucket-size),
    * the ranking window partitions on the node (bounded lists, never a
    * corpus-wide partition), and recall is MEASURED per node by s22 —
    * which is why the graph runs 16 bands where the pair detectors run
    * 8: graph recall@5 at 8 bands is 66–70% (sf0.01/sf0.1,
    * `tools.GraphRecallProbe`), 16 bands lifts it to ~90% at the SAME
    * wall time (the probe's sf0.1 row: 69.6% → 89.8%, 4.1 s both; 24
    * bands buys 96.2% for +25% wall — the documented next notch). The
    * oracle replays the shared blocking fragment at the same band
    * count, mirrors the directed candidate set from the canonical pair
    * CTE, and re-ranks with the same (cosine desc, neighbor) order.
    */
  val s17KnnGraph = QueryDef("s17_knn_graph",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnGraphBanded(emb, "vec_id", "embedding", k = 5,
          bands = 24,
          bitsPerBand =
            Similarity.scaledBits(Tables.rowCount(s, dir, "embeddings")),
          probe1 = true)
        .orderBy(col("node_id"), col("rank"))
    },
    Some(s"""
      |WITH $qSql,
      |$annParamsSql,
      |${bandedBlockSql("qv", bands = 24)}
      |sym AS (
      |  SELECT id1, id2 FROM cand
      |  UNION ALL
      |  SELECT id2 AS id1, id1 AS id2 FROM cand),
      |scored AS (
      |  SELECT s.id1 AS node_id, s.id2 AS neighbor_id,
      |         ${dotSql("x.qv", "y.qv")} AS dot_q,
      |         ${cosineSql("x.qv", "y.qv")} AS cosine
      |  FROM sym s JOIN qv x ON x.vec_id = s.id1 JOIN qv y ON y.vec_id = s.id2),
      |ranked AS (
      |  ${rankSql("node_id", "scored")})
      |SELECT node_id, CAST(rank AS INT) AS rank, neighbor_id, dot_q, cosine
      |FROM ranked WHERE rank <= 5
      |ORDER BY node_id, rank
      |""".stripMargin))

  /** S22 — k-NN GRAPH recall@5, measured per node: s17's graph top-5
    * scored against the exact brute-force top-5 on a 1-in-20 node
    * sample — the s11 pattern applied to the graph artifact. Pair-level
    * blocking recall (s16) and top-k GRAPH recall are different
    * metrics: a node's true 5th neighbor can sit below the blocking's
    * proposal radius even when most above-threshold pairs are found,
    * so the graph build's acceptance number must be measured on the
    * graph itself, not inferred from the pair curve. Ranking is
    * per-node (filtering the sample before or after ranking is
    * equivalent — each node ranks only its own candidate list), so the
    * measured rows ARE rows of the s17 artifact. The exact side is the
    * broadcast 1-in-20 sample against the corpus (the s1/s16
    * measurement shape — at 100 TB recall is always measured on such a
    * sample, never the full node set). The metric has now paid for
    * itself twice: 8 bands measured 66–70% → escalated to 16 (~90%),
    * and the r13 `tools.GraphRecallProbe` re-sweep at sf0.1 (16 → 89.8%,
    * 24 → 96.2%, 32 → 98.6%) priced the next notch cheap enough to
    * take — s17 now runs 24 bands, and the measured mean recall is a
    * README ratchet number (it must not regress silently). 32 bands →
    * 98.6% is the next documented notch.
    */
  val s22KnnGraphRecall = QueryDef("s22_knn_graph_recall",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val exact = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") % 20 === 0), emb, "vec_id", "embedding", 5)
      val graph = Similarity.knnGraphBanded(emb, "vec_id", "embedding",
          k = 5, bands = 24,
          bitsPerBand =
            Similarity.scaledBits(Tables.rowCount(s, dir, "embeddings")),
          probe1 = true)
        .filter(col("node_id") % 20 === 0)
      exact.select(col("query_id").as("node_id"), col("neighbor_id"))
        .join(graph.select(col("node_id"), col("neighbor_id"))
            .withColumn("hit", lit(1L)),
          Seq("node_id", "neighbor_id"), "left")
        .groupBy(col("node_id"))
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum(col("hit")), lit(0L)).as("hits"))
        .withColumn("recall_ppm", expr("hits * 1000000L div n_exact"))
        .orderBy(col("node_id"))
    },
    Some(s"""
      |WITH $qSql,
      |$annParamsSql,
      |${bandedBlockSql("qv", bands = 24)}
      |sym AS (
      |  SELECT id1, id2 FROM cand
      |  UNION ALL
      |  SELECT id2 AS id1, id1 AS id2 FROM cand),
      |g_scored AS (
      |  SELECT s.id1 AS node_id, s.id2 AS neighbor_id,
      |         ${cosineSql("x.qv", "y.qv")} AS cosine
      |  FROM sym s JOIN qv x ON x.vec_id = s.id1 JOIN qv y ON y.vec_id = s.id2
      |  WHERE s.id1 % 20 = 0),
      |g_ranked AS (
      |  SELECT node_id, neighbor_id FROM (
      |    ${rankSql("node_id", "g_scored")}) WHERE rank <= 5),
      |${exactTop5Sql("node_id")}
      |${keyedRecallSql("node_id", "g_ranked", "g")}
      |""".stripMargin))

  /** S23 — INT8 quantization recall audit
    * ([[Similarity.int8RecallAudit]]): exact cosine top-5 in the full
    * milli-unit space vs top-5 computed entirely in 1-byte codes, per
    * sampled query, as exact integer recall_ppm. The storage question
    * it answers is THE 100 TB vector-store question — float32→int8 is
    * a 4× cut of the dominant asset (more index per executor, smaller
    * broadcasts, cheaper scans) and must be bought with a measured
    * recall number, not a hope. The int8 code is half-away-from-zero
    * `round(x·127/1000)` on the exact milli longs in abs form (Spark
    * `div` truncates, DuckDB `//` floors; they agree only on
    * non-negative numerators), so the oracle replays code-building,
    * both rankings, and the join-count algebra exactly.
    */
  val s23Int8Recall = QueryDef("s23_int8_recall",
    (s, dir) => Similarity.int8RecallAudit(t(s, dir, "embeddings"),
      "vec_id", "embedding", k = 5, sampleMod = 20L),
    Some(s"""
      |WITH $qSql,
      |q8 AS (
      |  SELECT vec_id,
      |         list_transform(qv, x -> GREATEST(-127,
      |           LEAST(127, CASE WHEN x >= 0
      |             THEN (x * 127 + 500) // 1000
      |             ELSE -((-x * 127 + 500) // 1000) END))) AS cv
      |  FROM qv),
      |${exactTop5Sql("query_id")},
      |a_scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         ${cosineSql("q.cv", "c.cv")} AS cosine
      |  FROM q8 q, q8 c
      |  WHERE q.vec_id % 20 = 0 AND q.vec_id <> c.vec_id),
      |approx AS (
      |  SELECT query_id, neighbor_id FROM (
      |    ${rankSql("query_id", "a_scored")}) WHERE rank <= 5)
      |${keyedRecallSql("query_id", "approx", "a")}
      |""".stripMargin))

  /** D22 — SEMANTIC dedup clusters, keep-one (the SemDeDup pass):
    * connected components over banded near-dup pairs at cosine ≥ 0.9,
    * electing per cluster the largest-norm member (ties → smallest id)
    * and reporting how many rows a keep-one prune drops. 0.9 — not
    * s15's 0.4 — because transitive closure at a leakage threshold is
    * meaningless (measured at sf1: the 0.4 graph is ONE 19,936-node
    * component; at 0.9 components are genuine duplicate groups), and
    * the banded blocking's recall RISES with the threshold (per-plane
    * agreement ~0.86 at 0.9 → ~0.9999 over 8 probed bands, vs the
    * measured 62-86% at 0.4 — s16's curve). The gate corpus plants two
    * re-ingest tiers (the m4/d18 pattern): every `vec_id % 17 = 0`
    * embedding re-enters verbatim under +10⁷, every `% 34 = 0` also as
    * a HALF-SCALED copy (+2·10⁷, a renormalization artifact: same
    * direction, so cosine ~1, but half the norm) — so clusters of size
    * 2 AND 3 exist at every scale, and the norm-argmax election is
    * exercised by data, not only by tie-break. Components stay O(plant)
    * small, so the oracle's recursive closure is cheap at sf1 (unlike a
    * 0.4-threshold closure, which would be a 20k-node recursion).
    */
  val d22SemanticClusters = QueryDef("d22_semantic_clusters",
    (s, dir) => {
      val emb0 = t(s, dir, "embeddings")
      val aug = emb0
        .unionByName(emb0.filter(col("vec_id") % 17 === 0)
          .withColumn("vec_id", col("vec_id") + 10000000L))
        .unionByName(emb0.filter(col("vec_id") % 34 === 0)
          .withColumn("vec_id", col("vec_id") + 20000000L)
          .withColumn("embedding",
            transform(col("embedding"), x => x * lit(0.5f))))
      val pairs = Similarity.cosineNearDupPairsBanded(aug, "vec_id",
          "embedding", 900000L, bands = 8,
          bitsPerBand =
            Similarity.scaledBits(Tables.rowCount(s, dir, "embeddings")),
          probe1 = true)
        .select(col("id1"), col("id2"))
      val members = graft.dedup.DupClusters
        .connectedComponents(pairs, "id1", "id2")
      val norms = aug.select(col("vec_id").as("id"),
        Similarity.normSqQ(Similarity.quantize(col("embedding")))
          .as("norm_sq"))
      members.join(norms, Seq("id"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"),
          min(struct((-col("norm_sq")).as("neg_norm"), col("id"),
            col("norm_sq"))).as("best"))
        .select(col("cluster_id"), col("cluster_size"),
          col("best.id").as("keep_id"),
          col("best.norm_sq").as("keep_norm_sq"),
          (col("cluster_size") - 1L).as("n_pruned"))
        .orderBy(col("cluster_id"))
    },
    Some(s"""
      |WITH RECURSIVE aug AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
      |  FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 10000000, CAST(embedding AS DOUBLE[])
      |  FROM embeddings WHERE vec_id % 17 = 0
      |  UNION ALL
      |  SELECT vec_id + 20000000,
      |         list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.5)
      |  FROM embeddings WHERE vec_id % 34 = 0),
      |qv AS (
      |  ${quantizeSql("vec_id", "aug")}),
      |$annParamsSql,
      |${bandedBlockSql("qv")}
      |conf AS (
      |  SELECT c.id1, c.id2 FROM cand c
      |  JOIN qv x ON x.vec_id = c.id1 JOIN qv y ON y.vec_id = c.id2
      |  WHERE ${cosineGateSql("x.qv", "y.qv", 900000L)}),
      |${closureSql("conf")},
      |comp AS (
      |  SELECT node AS id, min(lbl) AS cluster_id FROM reach GROUP BY node),
      |nrm AS (
      |  SELECT vec_id AS id, ${dotSql("qv", "qv")} AS norm_sq FROM qv),
      |ranked AS (
      |  SELECT c.cluster_id,
      |         count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size,
      |         n.id, n.norm_sq,
      |         row_number() OVER (PARTITION BY c.cluster_id
      |           ORDER BY n.norm_sq DESC, n.id ASC) AS rn
      |  FROM comp c JOIN nrm n ON n.id = c.id)
      |SELECT cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
      |       id AS keep_id, norm_sq AS keep_norm_sq,
      |       CAST(cluster_size - 1 AS BIGINT) AS n_pruned
      |FROM ranked WHERE rn = 1
      |ORDER BY cluster_id
      |""".stripMargin))

  /** T44 — temperature-scaled mixture allocation
    * ([[graft.sampling.Sampling.temperatureMixAllocation]]): the τ=½
    * multilingual mixing plan — per-language token budget ∝ √supply,
    * capped at supply, one deterministic surplus-redistribution round.
    * On the gate corpus English holds ~3× any other language's tokens,
    * so at 900‰ budget the small languages genuinely cap and the
    * redistribution branch runs on data at every scale. One corpus
    * aggregate, then pure integer arithmetic on a 5-row frame against
    * two broadcast 1-row totals — no window, no iteration; the oracle
    * replays every division in the same pinned order.
    */
  val t44TemperatureMix = QueryDef("t44_temperature_mix",
    (s, dir) => graft.sampling.Sampling
      .temperatureMixAllocation(t(s, dir, "documents"), "lang",
        TextAnalysis.tokenCount(col("text")).cast("long"),
        budgetPermille = 900L)
      .orderBy(col("lang")),
    Some(s"""
      |WITH $tokSql,
      |sup AS (
      |  SELECT lang, CAST(SUM(len(tk)) AS BIGINT) AS supply_tokens
      |  FROM toks GROUP BY lang),
      |$sqrtWeightsSql,
      |a1 AS (
      |  SELECT w.lang, w.supply_tokens, w.weight_s, t.sw,
      |         CAST(t.t AS HUGEINT) * 900 // 1000 AS budget,
      |         CAST(t.t AS HUGEINT) * 900 // 1000 * w.weight_s // GREATEST(t.sw, 1)
      |           AS naive,
      |         least(CAST(w.supply_tokens AS HUGEINT),
      |               CAST(t.t AS HUGEINT) * 900 // 1000 * w.weight_s // GREATEST(t.sw, 1))
      |           AS alloc1
      |  FROM w, tot t),
      |t2 AS (
      |  SELECT CAST(SUM(alloc1) AS BIGINT) AS a1s,
      |         CAST(SUM(supply_tokens - alloc1) AS BIGINT) AS head
      |  FROM a1)
      |SELECT lang, supply_tokens, weight_s,
      |       CAST(weight_s * 1000000 // GREATEST(sw, 1) AS BIGINT) AS target_ppm,
      |       CAST(alloc1 + least(supply_tokens - alloc1,
      |              CAST(budget - a1s AS HUGEINT) * (supply_tokens - alloc1)
      |                // greatest(head, 1)) AS BIGINT) AS alloc_tokens,
      |       CAST(naive >= supply_tokens AS INT) AS capped,
      |       CAST(CAST(alloc1 + least(supply_tokens - alloc1,
      |              CAST(budget - a1s AS HUGEINT) * (supply_tokens - alloc1)
      |                // greatest(head, 1)) AS HUGEINT) * 1000000
      |            // greatest(supply_tokens, 1) AS BIGINT) AS fill_ppm
      |FROM a1, t2
      |ORDER BY lang
      |""".stripMargin))

  /** Session-memoized ACCRETED vector store for s18 (the d21 stance):
    * bootstrap write of one third of the corpus + two sequential appends
    * — the incremental ingest path, not a one-shot build — so the gate
    * probes the store a long-lived pipeline would actually have.
    */
  private def vecStoreDir(s: SparkSession, dir: String): String =
    SessionViews(s, dir, "vecstore") {
      val path = TempStores.dir("graft-vecstore") + "/vidx"
      val emb = t(s, dir, "embeddings")
      VecIndex.writeVecIndex(emb.filter(col("vec_id") % 3 === 0),
        "vec_id", "embedding", path, bands = 8,
        bitsPerBand =
          Similarity.scaledBits(Tables.rowCount(s, dir, "embeddings")),
        nBuckets = 64)
      VecIndex.appendToVecIndex(emb.filter(col("vec_id") % 3 === 1),
        "vec_id", "embedding", path)
      VecIndex.appendToVecIndex(emb.filter(col("vec_id") % 3 === 2),
        "vec_id", "embedding", path)
      path
    }

  /** The int8-codec twin of [[vecStoreDir]]: identical accretion
    * protocol (bootstrap third + two appends through the stored meta),
    * but the vector sidecar persists 1-BYTE codes
    * ([[graft.similarity.Similarity.int8FromMilli]], array<tinyint> on
    * parquet) — s23 measured what the narrow code costs in recall;
    * this store is where the 4× cut of the dominant 100 TB asset is
    * actually harvested. Banding and confirms run in the widened int8
    * long space, so probes are a pure function of (vector, meta) as in
    * the milli store.
    */
  private def vecStore8Dir(s: SparkSession, dir: String): String =
    SessionViews(s, dir, "vecstore8") {
      val path = TempStores.dir("graft-vecstore8") + "/vidx"
      val emb = t(s, dir, "embeddings")
      VecIndex.writeVecIndex(emb.filter(col("vec_id") % 3 === 0),
        "vec_id", "embedding", path, bands = 8,
        bitsPerBand =
          Similarity.scaledBits(Tables.rowCount(s, dir, "embeddings")),
        nBuckets = 64, codec = "int8")
      VecIndex.appendToVecIndex(emb.filter(col("vec_id") % 3 === 1),
        "vec_id", "embedding", path)
      VecIndex.appendToVecIndex(emb.filter(col("vec_id") % 3 === 2),
        "vec_id", "embedding", path)
      path
    }

  /** The int8 code space as a CTE over [[qSql]]'s milli-unit `qv` —
    * the same expression [[graft.similarity.Similarity.int8FromMilli]]
    * evaluates Spark-side (`//` for `DIV`; non-negative numerators
    * keep the two engines' integer divisions equal).
    */
  private val q8Sql =
    """q8 AS (
      |  SELECT vec_id,
      |         list_transform(qv, x -> GREATEST(-127,
      |           LEAST(127, CASE WHEN x >= 0
      |             THEN (x * 127 + 500) // 1000
      |             ELSE -((-x * 127 + 500) // 1000) END))) AS qv
      |  FROM qv)""".stripMargin

  /** S18 — persisted banded VECTOR store, accreted and probed
    * ([[graft.similarity.VecIndex]]): the embedding twin of the d14/d21
    * text LSH store — quantize + band the embedding history once,
    * append increments with the stored parameters, and answer "which
    * history is this new batch semantically near?" via a directory-
    * pruned band read + exact integer-cosine confirm at the 0.9 dedup
    * threshold. The probe batch is the planted re-ingest tier (verbatim
    * copies under fresh ids, NOT appended), so every probe must find
    * exactly its original through the store. The oracle is STORE-FREE:
    * it replays the banded blocking between probe and corpus from raw
    * embeddings — an accretion bug (dropped append rows, mis-banded
    * increment, meta drift) changes the store output and hash-
    * mismatches while the oracle stands still.
    */
  val s18VecStore = QueryDef("s18_vec_store",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") % 17 === 0)
        .withColumn("vec_id", col("vec_id") + 10000000L)
      VecIndex.probeVecIndex(s, probes, "vec_id", "embedding",
          vecStoreDir(s, dir), 900000L)
        .orderBy(col("probe_id"), col("corpus_id"))
    },
    Some(s"""
      |WITH $qSql,
      |$annParamsSql,
      |${storeProbeSql("qv", "vec_id % 17 = 0")}
      |""".stripMargin))

  /** S25 — the s18 accreted-store gate on the INT8 store
    * ([[vecStore8Dir]]): same planted re-ingest probe batch, same 0.9
    * dedup threshold, but every vector the store scores was persisted
    * as a 1-byte code — the round where s23's measured 4× storage cut
    * stops being a measurement and becomes the store's format. The
    * oracle is STORE-FREE in the int8 code space: it re-derives codes,
    * bands, multi-probe, and the exact integer-cosine confirm from raw
    * embeddings, so an encode/decode bug (truncated tinyint, asymmetric
    * rounding, meta codec drift) hash-mismatches while the oracle
    * stands still. The probe tier derives from ids < 10⁷ only — the
    * planted offset's documented domain (see the id-range guards note).
    */
  val s25VecStoreInt8 = QueryDef("s25_vec_store_int8",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb
        .filter(col("vec_id") % 17 === 0 && col("vec_id") < 10000000L)
        .withColumn("vec_id", col("vec_id") + 10000000L)
      VecIndex.probeVecIndex(s, probes, "vec_id", "embedding",
          vecStore8Dir(s, dir), 900000L)
        .orderBy(col("probe_id"), col("corpus_id"))
    },
    Some(s"""
      |WITH $qSql,
      |$q8Sql,
      |$annParamsSql,
      |${storeProbeSql("q8", "vec_id % 17 = 0 AND vec_id < 10000000")}
      |""".stripMargin))

  /** S26 — s23's recall question asked of the STORE PATH end-to-end:
    * per probe, the exact milli-space near set (integer cosine ≥ 0.4
    * against the full corpus — [[Similarity.exactNearPairsAsym]], the
    * measurement harness's broadcast-sample shape) is scored against
    * what the int8 banded store actually returns at the same
    * threshold. s23 priced QUANTIZATION alone (brute-force both
    * spaces); s16 priced BANDING alone (milli space); a store user
    * pays both at once, and this row is that composite as a measured
    * per-probe recall_ppm — plus n_store, so int8 boundary admissions
    * (store pairs the milli truth excludes) are visible on the same
    * row. Probes are the 1-in-20 organic sample (self excluded) plus
    * the planted re-ingest tier, whose cosine-1.0 originals keep the
    * row non-vacuous at every scale factor.
    */
  val s26Int8StoreRecall = QueryDef("s26_int8_store_recall",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val planted = emb
        .filter(col("vec_id") % 17 === 0 && col("vec_id") < 10000000L)
        .withColumn("vec_id", col("vec_id") + 10000000L)
      val probes = emb.filter(col("vec_id") % 20 === 0)
        .unionByName(planted)
        .localCheckpoint(eager = false) // truth + store probe share it
      val truthPairs = Similarity
        .exactNearPairsAsym(probes, emb, "vec_id", "embedding", 400000L)
        .select(col("eval_id").as("probe_id"), col("corpus_id"))
        .localCheckpoint(eager = false)
      val gotPairs = VecIndex.probeVecIndex(s, probes, "vec_id",
          "embedding", vecStore8Dir(s, dir), 400000L)
        .select(col("probe_id"), col("corpus_id"))
        .localCheckpoint(eager = false) // hits join + n_store census
      val perProbe = truthPairs
        .join(gotPairs.withColumn("__h", lit(1L)),
          Seq("probe_id", "corpus_id"), "left")
        .groupBy(col("probe_id"))
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum(col("__h")), lit(0L)).as("hits"))
      val storeCnt = gotPairs.groupBy(col("probe_id"))
        .agg(count(lit(1)).as("n_store"))
      perProbe.join(storeCnt, Seq("probe_id"), "left")
        .select(col("probe_id"), col("n_exact"),
          coalesce(col("n_store"), lit(0L)).as("n_store"), col("hits"),
          expr("hits * 1000000L div n_exact").as("recall_ppm"))
        .orderBy(col("probe_id"))
    },
    Some(s"""
      |WITH $qSql,
      |$q8Sql,
      |$annParamsSql,
      |${bandedBlockSql("q8")}
      |pq AS (
      |  SELECT vec_id AS probe_id, vec_id AS src_id, band, bucket
      |  FROM bb WHERE vec_id % 20 = 0
      |  UNION ALL
      |  SELECT vec_id + 10000000, vec_id, band, bucket
      |  FROM bb WHERE vec_id % 17 = 0 AND vec_id < 10000000),
      |ppr AS (
      |  SELECT probe_id, src_id, band,
      |         CAST(xor(bucket, CAST(f AS INT)) AS INT) AS bucket
      |  FROM pq, fl),
      |scand AS (
      |  SELECT DISTINCT p.probe_id, p.src_id, b.vec_id AS corpus_id
      |  FROM ppr p JOIN bb b ON p.band = b.band AND p.bucket = b.bucket),
      |sconf AS (
      |  SELECT c.probe_id, c.corpus_id
      |  FROM scand c
      |  JOIN q8 x ON x.vec_id = c.src_id
      |  JOIN q8 y ON y.vec_id = c.corpus_id
      |  WHERE c.probe_id <> c.corpus_id
      |    AND ${cosineGateSql("x.qv", "y.qv", 400000L)}),
      |plist AS (
      |  SELECT vec_id AS probe_id, vec_id AS src_id FROM qv
      |  WHERE vec_id % 20 = 0
      |  UNION ALL
      |  SELECT vec_id + 10000000, vec_id FROM qv
      |  WHERE vec_id % 17 = 0 AND vec_id < 10000000),
      |truth AS (
      |  SELECT p.probe_id, c.vec_id AS corpus_id
      |  FROM plist p
      |  JOIN qv x ON x.vec_id = p.src_id
      |  JOIN qv c ON c.vec_id <> p.probe_id
      |  WHERE ${cosineGateSql("x.qv", "c.qv", 400000L)}),
      |per AS (
      |  SELECT t.probe_id, COUNT(*) AS n_exact,
      |         SUM(CASE WHEN s.corpus_id IS NOT NULL THEN 1 ELSE 0 END)
      |           AS hits
      |  FROM truth t LEFT JOIN sconf s
      |    ON s.probe_id = t.probe_id AND s.corpus_id = t.corpus_id
      |  GROUP BY 1),
      |sc AS (SELECT probe_id, COUNT(*) AS n_store FROM sconf GROUP BY 1)
      |SELECT p.probe_id, CAST(p.n_exact AS BIGINT) AS n_exact,
      |       CAST(COALESCE(sc.n_store, 0) AS BIGINT) AS n_store,
      |       CAST(p.hits AS BIGINT) AS hits,
      |       CAST(p.hits * 1000000 // p.n_exact AS BIGINT) AS recall_ppm
      |FROM per p LEFT JOIN sc USING (probe_id)
      |ORDER BY probe_id
      |""".stripMargin))

  /** S27 — product-quantization recall audit
    * ([[Similarity.pqRecallAudit]]): the storage notch AFTER int8 —
    * 8 subspaces × 16-word integer codebooks encode each vector as 8
    * four-bit indices (8 bytes vs int8's 64), and the retrieval cost
    * of the narrower code is MEASURED, never assumed: exact cosine
    * top-5 vs the asymmetric (full-precision query × PQ
    * reconstruction) ranking on the 1-in-20 sample, per query, as
    * recall_ppm. Codebooks train with the s5 integer-Lloyd discipline
    * (first-16 init, exact-L2 ties-to-smaller-code assignment,
    * truncating-mean update, 2 iterations), so the oracle replays
    * TRAINING, encode, reconstruction, both rankings, and the recall
    * algebra — the whole pipeline, not just its output shape.
    */
  /** One oracle text for the PQ-audit family (s27, s28, s29):
    * identical pipeline, parameterized subspace count, codebook size
    * and training sample. `trainMod = 1` trains on the full corpus
    * (the WHERE is a no-op); larger values fit codebooks on the
    * 1-in-trainMod id sample while ENCODING still covers every
    * vector — the production shape, and what keeps the k=256 replay
    * affordable. `m` is the subspace count (64 % m == 0): each
    * subspace quantizes 64/m contiguous coordinates.
    */
  /** The PQ TRAIN → ENCODE → RECONSTRUCT CTE chain over [[qSql]]'s
    * `qv` (integer Lloyd on the 1-in-trainMod id sample, full-corpus
    * encode, `recon(vec_id, rv)` out) — shared by the brute-force
    * audit oracles (s27/s28/s29, via [[pqOracleSql]]) and the s30
    * STORE oracle, which composes it with the banded-blocking CTEs
    * to replay the whole serving tier store-free.
    */
  private def pqTrainCtes(kCodes: Int, trainMod: Long, m: Int): String = {
      require(64 % m == 0, s"m=$m must divide 64")
      val sub = 64 / m
      def dist(a: String, b: String) =
        s"${dotSql(a, a)} - 2 * ${dotSql(a, b)} + ${dotSql(b, b)}"
      val iterCtes = (1 to 2).map { i =>
        s"""a$i AS (
           |  SELECT vec_id, j, sv, code FROM (
           |    SELECT s.vec_id, s.j, s.sv, b.code,
           |           row_number() OVER (PARTITION BY s.vec_id, s.j
           |             ORDER BY ${dist("s.sv", "b.cw")} ASC, b.code) AS rk
           |    FROM sub_t s JOIN b${i - 1} b ON b.j = s.j) WHERE rk = 1),
           |m$i AS (
           |  SELECT j, code, dd.d AS d,
           |         SUM(sv[CAST(dd.d AS INT) + 1]) AS s, COUNT(*) AS n
           |  FROM a$i, (SELECT unnest(range($sub)) AS d) dd
           |  GROUP BY 1, 2, 3),
           |b$i AS (
           |  SELECT p.j, p.code, COALESCE(m.cw, p.cw) AS cw
           |  FROM b${i - 1} p LEFT JOIN (
           |    SELECT j, code,
           |           list(CAST((s - (s % n)) / n AS BIGINT) ORDER BY d)
           |             AS cw
           |    FROM m$i GROUP BY j, code) m
           |    ON m.j = p.j AND m.code = p.code)""".stripMargin
      }.mkString(",\n")
      s"""sub AS (
      |  SELECT vec_id, CAST(r.j AS INT) AS j,
      |         qv[CAST(r.j * $sub + 1 AS INT):CAST(r.j * $sub + $sub AS INT)]
      |           AS sv
      |  FROM qv, unnest(range(0, $m)) r(j)),
      |sub_t AS (SELECT * FROM sub WHERE vec_id % $trainMod = 0),
      |b0 AS (
      |  SELECT j,
      |         CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id)
      |              - 1 AS INT) AS code,
      |         sv AS cw
      |  FROM sub_t
      |  QUALIFY row_number() OVER (PARTITION BY j ORDER BY vec_id)
      |    <= $kCodes),
      |$iterCtes,
      |enc AS (
      |  SELECT vec_id, j, code FROM (
      |    SELECT s.vec_id, s.j, b.code,
      |           row_number() OVER (PARTITION BY s.vec_id, s.j
      |             ORDER BY ${dist("s.sv", "b.cw")} ASC, b.code) AS rk
      |    FROM sub s JOIN b2 b ON b.j = s.j) WHERE rk = 1),
      |recon AS (
      |  SELECT e.vec_id, flatten(list(b.cw ORDER BY e.j)) AS rv
      |  FROM enc e JOIN b2 b ON b.j = e.j AND b.code = e.code
      |  GROUP BY e.vec_id)""".stripMargin
  }

  private def pqOracleSql(kCodes: Int, trainMod: Long,
      m: Int = 8): String = {
      s"""
      |WITH $qSql,
      |${pqTrainCtes(kCodes, trainMod, m)},
      |apx_scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         ${cosineSql("q.qv", "c.rv")} AS cosine
      |  FROM qv q JOIN recon c ON q.vec_id <> c.vec_id
      |  WHERE q.vec_id % 20 = 0),
      |apx AS (
      |  SELECT query_id, neighbor_id, rank FROM (
      |    ${rankSql("query_id", "apx_scored")}) WHERE rank <= 50),
      |ex_scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         ${cosineSql("q.qv", "c.qv")} AS cosine
      |  FROM qv q JOIN qv c ON q.vec_id <> c.vec_id
      |  WHERE q.vec_id % 20 = 0),
      |exact AS (
      |  SELECT query_id, neighbor_id FROM (
      |    ${rankSql("query_id", "ex_scored")}) WHERE rank <= 5)
      |SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
      |       CAST(COALESCE(SUM(CASE WHEN a.rank <= 5
      |                              THEN 1 ELSE 0 END), 0) AS BIGINT)
      |         AS hits,
      |       CAST(COALESCE(SUM(CASE WHEN a.query_id IS NOT NULL
      |                              THEN 1 ELSE 0 END), 0) AS BIGINT)
      |         AS hits_short,
      |       CAST(COALESCE(SUM(CASE WHEN a.rank <= 5
      |                              THEN 1 ELSE 0 END), 0) * 1000000
      |            // COUNT(*) AS BIGINT) AS recall_ppm,
      |       CAST(COALESCE(SUM(CASE WHEN a.query_id IS NOT NULL
      |                              THEN 1 ELSE 0 END), 0) * 1000000
      |            // COUNT(*) AS BIGINT) AS short_recall_ppm
      |FROM exact e LEFT JOIN apx a
      |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      |GROUP BY e.query_id
      |ORDER BY e.query_id
      |""".stripMargin
  }

  val s27PqRecall = QueryDef("s27_pq_recall",
    (s, dir) => Similarity.pqRecallAudit(t(s, dir, "embeddings"),
      "vec_id", "embedding", m = 8, kCodes = 16, iterations = 2,
      k = 5, sampleMod = 20L),
    Some(pqOracleSql(kCodes = 16, trainMod = 1L)))

  /** S28 — the k=256 PQ measurement, the s27 cliff's documented next
    * notch: 8 subspaces × 256-word codebooks encode each vector as 8
    * one-BYTE indices (8 bytes/vector — still 8× under int8, the
    * standard production PQ point), trained with the same integer-Lloyd
    * discipline on the 1-in-5 id sample (codebooks-on-a-sample is the
    * production shape; encoding covers every vector) and measured in
    * the exact s27 shape: rank-5 fidelity AND shortlist-50 recall vs
    * exact cosine on the 1-in-20 query sample. s27 (k=16) measured the
    * 4-bit cliff — sf1 rank-5 fidelity 5%, shortlist 22%; this query
    * is the second data point that decides whether the storage ladder
    * reopens below int8 or closes with PQ rejected at BOTH operating
    * points for this corpus.
    */
  val s28PqRecall256 = QueryDef("s28_pq_recall_256",
    (s, dir) => Similarity.pqRecallAudit(t(s, dir, "embeddings"),
      "vec_id", "embedding", m = 8, kCodes = 256, iterations = 2,
      k = 5, sampleMod = 20L, trainMod = 5L),
    Some(pqOracleSql(kCodes = 256, trainMod = 5L)))

  /** S29 — the PQ ladder's WINNING point gated (m=16, k=256): the r14
    * `PqLadderProbe` curve showed the SUBSPACE axis, not the codebook
    * axis, is the lever that moves PQ recall on this corpus — doubling
    * m from 8 to 16 (16 one-byte indices, 16 B/vector, still 4× under
    * int8's 64 B) lifted sf1 shortlist-50 recall from 61.9% to 96.6%,
    * the first PQ point whose standard serving shape (PQ shortlist →
    * exact re-rank) is competitive with the int8 store's 94.5%. Probe
    * numbers are not ratchet numbers: this query carries the exact
    * s27/s28 measurement (integer Lloyd on the 1-in-5 id sample,
    * ADC through the codegen'd native dot, rank-5 fidelity AND
    * shortlist-50 recall vs exact cosine on the 1-in-20 query sample)
    * so the 96.6% claim hash-fails the moment corpus or codec drift
    * erodes it. Halving each subspace to 4 coordinates is WHY recall
    * jumps: each codeword models a 4-dim marginal, and 256 words cover
    * a 4-dim integer cube far more densely than an 8-dim one.
    */
  val s29PqRecall16x256 = QueryDef("s29_pq_recall_16x256",
    (s, dir) => Similarity.pqRecallAudit(t(s, dir, "embeddings"),
      "vec_id", "embedding", m = 16, kCodes = 256, iterations = 2,
      k = 5, sampleMod = 20L, trainMod = 5L),
    Some(pqOracleSql(kCodes = 256, trainMod = 5L, m = 16)))

  /** The milli vector store of [[vecStoreDir]] with the s29-gated PQ
    * shortlist sidecar written on top (m=16, k=256, trainMod=5 —
    * codebooks trained on the STORE's own vectors, codes for every
    * corpus vector at 16 one-byte indices). Memoized per (session,
    * sf): the sidecar write is the one-off index build the serving
    * path amortizes.
    */
  private def pqStoreDir(s: SparkSession, dir: String): String =
    SessionViews(s, dir, "pq") {
      val path = vecStoreDir(s, dir)
      VecIndex.writePqSidecar(s, path, m = 16, kCodes = 256,
        iterations = 2, trainMod = 5L)
      path
    }

  /** S30 — the PQ serving tier END-TO-END through the persisted store
    * ([[VecIndex.annProbeVecIndex]]): s29 measured the m=16,k=256
    * code's recall through brute-force ADC; a store user pays the
    * composite — banding discovery × PQ shortlist × exact re-rank —
    * and this row is that composite as a measured per-query number
    * (the s26 stance: the store path's recall is gated, not assumed).
    * For the 1-in-20 organic query sample, the exact cosine top-5
    * over the full corpus is scored against (a) the store's final
    * re-ranked top-5 — `recall_ppm`, the serving answer — and (b) the
    * store's 50-deep shortlist — `short_recall_ppm`, which isolates
    * what the 16-byte tier lost after banding. The oracle is
    * STORE-FREE and replays EVERYTHING from raw embeddings: banded
    * blocking with 1-bit multi-probe ([[bandedBlockSql]]), PQ
    * training on the 1-in-5 sample + full-corpus encode + ADC
    * ([[pqTrainCtes]] — the same text the s27/s28/s29 oracles ride),
    * the top-50 cut, the exact re-rank, and the recall algebra — so a
    * sidecar encode bug, a stale refresh, band drift, or a re-rank
    * ordering slip all hash-mismatch while the oracle stands still.
    */
  val s30PqStoreRecall = QueryDef("s30_pq_store_recall",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") % 20 === 0)
      val got = VecIndex.annProbeVecIndex(s, probes, "vec_id",
          "embedding", pqStoreDir(s, dir), shortlist = 50)
        .select(col("query_id"), col("neighbor_id"),
          when(col("rank") <= 5, 1L).otherwise(0L).as("__topk"),
          lit(1L).as("__short"))
        .localCheckpoint(eager = false) // both metrics read one ranking
      val baseQ = emb.select(col("vec_id").as("query_id"),
          Similarity.quantize(col("embedding")).as("qv"))
        .localCheckpoint(eager = false) // queries + corpus share one pass
      val exact = Similarity.topKFromQuantized(
        baseQ.filter(col("query_id") % 20 === 0),
        baseQ.select(col("query_id").as("neighbor_id"),
          col("qv").as("cv")), 5)
      exact.select(col("query_id"), col("neighbor_id"))
        .join(got, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum(col("__topk")), lit(0L)).as("hits"),
          coalesce(sum(col("__short")), lit(0L)).as("hits_short"))
        .withColumn("recall_ppm", expr("hits * 1000000L div n_exact"))
        .withColumn("short_recall_ppm",
          expr("hits_short * 1000000L div n_exact"))
        .orderBy(col("query_id"))
    },
    Some(s"""
      |WITH $qSql,
      |$annParamsSql,
      |${bandedBlockSql("qv")}
      |${pqTrainCtes(kCodes = 256, trainMod = 5L, m = 16)},
      |pcand AS (
      |  SELECT DISTINCT p.vec_id AS query_id, b.vec_id AS neighbor_id
      |  FROM pr p JOIN bb b ON p.band = b.band AND p.bucket = b.bucket
      |  WHERE p.vec_id % 20 = 0 AND b.vec_id <> p.vec_id),
      |adc AS (
      |  SELECT c.query_id, c.neighbor_id,
      |         ${cosineSql("q.qv", "r.rv")} AS cosine
      |  FROM pcand c
      |  JOIN qv q ON q.vec_id = c.query_id
      |  JOIN recon r ON r.vec_id = c.neighbor_id),
      |short AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |              ORDER BY cosine DESC NULLS LAST, neighbor_id) AS rk
      |    FROM adc) WHERE rk <= 50),
      |rr AS (
      |  SELECT query_id, neighbor_id,
      |         row_number() OVER (PARTITION BY query_id
      |           ORDER BY cosine DESC NULLS LAST, neighbor_id) AS rank
      |  FROM (
      |    SELECT s.query_id, s.neighbor_id,
      |           ${cosineSql("q.qv", "c.qv")} AS cosine
      |    FROM short s
      |    JOIN qv q ON q.vec_id = s.query_id
      |    JOIN qv c ON c.vec_id = s.neighbor_id)),
      |ex_scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         ${cosineSql("q.qv", "c.qv")} AS cosine
      |  FROM qv q JOIN qv c ON q.vec_id <> c.vec_id
      |  WHERE q.vec_id % 20 = 0),
      |truth AS (
      |  SELECT query_id, neighbor_id FROM (
      |    ${rankSql("query_id", "ex_scored")}) WHERE rank <= 5)
      |SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
      |       CAST(COALESCE(SUM(CASE WHEN r.rank <= 5
      |                              THEN 1 ELSE 0 END), 0) AS BIGINT)
      |         AS hits,
      |       CAST(COALESCE(SUM(CASE WHEN r.query_id IS NOT NULL
      |                              THEN 1 ELSE 0 END), 0) AS BIGINT)
      |         AS hits_short,
      |       CAST(COALESCE(SUM(CASE WHEN r.rank <= 5
      |                              THEN 1 ELSE 0 END), 0) * 1000000
      |            // COUNT(*) AS BIGINT) AS recall_ppm,
      |       CAST(COALESCE(SUM(CASE WHEN r.query_id IS NOT NULL
      |                              THEN 1 ELSE 0 END), 0) * 1000000
      |            // COUNT(*) AS BIGINT) AS short_recall_ppm
      |FROM truth t LEFT JOIN rr r
      |  ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id
      |GROUP BY t.query_id
      |ORDER BY t.query_id
      |""".stripMargin))

  /** T45 — boilerplate STRIPPING accounting
    * ([[Dedup.boilerplateCoverage]]): d12 censuses boilerplate; this is
    * what a curation pass actually does with it — per document, the
    * tokens left after removing every position covered by a ≥-minDf
    * 3-gram, with OVERLAPPING occurrences counted once (exact interval
    * union via a per-document sweep; the window axis is the document,
    * never the corpus). Same scaled minDf as d12, so the two queries
    * describe the same boilerplate set from census and removal sides.
    * The oracle replays the positional grams, the df join, and the
    * sweep's running-max arithmetic (1-based positions there, 0-based
    * here — interval union is shift-invariant).
    */
  val t45BoilerplateStrip = QueryDef("t45_boilerplate_strip",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val minDf = math.max(3L, Tables.rowCount(s, dir, "documents") / 500L)
      Dedup.boilerplateCoverage(docs, "doc_id", "text", 3, minDf)
        .orderBy(col("doc_id"))
    },
    Some(s"""
      |WITH $tokSql,
      |g AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |         array_to_string(tk[CAST(i AS INT):CAST(i AS INT)+2], ' ') AS s
      |  FROM toks,
      |       unnest(CASE WHEN len(tk) - 2 > 0 THEN range(1, len(tk) - 1)
      |              ELSE CAST([] AS BIGINT[]) END) r(i)),
      |dfr AS (SELECT s, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY s),
      |bo AS (
      |  SELECT g.doc_id, g.pos FROM g JOIN dfr USING (s)
      |  WHERE dfr.df >= GREATEST(3, (SELECT COUNT(*) FROM documents) // 500)),
      |sweep AS (
      |  SELECT doc_id, pos,
      |         MAX(pos + 2) OVER (PARTITION BY doc_id ORDER BY pos
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_end
      |  FROM bo),
      |cov AS (
      |  SELECT doc_id,
      |         CAST(SUM(GREATEST(0, (pos + 2) -
      |                GREATEST(COALESCE(max_end, pos - 1), pos - 1)))
      |              AS BIGINT) AS boiler_tokens
      |  FROM sweep GROUP BY doc_id)
      |SELECT t.doc_id,
      |       CAST(len(t.tk) AS BIGINT) AS n_tokens,
      |       CAST(COALESCE(c.boiler_tokens, 0) AS BIGINT) AS boiler_tokens,
      |       CAST(len(t.tk) - COALESCE(c.boiler_tokens, 0) AS BIGINT)
      |         AS clean_tokens,
      |       CAST(CASE WHEN len(t.tk) > 0
      |            THEN (COALESCE(c.boiler_tokens, 0) * 1000000) // len(t.tk)
      |            ELSE 0 END AS BIGINT) AS removed_ppm
      |FROM toks t LEFT JOIN cov c USING (doc_id)
      |ORDER BY doc_id
      |""".stripMargin))

  /** T46 — Gopher-style intra-document repetition signals
    * ([[Dedup.repetitionSignals]]): the production quality filters from
    * Rae et al. 2021 on the token axis — tokens covered by the most
    * frequent bigram (deterministic lexicographic tie-break) and by
    * any trigram repeating WITHIN the document, both as exact interval
    * unions. No corpus-axis join anywhere: every grouping key carries
    * doc_id, so one shuffle on id makes the whole plan partition-local
    * and immune to corpus-wide gram skew. The oracle replays gram
    * extraction, per-doc counting, the tie-break (row_number over
    * cnt DESC, s ASC), and the running-max sweep.
    */
  val t46Repetition = QueryDef("t46_repetition",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.repetitionSignals(docs, "doc_id", "text").orderBy(col("doc_id"))
    },
    Some(s"""
      |WITH $tokSql,
      |g2 AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |         array_to_string(tk[CAST(i AS INT):CAST(i AS INT)+1], ' ') AS s
      |  FROM toks,
      |       unnest(CASE WHEN len(tk) - 1 > 0 THEN range(1, len(tk))
      |              ELSE CAST([] AS BIGINT[]) END) r(i)),
      |c2 AS (SELECT doc_id, s, COUNT(*) AS cnt FROM g2 GROUP BY doc_id, s),
      |top2 AS (
      |  SELECT doc_id, s FROM (
      |    SELECT doc_id, s, ROW_NUMBER() OVER (PARTITION BY doc_id
      |             ORDER BY cnt DESC, s ASC) AS rn
      |    FROM c2) WHERE rn = 1),
      |p2 AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN top2 USING (doc_id, s)),
      |sw2 AS (
      |  SELECT doc_id, pos,
      |         MAX(pos + 1) OVER (PARTITION BY doc_id ORDER BY pos
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_end
      |  FROM p2),
      |cov2 AS (
      |  SELECT doc_id,
      |         CAST(SUM(GREATEST(0, (pos + 1) -
      |                GREATEST(COALESCE(max_end, pos - 1), pos - 1)))
      |              AS BIGINT) AS top2_tokens
      |  FROM sw2 GROUP BY doc_id),
      |g3 AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |         array_to_string(tk[CAST(i AS INT):CAST(i AS INT)+2], ' ') AS s
      |  FROM toks,
      |       unnest(CASE WHEN len(tk) - 2 > 0 THEN range(1, len(tk) - 1)
      |              ELSE CAST([] AS BIGINT[]) END) r(i)),
      |c3 AS (SELECT doc_id, s, COUNT(*) AS cnt FROM g3 GROUP BY doc_id, s),
      |p3 AS (SELECT g3.doc_id, g3.pos FROM g3
      |       JOIN (SELECT doc_id, s FROM c3 WHERE cnt >= 2) d USING (doc_id, s)),
      |sw3 AS (
      |  SELECT doc_id, pos,
      |         MAX(pos + 2) OVER (PARTITION BY doc_id ORDER BY pos
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_end
      |  FROM p3),
      |cov3 AS (
      |  SELECT doc_id,
      |         CAST(SUM(GREATEST(0, (pos + 2) -
      |                GREATEST(COALESCE(max_end, pos - 1), pos - 1)))
      |              AS BIGINT) AS dup3_tokens
      |  FROM sw3 GROUP BY doc_id)
      |SELECT t.doc_id,
      |       CAST(len(t.tk) AS BIGINT) AS n_tokens,
      |       CAST(COALESCE(c2.top2_tokens, 0) AS BIGINT) AS top2_tokens,
      |       CAST(COALESCE(c3.dup3_tokens, 0) AS BIGINT) AS dup3_tokens,
      |       CAST(CASE WHEN len(t.tk) > 0
      |            THEN (COALESCE(c2.top2_tokens, 0) * 1000000) // len(t.tk)
      |            ELSE 0 END AS BIGINT) AS top2_ppm,
      |       CAST(CASE WHEN len(t.tk) > 0
      |            THEN (COALESCE(c3.dup3_tokens, 0) * 1000000) // len(t.tk)
      |            ELSE 0 END AS BIGINT) AS dup3_ppm
      |FROM toks t LEFT JOIN cov2 c2 USING (doc_id)
      |            LEFT JOIN cov3 c3 USING (doc_id)
      |ORDER BY doc_id
      |""".stripMargin))

  /** T47 — DSIR importance weighting
    * ([[graft.sampling.Dsir.importanceWeights]]):
    * Xie et al. 2023's importance-resampling data selection, scored
    * against an `lang = 'en'` target slice. Bigrams hash into 1024
    * buckets via the repo md5 convention; both distributions are
    * Laplace-smoothed over the observed bucket domain; the log-ratio
    * is the integer surprisal difference `sr − st`, so the per-doc
    * weight `Σ c·(sr−st)` is exact integer arithmetic both engines
    * compute bit-identically. One tokenize+hash pass builds the
    * per-(doc,bucket) sufficient statistic shared by the two fits and
    * the scoring join; bucket tables are ≤1024 rows (broadcast), the
    * weight is one grouped sum — linear in corpus tokens at any scale.
    */
  val t47DsirWeights = QueryDef("t47_dsir_weights",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.sampling.Dsir.importanceWeights(docs, "doc_id", "text",
        col("lang") === "en", 1024).orderBy(col("doc_id"))
    },
    Some(s"""
      |WITH $tokSql,
      |g2 AS (
      |  SELECT doc_id, lang,
      |         array_to_string(tk[CAST(i AS INT):CAST(i AS INT)+1], ' ') AS s
      |  FROM toks,
      |       unnest(CASE WHEN len(tk) - 1 > 0 THEN range(1, len(tk))
      |              ELSE CAST([] AS BIGINT[]) END) r(i)),
      |pb AS (
      |  SELECT doc_id, (lang = 'en') AS tgt,
      |         CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % 1024 AS b,
      |         COUNT(*) AS c
      |  FROM g2 GROUP BY 1, 2, 3),
      |raw AS (SELECT b, SUM(c) AS cr FROM pb GROUP BY 1),
      |tg AS (SELECT b, SUM(c) AS ct FROM pb WHERE tgt GROUP BY 1),
      |st AS (
      |  SELECT raw.b, CAST(cr + 1 AS BIGINT) AS cr1,
      |         CAST(COALESCE(ct, 0) + 1 AS BIGINT) AS ct1
      |  FROM raw LEFT JOIN tg USING (b)),
      |tot AS (SELECT CAST(SUM(cr1) AS BIGINT) AS tr,
      |               CAST(SUM(ct1) AS BIGINT) AS tt FROM st),
      |su AS (
      |  SELECT b, CAST(length(bin(tot.tr // cr1)) AS BIGINT) AS sr,
      |         CAST(length(bin(tot.tt // ct1)) AS BIGINT) AS stp
      |  FROM st, tot),
      |w AS (
      |  SELECT pb.doc_id,
      |         CAST(SUM(CASE WHEN su.sr IS NOT NULL
      |                       THEN c * (sr - stp) ELSE 0 END)
      |           AS BIGINT) AS weight,
      |         CAST(SUM(c) AS BIGINT) AS n_bigrams,
      |         CAST(SUM(CASE WHEN su.sr IS NULL THEN c ELSE 0 END)
      |           AS BIGINT) AS n_unseen
      |  FROM pb LEFT JOIN su USING (b) GROUP BY 1)
      |SELECT t.doc_id,
      |       CAST(COALESCE(w.weight, 0) AS BIGINT) AS weight,
      |       CAST(COALESCE(w.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |       CAST(COALESCE(w.n_unseen, 0) AS BIGINT) AS n_unseen
      |FROM toks t LEFT JOIN w USING (doc_id)
      |ORDER BY doc_id
      |""".stripMargin))

  /** T48 — PSI distribution-drift audit ([[graft.sketch.Drift
    * .psiByGroup]]): per-source population stability index of the
    * document-length distribution against the complement of the
    * corpus — the standard "did this ingest feed drift" monitor,
    * surfacing one moved feed even when the global histogram barely
    * changes. Log₂ bins (no trained edges, ≤63 bins for any long),
    * Laplace-smoothed integer-ppm proportions over the shared observed
    * bin domain, signed bit-length logs — every term is exact integer
    * arithmetic, PSI ≥ 0 with equality iff the histograms agree. One
    * scan builds per-(source,bin) counts; everything downstream is
    * bounded by |sources|·|bins|, and "vs rest" is global-total minus
    * own-count — one aggregation, not |sources| anti-joins.
    */
  val t48PsiDrift = QueryDef("t48_psi_drift",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.sketch.Drift.psiByGroup(docs, "source", col("n_chars"))
        .orderBy(col("psi").desc, col("source"))
    },
    Some("""
      |WITH binned AS (
      |  SELECT source AS g,
      |         CAST(length(bin(n_chars + 1)) AS BIGINT) AS b
      |  FROM documents),
      |cg AS (SELECT g, b, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM binned GROUP BY 1, 2),
      |tot AS (SELECT b, CAST(SUM(c) AS BIGINT) AS tc FROM cg GROUP BY 1),
      |ng AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n_g FROM cg GROUP BY 1),
      |grand AS (SELECT CAST(SUM(tc) AS BIGINT) AS n,
      |                 CAST(COUNT(*) AS BIGINT) AS nbins FROM tot),
      |dom AS (SELECT ng.g, ng.n_g, tot.b, tot.tc, grand.n, grand.nbins
      |        FROM ng, tot, grand),
      |pq AS (
      |  SELECT dom.g, dom.n_g,
      |         CAST((COALESCE(cg.c, 0) + 1) * 1000000
      |              // (dom.n_g + dom.nbins) AS BIGINT) AS p,
      |         CAST(((dom.tc - COALESCE(cg.c, 0)) + 1) * 1000000
      |              // ((dom.n - dom.n_g) + dom.nbins) AS BIGINT) AS q
      |  FROM dom LEFT JOIN cg ON dom.g = cg.g AND dom.b = cg.b),
      |sl AS (
      |  SELECT g, n_g, p, q,
      |         CASE WHEN p >= q
      |              THEN CAST(length(bin(p // greatest(q, 1))) AS BIGINT)
      |              ELSE -CAST(length(bin(q // greatest(p, 1))) AS BIGINT)
      |         END AS slog
      |  FROM pq)
      |SELECT g AS source, CAST(MAX(n_g) AS BIGINT) AS n_docs,
      |       CAST(SUM((p - q) * slog) AS BIGINT) AS psi
      |FROM sl GROUP BY g ORDER BY psi DESC, source
      |""".stripMargin))

  /** D23 — cluster-balanced soft dedup
    * ([[graft.sampling.Sampling.clusterBalancedSample]]): every
    * document survives with probability 1/|its d7 duplicate cluster| —
    * each cluster contributes one doc in expectation, singletons always
    * survive (rate 10⁶), and the coin is the repo's deterministic md5
    * uniform so the oracle replays the exact kept set. The keep-with-
    * probability-1/n alternative to d8's hard keep-one election.
    * Cluster sizes aggregate the index-sized membership frame (only
    * paired docs); the rate join back to the corpus is id-keyed — no
    * corpus-axis window or pair space.
    */
  val d23ClusterBalanced = QueryDef("d23_cluster_balanced",
    (s, dir) => graft.sampling.Sampling.clusterBalancedSample(
        t(s, dir, "documents"), "doc_id",
        dupMembers(s, dir), "id", "cluster_id")
      .orderBy(col("doc_id")),
    Some(s"""
      |$jaccardClosureSql,
      |comp AS (
      |  SELECT node AS id, min(lbl) AS cluster_id FROM reach GROUP BY node),
      |cs AS (SELECT cluster_id, COUNT(*) AS csize FROM comp GROUP BY 1),
      |per AS (SELECT comp.id AS doc_id, cs.csize
      |        FROM comp JOIN cs USING (cluster_id)),
      |rated AS (
      |  SELECT d.doc_id,
      |         CAST(COALESCE(p.csize, 1) AS BIGINT) AS cluster_size,
      |         CAST(1000000 // COALESCE(p.csize, 1) AS BIGINT) AS rate_ppm
      |  FROM documents d LEFT JOIN per p USING (doc_id))
      |SELECT doc_id, cluster_size, rate_ppm
      |FROM rated
      |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|cbsample'),
      |           1, 15) AS BIGINT) % 1000000 < rate_ppm
      |ORDER BY doc_id
      |""".stripMargin))

  /** S19 — source-centroid similarity matrix
    * ([[Similarity.groupCentroidCosines]]): the corpus-composition
    * audit — per-source embedding centroids (elementwise sums of the
    * shared milli-unit quantization; cosine is scale-invariant so no
    * integer mean division) and the exact integer dot + IEEE cosine
    * for every source pair. One posexplode pass → per-(source, dim)
    * sums; everything after is bounded by |sources|·dims and
    * dims·|sources|² — never corpus rows. The cosine divides by
    * sqrt(na)·sqrt(nb) (the summed-vector norms would overflow the
    * product form).
    */
  val s19SourceCentroids = QueryDef("s19_source_centroids",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val joined = emb.join(docs, emb("vec_id") === docs("doc_id"))
        .select(col("source"), col("embedding"))
      Similarity.groupCentroidCosines(joined, "source", "embedding")
        .orderBy(col("g1"), col("g2"))
    },
    Some(s"""
      |WITH $qSql,
      |j AS (
      |  SELECT d.source AS g, q.qv
      |  FROM qv q JOIN documents d ON q.vec_id = d.doc_id),
      |e AS (
      |  SELECT g, CAST(i AS INT) - 1 AS dim,
      |         CAST(qv[CAST(i AS INT)] AS BIGINT) AS v
      |  FROM j, unnest(range(1, len(qv) + 1)) r(i)),
      |sums AS (
      |  SELECT g, dim, CAST(SUM(v) AS BIGINT) AS sv,
      |         CAST(COUNT(*) AS BIGINT) AS n_g
      |  FROM e GROUP BY 1, 2),
      |norms AS (
      |  SELECT g, CAST(SUM(sv * sv) AS BIGINT) AS nn, MAX(n_g) AS n_vecs
      |  FROM sums GROUP BY 1),
      |dots AS (
      |  SELECT a.g AS g1, b.g AS g2, CAST(SUM(a.sv * b.sv) AS BIGINT) AS dot_q
      |  FROM sums a JOIN sums b ON a.dim = b.dim AND a.g < b.g
      |  GROUP BY 1, 2)
      |SELECT g1, g2, n1.n_vecs AS n_a, n2.n_vecs AS n_b, dot_q,
      |       CASE WHEN n1.nn > 0 AND n2.nn > 0
      |            THEN CAST(dot_q AS DOUBLE) /
      |                 (sqrt(CAST(n1.nn AS DOUBLE)) * sqrt(CAST(n2.nn AS DOUBLE)))
      |       END AS cosine
      |FROM dots JOIN norms n1 ON g1 = n1.g JOIN norms n2 ON g2 = n2.g
      |ORDER BY g1, g2
      |""".stripMargin))

  /** T49 — epoch-decay allocation audit
    * ([[graft.sampling.Sampling.epochDecayAudit]]): the data-
    * constrained-scaling accounting (Muennighoff et al. 2023) for a
    * budget at 3× total supply — the regime where √-temperature
    * weights over-epoch small languages. Per language: full epochs,
    * partial remainder, and the effective token value under r=½
    * geometric decay (`Σ supply div 2^(i-1)` term by term — each term
    * has its own integer division, so both engines replay the explicit
    * ≤20-element epoch sum rather than a closed form). efficiency_ppm
    * < 10⁶ flags strata whose marginal tokens a re-balance should
    * move. One corpus aggregate; the rest is ≤|langs|·20 rows.
    */
  val t49EpochDecay = QueryDef("t49_epoch_decay",
    (s, dir) => graft.sampling.Sampling
      .epochDecayAudit(t(s, dir, "documents"), "lang",
        TextAnalysis.tokenCount(col("text")).cast("long"),
        budgetPermille = 3000L)
      .orderBy(col("lang")),
    Some(s"""
      |WITH $tokSql,
      |sup AS (
      |  SELECT lang, CAST(SUM(len(tk)) AS BIGINT) AS supply_tokens
      |  FROM toks GROUP BY lang HAVING SUM(len(tk)) > 0),
      |$sqrtWeightsSql,
      |base AS (
      |  SELECT w.lang, w.supply_tokens,
      |         CAST(CAST(t.t AS HUGEINT) * 3000 // 1000
      |              * w.weight_s // GREATEST(t.sw, 1) AS BIGINT)
      |           AS alloc_tokens
      |  FROM w, tot t),
      |kb AS (
      |  SELECT lang, supply_tokens, alloc_tokens,
      |         least(alloc_tokens // supply_tokens, 20) AS k,
      |         alloc_tokens
      |           - least(alloc_tokens // supply_tokens, 20) * supply_tokens
      |           AS partial_tokens
      |  FROM base),
      |eps AS (
      |  SELECT kb.lang,
      |         CAST(SUM(supply_tokens
      |              // (CAST(1 AS BIGINT) << CAST(i - 1 AS INT)))
      |           AS BIGINT) AS full_value
      |  FROM kb, unnest(range(1, k + 1)) r(i)
      |  GROUP BY kb.lang)
      |SELECT kb.lang, kb.supply_tokens, kb.alloc_tokens,
      |       CAST(kb.k AS BIGINT) AS epochs_full, kb.partial_tokens,
      |       CAST(COALESCE(e.full_value, 0) + kb.partial_tokens
      |            // (CAST(1 AS BIGINT) << CAST(kb.k AS INT))
      |         AS BIGINT) AS effective_tokens,
      |       CAST(CASE WHEN kb.alloc_tokens > 0
      |            THEN CAST(COALESCE(e.full_value, 0) + kb.partial_tokens
      |                  // (CAST(1 AS BIGINT) << CAST(kb.k AS INT))
      |                  AS HUGEINT)
      |                 * 1000000 // kb.alloc_tokens
      |            ELSE 0 END AS BIGINT) AS efficiency_ppm
      |FROM kb LEFT JOIN eps e USING (lang)
      |ORDER BY lang
      |""".stripMargin))

  /** T50 — training-sequence packing coordinates
    * ([[graft.pipeline.ShardPacking.sequencePack]]): the GPT-style
    * packed stream — per language, documents concatenate in doc_id
    * order and chop into 256-token context windows; each document
    * reports its sequence index, in-sequence offset, and how many
    * window boundaries cut through it (the fragmentation census that
    * decides whether a context length suits a corpus). The offset axis
    * is t41's skew-proof two-phase prefix sum (budget = seqLen) — its
    * second consumer; the oracle replays the single-window cumsum the
    * bucketed path is proven bit-identical to.
    */
  val t50SequencePack = QueryDef("t50_sequence_pack",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.pipeline.ShardPacking.sequencePack(
          docs, "lang", "doc_id",
          TextAnalysis.tokenCount(col("text")).cast("long"),
          seqLen = 256L, buckets = 8)
        .orderBy(col("lang"), col("doc_id"))
    },
    Some(s"""
      |WITH $tokSql,
      |v AS (SELECT lang, doc_id, CAST(len(tk) AS BIGINT) AS tok FROM toks),
      |w AS (SELECT lang, doc_id, tok,
      |        CAST(SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id
      |               ROWS UNBOUNDED PRECEDING) - tok AS BIGINT) AS start_off
      |      FROM v)
      |SELECT lang, doc_id, tok AS n_tokens, start_off,
      |       CAST(start_off // 256 AS BIGINT) AS seq_idx,
      |       CAST(start_off % 256 AS BIGINT) AS seq_off,
      |       CAST(CASE WHEN tok > 0
      |            THEN (start_off + tok - 1) // 256 - start_off // 256
      |            ELSE 0 END AS BIGINT) AS crossings
      |FROM w
      |ORDER BY lang, doc_id
      |""".stripMargin))

  /** T51 — referentially-consistent warehouse subsetting
    * ([[graft.sampling.Sampling.referentialSample]]): orders sampled
    * at 10% by the deterministic md5 coin on their key; lineitems
    * follow their order's decision through a semi join, so the subset
    * has NO dangling foreign keys (row-independent sampling of both
    * tables dangles almost surely). Output: every kept order with its
    * child-row count and integer quantity sum — the oracle replays the
    * coin and the closure, so a child row kept without its parent (or
    * dropped with it) hash-mismatches. Parent filter is scan-stage;
    * the one child shuffle broadcasts when the kept-key set is small
    * (j13's bloom semi join is the drop-in at larger rates).
    */
  val t51ConsistentSample = QueryDef("t51_consistent_sample",
    (s, dir) => {
      val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val keptOrders = orders.filter(
        graft.sampling.Sampling.hashUniformPpm(col("o_orderkey"),
          "refsample") < lit(100000L))
      val keptLines = graft.sampling.Sampling.referentialSample(
        orders, "o_orderkey", li, "l_orderkey", 100000L)
      val stats = keptLines.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("long")).as("qty_sum"))
      keptOrders.select(col("o_orderkey"), col("o_orderpriority"))
        .join(stats, keptOrders("o_orderkey") === stats("l_orderkey"),
          "left")
        .select(col("o_orderkey"), col("o_orderpriority"),
          coalesce(col("n_lines"), lit(0L)).as("n_lines"),
          coalesce(col("qty_sum"), lit(0L)).as("qty_sum"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      |WITH kept AS (
      |  SELECT o_orderkey, o_orderpriority FROM orders
      |  WHERE CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
      |          || '|refsample'), 1, 15) AS BIGINT) % 1000000 < 100000),
      |st AS (
      |  SELECT l.l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
      |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
      |  FROM lineitem l
      |  WHERE l.l_orderkey IN (SELECT o_orderkey FROM kept)
      |  GROUP BY 1)
      |SELECT k.o_orderkey, k.o_orderpriority,
      |       CAST(COALESCE(st.n_lines, 0) AS BIGINT) AS n_lines,
      |       CAST(COALESCE(st.qty_sum, 0) AS BIGINT) AS qty_sum
      |FROM kept k LEFT JOIN st ON k.o_orderkey = st.l_orderkey
      |ORDER BY o_orderkey
      |""".stripMargin))

  /** S20 — contrastive training-pair mining
    * ([[Similarity.contrastivePairs]]): per anchor, top-3 positives
    * (banded candidates at cosine ≥ 0.9 — the planted verbatim twins
    * guarantee non-vacuous positives at every scale) and top-3 HARD
    * negatives (highest-cosine candidates strictly below 0.4 — the
    * same-bucket almost-confusables contrastive losses need; the
    * [0.4, 0.9) margin band is excluded). Class membership is the
    * exact integer threshold test; only in-class ranking uses the IEEE
    * cosine. The oracle replays banding (the s15/s16 shared fragment),
    * both thresholds in HUGEINT, and the rank.
    */
  val s20ContrastivePairs = QueryDef("s20_contrastive_pairs",
    (s, dir) => {
      val aug = plantedEmbeddings(s, dir)
      Similarity.contrastivePairs(aug, "vec_id", "embedding",
          kPos = 3, kNeg = 3, posFloorPpm = 900000L, negCeilPpm = 400000L,
          bands = 8,
          bitsPerBand =
            Similarity.scaledBits(Tables.rowCount(s, dir, "embeddings")))
        .orderBy(col("anchor_id"), col("role"), col("rank"))
    },
    Some(s"""
      |WITH $augSql,
      |qv AS (
      |  ${quantizeSql("vec_id", "aug")}),
      |$annParamsSql,
      |${bandedBlockSql("qv")}
      |dir AS (
      |  SELECT id1 AS anchor_id, id2 AS pair_id FROM cand
      |  UNION ALL
      |  SELECT id2, id1 FROM cand),
      |sc AS (
      |  SELECT d.anchor_id, d.pair_id,
      |         ${dotSql("a.qv", "b.qv")} AS dot_q,
      |         ${dotSql("a.qv", "a.qv")} AS n1,
      |         ${dotSql("b.qv", "b.qv")} AS n2
      |  FROM dir d JOIN qv a ON a.vec_id = d.anchor_id
      |             JOIN qv b ON b.vec_id = d.pair_id),
      |lab AS (
      |  SELECT anchor_id, pair_id, dot_q,
      |         CASE WHEN n1 > 0 AND n2 > 0
      |              THEN CAST(dot_q AS DOUBLE) / sqrt(CAST(n1 * n2 AS DOUBLE))
      |         END AS cosine,
      |         CASE WHEN dot_q > 0
      |                AND CAST(dot_q AS HUGEINT) * dot_q * 1000000 * 1000000
      |                    >= CAST(n1 AS HUGEINT) * n2 * 900000 * 900000
      |              THEN 'pos'
      |              WHEN NOT (dot_q > 0
      |                AND CAST(dot_q AS HUGEINT) * dot_q * 1000000 * 1000000
      |                    >= CAST(n1 AS HUGEINT) * n2 * 400000 * 400000)
      |              THEN 'neg'
      |         END AS role
      |  FROM sc),
      |rk AS (
      |  SELECT anchor_id, role, pair_id, dot_q, cosine,
      |         row_number() OVER (PARTITION BY anchor_id, role
      |           ORDER BY cosine DESC NULLS LAST, pair_id) AS rank
      |  FROM lab WHERE role IS NOT NULL)
      |SELECT anchor_id, role, CAST(rank AS INT) AS rank, pair_id, dot_q,
      |       cosine
      |FROM rk
      |WHERE (role = 'pos' AND rank <= 3) OR (role = 'neg' AND rank <= 3)
      |ORDER BY anchor_id, role, rank
      |""".stripMargin))

  /** T52 — language-ID confusion audit: the labeled lang column vs
    * [[TextAnalysis.langId]]'s stopword-vote guess, as per-(label,
    * guess) counts with the within-label share in ppm — the
    * reliability check a pipeline owes itself before stratifying
    * sampling/mixing decisions on a predicted label (t17/t22/t44 all
    * key on lang). The en/es stopword lists resolve those two; zh/de/
    * fr must land in 'und' — a guess bleeding across labels shows up
    * as off-diagonal mass. Two grouped counts and one label-total
    * join; no window, no text pass beyond the one tokenize.
    */
  val t52LangConfusion = QueryDef("t52_lang_confusion",
    (s, dir) => {
      val g = t(s, dir, "documents").select(col("lang"),
        TextAnalysis.langId(col("text")).as("lang_guess"))
      val ct = g.groupBy(col("lang"), col("lang_guess"))
        .agg(count(lit(1)).as("n"))
      val tot = ct.groupBy(col("lang")).agg(sum(col("n")).as("t"))
      ct.join(tot, "lang")
        .select(col("lang"), col("lang_guess"), col("n"),
          expr("n * 1000000 div t").as("share_ppm"))
        .orderBy(col("lang"), col("lang_guess"))
    },
    Some(s"""
      |WITH $tokSql,
      |g AS (
      |  SELECT lang,
      |         CASE WHEN en_hits > es_hits THEN 'en'
      |              WHEN es_hits > en_hits THEN 'es'
      |              ELSE 'und' END AS lang_guess
      |  FROM (
      |    SELECT lang,
      |           len(list_intersect(tk, ['the','of','and','to','in','is',
      |             'for','on','with','as'])) AS en_hits,
      |           len(list_intersect(tk, ['de','la','que','el','en','y',
      |             'los','del','las','por'])) AS es_hits
      |    FROM toks)),
      |ct AS (SELECT lang, lang_guess, CAST(COUNT(*) AS BIGINT) AS n
      |       FROM g GROUP BY 1, 2),
      |tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS t FROM ct GROUP BY 1)
      |SELECT ct.lang, ct.lang_guess, ct.n,
      |       CAST(ct.n * 1000000 // tot.t AS BIGINT) AS share_ppm
      |FROM ct JOIN tot USING (lang)
      |ORDER BY lang, lang_guess
      |""".stripMargin))

  /** A9 — one-pass column profiler over the fact table: per numeric
    * column, non-null count, EXACT distinct count, and min/max — the
    * Deequ-style completeness/cardinality analyzer a warehouse runs
    * before trusting a feed. ONE aggregate computes all 8 columns' 32
    * statistics (multi-distinct goes through Spark's expand — 8× the
    * scan rows into partial aggs, the standard exact-multi-distinct
    * price; swap in the t4 KMV sketch per column when exactness can be
    * traded at 100 TB), then a `stack` unpivots the single wide row
    * into per-column rows. Min/max surface as DOUBLE so both engines
    * render identically.
    */
  val a9ColumnProfile = QueryDef("a9_column_profile",
    (s, dir) => {
      // r16 restructure: one aggregate with 8 countDistincts planned as
      // an 8-way Expand — 600k rows multiplied to 4.8M before a
      // corpus×columns hash aggregate (StageProfile: 33 s task CPU).
      // As a UNION of per-column legs (the oracle's own shape) each leg
      // is a single-distinct aggregate over ONE parquet-pruned column —
      // no Expand, and the 8 legs run as concurrent stages of one job.
      // Same rows, same order; the oracle is unchanged.
      val cols = profileCols
      val legs = cols.map { c =>
        t(s, dir, "lineitem").select(col(c))
          .agg(
            count(col(c)).as("n_nonnull"),
            countDistinct(col(c)).as("n_distinct"),
            min(col(c)).cast("double").as("min_v"),
            max(col(c)).cast("double").as("max_v"),
            count(lit(1)).as("n_rows"))
          .select(lit(c).as("column_name"), col("n_nonnull"),
            col("n_distinct"), col("min_v"), col("max_v"), col("n_rows"))
      }
      legs.reduce(_ unionByName _).orderBy(col("column_name"))
    },
    Some(s"""
      |${profileCols.map(c =>
          s"""SELECT '$c' AS column_name,
             |  CAST(COUNT($c) AS BIGINT) AS n_nonnull,
             |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  CAST(MIN($c) AS DOUBLE) AS min_v,
             |  CAST(MAX($c) AS DOUBLE) AS max_v,
             |  CAST(COUNT(*) AS BIGINT) AS n_rows
             |FROM lineitem""".stripMargin)
        .mkString("\nUNION ALL\n")}
      |ORDER BY column_name
      |""".stripMargin))

  /** A10 — sketch-based join-cardinality estimation
    * ([[graft.sketch.Sketch.cmsJoinSize]]): |A ⋈ B| on the token key
    * for two sources' token multisets — the word-frequency join the
    * AMS literature benchmarks — estimated from two 4×512 CMS grids
    * via the per-row inner product (min over rows), next to the exact
    * Σ c_A·c_B and the overestimate in ppm. The optimizer-statistics
    * primitive: broadcast/reorder decisions need the join size BEFORE
    * the join runs, and the grids are bounded and mergeable. The
    * estimate is provably an upper bound (collisions only add mass) —
    * the oracle replays both grids cell-exactly, so over_ppm is a pure
    * function of the data.
    */
  val a10JoinCardinality = QueryDef("a10_join_cardinality",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      def toks(src: String) = docs.filter(col("source") === src)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      val a = toks("src0").localCheckpoint(eager = false)
      val b = toks("src1").localCheckpoint(eager = false)
      val exact = a.groupBy(col("token")).agg(count(lit(1)).as("ca"))
        .join(b.groupBy(col("token")).agg(count(lit(1)).as("cb")), "token")
        .agg(coalesce(sum(col("ca") * col("cb")), lit(0L))
          .as("exact_join_n"))
      val na = a.agg(count(lit(1)).as("n_a"))
      val nb = b.agg(count(lit(1)).as("n_b"))
      val est = graft.sketch.Sketch.cmsJoinSize(a, "token", b, "token",
        4, 512)
      na.crossJoin(broadcast(nb)).crossJoin(broadcast(exact))
        .crossJoin(broadcast(est))
        .withColumn("over_ppm", expr(
          "(cms_join_n - exact_join_n) * 1000000 div " +
            "greatest(exact_join_n, 1L)"))
    },
    Some(s"""
      |WITH $tokSql,
      |ta AS (SELECT unnest(tk) AS token FROM toks WHERE source = 'src0'),
      |tb AS (SELECT unnest(tk) AS token FROM toks WHERE source = 'src1'),
      |ga AS (SELECT token, COUNT(*) AS ca FROM ta GROUP BY 1),
      |gb AS (SELECT token, COUNT(*) AS cb FROM tb GROUP BY 1),
      |ex AS (SELECT CAST(COALESCE(SUM(ca * cb), 0) AS BIGINT)
      |         AS exact_join_n
      |       FROM ga JOIN gb USING (token)),
      |rr AS (SELECT unnest([0, 1, 2, 3]) AS r),
      |cea AS (
      |  SELECT r,
      |         CAST('0x' || substr(md5(r || ':' || token), 1, 10) AS BIGINT)
      |           % 512 AS bucket,
      |         COUNT(*) AS cnt
      |  FROM ta CROSS JOIN rr GROUP BY 1, 2),
      |ceb AS (
      |  SELECT r,
      |         CAST('0x' || substr(md5(r || ':' || token), 1, 10) AS BIGINT)
      |           % 512 AS bucket,
      |         COUNT(*) AS cnt_b
      |  FROM tb CROSS JOIN rr GROUP BY 1, 2),
      |est AS (
      |  SELECT CAST(MIN(COALESCE(s, 0)) AS BIGINT) AS cms_join_n
      |  FROM rr LEFT JOIN (
      |    SELECT a.r, SUM(a.cnt * b.cnt_b) AS s
      |    FROM cea a JOIN ceb b USING (r, bucket) GROUP BY 1) j USING (r)),
      |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a FROM ta),
      |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b FROM tb)
      |SELECT n_a, n_b, exact_join_n, cms_join_n,
      |       CAST((cms_join_n - exact_join_n) * 1000000
      |            // GREATEST(exact_join_n, 1) AS BIGINT) AS over_ppm
      |FROM na, nb, ex, est
      |""".stripMargin))

  /** A11 — bootstrap uncertainty for a corpus statistic
    * ([[graft.sampling.Sampling.bootstrapMeans]]): 32 deterministic
    * Poisson-style bootstrap replicates of the mean document length —
    * each doc appears Binomial(4, ¼) times per replicate on md5
    * coins, so the replicate means' spread IS the sampling
    * distribution and quantiles of it are the confidence interval.
    * The map-reduce bootstrap (Chamandy et al.): no global resample
    * coordination, ONE wide aggregate with zero row fan-out — the 32
    * replicates are 64 conditional sums on the scan row (the a9
    * profiler shape), stacked to rows from the 1-row result. The
    * oracle replays every coin.
    */
  val a11BootstrapCi = QueryDef("a11_bootstrap_ci",
    (s, dir) => graft.sampling.Sampling
      .bootstrapMeans(t(s, dir, "documents"), "doc_id", col("n_chars"))
      .orderBy(col("trial")),
    Some("""
      |WITH bl AS (
      |  SELECT d.n_chars, r.blk,
      |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
      |                || '|bs|' || r.blk), 1, 15) AS BIGINT) AS h
      |  FROM documents d, unnest(range(0, 5)) r(blk)),
      |tr AS (SELECT unnest(range(1, 33)) AS trial),
      |pc AS (
      |  SELECT b.n_chars, t.trial,
      |         CASE WHEN ((h >> CAST(((t.trial - 1) % 7) * 8 AS INT))
      |                    & 3) = 0 THEN 1 ELSE 0 END
      |       + CASE WHEN ((h >> CAST(((t.trial - 1) % 7) * 8 + 2 AS INT))
      |                    & 3) = 0 THEN 1 ELSE 0 END
      |       + CASE WHEN ((h >> CAST(((t.trial - 1) % 7) * 8 + 4 AS INT))
      |                    & 3) = 0 THEN 1 ELSE 0 END
      |       + CASE WHEN ((h >> CAST(((t.trial - 1) % 7) * 8 + 6 AS INT))
      |                    & 3) = 0 THEN 1 ELSE 0 END AS cp
      |  FROM bl b JOIN tr t ON (t.trial - 1) // 7 = b.blk)
      |SELECT trial, CAST(SUM(cp) AS BIGINT) AS n_eff,
      |       CAST(SUM(cp * n_chars) AS BIGINT) AS w_sum,
      |       CAST(SUM(cp * n_chars) * 1000 // GREATEST(SUM(cp), 1)
      |         AS BIGINT) AS mean_milli
      |FROM pc GROUP BY trial
      |ORDER BY trial
      |""".stripMargin))

  /** A12 — the SKETCHED column profiler a9's scaladoc promises: the
    * same per-column completeness/cardinality/range statistics with
    * the KMV k-minima sketch ([[graft.sketch.Sketch.KmvAggregator]],
    * k=256) replacing exact `countDistinct` — ONE aggregate, NO
    * `Expand`. a9's exact multi-distinct rides Spark's 8-way expand
    * (8× the scan rows into partial aggregation — the registry's
    * slowest query at 4 s / sf0.1); here each of the 8 columns ships
    * at most 256 longs per partition partial, so the scan is read
    * ONCE at its true width. Role after r13: the KMV-SKETCH gate —
    * its k-minima are the store format of the t4/a13/a14 sketch
    * family; the typed-UDAF ObjectHashAggregate keeps it out of
    * whole-stage codegen, so the CHEAP profiler is now a15's HLL
    * hash-agg form (1.64 s vs 4.6–4.8 s for a9/a12 at sf0.1
    * same-boot), with a9 as the exactness gate. The md5 k-minima are a
    * pure function of the data, so the DuckDB oracle reproduces
    * sketch and estimate EXACTLY (the t4 property) — and when a
    * column has fewer than k distinct values the sketch IS the
    * distinct set and the "estimate" is exact (5 of these 8 columns
    * at gate scale). ProfilerSketchSpec pins the Expand absence in
    * the executed plan (and its presence in a9's), exactness below k,
    * and the estimate error vs a9's exact counts above k.
    */
  val a12ColumnProfileSketch = QueryDef("a12_column_profile_sketch",
    (s, dir) => {
      val li = tw(s, dir, "lineitem", "l_orderkey", "l_linenumber")
      val cols = profileCols
      val k = 256
      val sk = udaf(graft.sketch.Sketch.KmvAggregator(k))
      val aggs = cols.flatMap(c => Seq(
        count(col(c)).as(s"${c}__nn"),
        sk(graft.sketch.Sketch.hash40(col(c))).as(s"${c}__sk"),
        min(col(c)).cast("double").as(s"${c}__mn"),
        max(col(c)).cast("double").as(s"${c}__mx"))) :+
        count(lit(1)).as("__n")
      val row = li.agg(aggs.head, aggs.tail: _*)
      val est = cols.foldLeft(row)((df, c) => df.withColumn(s"${c}__nd",
        when(size(col(s"${c}__sk")) < k, size(col(s"${c}__sk")).cast("long"))
          .otherwise(expr(
            s"${(k - 1).toLong * graft.sketch.Sketch.HashSpace}L" +
              s" DIV element_at(${c}__sk, $k)"))))
      est.select(expr("stack(" + cols.size + ", " +
          cols.map(c => s"'$c', ${c}__nn, ${c}__nd, ${c}__mn, ${c}__mx")
            .mkString(", ") +
          ") as (column_name, n_nonnull, n_distinct_est, min_v, max_v)"),
          col("__n").as("n_rows"))
        .orderBy(col("column_name"))
    },
    Some(s"""
      |${profileCols.map(c =>
          s"""${profileLegSql(c, "k")}
             |CROSS JOIN (
             |  SELECT ${kmv256EstSql("nd")}
             |  FROM (
             |    ${kmv256MinimaSql(c)})) k""".stripMargin)
        .mkString("\nUNION ALL\n")}
      |ORDER BY column_name
      |""".stripMargin))

  /** A15 — the HLL column profiler that makes the SKETCHED path the
    * CHEAP path (a12's charter, unmet by its typed-UDAF shape): the
    * same per-column completeness / cardinality / range statistics
    * with per-column distinct estimated from HyperLogLog registers
    * ([[graft.sketch.Sketch.hllRegistersByGroup]]'s cells) — and the
    * whole thing is PLAIN HASH AGGREGATES. a9's exact multi-distinct
    * rides an 8-way `Expand` (8× the scan rows into partials); a12's
    * KMV `udaf` drops the aggregate into `ObjectHashAggregate` (out of
    * whole-stage codegen, 8 sorted-buffer inserts per row). Here each
    * column is one union leg: a column-pruned scan → `groupBy(bucket)`
    * of ≤257 groups computing `max(rho)` AND the leg's count/min/max
    * in the same codegen'd aggregate, then a 1-row fold applying the
    * small-range-corrected estimator
    * ([[graft.sketch.Sketch.hllEstimateSql]] — raw harmonic above
    * 2.5·m, the compile-time [[graft.sketch.Sketch.HllLinearCount]]
    * table below it, so the tiny columns get near-exact answers
    * instead of the raw regime's ~184 floor). Map-side combine
    * collapses every partition to ≤257 cells, so at 100 TB each leg
    * ships a few kilobytes per task and the unioned job reads each
    * parquet column exactly once — no Expand, no ObjectHashAggregate,
    * no row fan-out of any kind (ProfilerSketchSpec pins all three in
    * the executed plan). The md5 registers are a pure function of the
    * data, so the DuckDB oracle reproduces every register and the
    * estimate bit-exactly; a9 stays the exactness gate and a12 the
    * KMV-sketch gate (its k-minima feed the t4/a13/a14 store format).
    */
  val a15ColumnProfileHll = QueryDef("a15_column_profile_hll",
    (s, dir) => {
      // NOT widened (r15 measured negative): a checkpointed/repartitioned
      // shared frame loses per-leg parquet column pruning (every leg
      // would read all 8 columns), and the 8 one-task leg scans already
      // overlap as independent stages of one job
      val li = t(s, dir, "lineitem")
      val cols = profileCols
      def leg(c: String) = {
        val h = graft.sketch.Sketch.hash40(col(c))
        val rest = h.bitwiseAND(lit((1L << 32) - 1))
        li.select(col(c),
            shiftright(h, 32).as("bucket"),
            when(rest === 0L, lit(33))
              .otherwise(lit(33) - length(bin(rest))).as("rho"))
          .groupBy(col("bucket"))
          .agg(max(col("rho")).as("r"), count(col(c)).as("nn"),
            min(col(c)).as("mn"), max(col(c)).as("mx"),
            count(lit(1)).as("cnt"))
          .agg(
            coalesce(sum(col("nn")), lit(0L)).as("n_nonnull"),
            min(col("mn")).cast("double").as("min_v"),
            max(col("mx")).cast("double").as("max_v"),
            coalesce(sum(col("cnt")), lit(0L)).as("n_rows"),
            sum(expr("shiftleft(cast(1 as bigint), cast(33 - r as int))"))
              .as("s_ne"),
            count(col("r")).as("ne"))
          .select(lit(c).as("column_name"), col("n_nonnull"),
            expr("CAST(" + graft.sketch.Sketch
              .hllEstimateSql("s_ne", "ne", spark = true) +
              " AS BIGINT)").as("n_distinct_est"),
            col("min_v"), col("max_v"), col("n_rows"))
      }
      cols.map(leg).reduce(_.unionByName(_)).orderBy(col("column_name"))
    },
    Some(s"""
      |${profileCols.map(c =>
          s"""${profileLegSql(c, "e")}
             |CROSS JOIN (
             |  SELECT CAST(${graft.sketch.Sketch
                  .hllEstimateSql("s_ne", "ne", spark = false)
                  .replace("\n", "\n             |        ")}
             |    AS BIGINT) AS nd
             |  FROM (
             |    SELECT SUM(1::BIGINT << (33 - r)) AS s_ne,
             |           COUNT(*) AS ne
             |    FROM (
             |      SELECT hh >> 32 AS bucket,
             |             MAX(CASE WHEN (hh & 4294967295) = 0 THEN 33
             |                 ELSE 33 - length(bin(hh & 4294967295))
             |                 END) AS r
             |      FROM (SELECT CAST('0x' ||
             |                substr(md5(CAST($c AS VARCHAR)), 1, 10)
             |                AS BIGINT) AS hh
             |            FROM lineitem WHERE $c IS NOT NULL)
             |      GROUP BY 1))) e""".stripMargin)
        .mkString("\nUNION ALL\n")}
      |ORDER BY column_name
      |""".stripMargin))

  /** Session-memoized ACCRETED HLL register store for a16 (the s18/d21
    * accretion stance): bootstrap write of one third of documents, two
    * sequential appends through the stored meta, AND batch 1 appended a
    * SECOND time — the at-least-once-ingest replay that a register
    * store must absorb for free (cell-wise max is idempotent). The gate
    * therefore proves accretion ≡ one-shot AND replay-idempotence in
    * one oracle row.
    */
  private def hllStoreDir(s: SparkSession, dir: String): String =
    SessionViews(s, dir, "hll") {
      val path = TempStores.dir("graft-hllstore") + "/hidx"
      val docs = t(s, dir, "documents")
      graft.sketch.HllStore.write(docs.filter(col("doc_id") % 3 === 0),
        Seq("source"), "text", path)
      graft.sketch.HllStore.append(docs.filter(col("doc_id") % 3 === 1),
        path)
      graft.sketch.HllStore.append(docs.filter(col("doc_id") % 3 === 2),
        path)
      // the replayed batch: at-least-once ingest, must change nothing
      graft.sketch.HllStore.append(docs.filter(col("doc_id") % 3 === 1),
        path)
      path
    }

  /** A16 — accreted HLL register store ([[graft.sketch.HllStore]]): the
    * a15 profiler's registers PERSISTED per source so incremental
    * profile updates merge by cell-wise max instead of rescanning
    * history — the 100 TB profiler's natural next step. The store is
    * built by bootstrap + two appends + one REPLAYED append (the
    * at-least-once ingest case); the oracle is STORE-FREE: it computes
    * the per-source estimate one-shot from the raw documents table with
    * the shared exact-integer estimator, so a dropped append, a
    * mis-merged register, a replay that double-counts, or meta drift
    * all hash-mismatch while the oracle stands still.
    */
  val a16HllRegisterStore = QueryDef("a16_hll_register_store",
    (s, dir) => graft.sketch.HllStore.estimate(s, hllStoreDir(s, dir))
      .orderBy(col("source")),
    Some(s"""
      |WITH h AS (
      |  SELECT source,
      |         CAST('0x' || substr(md5(CAST(text AS VARCHAR)), 1, 10)
      |              AS BIGINT) AS hh
      |  FROM documents WHERE text IS NOT NULL),
      |rg AS (
      |  SELECT source, hh >> 32 AS bucket,
      |         MAX(CASE WHEN (hh & 4294967295) = 0 THEN 33
      |             ELSE 33 - length(bin(hh & 4294967295)) END) AS r
      |  FROM h GROUP BY 1, 2),
      |agg AS (
      |  SELECT source, SUM(1::BIGINT << (33 - r)) AS s_ne,
      |         COUNT(*) AS ne
      |  FROM rg GROUP BY 1)
      |SELECT source,
      |       CAST(${graft.sketch.Sketch
                 .hllEstimateSql("s_ne", "ne", spark = false)
                 .replace("\n", "\n      |      ")}
      |         AS BIGINT) AS n_distinct_est,
      |       CAST(ne AS BIGINT) AS sketch_size
      |FROM agg ORDER BY source
      |""".stripMargin))

  /** Session-memoized ACCRETED KMV minima store for a17 — the a12
    * profiler's columns through the store: bootstrap write of one
    * order-key third of lineitem (UNPIVOTED to (column_name, val) —
    * the ×8 fan-out happens ONCE per batch at WRITE, where it is a
    * per-batch increment, not per profiling run), two sequential
    * appends through the stored meta, AND batch 1 appended a SECOND
    * time — the at-least-once replay the distinct-union algebra must
    * absorb for free.
    */
  private def kmvStoreDir(s: SparkSession, dir: String): String =
    SessionViews(s, dir, "kmv") {
      val path = TempStores.dir("graft-kmvstore") + "/kidx"
      val li = t(s, dir, "lineitem")
      // cast-to-string BEFORE the stack: hash40's own cast of the
      // raw column hashes the identical rendering, so the store's
      // minima are bit-equal to a12's per-column k-minima
      def unpivot(df: org.apache.spark.sql.DataFrame) =
        df.select(expr("stack(" + profileCols.size + ", " +
          profileCols.map(c => s"'$c', cast($c as string)")
            .mkString(", ") + ") as (column_name, val)"))
      graft.sketch.KmvStore.write(unpivot(li.filter(col("l_orderkey") % 3 === 0)),
        Seq("column_name"), "val", 256, path)
      graft.sketch.KmvStore.append(unpivot(li.filter(col("l_orderkey") % 3 === 1)),
        path)
      graft.sketch.KmvStore.append(unpivot(li.filter(col("l_orderkey") % 3 === 2)),
        path)
      // the replayed batch: at-least-once ingest, must change nothing
      graft.sketch.KmvStore.append(unpivot(li.filter(col("l_orderkey") % 3 === 1)),
        path)
      path
    }

  /** A17 — accreted KMV minima store ([[graft.sketch.KmvStore]]): the
    * a12 sketch profiler's k-minima PERSISTED per column so
    * incremental profile updates merge by distinct-union + k-minima
    * cut instead of rescanning history — the store format a12's
    * scaladoc charters, given the a16 treatment (append-only log,
    * `_meta` sidecar, crash-safe compaction with straggler rescue).
    * The store is built by bootstrap + two appends + one REPLAYED
    * append; the oracle is STORE-FREE: it computes each column's KMV
    * estimate one-shot from the raw lineitem table with the shared
    * exact-integer Bar-Yossef estimator, so a dropped append, a
    * mis-cut minima set, a replay that double-counts, or meta drift
    * all hash-mismatch while the oracle stands still.
    */
  val a17KmvMinimaStore = QueryDef("a17_kmv_minima_store",
    (s, dir) => graft.sketch.KmvStore.estimate(s, kmvStoreDir(s, dir))
      .orderBy(col("column_name")),
    Some(s"""
      |${profileCols.map(c =>
        s"""SELECT '$c' AS column_name,
           |       ${kmv256EstSql("n_distinct_est")},
           |       CAST(COUNT(*) AS BIGINT) AS sketch_size
           |FROM (
           |  ${kmv256MinimaSql(c)})""".stripMargin)
        .mkString("\nUNION ALL\n")}
      |ORDER BY column_name
      |""".stripMargin))

  /** Session-memoized ACCRETED CMS frequency store for a18 — per-source
    * token grids through the store whose merge algebra (cell-wise SUM)
    * is NOT idempotent, the taxonomy's forking point: bootstrap write,
    * one append, a COMPACTION (folding b0+b1 into one tagged grid —
    * the fold's own tag is the ledger), a post-fold append, and then a
    * replay of the FOLDED batch b1 — the at-least-once case a sum
    * store must drop via the tag, since re-summing would double-count.
    */
  private def cmsStoreDir(s: SparkSession, dir: String): String =
    SessionViews(s, dir, "cms") {
      val path = TempStores.dir("graft-cmsstore") + "/cidx"
      def toks(m: Long) = t(s, dir, "documents")
        .filter(col("doc_id") % 3 === m)
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
      graft.sketch.CmsStore.write(toks(0), Seq("source"), "token",
        4, 512, "b0", path)
      graft.sketch.CmsStore.append(toks(1), "b1", path)
      // fold b0+b1: the folded grid's tag (F:b0,b1) IS the ledger
      graft.sketch.CmsStore.compact(s, path)
      graft.sketch.CmsStore.append(toks(2), "b2", path)
      // the replayed FOLDED batch: must be dropped by the tag —
      // sum-merge would double-count it, unlike a16/a17's algebras
      graft.sketch.CmsStore.append(toks(1), "b1", path)
      path
    }

  /** A18 — accreted CMS frequency store ([[graft.sketch.CmsStore]]):
    * the t14 Count-Min grid PERSISTED per source so incremental
    * frequency estimates merge by tagged-grid sum instead of
    * rescanning history — and the store-taxonomy member that PROVES
    * the exactly-once story where the algebra alone cannot: sum is not
    * idempotent, so replay absorption comes from the batch tag
    * (distinct-union of tagged grids) and fold-coverage from the
    * folded grid's own tag. The store is built by bootstrap + append +
    * COMPACT + post-fold append + one REPLAYED folded batch; the
    * oracle is STORE-FREE: it rebuilds the per-source grid one-shot
    * from raw documents and answers the same top-10 probes, so a
    * double-counted replay, a dropped straggler, a mis-folded grid, or
    * meta drift all hash-mismatch while the oracle stands still.
    * Output: per (source, global-top-10 token) exact count vs CMS
    * estimate — rows where the estimate is pure collision mass carry
    * exact_n = 0, the CMS contract made visible.
    */
  val a18CmsFreqStore = QueryDef("a18_cms_freq_store",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
      // one materialization: the 10-row probe frame feeds both the
      // store estimate's fan-out and the exact side's broadcast join —
      // without it each use re-aggregates the corpus
      val probes = toks.groupBy(col("token"))
        .agg(count(lit(1)).as("__n"))
        .orderBy(col("__n").desc, col("token")).limit(10)
        .select(col("token"))
        .localCheckpoint(eager = false)
      val cms = graft.sketch.CmsStore.estimate(s, cmsStoreDir(s, dir),
        probes)
      val exact = toks.join(broadcast(probes), "token")
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("exact_n"))
      cms.join(exact, Seq("source", "token"), "left")
        .select(col("source"), col("token"),
          coalesce(col("exact_n"), lit(0L)).as("exact_n"),
          col("cms_n"))
        .orderBy(col("source"), col("token"))
    },
    Some(s"""
      |WITH $tokSql,
      |tok2 AS (SELECT source, unnest(tk) AS token FROM toks),
      |ex AS (
      |  SELECT token, COUNT(*) AS n FROM tok2
      |  GROUP BY token ORDER BY n DESC, token LIMIT 10),
      |$cmsCellsSql,
      |probe AS (
      |  SELECT token, r,
      |         CAST('0x' || substr(md5(r || ':' || token), 1, 10)
      |              AS BIGINT) % 512 AS bucket
      |  FROM ex CROSS JOIN rr),
      |cms AS (
      |  SELECT c.source, p.token, MIN(c.cnt) AS cms_n
      |  FROM probe p JOIN cells c USING (r, bucket)
      |  GROUP BY 1, 2),
      |exs AS (
      |  SELECT source, token, COUNT(*) AS exact_n FROM tok2
      |  WHERE token IN (SELECT token FROM ex) GROUP BY 1, 2)
      |SELECT cms.source, cms.token,
      |       CAST(COALESCE(exs.exact_n, 0) AS BIGINT) AS exact_n,
      |       CAST(cms.cms_n AS BIGINT) AS cms_n
      |FROM cms LEFT JOIN exs
      |  ON cms.source = exs.source AND cms.token = exs.token
      |ORDER BY cms.source, cms.token
      |""".stripMargin))

  /** A19 — join-cardinality estimation served FROM the accreted store
    * ([[graft.sketch.CmsStore.pairwiseJoinSizes]]): a10 proved the
    * AMS/Count-Min inner-product estimator cell-exactly for one source
    * pair built from a rescan; a19 answers EVERY source pair from the
    * a18 store's merged grid — the same accreted object now serving
    * optimizer statistics (join reordering and broadcast decisions
    * need |A ⋈ B| before running the join) without touching the
    * corpus again. Same (depth 4, width 512) parameters as a10, so
    * the numbers are directly comparable; the per-pair min runs over
    * a full depth-row spine (the zero-certificate discipline), and
    * over_ppm makes the estimator's upper-bound slack visible next to
    * the exact Σ c_A·c_B. The oracle is STORE-FREE: per-source grids
    * and exact products rebuilt one-shot from raw documents — a
    * store whose accretion, replay-drop, or fold drifted by one cell
    * hash-mismatches every pair that cell touches.
    */
  val a19CmsJoinStore = QueryDef("a19_cms_join_store",
    (s, dir) => {
      val est = graft.sketch.CmsStore.pairwiseJoinSizes(s,
        cmsStoreDir(s, dir))
      // vocab-sized frame feeding BOTH exact-join sides — materialize
      // once so the corpus token fan-out runs a single time
      val tc = t(s, dir, "documents")
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("__c"))
        .localCheckpoint(eager = false)
      val ea = tc.select(col("source").as("source_a"), col("token"),
        col("__c").as("__ca"))
      val eb = tc.select(col("source").as("source_b"), col("token"),
        col("__c").as("__cb"))
      val exact = ea.join(eb, "token")
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(sum(col("__ca") * col("__cb")).as("exact_join_n"))
      est.join(exact, Seq("source_a", "source_b"), "left")
        .select(col("source_a"), col("source_b"),
          coalesce(col("exact_join_n"), lit(0L)).as("exact_join_n"),
          col("cms_join_n"))
        .withColumn("over_ppm", expr(
          "(cms_join_n - exact_join_n) * 1000000 div " +
            "greatest(exact_join_n, 1L)"))
        .orderBy(col("source_a"), col("source_b"))
    },
    Some(s"""
      |WITH $tokSql,
      |tok2 AS (SELECT source, unnest(tk) AS token FROM toks),
      |$cmsCellsSql,
      |pr AS (
      |  SELECT a.source AS sa, b.source AS sb, r,
      |         SUM(a.cnt * b.cnt) AS est
      |  FROM cells a JOIN cells b USING (r, bucket)
      |  WHERE a.source < b.source GROUP BY 1, 2, 3),
      |srcs AS (SELECT DISTINCT source FROM documents),
      |spine AS (
      |  SELECT a.source AS sa, b.source AS sb, r
      |  FROM srcs a CROSS JOIN srcs b CROSS JOIN rr
      |  WHERE a.source < b.source),
      |cms AS (
      |  SELECT sa, sb, MIN(COALESCE(est, 0)) AS cms_join_n
      |  FROM spine LEFT JOIN pr USING (sa, sb, r) GROUP BY 1, 2),
      |tc AS (SELECT source, token, COUNT(*) AS c FROM tok2 GROUP BY 1, 2),
      |exj AS (
      |  SELECT a.source AS sa, b.source AS sb, SUM(a.c * b.c) AS n
      |  FROM tc a JOIN tc b USING (token)
      |  WHERE a.source < b.source GROUP BY 1, 2)
      |SELECT cms.sa AS source_a, cms.sb AS source_b,
      |       CAST(COALESCE(exj.n, 0) AS BIGINT) AS exact_join_n,
      |       CAST(cms.cms_join_n AS BIGINT) AS cms_join_n,
      |       CAST((cms.cms_join_n - COALESCE(exj.n, 0)) * 1000000
      |            // GREATEST(COALESCE(exj.n, 0), 1) AS BIGINT) AS over_ppm
      |FROM cms LEFT JOIN exj ON cms.sa = exj.sa AND cms.sb = exj.sb
      |ORDER BY source_a, source_b
      |""".stripMargin))

  /** T54 — normalization-lift dedup accounting: exact dedup run twice,
    * on the raw content hash and on the [[TextAnalysis.canonicalText]]
    * hash (lowercase, punctuation strip, whitespace collapse), with the
    * per-source LIFT — duplicate groups only the canonical form can see.
    * Re-crawls of one page differ overwhelmingly in case/padding/
    * punctuation rendering, so this is the cheapest recall win in the
    * dedup ladder: scan-stage normalization, exact-dedup cost, no
    * near-dup machinery. A planted re-crawl tier (every 7th doc
    * re-ingested with case flipped and padding added) gives the lift a
    * nonzero, exactly-predictable value the oracle confirms. Plan: the
    * two distinct-counts run as TWO-LEVEL aggregations — (source, hash)
    * pre-aggregate with map-side combine, then per-source counts —
    * never a multi-countDistinct expand (the a9 lesson: an expand
    * doubles scan rows into the partials; two narrow hash aggregations
    * shuffle only distinct hashes).
    */
  val t54NormalizeDedup = QueryDef("t54_normalize_dedup",
    (s, dir) => {
      // id-range guard: re-crawl ids live at doc_id + 10⁷ — base docs
      // must stay below the offset or planted ids collide with real
      // ones (no-op at every gate scale; documented bound otherwise)
      val docs = t(s, dir, "documents").select("doc_id", "text", "source")
        .filter(col("doc_id") < 10000000L)
      val aug = docs.unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit("   ")).as("text"),
          col("source")))
      def dedupCensus(h: org.apache.spark.sql.Column, nm: String) =
        aug.groupBy(col("source"), h.as("__h"))
          .agg(count(lit(1)).as("__c"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as(s"__nd_$nm"), sum(col("__c")).as(s"__n_$nm"))
      val raw = dedupCensus(TextAnalysis.contentHash(col("text")), "raw")
      val can = dedupCensus(
        TextAnalysis.contentHash(TextAnalysis.canonicalText(col("text"))),
        "canon")
      raw.join(can, "source")
        .select(col("source"),
          col("__n_raw").as("n_docs"),
          (col("__n_raw") - col("__nd_raw")).as("dup_raw"),
          (col("__n_canon") - col("__nd_canon")).as("dup_canon"),
          (col("__nd_raw") - col("__nd_canon")).as("lift"),
          expr("(__nd_raw - __nd_canon) * 1000000 div __n_raw")
            .as("lift_ppm"))
        .orderBy(col("source"))
    },
    Some("""
      |WITH aug AS (
      |  SELECT doc_id, text, source FROM documents WHERE doc_id < 10000000
      |  UNION ALL
      |  SELECT doc_id + 10000000, '  ' || upper(text) || '   ', source
      |  FROM documents WHERE doc_id % 7 = 0 AND doc_id < 10000000),
      |cn AS (
      |  SELECT source, md5(text) AS hraw,
      |         md5(trim(regexp_replace(translate(lower(text),
      |               '.,;:!?"''()[]', ''), '\s+', ' ', 'g'))) AS hcan
      |  FROM aug),
      |r AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(COUNT(DISTINCT hraw) AS BIGINT) AS ndr,
      |         CAST(COUNT(DISTINCT hcan) AS BIGINT) AS ndc
      |  FROM cn GROUP BY 1)
      |SELECT source, n AS n_docs, n - ndr AS dup_raw, n - ndc AS dup_canon,
      |       ndr - ndc AS lift,
      |       CAST((ndr - ndc) * 1000000 // n AS BIGINT) AS lift_ppm
      |FROM r ORDER BY source
      |""".stripMargin))

  /** T55 — per-source lexical-diversity census
    * ([[graft.text.Diversity.tokenDiversity]]): type–token ratio,
    * Simpson concentration, heaviest-token share, and mean unigram
    * surprisal (t25's dampened-log convention), all exact integers.
    * The mixture planner's upstream health check: a source whose
    * scraper looped or whose extractor collapsed to boilerplate shows a
    * diversity cliff (TTR down, Simpson/top-share up) before exact
    * dedup prices the damage. One (source, token) shuffle with map-side
    * combine; the group-totals join is a broadcast of |sources| rows;
    * c(c−1)/N(N−1) products are decimal(38,0)-widened (HUGEINT on the
    * oracle side) — trillion-token groups wrap a raw long product.
    */
  val t55SourceDiversity = QueryDef("t55_source_diversity",
    (s, dir) => graft.text.Diversity
      .tokenDiversity(t(s, dir, "documents"), "source", "text")
      .orderBy(col("source")),
    Some(s"""
      |WITH $tokSql,
      |tok AS (SELECT source, unnest(tk) AS token FROM toks),
      |ct AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM tok GROUP BY 1, 2),
      |tt AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n,
      |              CAST(COUNT(*) AS BIGINT) AS v
      |       FROM ct GROUP BY 1),
      |j AS (SELECT ct.source, c, n, v,
      |             CAST(length(bin(n // c)) AS BIGINT) AS surp
      |      FROM ct JOIN tt USING (source)),
      |fin AS (SELECT source, MAX(n) AS n_tokens, MAX(v) AS vocab,
      |               MAX(c) AS maxc,
      |               SUM(CAST(c AS HUGEINT) * (c - 1)) AS coin,
      |               CAST(SUM(c * surp) AS BIGINT) AS bits
      |        FROM j GROUP BY 1)
      |SELECT source, n_tokens, vocab,
      |       CAST(CAST(vocab AS HUGEINT) * 1000000 // GREATEST(n_tokens, 1)
      |            AS BIGINT) AS ttr_ppm,
      |       CAST(coin * 1000000
      |            // GREATEST(CAST(n_tokens AS HUGEINT) * (n_tokens - 1), 1)
      |            AS BIGINT) AS simpson_ppm,
      |       CAST(CAST(maxc AS HUGEINT) * 1000000 // GREATEST(n_tokens, 1)
      |            AS BIGINT) AS top_share_ppm,
      |       CAST(bits * 1000 // GREATEST(n_tokens, 1) AS BIGINT)
      |         AS mean_bits_milli
      |FROM fin ORDER BY source
      |""".stripMargin))

  /** T53 — trained NB language-ID confusion audit: a multinomial Naive
    * Bayes classifier ([[graft.text.NbLang]], hashed-bucket counts +
    * Laplace smoothing + class prior, all in the integer surprisal
    * convention) is FIT on an 80% md5 split of the corpus's own labels
    * and audited on the 20% holdout as a per-(label, prediction)
    * confusion matrix — t52's question ("can sampling stratify on a
    * predicted lang?") asked of a trained model instead of the fixed
    * stopword vote. TWO audit tiers gate together: 'organic' — the
    * corpus as-is, where the honest measured finding is that the
    * generator draws every label's text from one shared vocabulary, so
    * even the fit model is prior-dominated (accuracy ≈ the majority
    * class) — and 'planted', a re-ingest tier (every 11th doc, new id,
    * 8 lang-marker tokens appended) where signal EXISTS by
    * construction and the same model must route it: planted-tier
    * accuracy is ~100%, proving the operator separates what is
    * separable and the organic matrix reports a property of the DATA,
    * not a broken classifier. Training is one (label, bucket) shuffle
    * into a ≤|labels|·1024-row broadcast model; scoring is a broadcast
    * join + grouped argmin, linear in holdout tokens.
    *
    * Featurization is TOKEN-ONLY by decision, not omission: round 13
    * ran the char-3-gram variant ([[graft.text.NbLang.tokenCharFeatures]],
    * still shipped and spec-tested) through this exact gate and measured
    * ZERO organic lift at sf1 (20.3% ≡ the 20.4% majority share; sf0.01
    * was WORSE — marker-gram dilution) at 12.7× the bench cost. The
    * featurizer, the NbLangSpec morphology test, and the recorded
    * negative stay; the per-round 18 s price does not (round-14 revert,
    * the r13 verdict's #1 ask).
    */
  val t53NbLangConfusion = QueryDef("t53_nb_lang_confusion",
    (s, dir) => {
      // id-range guard: the planted tier lives at doc_id + 2·10⁷ and
      // the tier CLASSIFIER is `doc_id >= 2·10⁷`, so base docs must
      // stay below the offset — a corpus whose ids crossed it would
      // silently mislabel organic docs as planted AND collide planted
      // ids with real ones. No-op at every gate scale; documented
      // domain bound at any other.
      val docs0 = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
        .filter(col("doc_id") < 20000000L)
      val docs = docs0.unionByName(docs0.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"), col("lang"),
          concat(col("text"),
            repeat(concat(lit(" tokmark_"), col("lang")), 8)).as("text")))
      val u = graft.sampling.Sampling.hashUniformPpm(col("doc_id"), "nb")
      // EXPLICIT width before the shared checkpoint (r16): the docs scan
      // is 1-2 tasks at gate scale and the checkpoint FREEZES that
      // width, so both downstream tokenize+md5-bucket passes (train
      // counts and holdout scoring, the query's CPU mass — StageProfile:
      // ~1.6 s CPU on 2 tasks) inherited it. One keyed pre-exchange of
      // the raw text at engine width (guide §2.5) feeds both passes.
      val w53 = s.conf.get("spark.sql.shuffle.partitions").toInt
      val tagged = docs.repartition(w53, col("doc_id"))
        .withColumn("__train", u < 800000L)
        .localCheckpoint(eager = false) // train fit + holdout score
      val train = tagged.filter(col("__train"))
      val hold = tagged.filter(!col("__train"))
      val counts = graft.text.NbLang.trainCounts(train, "lang", "text", 1024)
        .localCheckpoint(eager = false) // label totals + scoring join
      val labels = graft.text.NbLang.labelStats(train, "lang", counts)
      val pred = graft.text.NbLang
        .predict(hold, "doc_id", "text", counts, labels, 1024)
      val ct = hold.select("doc_id", "lang").join(pred, "doc_id")
        .withColumn("tier", when(col("doc_id") >= 20000000L, "planted")
          .otherwise("organic"))
        .groupBy(col("tier"), col("lang"), col("pred"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(eager = false) // matrix + label totals share it:
        // without the cut both branches re-run the whole NB scoring
      val tot = ct.groupBy(col("tier"), col("lang"))
        .agg(sum(col("n")).as("t"))
      ct.join(tot, Seq("tier", "lang"))
        .select(col("tier"), col("lang"), col("pred").as("pred_lang"),
          col("n"), expr("n * 1000000 div t").as("share_ppm"))
        .orderBy(col("tier"), col("lang"), col("pred_lang"))
    },
    Some(s"""
      |WITH aug AS (
      |  SELECT doc_id, lang, text FROM documents WHERE doc_id < 20000000
      |  UNION ALL
      |  SELECT doc_id + 20000000, lang,
      |         text || repeat(' tokmark_' || lang, 8)
      |  FROM documents WHERE doc_id % 11 = 0 AND doc_id < 20000000),
      |toksa AS (
      |  SELECT doc_id, lang,
      |         list_filter(regexp_split_to_array(trim(text), '\\s+'),
      |                     x -> x <> '') AS tk
      |  FROM aug),
      |sp AS (
      |  SELECT doc_id,
      |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|nb'),
      |              1, 15) AS BIGINT) % 1000000 < 800000 AS is_train
      |  FROM aug),
      |bk AS (
      |  SELECT t.doc_id, t.lang,
      |         CAST('0x' || substr(md5('nb-' || token), 1, 15) AS BIGINT)
      |           % 1024 AS bucket
      |  FROM (SELECT doc_id, lang, unnest(tk) AS token FROM toksa) t),
      |trc AS (SELECT lang AS label, bucket, CAST(COUNT(*) AS BIGINT) AS c
      |        FROM bk JOIN sp USING (doc_id) WHERE is_train GROUP BY 1, 2),
      |lab0 AS (SELECT a.lang AS label, CAST(COUNT(*) AS BIGINT) AS p
      |         FROM aug a JOIN sp USING (doc_id) WHERE is_train
      |         GROUP BY 1),
      |tls AS (SELECT label, CAST(SUM(c) AS BIGINT) AS t FROM trc GROUP BY 1),
      |dl AS (SELECT CAST(SUM(p) AS BIGINT) AS d,
      |              CAST(COUNT(*) AS BIGINT) AS l FROM lab0),
      |lab AS (SELECT label, p, coalesce(t, 0) AS t,
      |               CAST(length(bin((d + l) // (p + 1))) AS BIGINT)
      |                 AS prior_surp
      |        FROM lab0 LEFT JOIN tls USING (label), dl),
      |pdb AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS k
      |        FROM bk JOIN sp USING (doc_id) WHERE NOT is_train
      |        GROUP BY 1, 2),
      |sc AS (SELECT pdb.doc_id, lab.label,
      |              CAST(SUM(k * length(bin(
      |                  (t + 1024) // (coalesce(c, 0) + 1)))) AS BIGINT)
      |                + MAX(prior_surp) AS bits
      |       FROM pdb CROSS JOIN lab
      |       LEFT JOIN trc ON trc.label = lab.label
      |                    AND trc.bucket = pdb.bucket
      |       GROUP BY 1, 2),
      |pr AS (SELECT doc_id, label AS pred FROM sc
      |       QUALIFY row_number()
      |         OVER (PARTITION BY doc_id ORDER BY bits, label) = 1),
      |fb AS (SELECT label AS fbl FROM lab
      |       QUALIFY row_number() OVER (ORDER BY prior_surp, label) = 1),
      |hv AS (SELECT a.doc_id, a.lang FROM aug a JOIN sp USING (doc_id)
      |       WHERE NOT is_train),
      |fin AS (SELECT CASE WHEN hv.doc_id >= 20000000 THEN 'planted'
      |                    ELSE 'organic' END AS tier,
      |               hv.lang, coalesce(pr.pred, fb.fbl) AS pred_lang
      |        FROM hv LEFT JOIN pr USING (doc_id), fb),
      |ct AS (SELECT tier, lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
      |       FROM fin GROUP BY 1, 2, 3),
      |tot AS (SELECT tier, lang, CAST(SUM(n) AS BIGINT) AS t
      |        FROM ct GROUP BY 1, 2)
      |SELECT ct.tier, ct.lang, ct.pred_lang, ct.n,
      |       CAST(ct.n * 1000000 // tot.t AS BIGINT) AS share_ppm
      |FROM ct JOIN tot USING (tier, lang)
      |ORDER BY tier, lang, pred_lang
      |""".stripMargin))

  /** T56 — the decontaminated split ARTIFACT: s21 detects cross-split
    * leakage; this emits what a training run actually consumes — the
    * repaired assignment. Every train document confirmed (exact
    * integer cosine ≥ 0.4, [[Similarity.exactNearPairsAsym]] — recall
    * 10⁶ ppm by construction, the property that matters when a miss is
    * a contaminated benchmark) against ANY eval/val document moves to
    * 'quarantine'; eval/val rows are the protected assets and never
    * move. Quarantine-not-delete is deliberate: the ledger of what was
    * pulled and why is itself an audit artifact (t16's funnel stance).
    * Plan: s21's broadcast-eval linear corpus scan, then one id-keyed
    * left join to relabel — no new shuffle shape beyond s21's.
    */
  val t56DecontaminatedSplit = QueryDef("t56_decontaminated_split",
    (s, dir) => {
      val emb = plantedEmbeddings(s, dir)
      val split = emb.select(col("vec_id"), splitLabel("vec_id").as("split"))
        .localCheckpoint(eager = false) // eval filter + relabel join
      val evalSide = emb.join(
        split.filter(col("split") =!= "train").select("vec_id"), "vec_id")
      val leaked = Similarity
        .exactNearPairsAsym(evalSide, emb, "vec_id", "embedding", 400000L)
        .join(split.select(col("vec_id").as("corpus_id"),
          col("split").as("__cs")), "corpus_id")
        .filter(col("__cs") === "train")
        .select(col("corpus_id").as("vec_id")).distinct()
        .withColumn("__leak", lit(1))
      split.join(leaked, Seq("vec_id"), "left")
        .select(col("vec_id"), col("split"),
          when(col("__leak").isNotNull, "quarantine")
            .otherwise(col("split")).as("final_split"))
        .orderBy(col("vec_id"))
    },
    Some(s"""
      |WITH $plantedEvalSql,
      |lk AS (
      |  SELECT DISTINCT cid AS vec_id FROM (
      |    SELECT c.vec_id AS cid, ${dotSql("e.qv", "c.qv")} AS dot,
      |           e.nsq AS n1, c.nsq AS n2
      |    FROM ev e JOIN nn c ON e.vec_id <> c.vec_id
      |    JOIN sp sc ON sc.vec_id = c.vec_id AND sc.split = 'train') p
      |  WHERE dot > 0
      |    AND CAST(dot AS HUGEINT) * dot * 1000000 * 1000000
      |        >= CAST(n1 AS HUGEINT) * n2 * 400000 * 400000)
      |SELECT sp.vec_id, sp.split,
      |       CASE WHEN lk.vec_id IS NOT NULL THEN 'quarantine'
      |            ELSE sp.split END AS final_split
      |FROM sp LEFT JOIN lk USING (vec_id)
      |ORDER BY vec_id
      |""".stripMargin))

  /** A13 — sketched cross-source overlap matrix
    * ([[graft.sketch.Sketch.kmvOverlapMatrix]]): union, intersection,
    * and Jaccard estimates for every source pair from per-source KMV
    * sketches of the 3-gram shingle space, next to the exact counts and
    * the union error — the a12-vs-a9 story applied to t29: the exact
    * overlap join shuffles every distinct gram; the sketch ships ≤k
    * longs per (source, partition) and the pair math runs on a
    * broadcast kilobyte frame. At 100 TB you run ONLY the sketch side
    * (mergeable across ingest batches, t26-style); the exact side here
    * is the error audit that prices the trade. Estimates and exacts
    * both live on the 40-bit HASH space (like-for-like: what KMV
    * actually estimates), and the error surfaces as |err| ppm plus a
    * signed raw difference — a signed ppm would hit the Spark-div vs
    * DuckDB-floor divergence on negatives (the s23 lesson).
    */
  val a13KmvOverlap = QueryDef("a13_kmv_overlap",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val rows = Dedup
        .positionalShingleRows(docs, "doc_id", "text", 3,
          carry = Seq("source"))
        .select(col("source"), graft.sketch.Sketch.hash40(col("s")).as("h"))
        .localCheckpoint(eager = false) // sketch pass + exact audit pass
      val est = graft.sketch.Sketch.kmvOverlapMatrix(rows, "source", "h", 256)
        .withColumnRenamed("g1", "source_1")
        .withColumnRenamed("g2", "source_2")
      val v = rows.distinct().localCheckpoint(eager = false)
      val sizes = v.groupBy(col("source")).agg(count(lit(1)).as("sz"))
      val inter = v.select(col("source").as("source_1"), col("h"))
        .join(v.select(col("source").as("source_2"), col("h")), "h")
        .filter(col("source_1") < col("source_2"))
        .groupBy(col("source_1"), col("source_2"))
        .agg(count(lit(1)).as("__xi"))
      est
        .join(broadcast(sizes.select(col("source").as("source_1"),
          col("sz").as("__sa"))), "source_1")
        .join(broadcast(sizes.select(col("source").as("source_2"),
          col("sz").as("__sb"))), "source_2")
        .join(broadcast(inter), Seq("source_1", "source_2"), "left")
        .withColumn("exact_inter", coalesce(col("__xi"), lit(0L)))
        .withColumn("exact_union", expr("__sa + __sb - exact_inter"))
        .select(col("source_1"), col("source_2"), col("merged_size"),
          col("union_est"), col("inter_k"), col("inter_est"),
          col("jaccard_ppm_est"), col("exact_union"), col("exact_inter"),
          (col("union_est") - col("exact_union")).as("union_diff"),
          expr("CAST(abs(union_est - exact_union) AS DECIMAL(38,0)) " +
            "* 1000000 div greatest(exact_union, 1L)")
            .as("union_err_abs_ppm"))
        .orderBy(col("source_1"), col("source_2"))
    },
    Some(s"""
      |WITH $tokSql,
      |$shSql,
      |v AS (SELECT DISTINCT source,
      |             CAST('0x' || substr(md5(s), 1, 10) AS BIGINT) AS h
      |      FROM (SELECT source, unnest(sh) AS s FROM sh)),
      |sk AS (SELECT source, list_slice(list_sort(list(h)), 1, 256) AS sk
      |       FROM v GROUP BY 1),
      |sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS sz
      |          FROM v GROUP BY 1),
      |mm AS (SELECT a.source AS source_1, b.source AS source_2,
      |              a.sk AS sk1, b.sk AS sk2,
      |              list_slice(list_sort(list_distinct(
      |                list_concat(a.sk, b.sk))), 1, 256) AS mg
      |       FROM sk a JOIN sk b ON a.source < b.source),
      |ee AS (SELECT source_1, source_2, CAST(len(mg) AS BIGINT) AS msz,
      |              CAST(CASE WHEN len(mg) < 256 THEN len(mg)
      |                   ELSE 280375465082880 // mg[256] END AS BIGINT)
      |                AS union_est,
      |              CAST(len(list_intersect(list_intersect(mg, sk1), sk2))
      |                   AS BIGINT) AS inter_k
      |       FROM mm),
      |ix AS (SELECT a.source AS source_1, b.source AS source_2,
      |              CAST(COUNT(*) AS BIGINT) AS xi
      |       FROM v a JOIN v b ON a.h = b.h AND a.source < b.source
      |       GROUP BY 1, 2)
      |SELECT e.source_1, e.source_2, msz AS merged_size, union_est,
      |       inter_k,
      |       CAST(inter_k * union_est // GREATEST(msz, 1) AS BIGINT)
      |         AS inter_est,
      |       CAST(inter_k * 1000000 // GREATEST(msz, 1) AS BIGINT)
      |         AS jaccard_ppm_est,
      |       CAST(sa.sz + sb.sz - coalesce(ix.xi, 0) AS BIGINT)
      |         AS exact_union,
      |       CAST(coalesce(ix.xi, 0) AS BIGINT) AS exact_inter,
      |       CAST(union_est - (sa.sz + sb.sz - coalesce(ix.xi, 0))
      |            AS BIGINT) AS union_diff,
      |       CAST(CAST(abs(union_est - (sa.sz + sb.sz - coalesce(ix.xi, 0)))
      |                 AS HUGEINT) * 1000000
      |            // GREATEST(sa.sz + sb.sz - coalesce(ix.xi, 0), 1)
      |            AS BIGINT) AS union_err_abs_ppm
      |FROM ee e
      |JOIN sizes sa ON sa.source = e.source_1
      |JOIN sizes sb ON sb.source = e.source_2
      |LEFT JOIN ix ON ix.source_1 = e.source_1 AND ix.source_2 = e.source_2
      |ORDER BY e.source_1, e.source_2
      |""".stripMargin))

  /** DuckDB replay of [[graft.sampling.Sampling.cappedMixAllocation]]
    * for one (budget, maxEpochs) scenario as a CTE chain prefixed `nm`,
    * reading per-stratum supply from a `sup(lang, supply_tokens,
    * weight_s)` CTE. Emitted twice by t57 so both the headroom and the
    * starved regime replay from one shared supply scan.
    */
  private def cappedMixSql(nm: String, tag: String, b: Long,
      me: Long): String = s"""
      |${nm}0 AS (
      |  SELECT lang, supply_tokens, weight_s,
      |         CAST(CAST(supply_tokens AS HUGEINT) * $me // 1000
      |              AS BIGINT) AS cap_tokens
      |  FROM sup),
      |${nm}t AS (SELECT CAST(SUM(supply_tokens) AS HUGEINT) AS tot,
      |                  CAST(SUM(weight_s) AS HUGEINT) AS sw
      |           FROM ${nm}0),
      |${nm}1 AS (
      |  SELECT s.lang, s.supply_tokens, s.weight_s, s.cap_tokens,
      |         (t.tot * $b) // 1000 AS budget,
      |         (((t.tot * $b) // 1000) * s.weight_s) // GREATEST(t.sw, 1) AS naive,
      |         LEAST(CAST(s.cap_tokens AS HUGEINT),
      |               (((t.tot * $b) // 1000) * s.weight_s) // GREATEST(t.sw, 1))
      |           AS alloc1
      |  FROM ${nm}0 s, ${nm}t t),
      |${nm}2 AS (SELECT CAST(SUM(alloc1) AS HUGEINT) AS a1,
      |                  CAST(SUM(cap_tokens - alloc1) AS HUGEINT) AS head
      |           FROM ${nm}1),
      |${nm}3 AS (
      |  SELECT s.lang, s.supply_tokens, s.cap_tokens, s.weight_s,
      |         s.budget, s.naive,
      |         CAST(s.alloc1 + LEAST(CAST(s.cap_tokens AS HUGEINT)
      |                 - s.alloc1,
      |               ((s.budget - t.a1)
      |                * (CAST(s.cap_tokens AS HUGEINT) - s.alloc1))
      |               // GREATEST(t.head, 1)) AS BIGINT) AS alloc_tokens
      |  FROM ${nm}1 s, ${nm}2 t),
      |${nm}f AS (SELECT CAST(SUM(alloc_tokens) AS HUGEINT) AS af
      |           FROM ${nm}3),
      |$nm AS (
      |  SELECT '$tag' AS scenario, s.lang, s.supply_tokens, s.cap_tokens,
      |         s.weight_s, s.alloc_tokens,
      |         CAST(CAST(s.alloc_tokens AS HUGEINT) * 1000
      |              // GREATEST(s.supply_tokens, 1) AS BIGINT)
      |           AS epochs_permille,
      |         CAST(CASE WHEN s.alloc_tokens = s.cap_tokens THEN 1 ELSE 0
      |              END AS INT) AS capped,
      |         CAST(s.budget - t.af AS BIGINT) AS unalloc_tokens
      |  FROM ${nm}3 s, ${nm}f t)""".stripMargin

  /** T57 — mixture allocation under per-stratum EPOCH CAPS
    * ([[graft.sampling.Sampling.cappedMixAllocation]]): the
    * data-constrained regime t44 cannot express — budget 1500‰ of
    * supply, so repetition is mandatory, bounded by a per-stratum
    * epoch ceiling. TWO scenarios gate from one supply scan:
    * 'headroom' (cap 1800‰: on the gate corpus de/es/fr hit their
    * ceiling, the surplus redistributes to en/zh, budget places to
    * within integer remainders) and 'starved' (cap
    * 1300‰ < budget: EVERY stratum caps and the unreachable remainder
    * surfaces as unalloc_tokens > 0 — conservation made explicit
    * rather than silently dropped). epochs_permille > 1000 is the
    * repetition read-out the t49 decay audit then prices.
    */
  val t57CappedMix = QueryDef("t57_capped_mix",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      def run(tag: String, b: Long, me: Long) =
        graft.sampling.Sampling
          .cappedMixAllocation(docs, "lang", col("n_chars"), b, me)
          .withColumn("scenario", lit(tag))
      run("headroom", 1500L, 1800L)
        .unionByName(run("starved", 1500L, 1300L))
        .select(col("scenario"), col("lang"), col("supply_tokens"),
          col("cap_tokens"), col("weight_s"), col("alloc_tokens"),
          col("epochs_permille"), col("capped"), col("unalloc_tokens"))
        .orderBy(col("scenario"), col("lang"))
    },
    Some(s"""
      |WITH sup AS (
      |  SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS supply_tokens,
      |         CAST(floor(sqrt(CAST(SUM(n_chars) AS DOUBLE))) AS BIGINT)
      |           AS weight_s
      |  FROM documents GROUP BY 1),
      |${cappedMixSql("h", "headroom", 1500L, 1800L)},
      |${cappedMixSql("st", "starved", 1500L, 1300L)}
      |SELECT * FROM h UNION ALL SELECT * FROM st
      |ORDER BY scenario, lang
      |""".stripMargin))

  /** One accuracy tier of the a14 sweep: pair math over the shared
    * 1024-wide sketches sliced to `k`, joined to the exact spine, and
    * reduced to one error row. The k-minima of a k′-minima list are
    * the k-minima (k ≤ k′), so every tier replays from ONE sketch CTE.
    */
  private def kmvErrSql(k: Int): String = s"""
      |m$k AS (
      |  SELECT p.g1, p.g2, p.exact_union, p.exact_jac_ppm,
      |         list_slice(sa.sk, 1, $k) AS sk1,
      |         list_slice(sb.sk, 1, $k) AS sk2,
      |         list_slice(list_sort(list_distinct(list_concat(
      |             list_slice(sa.sk, 1, $k), list_slice(sb.sk, 1, $k)))),
      |           1, $k) AS mg
      |  FROM spine p JOIN skw sa ON sa.source = p.g1
      |               JOIN skw sb ON sb.source = p.g2),
      |e$k AS (
      |  SELECT exact_union, exact_jac_ppm,
      |         CAST(len(mg) AS BIGINT) AS msz,
      |         CAST(CASE WHEN len(mg) < $k THEN len(mg)
      |              ELSE ${(k - 1).toLong * graft.sketch.Sketch.HashSpace}
      |                   // mg[$k] END AS BIGINT) AS union_est,
      |         CAST(len(list_intersect(list_intersect(mg, sk1), sk2))
      |              AS BIGINT) AS ik
      |  FROM m$k),
      |r$k AS (
      |  SELECT CAST($k AS INT) AS k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |         CAST(SUM(CAST(abs(union_est - exact_union) AS HUGEINT)
      |                  * 1000000 // GREATEST(exact_union, 1))
      |              // COUNT(*) AS BIGINT) AS mean_union_err_ppm,
      |         CAST(MAX(CAST(abs(union_est - exact_union) AS HUGEINT)
      |                  * 1000000 // GREATEST(exact_union, 1)) AS BIGINT)
      |           AS max_union_err_ppm,
      |         CAST(SUM(abs(CAST(ik AS HUGEINT) * 1000000
      |                      // GREATEST(msz, 1) - exact_jac_ppm))
      |              // COUNT(*) AS BIGINT) AS mean_jac_err_ppm,
      |         CAST(MAX(abs(CAST(ik AS HUGEINT) * 1000000
      |                      // GREATEST(msz, 1) - exact_jac_ppm)) AS BIGINT)
      |           AS max_jac_err_ppm
      |  FROM e$k)""".stripMargin

  /** A14 — the KMV accuracy LEVER, measured: a13 runs one k; this
    * sweeps k ∈ {64, 256, 1024} and reports the error curve against
    * the exact overlap spine — mean/max union error (relative ppm) and
    * Jaccard error (absolute ppm) over all source pairs. One corpus
    * pass builds ONE 1024-wide sketch per source; every narrower tier
    * is an array slice (the k-minima of a k′-minima list are the
    * k-minima), so the sweep costs one aggregation plus kilobyte-frame
    * arithmetic — the measurement you run before choosing how many
    * longs per group the 100 TB profile store should carry. Expected
    * and observed: error ≈ 1/√(k−1) halves per 4× k.
    */
  val a14KmvErrorCurve = QueryDef("a14_kmv_error_curve",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val rows = Dedup
        .positionalShingleRows(docs, "doc_id", "text", 3,
          carry = Seq("source"))
        .select(col("source"), graft.sketch.Sketch.hash40(col("s")).as("h"))
        .localCheckpoint(eager = false) // sketch pass + exact spine
      val wide = udaf(graft.sketch.Sketch.KmvAggregator(1024))
      val skw = rows.groupBy(col("source"))
        .agg(wide(col("h")).as("sk"))
        .localCheckpoint(eager = false) // sliced by all three tiers
      val v = rows.distinct().localCheckpoint(eager = false)
      val sizes = v.groupBy(col("source")).agg(count(lit(1)).as("sz"))
        .localCheckpoint(eager = false) // both sides of the spine
      val inter = v.select(col("source").as("g1"), col("h"))
        .join(v.select(col("source").as("g2"), col("h")), "h")
        .filter(col("g1") < col("g2"))
        .groupBy(col("g1"), col("g2")).agg(count(lit(1)).as("xi"))
      val spine = sizes.select(col("source").as("g1"), col("sz").as("sa"))
        .join(broadcast(sizes.select(col("source").as("g2"),
          col("sz").as("sb"))), col("g1") < col("g2"))
        .join(broadcast(inter), Seq("g1", "g2"), "left")
        .select(col("g1"), col("g2"),
          expr("sa + sb - coalesce(xi, 0L)").as("exact_union"),
          expr("coalesce(xi, 0L) * 1000000 div " +
            "greatest(sa + sb - coalesce(xi, 0L), 1L)")
            .as("exact_jac_ppm"))
        .localCheckpoint(eager = false) // joined by all three tiers
      val uErr = expr("CAST(abs(union_est - exact_union) AS DECIMAL(38,0))" +
        " * 1000000 div greatest(exact_union, 1L)")
      val jErr = expr("abs(jaccard_ppm_est - exact_jac_ppm)")
      val tiers = Seq(64, 256, 1024).map { k =>
        graft.sketch.Sketch.kmvOverlapPairsFromSketches(skw, "source", k)
          .join(spine, Seq("g1", "g2"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(uErr).as("__su"), max(uErr).as("max_union_err_ppm"),
            sum(jErr).as("__sj"), max(jErr).as("max_jac_err_ppm"))
          .select(lit(k).as("k"), col("n_pairs"),
            expr("__su div n_pairs").as("mean_union_err_ppm"),
            col("max_union_err_ppm"),
            expr("__sj div n_pairs").as("mean_jac_err_ppm"),
            col("max_jac_err_ppm"))
      }
      tiers.reduce(_.unionByName(_)).orderBy(col("k"))
    },
    Some(s"""
      |WITH $tokSql,
      |$shSql,
      |v AS (SELECT DISTINCT source,
      |             CAST('0x' || substr(md5(s), 1, 10) AS BIGINT) AS h
      |      FROM (SELECT source, unnest(sh) AS s FROM sh)),
      |skw AS (SELECT source, list_slice(list_sort(list(h)), 1, 1024) AS sk
      |        FROM v GROUP BY 1),
      |sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS sz
      |          FROM v GROUP BY 1),
      |ix AS (SELECT a.source AS g1, b.source AS g2,
      |              CAST(COUNT(*) AS BIGINT) AS xi
      |       FROM v a JOIN v b ON a.h = b.h AND a.source < b.source
      |       GROUP BY 1, 2),
      |spine AS (
      |  SELECT a.source AS g1, b.source AS g2,
      |         CAST(a.sz + b.sz - coalesce(ix.xi, 0) AS BIGINT)
      |           AS exact_union,
      |         CAST(coalesce(ix.xi, 0) * 1000000
      |              // GREATEST(a.sz + b.sz - coalesce(ix.xi, 0), 1)
      |              AS BIGINT) AS exact_jac_ppm
      |  FROM sizes a JOIN sizes b ON a.source < b.source
      |  LEFT JOIN ix ON ix.g1 = a.source AND ix.g2 = b.source),
      |${kmvErrSql(64)},
      |${kmvErrSql(256)},
      |${kmvErrSql(1024)}
      |SELECT * FROM r64 UNION ALL SELECT * FROM r256
      |UNION ALL SELECT * FROM r1024
      |ORDER BY k
      |""".stripMargin))

  /** One threshold tier of the s24 sweep: the `j` pair frame filtered
    * at `tp` ppm (HUGEINT-exact, the house cosine test), reduced to
    * (threshold, cross-pair count, distinct quarantined train docs).
    */
  private def decontamThrSql(tp: Long): String = s"""
      |p$tp AS (SELECT * FROM j
      |  WHERE CAST(dot AS HUGEINT) * dot * 1000000 * 1000000
      |        >= CAST(n1 AS HUGEINT) * n2 * $tp * $tp),
      |q$tp AS (
      |  SELECT CAST($tp AS BIGINT) AS threshold_ppm,
      |         (SELECT CAST(COUNT(*) AS BIGINT) FROM p$tp)
      |           AS n_cross_pairs,
      |         (SELECT CAST(COUNT(DISTINCT id) AS BIGINT) FROM (
      |            SELECT id1 AS id FROM p$tp WHERE split1 = 'train'
      |            UNION ALL
      |            SELECT id2 FROM p$tp WHERE split2 = 'train'))
      |           AS n_quarantined)""".stripMargin

  /** S24 — the decontamination AGGRESSIVENESS lever, measured: t56
    * quarantines at cosine 0.4; this sweeps the threshold
    * {0.3, 0.4, 0.5, 0.6} and reports, per tier, the cross-split pair
    * count and the distinct train docs a quarantine at that threshold
    * would pull — the curve a pipeline owner reads before trading
    * benchmark safety against train-set yield. ONE broadcast-eval
    * linear scan at the loosest threshold (0.3) feeds every tier: the
    * tighter tests are pure arithmetic on the surviving pair frame
    * (norms join back id-keyed), so the sweep costs one s21 scan plus
    * kilobyte-frame filters, never four scans.
    */
  val s24DecontamThresholds = QueryDef("s24_decontam_thresholds",
    (s, dir) => {
      val emb = plantedEmbeddings(s, dir)
      val split = emb.select(col("vec_id"), splitLabel("vec_id").as("split"))
        .localCheckpoint(eager = false) // eval filter + two label joins
      val norms = emb.select(col("vec_id"),
        Similarity.normSqQ(Similarity.quantize(col("embedding")))
          .as("nsq"))
        .localCheckpoint(eager = false) // joined for both endpoints
      val evalSide = emb.join(
        split.filter(col("split") =!= "train").select("vec_id"), "vec_id")
      val pairs = Similarity
        .exactNearPairsAsym(evalSide, emb, "vec_id", "embedding", 300000L)
        .select(least(col("eval_id"), col("corpus_id")).as("id1"),
          greatest(col("eval_id"), col("corpus_id")).as("id2"),
          col("dot_q"))
        .distinct()
        .join(split.select(col("vec_id").as("id1"),
          col("split").as("split1")), "id1")
        .join(split.select(col("vec_id").as("id2"),
          col("split").as("split2")), "id2")
        .filter(col("split1") =!= col("split2"))
        .join(norms.select(col("vec_id").as("id1"), col("nsq").as("n1")),
          "id1")
        .join(norms.select(col("vec_id").as("id2"), col("nsq").as("n2")),
          "id2")
        .localCheckpoint(eager = false) // one scan, four threshold reads
      val tiers = Seq(300000L, 400000L, 500000L, 600000L).map { tp =>
        val pass = pairs.filter(expr(
          s"CAST(dot_q AS DECIMAL(38,0)) * dot_q * 1000000 * 1000000 " +
            s">= CAST(n1 AS DECIMAL(38,0)) * n2 * $tp * $tp"))
          .localCheckpoint(eager = false) // pair count + endpoint distinct
        val np = pass.agg(count(lit(1)).as("n_cross_pairs"))
        val nq = pass.select(explode(array(
            struct(col("id1").as("id"), col("split1").as("sp")),
            struct(col("id2").as("id"), col("split2").as("sp")))).as("e"))
          .filter(col("e.sp") === "train")
          .agg(countDistinct(col("e.id")).as("n_quarantined"))
        np.crossJoin(broadcast(nq))
          .select(lit(tp).as("threshold_ppm"), col("n_cross_pairs"),
            col("n_quarantined"))
      }
      tiers.reduce(_.unionByName(_)).orderBy(col("threshold_ppm"))
    },
    Some(s"""
      |WITH $plantedEvalSql,
      |cp AS (
      |  SELECT DISTINCT least(eid, cid) AS id1, greatest(eid, cid) AS id2,
      |         dot
      |  FROM (
      |    SELECT e.vec_id AS eid, c.vec_id AS cid,
      |           ${dotSql("e.qv", "c.qv")} AS dot, e.nsq AS n1, c.nsq AS n2
      |    FROM ev e JOIN nn c ON e.vec_id <> c.vec_id) p0
      |  WHERE dot > 0
      |    AND CAST(dot AS HUGEINT) * dot * 1000000 * 1000000
      |        >= CAST(n1 AS HUGEINT) * n2 * 300000 * 300000),
      |j AS MATERIALIZED (
      |  SELECT cp.id1, cp.id2, cp.dot, s1.split AS split1,
      |         s2.split AS split2, a.nsq AS n1, b.nsq AS n2
      |  FROM cp
      |  JOIN sp s1 ON s1.vec_id = cp.id1
      |  JOIN sp s2 ON s2.vec_id = cp.id2
      |  JOIN nn a ON a.vec_id = cp.id1
      |  JOIN nn b ON b.vec_id = cp.id2
      |  WHERE s1.split <> s2.split),
      |${decontamThrSql(300000L)},
      |${decontamThrSql(400000L)},
      |${decontamThrSql(500000L)},
      |${decontamThrSql(600000L)}
      |SELECT * FROM q300000 UNION ALL SELECT * FROM q400000
      |UNION ALL SELECT * FROM q500000 UNION ALL SELECT * FROM q600000
      |ORDER BY threshold_ppm
      |""".stripMargin))

  val all: Seq[QueryDef] = Seq(
    tTextStats, t2CorpusProfile, t3DeterministicSample, t4KmvDistinct,
    t5TokenHistogram, t6LengthQuantiles, t7KmvByGroup, t8WeightedSample,
    t9TopTokens, t10SplitAssignment, t11Chunking, t12HeavyHitters,
    t13Repetition, t14CmsEstimate, t15PiiRedact, t16CurationFunnel,
    t17QuantilesByLang, t18ApproxQuantiles, t19ShardPacking, t20TfidfTerms,
    t21ShardStore, t22CorpusMix, s8AnnFiltered,
    d13SnapshotDiff, d14LshStore, d10SketchCalibration, t23Bm25,
    d1ExactDedup, d2JaccardPairs, d3MinhashLsh, d4Simhash, d4SimhashPairs,
    d5CosineNearDup, d6SharedWindows, d7DupClusters, d8CanonicalDocs,
    d9Contamination, d11BloomNewDocs, d12Boilerplate,
    s1AnnBruteForce, s2AnnBucketed, s3AnnIvf, s4AnnIvfProbe,
    s5AnnIvfTrained, s6AnnIvfStore, s7AnnTrainedStore, s9AnnIvfFiltered,
    m1MediaMeta, m2MediaAnn, m3MediaFrames,
    t24QualityRules, t25UnigramSurprisal, s10RrfFusion, d15SplitLeakage,
    s11AnnRecall, m4MediaDedup, d16SimilarityPagerank, t26IncrementalKmv,
    t27SourceScorecard, t28DedupSavings, t29SourceOverlap, t30PrioritySample,
    t31MadCensus, d17EditVerified, j12IncrementalRollup, t32BigramSurprisal,
    s12MmrRerank, t33CdcChunks, t34CalibratedQuality, t35Novelty,
    e9GapAnomaly, j13BloomSemiJoin, s13RpRecall, t36StratifiedPriority,
    d18Containment, t37HllBySource, t38BackoffSurprisal, e10RollingDistinct,
    t39BpeMerges, d19Triangles, d20ClusterMedoids, t40FilterBias,
    t41ShardBucketed, t42BpeTrain, d21LshAccreted, t43BpeEncode,
    s15SemanticLeakage, s16BlockingRecall, s17KnnGraph, d22SemanticClusters,
    t44TemperatureMix, s18VecStore, t45BoilerplateStrip, t46Repetition,
    t47DsirWeights, t48PsiDrift, d23ClusterBalanced, s19SourceCentroids,
    t49EpochDecay, t50SequencePack, t51ConsistentSample,
    s20ContrastivePairs, t52LangConfusion, a9ColumnProfile,
    a10JoinCardinality, a11BootstrapCi, s21ExactLeakage,
    a12ColumnProfileSketch, s22KnnGraphRecall, s23Int8Recall,
    t54NormalizeDedup, t55SourceDiversity, t53NbLangConfusion,
    t56DecontaminatedSplit, a13KmvOverlap, t57CappedMix,
    a14KmvErrorCurve, s24DecontamThresholds, a15ColumnProfileHll,
    a16HllRegisterStore,
    s25VecStoreInt8, s26Int8StoreRecall, s27PqRecall, s28PqRecall256,
    s29PqRecall16x256, a17KmvMinimaStore, s30PqStoreRecall,
    a18CmsFreqStore, a19CmsJoinStore)
}
