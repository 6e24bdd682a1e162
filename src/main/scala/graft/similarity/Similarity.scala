package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor and near-duplicate search over embedding
  * columns (`Array[Float]`).
  *
  * Scale design: embeddings are quantized once to integer milli-units, so
  * dot products and norms are EXACT longs (no float-accumulation drift,
  * engine-portable, SIMD-friendly codegen). Brute force broadcasts the
  * (small) query set against the corpus — no corpus shuffle at all; the
  * LSH-bucketed variant shuffles only on an 8-bit sign bucket, trading
  * recall for a corpus-partitionable plan that survives 1000 executors.
  * Cosine ordering happens on a double derived from exact longs in three
  * IEEE ops — bit-identical everywhere.
  */
object Similarity {

  /** Quantize a float vector to exact milli-unit longs (round half away
    * from zero — engine-agreeing, see InvoiceView.m2's rationale).
    */
  def quantize(v: Column): Column =
    graft.functions.long_array_quantize(v)

  /** Materialize a quantized `(id, qv, …)` projection — the ANN index
    * build. Whole-stage codegen evaluates join-side projected columns
    * lazily per OUTPUT row, so an un-materialized quantization re-runs
    * once per CANDIDATE PAIR instead of once per vector (measured 10×
    * on s3_ann_ivf at sf0.1: 2.3 s → 24 s without this barrier). One
    * pass computes and stores the longs; every pair-scoring dot then
    * reads stored arrays. Not lazy, even with `eager = false`: that only
    * skips the checkpoint's own counting job. Building the checkpointed
    * RDD executes the adaptive plan, so under AQE every shuffle map stage
    * below it runs when the index is built (a query builder on top pays
    * those jobs at construction); the final stage and the block writes
    * land in the first action. At cluster scale this is the index
    * materialization a production ANN system persists anyway —
    * O(corpus × dims) longs, far smaller than the pair space it prevents
    * recomputing over.
    */
  private def index(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = false)

  /** Round-robin repartition to the session's shuffle width, applied to
    * corpus-sized inputs BEFORE the CPU-dense per-row passes (quantize +
    * centroid assignment). A compacted corpus (few parquet row groups)
    * otherwise caps those passes at scan parallelism — AQE cannot help,
    * it sizes by bytes and cannot see per-row CPU. The shuffle moves
    * O(corpus) bytes once, far below the pair-space compute it widens;
    * at real multi-file scale the scan already has native parallelism
    * and this is a cheap wash.
    */
  private def widen(df: DataFrame): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)

  /** Exact integer dot product of two quantized vectors — a codegen'd
    * native expression ([[graft.functions.LongArrayDot]]); the
    * `aggregate(zip_with(...))` formulation is interpreted and measured
    * several times slower on the ANN queries.
    */
  def dotQ(a: Column, b: Column): Column =
    graft.functions.long_array_dot(a, b)

  /** Squared L2 norm of a quantized vector (exact long). */
  def normSqQ(a: Column): Column = dotQ(a, a)

  /** Cosine similarity from exact integer dot/norms: three IEEE double ops,
    * deterministic across engines. Null when either norm is zero.
    */
  def cosineFromQ(dot: Column, normSqA: Column, normSqB: Column): Column =
    when(normSqA > 0 && normSqB > 0,
      dot.cast("double") / sqrt((normSqA * normSqB).cast("double")))

  // ------------------------------------------------- blocking-parameter scaling

  /** Sign-bucket bits as a function of corpus size: enough buckets
    * (2^bits) that the average bucket holds ~`targetBucketSize` vectors,
    * clamped to [8, 24]. A FIXED bucket count caps blocking — at 100 TB
    * a 256-cell blocking leaves each cell corpus-sized; with this rule a
    * 10^9-vector corpus gets 2^24 cells (~64 vectors each), and the probe
    * cost stays O(targetBucketSize) per query regardless of corpus scale.
    */
  def scaledBits(corpusSize: Long, targetBucketSize: Long = 64): Int = {
    val buckets = math.max(1L, corpusSize / math.max(1L, targetBucketSize))
    val ceilLog2 =
      if (buckets <= 1) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)
    math.min(24, math.max(8, ceilLog2))
  }

  /** IVF coarse-list count as a function of corpus size: 16 lists for
    * small corpora (coarse quantization only pays once lists hold
    * hundreds of vectors), then the classic ~sqrt(n) rule capped at
    * 65536. Probe cost per query at nprobe=1 is n / nCentroids — sqrt(n)
    * keeps both the centroid scan and the list scan at O(sqrt(n)).
    */
  def scaledCentroids(corpusSize: Long, minListSize: Long = 256): Int =
    if (corpusSize <= minListSize * 16) 16
    else math.min(65536L, math.ceil(math.sqrt(corpusSize.toDouble)).toLong).toInt

  /** 8-bit sign-bucket of a quantized vector: bit j set when dim j > 0.
    * A degenerate random-hyperplane LSH (axis-aligned planes) — the bucket
    * key for the partitioned ANN variant.
    */
  def signBucket(q: Column, bits: Int = 8): Column =
    aggregate(
      zip_with(slice(q, 1, bits), sequence(lit(0), lit(bits - 1)),
        (x, j) => when(x > 0, call_function("shiftleft", lit(1), j)).otherwise(lit(0))),
      lit(0), (acc, v) => acc + v)

  /** Brute-force cosine top-k: every query row against every corpus row.
    * `queries`/`corpus`: (idCol, vecCol raw float arrays). The query side is
    * broadcast (assumed small); ranking is a window per query with a
    * deterministic (similarity desc, neighbor id) order. Self-pairs are
    * excluded.
    *
    * Returns (query_id, rank, neighbor_id, dot_q, cosine).
    */
  /** Maximal-marginal-relevance diversification of a retrieval pool:
    * greedily select `k` results where each pick maximizes
    * `λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)` (λ = ½) — the re-rank that
    * stops a near-dup-heavy corpus from filling the whole top-k with
    * one document's clones. `pool` is a per-query candidate cut
    * `(query_id, neighbor_id, cosine, rank)` from any first-stage
    * retriever; all MMR work is bounded by the POOL (≤ |pool|² pairwise
    * sims per query, ≤ k unrolled selection rounds), never the corpus —
    * the two-stage contract, like [[graft.dedup.Dedup
    * .editVerifiedPairs]] for dedup.
    *
    * Each greedy round is a join + bounded aggregate + struct-argmax
    * (the d8 election shape — no windows over unbounded partitions);
    * doubles are single correctly-rounded IEEE ops of exact integer
    * dots, so an oracle replays every score and every pick. Rank-1's
    * score is its plain relevance (no diversity term exists yet).
    * A pool candidate whose id has no vector in `corpus` contributes no
    * pairwise sims and scores with `maxsim = 0` (pure relevance) — it
    * is never silently dropped.
    */
  def mmrDiversify(pool: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val qv = index(corpus.select(col(idCol).as("__mid"),
      quantize(col(vecCol)).as("__mv")))
    val p = pool.select(col("query_id"), col("neighbor_id"), col("cosine"),
      col("rank")).localCheckpoint(eager = false)
    val sims = p.select(col("query_id"), col("neighbor_id").as("a"))
      .join(p.select(col("query_id"), col("neighbor_id").as("b")), "query_id")
      .filter(col("a") =!= col("b"))
      .join(qv.select(col("__mid").as("a"), col("__mv").as("va")), "a")
      .join(qv.select(col("__mid").as("b"), col("__mv").as("vb")), "b")
      .select(col("query_id"), col("a"), col("b"),
        cosineFromQ(dotQ(col("va"), col("vb")),
          normSqQ(col("va")), normSqQ(col("vb"))).as("sim"))
      .localCheckpoint(eager = false) // every greedy round re-reads it
    var sel = p.filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"),
        lit(1).as("mmr_rank"), col("cosine").as("mmr_score"))
    for (r <- 2 to k) {
      val selIds = sel.select(col("query_id"), col("neighbor_id"))
      val remaining = p.join(selIds, Seq("query_id", "neighbor_id"),
        "left_anti")
      // LEFT join the diversity term: a candidate with no sim rows
      // (its vector is absent from `corpus`) takes maxsim = 0 — still
      // pickable on pure relevance — instead of being silently dropped
      // from every round after the first by an inner join
      val diversity = sims.withColumnRenamed("a", "neighbor_id")
        .join(selIds.withColumnRenamed("neighbor_id", "b"),
          Seq("query_id", "b"))
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg(max(col("sim")).as("maxsim"))
      val scored = remaining
        .join(diversity, Seq("query_id", "neighbor_id"), "left")
        .withColumn("maxsim", coalesce(col("maxsim"), lit(0.0d)))
        .withColumn("score",
          lit(0.5) * col("cosine") - lit(0.5) * col("maxsim"))
      val pick = scored.groupBy(col("query_id"))
        .agg(max(struct(col("score"), (-col("neighbor_id")).as("nid")))
          .as("w"))
        .select(col("query_id"), (-col("w.nid")).as("neighbor_id"),
          lit(r).as("mmr_rank"), col("w.score").as("mmr_score"))
      // flatten the lineage each round: round r's plan otherwise embeds
      // every prior round's join tree TWICE (anti-probe + diversity
      // join), growing the optimizer/scheduler cost quadratically in k
      sel = sel.unionByName(pick).localCheckpoint(eager = false)
    }
    sel
  }

  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame =
    topKFromQuantized(
      queries.select(col(idCol).as("query_id"),
        quantize(col(vecCol)).as("qv")),
      index(widen(corpus).select(col(idCol).as("neighbor_id"),
        quantize(col(vecCol)).as("cv"))), k)

  /** Exact top-k over ALREADY-quantized integer vectors — the shared
    * scoring core of [[bruteForceTopK]] and any alternate vector space
    * (e.g. [[randomProjection]]'s). `q` must be (query_id, qv),
    * `c` (neighbor_id, cv), both integer arrays.
    */
  def topKFromQuantized(q: DataFrame, c: DataFrame, k: Int): DataFrame = {
    val scored = broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        dotQ(col("qv"), col("cv")).as("dot_q"),
        cosineFromQ(dotQ(col("qv"), col("cv")),
          normSqQ(col("qv")), normSqQ(col("cv"))).as("cosine"))
    // Exact top-k as a MERGEABLE aggregate, not a window: the window
    // form shuffles the whole O(queries × corpus) score matrix to rank
    // it (100M rows at sf1 for m2_media_ann — measured 168 s); the
    // aggregator's map-side partial keeps k candidates per query per
    // task, so the exchange carries k-slot buffers instead of the pair
    // space. Order and ranks are identical (cosine desc nulls last,
    // neighbor_id asc).
    val topk = udaf(TopKAggregator(k))
    scored.groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("dot_q"), col("cosine")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.neighbor_id"), col("col.dot_q"), col("col.cosine"))
  }

  /** INT8 quantization recall audit — the measured answer to "can the
    * vector store drop to 1 byte/dim?": at corpus scale the embedding
    * store is the dominant ANN asset (10⁹ × 64-dim float32 = 256 GB of
    * raw vectors; int8 cuts it 4× and widens what a single executor can
    * hold or broadcast), and the only honest way to adopt it is to
    * MEASURE what the narrower code costs in retrieval quality. For the
    * 1-in-`sampleMod` query sample, exact cosine top-k in the full
    * milli-unit space is compared against top-k computed ENTIRELY in
    * the int8 space, per query, as exact integer recall_ppm — the
    * s11/s22 measurement shape. The int8 code is `round(x · 127/1000)`
    * half away from zero on the exact milli-unit longs, computed as
    * `sign(x) · ((|x|·127 + 500) div 1000)` so every division sees a
    * NON-NEGATIVE numerator — Spark's `div` truncates toward zero
    * while DuckDB's `//` floors, and they only agree on non-negatives;
    * the abs form is what makes the audit oracle-replayable. Unit-norm
    * embeddings give |x| ≤ 1000, so the code is a true int8 in
    * [-127, 127]. Both rankings share the deterministic (cosine desc
    * nulls last, neighbor_id) tie-break and the mergeable
    * [[TopKAggregator]] (k-slot partials, never the pair space).
    */
  /** int8 code vector from a milli-unit long vector column (by NAME —
    * the expression is SQL text so the DuckDB replay is the same
    * string with `//`): `round(x · 127/1000)` half away from zero,
    * computed with non-negative numerators so Spark's truncating `div`
    * and DuckDB's flooring `//` agree. Unit-norm embeddings give
    * |x| ≤ 1000, so every code is a true int8 in [-127, 127] — the
    * code space s23 audits and the int8 [[VecIndex]] codec persists.
    */
  def int8FromMilli(qvCol: String): Column = expr(
    // the LEAST/GREATEST clamp is a no-op on unit-norm input (|x| ≤
    // 1000 ⇒ code ∈ [-127, 127]) but makes the codec TOTAL: a direct
    // writeVecIndex(codec="int8") caller feeding un-normalized vectors
    // gets a saturated code, not a silent tinyint wrap-around
    s"""transform($qvCol, x -> GREATEST(-127L, LEAST(127L, CASE WHEN x >= 0
       |  THEN (x * 127 + 500) DIV 1000
       |  ELSE -((-x * 127 + 500) DIV 1000) END)))""".stripMargin)

  def int8RecallAudit(df: DataFrame, idCol: String, vecCol: String,
      k: Int, sampleMod: Long): DataFrame = {
    val base = index(widen(df).select(col(idCol).as("id"),
      quantize(col(vecCol)).as("qv")))
    val q8 = int8FromMilli("qv")
    val c8 = index(base.select(col("id").as("neighbor_id"), q8.as("cv")))
    val exact = topKFromQuantized(
      base.filter(col("id") % sampleMod === 0)
        .select(col("id").as("query_id"), col("qv")),
      base.select(col("id").as("neighbor_id"), col("qv").as("cv")), k)
    val approx = topKFromQuantized(
      c8.filter(col("neighbor_id") % sampleMod === 0)
        .select(col("neighbor_id").as("query_id"), col("cv").as("qv")),
      c8, k)
    exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id"))
          .withColumn("hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("hit")), lit(0L)).as("hits"))
      .withColumn("recall_ppm", expr("hits * 1000000L div n_exact"))
      .orderBy(col("query_id"))
  }

  /** Deterministic per-subspace Lloyd training of product-quantization
    * codebooks (Jégou et al. 2011): the milli-unit vector splits into
    * `m` contiguous subspaces of dims/m coordinates; each subspace
    * gets `kCodes` centroids trained independently with the SAME
    * integer discipline as [[trainIvfCentroids]] (init = the first
    * kCodes rows by id, assignment by exact integer L2 with ties to
    * the smaller code, update = truncating integer mean, empty cells
    * keep their codeword) — every number is replayable in SQL. One
    * distributed pass per iteration assigns ALL m subspaces (the
    * subspace axis is a bounded in-row explode), and the driver holds
    * m·kCodes·(dims/m) = dims·kCodes longs — kilobytes.
    */
  def trainPqCodebooks(df: DataFrame, idCol: String, vecCol: String,
      m: Int, kCodes: Int, iterations: Int, dims: Int = 64,
      trainMod: Long = 1L)
      : IndexedSeq[IndexedSeq[(Int, Seq[Long])]] =
    trainPqCodebooksQ(
      widen(df).select(col(idCol).as("__id"),
        quantize(col(vecCol)).as("__qv")),
      m, kCodes, iterations, dims, trainMod)

  /** [[trainPqCodebooks]] over an ALREADY-QUANTIZED `(__id, __qv)`
    * frame — the store-sidecar path ([[VecIndex.writePqSidecar]]
    * trains on persisted milli vectors; the raw path above quantizes
    * first). Identical training given identical quantized inputs, so
    * a sidecar trained from the store and an audit trained from raw
    * embeddings produce the same codebooks — the property that lets
    * one oracle text replay both.
    */
  def trainPqCodebooksQ(q: DataFrame, m: Int, kCodes: Int,
      iterations: Int, dims: Int = 64, trainMod: Long = 1L)
      : IndexedSeq[IndexedSeq[(Int, Seq[Long])]] = {
    require(m > 0 && dims % m == 0, s"m=$m must divide dims=$dims")
    require(trainMod >= 1L, s"trainMod must be >= 1, got $trainMod")
    val sub = dims / m
    // trainMod > 1 fits codebooks on the deterministic 1-in-trainMod id
    // sample — the standard production shape (codebooks train on a
    // sample, ENCODING still covers every vector) and what keeps the
    // k=256 oracle replay affordable; trainMod = 1 is the full corpus
    val base = index(q.filter(col("__id") % trainMod === 0))
    val init = base.orderBy(col("__id")).limit(kCodes).collect()
      .map(r => r.getSeq[Long](r.fieldIndex("__qv")).toSeq)
    require(init.nonEmpty, "trainPqCodebooks: empty corpus")
    var books: IndexedSeq[IndexedSeq[(Int, Seq[Long])]] = (0 until m)
      .map(j => init.toIndexedSeq.zipWithIndex.map { case (qv, i) =>
        i -> qv.slice(j * sub, (j + 1) * sub) })
    for (_ <- 1 to iterations) {
      val assigned = base.select(explode(array((0 until m).map { j =>
          val sv = slice(col("__qv"), j * sub + 1, sub)
          struct(lit(j).as("j"), sv.as("sv"),
            element_at(graft.functions.nearest_centroids(
              sv, books(j), sub, 1), 1).as("code"))
        }: _*)).as("e"))
        .select(col("e.j").as("j"), col("e.sv").as("sv"),
          col("e.code").as("code"))
      val sums = assigned.groupBy(col("j"), col("code"))
        .agg(count(lit(1)).as("n"),
          array((0 until sub).map(d =>
            sum(element_at(col("sv"), d + 1))): _*).as("s"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) ->
          (r.getLong(2), r.getSeq[Long](3)))
        .toMap
      books = books.zipWithIndex.map { case (book, j) =>
        book.map { case (c, prev) =>
          sums.get((j, c)) match {
            // truncating Long division — the SQL twin replays it as
            // (s - (s % n)) / n (both engines' % truncate)
            case Some((n, s)) => c -> s.map(_ / n).toSeq
            case None         => c -> prev
          }
        }
      }
    }
    books
  }

  /** Product-quantization recall audit — the notch AFTER int8 on the
    * vector-storage ladder: 8 codebook indices of 4 bits replace 64
    * milli-unit coordinates (8 bytes/vector vs int8's 64 — a further
    * 8×), and as with s23 the only honest way to adopt the narrower
    * code is to MEASURE the retrieval cost. For the 1-in-`sampleMod`
    * query sample, exact cosine top-k is compared against the
    * ASYMMETRIC-distance ranking (full-precision query against the
    * candidate's PQ reconstruction — ADC, the standard serving form:
    * a real server folds the per-subspace query·codeword dots into a
    * m·kCodes lookup table; scoring through the materialized
    * reconstruction is the SAME integer arithmetic expressed through
    * the codegen'd native dot, so the measurement rides whole-stage
    * codegen instead of an interpreted lambda). Codebooks, codes,
    * reconstructions, both rankings, and the recall algebra are all
    * exact integers — the DuckDB oracle replays the entire pipeline
    * including training.
    */
  /** The m PQ code indices of quantized vector `qv` under `books`:
    * per-subspace nearest centroid by exact integer L2, ties to the
    * smaller code — a pure scan-stage expression against the kilobyte
    * codebook literal, no join.
    */
  def pqEncodeExpr(qv: Column,
      books: IndexedSeq[IndexedSeq[(Int, Seq[Long])]],
      sub: Int): Column =
    array(books.indices.map { j =>
      element_at(graft.functions.nearest_centroids(
        slice(qv, j * sub + 1, sub), books(j), sub, 1), 1)
    }: _*)

  /** Reconstruction of a PQ-coded vector through the FLAT literal
    * codebook: entry j·kEff + c is subspace j's code-c word. kEff, not
    * kCodes: a corpus (or train sample) smaller than kCodes yields
    * fewer codewords and the flat stride must match what was trained.
    */
  def pqReconstructExpr(codes: Column,
      books: IndexedSeq[IndexedSeq[(Int, Seq[Long])]]): Column = {
    val kEff = books.head.size
    val cb = typedlit(books.flatMap(_.map(_._2)).map(_.toIndexedSeq))
    flatten(transform(codes, (c, j) =>
      element_at(cb, j * lit(kEff) + c + lit(1))))
  }

  def pqRecallAudit(df: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, kCodes: Int = 16, iterations: Int = 2, k: Int = 5,
      sampleMod: Long = 20L, trainMod: Long = 1L): DataFrame = {
    val dims = 64
    val sub = dims / m
    val books = trainPqCodebooks(df, idCol, vecCol, m, kCodes,
      iterations, dims, trainMod)
    val base = index(widen(df).select(col(idCol).as("id"),
      quantize(col(vecCol)).as("qv")))
    val recon = index(base.select(col("id").as("neighbor_id"),
      pqReconstructExpr(pqEncodeExpr(col("qv"), books, sub), books)
        .as("cv")))
    val queries = base.filter(col("id") % sampleMod === 0)
      .select(col("id").as("query_id"), col("qv"))
    val exact = topKFromQuantized(queries,
      base.select(col("id").as("neighbor_id"), col("qv").as("cv")), k)
    // ONE ADC ranking at the shortlist depth serves both metrics: its
    // top-k prefix is the rank-k fidelity answer and the full list is
    // the shortlist-recall answer (recall@R, Jégou et al.'s reporting
    // shape — PQ in production generates a shortlist that an exact
    // re-rank then orders, so "is the true top-k IN the shortlist" is
    // the number that decides the architecture)
    val short = 10 * k
    val approx = topKFromQuantized(queries, recon, short)
      .localCheckpoint(eager = false) // both metrics read one ranking
    exact.select(col("query_id"), col("neighbor_id"))
      .join(approx
          .select(col("query_id"), col("neighbor_id"),
            when(col("rank") <= k, 1L).otherwise(0L).as("__topk"),
            lit(1L).as("__short")),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("__topk")), lit(0L)).as("hits"),
        coalesce(sum(col("__short")), lit(0L)).as("hits_short"))
      .withColumn("recall_ppm", expr("hits * 1000000L div n_exact"))
      .withColumn("short_recall_ppm",
        expr("hits_short * 1000000L div n_exact"))
      .orderBy(col("query_id"))
  }

  /** Deterministic Rademacher (±1) matrix for [[randomProjection]]:
    * entry (i, j) is +1 when the first hex digit of md5("rp-i-j") is
    * even — reproducible on any engine from the same md5 arithmetic
    * (the SQL mirror is `CAST('0x'||substr(md5(...),1,1) AS INT)%2=0`).
    */
  def rademacherMatrix(outDims: Int, inDims: Int): Array[Array[Long]] =
    Array.tabulate(outDims, inDims) { (i, j) =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"rp-$i-$j".getBytes("UTF-8"))
      if ((((d(0) >> 4) & 0xf) % 2) == 0) 1L else -1L
    }

  /** Johnson–Lindenstrauss sign random projection: quantized vectors
    * compressed `inDims → outDims` by a deterministic ±1 matrix — the
    * memory/bandwidth lever for 100 TB ANN (a 4× smaller vector means
    * 4× more index in page cache and 4× cheaper pair scoring), with JL
    * distance preservation in expectation and recall measured, not
    * assumed (the s13 gate scores projected-space answers against the
    * exact full-dimension top-k). Each output coordinate is one
    * codegen'd integer dot with a LITERAL matrix row — scan-stage, no
    * joins, exact longs on any engine.
    */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
      outDims: Int, inDims: Int): DataFrame = {
    val rows = rademacherMatrix(outDims, inDims)
    // quantize ONCE behind a projection boundary, then one native dot
    // per output dim against the literal row (the :39 index stance)
    index(widen(df).select(col(idCol), quantize(col(vecCol)).as("__qv"))
      .select(col(idCol), array((0 until outDims).map(i =>
        dotQ(col("__qv"), typedlit(rows(i).toSeq))): _*).as("pv")))
  }

  /** LSH-bucketed ANN: search only within the query's sign bucket. At scale
    * the corpus is hash-partitioned by bucket (pre-bucketed corpus tables
    * make this a co-located join); recall < 1 by construction.
    */
  def bucketedTopK(df: DataFrame, idCol: String, vecCol: String,
      k: Int, bits: Int = 8): DataFrame = {
    val q = index(widen(df)
      .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("qv"))
      .withColumn("bucket", signBucket(col("qv"), bits)))
    val c = q.select(col("query_id").as("neighbor_id"), col("qv").as("cv"),
      col("bucket"))
    val scored = q.join(c, "bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("bucket"), col("query_id"), col("neighbor_id"),
        cosineFromQ(dotQ(col("qv"), col("cv")),
          normSqQ(col("qv")), normSqQ(col("cv"))).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc_nulls_last, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "bucket", "cosine")
  }

  /** IVF coarse quantizer: `nCentroids` deterministic pseudo-random
    * DIRECTIONS in quantized milli-units, derived from md5 so any engine
    * can reproduce them: raw `(md5_28("ivf-c-d") mod 2001) − 1000` coords
    * rescaled to a common norm of 1000 (`trunc(raw·1000/|raw|)`).
    *
    * The rescale is load-bearing at scale: raw md5 coords have norms
    * varying by hundreds of percent, while embedding corpora are
    * unit-norm — under L2 assignment the `|c|²` term then dominates
    * `−2·v·c` and the smallest-norm centroid swallows the corpus
    * (measured at sf1: 18674 of 20000 vectors in ONE of 142 lists,
    * ~350M candidate pairs in s6). Equal-norm centroids make assignment
    * angular (argmin L2 = argmax v·c), and random DIRECTIONS split a
    * unit-norm corpus near-evenly. All arithmetic stays exact across
    * engines: Σraw², raw·1000, and both operands of the division are
    * integers < 2⁵³, so the double quotient and its truncation are
    * bit-identical in Spark and DuckDB.
    *
    * A production engine would train these with k-means over a sample
    * ([[trainIvfCentroids]]); the assignment/search plumbing is
    * identical either way.
    */
  def ivfCentroids(nCentroids: Int, dims: Int): Seq[(Int, Seq[Long])] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h28(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 7)
      java.lang.Long.parseLong(hex, 16)
    }
    (0 until nCentroids).map { c =>
      val raw = (0 until dims).map(d => h28(s"ivf-$c-$d") % 2001 - 1000)
      val nrm = math.max(1.0, math.sqrt(raw.map(x => (x * x).toDouble).sum))
      c -> raw.map(x => (x * 1000.0 / nrm).toLong)
    }
  }

  /** IVF list assignment: nearest centroid by exact integer squared
    * distance (ties → smallest centroid id). Input rows:
    * (idCol, qv: array<long>); output adds `centroid_id`.
    *
    * Implemented as ONE scan-stage projection — the centroid matrix is
    * carried as DATA on a single codegen'd expression
    * ([[graft.functions.NearestCentroids]]: fused multiply-accumulate,
    * `−2·q·c_i + |c_i|²` with norms precomputed per plan, ties to the
    * smaller id). The earlier formulation built an `array_min` over k
    * literal (distance, id) structs — an O(k·dims)-NODE expression tree
    * that planned and evaluated superlinearly at the sqrt(n) centroid
    * counts a real corpus needs (k=142 at sf1: 17.9 s → this form,
    * one plan-data matrix, runs it at scan speed). No crossJoin, no
    * shuffle, no window: at 100 TB assignment costs exactly one pass
    * over the corpus.
    */
  def ivfAssign(df: DataFrame, idCol: String, qvCol: String,
      centroids: Seq[(Int, Seq[Long])]): DataFrame = {
    val dims = centroids.head._2.length
    df.withColumn("centroid_id", element_at(
      graft.functions.nearest_centroids(col(qvCol), centroids, dims, 1), 1))
  }

  /** Deterministic Lloyd's k-means over quantized vectors — trains the
    * IVF coarse quantizer so list sizes follow the data distribution.
    * What training buys is BALANCE, which bounds the per-probe scan:
    * measured at sf0.01/k=16, md5-random centroids leave one list with
    * 42% of the corpus (probing it ≈ scanning the corpus) while trained
    * lists max out near the mean. At equal nprobe a giant random list
    * can LOOK better on recall — by doing brute force in disguise.
    * Initialization is deterministic (the k vectors with the smallest
    * ids — reproducible across runs and engines); each iteration is one
    * distributed pass: assign via the literal-centroid projection, then
    * average per list (integer mean, HALF_UP via (sum + n/2) / n on
    * non-negative… values may be negative, so plain truncating division
    * keeps determinism instead). Empty lists keep their previous
    * centroid. Driver holds only k × dims longs.
    */
  def trainIvfCentroids(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iterations: Int = 5): Seq[(Int, Seq[Long])] = {
    // quantize once at full width, materialize: every iteration reads the
    // checkpointed longs instead of re-scanning + re-quantizing the corpus
    val q = index(widen(df)
      .select(col(idCol).as("__id"), quantize(col(vecCol)).as("__qv")))
    var centroids: Seq[(Int, Seq[Long])] = q.orderBy(col("__id")).limit(k)
      .collect().toIndexedSeq.zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Long](r.fieldIndex("__qv")).toSeq }
    require(centroids.nonEmpty, "trainIvfCentroids: empty corpus")
    // dims falls out of the init collect — no separate head() job
    val dims = centroids.head._2.length
    for (_ <- 1 to iterations) {
      val assigned = ivfAssign(q, "__id", "__qv", centroids)
      val sums = assigned.groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("n"),
          array((0 until dims).map(d =>
            sum(element_at(col("__qv"), d + 1))): _*).as("sums"))
        .collect()
        .map(r => r.getAs[Int]("centroid_id") ->
          (r.getAs[Long]("n"), r.getSeq[Long](r.fieldIndex("sums"))))
        .toMap
      centroids = centroids.map { case (c, prev) =>
        sums.get(c) match {
          case Some((n, s)) => c -> s.map(_ / n).toSeq
          case None         => c -> prev // empty list keeps its centroid
        }
      }
    }
    centroids
  }

  /** Multi-probe IVF assignment: each row explodes into its `nprobe`
    * NEAREST coarse lists (by exact integer distance, ties to smaller
    * id). Query-side only — the corpus keeps single-list assignment;
    * probing more lists trades extra partition reads for recall, the
    * standard IVF recall lever. Same fused
    * [[graft.functions.NearestCentroids]] pass as [[ivfAssign]], keeping
    * the best `nprobe` (distance, id) pairs in a k-bounded insertion
    * buffer per row; no shuffle.
    */
  def ivfAssignProbe(df: DataFrame, idCol: String, qvCol: String,
      centroids: Seq[(Int, Seq[Long])], nprobe: Int): DataFrame = {
    val dims = centroids.head._2.length
    df.withColumn("centroid_id", explode(
      graft.functions.nearest_centroids(col(qvCol), centroids, dims, nprobe)))
  }

  /** IVF ANN with multi-probe queries: corpus vectors live in ONE list;
    * each query searches its `nprobe` nearest lists. A (query, neighbor)
    * pair appears at most once (the neighbor's list is unique), so no
    * dedup is needed before ranking.
    */
  def ivfTopKProbe(df: DataFrame, idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 16, dims: Int = 64, nprobe: Int = 4,
      queryFilter: Column = lit(true),
      corpusFilter: Column = lit(true)): DataFrame =
    ivfTopKProbeWith(df, idCol, vecCol, k, ivfCentroids(nCentroids, dims),
      nprobe, queryFilter, corpusFilter)

  /** [[ivfTopKProbe]] with caller-supplied centroids (e.g. trained via
    * [[trainIvfCentroids]]).
    */
  def ivfTopKProbeWith(df: DataFrame, idCol: String, vecCol: String, k: Int,
      cents: Seq[(Int, Seq[Long])], nprobe: Int = 4,
      queryFilter: Column = lit(true),
      corpusFilter: Column = lit(true)): DataFrame = {
    val q = index(ivfAssignProbe(
      df.filter(queryFilter)
        .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("qv")),
      "query_id", "qv", cents, nprobe))
    // metadata PRE-filter: excluded corpus rows are dropped at the scan,
    // before quantization, assignment, or scoring — filtered vector
    // search that never under-fills k and never scores a row it discards
    val c = index(ivfAssign(
      widen(df).filter(corpusFilter)
        .select(col(idCol).as("neighbor_id"), quantize(col(vecCol)).as("cv")),
      "neighbor_id", "cv", cents))
    val scored = q.join(c, "centroid_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineFromQ(dotQ(col("qv"), col("cv")),
          normSqQ(col("qv")), normSqQ(col("cv"))).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc_nulls_last, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** Train-then-search IVF — the production entry point: k-means-trained
    * coarse lists ([[trainIvfCentroids]]) follow the data distribution,
    * so no list degenerates into a corpus-sized cell (md5-random
    * centroids measured 42% of sf0.01 in ONE list — probing it is brute
    * force in disguise; trained lists max out near the mean, which is
    * what bounds the per-probe scan at 100 TB). The md5-centroid
    * [[ivfTopK]]/[[ivfTopKProbe]] defaults remain for engine-portable
    * reproducibility (any engine can re-derive those centroids; trained
    * ones depend on the corpus). Training cost: `iterations` distributed
    * passes over the corpus; driver holds k × dims longs.
    */
  def ivfTrainedTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 16, nprobe: Int = 4,
      queryFilter: Column = lit(true), iterations: Int = 5): DataFrame = {
    val cents = trainIvfCentroids(df, idCol, vecCol, nCentroids, iterations)
    ivfTopKProbeWith(df, idCol, vecCol, k, cents, nprobe, queryFilter)
  }

  /** IVF ANN: assign every vector to its coarse list, then search only
    * within the query's list (nprobe=1). At scale the corpus is stored
    * partitioned by centroid_id, so a probe touches one partition.
    * Uses md5-derived centroids for engine-portable reproducibility;
    * prefer [[ivfTrainedTopK]] (or [[ivfTopKWith]] + trained centroids)
    * for balanced lists on real corpora.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 16, dims: Int = 64): DataFrame =
    ivfTopKWith(df, idCol, vecCol, k, ivfCentroids(nCentroids, dims))

  /** [[ivfTopK]] with caller-supplied centroids (e.g. trained via
    * [[trainIvfCentroids]]).
    */
  def ivfTopKWith(df: DataFrame, idCol: String, vecCol: String, k: Int,
      cents: Seq[(Int, Seq[Long])]): DataFrame = {
    val q = index(ivfAssign(
      widen(df).select(col(idCol).as("query_id"), quantize(col(vecCol)).as("qv")),
      "query_id", "qv", cents))
    val c = q.select(col("query_id").as("neighbor_id"), col("qv").as("cv"),
      col("centroid_id"))
    val scored = q.join(c, "centroid_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("centroid_id"), col("query_id"), col("neighbor_id"),
        cosineFromQ(dotQ(col("qv"), col("cv")),
          normSqQ(col("qv")), normSqQ(col("cv"))).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc_nulls_last, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "centroid_id", "cosine")
  }

  /** Persist the IVF index: the quantized corpus written to parquet
    * PARTITIONED BY its coarse list (`centroid_id=<c>/` directories).
    * This is the durable form of the [[index]] barrier — at 100 TB the
    * assigned corpus is built once and every probe afterward reads only
    * its lists' partitions (directory-level pruning, no full scan, no
    * assignment recompute). Pair with [[ivfTopKFromIndex]].
    */
  def writeIvfIndex(df: DataFrame, idCol: String, vecCol: String,
      path: String, cents: Seq[(Int, Seq[Long])]): Unit = {
    ivfAssign(
      df.select(col(idCol).as("vec_id"), quantize(col(vecCol)).as("qv")),
      "vec_id", "qv", cents)
      .write.partitionBy("centroid_id").mode("overwrite").parquet(path)
    // self-describing index: persist the coarse centroids in an
    // underscore-prefixed subdir (parquet readers skip `_*` paths, so
    // scanning the index never picks these up as data). Appends and
    // probes then reload the EXACT centroids the lists were built with —
    // assigning new vectors with re-derived centroids would silently
    // corrupt list membership.
    val sp = df.sparkSession
    import sp.implicits._
    cents.toDF("centroid_id", "qv").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_centroids")
  }

  /** The centroids a persisted index was built with (k rows — bounded).
    * Falls back to — and restores from — the sibling backup a crashed
    * [[compactIvfIndex]] leaves behind (the compaction swap rewrites the
    * store dir, and the in-dir sidecar is the last thing re-written).
    */
  def readIvfCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Int, Seq[Long])] = {
    val sidecar = java.nio.file.Paths.get(s"$path/_centroids")
    val backup = centroidsBackupPath(path)
    if (!java.nio.file.Files.exists(sidecar) &&
        java.nio.file.Files.exists(backup)) {
      spark.read.parquet(backup.toString).coalesce(1)
        .write.mode("overwrite").parquet(sidecar.toString)
    }
    spark.read.parquet(sidecar.toString).collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1).toSeq)
      .sortBy(_._1).toSeq
  }

  private def centroidsBackupPath(path: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(path)
    p.resolveSibling(p.getFileName.toString + "__centroids_backup")
  }

  /** Incremental index maintenance: assign NEW vectors with the index's
    * own stored centroids (scan-stage projection, no shuffle) and append
    * them into the existing `centroid_id=` partition directories. The
    * index stays probe-identical to a full rebuild over old ∪ new —
    * list membership is a pure function of (vector, centroids) and the
    * centroids are immutable once written. Compact the accreted small
    * files with [[compactIvfIndex]] on a cadence — NOT the generic
    * `StoreMaintenance.compact`, which would flatten the `centroid_id=`
    * partition layout and drop the `_centroids` sidecar (parquet reads
    * skip underscore paths, so the rewrite wouldn't carry it). Re-train
    * + rebuild only when drift degrades recall.
    */
  def appendToIvfIndex(df: DataFrame, idCol: String, vecCol: String,
      path: String): Unit =
    ivfAssign(
      df.select(col(idCol).as("vec_id"), quantize(col(vecCol)).as("qv")),
      "vec_id", "qv", readIvfCentroids(df.sparkSession, path))
      .write.partitionBy("centroid_id").mode("append").parquet(path)

  /** Index-aware compaction: folds the small files [[appendToIvfIndex]]
    * accretes back into size-targeted files while PRESERVING what makes
    * the index an index — the `centroid_id=` partition directories
    * (probe-time pruning) and the `_centroids` sidecar (reloaded before
    * the rewrite, rewritten after, since parquet reads skip `_` paths
    * and a generic compaction would silently drop it). Same crash-safe
    * swap as `StoreMaintenance.compact`.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, targetBytes: Long = 128L * 1024 * 1024): Long = {
    import spark.implicits._
    val cents = readIvfCentroids(spark, path) // k rows, survives the swap
    // the swap rewrite drops `_centroids` (parquet reads skip `_` paths)
    // and the in-dir sidecar is only re-written AFTER the swap — a crash
    // in between would lose the centroids FOREVER (re-deriving different
    // ones silently corrupts list membership). Persist a SIBLING backup
    // first; readIvfCentroids restores from it if the crash wins.
    val backup = centroidsBackupPath(path)
    cents.toDF("centroid_id", "qv").coalesce(1)
      .write.mode("overwrite").parquet(backup.toString)
    val n = graft.pipeline.StoreMaintenance.compact(
      spark, path, targetBytes, partitionBy = Seq("centroid_id"))
    cents.toDF("centroid_id", "qv").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_centroids")
    // sidecar re-established — the backup has served its purpose
    org.apache.hadoop.fs.FileUtil.fullyDelete(backup.toFile)
    n
  }

  /** Multi-probe top-k against a persisted index: queries assign to
    * their `nprobe` nearest lists and the corpus side is the INDEX SCAN
    * — the `centroid_id` join key is a partition column, so after the
    * probe join only the probed directories are read (plan shows
    * PartitionFilters once the probe set is a literal list; with a
    * dynamic probe side, runtime DPP/bloom filtering applies). Results
    * are identical to [[ivfTopKProbeWith]] on the same centroids.
    */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, idCol: String, vecCol: String, indexPath: String,
      k: Int, cents: Seq[(Int, Seq[Long])], nprobe: Int = 4): DataFrame = {
    val q = index(ivfAssignProbe(
      queries.select(col(idCol).as("query_id"), quantize(col(vecCol)).as("qv")),
      "query_id", "qv", cents, nprobe))
    val c = spark.read.parquet(indexPath)
      .select(col("vec_id").as("neighbor_id"), col("qv").as("cv"),
        col("centroid_id"))
    val scored = q.join(c, "centroid_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineFromQ(dotQ(col("qv"), col("cv")),
          normSqQ(col("qv")), normSqQ(col("cv"))).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc_nulls_last, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** Embedding-cosine near-duplicate pairs: id1 < id2 with cosine above
    * `thresholdPpm/1e6`, decided in EXACT integer arithmetic:
    * `dot > 0 && dot^2 * 10^12 >= t^2 * |a|^2 * |b|^2` — no float boundary.
    * Pairs are blocked by sign bucket (near-identical vectors share it).
    */
  /** Banded multi-probe blocking for [[cosineNearDupPairsBanded]] over an
    * ALREADY-QUANTIZED frame: one row per (id, band) with that band's
    * sign bucket over `bitsPerBand` DETERMINISTIC RANDOM HYPERPLANES
    * (Rademacher rows of [[rademacherMatrix]], hyperplane index
    * `band*bitsPerBand + j`) — the general form of [[signBucket]]'s
    * axis-aligned planes. Using hyperplanes instead of raw dimensions
    * frees the band budget from the 64-dim axis supply: 8 bands × 24
    * bits needs 192 planes, which axis slicing cannot provide but the
    * hash-derived matrix can, so the bucket count per band keeps scaling
    * with the corpus while the band count (the recall lever) stays
    * fixed. Taking quantized input lets a persisted index path feed one
    * quantization to both the vector sidecar and the band rows. Output
    * columns are named after the input (`idCol`, `qvCol`) plus
    * `band`/`bucket`.
    */
  def bandedSignBucketsQ(qdf: DataFrame, idCol: String, qvCol: String,
      bands: Int, bitsPerBand: Int, dims: Int = 64): DataFrame = {
    require(bands > 0 && bitsPerBand > 0 && bitsPerBand <= 30,
      s"need bands > 0 and 0 < bitsPerBand <= 30, got $bands/$bitsPerBand")
    val rows = rademacherMatrix(bands * bitsPerBand, dims)
    // ONE fused expression for all bands·bitsPerBand hyperplane dots
    // (r16): the per-bit `when(dotQ(qv, typedLit(row)) > 0, 1<<j)`
    // column pile was 200+ expression nodes at 24 bands — past the
    // codegen method limits, so the projection ran INTERPRETED with
    // boxed literal-array access (~1.7 µs/dot; StageProfile s17: 46 s
    // task CPU to band 2 000 vectors). BandSignBuckets carries the
    // matrix as plan data (the NearestCentroids stance) and evaluates
    // one primitive multiply-accumulate loop per row — identical
    // buckets (exact long dots, strict > 0, same bit order, null
    // vector → bucket 0 per band).
    qdf.select(col(idCol), col(qvCol),
      posexplode(graft.functions.band_sign_buckets(col(qvCol), rows,
        bands, bitsPerBand)).as(Seq("band", "bucket")))
  }

  /** [[cosineNearDupPairs]] with MEASURABLY higher recall at moderate
    * thresholds: candidates are proposed when the endpoints' sign
    * buckets agree in ANY of `bands` independent hyperplane bands,
    * optionally widened by 1-bit multi-probe (`probe1`: each row also
    * probes the `bitsPerBand` one-bit-flip neighbor buckets, i.e. a
    * band proposes at Hamming distance ≤ 1). Confirmation is the same
    * exact integer cosine test — blocking only ever costs recall, never
    * precision, and the s16 gate measures that recall against the
    * brute-force pair set (sf0.1 @ cosine 0.4: single-band 2%, 8 bands
    * + probe 76%). Cost model per corpus row: bands·bitsPerBand
    * codegen'd dots scan-side, then (probe1 ? bitsPerBand+1 : 1)·bands
    * bucket-join probes of ~targetBucketSize candidates each — linear
    * in the corpus with a tunable constant, never all-pairs. The
    * residual miss mass is LSH-fundamental at cosine 0.4 (per-plane
    * agreement ~0.63); raise `bands` to buy recall linearly in cost.
    */
  /** DISTINCT directed banded candidate pairs `(id1, v1, id2, v2)`: the
    * probe-side row proposes every base-side row sharing any band cell
    * within Hamming ≤ 1 (when `probe1`). BOTH ordered directions of a
    * colliding pair appear (each side probes); callers canonicalize
    * (`id1 < id2`) or keep directions (k-NN graph).
    *
    * Plan shape (guide §8 — decide with small rows, move big rows once):
    * a pair colliding in several (band, probe) cells used to be SCORED
    * once per cell — at 24 bands × 6 probes the collision stream runs
    * ~10× the unique-pair set, and each collision row carried BOTH
    * 64-long vectors through the join and paid the dot/norm expressions
    * before a `distinct` threw the copies away (measured 115 s of task
    * CPU on s17 at sf0.1). Now the band join carries only `(id, band,
    * bucket)` ints, the `distinct` collapses the collision stream to
    * unique `(id1, id2)` pairs map-side BEFORE any vector attaches, and
    * the quantized vectors join back once per unique pair. The band-row
    * frame is built once and reused on both sides of the self-join
    * (`localCheckpoint` — the [[index]] rationale), and the vector frame
    * is index-sized, so the planner broadcasts it at gate scale and
    * key-shuffles the narrow pair list at corpus scale.
    */
  /** `dedupPairs = true` inserts a DISTINCT on the narrow `(id1, id2)`
    * stream before vectors attach — for consumers that keep (and rank)
    * every candidate, where a pair scored once per colliding cell would
    * corrupt the ranking input volume (k-NN graph, contrastive mining).
    * Threshold-gated consumers pass `false`: their confirm filter kills
    * the overwhelming share of candidates, so deduping the tiny
    * CONFIRMED set after the gate is far cheaper than a corpus-pair
    * exchange before it (measured: the 8-band d22 stream dedupes only
    * 1.19× but costs a 1.4M-row exchange to try).
    */
  private def bandedCandidatesRaw(df: DataFrame, idCol: String,
      vecCol: String, bands: Int, bitsPerBand: Int,
      probe1: Boolean, dedupPairs: Boolean = true): DataFrame = {
    val qdf = index(widen(df)
      .select(col(idCol).as("id"), quantize(col(vecCol)).as("qv")))
    // norms ride the (materialized) vector frame: one 64-step loop per
    // VECTOR per join side, instead of two per candidate PAIR
    val qn = qdf.withColumn("nsq", normSqQ(col("qv")))
    val base = index(
      bandedSignBucketsQ(qdf, "id", "qv", bands, bitsPerBand)
        .select(col("id"), col("band"), col("bucket")))
    val flips = if (probe1) 0 to bitsPerBand else 0 to 0
    val probes = base.select(col("id").as("id1"), col("band"),
      explode(array(flips.map(f =>
        if (f == 0) col("bucket")
        else col("bucket").bitwiseXOR(lit(1 << (f - 1)))): _*)).as("bucket"))
    val stream = probes
      .join(base.select(col("id").as("id2"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select(col("id1"), col("id2"))
    // EXPLICIT width after the DISTINCT (r16): the deduped (id1, id2)
    // exchange is a few MB of long pairs, so byte-sized AQE coalescing
    // collapsed the stage BEHIND it — vector attach + the per-pair
    // 64-long dot/gate, the most CPU-dense stage of every banded
    // consumer — to 8 tasks at the default 1m floor (StageProfile s20:
    // 5.1 s CPU, 0.83 s wall on 8 tasks). The pin is keyed on id1, the
    // SAME key every downstream rank window partitions by, so the
    // window's own ENSURE exchange is elided (guide §2.4) and the net
    // exchange count is unchanged — and the pinned exchange carries
    // narrow id pairs where the window's used to carry scored rows.
    // The distinct's own ENSURE exchange stays bytes-sized (AQE), so
    // map-side partial dedup of the collision stream is preserved.
    val width = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val pairs = if (dedupPairs) stream.distinct()
      .repartition(width, col("id1")) else stream
    pairs
      .join(qn.select(col("id").as("id1"), col("qv").as("v1"),
        col("nsq").as("n1")), "id1")
      .join(qn.select(col("id").as("id2"), col("qv").as("v2"),
        col("nsq").as("n2")), "id2")
  }

  def cosineNearDupPairsBanded(df: DataFrame, idCol: String, vecCol: String,
      thresholdPpm: Long, bands: Int, bitsPerBand: Int,
      probe1: Boolean = true): DataFrame = {
    val cand = bandedCandidatesRaw(df, idCol, vecCol, bands, bitsPerBand,
        probe1, dedupPairs = false)
      .filter(col("id1") < col("id2"))
    val dot = dotQ(col("v1"), col("v2"))
    // a pair can collide in several (band, probe) cells — score the
    // stream with the cheap codegen'd gate and dedupe only the (small)
    // CONFIRMED set, never the candidate space
    cand.filter(graft.functions.cosine_gate_ppm(dot, col("n1"), col("n2"),
        thresholdPpm))
      .select(col("id1"), col("id2"), dot.as("dot_q"))
      .distinct()
  }

  /** k-NN GRAPH construction — every corpus vector's top-k cosine
    * neighbors among its banded multi-probe candidates: the corpus-scale
    * ANN-graph primitive behind semantic dedup sweeps, graph clustering,
    * and graph-based retrieval indexes. Directions are kept (each node
    * ranks ITS candidate list; the collision relation is symmetric so
    * both directions exist), ranking is deterministic (cosine desc,
    * neighbor id). Unlike the top-k queries (s1/s2), EVERY node is a
    * query — so the per-node work must be candidate-bounded, never
    * corpus-bounded: ≤ bands·(bitsPerBand+1)·bucket-size candidates per
    * node, deduped on the scored projection, ranked by a per-node window
    * whose partitions are that bounded list. Recall inherits the
    * measured s16 blocking curve.
    */
  def knnGraphBanded(df: DataFrame, idCol: String, vecCol: String, k: Int,
      bands: Int, bitsPerBand: Int, probe1: Boolean = true): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val scored = bandedCandidatesRaw(df, idCol, vecCol, bands, bitsPerBand,
        probe1)
      .filter(col("id1") =!= col("id2"))
      .select(col("id1").as("node_id"), col("id2").as("neighbor_id"),
        dotQ(col("v1"), col("v2")).as("dot_q"),
        col("n1").as("__n1"), col("n2").as("__n2"))
      .withColumn("cosine",
        cosineFromQ(col("dot_q"), col("__n1"), col("__n2")))
    val w = Window.partitionBy(col("node_id"))
      .orderBy(col("cosine").desc_nulls_last, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("node_id"), col("rank"), col("neighbor_id"),
        col("dot_q"), col("cosine"))
  }

  /** Contrastive training-pair mining — the emission step for training
    * embedding/retrieval models off the corpus itself: per anchor, up
    * to `kPos` POSITIVES (banded candidates at cosine ≥ posFloor —
    * near-dups, paraphrases, re-encodings) and up to `kNeg` HARD
    * NEGATIVES (banded candidates strictly below negCeil, ranked by
    * cosine DESC — the same-bucket almost-confusable pairs contrastive
    * losses need; random negatives are trivially separable and teach
    * nothing). Candidates in the margin [negCeil, posFloor) are
    * dropped — the standard margin-band exclusion.
    *
    * Class membership is the exact integer threshold test (dot²·10¹²
    * vs n1·n2·ppm², decimal-exact) — no float boundary; only the
    * in-class ranking uses the IEEE cosine, which both engines compute
    * bit-identically. Per-anchor work is candidate-bounded (≤ bands·
    * (bitsPerBand+1)·bucket-size, the s16-measured blocking), so the
    * rank window partitions are bounded lists, never corpus rows.
    *
    * Output: `(anchor_id, role, rank, pair_id, dot_q, cosine)`.
    */
  def contrastivePairs(df: DataFrame, idCol: String, vecCol: String,
      kPos: Int, kNeg: Int, posFloorPpm: Long, negCeilPpm: Long,
      bands: Int, bitsPerBand: Int, probe1: Boolean = true): DataFrame = {
    require(kPos > 0 && kNeg > 0, "kPos and kNeg must be positive")
    require(posFloorPpm > negCeilPpm,
      "positive floor must sit above the negative ceiling (margin band)")
    val scored = bandedCandidatesRaw(df, idCol, vecCol, bands, bitsPerBand,
        probe1)
      .filter(col("id1") =!= col("id2"))
      .select(col("id1").as("anchor_id"), col("id2").as("pair_id"),
        dotQ(col("v1"), col("v2")).as("dot_q"),
        col("n1").as("__n1"), col("n2").as("__n2"))
    def atLeast(ppm: Long) = graft.functions.cosine_gate_ppm(
      col("dot_q"), col("__n1"), col("__n2"), ppm)
    val labeled = scored
      .withColumn("role", when(atLeast(posFloorPpm), "pos")
        .when(!atLeast(negCeilPpm), "neg"))
      .filter(col("role").isNotNull)
      .withColumn("cosine",
        cosineFromQ(col("dot_q"), col("__n1"), col("__n2")))
    val w = Window.partitionBy(col("anchor_id"), col("role"))
      .orderBy(col("cosine").desc_nulls_last, col("pair_id"))
    labeled.withColumn("rank", row_number().over(w))
      .filter(col("role") === "pos" && col("rank") <= kPos ||
        col("role") === "neg" && col("rank") <= kNeg)
      .select(col("anchor_id"), col("role"), col("rank"), col("pair_id"),
        col("dot_q"), col("cosine"))
  }

  /** Per-group centroid similarity matrix: each group's (unnormalized)
    * centroid is the elementwise SUM of its quantized vectors — cosine
    * is scale-invariant, so the sum stands in for the mean with zero
    * integer-division loss — and every group pair gets the exact
    * integer centroid dot plus an IEEE cosine. The corpus-composition
    * audit: which sources/domains are semantically redundant and which
    * cover distinct regions of embedding space.
    *
    * Shape: one posexplode pass → per-(group, dim) sums (the sufficient
    * statistic, |groups|·dims rows — index-sized from there on,
    * whatever the corpus size); the pair matrix is a dim-equi self-join
    * of THAT frame, bounded by dims·|groups|², never corpus rows.
    * Norms here are centroid-sum norms (≈ corpusSize²·10⁶ per cell at
    * the extreme), so the cosine divides by `sqrt(na)·sqrt(nb)` rather
    * than `sqrt(na·nb)` — the product form [[cosineFromQ]] uses would
    * overflow long for summed vectors.
    *
    * Output: `(g1, g2, n_a, n_b, dot_q, cosine)` for g1 < g2.
    */
  def groupCentroidCosines(df: DataFrame, groupCol: String,
      vecCol: String): DataFrame = {
    val e = widen(df).select(col(groupCol).as("g"),
        posexplode(quantize(col(vecCol))).as(Seq("dim", "v")))
    val sums = e.groupBy(col("g"), col("dim"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n_g"))
      .localCheckpoint(eager = false) // norms + the pair join share it
    val norms = sums.groupBy(col("g"))
      .agg(sum(col("sv") * col("sv")).as("nn"), max(col("n_g")).as("n_vecs"))
    val dots = sums.as("a").join(sums.as("b"),
        col("a.dim") === col("b.dim") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("g1"), col("b.g").as("g2"))
      .agg(sum(col("a.sv") * col("b.sv")).as("dot_q"))
    dots
      .join(norms.select(col("g").as("g1"), col("nn").as("n1"),
        col("n_vecs").as("n_a")), "g1")
      .join(norms.select(col("g").as("g2"), col("nn").as("n2"),
        col("n_vecs").as("n_b")), "g2")
      .select(col("g1"), col("g2"), col("n_a"), col("n_b"), col("dot_q"),
        when(col("n1") > 0 && col("n2") > 0,
          col("dot_q").cast("double") /
            (sqrt(col("n1").cast("double")) * sqrt(col("n2").cast("double"))))
          .as("cosine"))
  }

  /** Asymmetric EXACT near-pair scan — the decontamination primitive:
    * every `evalSide` vector against every `corpus` vector, confirmed
    * by the same exact integer cosine test the blocked pair operators
    * use (`dot > 0 && dot²·10¹² ≥ t²·|a|²·|b|²`, decimal-exact), with
    * NO blocking stage — recall is 10⁶ ppm BY CONSTRUCTION. This is
    * the answer to the s16 measurement: LSH blocking at a leakage
    * threshold like cosine 0.4 misses a quarter of the true pairs
    * (76% recall for 8 bands + 1-bit probe), and for eval-set
    * decontamination a miss IS a contaminated benchmark. Eval/val
    * splits are tiny relative to the corpus by construction, so the
    * asymmetric shape is affordable where symmetric exactness is not:
    * broadcast the quantized eval vectors (a BroadcastNestedLoopJoin —
    * the corpus never shuffles), ONE linear corpus scan, |eval|·dims
    * multiply-accumulates per corpus row. Keep the banded blocking
    * ([[cosineNearDupPairsBanded]]) for corpus×corpus dedup, where
    * both sides are big and ~0.9 thresholds make blocking near-exact.
    *
    * Output: `(eval_id, corpus_id, dot_q)`, one DIRECTED row per
    * confirmed pair with `eval_id ≠ corpus_id` — two eval-side rows
    * above threshold appear in both directions; callers canonicalize.
    */
  def exactNearPairsAsym(evalSide: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, thresholdPpm: Long): DataFrame = {
    val q = evalSide.select(col(idCol).as("eval_id"),
      quantize(col(vecCol)).as("qv"))
    val c = index(widen(corpus).select(col(idCol).as("corpus_id"),
      quantize(col(vecCol)).as("cv")))
    val dot = dotQ(col("qv"), col("cv"))
    broadcast(q).crossJoin(c)
      .filter(col("eval_id") =!= col("corpus_id"))
      .filter(graft.functions.cosine_gate_ppm(dot,
        normSqQ(col("qv")), normSqQ(col("cv")), thresholdPpm))
      .select(col("eval_id"), col("corpus_id"), dot.as("dot_q"))
  }

  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      thresholdPpm: Long, bits: Int = 8): DataFrame = {
    val q = index(df
      .select(col(idCol).as("id1"), quantize(col(vecCol)).as("v1"))
      .withColumn("bucket", signBucket(col("v1"), bits)))
    val c = q.select(col("id1").as("id2"), col("v1").as("v2"), col("bucket"))
    val dot = dotQ(col("v1"), col("v2"))
    q.join(c, "bucket")
      .filter(col("id1") < col("id2"))
      .filter(graft.functions.cosine_gate_ppm(dot,
        normSqQ(col("v1")), normSqQ(col("v2")), thresholdPpm))
      .select(col("id1"), col("id2"), dot.as("dot_q"))
  }
}
