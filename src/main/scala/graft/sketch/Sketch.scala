package graft.sketch

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic cardinality sketching. Spark's approx_count_distinct
  * (HyperLogLog++) is engine-specific — no other system reproduces its
  * estimate, so it can't be oracle-checked and two stacks disagree on
  * the same data. The K-Minimum-Values sketch estimates distinct counts
  * from the k smallest values of a uniform hash: with md5-derived
  * hashes the k-minima are a pure function of the DATA, so any engine
  * computes the identical sketch AND the identical estimate.
  *
  * Estimator (Bar-Yossef et al. 2002): with h_k = the k-th smallest
  * hash over a space of size U, distinct ≈ (k-1) · U / h_k. Exact
  * integer arithmetic below 2^53 keeps engines bit-equal.
  *
  * Scale: one hash-aggregate for distinct hashes, then a global top-k
  * (TakeOrdered — no full sort). Mergeable: the sketch of a union is
  * the k smallest of the concatenated minima — store per-partition
  * sketches and fold.
  */
object Sketch {

  val HashSpace: Long = 1L << 40 // md5-derived 40-bit hashes

  /** 40-bit md5-derived hash of a value (uniform over [0, 2^40)). */
  def hash40(c: Column): Column =
    conv(substring(md5(c.cast("string").cast("binary")), 1, 10), 16, 10)
      .cast("long")

  /** The KMV sketch: the k smallest DISTINCT hash values of `valueCol`,
    * ascending. (distinct-hash aggregate + top-k; both shuffles are on
    * tiny keys.)
    */
  def kmvSketch(df: DataFrame, valueCol: String, k: Int): DataFrame =
    df.select(hash40(col(valueCol)).as("h")).distinct()
      .orderBy(col("h")).limit(k)

  /** Merge two KMV sketch frames (column `h`): distinct union cut back
    * to the k minima. KMV's defining property — the k minima of a union
    * are a pure function of the two sides' k minima — makes the merged
    * store IDENTICAL to the sketch of the combined data, so an
    * incremental cardinality store accreted batch by batch never drifts
    * from a one-shot profile (t26 gates this end-to-end against the
    * one-shot oracle).
    */
  def mergeKmvSketches(a: DataFrame, b: DataFrame, k: Int): DataFrame =
    a.unionByName(b).distinct().orderBy(col("h")).limit(k)

  /** Distinct-count estimate from an already-built sketch frame. */
  def estimateFromSketch(sk: DataFrame, k: Int): DataFrame =
    // (k-1)·U stays < 2^53; DIV is true integer division (double
    // division + floor can flip at exact-divisor boundaries)
    sk.agg(count(lit(1)).as("n"), max(col("h")).as("hk"))
      .select(
        when(col("n") < k, col("n"))
          .otherwise(expr(s"${(k - 1).toLong * HashSpace}L DIV hk"))
          .cast("long").as("distinct_estimate"),
        col("n").cast("long").as("sketch_size"))

  /** Distinct-count estimate: exact integers, identical on every
    * engine. When fewer than k distinct hashes exist the count is exact
    * (the sketch IS the distinct set).
    */
  def kmvEstimate(df: DataFrame, valueCol: String, k: Int): DataFrame =
    estimateFromSketch(kmvSketch(df, valueCol, k), k)

  /** Typed `Aggregator` building a KMV sketch PER GROUP: the buffer is
    * the ascending k-minima of the distinct hashes seen so far, so
    * partial (map-side) aggregation and shuffle-merge both apply — each
    * partition ships at most k longs per group, never the distinct set.
    * The per-group form approx_count_distinct can't give us: engine-
    * portable (pure function of the data) and therefore oracle-checkable.
    */
  final case class KmvAggregator(k: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      Long, Array[Long], Array[Long]] {
    override def zero: Array[Long] = Array.empty
    override def reduce(b: Array[Long], h: Long): Array[Long] =
      if (b.length == k && h >= b(k - 1)) b // above the k-th min: no-op
      else if (java.util.Arrays.binarySearch(b, h) >= 0) b // dup hash
      else {
        val nb = (b :+ h).sorted
        if (nb.length > k) nb.take(k) else nb
      }
    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] =
      (b1 ++ b2).distinct.sorted.take(k)
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Misra–Gries heavy-hitters sketch as a typed Aggregator: at most
    * `k` (token → lower-bound count) counters per buffer, so map-side
    * partials ship k entries per partition regardless of vocabulary
    * size — where an exact top-k ([[graft.queries]] t9's explode +
    * groupBy) shuffles one key per distinct token, a non-starter at a
    * 100 TB vocabulary. Guarantees: every item with true frequency
    * > N/(k+1) survives, and each reported count undercounts by at most
    * the total decrement. Deterministic given the data (merge order
    * affects only which sub-threshold stragglers remain, so callers
    * threshold the output; in the exact regime — fewer than k distinct
    * items — counts are exact and partition-independent).
    */
  /** Mutable Misra–Gries buffer: k-slot parallel arrays plus a fill
    * count. `reduce` mutates in place — the per-row hot path of a
    * 100 TB aggregate allocates NOTHING (the previous immutable-`Map`
    * buffer allocated a new map per input row). Slots at index ≥ n are
    * never read; the buffer is encoded only at shuffle boundaries
    * (typed Aggregators hold the live object between rows).
    */
  final case class MGBuffer(keys: Array[String], counts: Array[Long],
      var n: Int)

  final case class MisraGriesAggregator(k: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      String, MGBuffer, Map[String, Long]] {
    override def zero: MGBuffer =
      MGBuffer(new Array[String](k), new Array[Long](k), 0)
    override def reduce(b: MGBuffer, x: String): MGBuffer = {
      var i = 0
      while (i < b.n && b.keys(i) != x) i += 1
      if (i < b.n) b.counts(i) += 1L
      else if (b.n < k) {
        b.keys(b.n) = x
        b.counts(b.n) = 1L
        b.n += 1
      } else { // decrement-all; compact out zeros (the classic MG step)
        var w = 0
        var r = 0
        while (r < b.n) {
          val c = b.counts(r) - 1L
          if (c > 0L) { b.keys(w) = b.keys(r); b.counts(w) = c; w += 1 }
          r += 1
        }
        // clear dropped tail so the shuffle encoder never ships stale keys
        java.util.Arrays.fill(b.keys.asInstanceOf[Array[AnyRef]], w, b.n, null)
        b.n = w
      }
      b
    }
    override def merge(b1: MGBuffer, b2: MGBuffer): MGBuffer = {
      // once per partition pair, not per row — clarity over allocation
      val sum = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      var i = 0
      while (i < b1.n) { sum.update(b1.keys(i),
        sum.getOrElse(b1.keys(i), 0L) + b1.counts(i)); i += 1 }
      i = 0
      while (i < b2.n) { sum.update(b2.keys(i),
        sum.getOrElse(b2.keys(i), 0L) + b2.counts(i)); i += 1 }
      // keep entries above the (k+1)-th largest count: at most k values
      // exceed it, so the k-slot output never overflows
      val cut = if (sum.size <= k) 0L
        else sum.values.toSeq.sorted(Ordering[Long].reverse)(k)
      val out = zero
      sum.foreach { case (t, c) =>
        val c2 = c - cut
        if (c2 > 0L) { out.keys(out.n) = t; out.counts(out.n) = c2; out.n += 1 }
      }
      out
    }
    override def finish(b: MGBuffer): Map[String, Long] =
      (0 until b.n).map(i => b.keys(i) -> b.counts(i)).toMap
    override def bufferEncoder: org.apache.spark.sql.Encoder[MGBuffer] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[MGBuffer]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  /** Count-min sketch (Cormode & Muthukrishnan 2005) as a bounded hash
    * aggregate. The sketch is a depth×width counter grid; item x
    * increments cell (r, h_r(x)) for each of the `depth` md5-derived
    * row hashes, and the frequency estimate is the MIN over the item's
    * `depth` cells — always ≥ the true count, over by at most the
    * collision mass in its emptiest cell.
    *
    * Spark-first form: no custom buffer needed. `posexplode` fans each
    * item to its `depth` (row, bucket) cells and ONE groupBy counts
    * them — the group domain is depth×width (a few thousand keys), so
    * map-side partial aggregation already ships a bounded partial per
    * partition regardless of item cardinality, which is exactly the
    * CMS merge property (grids add cell-wise). Engine-portable: the
    * cell counts are a pure function of the data, so DuckDB rebuilds
    * the identical grid and the estimates hash-match — unlike
    * approx_count_distinct-style sketches whose internals are
    * engine-private.
    */
  def cmsBucket(c: Column, row: Int, width: Int): Column =
    conv(substring(md5(concat(lit(s"$row:"), c.cast("string"))
        .cast("binary")), 1, 10), 16, 10)
      .cast("long") % width

  /** The sketch grid: one row per non-empty cell — (r, bucket, cnt). */
  def cmsSketch(df: DataFrame, valueCol: String, depth: Int,
      width: Int): DataFrame =
    df.select(posexplode(array(
        (0 until depth).map(r => cmsBucket(col(valueCol), r, width)): _*))
        .as(Seq("r", "bucket")))
      .groupBy(col("r"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Point estimates for `probes` (distinct values in `valueCol`):
    * min over the probe's `depth` cells. Inner join is sound for probes
    * drawn from the sketched data (every cell they touch is non-empty);
    * the sketch side is depth×width rows at most — broadcastable.
    */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, valueCol: String,
      depth: Int, width: Int): DataFrame = {
    val cells = probes.select(col("*"), posexplode(array(
        (0 until depth).map(r => cmsBucket(col(valueCol), r, width)): _*))
        .as(Seq("r", "bucket")))
    val probeCols = probes.columns.map(col).toSeq
    cells.join(broadcast(sketch), Seq("r", "bucket"))
      .groupBy(probeCols: _*)
      .agg(min(col("cnt")).as("cms_n"))
  }

  /** CMS join-size estimation (the AMS/Count-Min inner-product
    * estimator, Alon–Matias–Szegedy / Cormode–Muthukrishnan): the size
    * of the key-equi join |A ⋈ B| = Σ_k c_A(k)·c_B(k) estimated as
    * `min_r Σ_b cntA(r,b)·cntB(r,b)` — the per-row sketch inner
    * product, an UPPER bound (collisions only add mass) that two
    * bounded grids answer without touching either table again. The
    * optimizer-statistics primitive: join reordering and broadcast
    * decisions need |A ⋈ B| before running the join, and the grids are
    * mergeable/maintainable incrementally like every CMS.
    *
    * Width must scale with table size at the extreme (a cell count is
    * ~n/width, and the per-row product sums n²/width-ish terms —
    * width ≥ n²/2⁶² keeps the sum in a long; at 10¹² rows use width ≥
    * 2²⁰). Depth·width stays a few thousand cells here, broadcastable.
    */
  def cmsJoinSize(a: DataFrame, aCol: String, b: DataFrame, bCol: String,
      depth: Int, width: Int): DataFrame = {
    val sa = cmsSketch(a, aCol, depth, width)
    val sb = cmsSketch(b, bCol, depth, width)
      .withColumnRenamed("cnt", "cnt_b")
    val perRow = sa.join(sb, Seq("r", "bucket"))
      .groupBy(col("r"))
      .agg(sum(col("cnt") * col("cnt_b")).as("est"))
    // min over a depth-row SPINE, not over surviving join rows: a hash
    // row whose grids share zero non-empty buckets proves the true join
    // is EMPTY, and its 0 must drive the min to 0 — the inner-join form
    // dropped that row, returning the smallest positive collision mass
    // for provably-disjoint key sets (still an upper bound, but the
    // exact-zero certificate is the estimator's sharpest answer).
    val spine = a.sparkSession.range(0, depth.toLong)
      .select(col("id").cast("int").as("r"))
    spine.join(perRow, Seq("r"), "left")
      .agg(min(coalesce(col("est"), lit(0L))).as("cms_join_n"))
  }

  // ------------------------------------------------------------------ HLL

  /** HyperLogLog (Flajolet et al. 2007) register count: 2^8 buckets. */
  val HllM: Int = 256

  /** Pre-folded estimator numerator `α·m²·2^33 = (α_ppb · 2^49) DIV 1e9`
    * = 404351522773154 (49 bits), where α_ppb = 718272593 is
    * α_256 = 0.7213 / (1 + 1.079/256) in exact parts-per-billion. Folding the two constants BEFORE the
    * register division keeps every runtime intermediate ≤ this constant:
    * the previous shape `α_ppb · (2^49 DIV S)` overflowed Long once
    * S < ~43,840 (per-group cardinality ≳ 9e9 — inside the 40-bit hash
    * range), silently wrapping the estimate negative.
    */
  val HllAlphaNum: Long = 404351522773154L

  /** Raw-regime floor: below 2.5·m = 640 the raw harmonic estimator is
    * biased and HLL's own algorithm (Flajolet et al. 2007 §4) switches
    * to linear counting on the empty-bucket count. Estimates under this
    * cutoff with at least one empty register use [[HllLinearCount]].
    */
  val HllRawCutoff: Long = (5L * HllM) / 2

  /** Linear-counting table `V ↦ round(m·ln(m/V))` for V = 1..255 empty
    * registers (Whang et al. 1990). Small cardinalities rarely fill the
    * register file, so the occupancy count is itself a near-exact
    * cardinality measurement once corrected for bucket collisions —
    * the correction HLL's small-range regime uses. The 255 possible
    * values are a COMPILE-TIME constant (the only ln in the estimator
    * is evaluated here, once, in Scala), so both engines index the same
    * integer literal array and the estimate stays bit-identical — no
    * runtime floating point, keeping the registry's exact-integer
    * replay discipline.
    */
  val HllLinearCount: IndexedSeq[Long] =
    (1 to (HllM - 1)).map(v => math.round(HllM * math.log(HllM.toDouble / v)))

  /** The full small-range-corrected HLL estimate as a SQL CASE over
    * columns `s_ne` (Σ 2^(33−r) of the NON-EMPTY registers) and `ne`
    * (non-empty register count) — ONE generator emits both the Spark
    * expression and the DuckDB oracle replay (only integer-divide and
    * array-index syntax differ), so the two engines evaluate the same
    * integer expression by construction: raw harmonic estimate when the
    * register file is full or the raw estimate clears [[HllRawCutoff]];
    * the [[HllLinearCount]] table on the empty-bucket count otherwise;
    * 0 for an empty column. Spark `div` truncates and DuckDB `//`
    * floors, but every operand here is non-negative so they agree.
    */
  def hllEstimateSql(sNe: String, ne: String, spark: Boolean): String = {
    val lc = HllLinearCount.mkString(", ")
    val idx = s"$HllM - $ne"
    val lookup =
      if (spark) s"element_at(array($lc), CAST($idx AS INT))"
      else s"([$lc])[$idx]"
    val raw = s"($HllAlphaNum ${if (spark) "DIV" else "//"}" +
      s" (COALESCE($sNe, 0) + ($HllM - $ne) * ${1L << 33}))"
    // strict `>`: the published algorithm (Flajolet et al. §4) applies
    // linear counting whenever E ≤ 2.5m and empty registers exist, so
    // the boundary E == 2.5m (== 640 at m=256) belongs to the
    // linear-counting branch — `>=` would hand it to the raw estimate
    s"""CASE WHEN $ne = 0 THEN 0
       |     WHEN $ne = $HllM OR $raw > $HllRawCutoff THEN $raw
       |     ELSE $lookup END""".stripMargin
  }

  /** HyperLogLog registers as a plain hash aggregate — the OTHER
    * deterministic cardinality sketch, complementing [[KmvAggregator]]:
    * where KMV needs a typed UDAF buffer, HLL's register array is just
    * `groupBy(group, bucket).agg(max(rho))` — fully codegen'd, map-side
    * combined, and mergeable by cell-wise MAX (max is idempotent, so an
    * incremental register store replays batches for free). State is
    * ≤ 256 (bucket, rho) cells per group at ANY cardinality — per-group
    * distinct profiling over an unbounded group domain at 100 TB.
    *
    * Bucket = top 8 bits of the 40-bit md5 hash; rho = 1 + the number
    * of leading zeros of the remaining 32 bits (33 when they are all
    * zero). Engine-portable via bit ops both sides share (`>> / & /
    * length(bin(x))`).
    */
  def hllRegistersByGroup(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame = {
    val h = hash40(col(valueCol))
    val rest = h.bitwiseAND(lit((1L << 32) - 1))
    df.select(groupCols.map(col) ++ Seq(
        shiftright(h, 32).as("bucket"),
        when(rest === 0L, lit(33))
          .otherwise(lit(33) - length(bin(rest))).as("rho")): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("rho")).as("r"))
  }

  /** The raw-regime HLL estimate per group from a register frame
    * (`bucket`, `r` plus `groupCols`). The harmonic mean Σ 2^(−M_j) is
    * scaled by 2^33 so every term — including the 2^33 each EMPTY
    * bucket contributes — is an exact integer (≤ 256·2^33 < 2^42);
    * E = α·m²·2^33/S evaluates as `HllAlphaNum DIV S` with the α·m²·2^33
    * numerator pre-folded into the 49-bit [[HllAlphaNum]] constant, so
    * no intermediate can exceed it for ANY S ≥ m — overflow-free at any
    * cardinality, bit-identical on any engine. Raw-regime only
    * (n ≳ 2.5·m = 640): callers sketch a domain that clears it (e.g.
    * n-gram windows, not a tiny label set) — `sketch_size` (non-empty
    * buckets) exposes the regime so a profiling pass can flag groups
    * that don't.
    */
  def hllEstimateFromRegisters(regs: DataFrame,
      groupCols: Seq[String]): DataFrame =
    regs.groupBy(groupCols.map(col): _*)
      .agg(
        sum(expr("shiftleft(cast(1 as bigint), cast(33 - r as int))"))
          .as("s_nonempty"),
        count(lit(1)).as("nonempty"))
      .select(groupCols.map(col) ++ Seq(
        expr(s"""${HllAlphaNum}L DIV
             | (s_nonempty + ($HllM - nonempty) * ${1L << 33}L)"""
          .stripMargin.replace("\n", ""))
          .cast("long").as("distinct_estimate"),
        col("nonempty").cast("long").as("sketch_size")): _*)

  /** One-call per-group HLL distinct estimate. */
  def hllEstimateByGroup(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame =
    hllEstimateFromRegisters(
      hllRegistersByGroup(df, groupCols, valueCol), groupCols)

  /** Per-group distinct-count estimates from [[KmvAggregator]]: one hash
    * aggregate keyed on `groupCols`, the same Bar-Yossef estimator per
    * group. `hashCol` must already be a [[hash40]] column.
    */
  def kmvEstimateByGroup(df: DataFrame, groupCols: Seq[String],
      hashCol: String, k: Int): DataFrame = {
    val sketch = udaf(KmvAggregator(k))
    df.groupBy(groupCols.map(col): _*)
      .agg(sketch(col(hashCol)).as("sk"))
      .select(groupCols.map(col) ++ Seq(
        when(size(col("sk")) < k, size(col("sk")).cast("long"))
          .otherwise(expr(
            s"${(k - 1).toLong * HashSpace}L DIV element_at(sk, $k)"))
          .as("distinct_estimate"),
        size(col("sk")).cast("long").as("sketch_size")): _*)
  }

  /** Pairwise set-operation estimates between groups from per-group KMV
    * sketches — the sketched twin of the exact cross-source overlap
    * join (t29): union cardinality, intersection cardinality, and
    * Jaccard for every group pair, all from bounded mergeable state.
    *
    * KMV set algebra (Beyer et al. 2007): the k minima of A ∪ B are a
    * pure function of the two sides' k minima, so `merged` IS the
    * union's sketch (union_est = (k−1)·U div τ, exact when < k values
    * exist); the fraction ρ of merged minima present in BOTH sides is
    * an unbiased Jaccard estimate (every merged value is a uniform
    * draw from the union), and inter_est = ρ · union_est.
    *
    * Plan shape at 100 TB: ONE (group, hash) aggregation with map-side
    * combine ships ≤k longs per group per partition; the pair frame is
    * |groups|² rows of ≤k-long arrays — a broadcast nested-loop of a
    * KILOBYTE-scale frame, never a data-axis join. The exact t29 join
    * shuffles every distinct gram; this shuffles none of them.
    */
  def kmvOverlapMatrix(df: DataFrame, groupCol: String, hashCol: String,
      k: Int): DataFrame = {
    val sketch = udaf(KmvAggregator(k))
    val sk = df.groupBy(col(groupCol)).agg(sketch(col(hashCol)).as("sk"))
      .localCheckpoint(eager = false) // both sides of the pair join
    kmvOverlapPairsFromSketches(sk, groupCol, k)
  }

  /** [[kmvOverlapMatrix]]'s pair math over ALREADY-built per-group
    * sketches `(groupCol, sk)` — callers may pass sketches built at a
    * LARGER k: the k smallest of a k′-minima list (k ≤ k′) are the
    * k-minima, so slicing one wide sketch evaluates every narrower
    * accuracy tier from a single corpus pass (the a14 sweep).
    */
  def kmvOverlapPairsFromSketches(sketches: DataFrame, groupCol: String,
      k: Int): DataFrame = {
    val sk = sketches.select(col(groupCol),
      slice(col("sk"), 1, k).as("sk"))
    val pairs = sk.select(col(groupCol).as("g1"), col("sk").as("sk1"))
      .join(broadcast(sk.select(col(groupCol).as("g2"),
        col("sk").as("sk2"))), col("g1") < col("g2"))
    pairs
      .withColumn("mg",
        slice(array_sort(array_union(col("sk1"), col("sk2"))), 1, k))
      .withColumn("msz", size(col("mg")).cast("long"))
      .withColumn("union_est",
        when(col("msz") < k, col("msz"))
          .otherwise(expr(
            s"${(k - 1).toLong * HashSpace}L DIV element_at(mg, $k)")))
      .withColumn("inter_k",
        size(array_intersect(array_intersect(col("mg"), col("sk1")),
          col("sk2"))).cast("long"))
      .select(col("g1"), col("g2"), col("msz").as("merged_size"),
        col("union_est"),
        col("inter_k"),
        expr("inter_k * union_est DIV greatest(msz, 1L)").as("inter_est"),
        expr("inter_k * 1000000L DIV greatest(msz, 1L)")
          .as("jaccard_ppm_est"))
  }
}
