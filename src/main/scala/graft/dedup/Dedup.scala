package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** Deduplication operators for training-data pipelines: exact (hash
  * groupBy), MinHash+LSH banding, SimHash, and n-gram Jaccard.
  *
  * Scale design: signatures (shingles → minhash / simhash) are PER-ROW
  * higher-order-function expressions — they run inside the scan stage with
  * no explode and no shuffle. Only the candidate-pair generation shuffles,
  * and it shuffles on the banding key (small: docs × bands rows), never on
  * the raw text. All hashes derive from md5 (engine-portable); modulus
  * arithmetic stays below 2^40 so ANSI mode can never overflow.
  */
object Dedup {

  /** Serializes [[bloomNewRows]]' session-clamp raise/restore window. */
  private val bloomClampLock = new Object

  // ------------------------------------------------------------------ exact

  /** Exact dedup: one winner (min id) per identical text. Returns
    * (id, content_hash, dupe_count) per distinct content — the keep-list.
    * Scale: a single hash aggregate on a 32-char key; combine-side partial
    * aggregation makes this shuffle-light.
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextAnalysis.contentHash(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dupe_count"))

  /** Incremental dedup with a bloom prefilter: the rows of `incoming`
    * whose `keyCol` does NOT appear in `corpus` — exact anti-join
    * semantics, reached the 100 TB way. A shuffled anti-join of the full
    * incoming batch against the full corpus moves both sides; instead:
    *
    *   1. aggregate the corpus keys into ONE bloom filter (Spark's native
    *      `BloomFilterAggregate` over `xxhash64(key)` — mergeable
    *      map-side partials, a few MB on the driver, the same machinery
    *      the optimizer's runtime join filters use);
    *   2. scan-stage-filter incoming with codegen'd
    *      `BloomFilterMightContain`: keys the bloom rejects are
    *      DEFINITELY new — emitted with no join and no shuffle;
    *   3. only `might_contain` survivors (true dups + an fpp-sized
    *      sliver of false positives) pay the exact anti-join.
    *
    * The union is exactly `incoming ∖ corpus` — the bloom can only
    * divert rows from the join to the free branch, never change the
    * result. At fpp=0.03 the anti-join's left side shrinks to the dup
    * fraction of the batch; the corpus side still streams through the
    * join but builds no driver state beyond the bloom.
    *
    * `expectedCorpusKeys` sizes the filter; pass the store's footer row
    * count ([[graft.queries.Tables.rowCount]]), never a `count()`.
    *
    * `incoming` is referenced TWICE (once per branch of the union) —
    * callers whose incoming side is expensive to recompute should
    * materialize it first (`localCheckpoint`), as the streaming ingest
    * sink does.
    */
  /** Outcome of a driver-side bloom build over a key column. */
  private sealed trait BloomBuild
  private case object BloomOversize extends BloomBuild
  private case object BloomEmptyKeys extends BloomBuild
  private final case class BloomBytes(bytes: Array[Byte]) extends BloomBuild

  def bloomNewRows(corpus: DataFrame, incoming: DataFrame, keyCol: String,
      expectedCorpusKeys: Long, fpp: Double = 0.03): DataFrame =
    buildKeyBloom(corpus, keyCol, expectedCorpusKeys, fpp) match {
      // oversize: the plain anti-join is strictly better — same result
      case BloomOversize =>
        incoming.join(corpus.select(col(keyCol)), Seq(keyCol), "left_anti")
      // empty corpus: everything is new
      case BloomEmptyKeys => incoming
      case BloomBytes(bytes) =>
        val mc = mightContainCol(bytes, keyCol)
        val definitelyNew = incoming.filter(!mc)
        val confirmedNew = incoming.filter(mc).join(
          corpus.select(col(keyCol)), Seq(keyCol), "left_anti")
        definitelyNew.unionByName(confirmedNew)
    }

  /** Bloom-pruned SEMI join — the keep-matching complement of
    * [[bloomNewRows]], and the general join-REDUCTION lever: keep the
    * `fact` rows whose `keyCol` appears in `keys`, with the fact side
    * shrunk SCAN-STAGE by a codegen'd `might_contain` before any
    * exchange. At 100 TB this is the difference between shuffling the
    * whole fact table into a semi join and shuffling only the matching
    * sliver (plus an fpp-sized sliver of false positives, which the
    * exact semi join then removes — the bloom can only divert
    * definite-non-members away from the join, never change the result).
    * The same machinery Spark's own runtime join filters inject, here
    * as an explicit operator with caller-controlled sizing from footer
    * counts. Oversized key sets fall back to the plain semi join; an
    * empty key set matches nothing.
    */
  def bloomSemiJoin(fact: DataFrame, keys: DataFrame, keyCol: String,
      expectedKeys: Long, fpp: Double = 0.03): DataFrame =
    buildKeyBloom(keys, keyCol, expectedKeys, fpp) match {
      case BloomOversize =>
        fact.join(keys.select(col(keyCol)), Seq(keyCol), "left_semi")
      case BloomEmptyKeys => fact.limit(0)
      case BloomBytes(bytes) =>
        fact.filter(mightContainCol(bytes, keyCol))
          .join(keys.select(col(keyCol)), Seq(keyCol), "left_semi")
    }

  /** Aggregate `keys.keyCol` into one driver-held bloom (mergeable
    * map-side partials; see [[bloomNewRows]]'s scaladoc for the sizing
    * and clamp story).
    */
  private def buildKeyBloom(keys: DataFrame, keyCol: String,
      expectedKeys: Long, fpp: Double): BloomBuild = {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val n = math.max(expectedKeys, 1L)
    // standard bloom sizing: m = -n ln(p) / (ln 2)^2
    val numBits = math.max(64L,
      math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    // Above ~2^31 bits (a 256 MB driver-held literal) the bloom stops
    // being a sensible broadcast; building one that the clamp below
    // would saturate anyway costs a corpus pass to divert nothing.
    if (numBits > (1L << 31)) return BloomOversize
    // unresolved column expression — resolves against whichever side's
    // plan it lands in (key-side aggregate / probe-side filter)
    def keyHash = new XxHash64(Seq(expression(col(keyCol))), 42L)
    // Spark SILENTLY Math.min-clamps BloomFilterAggregate's sizing
    // against the runtime-join-filter maxima (defaults 4M items / 64M
    // bits = 8 MB): past ~9M keys the requested fpp is ignored and the
    // filter saturates toward might_contain=true for everything. Raise
    // the session clamps to our computed sizing for the build, restore
    // after. The raise-build-restore is serialized under a JVM-global
    // lock so two interleaved bloomNewRows calls can never clobber each
    // other's save/restore and leave a raised clamp permanent. Other
    // queries planned concurrently IN THE SAME SESSION during the build
    // window can still observe the raised caps on their own runtime join
    // filters (a larger-than-default bloom, never a wrong result) — the
    // clamps are session-global state and Spark offers no per-query
    // scope for them.
    val conf = keys.sparkSession.conf
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val bloomBytes = bloomClampLock.synchronized {
      val saved = Seq(itemsKey, bitsKey).map(k => k -> conf.get(k))
      try {
        conf.set(itemsKey, math.max(n, saved(0)._2.toLong).toString)
        conf.set(bitsKey, math.max(numBits, saved(1)._2.toLong).toString)
        keys
          .agg(column(new BloomFilterAggregate(keyHash,
            Literal(n), Literal(numBits)).toAggregateExpression()).as("bf"))
          .head().getAs[Array[Byte]]("bf")
      } finally saved.foreach { case (k, v) => conf.set(k, v) }
    }
    // an empty key set aggregates to a NULL bloom; might_contain(null, x)
    // is null, which a filter would treat as FALSE on both branches and
    // silently misroute every row — callers handle the empty case
    // explicitly instead
    if (bloomBytes == null) BloomEmptyKeys else BloomBytes(bloomBytes)
  }

  /** Codegen'd `might_contain(bloom, xxhash64(keyCol))` predicate. */
  private def mightContainCol(bloomBytes: Array[Byte],
      keyCol: String): Column = {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    column(new BloomFilterMightContain(
      Literal.create(bloomBytes, org.apache.spark.sql.types.BinaryType),
      new XxHash64(Seq(expression(col(keyCol))), 42L)))
  }

  /** Within-document repetition ratio — the training-data quality signal
    * that catches boilerplate and degenerate generations: of a doc's
    * `n`-token windows, how many are duplicates of an earlier window,
    * in ppm. Pure per-row scan-stage expressions (tokens → window count
    * vs distinct-shingle count), no shuffle, no explode. Integer
    * arithmetic end-to-end so any engine agrees exactly.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    // tokens projected ONCE; windows and the distinct-shingle count both
    // read the attribute (multi-referenced → CollapseProject keeps the
    // boundary, so the regex split runs once per row, not per reference)
    df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__tk"))
      .select(col(idCol),
        greatest(size(col("__tk")) - (n - 1), lit(0)).cast("long")
          .as("windows"),
        size(shinglesOfTokens(col("__tk"), n)).cast("long")
          .as("distinct_windows"))
      .withColumn("repetition_ppm",
        when(col("windows") > 0,
          expr("(windows - distinct_windows) * 1000000 div windows"))
          .otherwise(0L))
  }

  /** Corpus-level boilerplate census — the cross-document complement of
    * [[repetitionStats]]: an n-gram is boilerplate when it appears in at
    * least `minDf` DISTINCT documents (navigation chrome, license
    * headers, template text — the passages CCNet-style curation strips
    * before training). Per document: total n-gram positions, positions
    * covered by a boilerplate n-gram, and the boilerplate ratio in ppm
    * (exact integer arithmetic, engine-portable).
    *
    * Shape at scale: positional n-grams collapse to DISTINCT
    * (doc, gram) pairs with a per-doc position count in ONE hash
    * aggregate (map-side combine bounds the explode), document
    * frequency is a second bounded aggregate over the gram key, and a
    * gram-keyed equi-join tags each pair with its df before the per-doc
    * rollup. Deliberately a JOIN and not the pair-generators' count-
    * window trick: the census must KEEP ubiquitous grams (they are the
    * boilerplate), and a gram present in every document puts its whole
    * df-sized posting list on ONE reducer — a window cannot be AQE-
    * skew-split, an equi-join can (SkewSpec proves the splitting fires
    * on exactly this shape). Measured at sf0.1 the join form costs 13%
    * over the count-window form (0.91 s vs 0.80 s best-of-3) — the price
    * of removing an unbounded single-reducer stall at corpus scale.
    * Nothing here is proportional to df²: grams are counted, never
    * paired.
    */
  def boilerplateStats(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDf: Long): DataFrame = {
    val perDocGram = positionalShingleRows(df, idCol, textCol, n)
      .groupBy(col(idCol), col("s"))
      .agg(count(lit(1)).as("__pos_in_doc"))
    // distinct (doc, gram) rows → the row count per gram IS document
    // frequency; partial aggregation ships one row per (partition, gram)
    val dfreq = perDocGram.groupBy(col("s"))
      .agg(count(lit(1)).as("__df"))
    val per = perDocGram.join(dfreq, "s")
      .groupBy(col(idCol))
      .agg(sum(col("__pos_in_doc")).as("n_pos"),
        sum(when(col("__df") >= minDf, col("__pos_in_doc"))
          .otherwise(0L)).as("n_boiler"))
    // docs with fewer than n tokens produce no grams — keep them as 0s
    df.select(col(idCol))
      .join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .withColumn("boiler_ppm",
        when(col("n_pos") > 0,
          expr("n_boiler * 1000000 div n_pos")).otherwise(0L))
  }

  /** Boilerplate REMOVAL accounting — [[boilerplateStats]]'s actionable
    * complement: per document, the tokens REMAINING after stripping
    * every token position covered by any occurrence of a boilerplate
    * n-gram (df ≥ minDf). The census counts gram positions; a stripper
    * must not double-count OVERLAPPING occurrences ("click here now
    * click here" under boilerplate "click here" removes 5 tokens, not
    * 2×2), so coverage is an exact interval union: occurrences become
    * [pos, pos+n−1] intervals and a per-document sweep (running max of
    * prior interval ends, window bounded by DOCUMENT length — never a
    * corpus axis) sums only newly covered tokens. Same df economics as
    * the census: one distinct-pair aggregate, one gram-keyed equi-join
    * (AQE-skew-splittable on ubiquitous grams), no df² term.
    */
  def boilerplateCoverage(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDf: Long): DataFrame = {
    val g = positionalShingleRowsIndexed(df, idCol, textCol, n)
    val dfreq = g.select(col(idCol), col("s")).distinct()
      .groupBy(col("s")).agg(count(lit(1)).as("__df"))
    val bo = g.join(dfreq.filter(col("__df") >= minDf), "s")
      .select(col(idCol), col("pos"))
    val cov = coveredTokenCounts(bo, idCol, n, "boiler_tokens")
    df.select(col(idCol),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .join(cov, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("boiler_tokens"), lit(0L)).as("boiler_tokens"))
      .withColumn("clean_tokens", col("n_tokens") - col("boiler_tokens"))
      .withColumn("removed_ppm", when(col("n_tokens") > 0,
        expr("boiler_tokens * 1000000 div n_tokens")).otherwise(0L))
  }

  /** Exact interval-union token coverage: given n-gram start positions
    * `(idCol, pos)`, the number of DISTINCT token positions covered by
    * the intervals `[pos, pos+n−1]` per id. The sweep is a running max
    * of prior interval ends (window bounded by the id's own rows —
    * document-axis, never corpus-axis), so OVERLAPPING occurrences are
    * counted once. Shared by [[boilerplateCoverage]] (corpus-df grams)
    * and [[repetitionSignals]] (intra-document grams).
    */
  private def coveredTokenCounts(pos: DataFrame, idCol: String, n: Int,
      out: String): DataFrame = {
    val wPrev = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    pos
      .withColumn("__maxEnd", max(col("pos") + lit((n - 1).toLong)).over(wPrev))
      .withColumn("__new", greatest(lit(0L),
        (col("pos") + lit((n - 1).toLong)) -
          greatest(coalesce(col("__maxEnd"), col("pos") - lit(1L)),
            col("pos") - lit(1L))))
      .groupBy(col(idCol)).agg(sum(col("__new")).as(out))
  }

  /** Gopher-style intra-document repetition signals (Rae et al. 2021
    * §A1.1 repetition filters, re-expressed on the token axis so the
    * oracle can replay them exactly): per document,
    *   - `top2_tokens` / `top2_ppm` — tokens covered by occurrences of
    *     THE most frequent bigram (ties broken to the lexicographically
    *     smallest gram, so the statistic is deterministic);
    *   - `dup3_tokens` / `dup3_ppm` — tokens covered by any trigram
    *     occurring ≥ 2 times WITHIN the document.
    * Both coverages are exact interval unions ([[coveredTokenCounts]]):
    * "a a a a b" under top bigram "a a" covers 4 tokens, not 3×2. All
    * grouping keys include the document id — after one shuffle on id
    * the whole computation is partition-local, so the operator scales
    * linearly with corpus size and is unaffected by corpus-wide gram
    * skew (there is no corpus-axis join at all, unlike
    * [[boilerplateCoverage]]).
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val g2 = positionalShingleRowsIndexed(df, idCol, textCol, 2)
    val c2 = g2.groupBy(col(idCol), col("s")).agg(count(lit(1)).as("__c"))
    val top2 = c2.groupBy(col(idCol))
      .agg(min(struct((-col("__c")).as("nc"), col("s").as("s"))).as("__t"))
      .select(col(idCol), col("__t.s").as("s"))
    val p2 = g2.join(top2, Seq(idCol, "s")).select(col(idCol), col("pos"))
    val cov2 = coveredTokenCounts(p2, idCol, 2, "top2_tokens")
    val g3 = positionalShingleRowsIndexed(df, idCol, textCol, 3)
    val c3 = g3.groupBy(col(idCol), col("s")).agg(count(lit(1)).as("__c"))
    val p3 = g3.join(c3.filter(col("__c") >= 2), Seq(idCol, "s"))
      .select(col(idCol), col("pos"))
    val cov3 = coveredTokenCounts(p3, idCol, 3, "dup3_tokens")
    df.select(col(idCol),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .join(cov2, Seq(idCol), "left")
      .join(cov3, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("top2_tokens"), lit(0L)).as("top2_tokens"),
        coalesce(col("dup3_tokens"), lit(0L)).as("dup3_tokens"))
      .withColumn("top2_ppm", when(col("n_tokens") > 0,
        expr("top2_tokens * 1000000 div n_tokens")).otherwise(0L))
      .withColumn("dup3_ppm", when(col("n_tokens") > 0,
        expr("dup3_tokens * 1000000 div n_tokens")).otherwise(0L))
  }

  // --------------------------------------------------------------- shingles

  /** Word n-gram shingles (distinct, order unspecified) of whitespace
    * tokens. Fewer than n tokens → empty array (guarded: Spark's
    * `sequence` would count DOWN for an empty range). All consumers
    * (hashing, min-aggregation, set counting) are order-independent, so
    * no sort is paid.
    */
  def shingles(text: Column, n: Int): Column =
    shinglesOfTokens(TextAnalysis.tokens(text), n)

  /** [[shingles]] over an ALREADY-projected token array. When a plan
    * needs several shingle-derived values of the same text, project the
    * tokens once and build them all from the attribute — referencing
    * `TextAnalysis.tokens(...)` repeatedly re-runs the regex split per
    * reference (Catalyst inlines cheap-looking expression trees), which
    * measured 4× the scan cost on the repetition query.
    */
  def shinglesOfTokens(toks: Column, n: Int): Column = {
    val cnt = size(toks) - (n - 1)
    val grams = transform(
      sequence(lit(1), cnt),
      i => concat_ws(" ", slice(toks, i, lit(n))))
    when(cnt > 0, array_distinct(grams))
      .otherwise(array().cast("array<string>"))
  }

  /** 28-bit md5-derived hash of one shingle — small enough that every
    * downstream `a*h + b (mod p)` stays far below long overflow.
    */
  def shingleHash(s: Column): Column =
    conv(substring(md5(s.cast("binary")), 1, 7), 16, 10).cast("long")

  /** Exploded DISTINCT shingle rows `(idCol, carry..., s)` — the shared
    * feeder for the inverted-index join and the minhash aggregate. Grams
    * build via posexplode + window `lead` (whole-stage codegen) rather
    * than the per-row HOF transform, which runs interpreted and measured
    * 2–3× slower; the extra window shuffle partitions on the doc id, so
    * skew is bounded by document length.
    */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, n: Int,
      carry: Seq[String] = Nil): DataFrame =
    positionalShingleRows(df, idCol, textCol, n, carry).distinct()

  /** [[shingleRows]] WITHOUT the distinct: one row per n-gram POSITION
    * (duplicates kept, one per occurrence) — the feeder for census-style
    * consumers ([[boilerplateStats]]) that weight grams by occurrence.
    */
  def positionalShingleRows(df: DataFrame, idCol: String, textCol: String,
      n: Int, carry: Seq[String] = Nil): DataFrame =
    positionalShingleRowsIndexed(df, idCol, textCol, n, carry).drop("pos")

  /** [[positionalShingleRows]] KEEPING each gram's 0-based start
    * position (`pos`, long) — the feeder for coverage consumers
    * ([[boilerplateCoverage]]) that need interval arithmetic over the
    * token axis, not just occurrence counts.
    */
  def positionalShingleRowsIndexed(df: DataFrame, idCol: String,
      textCol: String, n: Int, carry: Seq[String] = Nil): DataFrame = {
    val keys = col(idCol) +: carry.map(col)
    // The lead-window below NEEDS hashpartitioning(idCol, width) — so
    // establish it BEFORE the tokenize+explode instead of after: the
    // same single exchange then carries each document's raw text once
    // (fewer bytes than the exploded token rows), and the regex
    // tokenization runs at engine width instead of scan parallelism
    // (one task on the compacted single-row-group gate tables). The
    // window's own exchange disappears because the partitioning
    // already matches (guide §2.4: two operations keyed the same way
    // share one exchange).
    // EXPLICIT width (r16): the column-form repartition here let AQE
    // coalesce this exchange by BYTES, and the raw-text shuffle is tiny
    // (sub-MB at gate scale) while the work behind it — regex tokenize +
    // posexplode + the lead window — is CPU-dense per row. At the
    // default 1m floor the whole shingle family serialized into 1-2
    // tasks (StageProfile: d4-class stages ~0.9 s CPU in one task).
    // AQE never coalesces a user repartition with a pinned count, and
    // the width derives from spark.sql.shuffle.partitions (the cluster
    // parallelism knob), so the pin is scale-configured, not local-tuned.
    val width = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val toks = df.repartition(width, col(idCol)).select(keys :+
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "tok")): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val leads = (1 until n).map(k => lead(col("tok"), k).over(w).as(s"t$k"))
    val gram = concat_ws(" ", col("tok") +: (1 until n).map(k => col(s"t$k")): _*)
    toks.select(keys ++ Seq(col("pos")) ++ leads :+ col("tok"): _*)
      .filter((1 until n).map(k => col(s"t$k").isNotNull)
        .foldLeft(lit(true))(_ && _))
      .select(keys ++ Seq(col("pos").cast("long").as("pos"),
        gram.as("s")): _*)
  }

  // ---------------------------------------------------------------- minhash

  val MinhashPrime = 1000003L

  /** MinHash signature: for permutation i, `min((h*(2i+3) + 7919*i) mod p)`
    * over the shingle hashes. One array column of k longs per row; empty
    * shingle set → p (the "infinite" sentinel) at every position.
    */
  def minhashSignature(text: Column, n: Int, k: Int): Column = {
    val hashes = transform(shingles(text, n), s => shingleHash(s))
    val perms = sequence(lit(0), lit(k - 1))
    transform(perms, i =>
      coalesce(
        array_min(transform(hashes,
          h => (h * (i * 2 + 3) + lit(7919L) * i) % MinhashPrime)),
        lit(MinhashPrime)))
  }

  /** MinHash signatures as a DataFrame op: explode shingles → hash once →
    * one codegen'd hash-aggregate with k `min` columns (map-side combine
    * shrinks the shuffle to one row per doc per partition). This is the
    * SCALE form — the per-row [[minhashSignature]] expression recomputes
    * md5 per permutation once projections collapse, and higher-order
    * functions run interpreted. Docs with no shingles are absent from the
    * result (nothing to hash ⇒ nothing to band).
    *
    * Returns (idCol, sig: array<long>[k]).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    val exploded = shingleRows(df, idCol, textCol, n)
      .withColumn("h", shingleHash(col("s")))
    val minAggs = (0 until k).map(i =>
      min((col("h") * (2 * i + 3) + 7919L * i) % MinhashPrime).as(s"m$i"))
    exploded.groupBy(col(idCol)).agg(minAggs.head, minAggs.tail: _*)
      .select(col(idCol),
        array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** The similarity threshold of a (bands, rowsPerBand) MinHash banding:
    * the Jaccard similarity at which the candidate probability s-curve
    * crosses ~1/2 is `(1/b)^(1/r)` (Mining of Massive Datasets §3.4.2 —
    * public LSH theory). Choose banding by threshold, not corpus size:
    * the curve is a property of the signature, so the same (b, r) works
    * at any scale; what grows with the corpus is only the band-join's
    * shuffle volume (docs × bands rows).
    */
  def lshThreshold(bands: Int, rowsPerBand: Int): Double =
    math.pow(1.0 / bands, 1.0 / rowsPerBand)

  /** Probability that a pair with Jaccard similarity `s` becomes a
    * candidate under (bands, rowsPerBand) banding: `1 − (1 − s^r)^b`.
    */
  def lshCandidateProbability(s: Double, bands: Int, rowsPerBand: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rowsPerBand), bands)

  /** LSH banding: (doc, band_idx, band_signature) rows — the ONLY exploded
    * representation, sized docs × bands. Join docs on equal band signatures
    * to get candidate pairs.
    */
  def lshBands(df: DataFrame, idCol: String, sigCol: String,
      bands: Int, rowsPerBand: Int): DataFrame = {
    require(bands > 0 && rowsPerBand > 0,
      s"need positive banding: bands=$bands rowsPerBand=$rowsPerBand")
    // INCOMPLETE bands (slicing past the signature end) must not emit: a
    // short slice renders the same band_sig for every document — "" when
    // fully past the end — and that band's equality join silently
    // degenerates into the all-pairs cross product banding exists to
    // avoid. Emit null for them and drop after the explode.
    df.select(col(idCol), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => when(size(col(sigCol)) >= (b + 1) * rowsPerBand,
            concat_ws("-", transform(
              slice(col(sigCol), b * rowsPerBand + 1, lit(rowsPerBand)),
              x => x.cast("string"))))))
      .as(Seq("band_idx", "band_sig")))
      .filter(col("band_sig").isNotNull)
  }

  /** Candidate near-dup pairs from LSH: docs sharing any band, id1 < id2,
    * with the estimated Jaccard = matching signature positions / k.
    * `estMatches` is an exact integer so engines agree.
    */
  def lshCandidatePairs(sigs: DataFrame, idCol: String, sigCol: String,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val b1 = lshBands(sigs, idCol, sigCol, bands, rowsPerBand)
      .withColumnRenamed(idCol, "id1")
    val b2 = lshBands(sigs, idCol, sigCol, bands, rowsPerBand)
      .withColumnRenamed(idCol, "id2")
    val pairs = b1.join(b2, Seq("band_idx", "band_sig"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    val s1 = sigs.select(col(idCol).as("id1"), col(sigCol).as("sig1"))
    val s2 = sigs.select(col(idCol).as("id2"), col(sigCol).as("sig2"))
    pairs.join(s1, "id1").join(s2, "id2")
      .select(col("id1"), col("id2"),
        size(filter(zip_with(col("sig1"), col("sig2"), (a, b) => a === b),
          x => x)).as("est_matches"))
  }

  // ---------------------------------------------------------------- simhash

  /** 60-bit md5-derived token hashes — materialize this as its own column
    * so [[simhashOf]] doesn't recompute md5 per bit position.
    */
  def tokenHashes60(text: Column): Column =
    transform(TextAnalysis.tokens(text),
      t => conv(substring(md5(t.cast("binary")), 1, 15), 16, 10).cast("long"))

  /** 60-bit SimHash from [[tokenHashes60]]: bit j is set when
    * `sum over tokens of (2*bit_j(h) - 1) > 0`.
    * Per-row expression (no explode); the 60-way inner loop stays in codegen.
    */
  def simhashOf(hashes: Column): Column = {
    val bitsums = transform(sequence(lit(0), lit(59)), j =>
      when(aggregate(hashes, lit(0L),
        (acc, h) => acc +
          (call_function("shiftright", h, j).bitwiseAND(lit(1L)) * 2 - 1)) > 0,
        call_function("shiftleft", lit(1L), j)).otherwise(lit(0L)))
    aggregate(bitsums, lit(0L), (acc, b) => acc + b)
  }

  /** 60-bit SimHash over whitespace tokens. */
  def simhash(text: Column): Column = simhashOf(tokenHashes60(text))

  /** SimHash as a DataFrame op — the SCALE form (see [[minhashSignatures]]
    * for why): explode tokens → md5 once per token → one codegen'd
    * hash-aggregate with 60 bit-sum columns → fold into the 60-bit value.
    * `carry` columns ride along in the grouping key. Docs with zero tokens
    * are absent from the result.
    *
    * Returns (idCol, carry..., simhash: long).
    */
  def simhashes(df: DataFrame, idCol: String, textCol: String,
      carry: Seq[String] = Nil): DataFrame = {
    val keys = col(idCol) +: carry.map(col)
    // repartition on the GROUPING keys before the token explode: the
    // md5-per-token pass plus the 60-bit-sum aggregation otherwise run
    // at scan parallelism (one task on a compacted corpus), and keying
    // the exchange like the groupBy below means the aggregate needs no
    // second exchange — the one shuffle carries each document's raw
    // text once (guide §2.4: operations keyed the same way share one
    // exchange). EXPLICIT width (r16): column-form let AQE coalesce the
    // sub-MB raw-text exchange by bytes and serialize the md5 + 60-bit
    // sums into one task (measured 0.9 s single-task at the default
    // floor); a pinned count is AQE-exempt and the width comes from
    // spark.sql.shuffle.partitions, the cluster parallelism knob.
    val width = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val exploded = df.repartition(width, keys: _*)
      .select(keys :+ explode(TextAnalysis.tokens(col(textCol))).as("tok"): _*)
      .withColumn("h",
        conv(substring(md5(col("tok").cast("binary")), 1, 15), 16, 10).cast("long"))
    val bitAggs = (0 until 60).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(1L) * 2 - 1).as(s"b$j"))
    val folded = (0 until 60)
      .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    exploded.groupBy(keys: _*).agg(bitAggs.head, bitAggs.tail: _*)
      .select(keys :+ folded.as("simhash"): _*)
  }

  /** Hamming distance between two simhash values. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Bit-chunk banding rows for a 60-bit simhash: (idCol, block...,
    * band_idx, band_sig) with `band_sig` = bits [b*width, (b+1)*width).
    * Mirrors [[lshBands]]: the ONLY exploded representation, sized
    * docs × bands.
    */
  def simhashBands(df: DataFrame, idCol: String, shCol: String,
      bands: Int, blockCols: Seq[String] = Nil): DataFrame = {
    val width = 60 / bands
    val mask = (1L << width) - 1
    df.select((col(idCol) +: blockCols.map(col)) :+ posexplode(
      array((0 until bands).map(b =>
        shiftright(col(shCol), b * width).bitwiseAND(mask)): _*))
      .as(Seq("band_idx", "band_sig")): _*)
  }

  /** SimHash near-dup pairs with a COMPLETE banding guarantee: any pair
    * within `radius` differing bits differs in at most `radius` bands, so
    * with `bands > radius` chunks (pigeonhole, Manku et al. WWW'07 §3) it
    * shares at least one identical band — candidates come from an
    * equality join on (block..., band_idx, band_sig), never from an
    * all-pairs product within a block. At 100 TB the shuffle key is the
    * band value (bands × docs rows); per-cell population shrinks by
    * 2^width per band, and `bands` trades radius for blocking power
    * (radius 5 → 6 bands × 10 bits on 60-bit signatures).
    *
    * Returns (id1, id2, hamming) with id1 < id2, hamming ≤ radius —
    * identical to the naive within-block all-pairs filter.
    */
  def simhashNearDupPairs(sh: DataFrame, idCol: String, shCol: String,
      radius: Int, blockCols: Seq[String] = Nil, bands: Int = 6): DataFrame = {
    require(bands > radius, s"banding completeness needs bands > radius ($bands <= $radius)")
    require(60 % bands == 0, s"60-bit signature must split evenly into $bands bands")
    val b1 = simhashBands(sh, idCol, shCol, bands, blockCols)
      .withColumnRenamed(idCol, "id1")
    val b2 = simhashBands(sh, idCol, shCol, bands, blockCols)
      .withColumnRenamed(idCol, "id2")
    val cand = b1.join(b2, blockCols ++ Seq("band_idx", "band_sig"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    val s1 = sh.select(col(idCol).as("id1"), col(shCol).as("sh1"))
    val s2 = sh.select(col(idCol).as("id2"), col(shCol).as("sh2"))
    cand.join(s1, "id1").join(s2, "id2")
      .select(col("id1"), col("id2"),
        hammingDistance(col("sh1"), col("sh2")).cast("int").as("hamming"))
      .filter(col("hamming") <= radius)
  }

  // ---------------------------------------------------------- n-gram jaccard

  /** Document-frequency cap on an exploded posting table: drop every
    * posting whose term appears in more than `maxDf` documents (within
    * its key group). The inverted-index self-join is linear in
    * CO-OCCURRENCES, and one ubiquitous term ("de la que" in a Spanish
    * corpus) co-occurring in K docs yields K·(K−1)/2 output rows from a
    * single join key — the last all-pairs-shaped hazard between these
    * operators and a 100 TB corpus. Standard curation practice truncates
    * such posting lists before pairing; ubiquitous n-grams carry no
    * duplication signal anyway (they match everything). Implemented as a
    * count window over the posting key so the filtered output keeps the
    * (key)-hash partitioning the self-join needs — no extra exchange.
    * `ex` must already be distinct per (doc, key...) so the window count
    * IS the document frequency.
    */
  private def capDf(ex: DataFrame, keyCols: Seq[String], maxDf: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
    ex.withColumn("_df", count(lit(1)).over(w))
      .filter(col("_df") <= maxDf)
      .drop("_df")
  }

  /** Shared-long-window pairs — the exact-substring duplication signal
    * of training-data curation (documents sharing ≥ `minShared` distinct
    * n-token windows contain literally copied passages, whatever their
    * overall Jaccard). Same inverted-index shape as [[jaccardPairs]]:
    * pairs materialize only from window-hash co-occurrence, linear in
    * co-occurrences and shuffled on the window key — never all-pairs.
    * [[shingleRows]] is distinct per (doc, window), so a passage repeated
    * k× inside one document still counts ONE shared window. Windows with
    * document frequency above `maxDf` are dropped before pairing (see
    * [[capDf]]); `shared_windows` then undercounts by at most the capped
    * windows — a pair sharing `minShared` sub-`maxDf` windows is always
    * found.
    * Returns (id1, id2, shared_windows) with id1 < id2.
    */
  def sharedWindowPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, minShared: Long, maxDf: Long = 1000): DataFrame = {
    val ex = capDf(shingleRows(df, idCol, textCol, n), Seq("s"), maxDf)
    ex.select(col(idCol).as("id1"), col("s"))
      .join(ex.select(col(idCol).as("id2"), col("s")), "s")
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("shared_windows"))
      .filter(col("shared_windows") >= minShared)
  }

  /** Benchmark decontamination: per corpus document, the count of
    * `n`-token windows it shares with ANY benchmark document, plus how
    * many benchmark docs it collides with — the standard pre-training
    * hygiene check (a training document that reproduces a test item's
    * windows leaks the benchmark). Cross-table variant of
    * [[sharedWindowPairs]]: both sides explode to distinct windows and
    * meet in an inverted-index join on the window string — linear in
    * collisions, never |corpus| × |benchmark|. The df-cap applies to the
    * BENCHMARK postings (a window ubiquitous across the benchmark is
    * boilerplate, not leakage).
    *
    * Returns (idCol, contaminated_windows, benchmark_docs) for corpus
    * docs with ≥ `minShared` shared windows.
    */
  def contaminationCheck(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int, minShared: Long,
      maxDf: Long = 1000): DataFrame = {
    val c = shingleRows(corpus, idCol, textCol, n)
      .select(col(idCol).as("corpus_id"), col("s"))
    val b = capDf(
      shingleRows(benchmark, idCol, textCol, n)
        .select(col(idCol).as("bench_id"), col("s")),
      Seq("s"), maxDf)
    c.join(b, "s")
      .groupBy(col("corpus_id").as(idCol))
      // DISTINCT windows, not join rows: a single shared window that
      // appears in several benchmark docs is ONE contaminated window —
      // counting the (window, bench_doc) pairs would let one piece of
      // sub-cap boilerplate cross minShared on its own
      .agg(countDistinct(col("s")).as("contaminated_windows"),
        countDistinct(col("bench_id")).as("benchmark_docs"))
      .filter(col("contaminated_windows") >= minShared)
  }

  /** Nonzero n-gram Jaccard pairs within blocking groups, id1 < id2, via a
    * shingle-inverted-index join: explode shingles, join on
    * (block, shingle), count co-occurrences per pair, then
    * `|A ∪ B| = |A| + |B| − |A ∩ B|`. Pairs sharing no shingle never
    * materialize — at scale this is linear in co-occurrences, not quadratic
    * in block size, and shuffles on the (block, shingle) key where skew is
    * diluted by the shingle dimension.
    *
    * Shingles with per-block document frequency above `maxDf` are dropped
    * from the posting lists before the self-join (see [[capDf]] — the
    * hot-key guard); set sizes |A|, |B| stay EXACT (computed before the
    * cap), so `jaccard_ppm` can only undercount, and only for pairs whose
    * overlap includes a capped ubiquitous shingle.
    *
    * The per-doc `sizes` table is one row per document — O(corpus) — so
    * it must NEVER be broadcast: the pairs side post-aggregation is the
    * small side, and AQE picks the strategy at runtime.
    */
  /** Containment (truncation) pairs: document A whose token stream is a
    * strict PREFIX of document B's — the truncated re-post / partial
    * mirror signal. Exact dedup (d1) misses it (hashes differ), and LSH
    * misses aggressive truncations (a 50% cut drops Jaccard to ~0.5,
    * under the banding threshold). Blocking is exact: a contained doc
    * shares its first `prefixTokens` tokens with its container, so
    * pairs join on the md5 of that prefix — candidates are
    * prefix-families only, never all-pairs — and the O(len) string
    * verify runs on candidates alone (the d17 two-stage stance). Docs
    * with fewer than `prefixTokens` tokens are out of scope.
    *
    * Input is (id, tokens) so callers control normalization; the verify
    * compares single-space joins, i.e. containment in the normalized
    * token stream. Returns strict containment only (n_a < n_b) —
    * equal-content pairs are d1's job.
    */
  def containmentPairs(df: DataFrame, idCol: String, toksCol: String,
      prefixTokens: Int = 8): DataFrame = {
    val j = df.filter(size(col(toksCol)) >= prefixTokens)
      .select(col(idCol), size(col(toksCol)).cast("long").as("n"),
        concat_ws(" ", col(toksCol)).as("tj"),
        md5(concat_ws(" ", slice(col(toksCol), 1, prefixTokens))
          .cast("binary")).as("pk"))
      .localCheckpoint(eager = false) // both join sides share the scan
    j.select(col(idCol).as("contained_id"), col("n").as("n_a"),
        col("tj").as("tja"), col("pk"))
      .join(j.select(col(idCol).as("container_id"), col("n").as("n_b"),
        col("tj").as("tjb"), col("pk")), "pk")
      .filter(col("n_a") < col("n_b"))
      // strict token-prefix: the container continues with a space then
      // its next token right where the contained doc ends
      .filter(expr("substring(tjb, 1, length(tja) + 1) = concat(tja, ' ')"))
      .select(col("contained_id"), col("container_id"), col("n_a"),
        col("n_b"), expr("n_a * 1000000L div n_b").as("coverage_ppm"))
  }

  /** Per-document n-gram NOVELTY: the fraction of a doc's distinct
    * shingles whose FIRST occurrence (by id order) is this document —
    * the derivativeness signal that ranks a corpus by how much each doc
    * adds over everything ingested before it. A verbatim re-post scores
    * 0; boilerplate-heavy pages score low; genuinely new content scores
    * near 10⁶ ppm. Complements pairwise dedup: no pair enumeration at
    * all, so it sees diffuse derivativeness (a doc stitched from many
    * sources) that no single near-dup pair exposes.
    *
    * Shape: one distinct shingle explode, one min-aggregate per shingle
    * (first owner), one shingle-keyed equi-join back (AQE-splittable on
    * hot boilerplate grams), one per-doc aggregate. All integer.
    */
  def noveltyScores(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, carry: Seq[String] = Seq.empty): DataFrame = {
    val ex = shingleRows(df, idCol, textCol, n, carry)
      .localCheckpoint(eager = false) // first-owner agg + join share it
    val first = ex.groupBy(col("s")).agg(min(col(idCol)).as("__first"))
    ex.join(first, "s")
      .groupBy(col(idCol) +: carry.map(col): _*)
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__first") === col(idCol), 1L).otherwise(0L))
          .as("novel_grams"))
      .withColumn("novelty_ppm",
        expr("novel_grams * 1000000L div n_grams"))
  }

  /** Content-defined chunking over the TOKEN stream (gear-CDC style):
    * a position whose trailing 3-token WINDOW hashes to 0 (mod
    * `modulus`) CLOSES its chunk, so boundaries are pure functions of
    * local content — insert a paragraph into a document and every chunk
    * outside the edit's ±2-token neighborhood keeps its identity, which
    * is exactly what byte-offset (fixed-size) chunking destroys. This
    * is the storage/transfer dedup primitive that catches PARTIAL
    * overlap document-level dedup (d1) cannot: two docs sharing a
    * boilerplate paragraph share those chunks verbatim. The window (not
    * a single token) is load-bearing on small-vocabulary corpora: with
    * V distinct tokens a per-token gear has only V possible hash
    * values, and one unlucky vocabulary yields zero boundaries
    * anywhere; the 3-gram context space is V³.
    *
    * Expected chunk length is ~`modulus` tokens. Returns one row per
    * chunk: `(id, carry…, chunk_idx, chunk_hash, n_tok)`.
    *
    * Scale: boundary flags are computed in array land inside the scan
    * stage; the running boundary count is a window PARTITIONED BY
    * DOCUMENT ordered by position — bounded by document length, the
    * t17 stance, never a corpus-wide partition; chunk reassembly is a
    * hash aggregate whose per-group state is one expected-`modulus`-
    * token chunk.
    */
  def contentDefinedChunks(df: DataFrame, idCol: String, textCol: String,
      carryCols: Seq[String] = Seq.empty, modulus: Int = 16): DataFrame = {
    val flags = transform(sequence(lit(1), size(col("tk"))), i =>
      when(i >= 3,
        (shingleHash(concat_ws(" ", slice(col("tk"), i - 2, lit(3))))
          % modulus === 0).cast("int"))
        .otherwise(lit(0)))
    val tokPos = df
      .select((col(idCol) +: carryCols.map(col)) :+
        TextAnalysis.tokens(col(textCol)).as("tk"): _*)
      // an empty token array would hit sequence(1,0)=[1,0] (descending!)
      // and arrays_zip would null-pad a phantom 2-token chunk — the same
      // pitfall t39 guards; an empty doc simply has no chunks
      .filter(size(col("tk")) > 0)
      .withColumn("fl", flags)
      .select((col(idCol) +: carryCols.map(col)) :+
        posexplode(arrays_zip(col("tk"), col("fl"))).as(Seq("pos", "z")): _*)
      .select((col(idCol) +: carryCols.map(col)) ++
        Seq(col("pos"), col("z.tk").as("tok"), col("z.fl").as("is_b")): _*)
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    // the boundary position CLOSES its chunk: its running-sum includes
    // itself, so subtracting is_b keeps it in the chunk it terminates
    val withIdx = tokPos.withColumn("chunk_idx",
      (sum(col("is_b")).over(w) - col("is_b")).cast("long"))
    withIdx
      .groupBy((col(idCol) +: carryCols.map(col)) :+ col("chunk_idx"): _*)
      .agg(
        md5(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).cast("binary")).as("chunk_hash"),
        count(lit(1)).as("n_tok"))
  }

  /** Edit-distance verification stage for candidate near-dup pairs —
    * the second stage of the classic two-stage dedup: a cheap blocker
    * (LSH banding, simhash bands) proposes candidates, and exact
    * Levenshtein CONFIRMS them, killing the banding false-positives a
    * signature estimate lets through. Levenshtein is O(L²) per pair, so
    * it must never touch the corpus directly; bounding it to the
    * blocker's output and to a `prefix`-char window caps the DP at
    * prefix² cells per candidate — the verify-stage budget, not a scan
    * cost. Both joins are id-equi (AQE picks broadcast vs shuffle and
    * skew-splits a hot document).
    *
    * `verified` is `edit_dist ≤ maxDistPpm·max(len)` on the compared
    * prefixes; `edit_sim_ppm` is the normalized similarity
    * `(len − dist)/len`, integer-exact on any engine.
    */
  def editVerifiedPairs(cands: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, prefix: Int = 200,
      maxDistPpm: Long = 200000L): DataFrame = {
    val p = docs.select(col(idCol), substring(col(textCol), 1, prefix).as("__p"))
    cands
      .join(p.select(col(idCol).as("id1"), col("__p").as("p1")), "id1")
      .join(p.select(col(idCol).as("id2"), col("__p").as("p2")), "id2")
      .withColumn("edit_dist", levenshtein(col("p1"), col("p2")).cast("long"))
      .withColumn("plen",
        greatest(length(col("p1")), length(col("p2"))).cast("long"))
      .withColumn("edit_sim_ppm",
        when(col("plen") === 0L, 1000000L) // two empty prefixes: identical
          .otherwise(expr("(plen - edit_dist) * 1000000L div plen")))
      .withColumn("verified",
        col("edit_dist") * 1000000L <= col("plen") * maxDistPpm)
      .drop("p1", "p2")
  }

  /** Cross-group n-gram vocabulary overlap matrix: for every pair of
    * groups (sources, feeds, snapshots) the count of shared distinct
    * word n-grams and the Jaccard similarity of the two vocabularies —
    * the corpus-mixing diagnostic that surfaces mirrored / syndicated
    * feeds BEFORE document-level dedup would (two mirrors share most of
    * their vocabulary long before they share exact content hashes).
    *
    * Shape: one distinct over (group, shingle) — the only O(corpus)
    * shuffle — then a shingle-keyed self-join whose per-shingle fan-out
    * is bounded by the GROUP cardinality (each group contributes each
    * shingle once), never by document frequency. With S groups a
    * ubiquitous shingle costs S² intermediate rows — the size of the
    * output matrix itself, the t17 bounded-domain stance — and the join
    * is equi-keyed so AQE skew-splits a hot shingle. Per-group sizes
    * are one row per group and broadcast explicitly.
    */
  def sourceOverlap(df: DataFrame, groupCol: String, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    // positional rows, not the array-land shingles() expression: the
    // convenience form re-evaluates the tokenizer per lambda reference
    // once projections collapse (the :208 pitfall) — measured 4.1 s of
    // a 4.4 s query on this leg alone at sf0.1; the explode+lead form
    // tokenizes once and was 0.4 s. The (group, gram) distinct then
    // collapses positional duplicates in the same shuffle.
    val vocab = positionalShingleRows(df, idCol, textCol, n,
        carry = Seq(groupCol))
      .select(col(groupCol).as("g"), col("s"))
      .distinct()
      .localCheckpoint(eager = false) // feeds sizes AND both join sides
    val sizes = vocab.groupBy(col("g")).agg(count(lit(1)).as("sz"))
    val inter = vocab.select(col("g").as("source_1"), col("s"))
      .join(vocab.select(col("g").as("source_2"), col("s")), "s")
      .filter(col("source_1") < col("source_2"))
      .groupBy(col("source_1"), col("source_2"))
      .agg(count(lit(1)).as("shared_grams"))
    inter
      .join(broadcast(sizes.select(col("g").as("source_1"), col("sz").as("sz1"))),
        "source_1")
      .join(broadcast(sizes.select(col("g").as("source_2"), col("sz").as("sz2"))),
        "source_2")
      .select(col("source_1"), col("source_2"), col("shared_grams"),
        col("sz1"), col("sz2"),
        expr("shared_grams * 1000000L div (sz1 + sz2 - shared_grams)")
          .as("jaccard_ppm"))
  }

  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
      blockCols: Seq[String], maxDf: Long = 1000): DataFrame = {
    // one shingle computation, already exploded; per-doc set sizes derive
    // FROM the exploded rows (a separate `size(shingles)` reference would
    // recompute the whole gram expression after projection collapse)
    val ex = shingleRows(df, idCol, textCol, n, blockCols)
    val sizes = ex.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val capped = capDf(ex, blockCols :+ "s", maxDf)
    val inter = capped.select((col(idCol).as("id1") +: blockCols.map(col)) :+ col("s"): _*)
      .join(capped.select((col(idCol).as("id2") +: blockCols.map(col)) :+ col("s"): _*),
        blockCols :+ "s")
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("id1"), col("sz").as("sz1")), "id1")
      .join(sizes.select(col(idCol).as("id2"), col("sz").as("sz2")), "id2")
      .select(col("id1"), col("id2"),
        floor(col("inter").cast("long") * 1000000L /
          (col("sz1") + col("sz2") - col("inter"))).as("jaccard_ppm"))
  }
}
