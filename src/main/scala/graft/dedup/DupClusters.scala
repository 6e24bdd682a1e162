package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: connected components over a near-dup
  * pair list, labeling every member with the component-minimum id.
  *
  * The near-dup detectors ([[Dedup.jaccardPairs]], simhash banding,
  * shared windows, embedding cosine) each emit PAIRS; a training-data
  * dedup pass must then keep ONE document per transitive group — A~B and
  * B~C put A,B,C in one cluster even when A and C were never compared.
  * That closure is what this operator computes.
  *
  * Algorithm: iterative min-label propagation with a pointer-jumping
  * shortcut, entirely in DataFrame joins so Catalyst plans every round:
  *
  *   1. propagate: `label(v) ← min(label(v), min over neighbors u of
  *      label(u))` — one shuffle on the edge dst, one on the vertex id.
  *   2. shortcut:  `label(v) ← label(label(v))` — pointer jumping halves
  *      the depth of label chains, so convergence is O(log diameter)
  *      rounds rather than O(diameter).
  *
  * Each round ends in `localCheckpoint()` — iterative DataFrame loops
  * otherwise stack every round into one mega-plan that Catalyst
  * re-analyzes from scratch each iteration (lineage blowup).
  *
  * Scale posture: near-dup clusters are overwhelmingly small-diameter
  * (near-cliques around a template or a copied article), so the loop
  * converges in 2–4 rounds; the worst case (a path graph) still needs
  * only O(log n) rounds thanks to the shortcut step. Every round is two
  * hash-aggregate/join shuffles keyed on ids — no broadcast of anything
  * O(corpus). The convergence check is a count aggregate per round (one
  * tiny job), the standard driver-side control loop for iterative
  * distributed algorithms.
  *
  * Reference behavior anchor: the reference dedups by exact composite key
  * only (`consolidate_invoices.py:485-495` skip-existing semantics); the
  * transitive-closure layer is part of this engine's training-data
  * extension surface (builder brief), not a reference port.
  */
object DupClusters {

  /** Connected components of the undirected graph given by `pairs`
    * (columns `c1`, `c2`, one row per edge; self-loops and duplicate
    * edges are tolerated). Returns `(id, cluster_id)` with one row per
    * distinct endpoint, where `cluster_id` is the minimum id reachable
    * from that endpoint (a canonical, engine-portable component label).
    *
    * Vertices with no edges never appear in `pairs`, so callers wanting
    * singleton clusters union the untouched ids back in themselves.
    *
    * @param maxIter hard cap on propagation rounds; the loop exits early
    *   as soon as a round changes no label. With pointer jumping the cap
    *   is effectively `2^maxIter`-diameter coverage — 20 covers any graph
    *   that fits in storage.
    */
  def connectedComponents(pairs: DataFrame, c1: String, c2: String,
      maxIter: Int = 20): DataFrame = {
    // symmetric edge list, deduped: the propagation join keys on src
    val edges = pairs.select(col(c1).as("src"), col(c2).as("dst"))
      .union(pairs.select(col(c2).as("src"), col(c1).as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()

    var labels = edges.select(col("src").as("id"))
      .distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()

    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // 1. propagate: min neighbor label per vertex
      val nbrMin = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("label")).as("nbr_min"))
      val propagated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_min"), col("label")))
            .as("label"),
          col("label").as("prev"))

      // 2. shortcut (pointer jumping): label ← label(label)
      // Convergence rides the round's OWN materializing job as an
      // observed metric (r16): the eager localCheckpoint is an action,
      // so `observe` collects the changed-label count during it and the
      // separate `isEmpty` job the loop used to pay per round (one full
      // scan of the checkpointed frame + a task-dispatch round trip)
      // disappears — one job per round instead of two.
      val obs = org.apache.spark.sql.Observation(s"cc_conv_$iter")
      val jumped = propagated.alias("l")
        .join(labels.select(col("id").as("label"),
          col("label").as("label2")).alias("p"), Seq("label"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("label2"), col("label")))
            .as("label"),
          col("prev"))
        .observe(obs,
          count(when(col("label") =!= col("prev"), lit(1))).as("changed"))
        .localCheckpoint()

      converged = obs.get("changed").asInstanceOf[Long] == 0L
      labels = jumped.drop("prev")
      iter += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Canonical-document election per cluster: given `(id, cluster_id)`
    * membership and the document table, keep the member with the most
    * tokens (ties → smallest id) and report cluster size. The keep-one
    * policy a dedup pass applies after transitive closure.
    *
    * One hash aggregate keyed on cluster_id: the argmax rides a
    * `min(struct(-n_tokens, id))` so no window/sort shuffle is paid and
    * ties break deterministically toward the smallest id. Only the
    * TOKEN COUNT is negated (always numeric) — negating the id would
    * break for string document ids (URLs/UUIDs, the common crawl case).
    */
  /** Fixed-iteration integer PageRank over the undirected pair graph —
    * the centrality signal that surfaces template/boilerplate hubs in a
    * near-dup graph (a document similar to MANY others is structure,
    * not content). All arithmetic is INTEGER ppm with a PINNED division
    * order (contribution = `pr div deg` per edge, damped =
    * `(1−d) + d·Σ div 10⁶`), so a SQL oracle replays every iteration
    * bit-for-bit — floats would drift across engines after one damping
    * multiply.
    *
    * Each iteration is ONE key-equi join (ranks ⋈ static adjacency) +
    * one hash aggregate — the Pregel shape expressed declaratively, AQE
    * skew-splittable on hub vertices; the adjacency (edges + out-degree)
    * is built once and checkpointed, and each iteration's rank frame is
    * lazily checkpointed so lineage doesn't stack with the iteration
    * count. Iterations are a small fixed constant: curation centrality
    * stabilizes in a few rounds and a fixed count is what an oracle can
    * replay.
    */
  def pageRank(pairs: DataFrame, c1: String, c2: String,
      iterations: Int = 3, dampingPpm: Long = 850000L): DataFrame = {
    val edges = pairs.select(col(c1).as("src"), col(c2).as("dst"))
      .unionByName(pairs.select(col(c2).as("src"), col(c1).as("dst")))
      .distinct()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val adj = edges.join(deg, "src").localCheckpoint(eager = false)
    var ranks = deg.select(col("src").as("id"), lit(1000000L).as("pr"))
    for (_ <- 1 to iterations) {
      ranks = ranks.join(adj, ranks("id") === adj("src"))
        .select(col("dst"), expr("pr div deg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("s"))
        .select(col("dst").as("id"),
          expr(s"${1000000L - dampingPpm}L + (${dampingPpm}L * s) div 1000000L")
            .as("pr"))
        .localCheckpoint(eager = false)
    }
    ranks.join(deg.withColumnRenamed("src", "id"), "id")
      .select(col("id"), col("deg"), col("pr").as("pr_ppm"))
  }

  def canonicalPerCluster(members: DataFrame, docs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val withTok = members.join(
      docs.select(col(idCol).as("id"),
        graft.text.TextAnalysis.tokenCount(col(textCol)).as("n_tokens")),
      "id")
    withTok.groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("cluster_size"),
        min(struct((-col("n_tokens")).as("neg_tokens"), col("id"),
          col("n_tokens"))).as("best"))
      .select(col("cluster_id"),
        col("cluster_size"),
        col("best.id").as("keep_id"),
        col("best.n_tokens").as("keep_tokens"))
  }
}
