package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.sketch.CmsStore

/** Streaming sink for the accreted [[graft.sketch.CmsStore]] (a18) —
  * the [[graft.sketch.HllStore]]/[[graft.sketch.KmvStore]] streaming
  * pattern on the SUM algebra, which is where the taxonomy forks:
  * cell-wise sum is not idempotent, so this sink cannot lean on the
  * merge alone the way the register and minima stores do. It leans on
  * the store's batch tag instead: each micro-batch appends its grid
  * under `b<batchId>`, and because a redelivered micro-batch (restart
  * between append and checkpoint commit — Spark replays the SAME epoch
  * id from the SAME offsets) re-writes bit-identical tagged rows, the
  * read-side distinct absorbs it. Exactly-once estimates
  * over an at-least-once sink, with the ledger living in the rows.
  *
  * The guard is scoped to redelivery under the store's OWN
  * checkpoint. A fresh checkpoint restarts epoch ids at 0, so a full
  * re-run is absorbed only if the source re-chunks the data into the
  * same batches (true for a deterministic file source, gated by the
  * spec) — re-chunked redelivery double-counts, which is the honest
  * limit of the sum algebra and the reason the max/min-k stores need
  * no such scoping.
  *
  * Scale posture: the sink ships ≤ |groups|·depth·width cells per
  * micro-batch into one parquet append, independent of batch rows.
  */
object CmsStoreStream {

  /** The foreachBatch sink: grid this batch with the store's own
    * stored parameters and append it under the epoch's tag. The store
    * must EXIST (created by [[CmsStore.write]] — the bootstrap fixes
    * the parameters).
    */
  def sink(storePath: String)(batch: DataFrame, batchId: Long): Unit =
    CmsStore.append(batch, s"b$batchId", storePath)
}
