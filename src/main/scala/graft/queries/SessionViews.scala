package graft.queries

import org.apache.spark.sql.{Dataset, SparkSession}

/** The one registry of session-shared views: every frame, store path or
  * trained model that several queries share within a session is built
  * once per (session, dir) under a registry `name` and served from here
  * on every later build — the `persist`/CacheManager materialized-view
  * idiom. A build may run jobs: an eager checkpoint (connected
  * components), a store write, a training pass; a lazily checkpointed or
  * persisted frame pays its cost on the first query that executes it.
  *
  * Three policies live here and nowhere else:
  *  - the key: the session's collision-free key plus the dir;
  *  - the bound: at most [[PerName]] entries per name, oldest evicted
  *    first, so a long-lived session sweeping many (session, dir) pairs
  *    does not pin every superseded view;
  *  - release on eviction: an evicted entry unpersists every DataFrame
  *    it holds — the value itself, or each frame of a `Seq` a
  *    persist-only entry returns. Lazily checkpointed RDD blocks are
  *    released by the ContextCleaner once the frame is unreferenced. An
  *    evicted store path keeps its temp dir (frames already built may
  *    still read it); the [[TempStores]] shutdown hook deletes it.
  *
  * A build that throws leaves no entry, so the next call rebuilds. A
  * build may consult another name (cc builds on jacc, pq on vecstore);
  * each name has its own lock, and nested names only point one way.
  */
private[graft] object SessionViews {

  private val PerName = 4

  private final class Slot {
    val entries = new java.util.LinkedHashMap[String, Any]()
    var builds = 0L
    var hits = 0L
  }

  private val slots =
    new java.util.concurrent.ConcurrentHashMap[String, Slot]()

  private def slot(name: String): Slot =
    slots.computeIfAbsent(name, _ => new Slot)

  def apply[T](s: SparkSession, dir: String, name: String)(build: => T): T = {
    val sl = slot(name)
    val key = org.apache.spark.sql.GraftSqlBridge.sessionKey(s) + "|" + dir
    sl.synchronized {
      if (sl.entries.containsKey(key)) {
        sl.hits += 1
        sl.entries.get(key).asInstanceOf[T]
      } else {
        sl.builds += 1
        val v = build
        if (sl.entries.size >= PerName) {
          val it = sl.entries.values().iterator()
          val oldest = it.next()
          it.remove()
          release(oldest)
        }
        sl.entries.put(key, v)
        v
      }
    }
  }

  private def release(v: Any): Unit = v match {
    case df: Dataset[_] => unpersist(df)
    case dfs: Seq[_] => dfs.foreach { case df: Dataset[_] => unpersist(df); case _ => () }
    case _ => ()
  }

  private def unpersist(df: Dataset[_]): Unit =
    try df.unpersist()
    catch { case scala.util.control.NonFatal(_) => () }

  /** Times `name`'s build has run (including builds that threw). */
  def builds(name: String): Long = { val sl = slot(name); sl.synchronized(sl.builds) }

  /** Calls to `name` served from an existing entry. */
  def hits(name: String): Long = { val sl = slot(name); sl.synchronized(sl.hits) }
}
