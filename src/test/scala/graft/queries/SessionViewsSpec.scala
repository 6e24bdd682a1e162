package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions._

import graft.SparkSpec

/** The session-view registry's contract ([[SessionViews]]): one build per
  * (session, dir, name) and hits after it, a separate entry per session,
  * at most four entries per name with the oldest evicted and its frames
  * unpersisted, no entry left by a build that throws, nested builds, and
  * — at query level — one shared Jaccard-pairs build behind d2, d7 and
  * d20. Every test uses its own registry names, so the counters it
  * reads are its own.
  */
class SessionViewsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def cached(df: DataFrame): Boolean =
    spark.sharedState.cacheManager.lookupCachedData(df).isDefined

  test("a repeated (session, dir, name) builds once, then hits") {
    var runs = 0
    def get() = SessionViews(spark, "dir-a", "spec.repeat") { runs += 1; runs }
    assert(Seq(get(), get(), get()) == Seq(1, 1, 1))
    assert(SessionViews.builds("spec.repeat") == 1)
    assert(SessionViews.hits("spec.repeat") == 2)
  }

  test("a new session gets its own entry for the same dir and name") {
    val other = spark.newSession()
    assert(SessionViews(spark, "dir-a", "spec.session")("first") == "first")
    assert(SessionViews(other, "dir-a", "spec.session")("second") == "second")
    assert(SessionViews(spark, "dir-a", "spec.session")("unused") == "first")
    assert(SessionViews.builds("spec.session") == 2)
    assert(SessionViews.hits("spec.session") == 1)
  }

  test("a fifth dir evicts the oldest entry and unpersists its frames") {
    // distinct plans per dir, so each cache entry is its own
    def frame(i: Int) = spark.range(0, 100L + i).toDF("id").persist()
    val frames = (1 to 5).map(i =>
      SessionViews(spark, s"dir-$i", "spec.evict")(frame(i)))
    val seqFrames = (1 to 5).map(i =>
      SessionViews(spark, s"dir-$i", "spec.evictSeq")(Seq(frame(1000 + i))))
    try {
      assert(!cached(frames.head), "evicted frame still cached")
      assert(frames.tail.forall(cached))
      assert(!cached(seqFrames.head.head), "evicted persist-only frame still cached")
      assert(seqFrames.tail.forall(fs => cached(fs.head)))
      // the evicted dir is rebuilt on its next call; the kept ones hit
      SessionViews(spark, "dir-1", "spec.evict")(frame(1))
      SessionViews(spark, "dir-5", "spec.evict")(frame(5))
      assert(SessionViews.builds("spec.evict") == 6)
      assert(SessionViews.hits("spec.evict") == 1)
    } finally (frames ++ seqFrames.flatten).foreach(_.unpersist())
  }

  test("a build that throws leaves no entry; the next call rebuilds") {
    intercept[IllegalStateException] {
      SessionViews[String](spark, "dir-a", "spec.throw") {
        throw new IllegalStateException("build failed")
      }
    }
    assert(SessionViews(spark, "dir-a", "spec.throw")("rebuilt") == "rebuilt")
    assert(SessionViews(spark, "dir-a", "spec.throw")("unused") == "rebuilt")
    assert(SessionViews.builds("spec.throw") == 2)
    assert(SessionViews.hits("spec.throw") == 1)
  }

  test("a build may consult another name") {
    def inner() = SessionViews(spark, "dir-a", "spec.inner")(21)
    def outer() = SessionViews(spark, "dir-a", "spec.outer")(inner() * 2)
    assert(outer() == 42)
    assert(outer() == 42)
    assert(inner() == 21)
    assert(SessionViews.builds("spec.outer") == 1)
    assert(SessionViews.builds("spec.inner") == 1)
    assert(SessionViews.hits("spec.inner") == 1)
  }

  test("d2, d7 and d20 share one Jaccard-pairs build per session") {
    val s = spark.newSession()
    val before = SessionViews.builds("jacc")
    Seq("d2_jaccard_pairs", "d7_dup_clusters", "d20_cluster_medoids")
      .foreach(q => graft.SparkEntry.queries(q)(s, sf))
    assert(SessionViews.builds("jacc") - before == 1)
  }
}
