package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Blocked edit-distance record linkage — fuzzy-match two keyed string
  * tables without ever going quadratic.
  *
  * Candidate generation pigeonholes on the (prefix, suffix) pair: a
  * SINGLE edit (substitute / insert / delete) cannot change both the
  * first `p` characters and the last `p` characters of a string whose
  * length is at least `2p + 1` — an edit at position `i` leaves the
  * prefix intact when `i ≥ p` and leaves the suffix intact when the edit
  * sits more than `p` characters from the end, and those ranges cover
  * every position. So the union of two equi-joins (on prefix-`p`, on
  * suffix-`p`) is CANDIDATE-COMPLETE for distance ≤ 1, and the exact
  * `levenshtein` filter runs only on block co-occupants. (Distance ≤ d
  * generalizes to d+1 segments — PassJoin's partition scheme; this
  * implementation fixes d = 1, the dominant record-linkage case.)
  *
  * Scale: two shuffles keyed on 4-char blocks. A ubiquitous block value
  * (every string sharing a prefix) is an equi-join skew problem, which
  * AQE's skew-join splitting handles — the same declarative-join stance
  * as d12/k2; nothing here windows or collects. The `levenshtein` filter
  * is codegen'd and runs post-join on candidates only.
  */
object FuzzyJoin {

  /** Pairs within edit distance ≤ 1: (leftId, rightId, dist).
    *
    * Completeness partition (both paths overlap at length exactly 2p so
    * no cross-length pair falls between them):
    *   - LONG pairs (both lengths ≥ 2p): prefix/suffix pigeonhole — a
    *     substitution needs length ≥ 2p and an insert/delete needs the
    *     shorter length ≥ 2p−1 for "edit spares the prefix OR spares
    *     the suffix" to cover every position; both hold here.
    *   - SHORT pairs (both lengths ≤ 2p; lev ≤ 1 forces |Δlen| ≤ 1, so
    *     a short string's partner is ≤ 2p too or has length exactly 2p
    *     and is ALSO in the short set): length-banded blocks — the left
    *     side emits len−1/len/len+1, the right its own length. Never an
    *     unkeyed cross product; short blocks are bounded by the
    *     alphabet (≤ |Σ|^2p distinct values) and a hot block is an
    *     AQE-splittable equi-join, not a window.
    */
  def join1(left: DataFrame, right: DataFrame,
      leftId: String, leftStr: String,
      rightId: String, rightStr: String, p: Int = 4): DataFrame = {
    require(p > 0, s"block width must be positive, got $p")
    def base(df: DataFrame, id: String, str: String, idAs: String,
        strAs: String): DataFrame =
      df.select(col(id).as(idAs), col(str).as(strAs))
    val l = base(left, leftId, leftStr, "l_id", "l_str")
    val r = base(right, rightId, rightStr, "r_id", "r_str")
    val (lLong, lShort) = (l.filter(length(col("l_str")) >= 2 * p),
      l.filter(length(col("l_str")) <= 2 * p))
    val (rLong, rShort) = (r.filter(length(col("r_str")) >= 2 * p),
      r.filter(length(col("r_str")) <= 2 * p))
    val byPrefix = lLong.withColumn("blk", substring(col("l_str"), 1, p))
      .join(rLong.withColumn("blk", substring(col("r_str"), 1, p)), "blk")
    val bySuffix = lLong.withColumn("blk", substring(col("l_str"), -p, p))
      .join(rLong.withColumn("blk", substring(col("r_str"), -p, p)), "blk")
    val byLen = lShort
      .select(col("l_id"), col("l_str"),
        explode(array(length(col("l_str")) - 1, length(col("l_str")),
          length(col("l_str")) + 1)).as("blk_len"))
      .join(rShort.withColumn("blk_len", length(col("r_str"))), "blk_len")
      .drop("blk_len")
    val cands = Seq(byPrefix, bySuffix, byLen)
      .map(_.select(col("l_id"), col("r_id"), col("l_str"), col("r_str")))
      .reduce(_ unionByName _)
      .distinct()
    cands
      .withColumn("dist", levenshtein(col("l_str"), col("r_str")))
      .filter(col("dist") <= 1)
      .select(col("l_id").as(leftId), col("r_id").as(rightId), col("dist"))
  }
}
