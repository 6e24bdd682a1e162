package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.domain.InvoiceRecord
import graft.functions.{parse_clp_money, parse_multi_date, clean_string, norm_currency}

/** Invoice-shaped views over the `lineitem` scale table (FIXTURES.md §6:
  * composite key (l_orderkey, l_linenumber), amount l_extendedprice), used
  * to exercise the reference pipeline's operators at scale.
  *
  * Two cross-engine determinism rules shape this file:
  *   - [[m2]]: double → money must round IDENTICALLY in Spark and DuckDB.
  *     A direct `CAST(double AS DECIMAL(18,2))` differs at half-cent
  *     boundaries (Spark rounds the shortest string repr, DuckDB the binary
  *     value). `round(x*100)` agrees everywhere: IEEE products are identical
  *     and .5 ties are exactly representable, so HALF_UP(shortest-repr)
  *     == round(binary).
  *   - [[uniq]]: the synthetic lineitem has DUPLICATE (l_orderkey,
  *     l_linenumber) pairs, so every view keyed by them first aggregates to
  *     one row per key — giving a true composite PK and tie-free ORDER BYs.
  *
  * [[raw]] deliberately routes values through locale-formatted STRINGS and
  * injects deterministic bad rows, so the canonicalization layer (F3 money
  * parse, F4 date parse, F1 cleaning) and the P6 validation split do real
  * work that the DuckDB oracle then verifies arithmetically.
  */
object InvoiceView {

  val money = InvoiceRecord.money

  /** Engine-agreeing double → DECIMAL(18,2) conversion (see class doc). */
  def m2(c: Column): Column =
    (round(c * 100, 0).cast("decimal(18,0)") *
      lit(new java.math.BigDecimal("0.01"))).cast(money)

  /** DuckDB rendering of [[m2]]. */
  def m2Sql(e: String): String =
    s"CAST(CAST(ROUND(($e)*100) AS DECIMAL(18,0)) * 0.01 AS DECIMAL(18,2))"

  /** One row per (l_orderkey, l_linenumber): the deduplicated base view all
    * PK-keyed queries build on. Money columns become exact DECIMAL(18,2)
    * (summed in decimal, never in double), so downstream arithmetic is
    * engine-exact.
    */
  def uniq(li: DataFrame): DataFrame =
    li.groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(
        max(col("l_returnflag")).as("l_returnflag"),
        max(col("l_shipdate").cast("date")).as("l_shipdate"),
        sum(m2(col("l_extendedprice"))).cast(money).as("l_extendedprice"),
        max(col("l_partkey")).as("l_partkey"),
        max(col("l_suppkey")).as("l_suppkey"),
        sum(col("l_quantity").cast("long")).as("l_quantity"),
        max(m2(col("l_tax"))).as("l_tax"),
        max(m2(col("l_discount"))).as("l_discount"))

  /** The oracle-side CTE mirroring [[uniq]] (DuckDB SQL). */
  val uniqSql: String =
    s"""uniq AS (
       |  SELECT l_orderkey, l_linenumber,
       |         max(l_returnflag) AS l_returnflag,
       |         max(CAST(l_shipdate AS DATE)) AS l_shipdate,
       |         CAST(SUM(${m2Sql("l_extendedprice")}) AS DECIMAL(18,2)) AS l_extendedprice,
       |         max(l_partkey) AS l_partkey,
       |         max(l_suppkey) AS l_suppkey,
       |         SUM(CAST(l_quantity AS BIGINT)) AS l_quantity,
       |         max(${m2Sql("l_tax")}) AS l_tax,
       |         max(${m2Sql("l_discount")}) AS l_discount
       |  FROM lineitem GROUP BY 1, 2)""".stripMargin

  /** Ordinal that is unique per [[uniq]] row and order-stable. */
  def rowIndex: Column =
    (col("l_orderkey") * 10 + col("l_linenumber")).as("row_index")

  /** Raw (pre-canonicalization) invoice rows with injected error rows:
    * l_orderkey % 7 == 0  → blank invoice_number (PK invariant violation)
    * l_orderkey % 13 == 0 → unparseable date
    * l_orderkey % 11 == 0 → tax=2 without adjusting net (cross-check fail,
    *                        variance exactly 2 > the 1-peso tolerance)
    */
  def raw(li: DataFrame): DataFrame = {
    val u = uniq(li)
    val ok = col("l_orderkey")
    val totalDec = col("l_extendedprice")
    // decimal rendered "1234.56" → "1234,56": exercises the decimal-comma arm
    val totalStr = translate(totalDec.cast("string"), ".", ",")
    val dateStr =
      when(ok % 13 === 0, lit("INVALID-DATE"))
        .when(ok % 3 === 0, date_format(col("l_shipdate"), "dd-MM-yyyy"))
        .when(ok % 3 === 1, date_format(col("l_shipdate"), "yyyy-MM-dd"))
        .otherwise(date_format(col("l_shipdate"), "dd/MM/yyyy"))
    u.select(
      rowIndex,
      when(ok % 7 === 0, lit("  ")).otherwise(concat(lit(" "), ok.cast("string"), lit(" ")))
        .as("invoice_number"),
      col("l_linenumber").cast("string").as("reference_number"),
      concat(lit(" "), col("l_returnflag"), lit(" ")).as("carrier_name"),
      dateStr.as("invoice_date"),
      totalStr.as("net_amount"),
      when(ok % 11 === 0, lit("2")).otherwise(lit("0")).as("tax_amount"),
      totalStr.as("total_amount"),
      lit("clp").as("currency"))
  }

  /** Session-scoped shared materialization of [[uniq]] + [[canonical]]
    * over `sfDir`'s lineitem, built once per session and returned as the
    * persisted frames themselves: every driver-invoked query that derives
    * from the 600k-row uniq groupBy (p6 family, o3, f3/f4/f7/f9, the j*
    * merges via [[cleanOf]]) starts from these, so its build neither
    * re-loads lineitem nor re-analyzes the aggregation, and its plan reads
    * the InMemoryRelation instead of re-aggregating. ~tens of MB at sf0.1
    * — at cluster scale this is a `persist` of a dimension-sized view,
    * the standard Spark idiom for cross-query reuse.
    */
  private def shared(s: org.apache.spark.sql.SparkSession, sfDir: String): Seq[DataFrame] =
    SessionViews(s, sfDir, "invoice") {
      val li = Tables.load(s, sfDir, "lineitem")
      Seq(uniq(li).persist(), canonical(li).persist())
    }

  /** The session's persisted [[uniq]] over `sfDir`'s lineitem. */
  def sharedUniq(s: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame =
    shared(s, sfDir).head

  /** The session's persisted [[canonical]] over `sfDir`'s lineitem. */
  def sharedCanonical(s: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame =
    shared(s, sfDir)(1)

  /** Canonicalized invoice rows: cleaning + money/date parsing applied.
    * Output types are the canonical wire types (SURVEY §1.2).
    */
  def canonical(li: DataFrame): DataFrame = {
    val r = raw(li)
    r.select(
      col("row_index"),
      clean_string(col("invoice_number")).as("invoice_number"),
      clean_string(col("reference_number")).as("reference_number"),
      clean_string(col("carrier_name")).as("carrier_name"),
      parse_multi_date(col("invoice_date")).as("invoice_date"),
      parse_clp_money(col("net_amount")).as("net_amount"),
      parse_clp_money(col("tax_amount")).as("tax_amount"),
      parse_clp_money(col("total_amount")).as("total_amount"),
      norm_currency(col("currency")).as("currency"))
  }

  /** Clean (no injected errors) slim canonical view used by the merge /
    * reconcile queries. PK = (invoice_number, reference_number), unique by
    * construction via [[uniq]].
    */
  def clean(li: DataFrame): DataFrame = cleanOf(uniq(li))

  /** [[clean]] over an already-built [[uniq]] frame. */
  def cleanOf(u: DataFrame): DataFrame =
    u.select(
      rowIndex,
      col("l_orderkey").cast("string").as("invoice_number"),
      col("l_linenumber").cast("string").as("reference_number"),
      col("l_returnflag").as("carrier_name"),
      col("l_shipdate").as("invoice_date"),
      col("l_extendedprice").as("net_amount"),
      lit(0).cast(money).as("tax_amount"),
      col("l_extendedprice").as("total_amount"),
      col("l_orderkey").as("ok"))

  /** The oracle-side CTE mirroring [[clean]] (DuckDB SQL); requires
    * [[uniqSql]] earlier in the WITH chain.
    */
  val cleanSql: String =
    """inv AS (
      |  SELECT l_orderkey * 10 + l_linenumber AS row_index,
      |         CAST(l_orderkey AS VARCHAR) AS invoice_number,
      |         CAST(l_linenumber AS VARCHAR) AS reference_number,
      |         l_returnflag AS carrier_name,
      |         l_shipdate AS invoice_date,
      |         l_extendedprice AS net_amount,
      |         CAST(0 AS DECIMAL(18,2)) AS tax_amount,
      |         l_extendedprice AS total_amount,
      |         l_orderkey AS ok
      |  FROM uniq)""".stripMargin
}
