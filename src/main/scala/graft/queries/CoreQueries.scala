package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.domain.InvoiceRecord
import graft.functions._
import graft.operators.{Canonicalize, Merge, RangeJoin, Validate}

import QueryTables.{t, tw}

/** Oracle-checked queries covering SURVEY.md §2's operator inventory over
  * the driver's scale tables. Each query pairs an idiomatic Spark plan with
  * an arithmetically-equivalent DuckDB oracle; outputs use explicitly cast
  * types and a total deterministic ORDER BY on both sides.
  */
object CoreQueries {

  private val money = InvoiceRecord.money

  // ---------------------------------------------------------------- scans/agg

  /** A1/A-class headline agg (TPC-H Q1 shape) on exact decimals. */
  val q1Agg = QueryDef("q1_agg",
    (s, dir) => {
      val li = tw(s, dir, "lineitem", "l_orderkey", "l_linenumber")
      import InvoiceView.m2
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(money)).cast(money).as("sum_qty"),
          sum(m2(col("l_extendedprice"))).cast(money).as("sum_base_price"),
          sum((m2(col("l_extendedprice")) *
            (lit(1).cast(money) - m2(col("l_discount"))))
            .cast(DecimalType(18, 4))).cast(money).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""
      |SELECT l_returnflag, l_linestatus,
      |       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
      |       CAST(CAST(SUM(CAST(CAST(ROUND((l_extendedprice)*100) AS DECIMAL(18,0)) * 0.01 AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
      |       CAST(CAST(ROUND(SUM(CAST(CAST(CAST(ROUND((l_extendedprice)*100) AS DECIMAL(18,0)) * 0.01 AS DECIMAL(18,2)) * (1 - CAST(CAST(ROUND((l_discount)*100) AS DECIMAL(18,0)) * 0.01 AS DECIMAL(18,2))) AS DECIMAL(18,4))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS sum_disc_price,
      |       COUNT(*) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus
      |""".stripMargin))

  /** Join + agg + top-k (TPC-H Q3 shape): broadcast-able dimension filter,
    * decimal revenue, deterministic top 10.
    */
  val q3TopRevenue = QueryDef("q3_top_revenue",
    (s, dir) => {
      val cutoff = lit(java.sql.Date.valueOf("1997-06-01"))
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders").filter(col("o_orderdate").cast("date") < cutoff)
      val li = t(s, dir, "lineitem").filter(col("l_shipdate").cast("date") > cutoff)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"),
          col("o_orderpriority"))
        .agg(sum((InvoiceView.m2(col("l_extendedprice")) *
          (lit(1).cast(money) - InvoiceView.m2(col("l_discount"))))
          .cast(DecimalType(18, 4))).cast(money).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    Some("""
      |SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
      |       CAST(CAST(ROUND(SUM(CAST(CAST(CAST(ROUND((l_extendedprice)*100) AS DECIMAL(18,0)) * 0.01 AS DECIMAL(18,2)) * (1 - CAST(CAST(ROUND((l_discount)*100) AS DECIMAL(18,0)) * 0.01 AS DECIMAL(18,2))) AS DECIMAL(18,4))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND CAST(o_orderdate AS DATE) < DATE '1997-06-01'
      |  AND CAST(l_shipdate AS DATE) > DATE '1997-06-01'
      |GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10
      |""".stripMargin))

  /** Multi-dimension snowflake join (TPC-H Q5 shape): two broadcast dims. */
  val q5LocalRevenue = QueryDef("q5_nation_revenue",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val sup = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum((InvoiceView.m2(col("l_extendedprice")) *
          (lit(1).cast(money) - InvoiceView.m2(col("l_discount"))))
          .cast(DecimalType(18, 4))).cast(money).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    Some("""
      |SELECT n_name,
      |       CAST(CAST(ROUND(SUM(CAST(CAST(CAST(ROUND((l_extendedprice)*100) AS DECIMAL(18,0)) * 0.01 AS DECIMAL(18,2)) * (1 - CAST(CAST(ROUND((l_discount)*100) AS DECIMAL(18,0)) * 0.01 AS DECIMAL(18,2))) AS DECIMAL(18,4))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name
      |""".stripMargin))

  /** Q4 shape — EXISTS as a left-semi join with a non-equi condition
    * (late-shipped orders per priority class).
    */
  val q4OrderPriority = QueryDef("q4_order_priority",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      o.join(li,
          col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate").cast("date") > col("o_orderdate").cast("date"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      |SELECT o_orderpriority, COUNT(*) AS n
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE))
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority
      |""".stripMargin))

  /** Q13 shape — left-outer join + two-level aggregation: the customer
    * order-count distribution (customers with zero orders included).
    */
  val q13CustDist = QueryDef("q13_custdist",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    Some("""
      |SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC
      |""".stripMargin))

  /** Q6 shape — tight filtered aggregation: every predicate reaches the
    * parquet scan (PushedFilters on l_quantity; date/discount predicates
    * evaluate in the scan stage), one partial+final agg, no join. The
    * pushdown showcase query.
    */
  val q6Forecast = QueryDef("q6_forecast",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      import InvoiceView.m2
      val d = col("l_shipdate").cast("date")
      li.filter(
          d >= lit(java.sql.Date.valueOf("1997-01-01")) &&
          d < lit(java.sql.Date.valueOf("1998-01-01")) &&
          m2(col("l_discount")).between(
            lit(new java.math.BigDecimal("0.02")),
            lit(new java.math.BigDecimal("0.06"))) &&
          col("l_quantity") < 24)
        .agg(sum((m2(col("l_extendedprice")) * m2(col("l_discount")))
          .cast(DecimalType(18, 4))).cast(DecimalType(18, 4)).as("revenue"))
    },
    Some("""
      |SELECT CAST(CAST(SUM(CAST(CAST(CAST(ROUND((l_extendedprice)*100) AS DECIMAL(18,0)) * 0.01 AS DECIMAL(18,2)) * CAST(CAST(ROUND((l_discount)*100) AS DECIMAL(18,0)) * 0.01 AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      |  AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
      |  AND CAST(CAST(ROUND((l_discount)*100) AS DECIMAL(18,0)) * 0.01 AS DECIMAL(18,2)) BETWEEN 0.02 AND 0.06
      |  AND l_quantity < 24
      |""".stripMargin))

  /** W2 — cumulative window: per-user running total of event value in
    * event_id order (unique per user, so RANGE ≡ ROWS framing on both
    * engines). Exact decimal accumulation, double at the boundary.
    */
  val w2RunningTotal = QueryDef("w2_running_total",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
      ev.select(col("user_id"), col("event_id"),
          InvoiceView.m2(col("value")).as("value_clp"))
        .withColumn("running",
          sum(col("value_clp")).over(w).cast(InvoiceRecord.money))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some(s"""
      |SELECT user_id, event_id,
      |       CAST(${InvoiceView.m2Sql("value")} AS DOUBLE) AS value_clp,
      |       CAST(CAST(SUM(${InvoiceView.m2Sql("value")})
      |              OVER (PARTITION BY user_id ORDER BY event_id)
      |            AS DECIMAL(18,2)) AS DOUBLE) AS running
      |FROM events
      |ORDER BY user_id, event_id
      |""".stripMargin))

  // ------------------------------------------------------- projections/filters

  /** P1 — column-mapping rename-project (Spanish headers → canonical). */
  val p1MapColumns = QueryDef("p1_map_columns",
    (s, dir) => {
      val spanish = tw(s, dir, "lineitem", "l_orderkey", "l_linenumber").select(
        col("l_orderkey").cast("string").as("N° Factura"),
        col("l_linenumber").cast("string").as("Órdenes de Embarque"),
        col("l_returnflag").as("Empresa Transporte"),
        InvoiceView.m2(col("l_extendedprice")).as("Total Servicio ($)"),
        col("l_orderkey").as("unmapped_extra_column"))
      Canonicalize.mapColumns(spanish, Seq(
        "N° Factura" -> "invoice_number",
        "Empresa Transporte" -> "carrier_name",
        "Órdenes de Embarque" -> "reference_number",
        "Total Servicio ($)" -> "total_amount"))
        .orderBy(col("invoice_number"), col("reference_number"),
          col("carrier_name"), col("total_amount"))
    },
    Some("""
      |SELECT CAST(l_orderkey AS VARCHAR) AS invoice_number,
      |       l_returnflag AS carrier_name,
      |       CAST(l_linenumber AS VARCHAR) AS reference_number,
      |       CAST(CAST(CAST(ROUND((l_extendedprice)*100) AS DECIMAL(18,0)) * 0.01 AS DECIMAL(18,2)) AS DOUBLE) AS total_amount
      |FROM lineitem
      |ORDER BY invoice_number, reference_number, carrier_name, total_amount
      |""".stripMargin))

  /** P2+P3 — drop fully-empty rows, then require a non-blank key column. */
  val p3RequireNonBlank = QueryDef("p3_require_nonblank",
    (s, dir) => {
      val withBlanks = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_orderkey") % 7 === 0, lit("  "))
          .when(col("l_orderkey") % 5 === 0, lit(null).cast("string"))
          .otherwise(col("l_linenumber").cast("string")).as("reference_number"))
      val noEmpty = Canonicalize.dropFullyEmpty(withBlanks, Seq("reference_number"))
      Canonicalize.requireNonBlank(noEmpty, "reference_number")
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
    Some("""
      |SELECT l_orderkey, l_linenumber,
      |       CAST(l_linenumber AS VARCHAR) AS reference_number
      |FROM lineitem
      |WHERE l_orderkey % 7 <> 0 AND l_orderkey % 5 <> 0
      |ORDER BY l_orderkey, l_linenumber
      |""".stripMargin))

  /** P4 — summary-row filter (NETO/IVA/TOTAL anywhere in the row). */
  val p4SummaryFilter = QueryDef("p4_summary_filter",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" TOTAL")))
          .when(col("doc_id") % 17 === 0, concat(lit("neto "), col("text")))
          .otherwise(col("text")).as("c1"),
        col("source").as("c2"))
      Canonicalize.dropSummaryRows(docs, Seq("c1", "c2"))
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
    Some("""
      |SELECT doc_id FROM (
      |  SELECT doc_id,
      |         UPPER(CASE WHEN doc_id % 13 = 0 THEN text || ' TOTAL'
      |                    WHEN doc_id % 17 = 0 THEN 'neto ' || text
      |                    ELSE text END || ' ' || source) AS allc
      |  FROM documents)
      |WHERE NOT regexp_matches(allc, 'NETO|IVA|TOTAL')
      |ORDER BY doc_id
      |""".stripMargin))

  /** P5 — order-dependent take-while per partition: events strictly before
    * each user's first 'purchase'.
    */
  val p5TakeWhile = QueryDef("p5_take_while",
    (s, dir) => {
      val ev = t(s, dir, "events")
      Canonicalize.takeWhile(ev, col("event_type") === "purchase",
          col("event_id"), Seq(col("user_id")))
        .select(col("user_id"), col("event_id"), col("event_type"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""
      |WITH w AS (
      |  SELECT user_id, event_id, event_type,
      |         MIN(CASE WHEN event_type = 'purchase' THEN event_id END)
      |           OVER (PARTITION BY user_id) AS first_stop
      |  FROM events)
      |SELECT user_id, event_id, event_type FROM w
      |WHERE first_stop IS NULL OR event_id < first_stop
      |ORDER BY user_id, event_id
      |""".stripMargin))

  // --------------------------------------------------------------- validation

  /** Oracle-side predicate marking rows the pipeline must reject. */
  private val errCondSql =
    "(l_orderkey % 7 = 0 OR l_orderkey % 13 = 0 OR l_orderkey % 11 = 0)"

  /** The reference's validation message of a rejected row (mirror of
    * [[Validate.split]]'s `error` column for the planted failures).
    */
  private val errMsgSql =
    """CASE WHEN l_orderkey % 7 = 0 THEN 'invoice_number no puede estar vacío'
      |     WHEN l_orderkey % 13 = 0 THEN 'Formato de fecha no reconocido'
      |     WHEN l_orderkey % 11 = 0 THEN
      |       'total_amount (' || CAST(l_extendedprice AS VARCHAR) ||
      |       ') no coincide con net (' || CAST(l_extendedprice AS VARCHAR) ||
      |       ') + tax (2.00) = ' ||
      |       CAST(l_extendedprice + CAST(2 AS DECIMAL(18,2)) AS VARCHAR)
      |END""".stripMargin

  /** J1's anti-join: `incoming i` rows whose PK is absent from `existing`. */
  private val notInExistingSql =
    """FROM incoming i
      |WHERE NOT EXISTS (SELECT 1 FROM existing e
      |                  WHERE e.invoice_number = i.invoice_number
      |                    AND e.reference_number = i.reference_number)""".stripMargin

  /** `o`/`s` — 30-minute-gap sessions of `events` in epoch micros: a gap
    * above the timeout opens a session, a running sum numbers them.
    */
  private val sessionsSql =
    """WITH o AS (
      |  SELECT user_id, epoch_us(ts) AS tus, event_id,
      |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |             PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |           <= 1800000000 THEN 0 ELSE 1 END AS new_s
      |  FROM events
      |), s AS (
      |  SELECT user_id, tus,
      |         SUM(new_s) OVER (PARTITION BY user_id
      |           ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM o
      |)""".stripMargin

  /** `v`/`c`/`p` — each user's first view, first click after it and first
    * purchase after that, in epoch nanos (the e6 funnel stages).
    */
  private val funnelSql =
    """WITH v AS (
      |  SELECT user_id, MIN(epoch_ns(ts)) AS tv
      |  FROM events WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS tc
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) > v.tv
      |  GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS tp
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > c.tc
      |  GROUP BY e.user_id)""".stripMargin

  /** P6 (valid side) + F1/F2/F3/F4 — full canonicalization + validation keep. */
  val p6ValidRows = QueryDef("p6_valid_rows",
    (s, dir) => {
      val split = Validate.split(InvoiceView.sharedCanonical(s, dir))
      split.valid
        .select(col("row_index"), col("invoice_number"), col("reference_number"),
          col("carrier_name"), col("invoice_date"), col("net_amount"),
          col("tax_amount"), col("total_amount"), col("currency"))
        .orderBy(col("row_index"))
    },
    Some(s"""
      |WITH ${InvoiceView.uniqSql}
      |SELECT l_orderkey * 10 + l_linenumber AS row_index,
      |       CAST(l_orderkey AS VARCHAR) AS invoice_number,
      |       CAST(l_linenumber AS VARCHAR) AS reference_number,
      |       l_returnflag AS carrier_name,
      |       l_shipdate AS invoice_date,
      |       CAST(l_extendedprice AS DOUBLE) AS net_amount,
      |       CAST(0 AS DOUBLE) AS tax_amount,
      |       CAST(l_extendedprice AS DOUBLE) AS total_amount,
      |       'CLP' AS currency
      |FROM uniq
      |WHERE NOT $errCondSql
      |ORDER BY row_index
      |""".stripMargin))

  /** P6 (error side) + F10 — the error-as-data side channel with the
    * reference's messages, including the exact cross-check tolerance.
    */
  val p6ErrorChannel = QueryDef("p6_error_channel",
    (s, dir) => {
      val split = Validate.split(InvoiceView.sharedCanonical(s, dir))
      split.errors
        .select(col("row_index"), col("invoice_number"), col("error"))
        .orderBy(col("row_index"))
    },
    Some(s"""
      |WITH ${InvoiceView.uniqSql}
      |SELECT l_orderkey * 10 + l_linenumber AS row_index,
      |       CASE WHEN l_orderkey % 7 = 0 THEN ''
      |            ELSE CAST(l_orderkey AS VARCHAR) END AS invoice_number,
      |       $errMsgSql AS error
      |FROM uniq
      |WHERE $errCondSql
      |ORDER BY row_index
      |""".stripMargin))

  // ------------------------------------------------------------ scalar layer

  /** F3 — every branch of the locale-aware money parser, verified
    * arithmetically (golden vectors: tests/unit/test_transformers.py:16-46).
    */
  val f3ParseMoney = QueryDef("f3_parse_money",
    (s, dir) => {
      val li = InvoiceView.sharedUniq(s, dir)
      val k1 = (col("l_orderkey") % 900 + 100).cast("string") // 3 digits
      val k2 = lpad((col("l_partkey") % 1000).cast("string"), 3, "0")
      val k3 = lpad((col("l_suppkey") % 100).cast("string"), 2, "0")
      li.select(
          InvoiceView.rowIndex,
          concat(k1, lit("."), k2).as("s_chile"),
          concat(k1, lit(","), k2, lit("."), k3).as("s_us"),
          concat(k1, lit(","), k3).as("s_comma"),
          concat(lit("1."), k2, lit("."), k2).as("s_multi"),
          concat(lit("$ "), k1, lit("."), k2).as("s_dollar"),
          k1.as("s_plain"),
          lit("N/A").as("s_invalid"))
        .select(col("row_index"),
          parse_clp_money(col("s_chile")).as("m_chile"),
          parse_clp_money(col("s_us")).as("m_us"),
          parse_clp_money(col("s_comma")).as("m_comma"),
          parse_clp_money(col("s_multi")).as("m_multi"),
          parse_clp_money(col("s_dollar")).as("m_dollar"),
          parse_clp_money(col("s_plain")).as("m_plain"),
          parse_clp_money(col("s_invalid")).as("m_invalid"))
        .orderBy(col("row_index"))
    },
    Some(s"""
      |WITH ${InvoiceView.uniqSql}
      |SELECT l_orderkey * 10 + l_linenumber AS row_index,
      |       CAST(CAST((l_orderkey % 900 + 100) * 1000 + l_partkey % 1000 AS DECIMAL(18,2)) AS DOUBLE) AS m_chile,
      |       CAST(CAST(CAST((l_orderkey % 900 + 100) * 1000 + l_partkey % 1000 AS VARCHAR) || '.' ||
      |            lpad(CAST(l_suppkey % 100 AS VARCHAR), 2, '0') AS DECIMAL(18,2)) AS DOUBLE) AS m_us,
      |       CAST(CAST(CAST(l_orderkey % 900 + 100 AS VARCHAR) || '.' ||
      |            lpad(CAST(l_suppkey % 100 AS VARCHAR), 2, '0') AS DECIMAL(18,2)) AS DOUBLE) AS m_comma,
      |       CAST(CAST(1000000 + (l_partkey % 1000) * 1000 + l_partkey % 1000 AS DECIMAL(18,2)) AS DOUBLE) AS m_multi,
      |       CAST(CAST((l_orderkey % 900 + 100) * 1000 + l_partkey % 1000 AS DECIMAL(18,2)) AS DOUBLE) AS m_dollar,
      |       CAST(CAST(l_orderkey % 900 + 100 AS DECIMAL(18,2)) AS DOUBLE) AS m_plain,
      |       CAST(NULL AS DOUBLE) AS m_invalid
      |FROM uniq
      |ORDER BY row_index
      |""".stripMargin))

  /** F4 + F5 — multi-format date parse incl. the Excel-serial fallback. */
  val f4ParseDate = QueryDef("f4_parse_date",
    (s, dir) => {
      val li = InvoiceView.sharedUniq(s, dir)
      val ok = col("l_orderkey")
      val d = col("l_shipdate")
      val serial = datediff(d, lit(java.sql.Date.valueOf("1899-12-30")))
      li.select(
          InvoiceView.rowIndex,
          when(ok % 4 === 0, date_format(d, "dd-MM-yyyy"))
            .when(ok % 4 === 1, date_format(d, "yyyy-MM-dd"))
            .when(ok % 4 === 2, date_format(d, "dd/MM/yyyy"))
            .otherwise(serial.cast("string")).as("raw"))
        .select(col("row_index"), parse_multi_date(col("raw")).as("invoice_date"))
        .orderBy(col("row_index"))
    },
    Some(s"""
      |WITH ${InvoiceView.uniqSql}
      |SELECT l_orderkey * 10 + l_linenumber AS row_index,
      |       l_shipdate AS invoice_date
      |FROM uniq
      |ORDER BY row_index
      |""".stripMargin))

  /** F6 — "Aprobado por: " prefix strip. */
  val f6StripPrefix = QueryDef("f6_strip_prefix",
    (s, dir) => t(s, dir, "customer")
      .select(col("c_custkey"),
        strip_aprobado_prefix(concat(lit("Aprobado por:  "), col("c_name"), lit(" ")))
          .as("aprobado_por"))
      .orderBy(col("c_custkey")),
    Some("""
      |SELECT c_custkey, TRIM(c_name) AS aprobado_por
      |FROM customer
      |ORDER BY c_custkey
      |""".stripMargin))

  /** F7 + F8 — row total with explicit-total override and null-as-zero
    * component summation.
    */
  val f7TotalOverride = QueryDef("f7_total_override",
    (s, dir) => {
      val li = InvoiceView.sharedUniq(s, dir)
      val ok = col("l_orderkey")
      val totalServicio = when(ok % 4 === 0, col("l_extendedprice").cast(money))
        .otherwise(lit(0).cast(money))
      val flete = when(ok % 5 === 0, lit(null).cast(money))
        .otherwise(col("l_quantity").cast(money))
      val porteo = col("l_tax").cast(money)
      val underslung = col("l_discount").cast(money)
      li.select(InvoiceView.rowIndex,
          row_total_override(totalServicio, Seq(flete, porteo, underslung))
            .as("total_amount"))
        .orderBy(col("row_index"))
    },
    Some(s"""
      |WITH ${InvoiceView.uniqSql}
      |SELECT l_orderkey * 10 + l_linenumber AS row_index,
      |       CAST(CAST(CASE WHEN l_orderkey % 4 = 0 THEN l_extendedprice
      |            ELSE COALESCE(CASE WHEN l_orderkey % 5 = 0 THEN NULL
      |                               ELSE CAST(l_quantity AS DECIMAL(18,2)) END, 0)
      |                 + l_tax + l_discount END AS DECIMAL(18,2)) AS DOUBLE) AS total_amount
      |FROM uniq
      |ORDER BY row_index
      |""".stripMargin))

  /** F9 — best-effort integral invoice-number rendering on egress. */
  val f9InvoiceInt = QueryDef("f9_invoice_int",
    (s, dir) => {
      val li = InvoiceView.sharedUniq(s, dir)
      val raw = when(col("l_orderkey") % 9 === 0,
        concat(lit("FAC-"), col("l_orderkey").cast("string")))
        .otherwise(concat(col("l_orderkey").cast("string"), lit(".0")))
      li.select(InvoiceView.rowIndex,
          invoice_number_as_int(raw).as("invoice_number"))
        .orderBy(col("row_index"))
    },
    Some(s"""
      |WITH ${InvoiceView.uniqSql}
      |SELECT l_orderkey * 10 + l_linenumber AS row_index,
      |       CASE WHEN l_orderkey % 9 = 0 THEN 'FAC-' || CAST(l_orderkey AS VARCHAR)
      |            ELSE CAST(l_orderkey AS VARCHAR) END AS invoice_number
      |FROM uniq
      |ORDER BY row_index
      |""".stripMargin))

  // ------------------------------------------------------------------- merge

  private def cleanInv(s: SparkSession, dir: String): DataFrame =
    InvoiceView.cleanOf(InvoiceView.sharedUniq(s, dir))

  private def existingInv(s: SparkSession, dir: String): DataFrame =
    cleanInv(s, dir).filter(col("ok") % 3 === 0).drop("ok")

  private def incomingInv(s: SparkSession, dir: String): DataFrame =
    cleanInv(s, dir).filter(col("ok") % 2 === 0).drop("ok")

  /** Incoming side for the upsert: carrier mutated on ok%5==0 rows so the
    * full-outer merge sees NEW / UPDATED / UNCHANGED all three.
    */
  private def incomingUpsert(s: SparkSession, dir: String): DataFrame =
    cleanInv(s, dir).filter(col("ok") % 2 === 0)
      .withColumn("carrier_name",
        when(col("ok") % 5 === 0, concat(col("carrier_name"), lit("X")))
          .otherwise(col("carrier_name"))).drop("ok")

  /** Insert-only merge shared by j1_insert_only_merge / j1_inserted_slice
    * / a2_reconcile — same materialized-view idiom as [[fullUpsertShared]].
    */
  private def insertOnlyShared(s: SparkSession, dir: String): Merge.Result = {
    val fs = SessionViews(s, dir, "insert") {
      val m = Merge.insertOnly(existingInv(s, dir), incomingInv(s, dir),
        InvoiceRecord.pk)
      Seq(m.result.persist(), m.inserted.persist())
    }
    Merge.Result(fs(0), fs(1))
  }

  /** The j3/j2/a3 family shares ONE full-outer upsert: the merge is built
    * and persisted once per session, and every later call returns the
    * persisted frames — the materialized-view idiom, with no re-analysis
    * of the merge plan per query.
    */
  private def fullUpsertShared(s: SparkSession, dir: String): Merge.Result = {
    val fs = SessionViews(s, dir, "upsert") {
      val m = Merge.fullUpsert(existingInv(s, dir), incomingUpsert(s, dir),
        InvoiceRecord.pk,
        Seq("carrier_name", "invoice_date", "net_amount", "tax_amount", "total_amount"))
      Seq(m.result.persist(), m.inserted)
    }
    Merge.Result(fs(0), fs(1))
  }

  private val existingSql = "existing AS (SELECT * FROM inv WHERE ok % 3 = 0)"
  private val incomingSql = "incoming AS (SELECT * FROM inv WHERE ok % 2 = 0)"
  private val incomingUpsertSql =
    """incoming AS (
      |  SELECT row_index, invoice_number, reference_number,
      |         CASE WHEN ok % 5 = 0 THEN carrier_name || 'X' ELSE carrier_name END AS carrier_name,
      |         invoice_date, net_amount, tax_amount, total_amount, ok
      |  FROM inv WHERE ok % 2 = 0)""".stripMargin

  /** J1 — insert-only merge (anti-join + union): the reference's core query.
    * Existing PKs win; the merged view carries status 'new' on every row
    * because re-parsed consolidated rows default to NEW in the reference
    * (entities.py:52) — faithful, so status is constant here.
    */
  val j1InsertOnly = QueryDef("j1_insert_only_merge",
    (s, dir) => {
      val m = insertOnlyShared(s, dir)
      m.result.select(col("invoice_number"), col("reference_number"),
          col("carrier_name"), col("total_amount"), col("status"))
        .orderBy(col("invoice_number"), col("reference_number"))
    },
    Some(s"""
      |WITH ${InvoiceView.uniqSql},
      |${InvoiceView.cleanSql},
      |$existingSql,
      |$incomingSql
      |SELECT invoice_number, reference_number, carrier_name,
      |       CAST(total_amount AS DOUBLE) AS total_amount, 'new' AS status
      |FROM existing
      |UNION ALL
      |SELECT i.invoice_number, i.reference_number, i.carrier_name,
      |       CAST(i.total_amount AS DOUBLE) AS total_amount, 'new' AS status
      |$notInExistingSql
      |ORDER BY invoice_number, reference_number
      |""".stripMargin))

  /** J1 (inserted slice) — only the anti-join survivors reach the append
    * sink (consolidate_invoices.py:485-495).
    */
  val j1InsertedSlice = QueryDef("j1_inserted_slice",
    (s, dir) => {
      val m = insertOnlyShared(s, dir)
      m.inserted.select(col("invoice_number"), col("reference_number"),
          col("total_amount"))
        .orderBy(col("invoice_number"), col("reference_number"))
    },
    Some(s"""
      |WITH ${InvoiceView.uniqSql},
      |${InvoiceView.cleanSql},
      |$existingSql,
      |$incomingSql
      |SELECT i.invoice_number, i.reference_number,
      |       CAST(i.total_amount AS DOUBLE) AS total_amount
      |$notInExistingSql
      |ORDER BY invoice_number, reference_number
      |""".stripMargin))

  private val upsertStatusSql =
    """CASE WHEN e.invoice_number IS NULL THEN 'new'
      |     WHEN i.invoice_number IS NOT NULL AND (
      |          i.carrier_name IS DISTINCT FROM e.carrier_name OR
      |          i.invoice_date IS DISTINCT FROM e.invoice_date OR
      |          i.net_amount IS DISTINCT FROM e.net_amount OR
      |          i.tax_amount IS DISTINCT FROM e.tax_amount OR
      |          i.total_amount IS DISTINCT FROM e.total_amount) THEN 'updated'
      |     ELSE 'unchanged' END""".stripMargin

  /** J3 — full upsert (documented alternate mode): one full-outer join,
    * incoming wins on NEW/UPDATED, change detection over business fields.
    */
  val j3FullUpsert = QueryDef("j3_full_upsert",
    (s, dir) => {
      val m = fullUpsertShared(s, dir)
      m.result.select(col("invoice_number"), col("reference_number"),
          col("carrier_name"), col("total_amount"), col("status"))
        .orderBy(col("invoice_number"), col("reference_number"))
    },
    Some(s"""
      |WITH ${InvoiceView.uniqSql},
      |${InvoiceView.cleanSql},
      |$existingSql,
      |$incomingUpsertSql
      |SELECT COALESCE(i.invoice_number, e.invoice_number) AS invoice_number,
      |       COALESCE(i.reference_number, e.reference_number) AS reference_number,
      |       CASE WHEN $upsertStatusSql IN ('new','updated') THEN i.carrier_name ELSE e.carrier_name END AS carrier_name,
      |       CAST(CASE WHEN $upsertStatusSql IN ('new','updated') THEN i.total_amount ELSE e.total_amount END AS DOUBLE) AS total_amount,
      |       $upsertStatusSql AS status
      |FROM existing e
      |FULL OUTER JOIN incoming i
      |  ON e.invoice_number = i.invoice_number AND e.reference_number = i.reference_number
      |ORDER BY invoice_number, reference_number
      |""".stripMargin))

  /** J2 — audit action attribution of each incoming row against the upsert
    * result (INSERT / UPDATE / UNCHANGED).
    */
  val j2Attribution = QueryDef("j2_action_attribution",
    (s, dir) => {
      val incoming = incomingUpsert(s, dir)
      val m = fullUpsertShared(s, dir)
      Merge.attributeActions(incoming, m.result, InvoiceRecord.pk)
        .select(col("row_index"), col("invoice_number"), col("reference_number"),
          col("action"))
        .orderBy(col("row_index"))
    },
    Some(s"""
      |WITH ${InvoiceView.uniqSql},
      |${InvoiceView.cleanSql},
      |$existingSql,
      |$incomingUpsertSql
      |SELECT i.row_index, i.invoice_number, i.reference_number,
      |       CASE WHEN e.invoice_number IS NULL THEN 'INSERT'
      |            WHEN i.carrier_name IS DISTINCT FROM e.carrier_name THEN 'UPDATE'
      |            ELSE 'UNCHANGED' END AS action
      |FROM incoming i
      |LEFT JOIN existing e
      |  ON e.invoice_number = i.invoice_number AND e.reference_number = i.reference_number
      |ORDER BY i.row_index
      |""".stripMargin))

  /** J4 — file-level idempotence anti-join: skip listings already COMPLETED
    * (modeled on orders: status 'F' = already processed).
    */
  val j4Idempotence = QueryDef("j4_file_idempotence",
    (s, dir) => {
      val listing = t(s, dir, "orders").select(
        col("o_orderkey").as("file_id"),
        col("o_orderdate").cast("date").as("modified_time"))
      val fileLog = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("file_id"),
          col("o_orderdate").cast("date").as("modified_time"))
      listing.join(fileLog, Seq("file_id", "modified_time"), "left_anti")
        .orderBy(col("file_id"))
    },
    Some("""
      |SELECT o_orderkey AS file_id, CAST(o_orderdate AS DATE) AS modified_time
      |FROM orders
      |WHERE o_orderstatus <> 'F'
      |ORDER BY file_id
      |""".stripMargin))

  /** J6 — as-of join (operator Spark lacks; union-LOCF implementation,
    * one key shuffle): each purchase event gets the user's latest view
    * event at-or-before it; DuckDB's native ASOF LEFT JOIN is the
    * oracle.
    */
  val j6AsofJoin = QueryDef("j6_asof_join",
    (s, dir) => {
      val ev = t(s, dir, "events")
      // MICROsecond axis on both engines: DuckDB truncates parquet nanos
      // to its microsecond TIMESTAMP, so comparing in nanos here would
      // use a different time axis than the oracle's ASOF
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), expr("ts DIV 1000").as("ts_us"))
      val views = graft.operators.AsofJoin.dedupeRight(
        ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id"), expr("ts DIV 1000").as("ts_us")),
        Seq("user_id"), "ts_us", "event_id")
      // no-match sentinel -1: NULLABLE int64 outputs degrade through
      // pandas differently per engine — non-null longs render exactly
      graft.operators.AsofJoin.asofJoin(purchases, views,
          Seq("user_id"), "ts_us", "ts_us", Seq("event_id", "ts_us"))
        .select(col("user_id"), col("event_id"),
          coalesce(col("asof_event_id"), lit(-1L)).as("view_event_id"),
          coalesce(col("asof_ts_us"), lit(-1L)).as("view_ts"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""
      |WITH views AS (
      |  SELECT user_id, ts, max(event_id) AS event_id
      |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
      |purchases AS (
      |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
      |SELECT p.user_id, p.event_id,
      |       COALESCE(v.event_id, -1) AS view_event_id,
      |       COALESCE(epoch_us(v.ts), -1) AS view_ts
      |FROM purchases p ASOF LEFT JOIN views v
      |  ON p.user_id = v.user_id AND p.ts >= v.ts
      |ORDER BY p.user_id, p.event_id
      |""".stripMargin))

  // ----------------------------------------------------------- aggregations

  /** A1 — exact decimal sums per group. */
  val a1DecimalSum = QueryDef("a1_decimal_sum",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(sum(InvoiceView.m2(col("l_extendedprice"))).cast(money).as("total_amount"))
      .orderBy(col("l_returnflag")),
    Some("""
      |SELECT l_returnflag,
      |       CAST(CAST(SUM(CAST(CAST(ROUND((l_extendedprice)*100) AS DECIMAL(18,0)) * 0.01 AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_amount
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag
      |""".stripMargin))

  /** A2 — reconciliation invariants as one row: zero-data-loss PK check and
    * exact amount variance between source and the semi-joined merge result.
    */
  val a2Reconcile = QueryDef("a2_reconcile",
    (s, dir) => {
      val source = incomingInv(s, dir)
      val m = insertOnlyShared(s, dir)
      // single-pass reconcile: source is PK-unique (clean view) and the
      // merged result is PK-unique (insert-only + first-wins dedup), so
      // ONE left join + ONE aggregate yields the missing-PK count, both
      // totals and the variance — instead of an anti-join job, a
      // semi-join job and three separate aggregates
      val joined = source
        .select(col("invoice_number"), col("reference_number"), col("total_amount"))
        .join(m.result.select(col("invoice_number"), col("reference_number"),
          col("total_amount").as("r_total")), InvoiceRecord.pk, "left")
      joined.agg(
          sum(when(col("r_total").isNull, 1L).otherwise(0L)).as("missing_pks"),
          sum(col("total_amount")).cast(money).as("source_total"),
          sum(col("r_total")).cast(money).as("result_total"))
        .withColumn("variance",
          abs(col("source_total") - col("result_total")).cast(money))
    },
    Some(s"""
      |WITH ${InvoiceView.uniqSql},
      |${InvoiceView.cleanSql},
      |$existingSql,
      |$incomingSql,
      |merged AS (
      |  SELECT invoice_number, reference_number, total_amount FROM existing
      |  UNION ALL
      |  SELECT i.invoice_number, i.reference_number, i.total_amount FROM incoming i
      |  WHERE NOT EXISTS (SELECT 1 FROM existing e
      |                    WHERE e.invoice_number = i.invoice_number
      |                      AND e.reference_number = i.reference_number))
      |SELECT
      |  (SELECT COUNT(*) FROM (SELECT DISTINCT invoice_number, reference_number FROM incoming) s
      |   WHERE NOT EXISTS (SELECT 1 FROM merged m
      |                     WHERE m.invoice_number = s.invoice_number
      |                       AND m.reference_number = s.reference_number)) AS missing_pks,
      |  CAST((SELECT CAST(SUM(total_amount) AS DECIMAL(18,2)) FROM incoming) AS DOUBLE) AS source_total,
      |  CAST((SELECT CAST(SUM(total_amount) AS DECIMAL(18,2)) FROM merged m
      |   WHERE EXISTS (SELECT 1 FROM incoming i
      |                 WHERE i.invoice_number = m.invoice_number
      |                   AND i.reference_number = m.reference_number)) AS DOUBLE) AS result_total,
      |  CAST(CAST(ABS((SELECT SUM(total_amount) FROM incoming) -
      |           (SELECT SUM(total_amount) FROM merged m
      |            WHERE EXISTS (SELECT 1 FROM incoming i
      |                          WHERE i.invoice_number = m.invoice_number
      |                            AND i.reference_number = m.reference_number)))
      |       AS DECIMAL(18,2)) AS DOUBLE) AS variance
      |""".stripMargin))

  /** A3 — merge action counters (inserted/updated/unchanged). */
  val a3ActionCounters = QueryDef("a3_action_counters",
    (s, dir) => {
      val m = fullUpsertShared(s, dir)
      graft.operators.Reconcile.actionCounters(m.result).orderBy(col("status"))
    },
    Some(s"""
      |WITH ${InvoiceView.uniqSql},
      |${InvoiceView.cleanSql},
      |$existingSql,
      |$incomingUpsertSql
      |SELECT $upsertStatusSql AS status, COUNT(*) AS n
      |FROM existing e
      |FULL OUTER JOIN incoming i
      |  ON e.invoice_number = i.invoice_number AND e.reference_number = i.reference_number
      |GROUP BY 1
      |ORDER BY status
      |""".stripMargin))

  // ----------------------------------------------------- sorts / limits / sets

  /** O1+O3 — deterministic sort + error-list truncation (first 20 errors). */
  val o3TopErrors = QueryDef("o3_top_errors",
    (s, dir) => {
      val split = Validate.split(InvoiceView.sharedCanonical(s, dir))
      split.errors.select(col("row_index"), col("error"))
        .orderBy(col("row_index")).limit(20)
    },
    Some(s"""
      |WITH ${InvoiceView.uniqSql}
      |SELECT l_orderkey * 10 + l_linenumber AS row_index,
      |       $errMsgSql AS error
      |FROM uniq
      |WHERE $errCondSql
      |ORDER BY row_index
      |LIMIT 20
      |""".stripMargin))

  /** U1 — unionByName of the existing and inserted slices. */
  val u1Union = QueryDef("u1_union",
    (s, dir) => {
      val a = t(s, dir, "region").select(col("r_name").as("name"))
      val b = t(s, dir, "nation").select(col("n_name").as("name"))
      a.unionByName(b).orderBy(col("name"))
    },
    Some("""
      |SELECT r_name AS name FROM region
      |UNION ALL
      |SELECT n_name AS name FROM nation
      |ORDER BY name
      |""".stripMargin))

  /** U2 — set difference on keys (EXCEPT DISTINCT semantics), made
    * NON-VACUOUS: every customer has SOME order
    * in the synthetic data, so the unfiltered difference is empty at
    * every scale and the oracle row never checked a single key. The
    * early-window cutoff yields real rows (823 at sf0.01, 8065 at
    * sf0.1) while keeping the same EXCEPT plan shape.
    */
  val u2Except = QueryDef("u2_except",
    (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey").as("k"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") < lit("1995-06-01"))
        .select(col("o_custkey").as("k"))
      c.except(o).orderBy(col("k"))
    },
    Some("""
      |SELECT c_custkey AS k FROM customer
      |EXCEPT
      |SELECT o_custkey AS k FROM orders
      |WHERE CAST(o_orderdate AS DATE) < DATE '1995-06-01'
      |ORDER BY k
      |""".stripMargin))

  /** P8 + F9 — egress write-projection to the 12 consolidated Spanish
    * headers (total as double, invoice number best-effort integral,
    * dd/MM/yyyy dates).
    */
  val p8Egress = QueryDef("p8_egress_layout",
    (s, dir) => graft.pipeline.Egress.consolidatedLayout(existingInv(s, dir))
      .orderBy(col("`N° Factura`"), col("`Órdenes de Embarque`")),
    Some(s"""
      |WITH ${InvoiceView.uniqSql},
      |${InvoiceView.cleanSql},
      |existing AS (SELECT * FROM inv WHERE ok % 3 = 0)
      |SELECT invoice_number AS "N° Factura",
      |       carrier_name AS "Empresa Transporte",
      |       CAST(NULL AS VARCHAR) AS "Nave",
      |       reference_number AS "Órdenes de Embarque",
      |       CAST(NULL AS VARCHAR) AS "Guías de Despacho",
      |       CAST(total_amount AS DOUBLE) AS "Total Servicio ($$)",
      |       strftime(invoice_date, '%d/%m/%Y') AS "Fecha Emisión",
      |       CAST(NULL AS VARCHAR) AS "Fecha Recepción Digital",
      |       CAST(NULL AS VARCHAR) AS "Aprobado por:",
      |       CAST(NULL AS VARCHAR) AS "Estado Operaciones",
      |       CAST(NULL AS VARCHAR) AS "Fecha Aprobación Operaciones",
      |       CAST(NULL AS VARCHAR) AS "Observaciones"
      |FROM existing
      |ORDER BY "N° Factura", "Órdenes de Embarque"
      |""".stripMargin))

  /** E1 — event-time tumbling-window aggregation over the events stream
    * table (nanosecond timestamps → hour buckets; decimal value sums).
    */
  val e1EventWindow = QueryDef("e1_event_window",
    (s, dir) => {
      val ev = t(s, dir, "events")
      // ts read as long (nanos since epoch, see nanosAsLong); DIV is true
      // integer division (ts exceeds 2^53 — double division would drift)
      ev.groupBy(expr("ts DIV 3600000000000").as("hour_bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(InvoiceView.m2(col("value"))).cast(InvoiceRecord.money).as("total_value"))
        .orderBy(col("hour_bucket"), col("event_type"))
    },
    Some(s"""
      |SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
      |       COUNT(*) AS n,
      |       CAST(CAST(SUM(${InvoiceView.m2Sql("value")}) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour_bucket, event_type
      |""".stripMargin))

  /** E2 — batch sessionization (gaps-and-islands): per-user sessions split
    * at >30 min of inactivity, each rolled up to (start, end, event
    * count). This is the batch-equivalent of the streaming
    * `flatMapGroupsWithState` sessionize
    * ([[graft.streaming.EventWindows.sessionize]]) — the streamed≡batch
    * agreement spec lives in EventWindowsSpec; this entry puts the
    * semantics under the driver's DuckDB oracle gate. The time axis is
    * MICROS longs on both sides: DuckDB reads the parquet TIMESTAMP(NANOS)
    * truncated to micro precision, so nano-resolution outputs can never
    * hash-match — `ts DIV 1000` (floor, exact on longs) is the same
    * truncation. DIV, not `/`: epochs exceed 2^53 (see e1).
    */
  val e2Sessionize = QueryDef("e2_sessionize",
    (s, dir) => graft.streaming.EventWindows.sessionizeBatch(
        t(s, dir, "events").select(col("user_id"),
          expr("ts DIV 1000").as("ts_us"), col("event_id")),
        "user_id", "ts_us", "event_id",
        gap = 1800000000L) // 30 min in micros
      .orderBy(col("user_id"), col("session_id")),
    Some(s"""
      |$sessionsSql
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |       MIN(tus) AS session_start, MAX(tus) AS session_end,
      |       COUNT(*) AS n_events
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_id
      |""".stripMargin))

  /** W1 — ranking window: top-3 events per user by value (deterministic
    * event_id tiebreak). The reference has no window functions; the engine
    * supports them as first-class.
    */
  val w1TopEventsPerUser = QueryDef("w1_top_events_per_user",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("value_clp").desc, col("event_id"))
      // Repartition on the window key BEFORE projecting the decimal
      // conversion: HashPartitioning(user_id) satisfies the window's
      // required distribution, so no second exchange appears — and the
      // per-row decimal arithmetic runs post-shuffle at full width
      // instead of inside a scan stage bounded by the source's row-group
      // layout. The explicit count keeps AQE from coalescing the small
      // shuffle to one partition (it sizes by bytes, not per-row CPU).
      // At 100 TB the scan has natural parallelism and this is a wash;
      // on compacted inputs it is the difference between 1 task and N.
      ev.repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
          col("user_id"))
        .select(col("user_id"), col("event_id"),
          InvoiceView.m2(col("value")).as("value_clp"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .orderBy(col("user_id"), col("rk"))
    },
    Some(s"""
      |WITH ranked AS (
      |  SELECT user_id, event_id, ${InvoiceView.m2Sql("value")} AS value_clp,
      |         row_number() OVER (PARTITION BY user_id
      |           ORDER BY ${InvoiceView.m2Sql("value")} DESC, event_id) AS rk
      |  FROM events)
      |SELECT user_id, event_id, CAST(value_clp AS DOUBLE) AS value_clp, CAST(rk AS INT) AS rk
      |FROM ranked WHERE rk <= 3
      |ORDER BY user_id, rk
      |""".stripMargin))

  /** W3 — pivot with explicit values (event-type counts per user cohort):
    * Spark's `pivot` with an enumerated value list compiles to one
    * hash-aggregate of conditional counts — no second pass to discover
    * columns, which is the scalable form (value-discovering pivot runs an
    * extra distinct job and is capped by
    * spark.sql.pivotMaxValues).
    */
  val w3Pivot = QueryDef("w3_pivot_event_counts",
    (s, dir) => {
      val ev = t(s, dir, "events")
      ev.withColumn("cohort", col("user_id") % 10)
        .groupBy(col("cohort"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .orderBy(col("cohort"))
    },
    Some("""
      |SELECT user_id % 10 AS cohort,
      |       COUNT(*) FILTER (event_type = 'click') AS click,
      |       COUNT(*) FILTER (event_type = 'error') AS error,
      |       COUNT(*) FILTER (event_type = 'purchase') AS purchase,
      |       COUNT(*) FILTER (event_type = 'signup') AS signup,
      |       COUNT(*) FILTER (event_type = 'view') AS view
      |FROM events
      |GROUP BY 1
      |ORDER BY cohort
      |""".stripMargin))

  /** K1 — salted two-phase aggregation over a hot grouping key: results
    * must be IDENTICAL to the plain groupBy (the oracle computes the
    * unsalted form — salting is semantically invisible).
    */
  val k1SaltedAgg = QueryDef("k1_salted_agg",
    (s, dir) => {
      val ev = t(s, dir, "events")
      graft.operators.Skew.saltedSum(ev, Seq("event_type"),
          Seq("n" -> lit(1L), "total_value" -> InvoiceView.m2(col("value"))),
          factor = 16)
        .select(col("event_type"), col("n"),
          col("total_value").cast(InvoiceRecord.money).as("total_value"))
        .orderBy(col("event_type"))
    },
    Some(s"""
      |SELECT event_type, COUNT(*) AS n,
      |       CAST(CAST(SUM(${InvoiceView.m2Sql("value")}) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type
      |""".stripMargin))

  /** K2 — salted equi-join (replicated small side): output rows must be
    * exactly the plain join's rows.
    */
  val k2SaltedJoin = QueryDef("k2_salted_join",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val dim = ev.select(col("user_id")).distinct()
        .withColumn("cohort", col("user_id") % 7)
      graft.operators.Skew.saltedJoin(ev, dim, Seq("user_id"), factor = 8)
        .groupBy(col("cohort"))
        .agg(count(lit(1)).as("n"),
          sum(InvoiceView.m2(col("value"))).cast(InvoiceRecord.money).as("total_value"))
        .orderBy(col("cohort"))
    },
    Some(s"""
      |WITH dim AS (SELECT DISTINCT user_id, user_id % 7 AS cohort FROM events)
      |SELECT d.cohort, COUNT(*) AS n,
      |       CAST(CAST(SUM(${InvoiceView.m2Sql("e.value")}) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
      |FROM events e JOIN dim d ON e.user_id = d.user_id
      |GROUP BY d.cohort
      |ORDER BY d.cohort
      |""".stripMargin))

  /** K3 — range join via value-axis binning: event amounts against
    * overlapping price bands. The naive inequality join is a
    * nested-loop O(points × intervals); the binned form is an equi-join
    * on bin id + exact post-filter (see [[graft.operators.RangeJoin]]).
    * The oracle runs the naive form — correctness identical, plan
    * different.
    */
  val k3RangeJoin = QueryDef("k3_range_join",
    (s, dir) => {
      val points = t(s, dir, "events").select(col("event_id"),
        round(col("value") * 100, 0).cast("long").as("v_cents"))
      val bands = t(s, dir, "nation").select(
        col("n_nationkey").as("band_id"),
        (col("n_nationkey") * 20000L).as("lo"),
        (col("n_nationkey") * 20000L + 29999L).as("hi"))
      graft.operators.RangeJoin.binned(points, bands,
          "v_cents", "lo", "hi", binWidth = 10000L)
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n"), sum(col("v_cents")).as("total_cents"))
        .orderBy(col("band_id"))
    },
    Some("""
      |WITH points AS (
      |  SELECT event_id, CAST(ROUND(value * 100) AS BIGINT) AS v_cents
      |  FROM events),
      |bands AS (
      |  SELECT n_nationkey AS band_id,
      |         n_nationkey * 20000 AS lo,
      |         n_nationkey * 20000 + 29999 AS hi
      |  FROM nation)
      |SELECT band_id, COUNT(*) AS n,
      |       CAST(SUM(v_cents) AS BIGINT) AS total_cents
      |FROM points JOIN bands ON v_cents >= lo AND v_cents <= hi
      |GROUP BY band_id
      |ORDER BY band_id
      |""".stripMargin))

  /** Q8 — ROLLUP grouping-set aggregation (engine capability; the
    * reference has no grouping sets). Null-marker rows from both engines
    * must align, so grouping columns coalesce to sentinels.
    */
  val q8Rollup = QueryDef("q8_rollup",
    (s, dir) => {
      // pre-aggregate at the finest grain FIRST: rollup's Expand
      // replicates its input ×(grouping sets), so rolling up the raw
      // fact table triples the scan (and the per-row decimal math) —
      // rolling up the 6-row partial costs nothing. Sums of sums and
      // sums of counts are exact, so results are identical.
      val base = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n0"),
          sum(InvoiceView.m2(col("l_extendedprice"))).as("t0"))
      base.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("n0")).as("n"),
          sum(col("t0")).cast(InvoiceRecord.money).as("total"))
        .select(coalesce(col("l_returnflag"), lit("<all>")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("<all>")).as("l_linestatus"),
          col("n"), col("total"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some(s"""
      |SELECT COALESCE(l_returnflag, '<all>') AS l_returnflag,
      |       COALESCE(l_linestatus, '<all>') AS l_linestatus,
      |       COUNT(*) AS n,
      |       CAST(CAST(SUM(${InvoiceView.m2Sql("l_extendedprice")}) AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag, l_linestatus
      |""".stripMargin))

  /** Discounted line revenue, exact decimal on both engines: money
    * columns go through the cents-rounding m2 view (double products are
    * bit-identical; see InvoiceView.m2), the product widens to
    * DECIMAL(18,4), and SUMs round back to cents at the boundary
    * (Spark's decimal cast rounds HALF_UP; DuckDB's truncates — ROUND
    * first, then cast, matches them).
    */
  private def revenue =
    (InvoiceView.m2(col("l_extendedprice")) *
      (lit(1).cast(money) - InvoiceView.m2(col("l_discount"))))
      .cast(DecimalType(18, 4))
  private val revenueSql =
    s"CAST(${InvoiceView.m2Sql("l_extendedprice")} * " +
      s"(1 - ${InvoiceView.m2Sql("l_discount")}) AS DECIMAL(18,4))"
  private val sumRevenueSql =
    s"CAST(CAST(ROUND(SUM($revenueSql), 2) AS DECIMAL(18,2)) AS DOUBLE)"

  /** Q7 shape — bidirectional volume between two nations by ship year:
    * the same dimension (nation) joins twice under different roles, the
    * filter is a disjunction across the two roles, and the group key mixes
    * both. Both nation copies broadcast; the fact-fact join shuffles once
    * on orderkey.
    */
  val q7NationVolume = QueryDef("q7_nation_volume",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val sup = t(s, dir, "supplier")
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate").cast("date")).as("l_year"))
        .agg(sum(revenue).cast(money).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },
    Some(s"""
      |SELECT supp_nation, cust_nation, l_year, $sumRevenueSql AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |         CAST(year(CAST(l_shipdate AS DATE)) AS INT) AS l_year,
      |         l_extendedprice, l_discount
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
      |)
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year
      |""".stripMargin))

  /** Q9 shape — profit by (nation, year) through a part-filtered fact:
    * two broadcast dims (part filter prunes before the join) + one
    * shuffled dim-free aggregate. The synthetic schema has no partsupp,
    * so profit is discounted revenue.
    */
  val q9ProfitByNation = QueryDef("q9_profit_by_nation",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part").filter(col("p_type") === "STANDARD")
      val sup = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          year(col("l_shipdate").cast("date")).as("o_year"))
        .agg(sum(revenue).cast(money).as("profit"))
        .orderBy(col("n_name"), col("o_year").desc)
    },
    Some(s"""
      |SELECT n_name, CAST(year(CAST(l_shipdate AS DATE)) AS INT) AS o_year,
      |       $sumRevenueSql AS profit
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_type = 'STANDARD'
      |GROUP BY n_name, CAST(year(CAST(l_shipdate AS DATE)) AS INT)
      |ORDER BY n_name, o_year DESC
      |""".stripMargin))

  /** Q10 shape — top returned-revenue customers: selective fact filter
    * (returnflag), customer attributes in the group key, top-N on the
    * aggregate.
    */
  val q10ReturnedItems = QueryDef("q10_returned_items",
    (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(revenue).cast(money).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
    Some(s"""
      |SELECT c_custkey, c_name, n_name, $sumRevenueSql AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20
      |""".stripMargin))

  /** Q12 shape — conditional counting: late-shipped lines (>30 days after
    * order date) split into high/low order priority per line status. The
    * synthetic schema has no shipmode/commitdate; the CASE-inside-SUM
    * pattern is the point.
    */
  val q12LateLines = QueryDef("q12_late_lines",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")) > 30)
        .groupBy(col("l_linestatus"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_priority_lines"),
          sum(when(high, 0L).otherwise(1L)).as("low_priority_lines"))
        .orderBy(col("l_linestatus"))
    },
    Some("""
      |SELECT l_linestatus,
      |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_lines,
      |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_priority_lines
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE date_diff('day', CAST(o_orderdate AS DATE),
      |                CAST(l_shipdate AS DATE)) > 30
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus
      |""".stripMargin))

  /** Q14 shape — promo revenue share as EXACT parts-per-million: both
    * sums reduce to integer cents, and ppm = promo_cents * 1e6 DIV
    * total_cents (integer division — exact on both engines, where a
    * float ratio could round differently).
    */
  val q14PromoShare = QueryDef("q14_promo_share",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      val joined = li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", revenue)
            .otherwise(lit(0).cast(DecimalType(18, 4)))).cast(money).as("promo"),
          sum(revenue).cast(money).as("total"))
      joined.select(
        (col("promo") * 100).cast("long").as("promo_cents"),
        (col("total") * 100).cast("long").as("total_cents"))
        .select(col("promo_cents"), col("total_cents"),
          expr("promo_cents * 1000000L DIV total_cents").as("promo_ppm"))
    },
    Some(s"""
      |WITH sums AS (
      |  SELECT
      |    CAST(CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO' THEN $revenueSql
      |         ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DECIMAL(18,2)) * 100 AS BIGINT) AS promo_cents,
      |    CAST(CAST(ROUND(SUM($revenueSql), 2) AS DECIMAL(18,2)) * 100 AS BIGINT) AS total_cents
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |)
      |SELECT promo_cents, total_cents,
      |       promo_cents * 1000000 // total_cents AS promo_ppm
      |FROM sums
      |""".stripMargin))

  /** Q18 shape — large-volume orders: aggregate-then-join (the HAVING
    * subquery reduces lineitem BEFORE touching orders/customer — at scale
    * the join sees thousands of rows, not the fact table).
    */
  val q18LargeOrders = QueryDef("q18_large_orders",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val big = li.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).cast("long").as("total_qty"))
        .filter(col("total_qty") > 150)
      big.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("o_orderdate"), col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
        .limit(20)
    },
    Some("""
      |SELECT c_custkey, c_name, o_orderkey,
      |       CAST(o_orderdate AS DATE) AS o_orderdate, total_qty
      |FROM (
      |  SELECT l_orderkey, CAST(SUM(l_quantity) AS BIGINT) AS total_qty
      |  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
      |)
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY total_qty DESC, o_orderkey
      |LIMIT 20
      |""".stripMargin))

  /** Q15 shape — top supplier by quarterly revenue: an aggregated view
    * compared against its own MAX (scalar-subquery shape). The max rides
    * a 1-row broadcast, so the "HAVING = (SELECT MAX...)" never
    * re-shuffles the view; ties surface as extra rows, deterministically
    * ordered by key.
    */
  val q15TopSupplier = QueryDef("q15_top_supplier",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      val rev = li
        .filter(col("l_shipdate").cast("date")
          .between("1995-01-01", "1995-03-31"))
        .groupBy(col("l_suppkey"))
        .agg(sum(revenue).cast(money).as("total_revenue"))
      rev
        .join(broadcast(rev.agg(max(col("total_revenue")).as("mr"))),
          col("total_revenue") === col("mr"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
    Some(s"""
      |WITH rev AS (
      |  SELECT l_suppkey,
      |         CAST(ROUND(SUM($revenueSql), 2) AS DECIMAL(18,2)) AS total_revenue
      |  FROM lineitem
      |  WHERE CAST(l_shipdate AS DATE)
      |        BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
      |FROM rev JOIN supplier ON s_suppkey = l_suppkey
      |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
      |ORDER BY s_suppkey
      |""".stripMargin))

  /** Q17 shape — small-quantity revenue for one brand: the correlated
    * "below a fifth of this part's average quantity" subquery becomes a
    * per-part aggregate joined back to the fact rows. The brand filter
    * semi-joins lineitem FIRST (broadcast of the brand's parts), so the
    * per-part stats aggregate only the brand's lines, never the whole
    * fact table. The avg comparison stays in integers
    * (`5·qty·cnt < sum`) — exact on both engines, no float ratio.
    */
  val q17SmallQty = QueryDef("q17_small_qty_revenue",
    (s, dir) => {
      val p = t(s, dir, "part")
      val brand = p.filter(col("p_brand") === "Brand#23").select("p_partkey")
      val lb = t(s, dir, "lineitem")
        .join(broadcast(brand), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_quantity").cast("long").as("ql"),
          col("l_extendedprice"))
      val stats = lb.groupBy(col("l_partkey"))
        .agg(sum(col("ql")).as("sum_ql"), count(lit(1)).as("cnt"))
      lb.join(stats, "l_partkey")
        .filter(col("ql") * 5 * col("cnt") < col("sum_ql"))
        .agg(
          sum(InvoiceView.m2(col("l_extendedprice"))).cast(money)
            .as("small_qty_revenue"),
          count(lit(1)).as("n_lines"))
    },
    Some(s"""
      |WITH lb AS (
      |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS ql, l_extendedprice
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_brand = 'Brand#23'),
      |st AS (
      |  SELECT l_partkey, SUM(ql) AS sum_ql, COUNT(*) AS cnt
      |  FROM lb GROUP BY l_partkey)
      |SELECT CAST(CAST(ROUND(SUM(${InvoiceView.m2Sql("l_extendedprice")}), 2)
      |            AS DECIMAL(18,2)) AS DOUBLE) AS small_qty_revenue,
      |       COUNT(*) AS n_lines
      |FROM lb JOIN st USING (l_partkey)
      |WHERE ql * 5 * cnt < sum_ql
      |""".stripMargin))

  /** Q19 shape — disjunctive join predicate: three OR'd brand/size/
    * quantity conjunctions. Catalyst's CNF conversion pushes the common
    * per-side implications down to each scan (brand∈{...} to part,
    * quantity∈[1,30] to lineitem) before the broadcast join evaluates
    * the full disjunction.
    */
  val q19DisjunctRevenue = QueryDef("q19_disjunct_revenue",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      // quantity bounds compare the raw double column (values are
      // integral) — a cast-to-long here would block predicate pushdown
      // into the lineitem scan
      val disj =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30))
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(disj)
        .agg(sum(revenue).cast(money).as("revenue"),
          count(lit(1)).as("n_lines"))
    },
    Some(s"""
      |SELECT CAST(CAST(ROUND(SUM($revenueSql), 2) AS DECIMAL(18,2)) AS DOUBLE)
      |         AS revenue,
      |       COUNT(*) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
      |       AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
      |       AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity BETWEEN 20 AND 30)
      |""".stripMargin))

  /** Q21 shape (adapted: no commit/receipt dates in the test schema —
    * "late" is shipping >60 days after the order date): suppliers who
    * were the ONLY late supplier on a multi-supplier finalized order.
    * The EXISTS leg is a left-semi self-join on the order key, the NOT
    * EXISTS leg a left-anti — all three legs shuffle on the same
    * l_orderkey, so the two self-joins co-partition with no extra
    * exchange.
    */
  val q21LateSuppliers = QueryDef("q21_late_suppliers",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      val sup = t(s, dir, "supplier")
      val late = li
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate").cast("date") >
          date_add(col("o_orderdate").cast("date"), 60))
        .select(col("l_orderkey"), col("l_suppkey"))
      val hasOther = late.join(
        li.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2")),
        col("l_orderkey") === col("k2") && col("l_suppkey") =!= col("s2"),
        "left_semi")
      val onlyLate = hasOther.join(
        late.select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3")),
        col("l_orderkey") === col("k3") && col("l_suppkey") =!= col("s3"),
        "left_anti")
      onlyLate
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    },
    Some("""
      |WITH late AS (
      |  SELECT l_orderkey, l_suppkey
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus = 'F'
      |    AND CAST(l_shipdate AS DATE) >
      |        CAST(o_orderdate AS DATE) + INTERVAL 60 DAY)
      |SELECT s_name, COUNT(*) AS numwait
      |FROM late l1 JOIN supplier ON s_suppkey = l1.l_suppkey
      |WHERE EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM late l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 20
      |""".stripMargin))

  /** Q22 shape (adapted: market segment stands in for the phone country
    * code) — customers with above-average positive balance and no orders
    * at all: a 1-row broadcast scalar aggregate feeds the inequality,
    * and the "no orders" leg is a left-anti join. The avg comparison is
    * exact integer math on cents (`bal·n > sum`), never a float ratio.
    */
  val q22IdleRich = QueryDef("q22_idle_rich_customers",
    (s, dir) => {
      val cust = t(s, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"),
        (InvoiceView.m2(col("c_acctbal")) * 100).cast("long").as("bal_cents"))
      val st = cust.filter(col("bal_cents") > 0)
        .agg(sum(col("bal_cents")).as("sum_c"), count(lit(1)).as("n_c"))
      cust
        .join(broadcast(st), col("bal_cents") * col("n_c") > col("sum_c"))
        // anti-join against EARLY orders only: every customer has some
        // order in the synthetic data, so the all-orders form returns 0
        // rows at the sf0.01 gate (vacuous) — "no order before mid-1995"
        // keeps the Q22 shape and yields 376 / 3709 qualifying customers
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate").cast("date") < lit("1995-06-01"))
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("numcust"), sum(col("bal_cents")).as("total_cents"))
        .orderBy(col("c_mktsegment"))
    },
    Some(s"""
      |WITH cust AS (
      |  SELECT c_custkey, c_mktsegment,
      |         CAST(${InvoiceView.m2Sql("c_acctbal")} * 100 AS BIGINT) AS bal_cents
      |  FROM customer),
      |st AS (
      |  SELECT SUM(bal_cents) AS sum_c, COUNT(*) AS n_c
      |  FROM cust WHERE bal_cents > 0)
      |SELECT c_mktsegment, COUNT(*) AS numcust,
      |       CAST(SUM(bal_cents) AS BIGINT) AS total_cents
      |FROM cust, st
      |WHERE bal_cents * n_c > sum_c
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND CAST(o_orderdate AS DATE) < DATE '1995-06-01')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment
      |""".stripMargin))

  /** A6 — covariance/correlation from EXACT integer sums: one pass
    * accumulates n/Σx/Σy/Σx²/Σy²/Σxy (decimal(38) where a long would
    * overflow), and the final projection derives cov/corr in a handful
    * of IEEE double ops on those exact values — both engines perform the
    * identical op sequence, so the doubles are bit-equal. The portable
    * alternative to float-accumulating `covar_pop/corr` (whose result
    * depends on partition/merge order).
    */
  val a6Stats = QueryDef("a6_qty_price_stats",
    (s, dir) => {
      val d38 = DecimalType(38, 0)
      val base = t(s, dir, "lineitem").select(
        col("l_quantity").cast("long").as("x"),
        (InvoiceView.m2(col("l_extendedprice")) * 100).cast("long").as("y"))
      val agg = base.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast(d38) * col("x")).as("sxx"),
        sum(col("y").cast(d38) * col("y")).as("syy"),
        sum(col("x").cast(d38) * col("y")).as("sxy"))
      val num = (col("n").cast(d38) * col("sxy") -
        col("sx").cast(d38) * col("sy")).cast("double")
      val dx = (col("n").cast(d38) * col("sxx") -
        col("sx").cast(d38) * col("sx")).cast("double")
      val dy = (col("n").cast(d38) * col("syy") -
        col("sy").cast(d38) * col("sy")).cast("double")
      agg.select(col("n"), col("sx").as("sum_x"), col("sy").as("sum_y"),
        // n*n through decimal(38): long*long wraps past n ≈ 3.04e9 rows
        // — exactly the corpus sizes this query's d38 sums exist for
        (num / (col("n").cast(d38) * col("n")).cast("double"))
          .as("covariance"),
        (num / (sqrt(dx) * sqrt(dy))).as("correlation"))
    },
    Some(s"""
      |WITH b AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS x,
      |         CAST(${InvoiceView.m2Sql("l_extendedprice")} * 100 AS BIGINT) AS y
      |  FROM lineitem),
      |a AS (
      |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |         SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
      |         SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
      |         SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
      |  FROM b)
      |SELECT n, CAST(sx AS BIGINT) AS sum_x, CAST(sy AS BIGINT) AS sum_y,
      |       CAST(CAST(n AS DECIMAL(38,0)) * sxy
      |            - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
      |         / CAST(CAST(n AS DECIMAL(38,0)) * n AS DOUBLE) AS covariance,
      |       CAST(CAST(n AS DECIMAL(38,0)) * sxy
      |            - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
      |         / (sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx
      |                      - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE))
      |            * sqrt(CAST(CAST(n AS DECIMAL(38,0)) * syy
      |                        - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE)))
      |         AS correlation
      |FROM a
      |""".stripMargin))

  /** U3 — INTERSECT (distinct set intersection): customers holding both
    * an open ('O') and a finalized ('F') order. Catalyst rewrites
    * IntersectDistinct into a left-semi join + distinct aggregate — no
    * full materialization of either set.
    */
  val u3Intersect = QueryDef("u3_intersect",
    (s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
        .intersect(
          o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    },
    Some("""
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_custkey
      |""".stripMargin))

  /** Q16 shape (adapted to the lineitem-as-part-supplier relation):
    * distinct supplier count per brand, excluding low-balance suppliers
    * via NOT IN → anti join. The distinct aggregate plans two-phase
    * (partial distinct per partition, then merge) — no row explosion.
    */
  val q16SupplierDist = QueryDef("q16_supplier_dist",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      val lowBal = t(s, dir, "supplier")
        .filter(col("s_acctbal") < 1000).select(col("s_suppkey"))
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(lowBal, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"))
    },
    Some("""
      |SELECT p_brand, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_suppkey NOT IN
      |      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
      |GROUP BY p_brand
      |ORDER BY supplier_cnt DESC, p_brand
      |""".stripMargin))

  /** E3 — per-user inter-arrival gap profile: lag over the event-time
    * axis (micros — see e2 for why never nanos), then exact integer gap
    * aggregates. The analytic-window + aggregate composition every
    * behavioral pipeline needs; one shuffle on user_id serves both the
    * window sort and the final groupBy.
    */
  val e3Interarrival = QueryDef("e3_interarrival",
    (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        expr("ts DIV 1000").as("tus"), col("event_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
      ev.withColumn("gap", col("tus") - lag(col("tus"), 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("gap")).as("sum_gap_us"),
          min(col("gap")).as("min_gap_us"),
          max(col("gap")).as("max_gap_us"))
        .orderBy(col("user_id"))
    },
    Some("""
      |WITH g AS (
      |  SELECT user_id,
      |         epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |           PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
      |  FROM events)
      |SELECT user_id, COUNT(*) AS n_gaps,
      |       CAST(SUM(gap) AS BIGINT) AS sum_gap_us,
      |       MIN(gap) AS min_gap_us, MAX(gap) AS max_gap_us
      |FROM g WHERE gap IS NOT NULL
      |GROUP BY user_id
      |ORDER BY user_id
      |""".stripMargin))

  /** J7 — SCD2 history-preserving upsert ([[Merge.scd2Upsert]]): the
    * type-2 alternative to j3's overwrite — a changed PK closes its
    * current version at the batch timestamp and opens a new one; history
    * rows pass through untouched. Open versions render `valid_to = -1`
    * (a NULL bigint renders engine-differently — the same sentinel rule
    * as the as-of join).
    */
  val j7Scd2 = QueryDef("j7_scd2_history",
    (s, dir) => {
      val store = existingInv(s, dir)
        .withColumn("valid_from", lit(0L))
        .withColumn("valid_to", lit(null).cast("long"))
      val m = Merge.scd2Upsert(store, incomingUpsert(s, dir),
        InvoiceRecord.pk, Seq("carrier_name", "total_amount"),
        batchTs = 1000L)
      m.result.select(col("invoice_number"), col("reference_number"),
          col("carrier_name"), col("total_amount"), col("valid_from"),
          coalesce(col("valid_to"), lit(-1L)).as("valid_to"))
        .orderBy(col("invoice_number"), col("reference_number"),
          col("valid_from"))
    },
    Some(s"""
      |WITH ${InvoiceView.uniqSql},
      |${InvoiceView.cleanSql},
      |$existingSql,
      |$incomingUpsertSql,
      |j AS (
      |  SELECT e.invoice_number AS einv, e.reference_number AS eref,
      |         e.carrier_name AS ec, e.total_amount AS et,
      |         i.invoice_number AS iinv, i.reference_number AS iref,
      |         i.carrier_name AS ic, i.total_amount AS it,
      |         (e.carrier_name IS DISTINCT FROM i.carrier_name OR
      |          e.total_amount IS DISTINCT FROM i.total_amount) AS chg
      |  FROM existing e FULL OUTER JOIN incoming i
      |    ON e.invoice_number = i.invoice_number
      |   AND e.reference_number = i.reference_number)
      |SELECT * FROM (
      |  SELECT einv AS invoice_number, eref AS reference_number,
      |         ec AS carrier_name, CAST(et AS DOUBLE) AS total_amount,
      |         CAST(0 AS BIGINT) AS valid_from, CAST(-1 AS BIGINT) AS valid_to
      |  FROM j WHERE einv IS NOT NULL AND (iinv IS NULL OR NOT chg)
      |  UNION ALL
      |  SELECT einv, eref, ec, CAST(et AS DOUBLE),
      |         CAST(0 AS BIGINT), CAST(1000 AS BIGINT)
      |  FROM j WHERE einv IS NOT NULL AND iinv IS NOT NULL AND chg
      |  UNION ALL
      |  SELECT iinv, iref, ic, CAST(it AS DOUBLE),
      |         CAST(1000 AS BIGINT), CAST(-1 AS BIGINT)
      |  FROM j WHERE iinv IS NOT NULL AND (einv IS NULL OR chg))
      |ORDER BY invoice_number, reference_number, valid_from
      |""".stripMargin))

  /** J9 — SCD2 time travel ([[Merge.stateAsOf]] over [[Merge.scd2Upsert]]'s
    * history): the state reconstructed AS OF a timestamp strictly between
    * the store's open time (0) and the batch time (1000) must be exactly
    * the pre-batch state — closed versions must retain their pre-images
    * (a closed row carrying incoming values mismatches), new keys opened
    * by the batch must be invisible, and every key must surface exactly
    * once. The oracle states the invariant directly (the pre-state
    * itself) rather than replaying the merge — the strongest possible
    * check of the reconstruction path, and trivially scale-general.
    */
  val j9TimeTravel = QueryDef("j9_time_travel",
    (s, dir) => {
      val store0 = existingInv(s, dir)
        .withColumn("valid_from", lit(0L))
        .withColumn("valid_to", lit(null).cast("long"))
      val m = Merge.scd2Upsert(store0, incomingUpsert(s, dir),
        InvoiceRecord.pk, Seq("carrier_name", "total_amount"),
        batchTs = 1000L)
      Merge.stateAsOf(m.result, 500L)
        .select(col("invoice_number"), col("reference_number"),
          col("carrier_name"), col("total_amount"))
        .orderBy(col("invoice_number"), col("reference_number"))
    },
    Some(s"""
      |WITH ${InvoiceView.uniqSql},
      |${InvoiceView.cleanSql},
      |$existingSql
      |SELECT invoice_number, reference_number, carrier_name,
      |       CAST(total_amount AS DOUBLE) AS total_amount
      |FROM existing
      |ORDER BY invoice_number, reference_number
      |""".stripMargin))

  /** Q20 shape — nested-aggregate semi-join: suppliers qualify through
    * an IN-subquery whose body is itself a HAVING-filtered aggregate
    * (volume of "small *" parts shipped). The aggregate reduces lineitem
    * to supplier grain BEFORE the semi-join probes it, and the `LIKE
    * 'small%'` prefix pushes to the part scan as StringStartsWith.
    */
  val q20VolumeSuppliers = QueryDef("q20_volume_suppliers",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part").filter(col("p_name").startsWith("small"))
      val sup = t(s, dir, "supplier")
      val eligible = li
        .join(broadcast(p.select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("long")).as("small_qty"))
        .filter(col("small_qty") > 300)
      sup.join(eligible, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"),
          InvoiceView.m2(col("s_acctbal")).as("s_acctbal"))
        .orderBy(col("s_suppkey"))
    },
    Some(s"""
      |SELECT s_suppkey, s_name,
      |       CAST(${InvoiceView.m2Sql("s_acctbal")} AS DOUBLE) AS s_acctbal
      |FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_name LIKE 'small%'
      |  GROUP BY l_suppkey
      |  HAVING SUM(CAST(l_quantity AS BIGINT)) > 300)
      |ORDER BY s_suppkey
      |""".stripMargin))

  /** E4 — click→purchase attribution (the batch form of the watermarked
    * stream-stream join [[graft.streaming.EventWindows.attributionJoin]];
    * the streamed≡batch agreement spec lives in EventWindowsSpec). The
    * time-range predicate rides the user_id equi-join — one shuffle, no
    * range explosion. Output times on the micros axis (see e2).
    */
  val e4Attribution = QueryDef("e4_attribution",
    (s, dir) => {
      val ev = t(s, dir, "events")
      graft.streaming.EventWindows.attributionJoin(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"))
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          unix_micros(col("click_time")).as("click_us"),
          unix_micros(col("purchase_time")).as("purchase_us"))
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    },
    Some("""
      |WITH c AS (
      |  SELECT user_id, event_id AS click_id, epoch_us(ts) AS cus
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pus
      |  FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id AS user_id, click_id, purchase_id,
      |       cus AS click_us, pus AS purchase_us
      |FROM c JOIN p ON c.user_id = p.user_id
      |  AND pus >= cus AND pus <= cus + 1800000000
      |ORDER BY c.user_id, click_id, purchase_id
      |""".stripMargin))

  /** U4 — EXCEPT ALL (multiset difference, multiplicity-preserving):
    * Catalyst rewrites it into a count-balancing aggregate + generate —
    * no row-at-a-time bag semantics. Contrast with u2's EXCEPT
    * (distinct).
    */
  val u4ExceptAll = QueryDef("u4_except_all",
    (s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") =!= "F").select(col("o_custkey"))
        .exceptAll(
          o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_custkey"))
    },
    Some("""
      |SELECT o_custkey, COUNT(*) AS n FROM (
      |  SELECT o_custkey FROM orders WHERE o_orderstatus <> 'F'
      |  EXCEPT ALL
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
      |GROUP BY o_custkey
      |ORDER BY o_custkey
      |""".stripMargin))

  /** W4 — dense_rank + lag in one window pass: price-tier ranking of
    * orders per priority class. Both analytics share one
    * (partition, order) spec, so Catalyst plans ONE Window operator —
    * one shuffle + one sort serve both columns.
    */
  val w4DenseRank = QueryDef("w4_dense_rank",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("price_clp").desc, col("o_orderkey"))
      o.select(col("o_orderkey"), col("o_orderpriority"),
          InvoiceView.m2(col("o_totalprice")).as("price_clp"))
        .withColumn("tier", dense_rank().over(w))
        .withColumn("prev_price", lag(col("price_clp"), 1).over(w))
        .filter(col("tier") <= 3)
        .orderBy(col("o_orderpriority"), col("tier"), col("o_orderkey"))
    },
    Some(s"""
      |WITH p AS (
      |  SELECT o_orderkey, o_orderpriority,
      |         ${InvoiceView.m2Sql("o_totalprice")} AS price_clp
      |  FROM orders),
      |r AS (
      |  SELECT o_orderkey, o_orderpriority,
      |         CAST(price_clp AS DOUBLE) AS price_clp,
      |         dense_rank() OVER (PARTITION BY o_orderpriority
      |           ORDER BY price_clp DESC, o_orderkey) AS tier,
      |         CAST(lag(price_clp) OVER (PARTITION BY o_orderpriority
      |           ORDER BY price_clp DESC, o_orderkey) AS DOUBLE) AS prev_price
      |  FROM p)
      |SELECT o_orderkey, o_orderpriority, price_clp,
      |       CAST(tier AS INT) AS tier, prev_price
      |FROM r WHERE tier <= 3
      |ORDER BY o_orderpriority, tier, o_orderkey
      |""".stripMargin))

  /** Q2 shape (adapted: lineitem stands in for partsupp) — cheapest
    * supplier per part: the correlated "price = MIN(price) for this
    * part" subquery becomes a per-part min joined back to the detail.
    * Same aggregate-join-back family as q17 but keyed on the join
    * column itself.
    */
  val q2CheapestSupplier = QueryDef("q2_cheapest_supplier",
    (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_partkey") <= 200)
        .select(col("l_partkey"),
          col("l_suppkey"), (InvoiceView.m2(col("l_extendedprice")) * 100)
            .cast("long").as("price_cents"))
      val minP = li.groupBy(col("l_partkey"))
        .agg(min(col("price_cents")).as("min_cents"))
      li.join(minP, "l_partkey")
        .filter(col("price_cents") === col("min_cents"))
        .groupBy(col("l_partkey"), col("price_cents"))
        .agg(min(col("l_suppkey")).as("cheapest_suppkey"))
        .orderBy(col("l_partkey"))
    },
    Some(s"""
      |WITH li AS (
      |  SELECT l_partkey, l_suppkey,
      |         CAST(${InvoiceView.m2Sql("l_extendedprice")} * 100 AS BIGINT)
      |           AS price_cents
      |  FROM lineitem WHERE l_partkey <= 200),
      |mn AS (SELECT l_partkey, MIN(price_cents) AS min_cents
      |       FROM li GROUP BY l_partkey)
      |SELECT li.l_partkey AS l_partkey, price_cents,
      |       MIN(l_suppkey) AS cheapest_suppkey
      |FROM li JOIN mn ON li.l_partkey = mn.l_partkey
      |WHERE price_cents = min_cents
      |GROUP BY li.l_partkey, price_cents
      |ORDER BY l_partkey
      |""".stripMargin))

  /** O4 — error-rule histogram over the validation channel: which rule
    * rejects how many rows (the triage view a pipeline operator reads
    * before the per-row error list). Rule identity is the error
    * message's stable prefix, so the count survives message
    * parameterization.
    */
  val o4ErrorHistogram = QueryDef("o4_error_histogram",
    (s, dir) => {
      val split = Validate.split(InvoiceView.sharedCanonical(s, dir))
      split.errors
        .select(substring(col("error"), 1, 12).as("rule"))
        .groupBy(col("rule")).agg(count(lit(1)).as("n"))
        .orderBy(col("rule"))
    },
    Some(s"""
      |WITH ${InvoiceView.uniqSql}
      |SELECT substr(CASE WHEN l_orderkey % 7 = 0 THEN 'invoice_number no puede estar vacío'
      |            WHEN l_orderkey % 13 = 0 THEN 'Formato de fecha no reconocido'
      |            WHEN l_orderkey % 11 = 0 THEN 'total_amount (' END, 1, 12) AS rule,
      |       COUNT(*) AS n
      |FROM uniq
      |WHERE $errCondSql
      |GROUP BY rule
      |ORDER BY rule
      |""".stripMargin))

  /** K4 — interval-OVERLAP join with NO equi key
    * ([[RangeJoin.overlapBinned]]): 30-minute activity windows around a
    * sparse event subset, all overlapping pairs across ALL users. The
    * naive form is a cross product; the binned form explodes each
    * window into its time bins, equi-joins on the bin, and emits each
    * pair exactly once (in the bin of `max(lo1, lo2)`). The oracle
    * computes the naive form — bin blocking is semantically invisible.
    */
  val k4IntervalOverlap = QueryDef("k4_interval_overlap",
    (s, dir) => {
      // 24 h in micros: 30-min windows produce ZERO overlapping pairs at
      // the sf0.01 gate (vacuous oracle row); 24 h yields 7 pairs there
      // and 512 at sf0.1 — real rows at every scale, same plan shape
      val win = 86400000000L
      val ev = t(s, dir, "events")
        .filter(col("event_type") === "purchase" && col("user_id") % 199 === 0)
        .select(col("event_id"), expr("ts DIV 1000").as("lo"),
          (expr("ts DIV 1000") + win).as("hi"))
      val a = ev.select(col("event_id").as("id1"), col("lo").as("lo1"),
        col("hi").as("hi1"))
      val b = ev.select(col("event_id").as("id2"), col("lo").as("lo2"),
        col("hi").as("hi2"))
      RangeJoin.overlapBinned(a, b, "lo1", "hi1", "lo2", "hi2", win)
        .filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2"),
          (least(col("hi1"), col("hi2")) -
            greatest(col("lo1"), col("lo2"))).as("overlap_us"))
        .orderBy(col("id1"), col("id2"))
    },
    Some("""
      |WITH e AS (
      |  SELECT event_id, epoch_us(ts) AS lo,
      |         epoch_us(ts) + 86400000000 AS hi
      |  FROM events
      |  WHERE event_type = 'purchase' AND user_id % 199 = 0)
      |SELECT a.event_id AS id1, b.event_id AS id2,
      |       LEAST(a.hi, b.hi) - GREATEST(a.lo, b.lo) AS overlap_us
      |FROM e a JOIN e b
      |  ON a.event_id < b.event_id AND a.lo <= b.hi AND b.lo <= a.hi
      |ORDER BY id1, id2
      |""".stripMargin))

  /** U5 — INTERSECT ALL (multiplicity-preserving intersection, the set
    * op [[u3Intersect]]'s distinct form doesn't cover): per key, the
    * result multiplicity is min(count_left, count_right). Spark rewrites
    * `intersectAll` to a count-balancing aggregate + generate — one
    * shuffle per side, no join explosion.
    */
  val u5IntersectAll = QueryDef("u5_intersect_all",
    (s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") =!= "F").select(col("o_custkey"))
        .intersectAll(
          o.filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey")))
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_custkey"))
    },
    Some("""
      |SELECT o_custkey, COUNT(*) AS n FROM (
      |  SELECT o_custkey FROM orders WHERE o_orderstatus <> 'F'
      |  INTERSECT ALL
      |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |GROUP BY o_custkey
      |ORDER BY o_custkey
      |""".stripMargin))

  /** A8 — CUBE (the full grouping lattice; [[q8Rollup]] covers the
    * prefix chain, [[a7GroupingSets]] the disjoint marginals). Same
    * partial-first shape: Expand multiplies the 6-row finest-grain
    * aggregate by 4 grouping sets, never the fact scan.
    */
  val a8Cube = QueryDef("a8_cube",
    (s, dir) => {
      import InvoiceView.m2
      val base = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n0"),
          sum(m2(col("l_extendedprice"))).as("t0"))
      base.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("n0")).as("n"),
          sum(col("t0")).cast(money).as("total"))
        .select(
          coalesce(col("l_returnflag"), lit("<all>")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("<all>")).as("l_linestatus"),
          col("n"), col("total"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some(s"""
      |SELECT COALESCE(l_returnflag, '<all>') AS l_returnflag,
      |       COALESCE(l_linestatus, '<all>') AS l_linestatus,
      |       COUNT(*) AS n,
      |       CAST(CAST(SUM(${InvoiceView.m2Sql("l_extendedprice")}) AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag, l_linestatus
      |""".stripMargin))

  /** W6 — RANGE-frame window (the frame class w2's ROWS cumulative sum
    * doesn't cover): per-user trailing 1-hour value sum ordered by event
    * time. RANGE includes peers, so rows sharing a timestamp get the
    * same sum on any engine and any row order — frames over VALUE
    * distance are the order-robust form for event-time analytics. The
    * shuffle is one exchange on user_id; the frame is evaluated by a
    * sliding aggregate within the sorted partition.
    */
  val w6TrailingRange = QueryDef("w6_trailing_range_sum",
    (s, dir) => {
      // ts lands as nanos-since-epoch long (nanosAsLong); micros mirror
      // DuckDB's epoch_us exactly
      val ev = t(s, dir, "events").select(
        col("user_id"), col("event_id"),
        expr("ts div 1000").as("tus"),
        InvoiceView.m2(col("value")).as("v"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("tus"))
        .rangeBetween(-3600000000L, 0)
      ev.withColumn("trailing_1h",
          sum(col("v")).over(w).cast(money))
        .drop("v")
        .orderBy(col("user_id"), col("tus"), col("event_id"))
    },
    Some(s"""
      |SELECT user_id, event_id, epoch_us(ts) AS tus,
      |       CAST(CAST(SUM(${InvoiceView.m2Sql("value")}) OVER (
      |              PARTITION BY user_id ORDER BY epoch_us(ts)
      |              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |            AS DECIMAL(18,2)) AS DOUBLE) AS trailing_1h
      |FROM events
      |ORDER BY user_id, tus, event_id
      |""".stripMargin))

  /** A7 — explicit GROUPING SETS (disjoint marginals, not the rollup
    * lattice): per-returnflag totals, per-linestatus totals, and the
    * grand total in ONE pass — Expand over the 6-row finest partial
    * (same partial-first shape the q8 ratchet pins), never three scans.
    */
  val a7GroupingSets = QueryDef("a7_grouping_sets",
    (s, dir) => {
      import InvoiceView.m2
      val base = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n0"),
          sum(m2(col("l_extendedprice"))).as("t0"))
      base.groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("n0")).as("n"),
          sum(col("t0")).cast(money).as("total"))
        .select(
          coalesce(col("l_returnflag"), lit("<all>")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("<all>")).as("l_linestatus"),
          col("n"), col("total"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some(s"""
      |SELECT COALESCE(l_returnflag, '<all>') AS l_returnflag,
      |       COALESCE(l_linestatus, '<all>') AS l_linestatus,
      |       COUNT(*) AS n,
      |       CAST(CAST(SUM(${InvoiceView.m2Sql("l_extendedprice")}) AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY l_returnflag, l_linestatus
      |""".stripMargin))

  /** E5 — semi-structured extraction: events carry a JSON `props` string;
    * `get_json_object` is a codegen'd scan-stage path extraction (no UDF,
    * no parse-to-struct materialization), aggregated per event type.
    * Exact long arithmetic end-to-end.
    */
  val e5JsonProps = QueryDef("e5_json_props",
    (s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(k).as("sum_k"),
          min(k).as("min_k"), max(k).as("max_k"))
        .orderBy(col("event_type"))
    },
    Some("""
      |SELECT event_type, COUNT(*) AS n,
      |       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
      |       MIN(CAST(props->>'$.k' AS BIGINT)) AS min_k,
      |       MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type
      |""".stripMargin))

  /** W5 — unpivot (melt): wide metric columns → long (metric, value)
    * rows via Spark 4's native `unpivot` (an Expand node — one scan, no
    * join, no shuffle before the aggregate's own exchange). Money goes
    * through [[InvoiceView.m2]] BEFORE the melt so both engines sum
    * exact decimals; the oracle states the relational equivalent
    * (UNION ALL of one projection per metric).
    */
  val w5Unpivot = QueryDef("w5_unpivot",
    (s, dir) => {
      import InvoiceView.m2
      val ev = t(s, dir, "events")
        .select(
          m2(col("value")).as("value"),
          get_json_object(col("props"), "$.k").cast("long")
            .cast(DecimalType(18, 2)).as("k"))
      ev.unpivot(Array.empty[org.apache.spark.sql.Column],
          Array(col("value"), col("k")), "metric", "mv")
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n"),
          sum(col("mv")).cast(money).as("sum_val"))
        .orderBy(col("metric"))
    },
    Some(s"""
      |WITH m AS (
      |  SELECT 'value' AS metric, ${InvoiceView.m2Sql("value")} AS mv
      |  FROM events
      |  UNION ALL
      |  SELECT 'k', CAST(CAST(props->>'$$.k' AS BIGINT) AS DECIMAL(18,2))
      |  FROM events)
      |SELECT metric, COUNT(*) AS n,
      |       CAST(CAST(SUM(mv) AS DECIMAL(18,2)) AS DOUBLE) AS sum_val
      |FROM m GROUP BY metric ORDER BY metric
      |""".stripMargin))

  /** TPC-H Q11 shape (important-stock HAVING against a scalar subquery),
    * re-expressed over `lineitem` since the driver tables carry no
    * partsupp: parts whose total extended value exceeds 1000× the
    * corpus-average share. The global total re-aggregates the SAME
    * per-part exchange the group-by produces, so Catalyst's ReuseExchange
    * runs ONE fact scan + ONE shuffle for both sides; the 1-row total then
    * broadcasts into the filter. The threshold is SCALE-FREE — parts
    * above 1.5× the average part value (`2·pv·n > 3·tv`, exact decimal ×
    * long, no double rounding) — because a fixed corpus fraction (TPC-H's
    * own 0.0001/SF acknowledges this) matches zero parts as the part
    * count grows: 29 rows at sf0.01, 252 at sf0.1.
    */
  val q11ImportantParts = QueryDef("q11_important_parts",
    (s, dir) => {
      import InvoiceView.m2
      val byPart = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(m2(col("l_extendedprice"))).cast(DecimalType(38, 2))
          .as("pv"))
      val total = byPart
        .agg(sum(col("pv")).cast(DecimalType(38, 2)).as("tv"),
          count(lit(1)).as("np"))
      byPart.join(broadcast(total),
          col("pv") * col("np") * 2 > col("tv") * 3)
        .select(col("l_partkey"), col("pv").cast(money).as("part_value"))
        .orderBy(col("part_value").desc, col("l_partkey"))
    },
    Some(s"""
      |WITH bp AS (
      |  SELECT l_partkey,
      |         CAST(SUM(${InvoiceView.m2Sql("l_extendedprice")})
      |              AS DECIMAL(38,2)) AS pv
      |  FROM lineitem GROUP BY l_partkey),
      |tot AS (SELECT CAST(SUM(pv) AS DECIMAL(38,2)) AS tv,
      |               COUNT(*) AS np FROM bp)
      |SELECT l_partkey,
      |       CAST(CAST(pv AS DECIMAL(18,2)) AS DOUBLE) AS part_value
      |FROM bp, tot WHERE pv * np * 2 > tv * 3
      |ORDER BY part_value DESC, l_partkey
      |""".stripMargin))

  /** K5 — z-order layout audit: events bucketed on (user_id, hour) and
    * grouped by the top 6 bits of the Morton key
    * ([[graft.functions.zorder_key]]) — each group is what one output
    * file of [[graft.pipeline.StoreMaintenance.compactZOrdered]] would
    * hold, and the emitted per-group min/max of BOTH dimensions are
    * exactly the footer stats a scan planner prunes with. The oracle
    * replays the identical interleave arithmetic
    * ([[graft.functions.zorder_key_sql]]), proving bit-for-bit layout
    * agreement; bounding-box tightness itself is asserted in
    * ZorderSpec (a hash oracle can't grade "tight", only "identical").
    */
  val k5ZorderLayout = QueryDef("k5_zorder_layout",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val u = (col("user_id") % 1024L).as("u")
      val hb = (expr("ts DIV 3600000000000") % 1024L).as("hb")
      val z = graft.functions.zorder_key(col("u"), col("hb"), 10)
      ev.select(u, hb)
        .select(col("u"), col("hb"),
          shiftrightunsigned(z, 14).as("file_id"))
        .groupBy(col("file_id"))
        .agg(count(lit(1)).as("n"),
          min(col("u")).as("min_u"), max(col("u")).as("max_u"),
          min(col("hb")).as("min_hb"), max(col("hb")).as("max_hb"))
        .orderBy(col("file_id"))
    },
    Some(s"""
      |WITH b AS (
      |  SELECT user_id % 1024 AS u,
      |         (epoch_ns(ts) // 3600000000000) % 1024 AS hb
      |  FROM events),
      |z AS (
      |  SELECT u, hb,
      |         ${graft.functions.zorder_key_sql("u", "hb", 10)} >> 14 AS file_id
      |  FROM b)
      |SELECT file_id, COUNT(*) AS n,
      |       MIN(u) AS min_u, MAX(u) AS max_u,
      |       MIN(hb) AS min_hb, MAX(hb) AS max_hb
      |FROM z GROUP BY file_id
      |ORDER BY file_id
      |""".stripMargin))

  /** Memoized z-ordered store for K6: lineitem's (partkey, suppkey,
    * qty, orderkey) projection written as a many-file store, then
    * rewritten by [[graft.pipeline.StoreMaintenance.compactZOrdered]]
    * on (l_partkey, l_suppkey) — the durable 2-D-clustered layout.
    * Memoized so bench iterations re-READ, not re-build (the s6
    * pattern).
    */
  private def zorderStoreDir(s: SparkSession, dir: String): String =
    SessionViews(s, dir, "zstore") {
      val root = TempStores.dir("graft-zstore")
      val path = root + "/zstore.parquet"
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"))
        .repartition(8).write.parquet(path)
      graft.pipeline.StoreMaintenance.compactZOrdered(
        s, path, "l_partkey", "l_suppkey",
        bits = 6, targetBytes = 256 * 1024)
      root
    }

  /** K6 — the z-ordered store READ path (the s6/s7 pattern applied to
    * k5's layout lever): a 2-D range query answered FROM the compacted
    * store on disk must equal the full-scan answer over the original
    * table — the oracle never sees the store, so any row lost, duplicated
    * or mis-binned by the z-order rewrite hash-mismatches. The box
    * bounds derive from the data (quarter-to-half of each dimension's
    * max) so one query text is non-vacuous at every scale factor; the
    * two scalar maxima are a bounded driver pull, the d12-minDf stance.
    * File-skipping itself (fewer footer-intersecting files than an
    * unclustered layout) is asserted in ZorderSpec — a hash oracle can
    * only grade "identical", not "pruned".
    */
  val k6ZorderStore = QueryDef("k6_zorder_store",
    (s, dir) => {
      val st = t(s, zorderStoreDir(s, dir), "zstore")
      val b = st.agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
      val (pm, sm) = (b.getLong(0), b.getLong(1))
      st.filter(col("l_partkey").between(pm / 4, pm / 2) &&
          col("l_suppkey").between(sm / 4, sm / 2))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).cast("double").as("sum_qty"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"))
    },
    Some("""
      |WITH b AS (SELECT MAX(l_partkey) AS pm, MAX(l_suppkey) AS sm
      |           FROM lineitem)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
      |       MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok
      |FROM lineitem, b
      |WHERE l_partkey BETWEEN pm // 4 AND pm // 2
      |  AND l_suppkey BETWEEN sm // 4 AND sm // 2
      |""".stripMargin))

  /** J8 — blocked edit-distance record linkage
    * ([[graft.operators.FuzzyJoin]]): link a "dirty" registry (one
    * deterministic character substitution for every third key) back to
    * its clean source by levenshtein ≤ 1, candidates generated by the
    * prefix/suffix pigeonhole — never an all-pairs comparison. The
    * strings are md5-derived (12 hex chars keyed on c_custkey) so block
    * values distribute uniformly at every scale factor and the same
    * query text stays non-vacuous from sf0.001 to sf1; both engines
    * compute standard Levenshtein, and the perturbation arithmetic
    * (substr concat at position key % 12) is integer-exact on both.
    */
  val j8FuzzyJoin = QueryDef("j8_fuzzy_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val withBase = c.select(col("c_custkey").as("k"),
        substring(md5(concat(lit("L"), col("c_custkey").cast("string"))
          .cast("binary")), 1, 12).as("ls"),
        (col("c_custkey") % 12).cast("int").as("pos"))
      val leftT = withBase.select(col("k").as("lid"), col("ls"))
      val rightT = withBase.select(col("k").as("rid"),
        when(col("k") % 3 === 0,
          concat(expr("substring(ls, 1, pos)"), lit("z"),
            expr("substring(ls, pos + 2)")))
          .otherwise(col("ls")).as("rs"))
      graft.operators.FuzzyJoin
        .join1(leftT, rightT, "lid", "ls", "rid", "rs")
        .orderBy(col("lid"), col("rid"))
    },
    Some("""
      |WITH b AS (
      |  SELECT c_custkey AS k,
      |         substr(md5('L' || CAST(c_custkey AS VARCHAR)), 1, 12) AS ls,
      |         CAST(c_custkey % 12 AS INT) AS pos
      |  FROM customer),
      |l AS (SELECT k AS lid, ls FROM b),
      |r AS (
      |  SELECT k AS rid,
      |         CASE WHEN k % 3 = 0
      |              THEN substr(ls, 1, pos) || 'z' || substr(ls, pos + 2)
      |              ELSE ls END AS rs
      |  FROM b),
      |cand AS (
      |  SELECT DISTINCT lid, rid, ls, rs FROM (
      |    SELECT l.lid, r.rid, l.ls, r.rs FROM l JOIN r
      |      ON substr(l.ls, 1, 4) = substr(r.rs, 1, 4)
      |    UNION
      |    SELECT l.lid, r.rid, l.ls, r.rs FROM l JOIN r
      |      ON substr(l.ls, 9, 4) = substr(r.rs, 9, 4)))
      |SELECT lid, rid, CAST(levenshtein(ls, rs) AS INT) AS dist
      |FROM cand
      |WHERE levenshtein(ls, rs) <= 1
      |ORDER BY lid, rid
      |""".stripMargin))

  /** Memoized bucketed-table pair for K7: orders and lineitem written as
    * external tables bucketed (16 buckets) AND sorted on the join key —
    * the durable co-located layout that lets every subsequent
    * orderkey-equi-join run with ZERO shuffle on either side (Spark
    * matches `HashPartitioning(orderkey, 16)` from the bucket spec, so
    * the exchange is elided; BucketedJoinSpec pins that plan shape).
    * At 100 TB this is THE lever for repeated fact-fact joins: pay one
    * bucketed write, then every join/aggregation keyed on orderkey is
    * shuffle-free forever. Memoized per (session, dir) so bench
    * iterations re-read, not re-build (the s6/k6 pattern); table names
    * carry a JVM-unique suffix so two dirs in one session never collide
    * in the catalog.
    */
  private val bstoreSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] def bucketedTables(s: SparkSession, dir: String): (String, String) =
    SessionViews(s, dir, "bstore") {
      val id = bstoreSeq.incrementAndGet()
      val base = TempStores.dir("graft-bstore")
      val oT = s"graft_k7_orders_$id"
      val lT = s"graft_k7_lineitem_$id"
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.bucketBy(16, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/orders").saveAsTable(oT)
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
        .write.bucketBy(16, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/lineitem").saveAsTable(lT)
      (oT, lT)
    }

  /** K7 — bucketed co-located join (the k6 read-path stance applied to
    * Spark's bucketing lever): a fact-fact join answered FROM the
    * bucketed store must equal the same join over the raw tables — the
    * oracle never sees the store, so any row lost, duplicated or
    * mis-bucketed by the bucketed write hash-mismatches. The join itself
    * is shuffle-free (both scans expose the bucket spec's
    * HashPartitioning; BucketedJoinSpec asserts zero exchanges below the
    * join) — a hash oracle can only grade "identical", not "co-located".
    */
  val k7BucketedJoin = QueryDef("k7_bucketed_join",
    (s, dir) => {
      val (oT, lT) = bucketedTables(s, dir)
      s.table(lT).join(s.table(oT), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          sum(col("l_quantity")).cast("double").as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      |SELECT o_orderpriority, COUNT(*) AS n_lines,
      |       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
      |       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority
      |""".stripMargin))

  /** J10 — batch CDC apply ([[Merge.applyChanges]]): a change feed with
    * insert / update / delete ops is netted (last change per PK wins by
    * the ordinal) and replayed onto the base table. The feed carries a
    * genuine netting case — every `ok % 11 == 0` key gets a FOLLOW-UP
    * delete at a later ordinal, so an I/U superseded by a D must vanish
    * from the result; the oracle replays the same window + anti-join
    * algebra. Deletes are the leg neither of the reference's merge
    * modes has (J1 insert-only, J3 upsert) and the one a change-log
    * catch-up needs.
    */
  val j10CdcApply = QueryDef("j10_cdc_apply",
    (s, dir) => {
      val base = existingInv(s, dir)
      val in = cleanInv(s, dir).filter(col("ok") % 2 === 0)
      val first = in
        .withColumn("op", when(col("ok") % 7 === 0, "D")
          .when((col("ok") % 7).isin(1, 2, 3), "U").otherwise("I"))
        .withColumn("carrier_name",
          when(col("op") === "U", concat(col("carrier_name"), lit("X")))
            .otherwise(col("carrier_name")))
      val followUpDeletes = in.filter(col("ok") % 11 === 0)
        .withColumn("op", lit("D"))
        .withColumn("row_index", col("row_index") + lit(1000000000L))
      val changes = first.unionByName(followUpDeletes).drop("ok")
      Merge.applyChanges(base, changes, InvoiceRecord.pk).result
        .select(col("invoice_number"), col("reference_number"),
          col("carrier_name"), col("total_amount"),
          col("op").as("action"))
        .orderBy(col("invoice_number"), col("reference_number"))
    },
    Some(s"""
      |WITH ${InvoiceView.uniqSql},
      |${InvoiceView.cleanSql},
      |$existingSql,
      |chg AS (
      |  SELECT row_index, invoice_number, reference_number,
      |         CASE WHEN ok % 7 IN (1, 2, 3) THEN carrier_name || 'X'
      |              ELSE carrier_name END AS carrier_name,
      |         invoice_date, net_amount, tax_amount, total_amount,
      |         CASE WHEN ok % 7 = 0 THEN 'D'
      |              WHEN ok % 7 IN (1, 2, 3) THEN 'U'
      |              ELSE 'I' END AS op
      |  FROM inv WHERE ok % 2 = 0
      |  UNION ALL
      |  SELECT row_index + 1000000000, invoice_number, reference_number,
      |         carrier_name, invoice_date, net_amount, tax_amount,
      |         total_amount, 'D' AS op
      |  FROM inv WHERE ok % 2 = 0 AND ok % 11 = 0),
      |net AS (
      |  SELECT * FROM (
      |    SELECT chg.*, row_number() OVER (
      |      PARTITION BY invoice_number, reference_number
      |      ORDER BY row_index DESC) AS rn
      |    FROM chg) WHERE rn = 1)
      |SELECT invoice_number, reference_number, carrier_name,
      |       CAST(total_amount AS DOUBLE) AS total_amount, action
      |FROM (
      |  SELECT e.invoice_number, e.reference_number, e.carrier_name,
      |         e.total_amount, 'kept' AS action
      |  FROM existing e
      |  WHERE NOT EXISTS (SELECT 1 FROM net n
      |    WHERE n.invoice_number = e.invoice_number
      |      AND n.reference_number = e.reference_number)
      |  UNION ALL
      |  SELECT invoice_number, reference_number, carrier_name,
      |         total_amount, op AS action
      |  FROM net WHERE op <> 'D')
      |ORDER BY invoice_number, reference_number
      |""".stripMargin))

  /** J11 — SCD2 retention vacuum ([[Merge.vacuumScd2]]): versions closed
    * at or before the watermark are dropped, then the state is
    * reconstructed AS OF a post-watermark timestamp from the VACUUMED
    * store. The oracle states the invariant directly — the post-batch
    * state computed by the full-outer upsert — so a vacuum that drops a
    * version it still needed (or keeps a closed pre-image that leaks
    * into reconstruction) hash-mismatches. The j9 stance applied to the
    * retention path.
    */
  val j11Retention = QueryDef("j11_retention",
    (s, dir) => {
      val store0 = existingInv(s, dir)
        .withColumn("valid_from", lit(0L))
        .withColumn("valid_to", lit(null).cast("long"))
      val m = Merge.scd2Upsert(store0, incomingUpsert(s, dir),
        InvoiceRecord.pk, Seq("carrier_name", "total_amount"),
        batchTs = 1000L)
      val vacuumed = Merge.vacuumScd2(m.result, watermark = 1500L)
      Merge.stateAsOf(vacuumed, 2000L)
        .select(col("invoice_number"), col("reference_number"),
          col("carrier_name"), col("total_amount"))
        .orderBy(col("invoice_number"), col("reference_number"))
    },
    Some(s"""
      |WITH ${InvoiceView.uniqSql},
      |${InvoiceView.cleanSql},
      |$existingSql,
      |$incomingUpsertSql
      |SELECT COALESCE(i.invoice_number, e.invoice_number) AS invoice_number,
      |       COALESCE(i.reference_number, e.reference_number) AS reference_number,
      |       CASE WHEN $upsertStatusSql IN ('new','updated') THEN i.carrier_name ELSE e.carrier_name END AS carrier_name,
      |       CAST(CASE WHEN $upsertStatusSql IN ('new','updated') THEN i.total_amount ELSE e.total_amount END AS DOUBLE) AS total_amount
      |FROM existing e
      |FULL OUTER JOIN incoming i
      |  ON e.invoice_number = i.invoice_number AND e.reference_number = i.reference_number
      |ORDER BY invoice_number, reference_number
      |""".stripMargin))

  /** E6 — ordered conversion funnel over the event stream: users who
    * viewed, then clicked STRICTLY after their first view, then
    * purchased strictly after that first qualifying click. Each stage
    * is one key-equi join against the previous stage's per-user min
    * timestamp plus a hash aggregate — no windows, no per-user event
    * sorting, every shape AQE-splittable; at 100 TB each stage's
    * filter (`event_type = …`) rides partition pruning on an
    * event-type-partitioned log. Timestamps compare on the epoch-nanos
    * long axis (the [[Tables]] normalization), mirrored by
    * `epoch_ns()` on the oracle side.
    */
  val e6Funnel = QueryDef("e6_funnel",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("tv"))
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("ts") > col("tv"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("tc"))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("ts") > col("tc"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("tp"))
      v.agg(count(lit(1)).as("users"))
        .select(lit(1).as("stage"), lit("view").as("step"), col("users"))
        .unionByName(c.agg(count(lit(1)).as("users"))
          .select(lit(2).as("stage"), lit("click_after_view").as("step"),
            col("users")))
        .unionByName(p.agg(count(lit(1)).as("users"))
          .select(lit(3).as("stage"), lit("purchase_after_click").as("step"),
            col("users")))
        .orderBy(col("stage"))
    },
    Some(s"""
      |$funnelSql
      |SELECT stage, step, users FROM (
      |  SELECT CAST(1 AS INT) AS stage, 'view' AS step,
      |         COUNT(*) AS users FROM v
      |  UNION ALL
      |  SELECT CAST(2 AS INT), 'click_after_view', COUNT(*) FROM c
      |  UNION ALL
      |  SELECT CAST(3 AS INT), 'purchase_after_click', COUNT(*) FROM p)
      |ORDER BY stage
      |""".stripMargin))

  /** W7 — ENGINE-NATIVE session windows: the same 30-minute gap
    * sessionization e2 builds from first principles (lag + cumulative
    * sum), expressed with Spark's built-in `session_window` aggregate —
    * one shuffle on the user key, then a per-key sorted merge pass
    * (UpdatingSessions), no window-function stage at all. Boundary
    * convention verified empirically: an event EXACTLY `gap` after the
    * previous one merges (inclusive), matching e2's `<=` oracle; the
    * oracle derives `window_end = MAX(ts) + gap`, the built-in's
    * closing rule.
    */
  val w7SessionWindow = QueryDef("w7_session_window_builtin",
    (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        timestamp_micros(expr("ts DIV 1000")).as("tts"))
      ev.groupBy(col("user_id"),
          session_window(col("tts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("w.start")).as("session_start"),
          unix_micros(col("w.end")).as("window_end"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    },
    Some(s"""
      |$sessionsSql
      |SELECT user_id, MIN(tus) AS session_start,
      |       MAX(tus) + 1800000000 AS window_end,
      |       COUNT(*) AS n_events
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_start
      |""".stripMargin))

  private def dayPartitionedEvents(s: SparkSession, dir: String): String =
    SessionViews(s, dir, "dstore") {
      val root = TempStores.dir("graft-daystore")
      t(s, dir, "events")
        .withColumn("event_date",
          expr("to_date(timestamp_micros(ts div 1000))"))
        .write.partitionBy("event_date").parquet(root + "/dstore.parquet")
      root
    }

  /** E8 — date-partitioned event store read path (the k6/k7 stance on
    * the TIME axis): a day-range aggregation answered FROM the
    * `event_date=`-partitioned store must equal the same aggregation
    * over the raw events — the oracle never sees the store, so a row
    * routed to the wrong day partition, dropped by the partitioned
    * write, or double-read by the range scan hash-mismatches. The range
    * filter is a PARTITION filter: the scan reads only the matching
    * day directories (PartitionPruningSpec proves fewer files read),
    * which is the primary pruning lever for an event log at 100 TB.
    * Date derivation is the UTC civil date of the nanos instant,
    * mirroring DuckDB's naive `CAST(ts AS DATE)`.
    */
  val e8DayStore = QueryDef("e8_day_partitioned_store",
    (s, dir) => {
      val store = t(s, dayPartitionedEvents(s, dir), "dstore")
      store.filter(col("event_date")
          .between(lit("2024-01-02"), lit("2024-01-03")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(InvoiceView.m2(col("value")))
            .cast(InvoiceRecord.money).as("total_value"))
        .orderBy(col("event_type"))
    },
    Some(s"""
      |SELECT event_type, COUNT(*) AS n,
      |       CAST(CAST(SUM(${InvoiceView.m2Sql("value")}) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
      |FROM events
      |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-02' AND DATE '2024-01-03'
      |GROUP BY event_type
      |ORDER BY event_type
      |""".stripMargin))

  /** E7 — cohort retention: users grouped by first-active epoch-week,
    * counted per week-offset of later activity — the standard retention
    * triangle. Two hash aggregates and one key-equi join on user_id,
    * all on the epoch-nanos long axis with integer week bucketing
    * (`ts div 7·86400·10⁹`) so both engines bucket identically; no
    * windows, no sorting beyond the bounded output.
    */
  val e7CohortRetention = QueryDef("e7_cohort_retention",
    (s, dir) => {
      val uw = t(s, dir, "events")
        .select(col("user_id"), expr("ts div 604800000000000L").as("w"))
        .distinct()
        // cohort fit + activity share it; not lazy: under AQE the
        // distinct's shuffle map stage runs here, at construction
        .localCheckpoint(eager = false)
      val first = uw.groupBy(col("user_id")).agg(min(col("w")).as("w0"))
      uw.join(first, "user_id")
        .groupBy(col("w0"), (col("w") - col("w0")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("w0"), col("week_offset"))
    },
    Some("""
      |WITH uw AS (
      |  SELECT DISTINCT user_id,
      |         epoch_ns(ts) // 604800000000000 AS w
      |  FROM events),
      |first AS (SELECT user_id, MIN(w) AS w0 FROM uw GROUP BY user_id)
      |SELECT f.w0, u.w - f.w0 AS week_offset, COUNT(*) AS n_users
      |FROM uw u JOIN first f ON u.user_id = f.user_id
      |GROUP BY f.w0, week_offset
      |ORDER BY w0, week_offset
      |""".stripMargin))

  /** E11 — funnel time-to-convert quantiles: e6's strictly-after stage
    * times composed with t18's bounded log-histogram — quartiles of the
    * view→click and click→purchase latencies in seconds. The funnel
    * passes are the e6 join+agg shape (no windows over users); the
    * quantile state is the ≤ 64·2^4-cell grid per transition, so the
    * latency dashboard this feeds stays skew-immune however many users
    * convert — the per-group window runs over the GRID, never the
    * conversion rows. Estimates carry the documented ≤ 3.1% bin error;
    * the oracle replays the identical integer bin arithmetic.
    */
  val e11ConvertLatency = QueryDef("e11_convert_latency",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("tv"))
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("ts") > col("tv"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("tc"))
        .localCheckpoint(eager = false) // purchase stage + delta 1
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("ts") > col("tc"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("tp"))
      val deltas = c.join(v, "user_id")
        .select(lit("view_to_click").as("step"),
          expr("(tc - tv) div 1000000000").as("dt"))
        .unionByName(p.join(c, "user_id")
          .select(lit("click_to_purchase").as("step"),
            expr("(tp - tc) div 1000000000").as("dt")))
      graft.sketch.ApproxQuantiles.quantilesByGroup(deltas, "step", "dt")
        .orderBy(col("step"), col("qi"))
    },
    Some(s"""
      |$funnelSql,
      |dv AS (
      |  SELECT 'view_to_click' AS step, (c.tc - v.tv) // 1000000000 AS v
      |  FROM c JOIN v ON c.user_id = v.user_id
      |  UNION ALL
      |  SELECT 'click_to_purchase', (p.tp - c.tc) // 1000000000
      |  FROM p JOIN c ON p.user_id = c.user_id),
      |b AS (SELECT step, ${graft.sketch.ApproxQuantiles.logBinSql("v", 4)} AS id
      |      FROM dv WHERE v IS NOT NULL AND v >= 0),
      |h AS (SELECT step, id, COUNT(*) AS c FROM b GROUP BY 1, 2),
      |w AS (SELECT step, id,
      |        SUM(c) OVER (PARTITION BY step ORDER BY id) AS cum,
      |        SUM(c) OVER (PARTITION BY step) AS n FROM h),
      |q(qi, num, den) AS (VALUES (0, 1, 4), (1, 2, 4), (2, 3, 4)),
      |sel AS (SELECT step, qi, MIN(id) AS id FROM w, q
      |        WHERE cum >= (n * num + den - 1) // den GROUP BY 1, 2)
      |SELECT step, qi, ${graft.sketch.ApproxQuantiles.binEstimateSql("id", 4)} AS q_est
      |FROM sel ORDER BY step, qi
      |""".stripMargin))

  /** J14 — referential-integrity audit: the ingestion-time data-quality
    * census a warehouse runs before trusting a join. Three checks as
    * tidy (check, n, total) rows: facts referencing dimension keys
    * absent from the CURRENT dim snapshot (the late-arriving-dimension
    * scenario, simulated by auditing orders against a `% 7`-degraded
    * customer cut — the m4 planted-structure stance), lineitems whose
    * order is missing (genuinely zero — the generator is
    * referentially sound, and the audit proves it), and the GENUINE
    * duplicate `(l_orderkey, l_linenumber)` PK groups this corpus
    * ships (the known hazard `InvoiceView.uniq` exists for). Each
    * orphan check is one anti join (AQE-planned, dim side
    * broadcastable) + bounded 1-row aggregates — no window, no
    * distinct on the fact side.
    */
  val j14IntegrityAudit = QueryDef("j14_integrity_audit",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val dim = t(s, dir, "customer")
        .filter(col("c_custkey") % 7 =!= 0).select(col("c_custkey"))
      val c1 = o.join(dim, col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n"))
        .crossJoin(o.agg(count(lit(1)).as("total")))
        .select(lit("orders_missing_customer").as("check"), col("n"),
          col("total"))
      val c2 = l.join(o.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n"))
        .crossJoin(l.agg(count(lit(1)).as("total")))
        .select(lit("lineitem_missing_order").as("check"), col("n"),
          col("total"))
      val c3 = l.groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(when(col("c") > 1, 1L)), lit(0L)).as("n"),
          count(lit(1)).as("total"))
        .select(lit("lineitem_duplicate_pk").as("check"), col("n"),
          col("total"))
      c1.unionByName(c2).unionByName(c3).orderBy(col("check"))
    },
    Some("""
      |WITH dim AS (SELECT c_custkey FROM customer WHERE c_custkey % 7 <> 0),
      |c1 AS (
      |  SELECT 'orders_missing_customer' AS "check",
      |         (SELECT COUNT(*) FROM orders o
      |          WHERE NOT EXISTS (SELECT 1 FROM dim d
      |                            WHERE d.c_custkey = o.o_custkey)) AS n,
      |         (SELECT COUNT(*) FROM orders) AS total),
      |c2 AS (
      |  SELECT 'lineitem_missing_order' AS "check",
      |         (SELECT COUNT(*) FROM lineitem l
      |          WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                            WHERE o.o_orderkey = l.l_orderkey)) AS n,
      |         (SELECT COUNT(*) FROM lineitem) AS total),
      |pk AS (SELECT l_orderkey, l_linenumber, COUNT(*) AS c
      |       FROM lineitem GROUP BY 1, 2),
      |c3 AS (
      |  SELECT 'lineitem_duplicate_pk' AS "check",
      |         (SELECT CAST(COALESCE(SUM(CASE WHEN c > 1 THEN 1 END), 0)
      |                 AS BIGINT) FROM pk) AS n,
      |         (SELECT COUNT(*) FROM pk) AS total)
      |SELECT * FROM c1 UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM c3
      |ORDER BY "check"
      |""".stripMargin))

  val all: Seq[QueryDef] = Seq(
    q1Agg, q3TopRevenue, q4OrderPriority, q5LocalRevenue, q6Forecast,
    q13CustDist, w2RunningTotal,
    p1MapColumns, p3RequireNonBlank, p4SummaryFilter, p5TakeWhile,
    p6ValidRows, p6ErrorChannel,
    f3ParseMoney, f4ParseDate, f6StripPrefix, f7TotalOverride, f9InvoiceInt,
    j1InsertOnly, j1InsertedSlice, j3FullUpsert, j2Attribution, j4Idempotence,
    j6AsofJoin, j7Scd2,
    a1DecimalSum, a2Reconcile, a3ActionCounters,
    o3TopErrors, u1Union, u2Except,
    p8Egress, e1EventWindow, e2Sessionize, w1TopEventsPerUser, w3Pivot,
    k1SaltedAgg, k2SaltedJoin, k3RangeJoin, q8Rollup,
    q7NationVolume, q9ProfitByNation, q10ReturnedItems, q12LateLines,
    q14PromoShare, q18LargeOrders,
    q15TopSupplier, q17SmallQty, q19DisjunctRevenue, q21LateSuppliers,
    q22IdleRich,
    a6Stats, u3Intersect, q16SupplierDist, e3Interarrival, e4Attribution,
    q20VolumeSuppliers, u4ExceptAll, w4DenseRank, q2CheapestSupplier,
    k4IntervalOverlap, o4ErrorHistogram, q11ImportantParts,
    e5JsonProps, w5Unpivot, w6TrailingRange, a7GroupingSets,
    u5IntersectAll, a8Cube, k5ZorderLayout, k6ZorderStore, k7BucketedJoin,
    j8FuzzyJoin, j9TimeTravel, j10CdcApply, e6Funnel, j11Retention,
    e7CohortRetention, e8DayStore, w7SessionWindow, j14IntegrityAudit, e11ConvertLatency)
}
