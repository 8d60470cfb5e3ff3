package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Relational operator coverage (SURVEY.md §2.1, §2.5, §2.6) expressed
  * over the star-schema fixtures. The reference decomposes every join
  * into sequential point queries (/root/reference/src/core/vector_store.py:200-206);
  * here they are declarative joins so Catalyst picks broadcast vs shuffle.
  *
  * Scale notes: dimension tables (region/nation/supplier/part/customer at
  * TPC-H proportions) are broadcast explicitly; fact-fact joins
  * (orders⋈lineitem) shuffle on the join key — at 100 TB both sides would
  * be bucketed by orderkey to make this a shuffle-free sort-merge join.
  * All aggregates are partial (map-side combine) by construction.
  */
object Relational {

  /** A1/A2-style grouped aggregate — TPC-H Q1 shape on lineitem.
    * Pure scan + partial agg; the filter and the 7-column projection are
    * pushed into the parquet scan.
    */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q1OracleSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
      |  round(avg(l_quantity), 4) AS avg_qty,
      |  round(avg(l_discount), 4) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3 shape: dim-filter → broadcast join → fact-fact shuffle join
    * → grouped agg → top-k (TakeOrderedAndProject).
    */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === lit("BUILDING"))
      .select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  val q3OracleSql: String =
    """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING'
      |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
      |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d')
      |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin

  /** Multi-dim snowflake join: lineitem⋈supplier⋈nation⋈region with all
    * three dims broadcast — revenue per nation.
    */
  def q5RevenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val nat = Tables.nation(spark, dir).select("n_nationkey", "n_name", "n_regionkey")
    val reg = Tables.region(spark, dir).select("r_regionkey", "r_name")
    Tables.lineitem(spark, dir)
      .select("l_suppkey", "l_extendedprice", "l_discount")
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name").asc, col("revenue").desc, col("n_name").asc)
  }

  val q5OracleSql: String =
    """SELECT r_name, n_name,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem, supplier, nation, region
      |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |  AND n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name ASC, revenue DESC, n_name ASC""".stripMargin

  /** RATIO_TO_REPORT / percent-of-total: each nation's share of global
    * line revenue — the report column every BI layer derives from a
    * grouped sum. The global total is computed from the SAME decimal
    * per-nation sums (one aggregate, re-reduced — no second corpus
    * scan) and rides back as an allowlisted 1-row broadcast; decimal
    * partials make numerator and denominator engine-exact, so the one
    * double division rounds identically. */
  def revenueShareByNation(spark: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val nat = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    val perNation = Tables.lineitem(spark, dir)
      .select("l_suppkey", "l_extendedprice", "l_discount")
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum((col("l_extendedprice") *
        (lit(1.0) - col("l_discount"))).cast("decimal(18,6)")).as("rev"))
    val total = perNation.agg(sum(col("rev")).as("total_rev"))
    perNation.crossJoin(broadcast(total))
      .select(col("n_name"),
        round(col("rev"), 2).cast("double").as("revenue"),
        round(col("rev").cast("double") /
          col("total_rev").cast("double"), 6).as("share"))
      .orderBy(col("share").desc, col("n_name").asc)
  }

  val revenueShareOracleSql: String =
    """WITH pn AS MATERIALIZED (
      |  SELECT n_name,
      |    sum(CAST(l_extendedprice * (1.0 - l_discount)
      |        AS DECIMAL(18,6))) AS rev
      |  FROM lineitem, supplier, nation
      |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |  GROUP BY n_name
      |), t AS (SELECT sum(rev) AS total_rev FROM pn)
      |SELECT n_name,
      |  CAST(round(rev, 2) AS DOUBLE) AS revenue,
      |  round(CAST(rev AS DOUBLE) / CAST(total_rev AS DOUBLE), 6)
      |    AS share
      |FROM pn, t
      |ORDER BY share DESC, n_name ASC""".stripMargin

  /** TPC-H Q6 shape: the canonical predicate-pushdown showcase — a
    * tight conjunctive range filter and a 2-column arithmetic aggregate
    * over the fact table. The whole WHERE clause reaches the parquet
    * scan as PushedFilters (row groups outside the shipdate/discount/
    * quantity ranges are skipped via min/max stats), and the scan reads
    * exactly 4 columns. At 100 TB this plan touches only the matching
    * row groups of 4 columns — nothing else moves. */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(
        col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
        col("l_discount") >= lit(0.03) && col("l_discount") <= lit(0.07) &&
        col("l_quantity") < lit(24))
      .agg(
        round(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue"),
        count(lit(1)).as("n_items"))

  val q6OracleSql: String =
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.03 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** TPC-H Q14 shape: conditional aggregation through a broadcast
    * dim join — promo revenue share for one ship month. The CASE runs
    * map-side inside the partial aggregate; part is broadcast. The
    * ratio is a two-double division of exact partial sums, so the
    * value is engine-independent after rounding. */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).select("p_partkey", "p_type")
    Tables.lineitem(spark, dir)
      .filter(
        col("l_shipdate") >= lit("1995-09-01").cast("timestamp") &&
        col("l_shipdate") < lit("1995-10-01").cast("timestamp"))
      .select("l_partkey", "l_extendedprice", "l_discount")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        round(
          lit(100.0) *
            sum(when(col("p_type").startsWith("PROMO"),
              col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .otherwise(lit(0.0))) /
            sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
          4).as("promo_share"),
        count(lit(1)).as("n_items"))
  }

  val q14OracleSql: String =
    """SELECT
      |  round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
      |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)
      |    / sum(l_extendedprice * (1.0 - l_discount)), 4) AS promo_share,
      |  count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1995-10-01 00:00:00'""".stripMargin

  /** TPC-H Q19 shape (adapted to the fixture's part columns): an
    * OR-of-ANDs join predicate — three disjoint (brand, size-range,
    * quantity-range) branches. Catalyst extracts the common l_partkey =
    * p_partkey equi-condition for the broadcast hash join and evaluates
    * the disjunction as a post-join filter; the per-branch part filters
    * (brand/size) are pushed into the broadcast side's scan via
    * constraint propagation of the OR. The showcase: disjunctive
    * predicates do NOT degrade the join into a nested-loop. */
  def q19DisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).select("p_partkey", "p_brand", "p_size")
    val li = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val branch = (brand: String, szLo: Int, szHi: Int, qLo: Int, qHi: Int) =>
      col("p_brand") === lit(brand) &&
        col("p_size").between(szLo, szHi) &&
        col("l_quantity").between(qLo, qHi)
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(
        branch("Brand#12", 1, 5, 1, 11) ||
        branch("Brand#23", 1, 10, 10, 20) ||
        branch("Brand#34", 1, 15, 20, 30))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q19OracleSql: String =
    """SELECT
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
      |       AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
      |       AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** GROUPING SETS: the explicit-set sibling of rollup/cube — per
    * (status, priority), per status, and the grand total in ONE Expand +
    * aggregate pass (no self-union, no re-scan). grouping_id
    * disambiguates a NULL group key from a rolled-up level, exactly as
    * DuckDB's GROUPING() pair does on the oracle side. The price is
    * summed as a decimal: a double sum depends on the order rows meet
    * in, and its rounded grand total differs from DuckDB's at sf1. */
  def groupingSetsSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice").cast("decimal(18,6)")), 2)
          .cast("double").as("sum_price"),
        grouping_id().as("gid"))
      .orderBy(col("gid").asc,
        col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  val groupingSetsOracleSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)
      |    AS DOUBLE) AS sum_price,
      |  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
      |       AS BIGINT) AS gid
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |                        (o_orderstatus), ())
      |ORDER BY gid ASC, o_orderstatus ASC NULLS FIRST,
      |         o_orderpriority ASC NULLS FIRST""".stripMargin

  /** Window function: top-2 orders per customer by totalprice
    * (O1/O2 ranked-top-k generalized to per-group).
    */
  def topOrdersPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"),
        col("rn").cast("long").as("rn")) // DuckDB row_number() is BIGINT
      .orderBy(col("o_custkey").asc, col("rn").asc)
  }

  val topOrdersOracleSql: String =
    """WITH ranked AS (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders
      |)
      |SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, rn
      |FROM ranked WHERE rn <= 2
      |ORDER BY o_custkey ASC, rn ASC""".stripMargin

  /** [[topOrdersPerCustomer]] in its 100 TB form: grouped top-k via the
    * [[graft.functions.BoundedTopK]] typed Aggregator instead of a
    * window. The window idiom shuffles EVERY order row to its customer
    * partition before ranking; the Aggregator partial-aggregates map-
    * side, so the exchange carries at most k rows per customer per map
    * task (plan-asserted: two ObjectHashAggregates around the
    * exchange). Identical semantics and tiebreak — oracle is the same
    * row_number SQL, and the spec pins row-equality with the window
    * form. */
  def topOrdersPerCustomerScale(spark: SparkSession,
      dir: String): DataFrame = {
    val topk = udaf(new graft.functions.BoundedTopK(2),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[graft.functions.Scored]())
    Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(topk(col("o_orderkey"), col("o_totalprice")).as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"), col("col.id").as("o_orderkey"),
        round(col("col.score"), 2).as("o_totalprice"),
        (col("pos") + 1).cast("long").as("rn"))
      .orderBy(col("o_custkey").asc, col("rn").asc)
  }

  /** Window-function coverage beyond ranking: per-customer running
    * order-value totals and gaps between consecutive orders (lag). */
  def runningOrderStats(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        round(sum(col("o_totalprice")).over(wRun), 2).as("running_total"),
        round(col("o_totalprice") -
          coalesce(lag(col("o_totalprice"), 1).over(w), lit(0.0)), 2)
          .as("delta_vs_prev"),
        count(lit(1)).over(wRun).as("order_seq"))
      .orderBy(col("o_custkey").asc, col("order_seq").asc)
  }

  val runningOrderStatsOracleSql: String =
    """SELECT o_custkey, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS o_date,
      |  round(sum(o_totalprice) OVER w_run, 2) AS running_total,
      |  round(o_totalprice -
      |    coalesce(lag(o_totalprice, 1) OVER w, 0.0), 2) AS delta_vs_prev,
      |  count(*) OVER w_run AS order_seq
      |FROM orders
      |WINDOW
      |  w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC),
      |  w_run AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC,
      |            o_orderkey ASC ROWS UNBOUNDED PRECEDING)
      |ORDER BY o_custkey ASC, order_seq ASC""".stripMargin

  /** S3 deterministic pagination: ORDER BY id LIMIT/OFFSET via row_number
    * (Postgres OFFSET without ORDER BY is nondeterministic — we impose a
    * total order, SURVEY §2.1 S3).
    */
  def paginateDocuments(
      spark: SparkSession, dir: String, limit: Int, offset: Int): DataFrame = {
    // offset+limit is small and clamped (the reference clamps limit to 100,
    // /root/reference/src/core/vector_store.py:341), so sort+offset+limit
    // compiles to TakeOrderedAndProject(limit=offset+limit, offset=offset):
    // each partition keeps only its local top-(offset+limit), no global
    // single-partition sort of the full table (vs the old row_number over
    // an unpartitioned Window, which moved every row to one partition).
    Tables.documents(spark, dir)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy(col("doc_id").asc)
      .offset(offset)
      .limit(limit)
  }

  def paginateOracleSql(limit: Int, offset: Int): String =
    s"""SELECT doc_id, lang, source, n_chars FROM documents
       |ORDER BY doc_id ASC LIMIT $limit OFFSET $offset""".stripMargin

  /** S3 collection-scoped pagination — the reference's actual shape
    * (list_documents takes a collection_id,
    * /root/reference/src/core/vector_store.py:341): pages within ONE
    * collection off the partition-by-collection layout, so the scan
    * lists only that collection's directory (PartitionFilters) before
    * the same TakeOrderedAndProject(limit+offset) pagination. */
  def paginateCollection(spark: SparkSession, dir: String, lang: String,
      limit: Int, offset: Int): DataFrame =
    graft.operators.Collections.scopedDocuments(spark, dir, lang)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy(col("doc_id").asc)
      .offset(offset)
      .limit(limit)

  def paginateCollectionOracleSql(lang: String, limit: Int,
      offset: Int): String =
    s"""SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE lang = '$lang'
       |ORDER BY doc_id ASC LIMIT $limit OFFSET $offset""".stripMargin

  /** S3 variant: the `document_ids` in-list filter composed with
    * pagination (`query.where(Document.document_id.in_(document_ids))`,
    * /root/reference/src/core/vector_store.py:344-348). The IN-list is
    * a literal predicate pushed to the parquet scan (shows up in
    * PushedFilters), then the same clamped sort+offset+limit →
    * TakeOrderedAndProject shape as `paginateDocuments`. */
  def paginateDocumentsByIds(
      spark: SparkSession, dir: String, ids: Seq[Long], limit: Int,
      offset: Int): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id").isin(ids: _*))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy(col("doc_id").asc)
      .offset(offset)
      .limit(limit)

  /** Keyset (seek) pagination — the scale-correct sibling of the
    * reference's OFFSET pagination (S3): OFFSET must scan and discard
    * `offset` rows every page (O(offset) per page, O(n²) for a full
    * sweep at 100 TB); seeking on the last-seen key is a pushed-down
    * range filter + TakeOrderedAndProject — O(page) regardless of how
    * deep the cursor is. */
  def paginateKeyset(spark: SparkSession, dir: String, after: Long,
      limit: Int): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") > lit(after))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy(col("doc_id").asc)
      .limit(limit)

  def paginateKeysetOracleSql(after: Long, limit: Int): String =
    s"""SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE doc_id > $after ORDER BY doc_id ASC LIMIT $limit""".stripMargin

  def paginateByIdsOracleSql(ids: Seq[Long], limit: Int,
      offset: Int): String =
    s"""SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE doc_id IN (${ids.mkString(", ")})
       |ORDER BY doc_id ASC LIMIT $limit OFFSET $offset""".stripMargin

  /** S5 delete-as-anti-join: "delete" documents whose id appears in
    * embeddings with label = 3, returning the surviving rows
    * (immutable-parquet delete rewrite, SURVEY §2.1 S5/S6).
    */
  def deleteSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val victims = Tables.embeddings(spark, dir)
      .filter(col("label") === lit(3))
      .select(col("vec_id").as("doc_id"))
    Tables.documents(spark, dir)
      .select("doc_id", "lang", "source")
      .join(broadcast(victims), Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id").asc)
  }

  // NOT EXISTS, not NOT IN: a NULL vec_id would empty a NOT IN result
  // while the Spark left_anti keeps non-matching rows — NOT EXISTS has
  // the anti-join's null semantics (same fix as q22's oracle).
  val deleteSurvivorsOracleSql: String =
    """SELECT doc_id, lang, source FROM documents dd
      |WHERE NOT EXISTS (SELECT 1 FROM embeddings e
      |                  WHERE e.label = 3 AND e.vec_id = dd.doc_id)
      |ORDER BY doc_id ASC""".stripMargin

  /** TPC-H Q4 shape: EXISTS rewritten as a left-semi join — orders with
    * at least one late lineitem, counted per priority. The semi join
    * shuffles only the distinct keys of the probe side.
    */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val late = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1995-06-01").cast("timestamp"))
      .select(col("l_orderkey"))
    Tables.orders(spark, dir)
      .join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority").asc)
  }

  val q4OracleSql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE EXISTS (
      |  SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey
      |    AND l_shipdate > TIMESTAMP '1995-06-01 00:00:00')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority ASC""".stripMargin

  /** Distinct aggregates: suppliers/parts per nation over lineitem
    * (exact count-distinct expands to a two-phase aggregate).
    */
  def distinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.supplier(spark, dir)
        .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_nationkey")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_suppliers"),
        count(lit(1)).as("n_items"))
      .orderBy(col("s_nationkey").asc)

  val distinctAggOracleSql: String =
    """SELECT s_nationkey,
      |  count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_suppliers,
      |  count(*) AS n_items
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey ORDER BY s_nationkey ASC""".stripMargin

  /** A3-style status tally + conditional aggregation (job-ledger shape,
    * /root/reference/src/core/job_manager.py:301-309) over orders.
    */
  def statusTally(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"),
        count(when(col("o_totalprice") > 200000, 1)).as("n_large"))
      .orderBy(col("o_orderstatus").asc)

  val statusTallyOracleSql: String =
    """SELECT o_orderstatus, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total,
      |  count(CASE WHEN o_totalprice > 200000 THEN 1 END) AS n_large
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus ASC""".stripMargin

  /** Hierarchical totals via ROLLUP: per (returnflag, linestatus), per
    * returnflag, and grand total in one pass (Catalyst expands to a
    * single Expand + aggregate — no multiple scans). */
  def rollupSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  val rollupOracleSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST,
      |         l_linestatus ASC NULLS FIRST""".stripMargin

  /** CUBE: totals for every combination of (returnflag, linestatus)
    * including both partial margins — one Expand + aggregate pass. */
  def cubeSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        round(avg(col("l_discount")), 6).as("avg_disc"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  val cubeOracleSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  round(avg(l_discount), 6) AS avg_disc
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST,
      |         l_linestatus ASC NULLS FIRST""".stripMargin

  /** Set operations: customers present in BOTH the building segment and
    * the high-value order population (INTERSECT), and building-segment
    | customers with NO order at all (EXCEPT ≙ anti). */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val building = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val bigSpenders = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 150000)
      .select(col("o_custkey").as("c_custkey"))
    val anyOrder = Tables.orders(spark, dir)
      .select(col("o_custkey").as("c_custkey"))
    val both = building.intersect(bigSpenders)
      .withColumn("category", lit("building_big_spender"))
    val none = building.except(anyOrder)
      .withColumn("category", lit("building_no_orders"))
    both.unionByName(none)
      .select(col("category"), col("c_custkey"))
      .orderBy(col("category").asc, col("c_custkey").asc)
  }

  val setOpsOracleSql: String =
    """WITH building AS (
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |), spenders AS (
      |  SELECT 'building_big_spender' AS category, c_custkey FROM (
      |    SELECT c_custkey FROM building
      |    INTERSECT
      |    SELECT o_custkey FROM orders WHERE o_totalprice > 150000
      |  )
      |), orderless AS (
      |  SELECT 'building_no_orders' AS category, c_custkey FROM (
      |    SELECT c_custkey FROM building
      |    EXCEPT
      |    SELECT o_custkey FROM orders
      |  )
      |)
      |SELECT category, c_custkey FROM spenders
      |UNION ALL
      |SELECT category, c_custkey FROM orderless
      |ORDER BY category ASC, c_custkey ASC""".stripMargin

  /** Shared as-of prep: events with epoch seconds, and orders pre-deduped
    * to one row per (user, date) with max_by — BOTH as-of formulations
    * must use identical prep or their bit-for-bit equivalence (and the
    * shared DuckDB oracle) breaks on tie handling. */
  private def asofEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val evTs = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000000000")
      case _ => unix_timestamp(col("ts"))
    }
    ev.select(col("event_id"), col("user_id"), evTs.cast("long").as("t"))
  }

  private def asofOrders(spark: SparkSession, dir: String,
      keyName: String, timeName: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as(keyName),
        unix_timestamp(col("o_orderdate")).cast("long").as(timeName))
      .agg(max(col("o_orderkey")).as("okey"),
        max_by(col("o_totalprice"), col("o_orderkey")).as("oprice"))

  /** As-of join: each event matched to the user's most recent order at
    * or before the event time. Implemented with the scale-correct
    * union-sort-window shape — tag both streams, union, one shuffle on
    * the key, `last(..., ignoreNulls)` over the time-ordered window —
    * instead of an inequality join (which would explode to |events|×
    * |orders| per key before filtering). Orders are pre-deduped to one
    * per (user, date) with max_by so tie behavior is deterministic and
    * identical to DuckDB's native ASOF JOIN used as the oracle.
    */
  def asofLatestOrder(spark: SparkSession, dir: String): DataFrame = {
    val events = asofEvents(spark, dir)
    val orders = asofOrders(spark, dir, "user_id", "t")
    val tagged = events
      .select(col("user_id"), col("t"), lit(1).as("is_event"),
        col("event_id"),
        lit(null).cast("long").as("okey"),
        lit(null).cast("double").as("oprice"))
      .unionByName(orders
        .select(col("user_id"), col("t"), lit(0).as("is_event"),
          lit(null).cast("long").as("event_id"), col("okey"),
          col("oprice")))
    // orders sort before events at equal t (is_event asc) so an order at
    // exactly the event time matches (<= semantics)
    val w = Window.partitionBy("user_id")
      .orderBy(col("t").asc, col("is_event").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("asof_okey", last(col("okey"), ignoreNulls = true).over(w))
      .withColumn("asof_oprice",
        last(col("oprice"), ignoreNulls = true).over(w))
      .filter(col("is_event") === 1)
      .select(col("event_id"), col("user_id"), col("t").as("ts_sec"),
        col("asof_okey").as("okey"),
        round(col("asof_oprice"), 2).as("oprice"))
      .orderBy(col("event_id").asc)
  }

  /** Banded range self-join COUNTS: per-user tallies of ordered event
    * pairs at most windowSec apart (b strictly after a). Because only
    * COUNTS leave the operator, the pairs never need to be
    * materialized at all (r17 — the previous bucketized equi-join
    * still enumerated every qualifying pair before counting, and the
    * pair volume IS the cost at scale): a per-user RANGE frame
    * [t+1, t+windowSec] counts each event's successors in one pass —
    * one key shuffle + per-partition sort, pair-volume-free. The
    * value-based frame bounds give strict `>` and `≤ t+W` exactly, so
    * the tallies match the oracle's inequality join bit-for-bit
    * (n_pairs = Σ per-head successor counts; n_heads = heads with a
    * non-empty frame — event_id is unique, so "rows with cnt>0" and
    * "count(DISTINCT a_id)" agree). Pair-PRODUCING range joins keep
    * the bucketized equi-join shape (see sessionized/funnel ops). */
  def rangeJoinCounts(spark: SparkSession, dir: String,
      windowSec: Long): DataFrame = {
    val ev = Tables.events(spark, dir)
    val evTs = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000000000")
      case _ => unix_timestamp(col("ts"))
    }
    val base = ev.select(col("event_id"), col("user_id"),
      evTs.cast("long").as("t"))
    val w = Window.partitionBy("user_id").orderBy(col("t"))
      .rangeBetween(1L, windowSec)
    base
      .withColumn("cnt", count(lit(1)).over(w))
      .groupBy("user_id")
      .agg(sum(col("cnt")).as("n_pairs"),
        sum(when(col("cnt") > 0, 1L).otherwise(0L)).as("n_heads"))
      .filter(col("n_pairs") > 0)
      .orderBy(col("user_id").asc)
  }

  def rangeJoinOracleSql(windowSec: Long): String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS t
       |  FROM events
       |)
       |SELECT a.user_id, count(*) AS n_pairs,
       |  count(DISTINCT a.event_id) AS n_heads
       |FROM ev a JOIN ev b
       |  ON a.user_id = b.user_id
       |  AND b.t > a.t AND b.t <= a.t + $windowSec
       |GROUP BY a.user_id ORDER BY a.user_id ASC""".stripMargin

  /** The same as-of semantics through the NATIVE custom operator
    * (graft.plans.AsOfJoinPlan → AsOfJoinExec): one sort-merge pass with
    * O(1) state per partition, exchanges/sorts inserted by
    * EnsureRequirements from the operator's declared requirements.
    * Gated by the same DuckDB ASOF JOIN oracle as the compositional
    * formulation above.
    */
  def asofLatestOrderCustom(spark: SparkSession, dir: String): DataFrame = {
    val events = asofEvents(spark, dir)
    val orders = asofOrders(spark, dir, "r_user", "r_t")
    graft.plans.AsOfJoin(events, orders, "user_id", "t", "r_user", "r_t")
      .select(col("event_id"), col("user_id"), col("t").as("ts_sec"),
        col("okey"), round(col("oprice"), 2).as("oprice"))
      .orderBy(col("event_id").asc)
  }

  val asofOracleSql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
      |  FROM events
      |), ord AS (
      |  SELECT o_custkey AS user_id,
      |    CAST(floor(epoch(o_orderdate)) AS BIGINT) AS t,
      |    max(o_orderkey) AS okey,
      |    max_by(o_totalprice, o_orderkey) AS oprice
      |  FROM orders GROUP BY 1, 2
      |)
      |SELECT e.event_id, e.user_id, e.ts_sec,
      |  o.okey, round(o.oprice, 2) AS oprice
      |FROM ev e ASOF LEFT JOIN ord o
      |  ON e.user_id = o.user_id AND e.ts_sec >= o.t
      |ORDER BY event_id ASC""".stripMargin

  /** Tumbling-window aggregate over events (batch shape of the
    * streaming query in graft.streaming — same bucketing formula).
    * Bucket = floor(epoch_seconds / 600) → deterministic across engines.
    */
  def eventsTumbling(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    // ts arrives as long nanoseconds (nanosAsLong) or as a timestamp;
    // integer `div` avoids double-precision loss on 1.7e18-scale nanos.
    val bucket = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr("ts div 600000000000")
      case _ => floor(unix_timestamp(col("ts")) / lit(600)).cast("long")
    }
    ev.withColumn("bucket", bucket)
      .groupBy("bucket", "event_type")
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("bucket").asc, col("event_type").asc)
  }

  val eventsTumblingOracleSql: String =
    """SELECT CAST(floor(epoch(ts) / 600) AS BIGINT) AS bucket, event_type,
      |  count(*) AS n, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY bucket ASC, event_type ASC""".stripMargin

  /** Sliding (hopping) windows — Structured Streaming's
    * window(slide < duration) semantics in batch: 10-minute windows
    * hopping every 5, so every event lands in exactly TWO windows.
    * Uses the native `window()` function (one Expand + aggregate pass,
    * the same physical shape streaming uses); the window start is
    * emitted as epoch seconds so the value is engine-independent.
    * Oracle mirror: each event's two containing window starts are
    * (s div 300)·300 and that minus 300, unnested. */
  def eventsSliding(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val tsec = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000000000")
      case _ => unix_timestamp(col("ts"))
    }
    ev.withColumn("tsec", tsec.cast("long").cast("timestamp"))
      .groupBy(window(col("tsec"), "10 minutes", "5 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("window.start").cast("long").as("wstart"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("wstart").asc, col("event_type").asc)
  }

  val eventsSlidingOracleSql: String =
    """WITH e AS (
      |  SELECT CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS s,
      |    event_type, value
      |  FROM events
      |), w AS (
      |  SELECT unnest([(s // 300) * 300, (s // 300) * 300 - 300])
      |      AS wstart,
      |    event_type, value
      |  FROM e
      |)
      |SELECT wstart, event_type, count(*) AS n,
      |  round(sum(value), 4) AS sum_value
      |FROM w GROUP BY wstart, event_type
      |ORDER BY wstart ASC, event_type ASC""".stripMargin

  /** PIVOT: order counts with priorities as columns — the
    * wide-reshape operator every BI layer needs. The value list is
    * EXPLICIT (the TPC-H priority domain): with known values Spark
    * skips the extra distinct-collection job and the pivot compiles to
    * ONE partial-aggregate pass, exactly like a manual CASE fan-out.
    * Columns are re-aliased to identifier-safe names, mirrored in the
    * oracle's conditional aggregates. */
  def pivotSummary(spark: SparkSession, dir: String): DataFrame = {
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW")
    val safe = Seq("p1_urgent", "p2_high", "p3_medium", "p4_none", "p5_low")
    Tables.orders(spark, dir)
      .groupBy("o_orderstatus")
      .pivot("o_orderpriority", priorities)
      .agg(count(lit(1)))
      .select(col("o_orderstatus") +:
        priorities.zip(safe).map { case (p, s) =>
          coalesce(col(s"`$p`"), lit(0L)).as(s)
        }: _*)
      .orderBy(col("o_orderstatus").asc)
  }

  val pivotOracleSql: String =
    """SELECT o_orderstatus,
      |  CAST(count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS BIGINT) AS p1_urgent,
      |  CAST(count(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS BIGINT) AS p2_high,
      |  CAST(count(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS BIGINT) AS p3_medium,
      |  CAST(count(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS BIGINT) AS p4_none,
      |  CAST(count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS BIGINT) AS p5_low
      |FROM orders GROUP BY o_orderstatus
      |ORDER BY o_orderstatus ASC""".stripMargin

  /** UNPIVOT/melt — the reshape inverse of [[pivotSummary]]: the wide
    * per-priority count columns fold back into (status, slot, n) rows
    * via the native `Dataset.unpivot` (Spark's melt, one scan-local
    * projection — a Generate, never a join or shuffle). Zero cells
    * survive the round-trip because the pivot coalesces absent
    * combinations to 0 — the melt is lossless on the full
    * status×priority grid. */
  def unpivotSummary(spark: SparkSession, dir: String): DataFrame = {
    val slots = Seq("p1_urgent", "p2_high", "p3_medium", "p4_none",
      "p5_low")
    pivotSummary(spark, dir)
      .unpivot(Array(col("o_orderstatus")), slots.map(col).toArray,
        "slot", "n")
      .orderBy(col("o_orderstatus").asc, col("slot").asc)
  }

  val unpivotOracleSql: String = {
    val slots = Seq("p1_urgent", "p2_high", "p3_medium", "p4_none",
      "p5_low")
    val arms = slots.map(s =>
      s"SELECT o_orderstatus, '$s' AS slot, $s AS n FROM p")
      .mkString("\n|", "\n|UNION ALL\n|", "\n|")
    s"""WITH p AS MATERIALIZED (
       |${pivotOracleSql.replace("ORDER BY o_orderstatus ASC", "")}
       |)$arms
       |ORDER BY o_orderstatus ASC, slot ASC""".stripMargin
  }

  /** Gap-based sessionization — the batch analog of the streaming
    * sessionizer (EventStreams.scala's flatMapGroupsWithState path,
    * SURVEY §2.8): a new session starts when a user's inter-event gap
    * exceeds `gapSec`. Classic lag → flag → running-sum session ids,
    * then per-session aggregates. ONE data shuffle: the window
    * partitioning on user_id also satisfies the groupBy's clustering
    * (user_id is a prefix of the grouping keys), so Catalyst inserts no
    * second hash exchange — plan-verified: the only other exchange is
    * the deterministic output sort's range partitioning.
    * Integer-nanosecond arithmetic throughout (`div`,
    * never double division — 1.7e18-scale nanos lose precision as
    * doubles). Deterministic: event_id tiebreak in every window.
    *
    * Side effect: the report reads the persisted session assignment
    * `graft_sess_<gapSec>_<fingerprint>` ([[EventMining.ensureSessionTable]])
    * and builds it on first use, so every distinct `gapSec` leaves one
    * warehouse table per corpus generation, never dropped. Pass the
    * canonical analytics gap; sweep ad-hoc gaps inline through
    * [[EventMining.sessionAssign]] instead.
    */
  def eventSessions(spark: SparkSession, dir: String,
      gapSec: Long): DataFrame = {
    // r19 (verdict #7): the session REPORT aggregates from the same
    // persisted per-(corpus generation, gap) assignment the EventMining
    // consumers probe (graft_sess_<gap>_<fp>, row-identical to the
    // inline lag→flag→cumsum chain — EventMiningSpec) instead of
    // re-running its own corpus-wide window pass per query. The
    // bucketed-by-user_id scan already satisfies the groupBy's
    // clustering (user_id is a prefix of the grouping keys), so the
    // only exchange left is the deterministic output sort.
    val sessioned =
      spark.table(EventMining.ensureSessionTable(spark, dir, gapSec))
    sessioned
      .groupBy("user_id", "session_seq")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("tsec")).as("start_sec"),
        max(col("tsec")).as("end_sec"),
        (max(col("tsec")) - min(col("tsec"))).as("dur_sec"))
      .orderBy(col("user_id").asc, col("session_seq").asc)
  }

  /** Bounded-frame rolling statistics per user — the window-FRAME shape
    * the running stats above don't cover (they use an unbounded
    * prefix): a 10-event trailing window of the value stream, the
    * moving-average primitive of monitoring/feature pipelines.
    *
    * Scale shape: one shuffle keyed by user_id (the window partition);
    * the bounded frame is O(frame) memory per row in both engines. The
    * deterministic (tsec, event_id) order pins frame CONTENTS across
    * engines, but not the accumulation ORDER of the double avg —
    * DuckDB evaluates sliding frames via a segment tree (tree-order
    * sums), Spark in frame order. The round(..., 6) is what actually
    * absorbs that ~1e-12 order noise; a value within ~1e-12 of a
    * rounding boundary could still flip, so any future frame operator
    * needing a hard gate should sum in scaled-integer nano-units (the
    * q10/unigram-NLL pattern) instead of relying on frame order. */
  def rollingUserStats(spark: SparkSession, dir: String,
      frame: Int): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("tsec").asc, col("event_id").asc)
      .rowsBetween(-(frame - 1), Window.currentRow)
    eventsWithTsec(spark, dir)
      .select(col("user_id"), col("event_id"), col("tsec"), col("value"),
        count(lit(1)).over(w).as("roll_n"),
        round(avg(col("value")).over(w), 6).as("roll_avg"),
        round(max(col("value")).over(w), 2).as("roll_max"))
      .orderBy(col("user_id").asc, col("tsec").asc, col("event_id").asc)
  }

  def rollingUserStatsOracleSql(frame: Int): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS tsec,
       |    value
       |  FROM events
       |)
       |SELECT user_id, event_id, tsec, value,
       |  count(*) OVER w AS roll_n,
       |  round(avg(value) OVER w, 6) AS roll_avg,
       |  round(max(value) OVER w, 2) AS roll_max
       |FROM e
       |WINDOW w AS (PARTITION BY user_id ORDER BY tsec ASC, event_id ASC
       |             ROWS BETWEEN ${frame - 1} PRECEDING AND CURRENT ROW)
       |ORDER BY user_id ASC, tsec ASC, event_id ASC""".stripMargin

  /** NTILE decile summary of customers by account balance — the ranked-
    * bucketing window shape (equal-count buckets, vs the equal-WIDTH
    * buckets of Sketches.valueHistogram). NOTE the global ORDER BY
    * window is a single-reducer construct: at 100 TB the same deciles
    * come from approx_percentile boundary computation + a scan-local
    * bucket assignment (the events_quantiles pattern); ntile is the
    * exact fixture-scale formulation the oracle can mirror. */
  def customerDeciles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_acctbal"),
        ntile(10).over(w).cast("long").as("decile"))
      .groupBy("decile")
      .agg(
        count(lit(1)).as("n"),
        round(min(col("c_acctbal")), 2).as("min_bal"),
        round(max(col("c_acctbal")), 2).as("max_bal"),
        round(avg(col("c_acctbal")), 4).as("avg_bal"))
      .orderBy(col("decile").asc)
  }

  val customerDecilesOracleSql: String =
    """WITH d AS (
      |  SELECT c_custkey, c_acctbal,
      |    ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey ASC)
      |      AS decile
      |  FROM customer
      |)
      |SELECT decile, count(*) AS n,
      |  round(min(c_acctbal), 2) AS min_bal,
      |  round(max(c_acctbal), 2) AS max_bal,
      |  round(avg(c_acctbal), 4) AS avg_bal
      |FROM d GROUP BY decile ORDER BY decile ASC""".stripMargin

  /** The 100 TB decile formulation: the EXACT global rank computed
    * without any global-order window, then `decile = (rank-1)*10 div N
    * + 1` (equal-count rank buckets; identical to ntile(10) whenever
    * 10 divides N, and equal-count ±1 always — our oracled semantics).
    *
    * Rank at scale is the prefix-sum trick specialized to counting:
    * quantile boundaries over the sort value — collected once as plan
    * literals, so every branch buckets rows identically and boundary
    * precision only skews bucket SIZES, never the rank — then
    * rank = (count of rows in strictly-higher buckets, the tiny
    * per-bucket offset prefix) + (row_number within the bucket). Rows
    * with equal balance always share a bucket (they compare equally
    * against every literal), so the custkey tiebreak stays inside one
    * bucket window and the composite global order is exact. No
    * row-level data ever converges on one reducer; N rides along as a
    * broadcast 1-row aggregate, not a driver action. */
  def customerDecilesScale(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_acctbal"))
    // bucket boundaries memoized per corpus generation (the
    // ScaleOps.prefixBounds discipline, r18): ANY boundary set is
    // correct — it only skews bucket sizes, the global rank falls out
    // of bucket-local row_number + offsets either way — so steady-state
    // re-invocations skip the approxQuantile driver action
    val bounds = ScaleOps.prefixBounds(cust,
      ScaleOps.contentHash(dir, "customer"), "c_acctbal", 10)
    val pid = bounds.distinct.sorted.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col("c_acctbal") > lit(b), 1).otherwise(0)
    }
    val bucketed = cust.withColumn("_pid", pid)
    val localW = Window.partitionBy("_pid")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    val withLocal = bucketed
      .withColumn("_lrn", row_number().over(localW).cast("long"))
    // global order is balance DESC ⇒ a bucket's offset is the count of
    // rows in HIGHER-value buckets; bounded frame (≤10 rows), with the
    // non-foldable constant partition key (see ScaleOps.prefixSummed)
    val offsets = bucketed.groupBy("_pid")
      .agg(count(lit(1)).as("_cnt"))
      .withColumn("_off",
        coalesce(sum(col("_cnt")).over(
          Window.partitionBy(least(col("_pid"), lit(0)))
            .orderBy(col("_pid").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("_pid", "_off")
    val total = cust.groupBy().agg(count(lit(1)).as("_n"))
    withLocal.join(broadcast(offsets), "_pid")
      .crossJoin(broadcast(total))
      .withColumn("rnk", col("_off") + col("_lrn"))
      .select(col("c_acctbal"),
        expr("((rnk - 1) * 10) div _n + 1").as("decile"))
      .groupBy("decile")
      .agg(
        count(lit(1)).as("n"),
        round(min(col("c_acctbal")), 2).as("min_bal"),
        round(max(col("c_acctbal")), 2).as("max_bal"),
        round(avg(col("c_acctbal")), 4).as("avg_bal"))
      .orderBy(col("decile").asc)
  }

  val customerDecilesScaleOracleSql: String =
    """WITH r AS (
      |  SELECT c_custkey, c_acctbal,
      |    row_number() OVER (ORDER BY c_acctbal DESC, c_custkey ASC)
      |      AS rnk,
      |    count(*) OVER () AS nn
      |  FROM customer
      |), d AS (
      |  SELECT c_acctbal,
      |    CAST((rnk - 1) * 10 // nn AS BIGINT) + 1 AS decile
      |  FROM r
      |)
      |SELECT decile, count(*) AS n,
      |  round(min(c_acctbal), 2) AS min_bal,
      |  round(max(c_acctbal), 2) AS max_bal,
      |  round(avg(c_acctbal), 4) AS avg_bal
      |FROM d GROUP BY decile ORDER BY decile ASC""".stripMargin

  /** TPC-H Q7 shape (volume shipping between two nations): both
    * supplier-side and customer-side nation lookups are broadcast
    * dim joins, pre-FILTERED to the two nations of interest before the
    * broadcast — the fact scan then semi-probes two tiny hash tables
    * and only surviving rows reach the one real shuffle
    * (lineitem⋈orders on orderkey; at 100 TB both sides bucketed by
    * orderkey make it exchange-free). The disjunctive nation-pair
    * predicate runs AFTER both joins, on two broadcast-resolved
    * string columns — no join explosion. */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val (n1, n2) = ("NATION_1", "NATION_2")
    val natPair = Tables.nation(spark, dir)
      .filter(col("n_name").isin(n1, n2))
    val supN = Tables.supplier(spark, dir)
      .select("s_suppkey", "s_nationkey")
      .join(broadcast(natPair.select(col("n_nationkey"),
        col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "supp_nation")
    val custN = Tables.customer(spark, dir)
      .select("c_custkey", "c_nationkey")
      .join(broadcast(natPair.select(col("n_nationkey"),
        col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "cust_nation")
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
        "l_shipdate")
      .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custN), col("o_custkey") === col("c_custkey"))
      .filter(
        (col("supp_nation") === n1 && col("cust_nation") === n2) ||
        (col("supp_nation") === n2 && col("cust_nation") === n1))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(
        // per-row decimal conversion before the sum (the q10 form):
        // decimal addition is exact and order-independent — the plain
        // double sum landed one cent apart between engines at sf1
        round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("supp_nation").asc, col("cust_nation").asc,
        col("l_year").asc)
  }

  val q7OracleSql: String =
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |  year(l_shipdate) AS l_year,
      |  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount)
      |    AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |JOIN nation sn ON sn.n_nationkey = s_nationkey
      |JOIN nation cn ON cn.n_nationkey = c_nationkey
      |WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
      |   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
      |GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
      |ORDER BY supp_nation ASC, cust_nation ASC, l_year ASC""".stripMargin

  /** TPC-H Q10 shape (returned-item revenue): a 3-month orders slice
    * joins returned lineitems, then customer + nation dims resolve
    * names. The orders slice is NOT broadcast — a quarter of all orders
    * at 100 TB is far past broadcast size, so the plan keeps the honest
    * orderkey shuffle (AQE is free to downgrade it to broadcast at
    * fixture scale). The top-20 is TakeOrderedAndProject — per-partition
    * heaps, no full sort. */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === lit("R"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val cust = Tables.customer(spark, dir)
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val nat = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      // per-row decimal conversion before the sum: decimal addition is
      // exact and order-independent, so the aggregate can't land on a
      // rounding boundary differently per engine (double sums did)
      .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,6)")), 2).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  val q10OracleSql: String =
    """SELECT c_custkey, c_name, c_acctbal, n_name,
      |  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount)
      |    AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |JOIN nation ON n_nationkey = c_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin

  /** TPC-H Q18 shape (large-volume orders): aggregate lineitem to order
    * grain FIRST (one partial-agg shuffle on orderkey), filter to the
    * rare heavy orders, and only then join orders/customer — the join
    * input is the filtered order-grain set, not the line-grain fact.
    * At 100 TB this pre-aggregation is the difference between joining
    * billions of lines and joining the handful of qualifying orders. */
  def q18LargeOrders(spark: SparkSession, dir: String,
      minQty: Double = 300.0): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
      .filter(col("sum_qty") > lit(minQty))
    big
      .join(Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)
        .select("c_custkey", "c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
  }

  def q18OracleSql(minQty: Double): String =
    s"""WITH big AS (
       |  SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
       |  FROM lineitem GROUP BY l_orderkey
       |  HAVING round(sum(l_quantity), 2) > $minQty
       |)
       |SELECT c_name, c_custkey, o_orderkey,
       |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       |  o_totalprice, sum_qty
       |FROM big
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN customer ON c_custkey = o_custkey
       |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin

  /** TPC-H Q15 shape (top supplier): argmax over an aggregate — the
    * revenue-per-supplier aggregate joins against its own one-row MAX
    * (a broadcast single-row cross join, the scalar-subquery
    * decorrelation), keeping every supplier tied at the maximum.
    * Decimal revenue makes the equality test engine-exact — comparing
    * double sums for equality would be a correctness bug. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,6)")).as("total_rev"))
    val mx = rev.agg(max(col("total_rev")).as("mx"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_rev") === col("mx"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("total_rev"), 2).cast("double").as("total_rev"))
      .orderBy(col("s_suppkey").asc)
  }

  val q15OracleSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    sum(CAST(l_extendedprice * (1.0 - l_discount)
      |      AS DECIMAL(18,6))) AS total_rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey
      |), m AS (SELECT max(total_rev) AS mx FROM rev)
      |SELECT s_suppkey, s_name,
      |  CAST(round(total_rev, 2) AS DOUBLE) AS total_rev
      |FROM rev JOIN supplier ON s_suppkey = l_suppkey, m
      |WHERE total_rev = mx
      |ORDER BY s_suppkey ASC""".stripMargin

  /** TPC-H Q17 shape (small-quantity revenue): the correlated
    * "l_quantity < 0.2 · avg(quantity of this part)" subquery
    * DECORRELATED into a per-part aggregate joined back to the fact —
    * the rewrite every optimizer applies, expressed directly. The
    * per-part average is exact across engines because l_quantity is
    * integer-valued (order-independent double sum), so the strict
    * threshold comparison cannot straddle engines. Brand-filtered
    * parts broadcast into both the aggregate and the final probe. */
  def q17SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
      .filter(col("p_brand") === lit("Brand#1"))
      .select("p_partkey")
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .select("l_partkey", "l_quantity", "l_extendedprice")
    val avgQty = li.groupBy("l_partkey")
      .agg(avg(col("l_quantity")).as("avg_qty"))
      .withColumnRenamed("l_partkey", "a_partkey")
    li.join(broadcast(avgQty), col("l_partkey") === col("a_partkey"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(
        count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice").cast("decimal(18,6)")), 2)
          .cast("double").as("small_qty_revenue"))
  }

  val q17OracleSql: String =
    """WITH p AS (
      |  SELECT p_partkey FROM part WHERE p_brand = 'Brand#1'
      |), li AS (
      |  SELECT l_partkey, l_quantity, l_extendedprice
      |  FROM lineitem JOIN p ON p_partkey = l_partkey
      |), a AS (
      |  SELECT l_partkey AS a_partkey, avg(l_quantity) AS avg_qty
      |  FROM li GROUP BY l_partkey
      |)
      |SELECT count(*) AS n_lines,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2)
      |    AS DOUBLE) AS small_qty_revenue
      |FROM li JOIN a ON a_partkey = l_partkey
      |WHERE l_quantity < 0.2 * avg_qty""".stripMargin

  /** TPC-H Q22 shape (prospective customers): a scalar subquery (the
    * positive-balance average, one broadcast row; exact across engines
    * because the sum runs in decimal) gates customers, an ANTI-join
    * against the recent-orders slice removes active ones, and the
    * survivors aggregate per segment. The reference fixture has no
    * order-less customers, so "recent" (post-2000) stands in for
    * TPC-H's "no orders at all" — same plan shape. */
  def q22Prospects(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val thresh = cust.filter(col("c_acctbal") > lit(0.0))
      .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("avg_bal"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select("o_custkey")
    cust.crossJoin(broadcast(thresh))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal").cast("decimal(18,2)")), 2)
          .cast("double").as("total_bal"))
      .orderBy(col("c_mktsegment").asc)
  }

  val q22OracleSql: String =
    """WITH t AS (
      |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
      |    / count(*) AS avg_bal
      |  FROM customer WHERE c_acctbal > 0.0
      |), recent AS (
      |  SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      |)
      |SELECT c_mktsegment, count(*) AS n_customers,
      |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
      |    AS total_bal
      |FROM customer c, t
      |WHERE c_acctbal > avg_bal
      |  AND NOT EXISTS (SELECT 1 FROM recent r
      |                  WHERE r.o_custkey = c.c_custkey)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment ASC""".stripMargin

  /** TPC-H Q21 shape (suppliers who kept waiting orders): the
    * hardest-plan TPC-H query — a SEMI self-join (the order had at
    * least one OTHER supplier) and an ANTI self-join (no OTHER supplier
    * also flagged) over the same fact table, then a per-supplier tally.
    * The fixture carries no commit/receipt dates, so `l_returnflag='R'`
    * stands in for "late" — identical join topology, numwait semantics.
    *
    * Scale shape: both self-joins key on l_orderkey — the SAME shuffle
    * partitioning, so the plan reuses one exchange of the distinct
    * (order, supplier) pairs for semi and anti sides; supplier/nation
    * are broadcast dims over the final |suppliers|-sized tally. */
  def q21SoleBlame(spark: SparkSession, dir: String): DataFrame = {
    val fOrders = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === lit("F"))
      .select("o_orderkey")
    // ONE per-order aggregate replaces the distinct + semi/anti
    // self-join pair (r17): a flagged (order, supplier) survives the
    // SEMI iff its order has ≥2 distinct suppliers (the pair's own
    // supplier is always in the all-set, so "∃ another" ⟺ count ≥ 2)
    // and survives the ANTI iff the order has exactly ONE distinct
    // flagged supplier — which is then max(when(flagged, suppkey)).
    // The whole sole-blame set falls out of a single l_orderkey-keyed
    // aggregation: one exchange of the filtered fact table instead of
    // a distinct plus two order-keyed self-joins (set-identical
    // output; the oracle's EXISTS/NOT-EXISTS form is unchanged).
    // pair grain first (one map-side-combined shuffle of the filtered
    // fact table, no multi-distinct Expand doubling the exchange), then
    // the per-order tally over the already-tiny distinct-pair frame
    val perPair = Tables.lineitem(spark, dir)
      .join(fOrders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("l_returnflag") === lit("R")).as("flg"))
    val perOrder = perPair
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("n_all"),
        sum(col("flg").cast("int")).as("n_flagged"),
        max(when(col("flg"), col("l_suppkey"))).as("l_suppkey"))
    perOrder
      .filter(col("n_all") >= 2 && col("n_flagged") === 1)
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select("s_suppkey", "s_name", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), col("n_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc,
        col("n_name").asc)
      .limit(20)
  }

  val q21OracleSql: String =
    """WITH f AS (
      |  SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
      |), pairs AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey, l_suppkey, l_returnflag = 'R' AS flg
      |  FROM lineitem JOIN f ON o_orderkey = l_orderkey
      |), allp AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey, l_suppkey FROM pairs
      |), flagged AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey, l_suppkey FROM pairs WHERE flg
      |)
      |SELECT s_name, n_name, count(*) AS numwait
      |FROM flagged l
      |JOIN supplier ON s_suppkey = l.l_suppkey
      |JOIN nation ON n_nationkey = s_nationkey
      |WHERE EXISTS (SELECT 1 FROM allp a
      |              WHERE a.l_orderkey = l.l_orderkey
      |                AND a.l_suppkey <> l.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM flagged g
      |                  WHERE g.l_orderkey = l.l_orderkey
      |                    AND g.l_suppkey <> l.l_suppkey)
      |-- supplier-KEY grain: s_name is non-unique at sf1 (ScaleUp
      |-- copies repeat names), and the engine groups by suppkey
      |GROUP BY s_suppkey, s_name, n_name
      |ORDER BY numwait DESC, s_name ASC, n_name ASC LIMIT 20""".stripMargin

  /** TPC-H Q11 shape (important stock): per-group value sums gated by a
    * HAVING against a fraction of the GLOBAL total — the global scalar
    * rides back as a 1-row broadcast over the per-supplier aggregate
    * (allowlisted; the TPC-H plan's scalar subquery). Decimal sums on
    * both engines make the threshold comparison exact. */
  /** `margin` is the above-average multiplier (TPC-H parameterizes the
    * fraction by 1/SF for the same reason — a fixed fraction goes
    * vacuous or empty as supplier count scales; anchoring on the mean
    * share keeps the HAVING selective at every sf). */
  def q11ImportantSuppliers(spark: SparkSession, dir: String,
      margin: Double): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"),
        col("l_extendedprice").cast("decimal(18,6)").as("v"))
    val total = li.agg(
      (sum(col("v")).cast("double") /
        countDistinct(col("l_suppkey"))).as("mean_v"))
    li.groupBy("l_suppkey")
      .agg(sum(col("v")).as("supp_v"))
      .crossJoin(broadcast(total))
      .filter(col("supp_v").cast("double") > lit(margin) * col("mean_v"))
      .select(col("l_suppkey"),
        round(col("supp_v"), 2).cast("double").as("value"))
      .orderBy(col("value").desc, col("l_suppkey").asc)
  }

  def q11OracleSql(margin: Double): String =
    s"""WITH li AS (
       |  SELECT l_suppkey, CAST(l_extendedprice AS DECIMAL(18,6)) AS v
       |  FROM lineitem
       |), t AS (
       |  SELECT CAST(sum(v) AS DOUBLE) / count(DISTINCT l_suppkey)
       |    AS mean_v
       |  FROM li
       |)
       |SELECT l_suppkey,
       |  CAST(round(sum(v), 2) AS DOUBLE) AS value
       |FROM li, t
       |GROUP BY l_suppkey, t.mean_v
       |HAVING CAST(sum(v) AS DOUBLE) > $margin * t.mean_v
       |ORDER BY value DESC, l_suppkey ASC""".stripMargin

  /** String aggregation (LISTAGG / string_agg): the sorted roll-up of a
    * group's member list into one delimited string — the "show me the
    * sources per language" report cell. Deterministic by construction:
    * the set is sorted before joining, so engine accumulation order
    * cannot leak into the result. */
  def sourcesPerLang(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(collect_set(col("source")).as("srcs"))
      .select(col("lang"),
        size(col("srcs")).cast("long").as("n_sources"),
        array_join(array_sort(col("srcs")), ",").as("source_csv"))
      .orderBy(col("lang").asc)

  val sourcesPerLangOracleSql: String =
    """SELECT lang, count(DISTINCT source) AS n_sources,
      |  string_agg(DISTINCT source, ',' ORDER BY source) AS source_csv
      |FROM documents GROUP BY lang ORDER BY lang ASC""".stripMargin

  /** Price-dispersion audit: the parts whose observed line prices vary
    * most (coefficient of variation = σ/μ) — the pricing-consistency
    * check a procurement/catalog pipeline runs. 2-dp prices scale by
    * 100 into EXACT integer power sums (the fixed-point discipline),
    * so both engines derive CV from identical integers and the
    * ordering cannot tie-break differently; one part-keyed combinable
    * reduce + TakeOrderedAndProject. */
  def partPriceCv(spark: SparkSession, dir: String, k: Int): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        round(col("l_extendedprice") * 100).cast("long").as("c"))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("ss"))
      .filter(col("n") >= 5)
      .select(col("l_partkey"), col("n"),
        round(col("s") / col("n") / lit(100.0), 4).as("mean_price"),
        // cast to double BEFORE forming n·ss − s², mirrored in the
        // oracle: per-part line counts grow with sf, and the BIGINT
        // products exceed Int64 headroom at large scale (ANSI Spark
        // throws, DuckDB range-errors); identical IEEE double ops on
        // both engines keep the hash gate exact
        round(sqrt(col("n").cast("double") * col("ss") -
          col("s").cast("double") * col("s")) / col("s"), 6).as("cv"))
      .orderBy(col("cv").desc, col("l_partkey").asc)
      .limit(k)

  def partPriceCvOracleSql(k: Int): String =
    s"""WITH c AS (
       |  SELECT l_partkey,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS c
       |  FROM lineitem
       |), g AS (
       |  SELECT l_partkey, count(*) AS n,
       |    CAST(sum(c) AS BIGINT) AS s,
       |    CAST(sum(c * c) AS BIGINT) AS ss
       |  FROM c GROUP BY 1
       |)
       |SELECT l_partkey, n,
       |  round(CAST(s AS DOUBLE) / n / 100.0, 4) AS mean_price,
       |  round(sqrt(CAST(n AS DOUBLE) * ss - CAST(s AS DOUBLE) * s)
       |        / s, 6) AS cv
       |FROM g WHERE n >= 5
       |ORDER BY cv DESC, l_partkey ASC LIMIT $k""".stripMargin

  /** Monthly order series with year-over-year growth — the calendar
    * reporting surface (every finance dashboard's first page). YoY
    * joins each month to `ym − 100` EXPLICITLY (exact integer key
    * arithmetic) instead of lag(12) over an assumed-dense axis — a
    * missing month misaligns a positional lag silently, the equi-join
    * just yields NULL growth. Month frames are calendar-bounded, so
    * everything after the one fact reduce is broadcast-sized. */
  def monthlyOrders(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .select(
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("ym"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      .groupBy("ym")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("price")).as("rev"))
    val prev = monthly.select((col("ym") + 100).as("ym"),
      col("n_orders").as("n_prev"))
    monthly.join(broadcast(prev), Seq("ym"), "left")
      .select(col("ym"), col("n_orders"),
        round(col("rev"), 2).cast("double").as("revenue"),
        round((col("n_orders") - col("n_prev")) /
          col("n_prev").cast("double"), 6).as("yoy_growth"))
      .orderBy(col("ym").asc)
  }

  val monthlyOrdersOracleSql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
      |    AS BIGINT) AS ym,
      |    count(*) AS n_orders,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1
      |)
      |SELECT m.ym, m.n_orders,
      |  CAST(round(m.rev, 2) AS DOUBLE) AS revenue,
      |  round((m.n_orders - p.n_orders) /
      |    CAST(p.n_orders AS DOUBLE), 6) AS yoy_growth
      |FROM m LEFT JOIN m p ON p.ym = m.ym - 100
      |ORDER BY m.ym ASC""".stripMargin

  /** TPC-H Q2 shape (minimum-cost supplier): the correlated-MIN
    * subquery — for each part of one brand, the supplier(s) whose
    * average observed price equals that part's minimum. The fixture
    * has no partsupp, so "offers the part at" = lineitem's per-(part,
    * supplier) MINIMUM observed price — a raw stored double, no
    * arithmetic, so the equality join is engine-exact (an average
    * would acquire engine-specific division scale/rounding). Same plan
    * topology as Q2: per-group aggregate → per-part min re-reduce →
    * equality join back. */
  def q2MinPriceSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
      .filter(col("p_brand") === lit("Brand#2"))
      .select("p_partkey", "p_name")
    val perPS = Tables.lineitem(spark, dir)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy("p_partkey", "p_name", "l_suppkey")
      .agg(min(col("l_extendedprice")).as("offer_price"))
    val minP = perPS.groupBy(col("p_partkey").as("m_partkey"))
      .agg(min(col("offer_price")).as("min_price"))
    perPS
      .join(minP, col("p_partkey") === col("m_partkey") &&
        col("offer_price") === col("min_price"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("p_name"), col("s_name"),
        round(col("offer_price"), 2).as("best_price"))
      .orderBy(col("p_partkey").asc, col("s_name").asc)
  }

  val q2OracleSql: String =
    """WITH perps AS MATERIALIZED (
      |  SELECT p_partkey, p_name, l_suppkey,
      |    min(l_extendedprice) AS offer_price
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE p_brand = 'Brand#2'
      |  GROUP BY 1, 2, 3
      |), minp AS (
      |  SELECT p_partkey AS m_partkey, min(offer_price) AS min_price
      |  FROM perps GROUP BY 1
      |)
      |SELECT p_partkey, p_name, s_name,
      |  round(offer_price, 2) AS best_price
      |FROM perps
      |JOIN minp ON m_partkey = p_partkey AND offer_price = min_price
      |JOIN supplier ON s_suppkey = l_suppkey
      |ORDER BY p_partkey ASC, s_name ASC""".stripMargin

  /** Pareto (80/20) concentration curve over supplier revenue: rank
    * suppliers by decimal-exact revenue, attach the cumulative share,
    * and flag the 80% frontier — [[revenueShareByNation]]'s ordered
    * sibling and the "how concentrated is supply" diagnostic. The
    * ordered prefix sum runs over the SUPPLIER-bounded frame after the
    * fact-table reduce (bounded global window, allowlisted — the
    * win_ntile contrast documents why corpus-side ntile is banned);
    * cumulative sums stay in decimal so the share division is the only
    * fp op. */
  def paretoSuppliers(spark: SparkSession, dir: String,
      k: Int): DataFrame = {
    val per = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"),
        col("l_extendedprice").cast("decimal(18,6)").as("v"))
      .groupBy("l_suppkey")
      .agg(sum(col("v")).as("rev"))
    val total = per.agg(sum(col("rev")).as("total_rev"))
    val w = Window.orderBy(col("rev").desc, col("l_suppkey").asc)
    per.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_share",
        round((sum(col("rev")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double")) / col("total_rev").cast("double"), 6))
      .filter(col("rank") <= k)
      .select(col("rank").cast("long").as("rank"), col("l_suppkey"),
        round(col("rev"), 2).cast("double").as("revenue"),
        col("cum_share"),
        (col("cum_share") >= 0.8).cast("long").as("past_80"))
      .orderBy(col("rank").asc)
  }

  def paretoOracleSql(k: Int): String =
    s"""WITH per AS (
       |  SELECT l_suppkey,
       |    sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS rev
       |  FROM lineitem GROUP BY 1
       |), t AS (SELECT sum(rev) AS total_rev FROM per),
       |r AS (
       |  SELECT l_suppkey, rev, total_rev,
       |    row_number() OVER (ORDER BY rev DESC, l_suppkey ASC) AS rank,
       |    CAST(sum(rev) OVER (ORDER BY rev DESC, l_suppkey ASC
       |      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum
       |  FROM per, t
       |)
       |SELECT CAST(rank AS BIGINT) AS rank, l_suppkey,
       |  CAST(round(rev, 2) AS DOUBLE) AS revenue,
       |  round(cum / CAST(total_rev AS DOUBLE), 6) AS cum_share,
       |  CAST(round(cum / CAST(total_rev AS DOUBLE), 6) >= 0.8
       |    AS BIGINT) AS past_80
       |FROM r WHERE rank <= $k
       |ORDER BY rank ASC""".stripMargin

  /** RFM customer segmentation — the classic marketing-analytics cube:
    * per customer recency (days since last order vs the corpus
    * frontier), frequency (order count), monetary (decimal-exact spend),
    * each bucketed into quartiles by GLOBAL percentile boundaries, then
    * the segment histogram. Scale-safe quartiling: boundaries are ONE
    * 1-row percentile aggregate broadcast back over the per-customer
    * frame (never an ntile window over all customers — that's a global
    * sort; win_ntile documents that contrast), so the whole op is two
    * combinable reduces + one broadcast bucket pass. Both engines
    * derive boundaries from identical exact inputs, so bucket
    * comparisons agree everywhere including ties. */
  def customerRfm(spark: SparkSession, dir: String): DataFrame = {
    // cached: the per-customer aggregate feeds THREE consumers
    // (frontier, the bucket pass, and through rfm the boundary
    // aggregate) — uncached, the orders scan + groupBy subtree
    // re-evaluated once per consumer and the query paid 4 full job
    // chains of pure re-computation (the r15 job-floor weak list's
    // worst entry, 0.58 s for what DuckDB does in 33 ms)
    val perCust = CacheScope.cached(Tables.orders(spark, dir)
      .select(col("o_custkey"),
        unix_timestamp(col("o_orderdate")).as("osec"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      .groupBy("o_custkey")
      .agg(max(col("osec")).as("last_sec"),
        count(lit(1)).as("freq"),
        sum(col("price")).cast("double").as("monetary")))
    val frontier = perCust.agg(max(col("last_sec")).as("hi"))
    val rfm = CacheScope.cached(perCust.crossJoin(broadcast(frontier))
      .select(
        expr("(hi - last_sec) div 86400").as("recency"),
        col("freq"), col("monetary")))
    val bounds = rfm.agg(
      expr("percentile(recency, 0.25)").as("r1"),
      expr("percentile(recency, 0.5)").as("r2"),
      expr("percentile(recency, 0.75)").as("r3"),
      expr("percentile(freq, 0.25)").as("f1"),
      expr("percentile(freq, 0.5)").as("f2"),
      expr("percentile(freq, 0.75)").as("f3"),
      expr("percentile(monetary, 0.25)").as("m1"),
      expr("percentile(monetary, 0.5)").as("m2"),
      expr("percentile(monetary, 0.75)").as("m3"))
    def q(v: org.apache.spark.sql.Column, b1: String, b2: String,
        b3: String) =
      lit(1L) + (v > col(b1)).cast("long") + (v > col(b2)).cast("long") +
        (v > col(b3)).cast("long")
    rfm.crossJoin(broadcast(bounds))
      .select(
        q(col("recency").cast("double"), "r1", "r2", "r3").as("r_q"),
        q(col("freq").cast("double"), "f1", "f2", "f3").as("f_q"),
        q(col("monetary"), "m1", "m2", "m3").as("m_q"))
      .groupBy("r_q", "f_q", "m_q")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("r_q").asc, col("f_q").asc, col("m_q").asc)
  }

  val customerRfmOracleSql: String =
    """WITH pc AS MATERIALIZED (
      |  SELECT o_custkey,
      |    max(epoch(o_orderdate)) AS last_sec,
      |    count(*) AS freq,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |      AS monetary
      |  FROM orders GROUP BY 1
      |), f AS (SELECT max(last_sec) AS hi FROM pc),
      |rfm AS MATERIALIZED (
      |  SELECT (f.hi - pc.last_sec) // 86400 AS recency,
      |    pc.freq, pc.monetary
      |  FROM pc, f
      |), b AS (
      |  SELECT quantile_cont(recency, 0.25) AS r1,
      |    quantile_cont(recency, 0.5) AS r2,
      |    quantile_cont(recency, 0.75) AS r3,
      |    quantile_cont(freq, 0.25) AS f1,
      |    quantile_cont(freq, 0.5) AS f2,
      |    quantile_cont(freq, 0.75) AS f3,
      |    quantile_cont(monetary, 0.25) AS m1,
      |    quantile_cont(monetary, 0.5) AS m2,
      |    quantile_cont(monetary, 0.75) AS m3
      |  FROM rfm
      |)
      |SELECT
      |  1 + CAST(recency > r1 AS BIGINT) + CAST(recency > r2 AS BIGINT)
      |    + CAST(recency > r3 AS BIGINT) AS r_q,
      |  1 + CAST(freq > f1 AS BIGINT) + CAST(freq > f2 AS BIGINT)
      |    + CAST(freq > f3 AS BIGINT) AS f_q,
      |  1 + CAST(monetary > m1 AS BIGINT) + CAST(monetary > m2 AS BIGINT)
      |    + CAST(monetary > m3 AS BIGINT) AS m_q,
      |  count(*) AS n_customers
      |FROM rfm, b
      |GROUP BY 1, 2, 3
      |ORDER BY r_q ASC, f_q ASC, m_q ASC""".stripMargin

  /** TPC-H Q16 shape (supplier count per part attribute): a broadcast
    * dim filter with a NEGATED predicate, an ANTI-join against an
    * excluded-supplier list (the NOT IN subquery — here suppliers in
    * arrears, standing in for Q16's complaints LIKE), and a
    * count-DISTINCT per attribute pair. The fixture has no partsupp
    * table, so "supplies part" = "shipped it" via lineitem — same
    * topology. */
  def q16SupplierCount(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
      .filter(col("p_brand") =!= lit("Brand#1"))
      .select("p_partkey", "p_brand", "p_type")
    val excluded = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < lit(0.0)).select("s_suppkey")
    Tables.lineitem(spark, dir)
      .select("l_partkey", "l_suppkey")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .groupBy("p_brand", "p_type")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand").asc,
        col("p_type").asc)
  }

  val q16OracleSql: String =
    """SELECT p_brand, p_type,
      |  count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#1'
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
      |                        WHERE s_acctbal < 0.0)
      |GROUP BY p_brand, p_type
      |ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC""".stripMargin

  /** TPC-H Q20 shape (excess-stock suppliers): the nested-aggregate
    * half-of-total predicate — suppliers who shipped MORE THAN HALF of
    * some part's 1995 volume. Per-(part, supplier) quantity reduces
    * once; the per-part total RE-REDUCES those partials (no second
    * scan); the comparison stays exact because TPC-H quantities are
    * integer-valued (integer-exact double sums in any order). */
  def q20ExcessSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val li95 = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
      .select("l_partkey", "l_suppkey", "l_quantity")
    val perPS = li95.groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("l_quantity")).as("q_ps"))
    val perP = perPS.groupBy("l_partkey")
      .agg(sum(col("q_ps")).as("q_p"))
    perPS.join(perP, Seq("l_partkey"))
      .filter(col("q_ps") > lit(0.5) * col("q_p"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("q_ps")).as("qty_sum"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("n_parts"),
        col("qty_sum").cast("long").as("qty_long"))
      // qty_long tiebreak: ScaleUp duplicates s_name across copies at
      // sf1 (10k suppliers, 1k names), so (n_parts, s_name) alone
      // leaves non-identical rows order-ambiguous
      .orderBy(col("n_parts").desc, col("s_name").asc,
        col("qty_long").asc)
      .limit(25)
  }

  val q20OracleSql: String =
    """WITH li AS (
      |  SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
      |), ps AS MATERIALIZED (
      |  SELECT l_partkey, l_suppkey, sum(l_quantity) AS q_ps
      |  FROM li GROUP BY 1, 2
      |), p AS (
      |  SELECT l_partkey, sum(q_ps) AS q_p FROM ps GROUP BY 1
      |)
      |SELECT s_name, count(*) AS n_parts,
      |  CAST(sum(q_ps) AS BIGINT) AS qty_long
      |FROM ps JOIN p USING (l_partkey)
      |JOIN supplier ON s_suppkey = l_suppkey
      |WHERE q_ps > 0.5 * q_p
      |-- supplier-KEY grain: s_name is non-unique at sf1 (ScaleUp
      |-- copies repeat names), and the engine groups by suppkey
      |GROUP BY s_suppkey, s_name
      |ORDER BY n_parts DESC, s_name ASC, qty_long ASC LIMIT 25""".stripMargin

  /** TPC-H Q8 shape (national market share): one nation's share of the
    * line revenue inside one region's customer orders, per order year.
    * Both nation lookups are broadcast dims; the share is a conditional
    * aggregate over ONE joined pass (no per-nation re-scan). Decimal
    * volume sums make numerator and denominator engine-exact; the final
    * division of two exact sums is a single identical double op. */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val custRegion = Tables.customer(spark, dir)
      .select("c_custkey", "c_nationkey")
      .join(broadcast(Tables.nation(spark, dir)
        .select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)
        .filter(col("r_name") === lit("ASIA"))
        .select("r_regionkey")),
        col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey")
    val suppNation = Tables.supplier(spark, dir)
      .select("s_suppkey", "s_nationkey")
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey").as("sn_key"),
          col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select("s_suppkey", "supp_nation")
    val vol = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(18,6)")
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey",
        "o_orderdate"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custRegion), col("o_custkey") === col("c_custkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        round(
          sum(when(col("supp_nation") === lit("NATION_1"), vol)
            .otherwise(lit(0.0).cast("decimal(18,6)"))).cast("double") /
            sum(vol).cast("double"), 6).as("mkt_share"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_year").asc)
  }

  val q8OracleSql: String =
    """SELECT year(o_orderdate) AS o_year,
      |  round(
      |    CAST(sum(CASE WHEN sn.n_name = 'NATION_1'
      |      THEN CAST(l_extendedprice * (1.0 - l_discount)
      |        AS DECIMAL(18,6))
      |      ELSE CAST(0.0 AS DECIMAL(18,6)) END) AS DOUBLE) /
      |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
      |      AS DECIMAL(18,6))) AS DOUBLE), 6) AS mkt_share,
      |  count(*) AS n_lines
      |FROM lineitem
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |JOIN nation cn ON cn.n_nationkey = c_nationkey
      |JOIN region ON r_regionkey = cn.n_regionkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation sn ON sn.n_nationkey = s_nationkey
      |WHERE r_name = 'ASIA'
      |GROUP BY year(o_orderdate)
      |ORDER BY o_year ASC""".stripMargin

  /** TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    * join so order-less customers land in the zero bucket, aggregate
    * to customer grain, then re-aggregate the counts into the
    * distribution — two partial-agg shuffles whose second input is
    * customer-grain (small) and whose output is distinct-count-sized. */
  def q13CustomerDistribution(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select("c_custkey")
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  val q13OracleSql: String =
    """SELECT c_count, count(*) AS custdist
      |FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey
      |)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** percent_rank + cume_dist per market segment (windows partitioned
    * by segment — each reducer sees one segment, not the world): the
    * top-5 customers per segment with their in-segment percentile
    * standing. Integer rank arithmetic over doubles computed
    * identically per engine. */
  def segmentPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(spark, dir)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        row_number().over(w).cast("long").as("rn"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .filter(col("rn") <= 5)
      .orderBy(col("c_mktsegment").asc, col("rn").asc)
  }

  val segmentPercentilesOracleSql: String =
    """WITH r AS (
      |  SELECT c_mktsegment, c_custkey, c_acctbal,
      |    row_number() OVER w AS rn,
      |    round(percent_rank() OVER w, 6) AS pct_rank,
      |    round(cume_dist() OVER w, 6) AS cume
      |  FROM customer
      |  WINDOW w AS (PARTITION BY c_mktsegment
      |               ORDER BY c_acctbal DESC, c_custkey ASC)
      |)
      |SELECT c_mktsegment, c_custkey, c_acctbal, rn, pct_rank, cume
      |FROM r WHERE rn <= 5
      |ORDER BY c_mktsegment ASC, rn ASC""".stripMargin

  private[operators] def eventsWithTsec(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val tsec = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000000000")
      case _ => unix_timestamp(col("ts")).cast("long")
    }
    ev.withColumn("tsec", tsec)
  }

  /** Funnel conversion (view → click → purchase): how many users reach
    * each stage, where a stage counts only if it happens AFTER the
    * user's first occurrence of the previous stage — the sequential
    * funnel every product-analytics engine ships.
    *
    * Each stage is one type-filtered scan aggregated to user grain
    * (pushed-down filter + partial agg), then a broadcast-sized join to
    * the previous stage's first-times. User-grain frames shrink at
    * every stage, so at 100 TB the chain is one fact scan per stage
    * plus user-cardinality joins (co-partitioned on user_id if the
    * fact is bucketed by user). Integer-second arithmetic — exact. */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsWithTsec(spark, dir)
    def firstAfter(eventType: String, prev: DataFrame,
        prevCol: String, outCol: String): DataFrame =
      ev.filter(col("event_type") === lit(eventType))
        .join(prev, Seq("user_id"))
        .filter(col("tsec") > col(prevCol))
        .groupBy("user_id")
        .agg(min(col("tsec")).as(outCol))
    val v = ev.filter(col("event_type") === lit("view"))
      .groupBy("user_id").agg(min(col("tsec")).as("tv"))
    val c = firstAfter("click", v, "tv", "tc")
    val p = firstAfter("purchase", c, "tc", "tp")
    val stages = Seq(("1_view", v), ("2_click_after_view", c),
      ("3_purchase_after_click", p))
    stages.map { case (name, df) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(name).as("stage"), col("n_users"))
    }.reduce(_ unionAll _).orderBy(col("stage").asc)
  }

  val eventsFunnelOracleSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    epoch_ns(ts) // 1000000000 AS tsec
      |  FROM events
      |), v AS (
      |  SELECT user_id, min(tsec) AS tv FROM e
      |  WHERE event_type = 'view' GROUP BY user_id
      |), c AS (
      |  SELECT e.user_id, min(e.tsec) AS tc
      |  FROM e JOIN v ON v.user_id = e.user_id
      |  WHERE e.event_type = 'click' AND e.tsec > v.tv
      |  GROUP BY e.user_id
      |), p AS (
      |  SELECT e.user_id, min(e.tsec) AS tp
      |  FROM e JOIN c ON c.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND e.tsec > c.tc
      |  GROUP BY e.user_id
      |)
      |SELECT '1_view' AS stage, count(*) AS n_users FROM v
      |UNION ALL
      |SELECT '2_click_after_view', count(*) FROM c
      |UNION ALL
      |SELECT '3_purchase_after_click', count(*) FROM p
      |ORDER BY stage ASC""".stripMargin

  /** Cohort retention matrix: users grouped by first-seen week, with
    * the count still active N weeks later — the standard
    * cohort-retention triangle. Two user-grain aggregates (first-seen,
    * active-weeks) joined on user_id, then one partial agg to the
    * (cohort, week-offset) grain whose cardinality is weeks² no matter
    * the corpus size. Week arithmetic in integer epoch-seconds. */
  def eventsRetention(spark: SparkSession, dir: String): DataFrame = {
    val week = 604800L
    val ev = eventsWithTsec(spark, dir)
      .select(col("user_id"), expr(s"tsec div $week").as("wk"))
    val firstSeen = ev.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
    val active = ev.select("user_id", "wk").distinct()
    active.join(firstSeen, Seq("user_id"))
      .select(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset_wk"))
      .groupBy("cohort_wk", "offset_wk")
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_wk").asc, col("offset_wk").asc)
  }

  val eventsRetentionOracleSql: String =
    """WITH e AS (
      |  SELECT user_id,
      |    (epoch_ns(ts) // 1000000000) // 604800 AS wk
      |  FROM events
      |), f AS (
      |  SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY user_id
      |), a AS (
      |  SELECT DISTINCT user_id, wk FROM e
      |)
      |SELECT f.cohort_wk, a.wk - f.cohort_wk AS offset_wk,
      |  count(*) AS n_users
      |FROM a JOIN f ON f.user_id = a.user_id
      |GROUP BY f.cohort_wk, a.wk - f.cohort_wk
      |ORDER BY cohort_wk ASC, offset_wk ASC""".stripMargin

  def eventSessionsOracleSql(gapSec: Long): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id,
       |    epoch_ns(ts) // 1000000000 AS tsec
       |  FROM events
       |), l AS (
       |  SELECT user_id, event_id, tsec,
       |    lag(tsec) OVER (PARTITION BY user_id
       |                    ORDER BY tsec ASC, event_id ASC) AS prev
       |  FROM e
       |), f AS (
       |  SELECT user_id, event_id, tsec,
       |    CASE WHEN prev IS NULL OR tsec - prev > $gapSec
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM l
       |), s AS (
       |  SELECT user_id, tsec,
       |    CAST(sum(is_new) OVER (PARTITION BY user_id
       |      ORDER BY tsec ASC, event_id ASC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
       |  FROM f
       |)
       |SELECT user_id, session_seq, count(*) AS n_events,
       |  min(tsec) AS start_sec, max(tsec) AS end_sec,
       |  max(tsec) - min(tsec) AS dur_sec
       |FROM s GROUP BY user_id, session_seq
       |ORDER BY user_id ASC, session_seq ASC""".stripMargin
}
