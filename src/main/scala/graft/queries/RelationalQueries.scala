package graft.queries

import graft.sources.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational-core anchors (SURVEY.md §2.2/2.3/2.4): grouped aggregation
 * with exact decimal arithmetic, broadcast star join, union.
 * These exercise predicate pushdown, column pruning and broadcast planning
 * on the classic tables. */
object RelationalQueries {

  val q: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1-shaped pricing summary. Sums in DECIMAL(18,2)/(38,4): exact,
    // order-insensitive; doubles derived only at the end.
    "q1_pricing" -> ((s, dir) =>
      Parquet
        .read(s, s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .withColumn(
          "avg_qty",
          col("sum_qty") / col("count_order").cast("double"))),

    // Star join: revenue per nation. Dimensions (nation, customer) are
    // small relative to facts → explicit broadcast hints; at production
    // scale orders is the only shuffled side.
    "q_nation_revenue" -> ((s, dir) => {
      val orders = Parquet.read(s, s"$dir/orders.parquet")
      val customer = broadcast(Parquet.read(s, s"$dir/customer.parquet"))
      val nation = broadcast(Parquet.read(s, s"$dir/nation.parquet"))
      orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(nation, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
    }),

    // Filter + projection pushdown anchor: high-value open orders.
    "q_filter_orders" -> ((s, dir) =>
      Parquet
        .read(s, s"$dir/orders.parquet")
        .filter(col("o_orderstatus") === "O" && col("o_totalprice") > 400000.0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))),

    // TPC-H Q3 shape: segment-filtered customer ⋈ orders ⋈ lineitem,
    // revenue per open order, deterministic top-10 (full tie-break on the
    // order key). customer broadcasts; lineitem⋈orders is the one shuffle.
    "q3_shipping" -> ((s, dir) => {
      val customer = broadcast(
        Parquet
          .read(s, s"$dir/customer.parquet")
          .filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey"))
      val orders = Parquet
        .read(s, s"$dir/orders.parquet")
        .filter(col("o_orderdate") < lit("1998-03-15"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val lineitem = Parquet
        .read(s, s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") > lit("1998-03-15"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      lineitem
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 shape: region-restricted 6-table join, revenue per nation.
    // All dimensions broadcast; the single shuffle join is
    // lineitem ⋈ orders (the two fact tables) — the right 100-TB plan.
    "q5_region_supplier" -> ((s, dir) => {
      val region = Parquet.read(s, s"$dir/region.parquet").filter(col("r_name") === "ASIA")
      val nation = Parquet.read(s, s"$dir/nation.parquet")
      val supplier = Parquet.read(s, s"$dir/supplier.parquet")
      val customer = Parquet.read(s, s"$dir/customer.parquet")
      val orders = Parquet
        .read(s, s"$dir/orders.parquet")
        .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
      val lineitem = Parquet.read(s, s"$dir/lineitem.parquet")
      lineitem
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
        .join(
          broadcast(supplier),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_lineitems"))
    }),

    // TPC-H Q7 shape (volume shipping): the two-sided dimension filter
    // with an OR of nation pairs — supplier/customer nations resolved via
    // two broadcast copies of the nation dim, revenue per (supp_nation,
    // cust_nation, year).
    "q7_volume_shipping" -> ((s, dir) => {
      val lineitem = Parquet
        .read(s, s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1998-01-01"))
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
      val orders = Parquet.read(s, s"$dir/orders.parquet").select("o_orderkey", "o_custkey")
      val supplier = Parquet.read(s, s"$dir/supplier.parquet").select("s_suppkey", "s_nationkey")
      val customer = Parquet.read(s, s"$dir/customer.parquet").select("c_custkey", "c_nationkey")
      val n1 = Parquet
        .read(s, s"$dir/nation.parquet")
        .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
      val n2 = Parquet
        .read(s, s"$dir/nation.parquet")
        .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
      lineitem
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
        .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
        .filter(
          (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
        .agg(
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_lineitems"))
    }),

    // TPC-H Q18 shape (large-volume orders): the aggregate-then-semijoin
    // pattern — lineitem is aggregated per order (one shuffle with map-side
    // combine), the HAVING survivors join back to orders, customers
    // broadcast; deterministic top-20.
    "q18_large_orders" -> ((s, dir) => {
      val bigOrders = Parquet
        .read(s, s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("_tq"))
        .filter(col("_tq") > 200)
      val orders = Parquet
        .read(s, s"$dir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val customer = broadcast(
        Parquet.read(s, s"$dir/customer.parquet").select("c_custkey", "c_name"))
      orders
        .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
        .join(customer, col("o_custkey") === col("c_custkey"))
        .select(
          col("c_name"),
          col("o_orderkey"),
          col("o_totalprice"),
          col("_tq").cast("double").as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    }),

    // Set op: UNION ALL of two disjoint slices + distinct count per side
    // (ancestor: ConcatDataset union, data/builder/_base.py:71-83).
    "q_union_sources" -> ((s, dir) => {
      val ev = Parquet.read(s, s"$dir/events.parquet")
      val a = ev
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), lit("purchase").as("side"))
      val b = ev
        .filter(col("event_type") === "error")
        .select(col("user_id"), lit("error").as("side"))
      a.unionByName(b)
        .groupBy(col("side"))
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_rows"))
    }),

    // Weighted multi-source union builder (LOTSADatasetBuilder.load_dataset,
    // lotsa_v1/_base.py:71-112 + dataset.py:36-46): three named datasets
    // carved from documents, each resolving its transform at a DIFFERENT
    // priority level (name / type / default), with dataset weights 2.5
    // (floor-replicate + fractional hash), 1.0 (pass-through) and 0.25
    // (pure fractional subsample).
    "q_union_weighted" -> ((s, dir) => {
      import graft.sources.UnionBuilder
      val docs = Parquet
        .read(s, s"$dir/documents.parquet")
        .select(
          col("doc_id").cast("bigint").as("doc_id"),
          col("source"),
          col("n_chars").cast("long").as("n_chars"))
        .withColumn("grp", expr("CAST(substring(source, 4) AS INT) % 3"))
      def slice(g: Int) = docs.filter(col("grp") === g).drop("grp")
      UnionBuilder.load(
        Seq(
          "a_docs" -> UnionBuilder.Source(slice(0), "docs", 2.5),
          "b_docs" -> UnionBuilder.Source(slice(1), "docs", 1.0),
          "c_docs" -> UnionBuilder.Source(slice(2), "other", 0.25)),
        Map(
          // name-level hit for a_docs; type-level for b_docs; default for c_docs
          "a_docs" -> ((d: DataFrame) => d.withColumn("feat", col("n_chars") * 2)),
          "docs" -> ((d: DataFrame) => d.withColumn("feat", col("n_chars") + 7)),
          "default" -> ((d: DataFrame) => d.withColumn("feat", col("n_chars")))),
        idCol = "doc_id")
    })
  )

  val oracle: Map[String, String] = Map(
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS sum_disc_price,
        |  count(*) AS count_order,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS avg_qty
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2""".stripMargin,
    "q_nation_revenue" ->
      """SELECT n_name,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin,
    "q_filter_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_orderstatus = 'O' AND o_totalprice > 400000.0""".stripMargin,
    "q3_shipping" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q5_region_supplier" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS revenue,
        |  count(*) AS n_lineitems
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS INT) AS l_year,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS revenue,
        |       count(*) AS n_lineitems
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS tq
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 200)
        |SELECT c_name, o_orderkey, o_totalprice, CAST(b.tq AS DOUBLE) AS total_qty
        |FROM orders
        |JOIN big b ON o_orderkey = b.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 20""".stripMargin,
    "q_union_sources" ->
      """SELECT side, count(DISTINCT user_id) AS n_users, count(*) AS n_rows
        |FROM (
        |  SELECT user_id, 'purchase' AS side FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, 'error' AS side FROM events WHERE event_type = 'error')
        |GROUP BY 1""".stripMargin,
    "q_union_weighted" ->
      """WITH d AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
        |         CAST(n_chars AS BIGINT) AS n_chars,
        |         CAST(substring(source, 4) AS INT) % 3 AS grp,
        |         ((((CAST(doc_id AS BIGINT) % 1000000007) * 2654435761) % 1000000007
        |          + 1000000007) % 1000000007) % 1000 AS h
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, source, n_chars,
        |         CASE grp WHEN 0 THEN n_chars * 2
        |                  WHEN 1 THEN n_chars + 7
        |                  ELSE n_chars END AS feat,
        |         CASE grp WHEN 0 THEN 'a_docs'
        |                  WHEN 1 THEN 'b_docs'
        |                  ELSE 'c_docs' END AS ds,
        |         CASE grp WHEN 0 THEN 2 + (CASE WHEN h < 500 THEN 1 ELSE 0 END)
        |                  WHEN 1 THEN 1
        |                  ELSE (CASE WHEN h < 250 THEN 1 ELSE 0 END) END AS rep
        |  FROM d)
        |SELECT doc_id, source, n_chars, feat, ds, CAST(r.i AS INT) AS rep_idx
        |FROM t, LATERAL (SELECT unnest(range(1, rep + 1)) AS i) r
        |WHERE rep > 0""".stripMargin
  )
}
