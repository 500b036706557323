package graft.operators

import graft.Exact._
import graft.Tables.load
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator surface of the reference pipeline (SURVEY.md §2.1–§2.7),
  * re-expressed as declarative Spark plans over the driver's synthetic tables.
  *
  * Each entry is paired with an ANSI/DuckDB oracle in [[oracle]]. Every query
  * imposes a *total* ORDER BY over its output (keys break all ties) and uses
  * decimal-exact sums, so results are deterministic under any partitioning —
  * the property that makes the cross-engine hash comparison meaningful and
  * the plan safe to scale to arbitrarily many partitions.
  *
  * Scale notes are given per query: which side broadcasts, where the shuffle
  * is, and why the plan survives 100× data.
  */
object Relational {

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // §2.7 A3 batch count + §2.1 S5 full scan. One metadata-only count per
    // table; at scale this is a parquet footer read, no data movement.
    "s5_scan_count" -> ((s, dir) => {
      graft.Tables.All
        .map(t => load(s, dir, t).agg(count(lit(1)).as("n")).select(lit(t).as("tbl"), col("n")))
        .reduce(_ unionByName _)
        .orderBy("tbl")
    }),

    // §2.3 P1 column-pruned projection. `.explain` shows ReadSchema with only
    // these 4 columns — the scan never materializes the other 7.
    // NB: (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
    // every output column participates in the sort so the order is total.
    "p1_projection" -> ((s, dir) =>
      load(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")),

    // §2.3 P2 doc-shape projection: rename + cast + derive (year).
    "p2_cast_derive" -> ((s, dir) =>
      load(s, dir, "orders").select(
        col("o_orderkey").as("id"),
        col("o_custkey").cast("string").as("cust_id"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").as("total"),
        year(col("o_orderdate")).cast("int").as("order_year"))
        .orderBy("id")),

    // §2.3 F1 token-match full-text filter (the reference's ES multi_match
    // "coffee"; same tokenized-match semantics on the documents table).
    "f1_text_match" -> ((s, dir) =>
      load(s, dir, "documents")
        .where(array_contains(split(lower(col("text")), " "), "join"))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")),

    // §2.3 F5 trailing time-window predicate (reference: time_filter="week",
    // reddit_harvester_comment.py:40). The max-ts scalar is a broadcast, the
    // filter is pushed to the scan — no shuffle besides the final tiny agg.
    "f5_time_window" -> ((s, dir) => {
      val ev = load(s, dir, "events")
      val mx = ev.agg(max(col("ts")).as("mx"))
      ev.crossJoin(broadcast(mx))
        .where(col("ts") >= col("mx") - expr("INTERVAL 7 DAYS"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // §2.4 J2 FK equi-join (comments.p_id -> posts.id analog). Shuffle join
    // on the FK with partial aggregation map-side; AQE picks broadcast when
    // the dim side is small enough.
    "j2_fk_join" -> ((s, dir) => {
      val li = load(s, dir, "lineitem")
      val o = load(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("priority")
    }),

    // §2.4 multiway dim join: fact -> customer -> nation -> region. The two
    // tiny dims are broadcast (no shuffle); only customer⨝orders shuffles.
    "j5_multiway_join" -> ((s, dir) => {
      val o = load(s, dir, "orders")
      val c = load(s, dir, "customer")
      val n = load(s, dir, "nation")
      val r = load(s, dir, "region")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy("r_name", "n_name")
    }),

    // §2.4 J3 anti-join (dedup as a join: new ids ∖ seen ids).
    "j3_anti_join" -> ((s, dir) => {
      val c = load(s, dir, "customer")
      val o = load(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // §2.4 semi-join (EXISTS with a pushed-down predicate on the probe side).
    "j4_semi_join" -> ((s, dir) => {
      val c = load(s, dir, "customer")
      val big = load(s, dir, "orders").where(col("o_totalprice") > 400000)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // §2.4 J1 positional zip-join (pandas index join, redditProcessor.py:123):
    // a dense global row number on both sides, equi-join on it. The row
    // number comes from [[graft.plans.GlobalIndex]] (in-partition
    // position + range-partition offsets), NOT a partition-less Window —
    // every stage stays distributed at fact scale.
    "j1_zip_join" -> ((s, dir) => {
      def indexed(df: DataFrame, order: Seq[Column]): DataFrame =
        graft.plans.GlobalIndex.withRowIndex(df, order, "idx")
          .withColumn("rn", col("idx") + 1L).drop("idx")
      val c = indexed(load(s, dir, "customer").select("c_custkey", "c_acctbal"),
        Seq(col("c_acctbal").desc, col("c_custkey")))
      val sup = indexed(load(s, dir, "supplier").select("s_suppkey", "s_acctbal"),
        Seq(col("s_acctbal").desc, col("s_suppkey")))
      c.join(sup, "rn")
        .select("rn", "c_custkey", "c_acctbal", "s_suppkey", "s_acctbal")
        .orderBy("rn")
    }),

    // §2.1 S2 / §2.9 D3 recursive comment-tree flatten
    // (reddit_harvester_aus.py:60-63 replace_more + .list()). The fixture is
    // a deterministic 4-level chain forest over documents (thread t owns
    // doc_ids 4t..4t+3, parent = id−1), assembled bottom-up into the JSON
    // wire shape with three joins, then flattened by the custom recursive
    // Generator [[graft.plans.CommentTreeExplode]] — arbitrary depth via an
    // explicit stack, one tree per row, no driver involvement. The oracle is
    // DuckDB's WITH RECURSIVE flatten of the same parent-pointer relation.
    "s2_tree_flatten" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"),
          (col("doc_id") % 4).cast("int").as("lvl"),
          col("n_chars").cast("long").as("score"))
      def nodeJson(id: Column, score: Column, replies: Column): Column =
        concat(lit("{\"id\":"), id.cast("string"), lit(",\"score\":"),
          score.cast("string"), lit(",\"replies\":["), replies, lit("]}"))
      val l3 = docs.where(col("lvl") === 3).select(col("id").as("cid"),
        nodeJson(col("id"), col("score"), lit("")).as("cjson"))
      def up(l: Int, child: DataFrame): DataFrame =
        docs.where(col("lvl") === l)
          .join(child, col("id") + 1L === child("cid"), "left")
          .select(col("id").as("cid"),
            nodeJson(col("id"), col("score"),
              coalesce(child("cjson"), lit(""))).as("cjson"))
      val trees = up(0, up(1, up(2, l3)))
      trees.select(graft.plans.CommentTreeExplode.commentTreeExplode(col("cjson"))
          .as(Seq("id", "parent_id", "depth", "score")))
        .select(col("id"), col("parent_id"), col("depth").cast("long").as("depth"),
          col("score"))
        .orderBy("id")
    }),

    // §2.5 U1 by-name union after aligning to a common schema
    // (posts ∪ comments analog, redditProcessor.py:88-94).
    "u1_union" -> ((s, dir) => {
      val c = load(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"), lit("customer").as("side"))
      val sup = load(s, dir, "supplier")
        .select(col("s_suppkey").as("id"), col("s_name").as("name"), lit("supplier").as("side"))
      c.unionByName(sup).orderBy("side", "id")
    }),

    // distinct projection (dedup of the (user, event_type) pairs).
    "u2_distinct" -> ((s, dir) =>
      load(s, dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .orderBy("user_id", "event_type")),

    // §2.6 O1 global chronological sort (redditProcessor.py:80). Range
    // partitioning + per-partition sort; ties broken by the natural key so
    // the order is total.
    "o1_sort" -> ((s, dir) =>
      load(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_shipdate")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")),

    // §2.6 O3 limit / top-N: TakeOrderedAndProject, no global sort.
    "o3_limit" -> ((s, dir) =>
      load(s, dir, "events")
        .orderBy(col("value").desc, col("event_id"))
        .select("event_id", "event_type", "value")
        .limit(10)),

    // §2.6 O4 top-k per group (top-10 LDA words/topic analog,
    // redditProcessor.py:116-121): rank window partitioned by group.
    "o4_topk_group" -> ((s, dir) => {
      val w = Window.partitionBy(col("p_brand")).orderBy(col("p_retailprice").desc, col("p_partkey"))
      load(s, dir, "part")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 10)
        .select("p_brand", "rn", "p_partkey", "p_retailprice")
        .orderBy("p_brand", "rn")
    }),

    // §2.7 A1 document-frequency aggregation with min_df/max_df pruning
    // (TfidfVectorizer(min_df=2, max_df=0.95), redditProcessor.py:103).
    // countDistinct shuffles once on term; corpus size joins in as a
    // broadcast scalar.
    "a1_docfreq" -> ((s, dir) => {
      val d = load(s, dir, "documents")
      val n = d.agg(count(lit(1)).as("n_docs"))
      d.select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
        .groupBy("term")
        .agg(countDistinct(col("doc_id")).as("df"))
        .crossJoin(broadcast(n))
        .where(col("df") >= 2 && col("df") <= floor(lit(0.95) * col("n_docs")))
        .select("term", "df")
        .orderBy("term")
    }),

    // grouped stats (count / distinct / min / max / exact sum) — the hash
    // aggregate with map-side partial aggregation.
    "a2_stats_agg" -> ((s, dir) =>
      load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("l_suppkey")).as("n_supp"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          dsum(col("l_tax")).as("sum_tax"))
        .orderBy("l_returnflag")),

    // §2.7 A4 all-success fold (boolean AND gating the queue ack,
    // addReddit.py:74) as a grouped bool_and.
    "a4_bool_fold" -> ((s, dir) =>
      load(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(bool_and(col("l_discount") <= 0.05).as("all_low_discount"),
             count(lit(1)).as("n_items"))
        .orderBy("l_orderkey")),

    // TPC-H Q1-shaped pricing summary — the flagship scan+filter+agg.
    // Decimal-exact sums keep the result independent of partition count.
    "q1_agg" -> ((s, dir) =>
      load(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // running windowed sum per key (partition-local after one hash shuffle).
    // Window order includes l_quantity and the final sort includes the
    // computed column: (orderkey, linenumber) has duplicates in this data,
    // so both orders must be total for cross-engine determinism.
    "w1_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      load(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(dec(col("l_quantity"))).over(w).cast("double").as("running_qty"))
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
    }),

    // §2.10 T5 tumbling event-time window aggregation (batch view of the
    // streaming hourly rollup; streaming variant lives in graft.streaming).
    "t5_window_agg" -> ((s, dir) =>
      load(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("win"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .orderBy("win", "event_type")),

    // §2.10 T4 keep-first dedup (Redis seen-set analog): row_number over the
    // event-time order within the dedup key, keep rank 1.
    "t4_dedup_keep_first" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      load(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("user_id", "event_type", "event_id")
        .orderBy("user_id", "event_type")
    }))

  val oracle: Map[String, String] = Map(
    "s5_scan_count" ->
      graft.Tables.All.map(t => s"SELECT '$t' AS tbl, count(*) AS n FROM $t")
        .mkString("", " UNION ALL ", " ORDER BY tbl"),

    "p1_projection" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin,

    "p2_cast_derive" ->
      """SELECT o_orderkey AS id, CAST(o_custkey AS VARCHAR) AS cust_id,
        |  o_orderstatus AS status, o_totalprice AS total,
        |  CAST(year(o_orderdate) AS INT) AS order_year
        |FROM orders ORDER BY id""".stripMargin,

    "f1_text_match" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE list_contains(string_split(lower(text), ' '), 'join')
        |ORDER BY doc_id""".stripMargin,

    "f5_time_window" ->
      """SELECT event_type, count(*) AS n FROM events
        |WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 7 DAY
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "j2_fk_join" ->
      """SELECT o.o_orderpriority AS priority, count(*) AS n_items,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY priority ORDER BY priority""".stripMargin,

    "j5_multiway_join" ->
      """SELECT r_name, n_name, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "j3_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "j4_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "j1_zip_join" ->
      """WITH c AS (SELECT row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rn,
        |                  c_custkey, c_acctbal FROM customer),
        |     s AS (SELECT row_number() OVER (ORDER BY s_acctbal DESC, s_suppkey) AS rn,
        |                  s_suppkey, s_acctbal FROM supplier)
        |SELECT c.rn AS rn, c_custkey, c_acctbal, s_suppkey, s_acctbal
        |FROM c JOIN s ON c.rn = s.rn ORDER BY rn""".stripMargin,

    "s2_tree_flatten" ->
      """WITH RECURSIVE nodes AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id,
        |    CASE WHEN doc_id % 4 = 0 THEN NULL
        |         ELSE CAST(doc_id - 1 AS BIGINT) END AS parent_id,
        |    CAST(n_chars AS BIGINT) AS score
        |  FROM documents),
        |flat AS (
        |  SELECT id, parent_id, 0 AS depth, score FROM nodes WHERE parent_id IS NULL
        |  UNION ALL
        |  SELECT n.id, n.parent_id, f.depth + 1, n.score
        |  FROM nodes n JOIN flat f ON n.parent_id = f.id)
        |SELECT id, CAST(parent_id AS BIGINT) AS parent_id,
        |  CAST(depth AS BIGINT) AS depth, score
        |FROM flat ORDER BY id""".stripMargin,

    "u1_union" ->
      """SELECT * FROM (
        |  SELECT c_custkey AS id, c_name AS name, 'customer' AS side FROM customer
        |  UNION ALL
        |  SELECT s_suppkey AS id, s_name AS name, 'supplier' AS side FROM supplier)
        |ORDER BY side, id""".stripMargin,

    "u2_distinct" ->
      "SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type",

    "o1_sort" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        |ORDER BY l_shipdate, l_orderkey, l_linenumber""".stripMargin,

    "o3_limit" ->
      """SELECT event_id, event_type, value FROM events
        |ORDER BY value DESC, event_id LIMIT 10""".stripMargin,

    "o4_topk_group" ->
      """SELECT p_brand, rn, p_partkey, p_retailprice FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |         row_number() OVER (PARTITION BY p_brand
        |                            ORDER BY p_retailprice DESC, p_partkey) AS rn
        |  FROM part) WHERE rn <= 10 ORDER BY p_brand, rn""".stripMargin,

    "a1_docfreq" ->
      """SELECT term, count(DISTINCT doc_id) AS df
        |FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents)
        |GROUP BY term
        |HAVING count(DISTINCT doc_id) >= 2
        |   AND count(DISTINCT doc_id) <= floor(0.95 * (SELECT count(*) FROM documents))
        |ORDER BY term""".stripMargin,

    "a2_stats_agg" ->
      """SELECT l_returnflag, count(*) AS n, count(DISTINCT l_suppkey) AS n_supp,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_tax
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "a4_bool_fold" ->
      """SELECT l_orderkey, bool_and(l_discount <= 0.05) AS all_low_discount,
        |  count(*) AS n_items
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "w1_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
        |       OVER (PARTITION BY l_suppkey
        |             ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_qty
        |FROM lineitem
        |ORDER BY l_suppkey, l_orderkey, l_linenumber, running_qty""".stripMargin,

    "t5_window_agg" ->
      """SELECT date_trunc('hour', ts) AS win, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY win, event_type ORDER BY win, event_type""".stripMargin,

    "t4_dedup_keep_first" ->
      """SELECT user_id, event_type, event_id FROM (
        |  SELECT user_id, event_type, event_id,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin)
}
