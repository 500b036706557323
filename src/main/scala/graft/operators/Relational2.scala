package graft.operators

import graft.Exact.{dec, dsum, hash32, hash32Sql}
import graft.Tables.load
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Coverage wave 2: multi-level aggregation (rollup / grouping sets), set
  * operations, outer joins, analytic windows (lead/lag/ntile/rank),
  * exact order-independent variance, conditional pivot, sessionization,
  * as-of composition, deterministic hash sampling / dataset splits, and
  * string/date function batteries.
  *
  * Parity rules carried over from wave 1 (total ORDER BY, decimal-exact
  * sums) plus new ones:
  *  - rollup/grouping-set NULL markers are coalesced to '' and paired with
  *    explicit grouping() flags — sort order of engine-generated NULLs never
  *    enters the comparison.
  *  - variance/stddev are computed from decimal-exact Σx and Σx² via the
  *    textbook formula in double — order-independent, unlike the engines'
  *    native one-pass implementations.
  *  - day-of-week differs across engines (Spark Sunday=1, DuckDB Sunday=0);
  *    Spark's weekday() (Monday=0) is matched with DuckDB's isodow()-1.
  */
object Relational2 {

  type Q = (SparkSession, String) => DataFrame

  /** samp_temperature: expected total docs drawn (the token/doc budget). */
  private val SampTempTarget = 1000.0
  /** samp_epoch_plan: global token budget to schedule across sources. */
  private val EpochBudget = 100000.0

  val queries: Map[String, Q] = Map(
    // ROLLUP over the region/nation hierarchy with explicit grouping flags.
    "g1_rollup" -> ((s, dir) => {
      val o = load(s, dir, "orders")
      val c = load(s, dir, "customer")
      val n = load(s, dir, "nation")
      val r = load(s, dir, "region")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          grouping(col("r_name")).cast("int").as("g_r"),
          grouping(col("n_name")).cast("int").as("g_n"))
        .select(coalesce(col("r_name"), lit("")).as("region"),
          coalesce(col("n_name"), lit("")).as("nation"),
          col("g_r"), col("g_n"), col("n_orders"))
        .orderBy("g_r", "g_n", "region", "nation")
    }),

    // Correlated LATERAL subquery: per-customer order stats computed by a
    // correlated derived table. Catalyst decorrelates this into an
    // aggregate + equi-join (never a per-row re-execution), so the SQL
    // surface is lateral but the physical plan is one keyed aggregation
    // joined on the correlation key. max(price) rides the decimal cast so
    // the extremum is exact on both engines.
    "q4_lateral" -> ((s, dir) => {
      load(s, dir, "customer").createOrReplaceTempView("cust_lat")
      load(s, dir, "orders").createOrReplaceTempView("ord_lat")
      s.sql(
        """SELECT c_custkey, t.n_orders, t.top_price
          |FROM cust_lat c, LATERAL (
          |  SELECT count(*) AS n_orders,
          |    CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS top_price
          |  FROM ord_lat o WHERE o.o_custkey = c.c_custkey) t
          |WHERE t.n_orders > 0
          |ORDER BY c_custkey, n_orders, top_price""".stripMargin)
    }),

    // PIVOT: event counts per type spread across 4-hour day buckets as
    // columns — the wide-format report shape BI export jobs want. Spark's
    // `pivot` with an EXPLICIT value list compiles to ONE Expand + hash
    // aggregate (single shuffle); omitting the list adds a whole
    // values-discovery job first, so at scale the list is always passed.
    // Absent (type, bucket) cells coalesce to 0. Bucket ids are pure
    // integer hour÷4 on both engines.
    "q6_pivot" -> ((s, dir) =>
      load(s, dir, "events")
        .select(col("event_type"), expr("hour(ts) div 4").as("hb"))
        .groupBy("event_type")
        .pivot("hb", (0 to 5).map(Int.box))
        .agg(count(lit(1)))
        .select(col("event_type") +: (0 to 5).map(i =>
          coalesce(col(s"`$i`"), lit(0L)).as(s"hb$i")): _*)
        .orderBy("event_type")),

    // CUBE over (returnflag, linestatus): all 2² grouping combinations in
    // one pass (Spark expands to a single Expand + hash aggregate — one
    // shuffle regardless of the number of grouping sets). NULL group keys
    // coalesced per parity rule (NULL sort order differs across engines).
    "g3_cube" -> ((s, dir) =>
      load(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"))
        .select(coalesce(col("l_returnflag"), lit("")).as("rf"),
          coalesce(col("l_linestatus"), lit("")).as("ls"),
          col("g_rf"), col("g_ls"), col("n"), col("sum_qty"))
        .orderBy("g_rf", "g_ls", "rf", "ls")),

    // Histogram profiling: fixed-width buckets via explicit floor(x/width)
    // (DuckDB has no width_bucket; the explicit form is also bit-identical
    // double math on both engines). One keyed aggregation — the standard
    // distribution-profiling pass over any numeric column at scale.
    "a11_histogram" -> ((s, dir) =>
      load(s, dir, "lineitem")
        .groupBy(floor(col("l_quantity") / lit(5.0)).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("l_quantity")).as("lo"), max(col("l_quantity")).as("hi"))
        .orderBy("bucket")),

    // Deterministic per-group mode: most frequent value, ties broken by
    // smallest value (both engines' bare mode() breaks ties arbitrarily, so
    // the tie rule is spelled out as count-desc/value-asc rank). Two keyed
    // aggs + a 1-row-per-group window — the distribution-profiling "top
    // value" pass at scale, never a global sort.
    "a12_mode" -> ((s, dir) => {
      val counts = load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("n").desc, col("l_quantity").asc)
      counts.withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("n"))
        .orderBy("l_returnflag")
    }),

    // Event-type transition counts (first-order Markov structure of the
    // event stream): lag(event_type) per user in event-time order, then one
    // keyed count over (prev, next) pairs. The per-user window partitions
    // on user_id — bounded partitions, no global ordering — and the
    // transition matrix is |types|² rows regardless of corpus size.
    "ev_transitions" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .where(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("prev_type", "next_type")
    }),

    // Dataset-card profiling: one wide row of per-column null counts,
    // distinct counts, and typed min/max — the profiling pass a training
    // pipeline runs before ingesting a new source. All exact aggregates
    // (no float arithmetic beyond min/max value selection), one pass.
    "prof_summary" -> ((s, dir) =>
      load(s, dir, "orders").agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("o_custkey"))).as("custkey_nulls"),
        countDistinct(col("o_custkey")).as("custkey_distinct"),
        min(col("o_custkey")).as("custkey_min"),
        max(col("o_custkey")).as("custkey_max"),
        (count(lit(1)) - count(col("o_totalprice"))).as("price_nulls"),
        countDistinct(col("o_totalprice")).as("price_distinct"),
        min(col("o_totalprice")).as("price_min"),
        max(col("o_totalprice")).as("price_max"),
        countDistinct(col("o_orderstatus")).as("status_distinct"),
        min(col("o_orderdate")).as("date_min"),
        max(col("o_orderdate")).as("date_max"))),

    // Scalar subquery: orders above the corpus-average price. Catalyst
    // plans the subquery as an independent one-row aggregate broadcast into
    // the filter (ScalarSubquery reuse), so the scan runs twice but nothing
    // corpus-sized shuffles. The average goes through the decimal-exact sum
    // (rule 2) so the threshold is bit-identical on both engines.
    "q2_scalar_subquery" -> ((s, dir) => {
      load(s, dir, "orders").createOrReplaceTempView("ord_sq")
      s.sql(
        """SELECT o_orderkey, o_totalprice FROM ord_sq
          |WHERE o_totalprice > (
          |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
          |  FROM ord_sq)
          |ORDER BY o_orderkey, o_totalprice""".stripMargin)
    }),

    // Correlated NOT EXISTS: customers with no 'F'-status order. Catalyst's
    // RewritePredicateSubquery turns this into a left-anti hash join on
    // o_custkey — the same physical shape as the explicit j3 anti-join, but
    // entering through the SQL subquery surface.
    "q3_not_exists" -> ((s, dir) => {
      load(s, dir, "customer").createOrReplaceTempView("cust_ne")
      load(s, dir, "orders").createOrReplaceTempView("ord_ne")
      s.sql(
        """SELECT c_custkey, c_name FROM cust_ne c
          |WHERE NOT EXISTS (
          |  SELECT 1 FROM ord_ne o
          |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
          |ORDER BY c_custkey, c_name""".stripMargin)
    }),

    // GROUPING SETS ((rf, ls), (rf), ()) — via Spark SQL on a temp view.
    "g2_grouping_sets" -> ((s, dir) => {
      load(s, dir, "lineitem").createOrReplaceTempView("li_gs")
      s.sql(
        """SELECT coalesce(l_returnflag, '') AS rf, coalesce(l_linestatus, '') AS ls,
          |  CAST(grouping(l_returnflag) AS INT) AS g_rf,
          |  CAST(grouping(l_linestatus) AS INT) AS g_ls,
          |  count(*) AS n,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM li_gs
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
          |ORDER BY g_rf, g_ls, rf, ls""".stripMargin)
    }),

    // INTERSECT / EXCEPT (distinct semantics in both engines).
    "s1_intersect" -> ((s, dir) => {
      val ev = load(s, dir, "events")
      ev.where(col("event_type") === "click").select("user_id")
        .intersect(ev.where(col("event_type") === "purchase").select("user_id"))
        .orderBy("user_id")
    }),
    "s2_except" -> ((s, dir) => {
      val ev = load(s, dir, "events")
      ev.where(col("event_type") === "click").select("user_id")
        .except(ev.where(col("event_type") === "purchase").select("user_id"))
        .orderBy("user_id")
    }),

    // Bag-semantics set ops (INTERSECT ALL / EXCEPT ALL): multiplicity
    // min/difference per key. Spark plans both as a single hash aggregate
    // per side + join on the count columns — same one-shuffle shape as the
    // distinct variants, so the 100 TB story is unchanged.
    "s3_intersect_all" -> ((s, dir) => {
      val ev = load(s, dir, "events")
      ev.where(col("event_type") === "click").select("user_id")
        .intersectAll(ev.where(col("event_type") === "view").select("user_id"))
        .orderBy("user_id")
    }),
    "s4_except_all" -> ((s, dir) => {
      val ev = load(s, dir, "events")
      ev.where(col("event_type") === "click").select("user_id")
        .exceptAll(ev.where(col("event_type") === "view").select("user_id"))
        .orderBy("user_id")
    }),

    // FULL OUTER join: low-key customers vs event users; coalesced key.
    "j6_full_outer" -> ((s, dir) => {
      val c = load(s, dir, "customer").where(col("c_custkey") < 200)
        .select(col("c_custkey"))
      val u = load(s, dir, "events").groupBy("user_id")
        .agg(count(lit(1)).as("n_events"))
      c.join(u, c("c_custkey") === u("user_id"), "full_outer")
        .select(coalesce(col("c_custkey"), col("user_id")).as("id"),
          when(col("c_custkey").isNull, 0).otherwise(1).as("has_customer"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
        .orderBy("id")
    }),

    // LEAD/LAG analytics per user over event time.
    "w2_lead_lag" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("value"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("event_type"), 1).over(w).as("next_type"),
          (col("value") - lag(col("value"), 1).over(w)).as("delta"))
        .orderBy("user_id", "event_id")
    }),

    // NTILE / RANK / DENSE_RANK / PERCENT_RANK over a TOTAL order
    // (c_custkey breaks every tie), so the whole rank family reduces to
    // arithmetic on the distributed global row index — no partition-less
    // Window funneling all rows through one task. Were the order not total,
    // rank/dense_rank would need a per-key min adjustment on top.
    "w3_ntile_rank" -> ((s, dir) => {
      val base = graft.plans.GlobalIndex.withTotalCount(
        load(s, dir, "customer").select("c_custkey", "c_acctbal"), "n")
      val idx = graft.plans.GlobalIndex.withRowIndex(base,
        Seq(col("c_acctbal").desc, col("c_custkey")), "idx")
      // Exact long division for positive operands (values ≪ 2^53).
      def ldiv(a: Column, b: Column): Column =
        floor(a.cast("double") / b.cast("double")).cast("long")
      // ANSI NTILE(k): first n%k buckets hold ⌈n/k⌉ rows, the rest ⌊n/k⌋.
      val k = lit(4L)
      val small = ldiv(col("n"), k)
      val r = col("n") % k
      val bucket = when(col("idx") < r * (small + 1L),
        ldiv(col("idx"), small + 1L) + 1L)
        .otherwise(r + ldiv(col("idx") - r * (small + 1L), small) + 1L)
      idx.select(col("c_custkey"), col("c_acctbal"),
        bucket.as("bucket"),
        (col("idx") + 1L).as("rnk"),
        (col("idx") + 1L).as("drnk"),
        when(col("n") === 1L, 0.0)
          .otherwise(col("idx").cast("double") / (col("n") - 1L).cast("double"))
          .as("prank"))
        .orderBy("c_custkey")
    }),

    // Epoch-schedule planning for a token budget (the data-mixing table a
    // pretraining run is configured from): per source, its token count,
    // its temperature-scaled mix share (∝ n^(1/2), the samp_temperature
    // rule), the token allocation under a global budget, and the
    // effective epoch count allocation/n — the number that flags which
    // sources will be over-repeated (epochs ≫ 1) before any tokens are
    // spent. One corpus (source) aggregate; the share denominator folds
    // in source order (the samp_temperature parity template) and rides a
    // one-row broadcast; √ is IEEE-exact, round(6) guards.
    "samp_epoch_plan" -> ((s, dir) => {
      val src = load(s, dir, "documents")
        .select(col("source"),
          size(filter(split(lower(col("text")), " "), w => w =!= ""))
            .cast("long").as("toks"))
        .groupBy("source").agg(sum("toks").as("n_tokens"))
      val denom = src.groupBy()
        .agg(aggregate(
          transform(array_sort(collect_list(struct(col("source"),
            sqrt(col("n_tokens").cast("double")).as("r")))),
            x => x.getField("r")),
          lit(0.0), (acc, x) => acc + x).as("z"))
      val share = sqrt(col("n_tokens").cast("double")) / col("z")
      src.crossJoin(broadcast(denom))
        .select(col("source"), col("n_tokens"),
          round(share, 6).as("mix_share"),
          round(share * EpochBudget, 6).as("alloc_tokens"),
          round(share * EpochBudget / col("n_tokens"), 6).as("epochs"))
        .orderBy("source")
    }),

    // Value-navigation window semantics (first/last/nth_value + cume_dist)
    // per event_type — WITHOUT a per-type window: event_type has a
    // handful of values, so `PARTITION BY event_type` would sort each
    // type's entire timeline through one task at scale. Instead KeyedRank
    // assigns the global per-type rank from span-adaptive time buckets (bounded
    // partitions + a metadata-scale offset table); then
    //  - first/last/nth_value over the full frame are just the values at
    //    rank 1 / rank n / rank 3: a filter to ≤3 rows per type, one tiny
    //    aggregate, broadcast back;
    //  - cume_dist has no ties here (event_id is unique), so it is
    //    exactly rk/n — the same two integers DuckDB divides, hence
    //    bit-identical.
    "w5_value_window" -> ((s, dir) => {
      val ev = load(s, dir, "events")
        .select("event_id", "event_type", "ts", "value")
      val ranked = graft.plans.KeyedRank.withRank(ev, "event_type",
        graft.plans.KeyedRank.adaptiveTimeBucket(ev, col("ts")),
        Seq(col("ts"), col("event_id")))
      val edges = ranked
        .where(col("rk") === 1 || col("rk") === 3 || col("rk") === col("rk_n"))
        .groupBy("event_type")
        .agg(max(when(col("rk") === 1, col("value"))).as("first_v"),
          max(when(col("rk") === col("rk_n"), col("value"))).as("last_v"),
          max(when(col("rk") === 3, col("value"))).as("third_v"))
      ranked.join(broadcast(edges), "event_type")
        .select(col("event_id"), col("event_type"), col("value"),
          col("first_v"), col("last_v"), col("third_v"),
          (col("rk").cast("double") / col("rk_n").cast("double")).as("cdist"))
        .orderBy("event_id")
    }),

    // Exact interpolated median / quartiles per group.
    "a5_median_pct" -> ((s, dir) =>
      load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(median(col("l_quantity")).as("med_qty"),
          percentile(col("l_quantity"), lit(0.25)).as("q1_qty"),
          percentile(col("l_quantity"), lit(0.75)).as("q3_qty"))
        .orderBy("l_returnflag")),

    // Order-independent variance/stddev: decimal-exact Σx, Σx², then the
    // textbook formula in double — reproducible under any partitioning
    // (native one-pass variance is accumulation-order-dependent).
    "a6_var_exact" -> ((s, dir) =>
      load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("sx"),
          sum(dec(col("l_quantity")) * dec(col("l_quantity"))).cast("double").as("sxx"))
        .select(col("l_returnflag"), col("n"),
          // rounded for the same decimal→double 1-ulp reason as a8_corr_exact
          round((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1), 8).as("var_qty"),
          round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)), 8).as("std_qty"))
        .orderBy("l_returnflag")),

    // Conditional pivot: one wide row per user (counts + spend by type).
    "a7_conditional_pivot" -> ((s, dir) => {
      def cnt(t: String) =
        sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t")
      load(s, dir, "events")
        .groupBy("user_id")
        .agg(cnt("click"), cnt("view"), cnt("purchase"), cnt("signup"), cnt("error"),
          sum(when(col("event_type") === "purchase", dec(col("value")))
            .otherwise(lit(0).cast("decimal(18,2)"))).cast("double").as("spend"))
        .orderBy("user_id")
    }),

    // Sessionization (gaps-and-islands): 30-min inactivity gap per user.
    "sess_gaps" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      load(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("new_sess",
          when(col("us") - lag(col("us"), 1).over(w) > 1800L * 1000000L || lag(col("us"), 1).over(w).isNull, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_sess")).over(wRun))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
        .orderBy("user_id", "session_id")
    }),

    // As-of composition: each error event joined to the user's most recent
    // signup at-or-before it — the union+running-max formulation (one
    // shuffle on user_id, no range join blowup).
    "asof_last_signup" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      load(s, dir, "events")
        .where(col("event_type").isin("signup", "error"))
        .withColumn("last_signup",
          max(when(col("event_type") === "signup", col("ts"))).over(w))
        .where(col("event_type") === "error")
        .select("user_id", "event_id", "ts", "last_signup")
        .orderBy("user_id", "event_id")
    }),

    // Deterministic hash sampling: ~10% of events, reproducible anywhere.
    "samp_hash" -> ((s, dir) =>
      load(s, dir, "events")
        .where(hash32(col("event_id").cast("string")) % 100 < 10)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("event_type")),

    // Class rebalancing — downsample every class (event_type) to EXACTLY
    // the minority-class size, the standard class-prior equalizer before
    // training on imbalanced data. Selection is deterministic and
    // engine-portable: each class keeps its m lowest-hash32 rows
    // (event_id tiebreak), so any run on any cluster keeps the identical
    // subset. The per-class rank is NOT a per-type window partition (the
    // scale-killer this codebase bans): KeyedRank buckets the 32-bit hash
    // into 2^16 fixed-width stripes — a uniform hash keeps every
    // (type, stripe) task at ~count/65536 rows — and composes the global
    // rank from the metadata-scale stripe-offset frame. m itself is one
    // broadcast min over the per-type counts. Output: per-class kept
    // count (all equal to m, the pinned contract) + exact value sum of
    // the survivors, which verifies the SELECTION, not just the size.
    "samp_class_balance" -> ((s, dir) => {
      val ev = load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"),
          hash32(col("event_id").cast("string")).as("h"))
      val m = ev.groupBy("event_type").agg(count(lit(1)).as("cnt"))
        .agg(min("cnt").as("m"))
      val ranked = graft.plans.KeyedRank.withRank(ev, "event_type",
        expr("h div 65536"), Seq(col("h"), col("event_id")))
      ranked.crossJoin(broadcast(m))
        .where(col("rk") <= col("m"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_kept"), dsum(col("value")).as("sum_value"))
        .orderBy("event_type")
    }),

    // Weighted source mixing — the domain-reweighting step of a training
    // pipeline: each source gets a deterministic sampling rate (md5-derived
    // here; production supplies a weights table) and rows are kept by
    // content-stable hash threshold, so any cluster / any run / any engine
    // keeps the SAME rows. Entirely map-side until the per-source rollup:
    // no join (the rate is a pure function of the source key), one keyed
    // shuffle for the audit counts; the filtered corpus itself never
    // shuffles at all.
    "samp_mix" -> ((s, dir) => {
      val rate = hash32(col("source")) % 80 + 10
      load(s, dir, "documents")
        .select(col("source"), rate.as("rate_pct"),
          (hash32(concat(col("doc_id").cast("string"), lit("|"), col("source"))) % 100 < rate)
            .as("keep"))
        .groupBy("source", "rate_pct")
        .agg(count(lit(1)).as("n_total"), sum(col("keep").cast("long")).as("n_kept"))
        .orderBy("source")
    }),

    // Temperature-scaled source mixing (the published multilingual /
    // data-mix sampling rule: sample source s with share ∝ n_s^α, α=1/2 —
    // upweights small sources, downweights dominant ones). Per-source keep
    // rate r_s = min(1, T·p_s/n_s) with p_s = √n_s / Σ√n, applied as a
    // content-stable integer hash threshold (millionths) — deterministic,
    // RNG-free, reproducible on any cluster. Parity: √ is IEEE-exact, and
    // Σ√n folds in sorted source order on BOTH engines so the shared
    // denominator is bit-identical. Scale shape: one tiny per-source agg,
    // a one-row broadcast total, and a broadcast threshold join — the
    // keep decision itself is map-side.
    "samp_temperature" -> ((s, dir) => {
      val d = load(s, dir, "documents")
      val counts = d.groupBy("source").agg(count(lit(1)).as("n_s"))
      val tot = counts.agg(
        aggregate(
          transform(array_sort(collect_list(struct(col("source"),
            sqrt(col("n_s").cast("double")).as("w")))),
            x => x.getField("w")),
          lit(0.0), (acc, x) => acc + x).as("sw"))
      val th = counts.crossJoin(broadcast(tot))
        .select(col("source"), col("n_s"),
          floor(least(lit(1.0),
            lit(SampTempTarget) * (sqrt(col("n_s").cast("double")) / col("sw"))
              / col("n_s").cast("double")) * lit(1000000.0)).cast("long").as("th"))
      d.join(broadcast(th), "source")
        .select(col("source"), col("n_s"), col("th"),
          (hash32(concat(col("doc_id").cast("string"), lit("|"), col("source")))
            % 1000000 < col("th")).as("keep"))
        .groupBy("source", "n_s", "th")
        .agg(sum(col("keep").cast("long")).as("n_kept"))
        .orderBy("source")
    }),

    // UniMax-style budget allocation (Chung et al. 2023): distribute a
    // fixed document budget (half the corpus here) across sources so no
    // source is oversampled — small sources are taken whole, large ones
    // share the remaining budget equally (the integer waterfill). All
    // arithmetic is integer (div/mod, remainder +1s go to the largest
    // sources), so the allocation is engine- and partition-exact. Shape:
    // ONE corpus-scale source-count aggregate; the waterfill windows run
    // on the source-cardinality frame (metadata scale — the
    // samp_temperature discipline), so the single-partition window is a
    // few dozen rows at any corpus size.
    "samp_unimax" -> ((s, dir) => {
      val wAsc = Window.orderBy(col("n"), col("source"))
      val wAll = Window.partitionBy(lit(1))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val f = load(s, dir, "documents")
        .groupBy("source").agg(count(lit(1)).as("n"))
        .withColumn("idx", row_number().over(wAsc))
        .withColumn("cumb", coalesce(
          sum(col("n")).over(wAsc.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .withColumn("k", count(lit(1)).over(wAll))
        .withColumn("b", expr("sum(n) OVER () div 2"))
        // Sources sorted ascending: source i is fully affordable iff giving
        // every not-yet-funded source n_i each still fits the remainder —
        // a prefix property, so the marginal stats are plain sums of the
        // full prefix.
        .withColumn("fullsrc", col("n") * (col("k") - col("idx") + 1) <= col("b") - col("cumb"))
      f.withColumn("nfull", sum(col("fullsrc").cast("long")).over(wAll))
        .withColumn("cumfull",
          sum(when(col("fullsrc"), col("n")).otherwise(0L)).over(wAll))
        .select(col("source"), col("n").as("n_docs"),
          when(col("fullsrc"), col("n"))
            .otherwise(expr("(b - cumfull) div (k - nfull)") +
              when(col("idx") > col("k") - expr("(b - cumfull) % (k - nfull)"), 1L)
                .otherwise(0L)).as("alloc"),
          (!col("fullsrc")).as("capped"))
        .orderBy("source")
    }),

    // Weighted reservoir sampling (Efraimidis–Spirakis A-ES via the
    // exponential race): every row draws key = −ln(u)/w from a
    // content-stable hash u ∈ (0,1], and the k SMALLEST keys are an exact
    // weighted-without-replacement sample of size k (here w = document
    // length, biasing the sample toward long documents — the curriculum /
    // token-budget sampling shape). The key is pure map-side arithmetic and
    // the cut is a TakeOrdered top-k (per-partition heads merged on the
    // driver), so at 100 TB nothing shuffles: cost = one scan + k rows.
    // Determinism: the hash replaces the RNG, so any engine, any partition
    // count, any run selects the SAME k rows; ordering and the cut use the
    // round(6) key (ulp guard) with doc_id tiebreak.
    "samp_weighted" -> ((s, dir) => {
      val w = greatest(length(col("text")), lit(1)).cast("double")
      val u = (hash32(col("doc_id").cast("string")) + lit(1.0)) / lit(4294967296.0)
      load(s, dir, "documents")
        .select(col("doc_id"), w.cast("long").as("weight"),
          round(-log(u) / w * lit(1000.0), 6).as("samp_key"))
        .orderBy(col("samp_key"), col("doc_id"))
        .limit(100)
    }),

    // Deterministic train/val/test split (80/10/10 by content-stable hash).
    "split_assign" -> ((s, dir) => {
      val h = hash32(col("doc_id").cast("string")) % 100
      load(s, dir, "documents")
        .select(when(h < 80, "train").when(h < 90, "val").otherwise("test").as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n"))
        .orderBy("split")
    }),

    // Grouped top-k via the heap-based TypedImperativeAggregate: identical
    // results to the row_number window (same oracle SQL), but the plan keeps
    // a k-bounded heap per group with map-side partial aggregation — at most
    // k pairs per group per partition cross the shuffle, and nothing is
    // sorted per-partition. The scale path for top-k at 100 TB.
    "o4_topk_heap" -> ((s, dir) => {
      load(s, dir, "part")
        .groupBy("p_brand")
        .agg(graft.plans.TopKAgg.topkPairs(col("p_retailprice"), col("p_partkey"), 10).as("top"))
        .select(col("p_brand"), posexplode(col("top")).as(Seq("pos", "pair")))
        .select(col("p_brand"), (col("pos") + 1).cast("int").as("rn"),
          col("pair.id").as("p_partkey"), col("pair.score").as("p_retailprice"))
        .orderBy("p_brand", "rn")
    }),

    // Array aggregation: sorted distinct collection per group. The sorted set
    // is emitted as a joined string so the driver's pandas-side hash (which
    // can't factorize list cells) can compare it value-for-value.
    "arr_collect" -> ((s, dir) =>
      load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(array_join(array_sort(collect_set(col("l_linestatus"))), ",").as("statuses"),
          size(collect_set(col("l_suppkey"))).cast("long").as("n_supp"))
        .orderBy("l_returnflag")),

    // Regex capture groups (group 1 / group 2 + no-match → empty string).
    "regexp_groups" -> ((s, dir) =>
      load(s, dir, "part")
        .select(col("p_partkey"),
          regexp_extract(col("p_type"), "^([a-z]+) ?([a-z]*)", 1).as("g1"),
          regexp_extract(col("p_type"), "^([a-z]+) ?([a-z]*)", 2).as("g2"),
          regexp_extract(col("p_type"), "(zzz)", 1).as("no_match"))
        .orderBy("p_partkey")),

    // Exact order-independent Pearson correlation from decimal-exact
    // moments (native one-pass corr is accumulation-order-dependent).
    "a8_corr_exact" -> ((s, dir) =>
      load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("sx"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sy"),
          sum(dec(col("l_quantity")) * dec(col("l_quantity"))).cast("double").as("sxx"),
          sum(dec(col("l_extendedprice")) * dec(col("l_extendedprice"))).cast("double").as("syy"),
          sum(dec(col("l_quantity")) * dec(col("l_extendedprice"))).cast("double").as("sxy"))
        .select(col("l_returnflag"), col("n"),
          // rounded: decimal→double conversion of very large unscaled sums
          // (> 2^53) differs by 1 ulp between engines (single- vs
          // double-rounding); 10 dp is far above that noise floor
          round((col("sxy") - col("sx") * col("sy") / col("n"))
            / (sqrt(col("sxx") - col("sx") * col("sx") / col("n"))
              * sqrt(col("syy") - col("sy") * col("sy") / col("n"))), 10).as("corr_qty_price"))
        .orderBy("l_returnflag")),

    // RANGE-frame window: per-user trailing 5-minute event-value sum
    // (value-based frame over event time — peers included, unlike ROWS).
    "w4_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("us"))
        .rangeBetween(-300L * 1000000L, 0)
      load(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
        .select(col("user_id"), col("event_id"),
          sum(dec(col("value"))).over(w).cast("double").as("trailing_5m"))
        .orderBy("user_id", "event_id")
    }),

    // arg-max per group over a deterministic composite order value.
    "mb_maxby" -> ((s, dir) =>
      load(s, dir, "events")
        .groupBy("user_id")
        .agg(max_by(col("event_id"), col("value") * 100000 + col("event_id")).as("top_event"),
          max(col("value")).as("max_value"))
        .orderBy("user_id")),

    // Relational pivot through the DataFrame pivot API (explicit value list
    // so the plan is single-pass, no distinct-values pre-query).
    "a9_pivot_api" -> ((s, dir) =>
      load(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(coalesce(count(lit(1)), lit(0L)))
        .na.fill(0L)
        .orderBy("user_id")),

    // Unpivot (melt): wide per-flag stats back to long (stat, value) rows.
    "a10_unpivot" -> ((s, dir) =>
      load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(dsum(col("l_quantity")).as("qty"),
          dsum(col("l_tax")).as("tax"),
          dsum(col("l_discount")).as("disc"))
        .unpivot(Array(col("l_returnflag")), Array(col("qty"), col("tax"), col("disc")),
          "stat", "value")
        .orderBy("l_returnflag", "stat")),

    // Higher-order-function battery over token arrays.
    "hof_funcs" -> ((s, dir) => {
      val t = split(lower(col("text")), " ")
      load(s, dir, "documents")
        .select(col("doc_id"),
          exists(t, tk => tk === "join").as("has_join"),
          forall(t, tk => length(tk) > 1).as("all_multichar"),
          size(filter(t, tk => length(tk) === 4)).cast("long").as("n_len4"),
          aggregate(transform(t, tk => length(tk)), lit(0), (a, x) => a + x)
            .cast("long").as("total_chars"),
          array_join(slice(array_sort(array_distinct(t)), 1, 3), " ").as("first3_sorted"))
        .orderBy("doc_id")
    }),

    // String-function battery over part.
    "str_funcs" -> ((s, dir) =>
      load(s, dir, "part")
        .select(col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          substring(col("p_type"), 1, 8).as("type_pfx"),
          expr("split_part(p_type, ' ', 1)").as("type_head"),
          lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
          translate(col("p_type"), "ae", "AE").as("type_tr"),
          reverse(col("p_brand")).as("brand_rev"),
          levenshtein(col("p_brand"), lit("Brand#13")).as("lev_13"),
          instr(col("p_type"), "a").cast("long").as("pos_a"),
          length(col("p_type")).cast("long").as("type_len"))
        .orderBy("p_partkey")),

    // Date-function battery over orders.
    "date_funcs" -> ((s, dir) =>
      load(s, dir, "orders")
        .select(col("o_orderkey"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long").as("days_since"),
          add_months(col("o_orderdate"), 1).cast("date").as("next_month"),
          last_day(col("o_orderdate")).as("month_end"),
          year(col("o_orderdate")).cast("int").as("y"),
          month(col("o_orderdate")).cast("int").as("m"),
          dayofmonth(col("o_orderdate")).cast("int").as("d"),
          weekday(col("o_orderdate")).cast("int").as("dow_mon0"),
          date_trunc("quarter", col("o_orderdate")).cast("date").as("quarter_start"))
        .orderBy("o_orderkey")))

  val oracle: Map[String, String] = Map(
    "samp_epoch_plan" ->
      s"""WITH src AS (
         |  SELECT source,
         |    CAST(sum(len(list_filter(string_split(lower(text), ' '),
         |      w -> w <> ''))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |z AS (SELECT list_sum(list(sqrt(CAST(n_tokens AS DOUBLE))
         |        ORDER BY source)) AS z FROM src)
         |SELECT source, n_tokens,
         |  round(sqrt(CAST(n_tokens AS DOUBLE)) / z, 6) AS mix_share,
         |  round(sqrt(CAST(n_tokens AS DOUBLE)) / z * $EpochBudget, 6)
         |    AS alloc_tokens,
         |  round(sqrt(CAST(n_tokens AS DOUBLE)) / z * $EpochBudget / n_tokens, 6)
         |    AS epochs
         |FROM src, z ORDER BY source""".stripMargin,

    "g1_rollup" ->
      """SELECT coalesce(r_name, '') AS region, coalesce(n_name, '') AS nation,
        |  CAST(GROUPING(r_name) AS INT) AS g_r, CAST(GROUPING(n_name) AS INT) AS g_n,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY g_r, g_n, region, nation""".stripMargin,

    "q4_lateral" ->
      """SELECT c_custkey, t.n_orders, t.top_price
        |FROM customer c, LATERAL (
        |  SELECT count(*) AS n_orders,
        |    CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS top_price
        |  FROM orders o WHERE o.o_custkey = c.c_custkey) t
        |WHERE t.n_orders > 0
        |ORDER BY c_custkey, n_orders, top_price""".stripMargin,

    "q6_pivot" ->
      ("""SELECT event_type,""" + (0 to 5).map(i =>
        s"""
          |  CAST(sum(CASE WHEN CAST(extract(hour FROM ts) AS INT) // 4 = $i
          |    THEN 1 ELSE 0 END) AS BIGINT) AS hb$i""").mkString(",") + """
        |FROM events GROUP BY event_type ORDER BY event_type""").stripMargin,

    "g3_cube" ->
      """SELECT coalesce(l_returnflag, '') AS rf, coalesce(l_linestatus, '') AS ls,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, rf, ls""".stripMargin,

    "a11_histogram" ->
      """SELECT CAST(floor(l_quantity / 5.0) AS INT) AS bucket, count(*) AS n,
        |  min(l_quantity) AS lo, max(l_quantity) AS hi
        |FROM lineitem GROUP BY bucket ORDER BY bucket""".stripMargin,

    "a12_mode" ->
      """SELECT l_returnflag, l_quantity AS mode_qty, n FROM (
        |  SELECT l_returnflag, l_quantity, count(*) AS n,
        |    row_number() OVER (PARTITION BY l_returnflag
        |                       ORDER BY count(*) DESC, l_quantity ASC) AS rk
        |  FROM lineitem GROUP BY l_returnflag, l_quantity)
        |WHERE rk = 1 ORDER BY l_returnflag""".stripMargin,

    "ev_transitions" ->
      """SELECT prev_type, next_type, count(*) AS n FROM (
        |  SELECT lag(event_type, 1) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS prev_type,
        |    event_type AS next_type
        |  FROM events)
        |WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, next_type
        |ORDER BY prev_type, next_type""".stripMargin,

    "prof_summary" ->
      """SELECT count(*) AS n_rows,
        |  count(*) - count(o_custkey) AS custkey_nulls,
        |  count(DISTINCT o_custkey) AS custkey_distinct,
        |  min(o_custkey) AS custkey_min, max(o_custkey) AS custkey_max,
        |  count(*) - count(o_totalprice) AS price_nulls,
        |  count(DISTINCT o_totalprice) AS price_distinct,
        |  min(o_totalprice) AS price_min, max(o_totalprice) AS price_max,
        |  count(DISTINCT o_orderstatus) AS status_distinct,
        |  min(o_orderdate) AS date_min, max(o_orderdate) AS date_max
        |FROM orders""".stripMargin,

    "q2_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (
        |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |  FROM orders)
        |ORDER BY o_orderkey, o_totalprice""".stripMargin,

    "q3_not_exists" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |ORDER BY c_custkey, c_name""".stripMargin,

    "g2_grouping_sets" ->
      """SELECT coalesce(l_returnflag, '') AS rf, coalesce(l_linestatus, '') AS ls,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY g_rf, g_ls, rf, ls""".stripMargin,

    "s1_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,

    "s2_except" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,

    "s3_intersect_all" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT ALL
        |SELECT user_id FROM events WHERE event_type = 'view'
        |ORDER BY user_id""".stripMargin,

    "s4_except_all" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |EXCEPT ALL
        |SELECT user_id FROM events WHERE event_type = 'view'
        |ORDER BY user_id""".stripMargin,

    "j6_full_outer" ->
      """SELECT coalesce(c_custkey, user_id) AS id,
        |  CASE WHEN c_custkey IS NULL THEN 0 ELSE 1 END AS has_customer,
        |  coalesce(n_events, 0) AS n_events
        |FROM (SELECT c_custkey FROM customer WHERE c_custkey < 200) c
        |FULL OUTER JOIN (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id) u
        |  ON c_custkey = user_id
        |ORDER BY id""".stripMargin,

    "w2_lead_lag" ->
      """SELECT user_id, event_id, value,
        |  lag(value, 1) OVER w AS prev_value,
        |  lead(event_type, 1) OVER w AS next_type,
        |  value - lag(value, 1) OVER w AS delta
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,

    "w3_ntile_rank" ->
      """SELECT c_custkey, c_acctbal,
        |  ntile(4) OVER w AS bucket,
        |  rank() OVER w AS rnk,
        |  dense_rank() OVER w AS drnk,
        |  percent_rank() OVER w AS prank
        |FROM customer
        |WINDOW w AS (ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "w5_value_window" ->
      """SELECT event_id, event_type, value,
        |  first_value(value) OVER wf AS first_v,
        |  last_value(value) OVER wf AS last_v,
        |  nth_value(value, 3) OVER wf AS third_v,
        |  cume_dist() OVER wo AS cdist
        |FROM events
        |WINDOW wo AS (PARTITION BY event_type ORDER BY ts, event_id),
        |  wf AS (PARTITION BY event_type ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin,

    "a5_median_pct" ->
      """SELECT l_returnflag, median(l_quantity) AS med_qty,
        |  quantile_cont(l_quantity, 0.25) AS q1_qty,
        |  quantile_cont(l_quantity, 0.75) AS q3_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "a6_var_exact" ->
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round((sxx - sx * sx / n) / (n - 1), 8) AS var_qty,
        |  round(sqrt((sxx - sx * sx / n) / (n - 1)), 8) AS std_qty
        |FROM s ORDER BY l_returnflag""".stripMargin,

    "a7_conditional_pivot" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |  CAST(sum(CASE WHEN event_type = 'purchase'
        |                THEN CAST(value AS DECIMAL(18,2))
        |                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS spend
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "sess_gaps" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |         OR lag(epoch_us(ts), 1)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |sid AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end
        |FROM sid GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "asof_last_signup" ->
      """SELECT user_id, event_id, ts, last_signup FROM (
        |  SELECT user_id, event_id, ts, event_type,
        |    max(CASE WHEN event_type = 'signup' THEN ts END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup
        |  FROM events WHERE event_type IN ('signup', 'error'))
        |WHERE event_type = 'error'
        |ORDER BY user_id, event_id""".stripMargin,

    "samp_hash" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM events
         |WHERE ${hash32Sql("CAST(event_id AS VARCHAR)")} % 100 < 10
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "samp_class_balance" ->
      s"""WITH ev AS (
         |  SELECT event_id, event_type, value,
         |    ${hash32Sql("CAST(event_id AS VARCHAR)")} AS h
         |  FROM events),
         |m AS (SELECT min(cnt) AS m FROM (
         |  SELECT event_type, count(*) AS cnt FROM ev GROUP BY 1)),
         |r AS (SELECT event_type, value, row_number() OVER (
         |    PARTITION BY event_type ORDER BY h, event_id) AS rk FROM ev)
         |SELECT event_type, count(*) AS n_kept,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM r CROSS JOIN m WHERE rk <= m
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "samp_mix" ->
      s"""SELECT source, ${hash32Sql("source")} % 80 + 10 AS rate_pct,
         |  count(*) AS n_total,
         |  CAST(sum(CASE WHEN ${hash32Sql("CAST(doc_id AS VARCHAR) || '|' || source")} % 100
         |                     < ${hash32Sql("source")} % 80 + 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM documents
         |GROUP BY source ORDER BY source""".stripMargin,

    "samp_temperature" ->
      s"""WITH c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
         |tot AS (SELECT list_sum(list(sqrt(CAST(n_s AS DOUBLE)) ORDER BY source)) AS sw
         |        FROM c),
         |th AS (
         |  SELECT source, n_s,
         |    CAST(floor(least(CAST(1.0 AS DOUBLE),
         |      CAST($SampTempTarget AS DOUBLE) * (sqrt(CAST(n_s AS DOUBLE)) / sw)
         |        / CAST(n_s AS DOUBLE)) * 1000000.0) AS BIGINT) AS th
         |  FROM c CROSS JOIN tot)
         |SELECT d.source, CAST(th.n_s AS BIGINT) AS n_s, th.th,
         |  CAST(sum(CASE WHEN ${hash32Sql("CAST(d.doc_id AS VARCHAR) || '|' || d.source")}
         |                     % 1000000 < th.th THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM documents d JOIN th USING (source)
         |GROUP BY d.source, th.n_s, th.th ORDER BY d.source""".stripMargin,

    "samp_unimax" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |f AS (
        |  SELECT source, n,
        |    row_number() OVER (ORDER BY n, source) AS idx,
        |    coalesce(sum(n) OVER (ORDER BY n, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
        |    count(*) OVER () AS k,
        |    sum(n) OVER () // 2 AS b
        |  FROM c),
        |g AS (SELECT *, n * (k - idx + 1) <= b - cumb AS fullsrc FROM f),
        |h AS (
        |  SELECT *,
        |    sum(CASE WHEN fullsrc THEN 1 ELSE 0 END) OVER () AS nfull,
        |    sum(CASE WHEN fullsrc THEN n ELSE 0 END) OVER () AS cumfull
        |  FROM g)
        |SELECT source, CAST(n AS BIGINT) AS n_docs,
        |  CAST(CASE WHEN fullsrc THEN n
        |    ELSE (b - cumfull) // (k - nfull) +
        |      CASE WHEN idx > k - ((b - cumfull) % (k - nfull)) THEN 1 ELSE 0 END
        |    END AS BIGINT) AS alloc,
        |  NOT fullsrc AS capped
        |FROM h ORDER BY source""".stripMargin,

    "samp_weighted" ->
      s"""SELECT doc_id, CAST(greatest(length(text), 1) AS BIGINT) AS weight,
         |  round(-ln((${hash32Sql("CAST(doc_id AS VARCHAR)")} + 1.0) / 4294967296.0)
         |        / greatest(length(text), 1) * 1000.0, 6) AS samp_key
         |FROM documents
         |ORDER BY samp_key, doc_id LIMIT 100""".stripMargin,

    "split_assign" ->
      s"""SELECT split, count(*) AS n FROM (
         |  SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT ${hash32Sql("CAST(doc_id AS VARCHAR)")} % 100 AS h FROM documents))
         |GROUP BY split ORDER BY split""".stripMargin,

    "a9_pivot_api" ->
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'view') AS view,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'error') AS error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "a10_unpivot" ->
      """WITH s AS (
        |  SELECT l_returnflag,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        |    CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS tax,
        |    CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS disc
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT * FROM (
        |  SELECT l_returnflag, 'qty' AS stat, qty AS value FROM s
        |  UNION ALL SELECT l_returnflag, 'tax', tax FROM s
        |  UNION ALL SELECT l_returnflag, 'disc', disc FROM s)
        |ORDER BY l_returnflag, stat""".stripMargin,

    "hof_funcs" ->
      """SELECT doc_id,
        |  list_contains(string_split(lower(text), ' '), 'join') AS has_join,
        |  len(list_filter(string_split(lower(text), ' '), tk -> length(tk) <= 1)) = 0 AS all_multichar,
        |  CAST(len(list_filter(string_split(lower(text), ' '), tk -> length(tk) = 4)) AS BIGINT) AS n_len4,
        |  CAST(coalesce(list_sum(list_transform(string_split(lower(text), ' '), tk -> length(tk))), 0) AS BIGINT) AS total_chars,
        |  array_to_string(list_sort(list_distinct(string_split(lower(text), ' ')))[1:3], ' ') AS first3_sorted
        |FROM documents ORDER BY doc_id""".stripMargin,

    "arr_collect" ->
      """SELECT l_returnflag,
        |  array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
        |  count(DISTINCT l_suppkey) AS n_supp
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "regexp_groups" ->
      """SELECT p_partkey,
        |  regexp_extract(p_type, '^([a-z]+) ?([a-z]*)', 1) AS g1,
        |  regexp_extract(p_type, '^([a-z]+) ?([a-z]*)', 2) AS g2,
        |  regexp_extract(p_type, '(zzz)', 1) AS no_match
        |FROM part ORDER BY p_partkey""".stripMargin,

    "a8_corr_exact" ->
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round((sxy - sx * sy / n)
        |    / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)), 10) AS corr_qty_price
        |FROM s ORDER BY l_returnflag""".stripMargin,

    "w4_range_frame" ->
      """SELECT user_id, event_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)))
        |       OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS trailing_5m
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "mb_maxby" ->
      """SELECT user_id,
        |  arg_max(event_id, value * 100000 + event_id) AS top_event,
        |  max(value) AS max_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "o4_topk_heap" ->
      """SELECT p_brand, rn, p_partkey, p_retailprice FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |         row_number() OVER (PARTITION BY p_brand
        |                            ORDER BY p_retailprice DESC, p_partkey) AS rn
        |  FROM part) WHERE rn <= 10 ORDER BY p_brand, rn""".stripMargin,

    "str_funcs" ->
      """SELECT p_partkey,
        |  upper(p_brand) AS brand_u,
        |  substring(p_type, 1, 8) AS type_pfx,
        |  split_part(p_type, ' ', 1) AS type_head,
        |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
        |  translate(p_type, 'ae', 'AE') AS type_tr,
        |  reverse(p_brand) AS brand_rev,
        |  levenshtein(p_brand, 'Brand#13') AS lev_13,
        |  CAST(strpos(p_type, 'a') AS BIGINT) AS pos_a,
        |  CAST(length(p_type) AS BIGINT) AS type_len
        |FROM part ORDER BY p_partkey""".stripMargin,

    "date_funcs" ->
      """SELECT o_orderkey,
        |  datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
        |  CAST(o_orderdate + INTERVAL 1 MONTH AS DATE) AS next_month,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(month(o_orderdate) AS INT) AS m,
        |  CAST(day(o_orderdate) AS INT) AS d,
        |  CAST(isodow(o_orderdate) - 1 AS INT) AS dow_mon0,
        |  CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start
        |FROM orders ORDER BY o_orderkey""".stripMargin)
}
