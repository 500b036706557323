package graft.operators

import graft.Exact.{cents, dec, hugeint}
import graft.Pairs
import graft.Tables.load
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Coverage wave 3 (round 6): the scale patterns a 100 TB pipeline reaches
  * for when the built-in operator shapes start to hurt —
  *
  *  - `skew_distinct_2phase`: exact count-distinct over a hot grouping key,
  *    decomposed into two keyed aggregations so the first shuffle spreads a
  *    hot key over its (key, member) pairs instead of funneling every row of
  *    the hot group through one reducer. This is the general salting
  *    pattern with the distinct member itself as the salt — no accuracy
  *    trade, identical results to `count(DISTINCT ...)`.
  *  - `j7_range_bin`: a pure range join (no equi-key) rewritten as an
  *    equi-join on a time bucket. Each interval explodes to the O(1)
  *    buckets it covers, points are bucketed map-side, and the exact range
  *    predicate runs after the bucket equi-match — so the join never
  *    degenerates into the O(n·m) broadcast-nested-loop Spark would
  *    otherwise plan for an inequality-only condition.
  *  - `scd2_intervals`: slowly-changing-dimension type-2 build from an
  *    event log — collapse consecutive same-value runs per key, emit
  *    [valid_from, valid_to) with a current-row flag. One shuffle on the
  *    dimension key; both windows ride the same partitioning.
  *  - `dd_paragraph`: cross-document duplicate-paragraph detection
  *    (RefinedWeb-style): fixed-width non-overlapping token chunks, md5 per
  *    chunk, one keyed aggregation to find chunks shared by 2+ documents.
  *    Map-side chunking, a single shuffle on the chunk hash.
  *
  *  - `rec_cooccur`: market-basket co-occurrence (the affinity primitive
  *    behind "users who bought X also bought Y"). Pairs are generated
  *    map-side from each order's sorted item set after ONE groupBy on the
  *    order key — never a self-join of the fact table — so the join input
  *    is Σ k² over basket sizes k (TPC-H k≈4–7), not n².
  *  - `a13_moments`: exact skewness / excess kurtosis from integer power
  *    sums. The quantity is rescaled to an integer (2 dp → ×100), the four
  *    power sums accumulate exactly (decimal(38,0) / HUGEINT), and the
  *    final moment arithmetic is the identical IEEE double expression tree
  *    on both engines (sqrt-only, no libm pow), so the cross-engine hash
  *    matches bit-for-bit before the round() guard even matters.
  *
  * Parity rules follow waves 1–2: total ORDER BY over all output columns,
  * decimal-exact sums, bucket arithmetic in integer (`div`) so both engines
  * and any partitioning agree bit-for-bit.
  */
object Relational3 {

  type Q = (SparkSession, String) => DataFrame

  private val BucketUs = 600000000L // 10-minute range-join buckets, in µs
  private val ParaSize = 24 // tokens per dd_paragraph chunk
  private val LineSize = 12 // tokens per dd_line_filter pseudo-line
  private val LineDfMax = 3 // dd_line_filter: drop chunks in >= this many docs
  private val ZBits = 10 // zorder_key interleave width per dimension

  /** Per-basket pair fan-out cap for `rec_cooccur`/`rec_item_sim`. The
    * map-side pair explode is O(k²) in basket size k; TPC-H baskets are
    * ≤ 7 items, but one adversarial 10⁶-item mega-basket (a bot account,
    * a catalog-wide "order") would detonate a single task with ~5·10¹¹
    * pairs BEFORE any support filter can prune. The basket is therefore
    * deterministically truncated to its `MaxBasket` smallest item keys
    * (the set is already sorted), bounding any one task's fan-out at
    * MaxBasket²/2 ≈ 2.1M pairs — a few MB, comfortably inside one
    * executor task. Items beyond the cap in a pathological basket simply
    * don't vote for pairs; every co-occurrence metric downstream is a
    * frequency over well-formed baskets, and a 2048+-item basket carries
    * no basket-affinity signal (it is noise by definition — the same
    * adjudication ALS/market-basket systems apply with their own basket
    * caps). The cap never binds on sane data; ScaleDesignSpec seeds a
    * mega-basket and pins the bounded fan-out.
    */
  private[graft] val MaxBasket = 2048

  /** Shared basket→ordered-pair explode for the rec_* family: ONE groupBy
    * on the order key, then map-side generation ([[graft.Pairs.within]]) of
    * the (pa < pb) pairs from each order's sorted, `MaxBasket`-capped item
    * set — never a self-join of the fact table, so the shuffle input is
    * Σ min(k,cap)² over basket sizes k, not n². Output column: `pr` =
    * struct(pa, pb).
    */
  private[graft] def basketPairs(items: DataFrame): DataFrame =
    items
      .groupBy("l_orderkey")
      .agg(slice(sort_array(collect_set(col("l_partkey"))), 1, MaxBasket)
        .as("ps"))
      .select(Pairs.within(col("ps"))((x, y) => struct(x.as("pa"), y.as("pb"))).as("pr"))
  /** prof_inclusion candidate (child table, child col, parent table,
    * parent col) pairs — the five real TPC-H FKs + three reverse probes.
    * Shared by the Spark side and the generated oracle so the dep labels
    * can never drift. */
  private val IncPairs = Seq(
    ("customer", "c_custkey", "orders", "o_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("part", "p_partkey", "lineitem", "l_partkey"))

  private val KRec = 5 // rec_coverage: recommendation-list length
  private val TostMarginCents = 50.0 // a37_tost: ±equivalence margin δ

  /** Shared by a21_welch_t and a37_tost: per-type decimal-exact power
    * sums (n, Σc, Σc² in integer cents) crossed into ordered pairs with
    * the Welch means and per-mean variances as columns — ma/mb = Σc/n,
    * va/vb = sample variance / n (the squared-SE building blocks). The
    * double trees are IDENTICAL to the pre-refactor a21 inline form
    * (the rateZ discipline: a helper moves code, never bits). */
  private def welchPairs(s: SparkSession, dir: String): DataFrame = {
    val st = load(s, dir, "events")
      .select(col("event_type"),
        cents(col("value")).as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
        sum(hugeint(col("c")) * col("c")).as("s2"))
    val b = st.select(col("event_type").as("type_b"), col("n").as("nb"),
      col("s1").as("s1b"), col("s2").as("s2b"))
    def m(n: org.apache.spark.sql.Column, s1: org.apache.spark.sql.Column) =
      s1.cast("double") / n.cast("double")
    def v(n: org.apache.spark.sql.Column, s1: org.apache.spark.sql.Column,
          s2: org.apache.spark.sql.Column) =
      (hugeint(n) * s2 - hugeint(s1) * s1).cast("double") /
        (n.cast("double") * (n.cast("double") - 1))
    st.crossJoin(broadcast(b))
      .where(col("event_type") < col("type_b"))
      .select(col("event_type").as("type_a"), col("type_b"),
        col("n"), col("nb"),
        m(col("n"), col("s1")).as("ma"), m(col("nb"), col("s1b")).as("mb"),
        (v(col("n"), col("s1"), col("s2")) / col("n").cast("double")).as("va"),
        (v(col("nb"), col("s1b"), col("s2b")) / col("nb").cast("double"))
          .as("vb"))
  }

  /** The per-type value histogram the rank and distribution tests read:
    * (event_type, c, m) with m the multiplicity of the exact cents value
    * c. Ranks, CDFs and medians then ride distinct values, not events. */
  private def centsHistogram(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      .select(col("event_type"), cents(col("value")).as("c"))
      .groupBy("event_type", "c").agg(count(lit(1)).as("m"))

  /** The pooled sample of every unordered pair of event types, on the
    * [[centsHistogram]]: `(type_a < type_b, c, ca, cb)` with ca / cb the
    * multiplicity of cents value c in type_a / type_b (0 where absent).
    * The ×(types − 1) pair explode rides the value-domain-scale histogram
    * against one broadcast type list; one event type gives no row. */
  private def typePairs(s: SparkSession, dir: String): DataFrame = {
    val h = centsHistogram(s, dir)
    val tys = h.select(col("event_type").as("t2")).distinct()
    h.crossJoin(broadcast(tys))
      .where(col("t2") =!= col("event_type"))
      .select(least(col("event_type"), col("t2")).as("type_a"),
        greatest(col("event_type"), col("t2")).as("type_b"),
        col("event_type").as("own"), col("c"), col("m"))
      .groupBy("type_a", "type_b", "c")
      .agg(sum(when(col("own") === col("type_a"), col("m")).otherwise(0L)).as("ca"),
        sum(when(col("own") === col("type_b"), col("m")).otherwise(0L)).as("cb"))
  }

  /** Per type pair of [[typePairs]]: its sample sizes (na, nb) and the
    * aggregate `stat` over the pair's value rows, which carry ca, cb, na,
    * nb and the CDF counts through c, cuma and cumb (per-pair windows on
    * the histogram frame). */
  private def cdfStat(s: SparkSession, dir: String, stat: Column): DataFrame = {
    val wCdf = Window.partitionBy("type_a", "type_b").orderBy("c")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy("type_a", "type_b")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    typePairs(s, dir)
      .withColumn("cuma", sum(col("ca")).over(wCdf))
      .withColumn("cumb", sum(col("cb")).over(wCdf))
      .withColumn("na", sum(col("ca")).over(wAll))
      .withColumn("nb", sum(col("cb")).over(wAll))
      .groupBy("type_a", "type_b")
      .agg(max(col("na")).as("na"), max(col("nb")).as("nb"), stat)
  }

  /** cuma·nb − cumb·na, the CDF gap F_a − F_b at c scaled by na·nb: an
    * exact HUGEINT integer. */
  private def cdfGap: Column =
    hugeint(col("cuma")) * col("nb") - hugeint(col("cumb")) * col("na")

  /** Σ `term` over a pair's value rows, folded in c order so the double
    * sum is the same on any partitioning and in the oracle. */
  private def cOrderedSum(term: Column): Column =
    aggregate(transform(array_sort(collect_list(struct(col("c"), term.as("t")))),
      x => x.getField("t")), lit(0.0), (a, t) => a + t)

  private val ErWindow = 5 // er_fuzzy_match sorted-neighborhood width
  private val ErMaxDist = 2 // er_fuzzy_match Levenshtein accept threshold
  private val SkyBucketW = 1000L // q_skyline price-bucket width, cents
  private val QualityBudget = 100L // samp_quality_budget: global doc budget
  private val SaltR = 8 // j10_salted_join: salt fan-out per dimension row
  private val NeymanBudget = 200 // samp_neyman: global sample budget

  val queries: Map[String, Q] = Map(
    // Exact distinct-count over a skewed key via explicit two-phase
    // aggregation. Phase 1 shuffles on (event_type, user_id) — a hot
    // event_type is spread across as many reducers as it has distinct
    // users; phase 2 is a tiny rollup of pre-deduped pairs. Contrast with
    // a naive count(DISTINCT) planned as a single Expand whose hot group
    // lands on one task. At 100 TB the phase-1 cardinality is bounded by
    // the distinct pair count, not the row count.
    "skew_distinct_2phase" -> ((s, dir) =>
      load(s, dir, "events")
        .groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("n_u"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_users"), sum(col("n_u")).cast("long").as("n_events"))
        .orderBy("event_type")),

    // Binned range join: purchases occurring within 10 minutes after each
    // error event, with NO equi-key between the two sides. The interval
    // side explodes to the (at most 2) buckets it overlaps, the point side
    // computes its single bucket map-side, and the exact range predicate
    // rides the join condition (kept there, not a post-filter, so the LEFT
    // semantics count zero-match errors). Integer `div` bucketing keeps
    // both sides' bucket math exact and engine-independent.
    "j7_range_bin" -> ((s, dir) => {
      val ev = load(s, dir, "events").withColumn("us", unix_micros(col("ts")))
      val errs = ev.where(col("event_type") === "error")
        .select(col("event_id").as("e_id"), col("us").as("e_us"),
          explode(sequence(expr("us div 600000000"),
            expr(s"(us + ${BucketUs - 1}) div 600000000"))).as("b"))
      val purch = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("us").as("p_us"),
          col("value").as("p_value"), expr("us div 600000000").as("pb"))
      errs.join(purch,
          errs("b") === purch("pb") &&
            purch("p_us") >= errs("e_us") &&
            purch("p_us") < errs("e_us") + BucketUs,
          "left")
        .groupBy(col("e_id").as("event_id"))
        .agg(count(col("p_id")).as("n_purch"),
          coalesce(sum(dec(col("p_value"))), dec(lit(0))).cast("double").as("purch_value"))
        .orderBy("event_id")
    }),

    // SCD2 dimension build: each user's event_type history collapsed to
    // change rows with validity intervals. lag() finds the change points,
    // lead() over the surviving rows closes each interval; both windows
    // share the (user_id) partitioning so the plan pays one shuffle. The
    // open interval is closed with a fixed far-future sentinel (house rule:
    // no engine-generated NULL ordering in the comparison).
    "scd2_intervals" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      load(s, dir, "events")
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .where(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
        .withColumn("valid_to",
          coalesce(lead(col("ts"), 1).over(w), lit("2099-12-31 00:00:00").cast("timestamp")))
        .select(col("user_id"), col("event_type"), col("ts").as("valid_from"),
          col("valid_to"),
          (col("valid_to") === lit("2099-12-31 00:00:00").cast("timestamp"))
            .cast("int").as("is_current"))
        .orderBy("user_id", "valid_from")
    }),

    // Z-order clustering key over (user_id, props.k): the layout primitive
    // for multi-dimensional file skipping. The key itself is what the
    // oracle checks (bit-for-bit vs DuckDB via the shared formula in
    // graft.functions.ZOrder); the clustering property it buys — chunk
    // min/max ranges shrink on BOTH dimensions after a zkey sort — is
    // pinned in ScaleDesignSpec.
    "zorder_key" -> ((s, dir) =>
      load(s, dir, "events")
        .select(col("event_id"),
          graft.functions.ZOrder.zkey(
            pmod(col("user_id").cast("long"), lit(1L << ZBits)), // explicit mask
            get_json_object(col("props"), "$.k").cast("long"), ZBits).as("zkey"))
        .orderBy("event_id")),

    // Outlier flagging against exact per-group percentile fences (the
    // IQR rule) — the anomaly-count step of a data-quality monitor. The
    // per-group fences are a 5-row aggregate broadcast back to the scan;
    // the flagging is map-side; one keyed agg summarizes. percentile()
    // (exact interpolated) mirrors DuckDB quantile_cont bit-for-bit on
    // this data (the a5_median_pct precedent); round(6) guards the
    // fence arithmetic.
    "prof_outliers" -> ((s, dir) => {
      val fences = load(s, dir, "events")
        .groupBy(col("event_type").as("ft"))
        .agg(percentile(col("value"), lit(0.25)).as("q1"),
          percentile(col("value"), lit(0.75)).as("q3"))
        .select(col("ft"), round(col("q1") - (col("q3") - col("q1")) * 1.5, 6).as("lo"),
          round(col("q3") + (col("q3") - col("q1")) * 1.5, 6).as("hi"))
      load(s, dir, "events")
        .join(broadcast(fences), col("event_type") === col("ft"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum((col("value") < col("lo") || col("value") > col("hi")).cast("long"))
            .as("n_outliers"),
          min(col("lo")).as("lo"), min(col("hi")).as("hi"))
        .orderBy("event_type")
    }),

    // Stratified deterministic subsample: exactly k rows per stratum,
    // chosen by content-stable hash rank — the reproducible equivalent of
    // a per-group reservoir sample (same rows on any cluster, any run,
    // any engine; no RNG state to coordinate). Lowest-k-by-hash runs on
    // the k-bounded heap aggregate (TopKAgg), NOT a per-stratum
    // row_number window: event_type has a handful of values, so the
    // window form would sort each stratum's entire timeline through one
    // task, while the heap keeps map-side partials — at most k triples
    // per stratum per partition cross the wire. Score is −h (heap keeps
    // the HIGHEST scores = lowest hashes; h < 2³² so the double negation
    // is exact), ties to the lowest event_id — exactly the oracle's
    // ORDER BY h, event_id — and the value rides the heap as payload so
    // no second scan re-fetches the survivors.
    "samp_stratified" -> ((s, dir) => {
      load(s, dir, "events")
        .withColumn("h", graft.Exact.hash32(col("event_id").cast("string")))
        .groupBy("event_type")
        .agg(graft.plans.TopKAgg.topkTriples(
          -col("h").cast("double"), col("event_id"), col("value"), 100).as("top"))
        .select(col("event_type"), explode(col("top")).as("t"))
        .select(col("event_type"), (-col("t.score")).cast("long").as("h"),
          col("t.payload").as("value"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("sum_value"),
          min(col("h")).as("h_min"))
        .orderBy("event_type")
    }),

    // Freshness/staleness profile per event type — the standing ops
    // monitor of a production ingest ("which feed stopped?"): last event
    // time, staleness vs the corpus watermark (exact integer µs), and
    // trailing 24h/7d row counts measured FROM the corpus watermark (not
    // wall clock — deterministic and oracle-checkable). ONE keyed
    // aggregate with conditional counts; the watermark rides a one-row
    // broadcast joined before aggregation so the trailing predicates are
    // map-side.
    "prof_freshness" -> ((s, dir) => {
      val ev = load(s, dir, "events")
        .select(col("event_type"), unix_micros(col("ts")).as("us"))
      val wm = ev.groupBy().agg(max("us").as("wm"))
      ev.crossJoin(broadcast(wm))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          max("us").as("last_us"),
          sum(when(col("us") >= col("wm") - 86400000000L, 1L).otherwise(0L))
            .as("n_last_24h"),
          sum(when(col("us") >= col("wm") - 7L * 86400000000L, 1L).otherwise(0L))
            .as("n_last_7d"),
          max("wm").as("wm"))
        .select(col("event_type"), col("n_rows"),
          timestamp_micros(col("last_us")).as("last_ts"),
          (col("wm") - col("last_us")).as("staleness_us"),
          col("n_last_24h"), col("n_last_7d"))
        .orderBy("event_type")
    }),

    // Candidate-key discovery (the data-profiling staple behind "what can
    // I join/dedup on"): for each candidate column set over events, the
    // exact distinct count vs the row count and a uniqueness verdict.
    // Each distinct count is a keyed aggregate + metadata rollup (the
    // skew_distinct_2phase shape — a hot key spreads over its member
    // pairs, no count-distinct Expand); the four candidates are four
    // passes over one cached scan, unioned into a 4-row report.
    "prof_keys" -> ((s, dir) => {
      val ev = load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
        .localCheckpoint()
      val nRows = ev.count()
      def probe(cols: Seq[String]): DataFrame =
        ev.select(cols.map(col): _*).groupBy(cols.map(col): _*)
          .agg(count(lit(1)).as("m"))
          .groupBy()
          .agg(count(lit(1)).as("n_distinct"))
          .select(lit(cols.mkString(",")).as("key_cols"),
            col("n_distinct"), lit(nRows).as("n_rows"),
            (col("n_distinct") === nRows).cast("long").as("is_unique"))
      Seq(Seq("event_id"), Seq("ts"), Seq("user_id", "ts"),
        Seq("user_id", "event_type", "ts"))
        .map(probe).reduce(_ unionAll _)
        .orderBy("key_cols")
    }),

    // HyperLogLog distinct-count sketch (Flajolet et al. 2007), p = 12
    // (4096 registers), per event type — THE cardinality pattern at
    // 100 TB: one map pass computes (bucket, rho) per row, a 4096-row-
    // per-type partial-aggregating max builds the registers, and the
    // estimate folds from the register table; the data-scale shuffle of
    // an exact distinct never happens. Fully deterministic and hence
    // oracle-checkable: the hash is the house md5-derived [[hash32]]
    // (bucket = top 12 bits, rho = leading-zero count of the low 20 bits
    // + 1 via 21 − length(bin(rem)) — pure integer string length, no
    // log2 boundary risk). The harmonic denominator Σ 2^−M_j is EXACT
    // dyadic double arithmetic (terms ≥ 2^−21, total < 2^12 — a 33-bit
    // span, inside the 53-bit mantissa), so every partial sum is exact
    // and summation ORDER is irrelevant — the one float reduction in
    // the query needs no fold discipline. 2^−mx is written 1/(1<<mx)
    // (integer shift then exact division), never pow(). The linear-
    // counting branch (raw ≤ 2.5m with empty registers) uses ln, the
    // ta_entropy cross-engine precedent. sum_rho is the integer
    // register checksum — hash parity over all 4096 registers without
    // emitting them. n_exact (skew-safe distinct-then-count) makes the
    // sketch self-auditing via rel_err.
    "prof_hll" -> ((s, dir) => {
      val regs = load(s, dir, "events")
        .select(col("event_type"),
          graft.Exact.hash32(concat(lit("u:"), col("user_id").cast("string")))
            .as("h32"))
        .select(col("event_type"), expr("h32 div 1048576").as("bk"),
          expr("h32 % 1048576").as("rem"))
        .select(col("event_type"), col("bk"),
          when(col("rem") === 0, lit(21L))
            .otherwise(lit(21L) - length(bin(col("rem")))).as("rho"))
        .groupBy("event_type", "bk").agg(max("rho").as("mx"))
      val sk = regs.groupBy("event_type")
        .agg(count(lit(1)).as("nz"), sum("mx").as("sum_rho"),
          sum(expr("1.0 / cast(shiftleft(1L, cast(mx as int)) as double)"))
            .as("sneg"))
      val ex = load(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
        .groupBy("event_type").agg(count(lit(1)).as("n_exact"))
      val alphaM2 = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(4096.0)) *
        lit(4096.0) * lit(4096.0)
      val denom = (lit(4096L) - col("nz")).cast("double") + col("sneg")
      val raw = alphaM2 / denom
      val v = lit(4096L) - col("nz")
      val est = when(raw <= lit(10240.0) && v > 0,
        lit(4096.0) * log(lit(4096.0) / v.cast("double"))).otherwise(raw)
      sk.join(broadcast(ex), "event_type")
        .select(col("event_type"), lit(4096L).as("m_regs"),
          v.as("zero_regs"), col("sum_rho"), col("n_exact"),
          round(est, 6).as("hll_est"),
          round((est - col("n_exact").cast("double")) /
            col("n_exact").cast("double"), 6).as("rel_err"))
        .orderBy("event_type")
    }),

    // The MERGEABILITY proof for prof_hll — the property that makes
    // sketches work at 100 TB (Agarwal et al. 2012 "Mergeable
    // Summaries"): build registers PER DAY (the partial-aggregation
    // shape a partitioned ingest produces), register-wise MAX-merge
    // across days, and estimate from the merged table. max-of-maxes
    // equals the global max, so the merged registers — and hence the
    // estimate — must equal prof_hll's single-pass values exactly; the
    // query materializes the two-level plan and the spec pins the
    // equality. Adds a days column so the merge fan-in is visible.
    "prof_hll_merge" -> ((s, dir) => {
      val base = load(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("d"),
          graft.Exact.hash32(concat(lit("u:"), col("user_id").cast("string")))
            .as("h32"))
        .select(col("event_type"), col("d"), expr("h32 div 1048576").as("bk"),
          expr("h32 % 1048576").as("rem"))
        .select(col("event_type"), col("d"), col("bk"),
          when(col("rem") === 0, lit(21L))
            .otherwise(lit(21L) - length(bin(col("rem")))).as("rho"))
        .localCheckpoint()
      val daily = base.groupBy("event_type", "d", "bk").agg(max("rho").as("mx"))
      val merged = daily.groupBy("event_type", "bk").agg(max("mx").as("mx"))
      val nDays = base.select("event_type", "d").distinct()
        .groupBy("event_type").agg(count(lit(1)).as("n_days"))
      val sk = merged.groupBy("event_type")
        .agg(count(lit(1)).as("nz"), sum("mx").as("sum_rho"),
          sum(expr("1.0 / cast(shiftleft(1L, cast(mx as int)) as double)"))
            .as("sneg"))
      val alphaM2 = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(4096.0)) *
        lit(4096.0) * lit(4096.0)
      val denom = (lit(4096L) - col("nz")).cast("double") + col("sneg")
      val raw = alphaM2 / denom
      val v = lit(4096L) - col("nz")
      val est = when(raw <= lit(10240.0) && v > 0,
        lit(4096.0) * log(lit(4096.0) / v.cast("double"))).otherwise(raw)
      sk.join(broadcast(nDays), "event_type")
        .select(col("event_type"), col("n_days"), v.as("zero_regs"),
          col("sum_rho"), round(est, 6).as("hll_est"))
        .orderBy("event_type")
    }),

    // K-minimum-values distinct sketch (Bar-Yossef et al. 2002; the
    // KMV/theta-sketch family) per event type — the mergeable
    // cardinality estimator that complements prof_hll with tunable
    // accuracy at k·8 bytes: keep the k = 256 SMALLEST distinct hash
    // values (the TopKAgg bounded heap with negated score — only k rows
    // per partition ever cross the wire), then D̂ = (k−1)/u_(k) with
    // u_(k) the kth smallest hash normalized to (0,1); when fewer than
    // k distinct hashes exist the sketch IS the exact count. n_hashes
    // (distinct 32-bit hashes) sits beside n_exact (distinct users) so
    // the hash-collision loss is itself visible in the output. All
    // deterministic off the house hash32; the one double expression is
    // shared literal-for-literal.
    "prof_kmv" -> ((s, dir) => {
      val hs = load(s, dir, "events")
        .select(col("event_type"),
          graft.Exact.hash32(concat(lit("u:"), col("user_id").cast("string")))
            .as("h"))
        .distinct()
        .localCheckpoint()
      val sk = hs.groupBy("event_type")
        .agg(count(lit(1)).as("n_hashes"),
          graft.plans.TopKAgg.topkPairs(
            -col("h").cast("double"), col("h"), 256).as("arr"))
        .select(col("event_type"), col("n_hashes"),
          element_at(col("arr"),
            least(size(col("arr")), lit(256)).cast("int"))
            .getField("id").as("kth_hash"))
      val ex = load(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
        .groupBy("event_type").agg(count(lit(1)).as("n_exact"))
      val est = when(col("n_hashes") < 256, col("n_hashes").cast("double"))
        .otherwise(lit(255.0) /
          ((col("kth_hash").cast("double") + 0.5) / lit(4294967296.0)))
      sk.join(broadcast(ex), "event_type")
        .select(col("event_type"), col("n_hashes"), col("kth_hash"),
          col("n_exact"), round(est, 6).as("kmv_est"),
          round((est - col("n_exact").cast("double")) /
            col("n_exact").cast("double"), 6).as("rel_err"))
        .orderBy("event_type")
    }),

    // Count–Min frequency sketch (Cormode & Muthukrishnan 2005), d = 4
    // rows × w = 1024 counters, keyed on user_id — the frequency member
    // of the sketch suite (prof_hll = cardinality, dd_bloom =
    // membership): one map pass explodes each event into its 4 (row,
    // position) cells, a partial-aggregating count builds the 4096-cell
    // table (THE bounded-shuffle way to approximate per-key counts at
    // 100 TB), and the 5 true-heaviest users probe it — emitting the
    // estimate, the truth, and the overestimate (CMS never
    // underestimates; the oracle enforces the inequality implicitly by
    // matching the exact min-of-cells). Deterministic: positions are
    // Kirsch–Mitzenmacher double hashing off the same md5-derived
    // hash32 as prof_hll (h1 = top 16 bits, h2 = 2·(h % 2^15)+1,
    // pos_j = (h1 + j·h2) % 1024).
    "prof_cms" -> ((s, dir) => {
      def posJ(j: Int) =
        pmod(col("h1") + lit(j.toLong) * col("h2"), lit(1024L))
      val ev = load(s, dir, "events")
        .select(col("user_id"),
          graft.Exact.hash32(concat(lit("u:"), col("user_id").cast("string")))
            .as("h"))
        .select(col("user_id"), expr("h div 65536").as("h1"),
          (expr("h % 32768") * 2 + 1).as("h2"))
        .localCheckpoint()
      val cells = ev.select(explode(array((0 to 3).map(j =>
          struct(lit(j.toLong).as("j"), posJ(j).as("pos"))): _*)).as("c"))
        .groupBy(col("c.j").as("j"), col("c.pos").as("pos"))
        .agg(count(lit(1)).as("cnt"))
      val top5 = ev.groupBy("user_id", "h1", "h2")
        .agg(count(lit(1)).as("true_cnt"))
        .orderBy(col("true_cnt").desc, col("user_id")).limit(5)
      top5.select(col("user_id"), col("true_cnt"),
          explode(array((0 to 3).map(j =>
            struct(lit(j.toLong).as("j"), posJ(j).as("pos"))): _*)).as("c"))
        .select(col("user_id"), col("true_cnt"), col("c.j").as("j"),
          col("c.pos").as("pos"))
        .join(broadcast(cells), Seq("j", "pos"))
        .groupBy("user_id", "true_cnt").agg(min("cnt").as("cms_est"))
        .select(col("user_id"), col("true_cnt"), col("cms_est"),
          (col("cms_est") - col("true_cnt")).as("over_est"))
        .orderBy(col("true_cnt").desc, col("user_id"))
    }),

    // Functional-dependency discovery — the profiling probe behind
    // "which columns determine which" (schema inference, normalization
    // audits, silent-denormalization detection): for each candidate
    // det → dep pair, the number of determinant groups, how many carry
    // >1 distinct dependent (violations), the worst fan-out, and the
    // holds verdict. Each probe is the prof_keys skew-safe shape — a
    // distinct (det, dep) agg then a keyed count, NEVER a per-group
    // count-distinct Expand — over one localCheckpointed scan shared by
    // all probes. All-integer output.
    "prof_fds" -> ((s, dir) => {
      val ev = load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .localCheckpoint()
      def probe(det: String, dep: String): DataFrame =
        ev.select(col(det).cast("string").as("d"),
            col(dep).cast("string").as("p"))
          .distinct()
          .groupBy("d").agg(count(lit(1)).as("k"))
          .groupBy()
          .agg(count(lit(1)).as("n_groups"),
            sum((col("k") > 1).cast("long")).as("n_violating"),
            max("k").as("max_distinct"))
          .select(lit(s"$det->$dep").as("fd"), col("n_groups"),
            col("n_violating"), col("max_distinct"),
            (col("n_violating") === 0).cast("long").as("holds"))
      Seq("event_id" -> "user_id", "event_id" -> "event_type",
        "user_id" -> "event_type", "event_type" -> "user_id")
        .map { case (a, b) => probe(a, b) }.reduce(_ unionAll _)
        .orderBy("fd")
    }),

    // Inclusion-dependency discovery (the FK-candidate profiling probe,
    // De Marchi et al. 2002 "Efficient Algorithms for Mining Inclusion
    // Dependencies"): for each candidate child-column ⊆ parent-column
    // pair, the child's distinct-value count, how many of those values
    // are absent from the parent, and the holds verdict — the probe that
    // recovers a lake's undeclared foreign keys. Shape per pair: one
    // DISTINCT per side (keyed hash agg — the fact table reduces to its
    // key cardinality before anything joins), one left-anti join on the
    // value, two one-row aggregates. Never a count-distinct Expand,
    // never a row-level join between fact tables. All-integer output;
    // the pair list covers the five real TPC-H FKs plus three reverse
    // probes so both verdicts are exercised.
    "prof_inclusion" -> ((s, dir) => {
      // Round 17 (§2.4): one LEFT join + ONE aggregate per probe instead of
      // an anti-join + two one-row aggregates + a crossJoin — n_distinct
      // and n_missing come out of the same pass (the left join preserves
      // each distinct child key exactly once because the parent side is
      // distinct). Identical output; 62 → ~38 stages for the 8-probe union
      // (the query was driver/stage-latency-bound: 3.2 s wall on 3.8
      // core-s of task work).
      def probe(ct: String, cc: String, pt: String, pc: String): DataFrame = {
        val c = load(s, dir, ct).select(col(cc).as("k")).distinct()
        val p = load(s, dir, pt).select(col(pc).as("k")).distinct()
          .withColumn("hit", lit(1L))
        c.join(p, Seq("k"), "left")
          .groupBy().agg(count(lit(1)).as("n_distinct"),
            count(when(col("hit").isNull, lit(1))).as("n_missing"))
          .select(lit(s"$ct.$cc<=$pt.$pc").as("dep"), col("n_distinct"),
            col("n_missing"), (col("n_missing") === 0).cast("long").as("included"))
      }
      IncPairs.map { case (ct, cc, pt, pc) => probe(ct, cc, pt, pc) }
        .reduce(_ unionAll _)
        .orderBy("dep")
    }),

    // Neyman-allocation stratified sampling — the survey-design optimum
    // (allocate budget ∝ N_h·σ_h, so volatile strata get more samples
    // per head): per-type σ comes from exact integer power sums (the
    // a13_moments identity, decimal/HUGEINT discriminant), the weight
    // total folds in stratum order, shares round(9) BEFORE the floor so
    // an ulp can never flip an allocation boundary, and each stratum's
    // quota fills by content-stable hash order on the TopKAgg bounded
    // heap (the samp_quality_budget shape — map-side partials, ≤ budget
    // rows per stratum per partition cross the wire; no per-stratum
    // rank window over data rows). RNG-free and reproducible on any
    // cluster.
    "samp_neyman" -> ((s, dir) => {
      val ev = load(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          cents(col("value")).as("c"))
        .localCheckpoint()
      val stats = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("c").as("cs"),
          sum(hugeint(col("c")) * col("c")).as("css"))
        // n = 1 guard (round-12, advisor-flagged): a single-event stratum
        // makes the sample variance 0/0 = NaN, which poisons the weight
        // TOTAL and hence every stratum's allocation — and asymmetrically
        // (Spark floor(NaN)→cast = 0 silently; DuckDB errors the CAST).
        // Degenerate strata carry no dispersion signal: weight 0 (they
        // still receive the greatest(1,·) floor allocation below).
        .withColumn("sigma", when(col("n") > 1, sqrt(
          (hugeint(col("n")) * col("css") - hugeint(col("cs")) * col("cs"))
            .cast("double") /
            (col("n").cast("double") * (col("n") - 1).cast("double"))))
          .otherwise(lit(0.0)))
        .withColumn("w", col("n").cast("double") * col("sigma"))
      val tot = stats.groupBy().agg(
        aggregate(transform(
          array_sort(collect_list(struct(col("event_type"), col("w")))),
          x => x.getField("w")), lit(0.0), (acc, x) => acc + x).as("tw"))
      val alloc = stats.crossJoin(broadcast(tot))
        .select(col("event_type"), col("n"),
          least(col("n"), greatest(lit(1L),
            when(col("tw") > 0,
              floor(round(lit(NeymanBudget) * col("w") / col("tw"), 9))
                .cast("long")).otherwise(lit(0L)))).as("alloc"))
      ev.withColumn("h",
          graft.Exact.hash32(col("event_id").cast("string")))
        .groupBy("event_type")
        .agg(graft.plans.TopKAgg.topkTriples(
          -col("h").cast("double"), col("event_id"), col("c").cast("double"),
          NeymanBudget).as("top"))
        .select(col("event_type"), posexplode(col("top")).as(Seq("ord", "t")))
        .join(broadcast(alloc), "event_type")
        .where(col("ord") < col("alloc"))
        .select(col("event_type"), col("n").as("n_stratum"), col("alloc"),
          (col("ord") + 1).cast("long").as("rank"),
          col("t.id").as("event_id"))
        .orderBy("event_type", "rank")
    }),

    // Quality-budgeted selection — the data-selection step that closes
    // the quality-scoring loop: spend a global doc budget across sources
    // in proportion to their size (floor allocation, ≥1 per source),
    // filling each source's quota with its HIGHEST-quality docs (TTR =
    // distinct-token ratio; ties → lowest doc_id). The per-source cut
    // runs on the TopKAgg bounded heap — source is low-cardinality, so a
    // per-source rank window over doc rows is the single-task trap; the
    // heap keeps map-side partials and at most budget-many triples per
    // source per partition cross the wire. Allocations come from a
    // metadata-scale count frame broadcast back; the heap array is
    // ordered (score desc, id asc) so the post-explode ordinal IS the
    // in-source quality rank.
    "samp_quality_budget" -> ((s, dir) => {
      val ws = filter(split(lower(col("text")), " "), w => w =!= "")
      // size(ws) = 0 guard: a whitespace-only doc would make TTR 0.0/0 —
      // NaN on Spark, engine-dependent in DuckDB — and NaN sorts
      // differently in the two rank orders (the ta_bpe_apply empty-doc
      // lesson). Filter on BOTH engines so the divisor is never zero.
      val d = load(s, dir, "documents")
        .where(size(ws) > 0)
        .select(col("source"), col("doc_id"),
          (size(array_distinct(ws)).cast("double") / size(ws)).as("ttr"))
      val counts = d.groupBy("source").agg(count(lit(1)).as("ns"))
      val tot = counts.groupBy().agg(sum("ns").as("nt"))
      val alloc = counts.crossJoin(broadcast(tot))
        .select(col("source"),
          least(col("ns"),
            greatest(lit(1L), expr(s"($QualityBudget * ns) div nt")))
            .as("alloc"))
      d.groupBy("source")
        .agg(graft.plans.TopKAgg.topkTriples(
          col("ttr"), col("doc_id"), col("ttr"), QualityBudget.toInt).as("top"))
        .select(col("source"), posexplode(col("top")).as(Seq("ord", "t")))
        .join(broadcast(alloc), "source")
        .where(col("ord") < col("alloc"))
        .select(col("source"), (col("ord") + 1).cast("long").as("rank"),
          col("t.id").as("doc_id"), round(col("t.score"), 6).as("ttr"))
        .orderBy("source", "rank")
    }),

    // Temporal (SCD2) dimension lookup: for every click, the state
    // interval active at click time — dimension = the user's last
    // non-click event type as [valid_from, valid_to) intervals, fact =
    // the click events. Round-11 rewrite: the round-10 form was a
    // user-keyed equi-join with the range predicate applied after
    // co-location — correct, but O(clicks × intervals) PER KEY, and the
    // hot-user probe (ReplicateSf hotUser: 10% of events on one user)
    // measured it at 72 s vs 2.5 s uniform at sf1 — its "each user
    // holds a handful of intervals" assumption is exactly what a
    // bot/tenant hot key breaks. This is the MERGE formulation: union
    // the state-change rows (kind 0) and clicks (kind 1) onto one
    // per-user timeline ordered by (ts, kind, event_id) — a change at
    // the same instant as a click sorts first, so the click sees the
    // NEW state, matching [valid_from, valid_to) join semantics — and
    // carry last state/valid_from with one running-frame window. LINEAR
    // per key whatever the skew (hot-user probe: ~2 s); identical
    // output, same DuckDB oracle (which keeps the definitional interval
    // -join form — the hash match proves the merge ≡ the join).
    // Time-in-state is exact integer µs.
    // Manually SALTED skew join — the static-plan complement of the
    // AQE-skew-split pin in ScaleDesignSpec: when one join key carries
    // most of the rows (event_type has a handful of values, so a plain
    // type-keyed shuffle join lands whole types on single tasks), the
    // standard fix is to EXPLODE the small dimension SaltR× and key the
    // fact side by (key, deterministic_salt) — every task then holds at
    // most 1/SaltR of a hot key. The salt is pmod(event_id, R) — content
    // -derived, NOT random (the RNG-free sampling discipline), so the
    // plan is deterministic and the DuckDB oracle is simply the UNSALTED
    // join: a hash match proves the salted form computes identical
    // semantics. The per-(type, salt) partial aggregate then rolls up
    // per type — the classic two-phase rollup riding the salted
    // partitioning. A plan pin asserts the salt column reaches the join
    // keys.
    "j10_salted_join" -> ((s, dir) => {
      val dim = load(s, dir, "events")
        .select(col("event_type")).distinct()
        .select(col("event_type"),
          (graft.Exact.hash32(col("event_type")) % 1000).as("tcode"))
      val saltedDim = dim.select(col("event_type"), col("tcode"),
        explode(sequence(lit(0L), lit(SaltR - 1L))).as("salt"))
      val fact = load(s, dir, "events")
        .select(col("event_type"), col("event_id"), col("value"),
          pmod(col("event_id"), lit(SaltR.toLong)).as("salt"))
      fact.join(saltedDim, Seq("event_type", "salt"))
        .groupBy("event_type", "salt")
        .agg(count(lit(1)).as("pn"), sum(graft.Exact.dec(col("value"))).as("pv"),
          max("tcode").as("tcode"))
        .groupBy("event_type")
        .agg(sum("pn").as("n"), sum("pv").cast("double").as("total_value"),
          max("tcode").as("tcode"))
        .select(col("event_type"), col("n"),
          round(col("total_value"), 2).as("total_value"), col("tcode"))
        .orderBy("event_type")
    }),

    // Band join — the |t_a − t_b| ≤ δ self-join (co-activity: for each
    // event, the other-user events within ±60 s), the interval cousin of
    // j7's fixed-bin join. The naive form is an O(n²) theta-join no
    // engine survives; the scale-correct form BUCKETS time at the band
    // width so the predicate becomes an equi-join: every match with
    // |Δt| ≤ δ lies in the same or an adjacent δ-bucket, so the probe
    // side replicates into exactly 3 bucket keys (map-side, ×3 — the
    // bounded fan-out) and the band filter runs AFTER the hash join.
    // Pair volume is n·(arrival rate)·2δ — δ is the documented cost
    // knob, and no task ever depends on n². Bucket ids use the pmod
    // floor-division (the ev_rate_test lesson: Spark `div` truncates,
    // DuckDB `//` floors; identical only via explicit floor). Exact
    // integer output (counts + min-gap micros), no doubles at all.
    "j9_band_join" -> ((s, dir) => {
      val bandUs = 60000000L // δ = 60 s in micros
      val ev = load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .localCheckpoint() // scanned twice: probe side and build side
      val fdiv = expr(s"(us - pmod(us, $bandUs)) div $bandUs")
      val probe = ev.withColumn("b",
        explode(array(fdiv - 1, fdiv, fdiv + 1)))
      val build = ev.select(col("us").as("r_us"), col("user_id").as("r_uid"),
        expr(s"(us - pmod(us, $bandUs)) div $bandUs").as("b"))
      probe.join(build, "b")
        .where(abs(col("us") - col("r_us")) <= bandUs &&
          col("r_uid") =!= col("user_id"))
        .groupBy("event_id", "event_type")
        .agg(count(lit(1)).as("n_near"),
          min(abs(col("us") - col("r_us"))).as("min_gap_us"))
        .orderBy("event_id")
    }),

    "j8_temporal_join" -> ((s, dir) => {
      val w0 = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val changes = load(s, dir, "events")
        .where(col("event_type") =!= "click")
        .withColumn("prev_type", lag(col("event_type"), 1).over(w0))
        .where(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
        .select(col("user_id"), col("ts"), col("event_id"),
          lit(0L).as("kind"), col("event_type").as("state"))
      val clicks = load(s, dir, "events")
        .where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"),
          lit(1L).as("kind"), lit(null).cast("string").as("state"))
      val wm = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("kind"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      changes.unionAll(clicks)
        .withColumn("state_c", last(col("state"), ignoreNulls = true).over(wm))
        .withColumn("since",
          last(when(col("kind") === 0, col("ts")), ignoreNulls = true).over(wm))
        .where(col("kind") === 1 && col("state_c").isNotNull)
        .select(col("event_id"), col("user_id"), col("state_c").as("state"),
          col("since").as("state_since"),
          (unix_micros(col("ts")) - unix_micros(col("since")))
            .as("time_in_state_us"))
        .orderBy("event_id")
    }),

    // Dataset drift monitor: population-stability index of the event-type
    // mix between two time windows (first vs second half of the month),
    // plus the per-type decimal-exact mean-value delta. The standing
    // data-quality check of a production ingest: one scan, one keyed agg,
    // a one-row broadcast for the window totals — no shuffle grows with
    // the data. ln() parity follows the ta_keywords rule: round(6) on
    // both engines absorbs libm ulp divergence.
    // Per-type Gini concentration index over value — the inequality
    // measure behind "is this type's volume concentrated in a few huge
    // events?" (revenue concentration, abuse spikes). Uses the
    // group-by-value identity instead of per-row ranks: tied cents c with
    // multiplicity m starting at rank r0 contribute
    // c·(m·r0 + m(m−1)/2) to Σ rank·value, so DOUBLED sums stay division-
    // free: 2T = Σ c·m·(2·r0 + m − 1), G = (2T − (n+1)·S)/(n·S). One
    // corpus-scale (type, cents) aggregation; the rank-offset window runs
    // over the distinct-cents frame, which is VALUE-DOMAIN-scale (the
    // a14_winsorize histogram argument) and sits above an aggregate, so no
    // row-level low-cardinality window exists. All sums are exact
    // (decimal(38,0)/HUGEINT over non-negative cents — domain pinned in
    // TestdataContractSpec); the final ratio is one identical double
    // expression, round(6).
    "a16_gini" -> ((s, dir) => {
      val grp = centsHistogram(s, dir)
      val wCum = Window.partitionBy("event_type").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, -1)
      grp
        .withColumn("r0", coalesce(sum(col("m")).over(wCum), lit(0L)) + 1)
        .groupBy("event_type")
        .agg(sum(col("m")).as("n"),
          sum(hugeint(col("c")) * col("m")).as("s"),
          sum(hugeint(col("c")) * col("m") *
            (lit(2) * col("r0") + col("m") - 1)).as("t2"))
        .select(col("event_type"), col("n"),
          round((col("t2").cast("double") -
              (col("n") + 1).cast("double") * col("s").cast("double")) /
            (col("n").cast("double") * col("s").cast("double")), 6).as("gini"))
        .orderBy("event_type")
    }),

    // Mann–Whitney U test between every pair of event types' value
    // distributions — the nonparametric "did the distribution shift"
    // test (robust where the t-test's normality assumption fails; the
    // classic A/B metric for skewed values). Group-by-value identity
    // again (the a16_gini trick): tied cents with combined multiplicity
    // m starting at rank r0 carry doubled midrank 2·r0 + m − 1, so the
    // DOUBLED rank sum R2 = Σ cA·(2r0+m−1) and tie correction
    // T = Σ (m³−m) stay division-free exact integers; 2U = R2 − nA(nA+1),
    // z = (2U − nA·nB) / (2σ) with the standard tie-corrected σ — one
    // identical double expression, round(6). Shape: one corpus-scale
    // (type, cents) aggregate; the ×(types−1) pair explode and the rank
    // window run on the value-domain-scale histogram frame.
    "a17_mwu" -> ((s, dir) => {
      val wCum = Window.partitionBy("type_a", "type_b").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, -1)
      val agg = typePairs(s, dir)
        .withColumn("r0", coalesce(sum(col("ca") + col("cb")).over(wCum), lit(0L)) + 1)
        .groupBy("type_a", "type_b")
        .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
          sum(hugeint(col("ca")) * (lit(2) * col("r0") + col("ca") + col("cb") - 1))
            .as("r2a"),
          sum(hugeint(col("ca") + col("cb")) * hugeint(col("ca") + col("cb")) *
            hugeint(col("ca") + col("cb")) - hugeint(col("ca") + col("cb"))).as("t3"))
      val u2 = col("r2a").cast("double") -
        col("na").cast("double") * (col("na").cast("double") + 1)
      val n = col("na").cast("double") + col("nb").cast("double")
      val s2 = col("na").cast("double") * col("nb").cast("double") / 12.0 *
        ((n + 1) - col("t3").cast("double") / (n * (n - 1)))
      agg
        .select(col("type_a"), col("type_b"), col("na").as("n_a"),
          col("nb").as("n_b"),
          round(u2 / 2.0 - col("na").cast("double") * col("nb").cast("double") / 2.0, 6)
            .as("u_minus_mean"),
          when(s2 > 0,
            round((u2 - col("na").cast("double") * col("nb").cast("double")) /
              (lit(2.0) * sqrt(s2)), 6)).as("z"))
        .orderBy("type_a", "type_b")
    }),

    // Two-sample Kolmogorov–Smirnov statistic between every pair of event
    // types — the CDF-distance companion to a17_mwu (KS sees shape
    // differences a rank test can miss). EXACT until the last division:
    // D = max_x |F_A(x) − F_B(x)| is computed as the integer maximum
    // M = max |cumA·nB − cumB·nA| over the merged cent histogram
    // (cross-multiplied CDFs — no per-step float), then D = M/(nA·nB) and
    // the asymptotic λ = D·√(nA·nB/(nA+nB)) in one identical double
    // expression, round(6). Same scale shape as a17_mwu: one corpus-scale
    // (type, cents) aggregate; pair explode + CDF windows on the
    // value-domain-scale histogram frame.
    "a18_ks" -> ((s, dir) => {
      val naD = col("na").cast("double")
      val nbD = col("nb").cast("double")
      cdfStat(s, dir, max(abs(cdfGap)).as("mx"))
        .select(col("type_a"), col("type_b"), col("na").as("n_a"),
          col("nb").as("n_b"),
          round(col("mx").cast("double") / (naD * nbD), 6).as("d"),
          round(col("mx").cast("double") / (naD * nbD) *
            sqrt(naD * nbD / (naD + nbD)), 6).as("lambda"))
        .orderBy("type_a", "type_b")
    }),

    // Two-sample Cramér–von Mises criterion between every pair of event
    // types — the INTEGRATED-squared-CDF-distance companion to a18_ks's
    // supremum: KS sees only the single worst gap, CvM accumulates every
    // gap weighted by pooled mass, so a distribution that differs a
    // little everywhere (but nowhere dramatically) lights up here first.
    // T = nm/N² · Σ_pooled (F_a − F_b)², histogram form: each distinct
    // cent value c with pooled mass w = ca + cb contributes
    // w·(cuma·nb − cumb·na)² / (nm)², so
    // T = Σ w·(cuma·nb − cumb·na)² / (N²·n·m). The inner difference
    // stays an exact decimal(38,0)/HUGEINT integer; each term goes to
    // double BEFORE the (value-domain-scale) c-sorted fold so no
    // decimal² overflow exists at any corpus size; one final division,
    // round(6). Scale: the a18_ks shape exactly — one corpus-scale
    // (type, cents) agg, ×(types−1) broadcast pair explode, histogram-
    // frame windows.
    "a35_cvm" -> ((s, dir) => {
      val dd = cdfGap.cast("double")
      val term = (col("ca") + col("cb")).cast("double") * (dd * dd)
      val naD = col("na").cast("double")
      val nbD = col("nb").cast("double")
      val nD = (col("na") + col("nb")).cast("double")
      cdfStat(s, dir, cOrderedSum(term).as("f"))
        .select(col("type_a"), col("type_b"), col("na").as("n_a"),
          col("nb").as("n_b"),
          round(col("f") / (nD * nD * naD * nbD), 6).as("t"))
        .orderBy("type_a", "type_b")
    }),

    // Two-sample Anderson–Darling statistic between every pair of event
    // types — the TAIL-WEIGHTED member completing the EDF-test trio
    // (a18_ks: supremum; a35_cvm: integrated; AD: integrated with
    // 1/(F(1−F)) weight, so tail divergence — exactly where pricing and
    // abuse shifts live — dominates). The discrete Pettitt/Scholz–
    // Stephens form collapses algebraically onto the SAME exact integer
    // the other two use (with N = na+nb, B = pooled cum count, the
    // numerator N·Ma − na·B = nb·Ma − na·Mb = D): A² =
    // Σ_{B<N} l·D²/(B·(N−B)) / (na·nb) with l the pooled mass at the
    // value. Every per-term factor is an exact decimal/HUGEINT integer;
    // terms go to double before the c-sorted fold, one final division,
    // round(6). Scale: the a18_ks histogram shape exactly.
    "a36_ad2" -> ((s, dir) => {
      val dd = cdfGap.cast("double")
      val bD = (col("cuma") + col("cumb")).cast("double")
      val nD = (col("na") + col("nb")).cast("double")
      val term = when(col("cuma") + col("cumb") < col("na") + col("nb"),
        (col("ca") + col("cb")).cast("double") * (dd * dd) /
          (bD * (nD - bD))).otherwise(lit(0.0))
      val naD = col("na").cast("double")
      val nbD = col("nb").cast("double")
      cdfStat(s, dir, cOrderedSum(term).as("f"))
        .select(col("type_a"), col("type_b"), col("na").as("n_a"),
          col("nb").as("n_b"),
          round(col("f") / (naD * nbD), 6).as("a2"))
        .orderBy("type_a", "type_b")
    }),

    // 2-D skyline / Pareto frontier over parts (minimize retail price,
    // maximize size) — the multi-criteria shortlist operator ("no other
    // part is both cheaper and bigger"). NOT the O(n²) dominance join:
    // a part is dominated iff the max size among STRICTLY cheaper parts
    // reaches its size, or an equal-priced part is strictly bigger — and
    // both maxima come from the ev_cumsum offset ladder: per price-bucket
    // maxima roll into a metadata-scale running-max table (broadcast
    // back), the in-bucket strictly-cheaper max runs in a bounded
    // (bucket) RANGE window over integer cents, and the equal-price max
    // partitions on the high-cardinality exact price. All-integer
    // dominance tests — engine-exact; the DuckDB oracle is the
    // independent NOT EXISTS dominance definition, so the bucketed
    // rewrite is checked against the textbook semantics, not a mirror of
    // itself.
    "q_skyline" -> ((s, dir) => {
      val p = load(s, dir, "part")
        .select(col("p_partkey"),
          cents(col("p_retailprice")).as("pc"),
          col("p_size").cast("long").as("sz"))
        .withColumn("b", expr(s"pc div $SkyBucketW"))
      val bmax = p.groupBy("b").agg(max("sz").as("bm"))
      val offW = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
      val off = bmax.select(col("b"),
        coalesce(max("bm").over(offW), lit(Long.MinValue)).as("off"))
      val inW = Window.partitionBy("b").orderBy("pc")
        .rangeBetween(Window.unboundedPreceding, -1)
      // equal-price max via RANGE [0,0] on the SAME (bucket) partitioning
      // (pc determines b, so the bucket partition already co-locates each
      // exact price — one exchange serves both windows)
      val eqW = Window.partitionBy("b").orderBy("pc").rangeBetween(0, 0)
      p.join(broadcast(off), "b")
        .withColumn("inm", coalesce(max("sz").over(inW), lit(Long.MinValue)))
        .withColumn("eqm", max("sz").over(eqW))
        .where(!(greatest(col("off"), col("inm")) >= col("sz") ||
          col("eqm") > col("sz")))
        .select(col("p_partkey"),
          (col("pc").cast("double") / 100.0).as("price"), col("sz").as("size"))
        .orderBy("p_partkey")
    }),

    // χ² independence cells between event_type and a derived user segment
    // (user_id mod 4 — the deterministic stand-in for a cohort/device
    // dimension): per cell the observed count, the independence
    // expectation R·C/n, and the Pearson residual (O − E)/√E — the
    // contingency diagnostic behind "does behavior differ by segment"
    // (cell residuals locate WHERE the table breaks independence; the χ²
    // total is Σ resid²). Exactness: O/R/C/n are integers, R·C in
    // decimal(38,0)/HUGEINT, and expected/resid are the identical
    // two-step double expression (e = RC/n once, then (O−e)/√e) on both
    // engines — bit-identical before the round(6) guard. Scale: ONE
    // corpus-scale (type, seg) count agg; row/col/grand totals are
    // rollups of the types×4 cell frame riding broadcasts.
    "a19_chi2_indep" -> ((s, dir) => {
      // localCheckpoint: the types×4 cell frame feeds four consumers
      // (cells + three total rollups); without it each consumer re-plans
      // the corpus scan+agg chain (measured 4 scans, 8 exchanges — the
      // dd_substring lineage lesson). Checkpointed: ONE corpus scan.
      val cells = load(s, dir, "events")
        .select(col("event_type"), pmod(col("user_id"), lit(4L)).as("seg"))
        .groupBy("event_type", "seg").agg(count(lit(1)).as("o"))
        .localCheckpoint()
      val rT = cells.groupBy("event_type").agg(sum("o").as("r"))
      val cT = cells.groupBy("seg").agg(sum("o").as("ct"))
      val nT = cells.groupBy().agg(sum("o").as("n"))
      val e = (hugeint(col("r")) * col("ct")).cast("double") /
        col("n").cast("double")
      cells.join(broadcast(rT), "event_type")
        .join(broadcast(cT), "seg")
        .crossJoin(broadcast(nT))
        .select(col("event_type"), col("seg"), col("o"),
          round(e, 6).as("expected"),
          round((col("o").cast("double") - e) / sqrt(e), 6).as("resid"))
        .orderBy("event_type", "seg")
    }),

    // Cramér's V effect size for the a19 contingency table — the scalar
    // that says whether a significant χ² MATTERS (V ∈ [0,1] is
    // sample-size-free, the number a segmentation decision actually
    // reads). Same exact-integer cell construction as a19_chi2_indep;
    // χ² = Σ (n·O − R·C)²/(n·R·C) folds over the types×segs cell frame
    // in (type, seg) order (numerators exact in decimal/HUGEINT), and
    // V = √(χ²/(n·min(r−1, c−1))). One corpus aggregate behind a
    // localCheckpoint; everything else is metadata-scale.
    "a24_cramers_v" -> ((s, dir) => {
      val cells = load(s, dir, "events")
        .select(col("event_type"), pmod(col("user_id"), lit(4L)).as("seg"))
        .groupBy("event_type", "seg").agg(count(lit(1)).as("o"))
        .localCheckpoint()
      val rT = cells.groupBy("event_type").agg(sum("o").as("r"))
      val cT = cells.groupBy("seg").agg(sum("o").as("ct"))
      val dims = cells.groupBy().agg(sum("o").as("n"),
        countDistinct("event_type").as("nr"), countDistinct("seg").as("nc"))
      val num = hugeint(col("n")) * col("o") - hugeint(col("r")) * col("ct")
      val term = (num * num).cast("double") /
        (hugeint(col("n")) * col("r") * col("ct")).cast("double")
      cells.join(broadcast(rT), "event_type")
        .join(broadcast(cT), "seg")
        .crossJoin(broadcast(dims))
        .select(col("event_type"), col("seg"), col("n"), col("nr"), col("nc"),
          term.as("t"))
        .groupBy("n", "nr", "nc")
        .agg(aggregate(
          transform(array_sort(collect_list(
            struct(col("event_type"), col("seg"), col("t")))),
            x => x.getField("t")),
          lit(0.0), (acc, x) => acc + x).as("chi2"))
        .select(col("n"), ((col("nr") - 1) * (col("nc") - 1)).as("df"),
          round(col("chi2"), 6).as("chi2"),
          round(sqrt(col("chi2") /
            (col("n").cast("double") * least(col("nr") - 1, col("nc") - 1))), 6)
            .as("cramers_v"))
    }),

    // Spearman rank correlation (tie-corrected) between hour-of-day and
    // value — the monotone-association diagnostic behind "do high-value
    // events cluster late in the day". Rank arithmetic is ALL-INTEGER
    // via the a16_gini doubling trick: the tie-averaged rank of value v
    // with multiplicity m after cumBefore smaller rows is
    // (2·cumBefore + m + 1)/2, so DOUBLED ranks are integers; and since
    // the mean doubled rank is exactly n+1, centered sums need no n·Σ−Σ²
    // correction: ρ = Σm·X'Y'/√(Σm·X'²·Σm·Y'²) with X' = R−(n+1). Every
    // sum accumulates decimal(38,0)/HUGEINT (|X'| ≤ n keeps Σm·X'² ≤ n³
    // — exact to n ≈ 4.6e12 events, past 100 TB); the one sqrt/divide is
    // an identical double expression, round(6). Scale: ONE corpus
    // (hour, cents) agg; hour ranks ride a 24-row frame; cents ranks use
    // the ev_rfm bucket LADDER (≤65537 adaptive buckets: bucket offsets
    // from an unpartitioned window over the bucket histogram, in-bucket
    // prefixes partitioned by bucket) so NO unpartitioned window touches
    // the unbounded cents domain; Σxy joins the joint histogram to the
    // rank frames (24-row broadcast + cents-keyed join of domain-scale
    // frames).
    // Brown–Forsythe homogeneity-of-variance test (Levene 1960 with
    // Brown & Forsythe 1974's median centering — the robust "are these
    // groups equally volatile?" screen that gates every pooled-variance
    // method): W = ((N−k)/(k−1)) · Σ n_i(z̄_i−z̄)² / Σ_i Σ_j (z_ij−z̄_i)²
    // over z = |x − median_i|. Exactness: per-type medians come off the
    // value HISTOGRAM (cum-count over the (type, cents) agg — the a17_mwu
    // shape, so the rank scan is histogram-scale, and the window sits
    // above an Aggregate; the cum column is computed BEFORE the reuse
    // checkpoint so the plan keeps that provenance visible — a
    // checkpoint-then-window would erase the Aggregate and read as a
    // row-level single-type-task window); z, Σm·z, Σm·z² are integers
    // (decimal-widened,
    // BIGINT out — z ≤ 1e5 cents keeps Σm·z² under int64 to ~9e8 rows
    // per type, document-bounded at every testable SF); the ONE
    // order-sensitive double reduction (Σ s1_i²/n_i) folds in sorted
    // type order on both engines (the ir_mrr list_sum discipline); the
    // between/within split uses the expanded identity Σn_i(z̄_i−z̄)² =
    // Σs1_i²/n_i − S1²/N so no per-group grand-mean join is needed.
    "a22_levene_bf" -> ((s, dir) => {
      val wCum = Window.partitionBy("event_type").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)
      val h = centsHistogram(s, dir)
        .withColumn("cum", sum("m").over(wCum))
        .localCheckpoint()
      val nt = h.groupBy("event_type").agg(max("cum").as("n"))
      val med = h.join(broadcast(nt), "event_type")
        .where(col("cum") >= expr("(n + 1) div 2"))
        .groupBy("event_type").agg(min("c").as("med"))
      val g = h.join(broadcast(med), "event_type")
        .select(col("event_type"), col("m"), abs(col("c") - col("med")).as("z"))
        .groupBy("event_type")
        .agg(sum("m").as("n"), sum(hugeint(col("m")) * col("z")).as("s1d"),
          sum(hugeint(col("m")) * col("z") * col("z")).as("s2d"))
        .select(col("event_type"), col("n"), col("s1d").cast("long").as("s1"),
          col("s2d").cast("long").as("s2"))
      val tot = g.agg(sum("n").as("nn"), sum("s1").as("st1"),
        sum("s2").as("st2"), count(lit(1)).as("k"),
        aggregate(
          sort_array(collect_list(struct(col("event_type"), col("n"), col("s1")))),
          lit(0.0), (acc, x) => acc +
            x.getField("s1").cast("double") * x.getField("s1").cast("double") /
              x.getField("n").cast("double")).as("aa"))
      val num = col("aa") -
        col("st1").cast("double") * col("st1").cast("double") /
          col("nn").cast("double")
      val den = col("st2").cast("double") - col("aa")
      g.crossJoin(broadcast(tot))
        .select(col("event_type"), col("n"), col("s1").as("sum_absdev"),
          col("s2").as("sum_absdev_sq"),
          round(col("s1").cast("double") / col("n").cast("double"), 6)
            .as("zbar_ad"),
          round(when(den > 0,
            (col("nn") - col("k")).cast("double") /
              (col("k") - 1).cast("double") * num / den), 6).as("bf_w"))
        .orderBy("event_type")
    }),

    // Kruskal–Wallis H (1952) across ALL event types at once — the
    // k-group extension of a17_mwu's two-sample test ("did ANY type's
    // value distribution shift?"), with the standard tie correction
    // H' = H / (1 − ΣT/(N³−N)). Same exactness machinery as the rest of
    // the rank battery: ONE (type, cents) histogram; POOLED midranks
    // come off the a25_spearman bucket ladder (offsets over ≤65537
    // bucket sums + in-bucket cum, so no unpartitioned window ever
    // touches the unbounded cents domain); doubled midranks 2·cum+m+1
    // keep every rank sum integral (decimal-widened, BIGINT out —
    // R2_i ≤ 2N² and ΣT ≤ N³ hold int64 to N ≈ 2e6 / 2e6, the
    // a25_spearman headroom argument); the ONE order-sensitive double
    // reduction (Σ R2_i²/n_i, where H = 3/(N(N+1))·Σ − 3(N+1) after the
    // doubled-rank substitution) folds in sorted type order on both
    // engines (the ir_mrr list_sum discipline).
    "a23_kruskal" -> ((s, dir) => {
      val h = centsHistogram(s, dir).localCheckpoint()
      val mc = h.groupBy("c").agg(sum("m").as("mc")).localCheckpoint()
      val mm = mc.groupBy().agg(min("c").as("lo"), max("c").as("hi"))
      val withB = mc.crossJoin(broadcast(mm))
        .withColumn("bk",
          expr("(c - lo) div greatest(1, (hi - lo) div 65536 + 1)"))
      val off = withB.groupBy("bk").agg(sum("mc").as("bm"))
        .withColumn("off", coalesce(sum("bm").over(
          Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .select("bk", "off")
      val wC = Window.partitionBy("bk").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, -1)
      val rc = withB.join(broadcast(off), "bk")
        .withColumn("r2",
          lit(2L) * (col("off") + coalesce(sum("mc").over(wC), lit(0L))) +
            col("mc") + 1)
        .select("c", "r2")
      val g = h.join(rc, "c")
        .groupBy("event_type")
        .agg(sum("m").as("n_i"), sum(hugeint(col("m")) * col("r2")).as("r2d"))
        .select(col("event_type"), col("n_i"),
          col("r2d").cast("long").as("rank2_sum"))
      val tie = mc.groupBy()
        .agg(sum(hugeint(col("mc")) * col("mc") * col("mc") - col("mc")).as("t3d"),
          sum("mc").as("n"))
        .select(col("t3d").cast("long").as("t3"), col("n"))
      val tot = g.agg(count(lit(1)).as("k"),
        aggregate(
          sort_array(collect_list(struct(col("event_type"), col("n_i"),
            col("rank2_sum")))),
          lit(0.0), (acc, x) => acc +
            x.getField("rank2_sum").cast("double") *
              x.getField("rank2_sum").cast("double") /
              x.getField("n_i").cast("double")).as("aa"))
      val nD = col("n").cast("double")
      val hStat = lit(3.0) * col("aa") / (nD * (nD + 1)) - lit(3.0) * (nD + 1)
      val corr = lit(1.0) - col("t3").cast("double") / (nD * nD * nD - nD)
      g.crossJoin(broadcast(tie)).crossJoin(broadcast(tot))
        .select(col("event_type"), col("n_i"), col("rank2_sum"),
          round(hStat, 6).as("h_stat"),
          round(when(corr > 0, hStat / corr), 6).as("h_tie"))
        .orderBy("event_type")
    }),

    // One-way ANOVA F across all event types (Fisher) — the parametric
    // companion to a23_kruskal and the k-group extension of a21_welch_t:
    // F = (SSB/(k−1)) / (SSW/(N−k)) with SSB = Σ s_i²/n_i − S²/N and
    // SSW = Σ q_i − Σ s_i²/n_i (the expanded identities — no per-group
    // grand-mean join). The cents power sums n_i, s_i = Σx, q_i = Σx²
    // are exact integers (decimal-widened, BIGINT out — q ≤ n·1e10
    // holds int64 to n ≈ 9e8 rows/type, the a13_moments bound); the ONE
    // order-sensitive double reduction (Σ s_i²/n_i) folds in sorted
    // type order on both engines (the a22_levene_bf discipline).
    "a26_anova_f" -> ((s, dir) => {
      val g = load(s, dir, "events")
        .select(col("event_type"),
          cents(col("value")).as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(hugeint(col("c"))).as("sd"),
          sum(hugeint(col("c")) * col("c")).as("qd"))
        .select(col("event_type"), col("n"), col("sd").cast("long").as("s1"),
          col("qd").cast("long").as("q1"))
      val tot = g.agg(sum("n").as("nn"), sum("s1").as("st1"),
        sum("q1").as("qt"), count(lit(1)).as("k"),
        aggregate(
          sort_array(collect_list(struct(col("event_type"), col("n"),
            col("s1")))),
          lit(0.0), (acc, x) => acc +
            x.getField("s1").cast("double") * x.getField("s1").cast("double") /
              x.getField("n").cast("double")).as("aa"))
      val ssb = col("aa") -
        col("st1").cast("double") * col("st1").cast("double") /
          col("nn").cast("double")
      val ssw = col("qt").cast("double") - col("aa")
      g.crossJoin(broadcast(tot))
        .select(col("event_type"), col("n"), col("s1").as("sum_c"),
          col("q1").as("sum_c2"),
          round(col("s1").cast("double") / col("n").cast("double") / 100.0, 6)
            .as("mean_val"),
          round(when(ssw > 0,
            (ssb / (col("k") - 1).cast("double")) /
              (ssw / (col("nn") - col("k")).cast("double"))), 6).as("f_stat"))
        .orderBy("event_type")
    }),

    "a25_spearman" -> ((s, dir) => {
      val j = load(s, dir, "events")
        .select(hour(col("ts")).cast("long").as("h"),
          cents(col("value")).as("c"))
        .groupBy("h", "c").agg(count(lit(1)).as("m"))
        .localCheckpoint()
      val n1 = j.groupBy().agg(sum("m").as("n"))
      val wH = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, -1)
      // pmod re-asserts h ∈ [0,24) IN the plan: the localCheckpoint above
      // truncates lineage, hiding the hour() derivation from the
      // ScaleDesignSpec provenance sweep — and from any reader of the
      // executed plan. A no-op on the values; a visible bound for both.
      val rh = j.groupBy(pmod(col("h"), lit(24L)).as("h"))
        .agg(sum("m").as("mh"))
        .withColumn("rh",
          lit(2L) * coalesce(sum("mh").over(wH), lit(0L)) + col("mh") + 1)
      val mc = j.groupBy("c").agg(sum("m").as("mc")).localCheckpoint()
      val mm = mc.groupBy().agg(min("c").as("lo"), max("c").as("hi"))
      val withB = mc.crossJoin(broadcast(mm))
        .withColumn("bk",
          expr("(c - lo) div greatest(1, (hi - lo) div 65536 + 1)"))
      val off = withB.groupBy("bk").agg(sum("mc").as("bm"))
        .withColumn("off", coalesce(sum("bm").over(
          Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .select("bk", "off")
      val wC = Window.partitionBy("bk").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, -1)
      val rc = withB.join(broadcast(off), "bk")
        .withColumn("rc",
          lit(2L) * (col("off") + coalesce(sum("mc").over(wC), lit(0L))) +
            col("mc") + 1)
        .select("c", "mc", "rc")
      def ctr(r: org.apache.spark.sql.Column) = r - col("n") - 1
      val sxx = rh.crossJoin(broadcast(n1))
        .agg(sum(hugeint(col("mh")) * ctr(col("rh")) * ctr(col("rh"))).as("sxx"))
      val syy = rc.crossJoin(broadcast(n1))
        .agg(sum(hugeint(col("mc")) * ctr(col("rc")) * ctr(col("rc"))).as("syy"))
      val sxy = j.join(broadcast(rh.select("h", "rh")), "h")
        .join(rc.select("c", "rc"), "c")
        .crossJoin(broadcast(n1))
        .agg(sum(hugeint(col("m")) * ctr(col("rh")) * ctr(col("rc"))).as("sxy"))
      // Output-type discipline (gr_hits pattern, Graph.scala:511): the
      // three sums accumulate decimal(38,0)/HUGEINT internally but the
      // OUTPUT columns are BIGINT — bound Σm·X'² ≤ n³ (doubled ranks,
      // |X'| ≤ n), so int64 holds to n ≈ 2.09e6 events (sf1 replicated
      // is n = 1e6, 9× headroom; beyond that drop the raw sums and emit
      // rho only — the internal accumulation stays exact regardless).
      // Raw DECIMAL outputs diverge in the driver's cross-engine hash
      // canonicalization (round-11 red rows were exactly the 3 queries
      // emitting decimal128).
      sxx.crossJoin(broadcast(syy)).crossJoin(broadcast(sxy))
        .crossJoin(broadcast(n1))
        .select(col("n"), col("sxy").cast("long").as("sxy"),
          col("sxx").cast("long").as("sxx"),
          col("syy").cast("long").as("syy"),
          round(col("sxy").cast("double") /
            sqrt(col("sxx").cast("double") * col("syy").cast("double")), 6)
            .as("rho"))
    }),

    // Benford first-digit audit over the event values — the fraud/quality
    // screen for "does this metric look organically generated": observed
    // share of each leading significant digit of the integer cents vs the
    // Benford expectation log10(1+1/d). First digit via string head of
    // the cent value (identical integer→decimal-string semantics on both
    // engines — no float log in the bucketing); only the final
    // share/expectation/diff are doubles, round(6). ONE map-side digit
    // derivation + one 9-row aggregate; the total rides a broadcast.
    "a20_benford" -> ((s, dir) => {
      val d = load(s, dir, "events")
        .select(cents(col("value")).as("c"))
        .where(col("c") >= 1)
        .select(substring(col("c").cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_d"))
      val tot = d.groupBy().agg(sum("n_d").as("n"))
      d.crossJoin(broadcast(tot))
        .select(col("digit"), col("n_d"),
          round(col("n_d").cast("double") / col("n"), 6).as("share"),
          round(log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("benford_p"),
          round(col("n_d").cast("double") / col("n") -
            log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("diff"))
        .orderBy("digit")
    }),

    // Welch's unequal-variance t between every event-type pair — the
    // mean-difference companion to a17_mwu (rank) and a18_ks (shape).
    // From each type's exact decimal power sums (n, Σc, Σc² in integer
    // cents): sample variance v = (n·Σc² − (Σc)²)/(n·(n−1)) — exact
    // integer numerator in decimal(38,0)/HUGEINT — then
    // t = (m_a − m_b)/√(v_a/n_a + v_b/n_b) and the Welch–Satterthwaite
    // df, every double step the identical expression tree cross-engine,
    // round(6). Scale: ONE per-type aggregate; the pair explode runs on
    // the types-scale frame under a broadcast.
    "a21_welch_t" -> ((s, dir) => {
      val va = col("va")
      val vb = col("vb")
      welchPairs(s, dir)
        .select(col("type_a"), col("type_b"),
          col("n").as("n_a"), col("nb").as("n_b"),
          round((col("ma") - col("mb")) / sqrt(va + vb), 6).as("t"),
          round((va + vb) * (va + vb) /
            (va * va / (col("n").cast("double") - 1) +
              vb * vb / (col("nb").cast("double") - 1)), 6).as("df"))
        .orderBy("type_a", "type_b")
    }),

    // Equivalence test (TOST — two one-sided tests, Schuirmann 1987)
    // between every pair of event types' mean values: where a21_welch_t
    // asks "are the means DIFFERENT", TOST asks the question a launch
    // review actually needs — "are they the SAME to within ±50 cents"
    // (absence of evidence ≠ evidence of absence; a non-significant t is
    // NOT an equivalence claim). Both one-sided hypotheses H01: Δ ≤ −δ
    // and H02: Δ ≥ δ must reject: z_i from the shared Welch standard
    // error (normal approximation — at the corpus sample sizes the
    // Student correction is < round(6)), one-sided p = Φ(−z) via the
    // signed extension of the a33 erfc tree (erfc(x) = 2 − erfc(−x) for
    // the negative branch), p_tost = max(p1, p2), equivalent at
    // α = 0.05. NULL when the pooled SE is 0 (both types constant) OR
    // either n ≤ 1 (the n>1 gate is explicit — mirroring ev_power —
    // because a singleton type's Welch variance is 0/0, which Spark
    // evaluates to NULL but DuckDB's IEEE division to NaN, and DuckDB
    // orders NaN above every number, so a bare `se > 0` gate would
    // diverge cross-engine on such a corpus).
    // Scale: the welchPairs shape — one keyed agg, types² broadcast.
    "a37_tost" -> ((s, dir) => {
      def pOne(z: org.apache.spark.sql.Column) = {
        def a(x: org.apache.spark.sql.Column) = {
          val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
          (((((lit(1.061405429) * t + lit(-1.453152027)) * t +
            lit(1.421413741)) * t + lit(-0.284496736)) * t +
            lit(0.254829592)) * t) * exp(x * x * lit(-1.0))
        }
        when(z >= 0, lit(0.5) * a(z / sqrt(lit(2.0))))
          .otherwise(lit(1.0) - lit(0.5) * a((lit(0.0) - z) / sqrt(lit(2.0))))
      }
      val se = sqrt(col("va") + col("vb"))
      val delta = col("ma") - col("mb")
      val p1 = pOne((delta + lit(TostMarginCents)) / se)
      val p2 = pOne((lit(TostMarginCents) - delta) / se)
      val ok = col("n") > 1 && col("nb") > 1 && se > 0
      welchPairs(s, dir)
        .select(col("type_a"), col("type_b"), col("n").as("n_a"),
          col("nb").as("n_b"), round(delta, 6).as("mean_diff_cents"),
          round(when(ok, greatest(p1, p2)), 6).as("p_tost"),
          when(ok, greatest(p1, p2) < lit(0.05)).as("equivalent"))
        .orderBy("type_a", "type_b")
    }),

    // Population stability index over each type's VALUE distribution —
    // the shape-drift complement to prof_drift's category-share psi_term:
    // a type whose mix share is stable can still silently shift its value
    // histogram (pricing change, sensor recalibration), which is exactly
    // what PSI over binned values catches. Bins: 10 equal-width integer-
    // cent buckets over the type's own [min, max] (all-integer div — bin
    // ids engine-exact); ref/cur split at the same fixed pivot as
    // prof_drift; Laplace +1 smoothing keeps empty bins finite and exact.
    // PSI = Σ_b (p_b − q_b)·ln(p_b/q_b), folded in bin order (the
    // ta_unigram_ppl parity template). Shape: one (type,bin) keyed agg
    // over the corpus; everything after runs on types×10 rows with
    // broadcast joins — the scan dominates at any scale.
    // Mutual information between two categorical profile dimensions
    // (event_type × hour-of-day) — the dependency-discovery statistic a
    // profiler runs before trusting "these columns are independent"
    // (the continuous cousin of prof_fds' exact functional check):
    // MI = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) in nats, plus the entropies
    // and the √(Hx·Hy)-normalized NMI. Shape: ONE corpus-scale (x, y)
    // count agg; marginals derive from that ≤ types×24 frame (never a
    // second corpus scan); every double term folds in (x, y)-sorted
    // order on BOTH engines (Spark aggregate over array_sort /
    // DuckDB list_reduce over list(… ORDER BY), with the same 0.0 init
    // prepended) so the sums are bit-identical, round(6) on the five
    // outputs. Counts stay integer until each term's two double casts.
    "prof_mutual_info" -> ((s, dir) => {
      val cxy = load(s, dir, "events")
        .select(col("event_type").as("x"), hour(col("ts")).as("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("cxy"))
        .localCheckpoint() // marginals + terms both ride this tiny frame
      val cx = cxy.groupBy("x").agg(sum("cxy").as("cx"))
      val cy = cxy.groupBy("y").agg(sum("cxy").as("cy"))
      val nn = cxy.agg(sum("cxy").as("nn"))
      def foldSorted(df: org.apache.spark.sql.DataFrame,
                     keys: Seq[org.apache.spark.sql.Column],
                     term: org.apache.spark.sql.Column) =
        df.agg(aggregate(
          transform(array_sort(collect_list(struct(keys :+ term.as("t"): _*))),
            s => s.getField("t")),
          lit(0.0), (acc, t) => acc + t))
      val j = cxy.join(broadcast(cx), "x").join(broadcast(cy), "y")
        .crossJoin(broadcast(nn))
      val miTerm = (col("cxy").cast("double") / col("nn").cast("double")) *
        log(col("nn").cast("double") * col("cxy").cast("double") /
          (col("cx").cast("double") * col("cy").cast("double")))
      val mi = foldSorted(j, Seq(col("x"), col("y")), miTerm).first().getDouble(0)
      def ent(m: org.apache.spark.sql.DataFrame, k: String, c: String) = {
        val p = col(c).cast("double") / col("nn").cast("double")
        foldSorted(m.crossJoin(broadcast(nn)), Seq(col(k)),
          lit(0.0) - p * log(p)).first().getDouble(0)
      }
      val (hx, hy) = (ent(cx, "x", "cx"), ent(cy, "y", "cy"))
      val stats = cxy.agg(sum("cxy").as("n"),
        countDistinct("x").as("k_x"), countDistinct("y").as("k_y"))
      stats.select(col("n"), col("k_x"), col("k_y"),
        round(lit(hx), 6).as("h_x"), round(lit(hy), 6).as("h_y"),
        round(lit(mi), 6).as("mi"),
        round(if (hx > 0 && hy > 0) lit(mi / math.sqrt(hx * hy))
          else lit(null).cast("double"), 6).as("nmi"))
    }),

    // k-anonymity / l-diversity privacy profile (Sweeney 2002; Machanavajjhala
    // et al. 2007) — the re-identification audit a training corpus needs
    // before release: quasi-identifier classes are (lang, n_chars div 100),
    // the sensitive attribute is source. Emits the share of docs living in
    // classes smaller than k ∈ {2,5,10} (linkable under k-anonymity) and the
    // share in classes with ≥3 distinct sources (l-diversity ≥ 3). The class
    // frame is model-scale (langs × length-buckets); ONE keyed agg over the
    // corpus + a tiny global fold — all counts integer-exact, ratios as
    // identical double trees.
    "prof_kanon" -> ((s, dir) => {
      val cls = load(s, dir, "documents")
        .groupBy(col("lang"), expr("n_chars div 100").as("bkt"))
        .agg(count(lit(1)).as("sz"), countDistinct(col("source")).as("ldiv"))
      cls.agg(
          sum("sz").as("n_docs"), count(lit(1)).as("n_classes"),
          sum(when(col("sz") < 2, col("sz")).otherwise(lit(0L))).as("r2"),
          sum(when(col("sz") < 5, col("sz")).otherwise(lit(0L))).as("r5"),
          sum(when(col("sz") < 10, col("sz")).otherwise(lit(0L))).as("r10"),
          min("sz").as("min_class"), max("sz").as("max_class"),
          min("ldiv").as("min_ldiv"),
          sum(when(col("ldiv") >= 3, col("sz")).otherwise(lit(0L))).as("l3"))
        .select(col("n_docs"), col("n_classes"),
          round(col("r2").cast("double") / col("n_docs").cast("double"), 6)
            .as("risk_k2"),
          round(col("r5").cast("double") / col("n_docs").cast("double"), 6)
            .as("risk_k5"),
          round(col("r10").cast("double") / col("n_docs").cast("double"), 6)
            .as("risk_k10"),
          col("min_class"), col("max_class"), col("min_ldiv"),
          round(col("l3").cast("double") / col("n_docs").cast("double"), 6)
            .as("share_ldiv3"))
    }),

    "prof_psi_value" -> ((s, dir) => {
      val ev = load(s, dir, "events")
        .select(col("event_type"),
          cents(col("value")).as("c"),
          when(col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"), 1L)
            .otherwise(0L).as("ref"))
      val rng = ev.groupBy("event_type").agg(min("c").as("mn"), max("c").as("mx"))
      val counts = ev.join(broadcast(rng), "event_type")
        .select(col("event_type"), col("ref"),
          expr("((c - mn) * 10) div (mx - mn + 1)").as("bin"))
        .groupBy("event_type", "bin")
        .agg(sum(col("ref")).as("nr"), sum(lit(1L) - col("ref")).as("nc"))
      val spine = rng.select(col("event_type"),
        explode(sequence(lit(0L), lit(9L))).as("bin"))
      val full = spine.join(counts, Seq("event_type", "bin"), "left")
        .select(col("event_type"), col("bin"),
          coalesce(col("nr"), lit(0L)).as("nr"),
          coalesce(col("nc"), lit(0L)).as("nc"))
      val tot = full.groupBy("event_type")
        .agg(sum("nr").as("tr"), sum("nc").as("tc"))
      val p = (col("nr") + 1).cast("double") / (col("tr") + 10)
      val q = (col("nc") + 1).cast("double") / (col("tc") + 10)
      full.join(broadcast(tot), "event_type")
        .select(col("event_type"), col("bin"), col("tr"), col("tc"),
          ((p - q) * log(p / q)).as("term"))
        .groupBy("event_type")
        .agg(max(col("tr")).as("n_ref"), max(col("tc")).as("n_cur"),
          round(aggregate(
            transform(array_sort(collect_list(struct(col("bin"), col("term")))),
              x => x.getField("term")),
            lit(0.0), (acc, x) => acc + x), 6).as("psi"))
        .orderBy("event_type")
    }),

    "prof_drift" -> ((s, dir) => {
      val ev = load(s, dir, "events")
        .withColumn("win", when(col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"),
          "ref").otherwise("cur"))
      val per = ev.groupBy("event_type")
        .agg(sum(when(col("win") === "ref", 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("win") === "cur", 1L).otherwise(0L)).as("n_cur"),
          sum(when(col("win") === "ref", dec(col("value")))).cast("double").as("sv_ref"),
          sum(when(col("win") === "cur", dec(col("value")))).cast("double").as("sv_cur"))
      val tot = ev.groupBy().agg(
        sum(when(col("win") === "ref", 1L).otherwise(0L)).as("t_ref"),
        sum(when(col("win") === "cur", 1L).otherwise(0L)).as("t_cur"))
      per.crossJoin(broadcast(tot))
        .select(col("event_type"), col("n_ref"), col("n_cur"),
          round((col("n_cur") / col("t_cur") - col("n_ref") / col("t_ref")) *
            log((col("n_cur") / col("t_cur")) / (col("n_ref") / col("t_ref"))), 6)
            .as("psi_term"),
          round(col("sv_cur") / col("n_cur") - col("sv_ref") / col("n_ref"), 6)
            .as("mean_value_delta"))
        .orderBy("event_type")
    }),

    // Cross-document duplicate paragraphs: md5 over fixed-width
    // non-overlapping 24-token chunks (full chunks only — ragged tails
    // can't collide meaningfully), then one groupBy on the hash keeping
    // chunks seen in 2+ distinct documents. The 100 TB shape: chunking and
    // hashing are map-side, the only shuffle carries (hash, doc_id) pairs,
    // and the output is bounded by the duplicate set, not the corpus.
    "dd_paragraph" -> ((s, dir) => {
      val t = split(lower(col("text")), " ")
      // full chunks only; floor-div in int (Column `/` is double division)
      val lastIdx = floor(size(t) / lit(ParaSize.toDouble)).cast("int") - 1
      load(s, dir, "documents")
        .where(size(t) >= ParaSize)
        .select(col("doc_id"), t.as("t"),
          explode(sequence(lit(0), lastIdx)).as("ci"))
        .select(col("doc_id"),
          md5(array_join(slice(col("t"), col("ci") * ParaSize + 1, lit(ParaSize)), " "))
            .as("chunk_md5"))
        .groupBy("chunk_md5")
        .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
        .where(col("n_docs") >= 2)
        .orderBy("chunk_md5")
    }),

    // CCNet-style boilerplate REMOVAL (dd_paragraph's sibling: that query
    // DETECTS shared chunks; this one rewrites the corpus). Every
    // non-overlapping LineSize-token chunk plays the role of a "line"
    // (this corpus has no newlines); a chunk appearing in LineDfMax+
    // distinct documents is treated as boilerplate and dropped, and each
    // document is re-assembled from its surviving chunks in original
    // order. The 100 TB shape: chunking/hashing map-side, ONE shuffle on
    // the chunk hash for the document-frequency count, one hash join back
    // (chunk-keyed, no broadcast assumption — the df table is
    // corpus-sized), one doc-keyed aggregation to rebuild. Output is
    // per-document, bounded by the corpus, never by pairs.
    "dd_line_filter" -> ((s, dir) => {
      val t = split(lower(col("text")), " ")
      val lastIdx = floor(size(t) / lit(LineSize.toDouble)).cast("int") - 1
      val chunks = load(s, dir, "documents")
        .where(size(t) >= LineSize)
        .select(col("doc_id"), t.as("t"),
          explode(sequence(lit(0), lastIdx)).as("ci"))
        .select(col("doc_id"), col("ci"),
          array_join(slice(col("t"), col("ci") * LineSize + 1, lit(LineSize)), " ")
            .as("chunk"))
        .withColumn("h", md5(col("chunk")))
      val chunkDf = chunks.groupBy("h")
        .agg(countDistinct(col("doc_id")).as("docs"))
      chunks.join(chunkDf, "h")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).cast("long").as("n_chunks"),
          sum(when(col("docs") < LineDfMax, 1L).otherwise(0L)).cast("long")
            .as("n_kept"),
          // collect_list skips nulls, so only kept chunks are gathered;
          // array_sort on (ci, chunk) structs restores document order.
          array_join(expr(
            "transform(array_sort(collect_list(CASE WHEN docs < " + LineDfMax +
              " THEN struct(ci, chunk) END)), x -> x.chunk)"), " ")
            .as("text_kept"))
        .orderBy("doc_id")
    }),

    // Market-basket co-occurrence: part pairs appearing together in 2+
    // orders, with each part's own order support alongside (the exact
    // integer inputs of lift/confidence — kept as integers so the oracle
    // hash is arithmetic-free). Scale shape: one groupBy collects each
    // order's sorted item set, the pair explosion is map-side and bounded
    // by Σ basket² (baskets are small; a pathological mega-basket would be
    // capped upstream), one shuffle on the pair key aggregates support.
    // The per-item support join inputs are pair-count-sized and
    // item-count-sized — both tiny next to the fact table, left to AQE.
    // Sequential-recommender backtest (leave-last-out): train a
    // first-order transition model on every user's history EXCEPT their
    // final event, predict that final event's type from the penultimate
    // one by argmax transition count (ties → lexicographic), and report
    // per-context accuracy — the evaluation loop behind "what does the
    // user do next" models, with the train/test split that prevents
    // target leakage. All integers: one user-keyed lag/pos window, one
    // (from, to) count aggregate EXCLUDING each user's last transition,
    // argmax on the types² model frame, broadcast prediction join.
    "rec_next_item" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val r = load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("pos", row_number().over(w).cast("long"))
        .withColumn("prev", lag("event_type", 1).over(w))
      val nU = r.groupBy("user_id").agg(max("pos").as("n"))
      val r2 = r.join(nU, "user_id").localCheckpoint()
      val model = r2.where(col("prev").isNotNull && col("pos") < col("n"))
        .groupBy(col("prev").as("f"), col("event_type").as("t"))
        .agg(count(lit(1)).as("c"))
      val wBest = Window.partitionBy("f").orderBy(col("c").desc, col("t"))
      val pred = model.withColumn("rn", row_number().over(wBest))
        .where(col("rn") === 1)
        .select(col("f"), col("t").as("predicted"))
      r2.where(col("pos") === col("n") && col("n") >= 2)
        .select(col("user_id"), col("prev").as("f"),
          col("event_type").as("actual"))
        .join(broadcast(pred), Seq("f"), "left")
        .groupBy(col("f").as("from_type"))
        .agg(count(lit(1)).as("n_eval"),
          sum((col("predicted") === col("actual")).cast("long")).as("n_hits"))
        .select(col("from_type"), col("n_eval"), col("n_hits"),
          round(col("n_hits").cast("double") / col("n_eval"), 6).as("accuracy"))
        .orderBy("from_type")
    }),

    "rec_cooccur" -> ((s, dir) => {
      val items = load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val pairs = basketPairs(items)
        .groupBy(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
        .agg(count(lit(1)).as("pair_orders"))
        .where(col("pair_orders") >= 2)
      val supp = items.groupBy("l_partkey").agg(count(lit(1)).as("item_orders"))
      pairs
        .join(supp.select(col("l_partkey").as("ka"), col("item_orders").as("pa_orders")),
          col("pa") === col("ka"))
        .join(supp.select(col("l_partkey").as("kb"), col("item_orders").as("pb_orders")),
          col("pb") === col("kb"))
        .select(col("pa"), col("pb"), col("pair_orders"), col("pa_orders"), col("pb_orders"))
        .orderBy(col("pair_orders").desc, col("pa"), col("pb"))
    }),

    // Item-item similarity scores over the co-purchase counts — the
    // collaborative-filtering / association-rule layer on top of
    // rec_cooccur's exact integers: cosine c_ij/√(c_i·c_j) (the item-item
    // CF similarity), lift c_ij·N/(c_i·c_j) (association strength vs
    // independence), and confidence c_ij/c_i (the rule score). All inputs
    // are the same integer supports; each metric is one identical double
    // expression, round(6). Same scale shape as rec_cooccur — basket-
    // bounded pair explode, keyed support joins, a one-row total
    // broadcast.
    "rec_item_sim" -> ((s, dir) => {
      val items = load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val pairs = basketPairs(items)
        .groupBy(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
        .agg(count(lit(1)).as("c"))
        .where(col("c") >= 2)
      val supp = items.groupBy("l_partkey").agg(count(lit(1)).as("s"))
      val tot = items.select("l_orderkey").distinct().agg(count(lit(1)).as("n"))
      val cD = col("c").cast("double")
      val saD = col("sa").cast("double")
      val sbD = col("sb").cast("double")
      pairs
        .join(supp.select(col("l_partkey").as("ka"), col("s").as("sa")),
          col("pa") === col("ka"))
        .join(supp.select(col("l_partkey").as("kb"), col("s").as("sb")),
          col("pb") === col("kb"))
        .crossJoin(broadcast(tot))
        .select(col("pa"), col("pb"), col("c").as("pair_orders"),
          round(cD / sqrt(saD * sbD), 6).as("cosine"),
          round(cD * col("n").cast("double") / (saD * sbD), 6).as("lift"),
          round(cD / saD, 6).as("confidence"))
        .orderBy("pa", "pb")
    }),

    // Directed association rules A→B over the co-purchase counts — the
    // rule layer on top of rec_item_sim's symmetric scores (Agrawal &
    // Srikant 1994 support/confidence, Brin et al. 1997 conviction):
    // each support-pruned unordered pair emits BOTH directions with
    // support c/N, confidence c/c_A, lift c·N/(c_A·c_B), and conviction
    // (1 − c_B/N)/(1 − confidence) — NULL when confidence = 1 (an
    // exceptionless rule has infinite conviction; both engines agree on
    // the NULL via the same c < c_A guard). All inputs are the exact
    // integer supports; each metric is one identical double expression,
    // round(6). Scale shape is rec_cooccur's: the MaxBasket-capped
    // map-side pair explode, keyed support joins, a one-row broadcast
    // total; the direction union only doubles the support-pruned frame.
    "rec_assoc_rules" -> ((s, dir) => {
      val items = load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val pairs = basketPairs(items)
        .groupBy(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
        .agg(count(lit(1)).as("c"))
        .where(col("c") >= 2)
      val supp = items.groupBy("l_partkey").agg(count(lit(1)).as("s"))
      val tot = items.select("l_orderkey").distinct().agg(count(lit(1)).as("n"))
      val dirs = pairs
        .select(col("pa").as("ante"), col("pb").as("cons"), col("c"))
        .unionAll(pairs.select(col("pb").as("ante"), col("pa").as("cons"), col("c")))
      val cD = col("c").cast("double")
      val saD = col("sa").cast("double")
      val sbD = col("sb").cast("double")
      val nD = col("n").cast("double")
      dirs
        .join(supp.select(col("l_partkey").as("ka"), col("s").as("sa")),
          col("ante") === col("ka"))
        .join(supp.select(col("l_partkey").as("kb"), col("s").as("sb")),
          col("cons") === col("kb"))
        .crossJoin(broadcast(tot))
        .select(col("ante").as("antecedent"), col("cons").as("consequent"),
          col("c").as("pair_orders"),
          round(cD / nD, 6).as("support"),
          round(cD / saD, 6).as("confidence"),
          round(cD * nD / (saD * sbD), 6).as("lift"),
          round(when(col("c") < col("sa"),
            (lit(1.0) - sbD / nD) / (lit(1.0) - cD / saD)), 6).as("conviction"))
        .orderBy("antecedent", "consequent")
    }),

    // Winsorized (5%/95%-clamped) robust mean per group, with the order
    // statistics computed the 100 TB way: no per-group sort, no
    // percentile() over data rows. The 2-dp quantity becomes exact
    // integer cents; a (group, value) HISTOGRAM agg collapses the fact
    // table to ≤ |groups|·|distinct values| rows; the cumulative-count
    // window then runs over HISTOGRAM-scale rows only, and the k-th
    // order statistic (k = ⌈p·n⌉, pure integer arithmetic) is the first
    // value whose cumulative count reaches k. Clamp bounds broadcast
    // back to the scan; the winsorized mean accumulates in decimal —
    // order-independent, bit-identical on any partitioning. The same
    // shape is how exact percentiles survive when a5_median_pct's
    // built-in percentile() would need a per-group global sort.
    "a14_winsorize" -> ((s, dir) => {
      val q = round(col("l_quantity") * 100).cast("long")
      val li = load(s, dir, "lineitem").select(col("l_returnflag"), q.as("q"))
      val cum = li.groupBy("l_returnflag", "q").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(
          Window.partitionBy("l_returnflag").orderBy("q")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val n = li.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      val bounds = cum.join(n, "l_returnflag")
        .groupBy(col("l_returnflag"), col("n"))
        .agg(
          min(when(col("cum") * 100 >= col("n") * 5, col("q"))).as("lo"),
          min(when(col("cum") * 100 >= col("n") * 95, col("q"))).as("hi"))
      li.join(broadcast(bounds), "l_returnflag")
        .groupBy(col("l_returnflag"), col("n"), col("lo"), col("hi"))
        .agg(sum(hugeint(greatest(least(col("q"), col("hi")), col("lo"))))
          .as("wsum"))
        .select(col("l_returnflag"), col("n"),
          (col("lo").cast("double") / 100.0).as("lo_qty"),
          (col("hi").cast("double") / 100.0).as("hi_qty"),
          round(col("wsum").cast("double") / col("n") / 100.0, 6).as("win_mean_qty"))
        .orderBy("l_returnflag")
    }),

    // Median absolute deviation per group — THE robust dispersion
    // estimator (50% breakdown point vs variance's 0%), with its
    // normal-consistent σ̂ = 1.4826·MAD. Computed the 100 TB way by
    // running the a14_winsorize exact-order-statistic machinery TWICE:
    // the 2-dp quantity becomes integer cents, a (group, value)
    // HISTOGRAM collapses the fact table, the cumulative-count window
    // rides histogram-scale rows, and the UPPER median is the first
    // value whose cumulative count reaches k = ⌈(n+1)/2⌉ (cum·2 ≥ n+1:
    // for even n=4 that is cum ≥ 3, the upper middle element — pure
    // integers, no interpolation, so both engines agree exactly);
    // then |q − med| re-histograms and the same selection yields the
    // MAD. No per-group sort of data rows at any point; the only
    // doubles are the three final /100 scalings, round(6) on σ̂.
    "a29_mad" -> ((s, dir) => {
      val q = round(col("l_quantity") * 100).cast("long")
      val li = load(s, dir, "lineitem").select(col("l_returnflag"), q.as("q"))
        .localCheckpoint() // scanned twice: median pass, deviation pass
      val n = li.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      val wQ = Window.partitionBy("l_returnflag").orderBy("q")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val med = li.groupBy("l_returnflag", "q").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wQ))
        .join(broadcast(n), "l_returnflag")
        .groupBy(col("l_returnflag"), col("n"))
        .agg(min(when(col("cum") * 2 >= col("n") + 1, col("q"))).as("med"))
      val wD = Window.partitionBy("l_returnflag").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      li.join(broadcast(med), "l_returnflag")
        .select(col("l_returnflag"), col("n"), col("med"),
          abs(col("q") - col("med")).as("d"))
        .groupBy("l_returnflag", "n", "med", "d").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wD))
        .groupBy(col("l_returnflag"), col("n"), col("med"))
        .agg(min(when(col("cum") * 2 >= col("n") + 1, col("d"))).as("mad"))
        .select(col("l_returnflag"), col("n"),
          (col("med").cast("double") / 100.0).as("median_qty"),
          (col("mad").cast("double") / 100.0).as("mad_qty"),
          round(col("mad").cast("double") / 100.0 * 1.4826, 6).as("sigma_mad"))
        .orderBy("l_returnflag")
    }),

    // Exact global multi-quantile (p25/p50/p75/p90/p99) the 100 TB way —
    // the WIDE-domain complement of a14_winsorize's full histogram: when
    // the value domain is too wide to histogram per distinct value
    // (l_extendedprice spans ~10M distinct cents), the shared
    // QuantileLadder bucket-then-refine ladder (plans/QuantileLadder —
    // also under ev_rfm and ev_decile_lift) locates each target rank
    // k = ⌈p·n/100⌉ (pure integer arithmetic) in an adaptive-width
    // bucket histogram and re-scans ONLY the located buckets. No global
    // sort, no percentile() over data rows, and the only data-scale
    // shuffles are the bucket histogram and the located-bucket rescan.
    // The order statistic is bucketing-independent (exact rank
    // extraction), so unifying the ladder leaves the oracle untouched.
    "a15_quantile_2phase" -> ((s, dir) => {
      val cents = round(col("l_extendedprice") * 100).cast("long")
      val li = load(s, dir, "lineitem").select(cents.as("c"))
      val qs = Seq(25, 50, 75, 90, 99)
      val tgt = li.agg(count(lit(1)).as("n"))
        .select(explode(array(qs.map(p => lit(p.toLong)): _*)).as("k"), col("n"))
        .select(col("k"),
          floor((col("k") * col("n") + lit(99)) / 100).cast("long").as("r"))
      graft.plans.QuantileLadder.orderStats(li, "c", tgt)
        .select(col("k").as("p"),
          (col("value").cast("double") / 100.0).as("value"))
        .orderBy("p")
    }),

    // Entity-resolution fuzzy match via SORTED NEIGHBORHOOD (Hernández &
    // Stolfo 1995): instead of blocking-key self-joins (the synthetic
    // name vocabulary is 8 nouns — any key block is O(n) wide, so the
    // block join is O(n²) and unshippable at 100 TB), sort records once
    // by name and compare each record only with its next W neighbors in
    // the total order. Candidates are exactly n·W pairs — LINEAR — and
    // the sort + neighbor pairing is fully distributed: GlobalIndex
    // assigns the dense rank (range-partitioned, no single-task window)
    // and neighbors come from an integer equi-join on idx+w. The
    // Levenshtein verify is integer-valued (no float-parity risk); each
    // record keeps its best match by (distance, key) min-struct.
    "er_fuzzy_match" -> ((s, dir) => {
      val p = load(s, dir, "part").select("p_partkey", "p_name")
      val idx = graft.plans.GlobalIndex.withRowIndex(
        p, Seq(col("p_name"), col("p_partkey")), "idx")
      val right = idx.select(col("idx").as("ridx"),
        col("p_partkey").as("m_partkey"), col("p_name").as("m_name"))
      idx.select(col("idx"), col("p_partkey"), col("p_name"),
          explode(sequence(lit(1), lit(ErWindow))).as("w"))
        .withColumn("ridx", col("idx") + col("w"))
        .join(right, "ridx")
        .select(col("p_partkey"), col("p_name"), col("m_partkey"), col("m_name"),
          levenshtein(col("p_name"), col("m_name")).as("dist"))
        .where(col("dist") <= ErMaxDist)
        .groupBy("p_partkey", "p_name")
        .agg(min(struct(col("dist"), col("m_partkey"), col("m_name"))).as("b"))
        .select(col("p_partkey"), col("p_name"),
          col("b.m_partkey").as("match_key"), col("b.m_name").as("match_name"),
          col("b.dist").cast("long").as("dist"))
        .orderBy("p_partkey")
    }),

    // Exact higher moments per group. q = quantity×100 as a long (2-dp data
    // → exact); power sums of q accumulate in decimal(38,0) (DuckDB:
    // HUGEINT) so every engine sees the same exact integers; the moment
    // formulas then run in doubles with an IDENTICAL expression tree on
    // both sides — sqrt only (IEEE-correctly-rounded), never pow (libm
    // ulp divergence). Skew/kurtosis are scale-invariant, so the ×100
    // rescale needs no undo; only the mean is scaled back for reporting.
    "a13_moments" -> ((s, dir) => {
      val q = round(col("l_quantity") * 100).cast("long")
      val mean = col("s1") / col("n")
      val sn2 = col("s2") / col("n")
      val sn3 = col("s3") / col("n")
      val m2 = sn2 - mean * mean
      val m3 = sn3 - lit(3.0) * mean * sn2 + lit(2.0) * mean * mean * mean
      val m4 = col("s4") / col("n") - lit(4.0) * mean * sn3 +
        lit(6.0) * mean * mean * sn2 - lit(3.0) * mean * mean * mean * mean
      load(s, dir, "lineitem")
        .select(col("l_returnflag"), q.as("q"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(hugeint(col("q"))).cast("double").as("s1"),
          sum(hugeint(col("q") * col("q"))).cast("double").as("s2"),
          sum(hugeint(col("q") * col("q") * col("q"))).cast("double").as("s3"),
          sum(hugeint(col("q") * col("q") * col("q") * col("q")))
            .cast("double").as("s4"))
        .select(col("l_returnflag"), col("n"),
          round(mean / 100.0, 6).as("mean_qty"),
          round(m3 / (m2 * sqrt(m2)), 8).as("skewness"),
          round(m4 / (m2 * m2) - lit(3.0), 8).as("kurtosis_excess"))
        .orderBy("l_returnflag")
    }),

    // Jarque–Bera normality test (Jarque & Bera 1980) per group — the
    // screen a pipeline runs before trusting z-scores or Gaussian CIs
    // on a metric: JB = n/6 · (S² + K²/4) from the a13_moments exact
    // integer power sums (same decimal(38,0)/HUGEINT accumulation, same
    // identical double moment trees on both engines), and the χ²(2)
    // p-value has the closed form exp(−JB/2) — no incomplete-gamma
    // needed at df = 2; exp/ln cross-engine bit-parity is the
    // ta_entropy precedent. One keyed agg over the fact table; all
    // arithmetic above it rides the groups frame.
    "a27_jarque_bera" -> ((s, dir) => {
      val q = round(col("l_quantity") * 100).cast("long")
      val mean = col("s1") / col("n")
      val sn2 = col("s2") / col("n")
      val sn3 = col("s3") / col("n")
      val m2 = sn2 - mean * mean
      val m3 = sn3 - lit(3.0) * mean * sn2 + lit(2.0) * mean * mean * mean
      val m4 = col("s4") / col("n") - lit(4.0) * mean * sn3 +
        lit(6.0) * mean * mean * sn2 - lit(3.0) * mean * mean * mean * mean
      val sk = m3 / (m2 * sqrt(m2))
      val ku = m4 / (m2 * m2) - lit(3.0)
      val jb = col("n") / lit(6.0) * (sk * sk + ku * ku / lit(4.0))
      load(s, dir, "lineitem")
        .select(col("l_returnflag"), q.as("q"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(hugeint(col("q"))).cast("double").as("s1"),
          sum(hugeint(col("q") * col("q"))).cast("double").as("s2"),
          sum(hugeint(col("q") * col("q") * col("q"))).cast("double").as("s3"),
          sum(hugeint(col("q") * col("q") * col("q") * col("q")))
            .cast("double").as("s4"))
        .select(col("l_returnflag"), col("n"),
          round(jb, 6).as("jb_stat"),
          round(exp(lit(-0.5) * jb), 6).as("p_value"))
        .orderBy("l_returnflag")
    }),

    // Bartlett's homogeneity-of-variance test (Bartlett 1937) across the
    // event types — the parametric sibling of a22_levene_bf (sharper
    // under normality, which a27_jarque_bera screens for):
    // T = ((N−k)·ln S_p² − Σ(n_i−1)·ln s_i²) / C with the correction
    // C = 1 + (Σ 1/(n_i−1) − 1/(N−k)) / (3(k−1)). Per-type n, Σc, Σc²
    // come off ONE keyed agg in decimal(38,0)/HUGEINT; each s_i² and
    // (n_i−1)s_i² = (n_i·Q_i − S_i²)/n_i is an exact integer ratio cast
    // to double once, and the three order-sensitive reductions (Σw_i,
    // Σ(n_i−1)ln s_i², Σ1/(n_i−1)) fold in sorted type order on both
    // engines (the a22 list-fold discipline). Types with n < 2 or zero
    // variance are excluded from the test on both sides (they carry no
    // variance information). Output is the one-row verdict frame.
    "a28_bartlett" -> ((s, dir) => {
      val g = load(s, dir, "events")
        .select(col("event_type"),
          cents(col("value")).as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(hugeint(col("c"))).as("sc"),
          sum(hugeint(col("c")) * col("c")).as("qc"))
        .where(col("n") > 1 &&
          col("n") * col("qc") - col("sc") * col("sc") > 0)
      val css = col("n") * col("qc") - col("sc") * col("sc") // n²·(n−1)·s²/n
      val v = css.cast("double") /
        (col("n").cast("double") * (col("n") - 1).cast("double"))
      val w = css.cast("double") / col("n").cast("double") // (n−1)·s²
      val tot = g.agg(sum("n").as("nn"), count(lit(1)).as("k"),
        aggregate(
          sort_array(collect_list(struct(col("event_type"), w.as("w")))),
          lit(0.0), (acc, x) => acc + x.getField("w")).as("sw"),
        aggregate(
          sort_array(collect_list(struct(col("event_type"),
            ((col("n") - 1).cast("double") * log(v)).as("t")))),
          lit(0.0), (acc, x) => acc + x.getField("t")).as("slv"),
        aggregate(
          sort_array(collect_list(struct(col("event_type"),
            (lit(1.0) / (col("n") - 1).cast("double")).as("i")))),
          lit(0.0), (acc, x) => acc + x.getField("i")).as("sinv"))
      val df = (col("nn") - col("k")).cast("double")
      val sp2 = col("sw") / df
      val t = (df * log(sp2) - col("slv")) /
        (lit(1.0) + (col("sinv") - lit(1.0) / df) /
          (lit(3.0) * (col("k") - 1).cast("double")))
      tot.select(col("k"), col("nn").as("n"),
        round(sp2, 6).as("pooled_var"),
        round(t, 6).as("bartlett_t"))
    }),

    // Tukey's HSD post-hoc pairwise comparison (Tukey 1949) over the
    // lineitem return-flag groups — the step AFTER a26_anova_f rejects:
    // WHICH pairs differ. Per ordered pair the studentized-range
    // statistic q = |x̄_a − x̄_b| / √(MSW/2 · (1/n_a + 1/n_b))
    // (Tukey–Kramer form for unequal n). Group n, Σq, Σq² come off ONE
    // keyed agg (integer cents, decimal(38,0)/HUGEINT); MSW's
    // order-sensitive Σ(n_i·Q_i − S_i²)/n_i folds in sorted flag order
    // on both engines; the pair frame is the k² groups-scale cross of a
    // broadcast 3-row frame (the ScaleDesignSpec crossJoin contract).
    "a30_tukey_hsd" -> ((s, dir) => {
      val qv = round(col("l_quantity") * 100).cast("long")
      val g = load(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"), qv.as("q"))
        .groupBy("flag")
        .agg(count(lit(1)).as("n"), sum(hugeint(col("q"))).as("sc"),
          sum(hugeint(col("q")) * col("q")).as("qc"))
        .localCheckpoint() // MSW fold + both sides of the pair frame
      val wterm = (col("n") * col("qc") - col("sc") * col("sc"))
        .cast("double") / col("n").cast("double")
      val tot = g.agg(sum("n").as("nn"), count(lit(1)).as("k"),
        aggregate(
          sort_array(collect_list(struct(col("flag"), wterm.as("w")))),
          lit(0.0), (acc, x) => acc + x.getField("w")).as("sw"))
      val a = g.select(col("flag").as("flag_a"), col("n").as("n_a"),
        col("sc").as("s_a"))
      val b = g.select(col("flag").as("flag_b"), col("n").as("n_b"),
        col("sc").as("s_b"))
      val msw = col("sw") / (col("nn") - col("k")).cast("double")
      val mac = col("s_a").cast("double") / col("n_a").cast("double")
      val mbc = col("s_b").cast("double") / col("n_b").cast("double")
      a.crossJoin(broadcast(b)).where(col("flag_a") < col("flag_b"))
        .crossJoin(broadcast(tot))
        .select(col("flag_a"), col("flag_b"), col("n_a"), col("n_b"),
          round(mac / lit(100.0), 6).as("mean_a"),
          round(mbc / lit(100.0), 6).as("mean_b"),
          round(abs(mac - mbc) /
            sqrt(msw / lit(2.0) *
              (lit(1.0) / col("n_a").cast("double") +
                lit(1.0) / col("n_b").cast("double"))), 6).as("q_stat"))
        .orderBy("flag_a", "flag_b")
    }),

    // Mood's median test across the event types (Mood 1950) — the
    // maximally-robust k-group location screen (only ranks relative to
    // ONE grand median, so it survives outliers even a23_kruskal's rank
    // sums feel): each type's above-grand-median count vs its expectation
    // under homogeneity, reported per type with its χ² contribution.
    // The grand LOWER median (k = (N+1) div 2, the a22 rule) comes off
    // the shared QuantileLadder exact order statistic — bucket-then-
    // refine, NO unpartitioned window over the unbounded cents domain —
    // and broadcasts back as one row; cells are exact integers from one
    // keyed agg; expected/χ² are identical two-step double trees,
    // round(6). Scale: two corpus scans (the locate + the cell agg) and
    // a types-frame rollup.
    //
    // Streaming-twin adjudication: retrospective (the ev_cusum_cp
    // class) — every cell is measured against the FULL-corpus grand
    // median, so no causal processor can emit before the stream closes.
    "a31_mood_median" -> ((s, dir) => {
      val ev = load(s, dir, "events")
        .select(col("event_type"),
          cents(col("value")).as("c"))
        .localCheckpoint() // median locate + cell counts both scan it
      val tgt = ev.agg(count(lit(1)).as("n"))
        .select(lit(50L).as("k"), expr("(n + 1) div 2").as("r"))
      val med = graft.plans.QuantileLadder.orderStats(ev.select(col("c")), "c", tgt)
        .select(col("value").as("med"))
      val cells = ev.crossJoin(broadcast(med))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum((col("c") > col("med")).cast("long")).as("a"))
      val tot = cells.agg(sum("n").as("nn"), sum("a").as("ta"))
      val e1 = col("n").cast("double") * col("ta").cast("double") /
        col("nn").cast("double")
      val e0 = col("n").cast("double") * (col("nn") - col("ta")).cast("double") /
        col("nn").cast("double")
      val d1 = col("a").cast("double") - e1
      val d0 = (col("n") - col("a")).cast("double") - e0
      cells.crossJoin(broadcast(tot))
        .select(col("event_type"), col("n"), col("a").as("n_above"),
          round(col("a").cast("double") / col("n").cast("double"), 6)
            .as("p_above"),
          round(when(e1 > 0 && e0 > 0, d1 * d1 / e1 + d0 * d0 / e0), 6)
            .as("chi2_contrib"))
        .orderBy("event_type")
    }),

    // Brown–Forsythe (median-centered Levene) homogeneity-of-variance
    // test across event types — the gatekeeper every mean-comparison in
    // the battery (a21_welch_t, a23_kruskal, a31_mood_median) implicitly
    // assumes an answer to: do these groups even share a spread?
    // z_ij = |x_ij − med_j| then the one-way ANOVA F over z. Exactness:
    // values quantize to integer cents; each type's median comes from the
    // (type, cents) HISTOGRAM via the two middle order statistics
    // (positions (n+1)÷2 and n÷2+1 off the cumulative window), kept as
    // the integer SUM M = m1+m2 so the deviate w = |2c − M| stays
    // integer (the ×2 scale cancels in F). Per-type Σw, Σw² accumulate in
    // decimal(38,0); the only doubles are the k per-type S1j²/nj terms
    // folded in type-sorted order (the prof_mutual_info parity template)
    // and the final F = ((N−k)/(k−1))·between/within, round(6), NULL
    // when within = 0 or k < 2. Scale: TWO corpus-scale (type, cents)
    // aggs (median locate + deviate sums — kept as separate scans so the
    // cumulative window's aggregated lineage stays visible to the plan
    // audit; the agg is map-side-combining so each shuffle is
    // histogram-scale); the windows, median locate, deviate sums, and
    // fold all ride histogram- and types-scale frames.
    "a32_levene" -> ((s, dir) => {
      def h = centsHistogram(s, dir)
      val wCum = Window.partitionBy("event_type").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("event_type")
      val med = h.withColumn("cum", sum("m").over(wCum))
        .withColumn("n", sum("m").over(wAll))
        .groupBy("event_type")
        .agg((min(when(col("cum") >= expr("(n + 1) div 2"), col("c"))) +
          min(when(col("cum") >= expr("n div 2 + 1"), col("c")))).as("m2"))
      val w = abs(lit(2) * col("c") - col("m2"))
      val z = h.join(broadcast(med), "event_type")
        .select(col("event_type"), col("m"), w.as("w"))
        .groupBy("event_type")
        .agg(sum("m").as("nj"),
          sum(hugeint(col("w")) * col("m")).as("s1"),
          sum(hugeint(col("w")) * col("w") * col("m")).as("s2"))
      val termB = col("s1").cast("double") * col("s1").cast("double") /
        col("nj").cast("double")
      val st = z.agg(count(lit(1)).as("k"), sum("nj").as("n"),
        sum("s1").as("t1"), sum("s2").as("s2t"),
        aggregate(transform(array_sort(collect_list(
          struct(col("event_type"), termB.as("t")))),
          x => x.getField("t")), lit(0.0), (a, t) => a + t).as("sb"))
      val nD = col("n").cast("double")
      val kD = col("k").cast("double")
      val between = col("sb") -
        col("t1").cast("double") * col("t1").cast("double") / nD
      val within = col("s2t").cast("double") - col("sb")
      st.select(col("k"), col("n"),
        round(between, 6).as("ss_between"),
        round(within, 6).as("ss_within"),
        round(when(within > 0 && col("k") > 1,
          (nD - kD) / (kD - 1) * between / within), 6).as("f_bf"))
    }),

    // Catalog coverage + aggregate diversity of the top-K co-occurrence
    // recommender — the Fleder & Hosanagar 2009 concentration audit a
    // recommendation pipeline ships with: how much of the catalog do the
    // lists ever surface, and how concentrated are the surfaced slots?
    // Lists: for every item, the top-KRec co-items by (pair support desc,
    // item asc) over the SAME support-pruned MaxBasket-capped pair frame
    // as rec_cooccur, both directions of each unordered pair. Coverage =
    // distinct recommended / catalog. Concentration: exact Gini of the
    // per-item slot counts via the MEAN-DIFFERENCE identity
    // G = Σᵢⱼ mᵢmⱼ|fᵢ−fⱼ| / (2nS) over the (slot-count, multiplicity)
    // histogram — a broadcast self-join on that tiny frame instead of a
    // global rank window, so nothing unpartitioned enters the plan.
    // Integer until the two final doubles, round(6). Scale: the shared
    // capped basketPairs explode + keyed aggs; the top-K window
    // partitions on the ITEM key (data-scale, not low-card); the gini
    // self-join rides a ≤|distinct slot-count|² broadcast frame.
    "rec_coverage" -> ((s, dir) => {
      val items = load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val pairs = basketPairs(items)
        .groupBy(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
        .agg(count(lit(1)).as("c"))
        .where(col("c") >= 2)
      val recs = pairs
        .select(col("pa").as("src"), col("pb").as("dst"), col("c"))
        .unionAll(pairs
          .select(col("pb").as("src"), col("pa").as("dst"), col("c")))
      val wTop = Window.partitionBy("src").orderBy(col("c").desc, col("dst"))
      val top = recs.withColumn("rn", row_number().over(wTop))
        .where(col("rn") <= KRec)
        .localCheckpoint() // slot counts + coverage scalars both ride it
      val cat = items.agg(countDistinct("l_partkey").as("catalog_n"))
      val cov = top.agg(countDistinct("src").as("items_with_recs"),
        countDistinct("dst").as("n_recommended"))
      val hist = top.groupBy("dst").agg(count(lit(1)).as("f"))
        .groupBy("f").agg(count(lit(1)).as("m"))
      val hb = hist.select(col("f").as("fb"), col("m").as("mb"))
      val sums = hist.agg(sum("m").as("n"),
        sum(hugeint(col("f")) * col("m")).as("s"))
      val md = hist.crossJoin(broadcast(hb))
        .agg(sum(hugeint(col("m")) * col("mb") *
          abs(col("f") - col("fb"))).as("md"))
      cat.crossJoin(broadcast(cov)).crossJoin(broadcast(sums))
        .crossJoin(broadcast(md))
        .select(col("catalog_n"), col("items_with_recs"),
          col("n_recommended"),
          round(col("n_recommended").cast("double") /
            col("catalog_n").cast("double"), 6).as("coverage"),
          round(col("md").cast("double") /
            (lit(2.0) * col("n").cast("double") * col("s").cast("double")),
            6).as("rec_gini"))
    }),

    // Friedman rank test across event types blocked by calendar day —
    // the two-way nonparametric ANOVA ("does any type's daily level
    // differ, CONTROLLING for the shared day effect") completing the
    // test family: a23_kruskal is one-way (ignores blocks),
    // ev_wilcoxon_sr is the paired two-treatment special case. Blocks:
    // days where ALL k types reported (the classical complete-block
    // design); response = the day's value sum in integer cents. Midranks
    // within each block in HALF units h = 2·rank_min + t − 1 (integer),
    // so the tie-corrected Conover T1 statistic clears denominators:
    // Q = (k−1)·Σⱼ(R2ⱼ − n(k+1))² / (Σh² − n·k·(k+1)²) — EVERY term an
    // exact integer (the ×2 rank scale cancels), one double division at
    // the end, round(6), NULL when the denominator is 0 (all blocks
    // fully tied). Scale: one corpus-scale (type, day) agg; the rank/tie
    // windows partition on the DAY key (calendar-scale, not low-card)
    // over the aggregated types×days frame; everything after is
    // types-scale with 1-row broadcasts.
    "a34_friedman" -> ((s, dir) => {
      val daily = EventWindows.dailyCents(s, dir).withColumnRenamed("sc", "v")
      val kf = daily.select("event_type").distinct()
        .agg(count(lit(1)).as("k"))
      val comp = daily.groupBy("d").agg(count(lit(1)).as("kt"))
        .crossJoin(broadcast(kf))
        .where(col("kt") === col("k")).select("d", "k")
      val wRank = Window.partitionBy("d").orderBy("v")
      val wTie = Window.partitionBy("d", "v")
      val blocks = daily.join(broadcast(comp), "d")
        .withColumn("rmin", rank().over(wRank).cast("long"))
        .withColumn("t", count(lit(1)).over(wTie))
        .select(col("event_type"), col("k"),
          (lit(2L) * col("rmin") + col("t") - 1).as("h"))
      val st = blocks.groupBy("event_type", "k")
        .agg(count(lit(1)).as("n"), sum("h").as("r2"))
      val a2 = blocks
        .agg(sum(hugeint(col("h")) * col("h")).as("a2"))
      val nm = st.agg(sum(
        hugeint(col("r2") - col("n") * (col("k") + 1)) *
          (col("r2") - col("n") * (col("k") + 1))).as("num"))
      val denD = (col("a2") -
        col("n") * col("k") * (col("k") + 1) * (col("k") + 1)).cast("double")
      st.crossJoin(broadcast(a2)).crossJoin(broadcast(nm))
        .select(col("event_type"), col("n").as("n_days"), col("k"),
          round(col("r2").cast("double") /
            (lit(2.0) * col("n").cast("double")), 6).as("mean_rank"),
          round(when(denD > 0, (col("k") - 1).cast("double") *
            col("num").cast("double") / denD), 6).as("q"))
        .orderBy("event_type")
    }),

    // Importance-reweighting diagnostic for a language-balanced training
    // mix — "what would the corpus statistic look like under the TARGET
    // (uniform-over-languages) distribution, and how much sample do the
    // weights burn": per-doc weight w = N/(L·n_lang) (target share 1/L
    // over source share n_lang/N); the self-normalized estimate of mean
    // doc length under the target mix reduces to the mean of per-lang
    // means, Kish's effective sample size (Σw)²/Σw² reduces to
    // L²/Σ(1/n_l), and the design effect N/ESS says how many raw docs
    // one target-distributed doc costs. Per-lang sums are exact
    // integers; the per-lang double terms fold in lang-sorted order (the
    // prof_mutual_info parity template); round(6). Scale: ONE (lang)
    // keyed agg over documents; everything after is langs-scale.
    "samp_importance" -> ((s, dir) => {
      val byLang = load(s, dir, "documents")
        .groupBy("lang").agg(count(lit(1)).as("nl"),
          sum(col("n_chars")).as("sx"))
      def fold(term: org.apache.spark.sql.Column) =
        aggregate(transform(array_sort(collect_list(
          struct(col("lang"), term.as("t")))),
          x => x.getField("t")), lit(0.0), (a, t) => a + t)
      val st = byLang.agg(count(lit(1)).as("l"), sum("nl").as("n"),
        sum("sx").as("sxt"),
        fold(col("sx").cast("double") / col("nl").cast("double")).as("sm"),
        fold(lit(1.0) / col("nl").cast("double")).as("sinv"))
      val nD = col("n").cast("double")
      val lD = col("l").cast("double")
      st.select(col("n").as("n_docs"), col("l").as("n_langs"),
        round(col("sxt").cast("double") / nD, 6).as("mean_naive"),
        round(col("sm") / lD, 6).as("mean_weighted"),
        round(lD * lD / col("sinv"), 6).as("ess"),
        round(nD * col("sinv") / (lD * lD), 6).as("deff"))
    }),

    // A/B sample-size calculator per event type — the planning companion
    // to a37_tost/a21_welch_t: from each type's observed value variance,
    // the per-arm n required to detect a ±50-cent mean shift at α = 0.05
    // two-sided with 80% power, n = 2(z_{α/2}+z_β)²σ²/δ² (normal
    // approximation, z constants 1.96/0.8416 spelled as literals so both
    // engines build the identical tree), plus whether the CURRENT
    // per-type volume already covers two arms. Variance from the exact
    // decimal power sums (the welchPairs form); ceil on the shared
    // double → identical integer cross-engine. NULL when n ≤ 1. Scale:
    // one keyed agg; math on the types frame.
    "ev_power" -> ((s, dir) => {
      val st = load(s, dir, "events")
        .select(col("event_type"),
          cents(col("value")).as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
          sum(hugeint(col("c")) * col("c")).as("s2"))
      val v = (hugeint(col("n")) * col("s2") - hugeint(col("s1")) * col("s1"))
        .cast("double") /
        (col("n").cast("double") * (col("n").cast("double") - 1))
      val zz = (lit(1.96) + lit(0.8416)) * (lit(1.96) + lit(0.8416))
      val nReq = ceil(lit(2.0) * zz * v / lit(2500.0))
      st.select(col("event_type"), col("n"),
          round(when(col("n") > 1, sqrt(v)), 6).as("sd_cents"),
          when(col("n") > 1, nReq).as("n_required"),
          when(col("n") > 1, col("n") >= lit(2L) * nReq).as("powered"))
        .orderBy("event_type")
    }),

    // Group-aware K-fold assignment — the leakage-free split a
    // user-event corpus REQUIRES: split_assign buckets documents, but
    // bucketing EVENTS directly would put one user's history in several
    // folds and leak identity features across train/validation. Here the
    // USER is the atom: content-stable hash32("u:" + user_id) mod 5, so
    // every event of a user lands in exactly one fold (by construction —
    // the spec pins it), reproducible on any cluster with no RNG state.
    // Reports per-fold user/event/value masses + event share. Scale: one
    // keyed agg; the fold hash is map-side.
    "samp_group_split" -> ((s, dir) => {
      val ev = load(s, dir, "events")
        .select(col("user_id"), col("value"),
          (graft.Exact.hash32(concat(lit("u:"),
            col("user_id").cast("string"))) % 5).as("fold"))
      val tot = ev.agg(count(lit(1)).as("tot"))
      ev.groupBy("fold")
        .agg(countDistinct("user_id").as("n_users"),
          count(lit(1)).as("n_events"),
          graft.Exact.dsum(col("value")).as("sum_value"))
        .crossJoin(broadcast(tot))
        .select(col("fold"), col("n_users"), col("n_events"),
          col("sum_value"),
          round(col("n_events").cast("double") / col("tot").cast("double"),
            6).as("share"))
        .orderBy("fold")
    }),

    // Hash-uniformity audit of the shared sampling hash — every
    // hash-keyed operator here (samp_hash's 10% gate, the minhash/LSH
    // family, KeyedRank's stripes) silently assumes [[graft.Exact.hash32]]
    // spreads keys uniformly; this op MEASURES it: event ids bucket into
    // 256 hash buckets (zero-filled spine, so an unhit bucket counts),
    // χ² = Σ(o − e)²/e against uniform with e = N/256, plus the min/max
    // occupancy. At 255 df a χ² beyond ~350 means the hash (or the key
    // population) is biased and every downstream "x% sample" claim
    // inherits it. Counts exact; the 256 χ² terms fold in bucket order,
    // round(6). Scale: one corpus-scale agg that map-side-combines to
    // ≤256 groups; everything after is 256-row math.
    "prof_hash_quality" -> ((s, dir) => {
      val b = load(s, dir, "events")
        .select((graft.Exact.hash32(col("event_id").cast("string")) % 256)
          .as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("o"))
      val spine = b.agg(sum("o").as("n"))
        .select(col("n"), explode(sequence(lit(0L), lit(255L))).as("bucket"))
      val full = spine.join(b, Seq("bucket"), "left")
        .select(col("bucket"), col("n"), coalesce(col("o"), lit(0L)).as("o"))
      val e = col("n").cast("double") / lit(256.0)
      val chi = aggregate(transform(array_sort(collect_list(
        struct(col("bucket"),
          (((col("o").cast("double") - e) * (col("o").cast("double") - e))
            / e).as("t")))),
        x => x.getField("t")), lit(0.0), (a, t) => a + t)
      full.groupBy("n")
        .agg(min("o").as("min_bucket"), max("o").as("max_bucket"),
          chi.as("chi2"))
        .select(col("n").as("n_rows"), lit(255L).as("df"),
          col("min_bucket"), col("max_bucket"),
          round(col("chi2"), 6).as("chi2"))
    }))

  val oracle: Map[String, String] = Map(
    "a32_levene" ->
      """WITH h AS (
        |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
        |    count(*) AS m
        |  FROM events GROUP BY 1, 2),
        |cums AS (
        |  SELECT event_type, c, m, sum(m) OVER (
        |    PARTITION BY event_type ORDER BY c
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(m) OVER (PARTITION BY event_type) AS n
        |  FROM h),
        |med AS (
        |  SELECT event_type,
        |    min(CASE WHEN cum >= (n + 1) // 2 THEN c END)
        |    + min(CASE WHEN cum >= n // 2 + 1 THEN c END) AS m2
        |  FROM cums GROUP BY 1),
        |z AS (
        |  SELECT h.event_type, sum(m) AS nj,
        |    sum(CAST(abs(2 * c - m2) AS HUGEINT) * m) AS s1,
        |    sum(CAST(abs(2 * c - m2) AS HUGEINT) * abs(2 * c - m2) * m) AS s2
        |  FROM h JOIN med USING (event_type) GROUP BY 1),
        |st AS (
        |  SELECT count(*) AS k, sum(nj) AS n, sum(s1) AS t1, sum(s2) AS s2t,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |             / CAST(nj AS DOUBLE)
        |           ORDER BY event_type)), (a, b) -> a + b) AS sb
        |  FROM z)
        |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
        |  round(sb - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE)
        |          / CAST(n AS DOUBLE), 6) AS ss_between,
        |  round(CAST(s2t AS DOUBLE) - sb, 6) AS ss_within,
        |  round(CASE WHEN CAST(s2t AS DOUBLE) - sb > 0 AND k > 1 THEN
        |    (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) / (CAST(k AS DOUBLE) - 1)
        |    * (sb - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE)
        |         / CAST(n AS DOUBLE))
        |    / (CAST(s2t AS DOUBLE) - sb) END, 6) AS f_bf
        |FROM st""".stripMargin,

    "rec_coverage" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |citems AS (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT l_orderkey, l_partkey, row_number()
        |      OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
        |    FROM items) WHERE rn <= $MaxBasket),
        |ps AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS c
        |  FROM citems a JOIN citems b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |recs AS (SELECT pa AS src, pb AS dst, c FROM ps
        |         UNION ALL SELECT pb, pa, c FROM ps),
        |topk AS (SELECT src, dst FROM (
        |  SELECT src, dst, row_number()
        |    OVER (PARTITION BY src ORDER BY c DESC, dst) AS rn
        |  FROM recs) WHERE rn <= $KRec),
        |cat AS (SELECT count(DISTINCT l_partkey) AS catalog_n FROM items),
        |cov AS (SELECT count(DISTINCT src) AS items_with_recs,
        |               count(DISTINCT dst) AS n_recommended FROM topk),
        |hist AS (SELECT f, count(*) AS m FROM (
        |  SELECT dst, count(*) AS f FROM topk GROUP BY 1) GROUP BY 1),
        |sums AS (SELECT sum(m) AS n, sum(CAST(f AS HUGEINT) * m) AS s
        |         FROM hist),
        |md AS (SELECT sum(CAST(a.m AS HUGEINT) * b.m * abs(a.f - b.f)) AS md
        |       FROM hist a CROSS JOIN hist b)
        |SELECT catalog_n, items_with_recs, n_recommended,
        |  round(CAST(n_recommended AS DOUBLE) / CAST(catalog_n AS DOUBLE), 6)
        |    AS coverage,
        |  round(CAST(md AS DOUBLE)
        |        / (2.0 * CAST(n AS DOUBLE) * CAST(s AS DOUBLE)), 6)
        |    AS rec_gini
        |FROM cat CROSS JOIN cov CROSS JOIN sums CROSS JOIN md""".stripMargin,

    "samp_importance" ->
      """WITH byl AS (
        |  SELECT lang, count(*) AS nl, sum(n_chars) AS sx
        |  FROM documents GROUP BY 1),
        |st AS (
        |  SELECT count(*) AS l, sum(nl) AS n, sum(sx) AS sxt,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(CAST(sx AS DOUBLE) / CAST(nl AS DOUBLE) ORDER BY lang)),
        |      (a, b) -> a + b) AS sm,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(1.0 / CAST(nl AS DOUBLE) ORDER BY lang)),
        |      (a, b) -> a + b) AS sinv
        |  FROM byl)
        |SELECT CAST(n AS BIGINT) AS n_docs, CAST(l AS BIGINT) AS n_langs,
        |  round(CAST(sxt AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_naive,
        |  round(sm / CAST(l AS DOUBLE), 6) AS mean_weighted,
        |  round(CAST(l AS DOUBLE) * CAST(l AS DOUBLE) / sinv, 6) AS ess,
        |  round(CAST(n AS DOUBLE) * sinv
        |        / (CAST(l AS DOUBLE) * CAST(l AS DOUBLE)), 6) AS deff
        |FROM st""".stripMargin,

    "ev_power" ->
      """WITH st AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(c) AS BIGINT) AS s1, sum(CAST(c AS HUGEINT) * c) AS s2
        |  FROM (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |        FROM events)
        |  GROUP BY 1),
        |v AS (
        |  SELECT event_type, n,
        |    CAST(CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)) AS var
        |  FROM st)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  round(CASE WHEN n > 1 THEN sqrt(var) END, 6) AS sd_cents,
        |  CASE WHEN n > 1 THEN CAST(ceil(
        |    2.0 * ((1.96 + 0.8416) * (1.96 + 0.8416)) * var / 2500.0)
        |    AS BIGINT) END AS n_required,
        |  CASE WHEN n > 1 THEN n >= 2 * CAST(ceil(
        |    2.0 * ((1.96 + 0.8416) * (1.96 + 0.8416)) * var / 2500.0)
        |    AS BIGINT) END AS powered
        |FROM v ORDER BY event_type""".stripMargin,

    "samp_group_split" ->
      s"""WITH ev AS (
         |  SELECT user_id, value,
         |    ${graft.Exact.hash32Sql("'u:' || CAST(user_id AS VARCHAR)")}
         |      % 5 AS fold
         |  FROM events),
         |tot AS (SELECT count(*) AS tot FROM ev)
         |SELECT fold, count(DISTINCT user_id) AS n_users,
         |  count(*) AS n_events,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         |  round(CAST(count(*) AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share
         |FROM ev CROSS JOIN tot GROUP BY fold, tot
         |ORDER BY fold""".stripMargin,

    "prof_hash_quality" ->
      s"""WITH b AS (
         |  SELECT ${graft.Exact.hash32Sql("CAST(event_id AS VARCHAR)")}
         |      % 256 AS bucket,
         |    count(*) AS o
         |  FROM events GROUP BY 1),
         |n AS (SELECT sum(o) AS n FROM b),
         |f AS (
         |  SELECT s.bucket, n.n, coalesce(b.o, 0) AS o
         |  FROM (SELECT unnest(range(256)) AS bucket) s CROSS JOIN n
         |  LEFT JOIN b USING (bucket)),
         |st AS (
         |  SELECT n, min(o) AS min_bucket, max(o) AS max_bucket,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list(((CAST(o AS DOUBLE) - CAST(n AS DOUBLE) / 256.0)
         |            * (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) / 256.0))
         |           / (CAST(n AS DOUBLE) / 256.0) ORDER BY bucket)),
         |      (a, b) -> a + b) AS chi2
         |  FROM f GROUP BY n)
         |SELECT CAST(n AS BIGINT) AS n_rows, CAST(255 AS BIGINT) AS df,
         |  CAST(min_bucket AS BIGINT) AS min_bucket,
         |  CAST(max_bucket AS BIGINT) AS max_bucket,
         |  round(chi2, 6) AS chi2
         |FROM st""".stripMargin,

    "a34_friedman" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v
        |  FROM events GROUP BY 1, 2),
        |kf AS (SELECT count(DISTINCT event_type) AS k FROM daily),
        |comp AS (
        |  SELECT d, k FROM (SELECT d, count(*) AS kt FROM daily GROUP BY 1)
        |  CROSS JOIN kf WHERE kt = k),
        |blocks AS (
        |  SELECT event_type, k,
        |    2 * CAST(rank() OVER (PARTITION BY daily.d ORDER BY v)
        |          AS BIGINT)
        |      + count(*) OVER (PARTITION BY daily.d, v) - 1 AS h
        |  FROM daily JOIN comp ON daily.d = comp.d),
        |st AS (SELECT event_type, k, count(*) AS n, sum(h) AS r2
        |       FROM blocks GROUP BY 1, 2),
        |a2 AS (SELECT sum(CAST(h AS HUGEINT) * h) AS a2 FROM blocks),
        |nm AS (SELECT sum(CAST(r2 - n * (k + 1) AS HUGEINT)
        |              * (r2 - n * (k + 1))) AS num FROM st)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |  CAST(k AS BIGINT) AS k,
        |  round(CAST(r2 AS DOUBLE) / (2.0 * CAST(n AS DOUBLE)), 6)
        |    AS mean_rank,
        |  round(CASE WHEN CAST(a2 - n * k * (k + 1) * (k + 1) AS DOUBLE) > 0
        |    THEN CAST(k - 1 AS DOUBLE) * CAST(num AS DOUBLE)
        |      / CAST(a2 - n * k * (k + 1) * (k + 1) AS DOUBLE) END, 6) AS q
        |FROM st CROSS JOIN a2 CROSS JOIN nm
        |ORDER BY event_type""".stripMargin,

    "skew_distinct_2phase" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "j7_range_bin" ->
      s"""SELECT e.event_id, count(p.event_id) AS n_purch,
         |  CAST(coalesce(sum(CAST(p.value AS DECIMAL(18,2))),
         |                CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS purch_value
         |FROM events e LEFT JOIN events p
         |  ON p.event_type = 'purchase'
         | AND epoch_us(p.ts) >= epoch_us(e.ts)
         | AND epoch_us(p.ts) < epoch_us(e.ts) + $BucketUs
         |WHERE e.event_type = 'error'
         |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin,

    "scd2_intervals" ->
      """WITH chg AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |runs AS (
        |  SELECT user_id, event_type, ts, event_id FROM chg
        |  WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_type, ts AS valid_from,
        |  coalesce(lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        |           TIMESTAMP '2099-12-31 00:00:00') AS valid_to,
        |  CAST(lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |       AS INT) AS is_current
        |FROM runs ORDER BY user_id, valid_from""".stripMargin,

    "zorder_key" ->
      s"""SELECT event_id,
         |  ${graft.functions.ZOrder.zkeySql(
              s"((user_id % ${1 << ZBits} + ${1 << ZBits}) % ${1 << ZBits})",
              "CAST(json_extract_string(props, '$.k') AS BIGINT)", ZBits)} AS zkey
         |FROM events ORDER BY event_id""".stripMargin,

    "prof_outliers" ->
      """WITH f AS (
        |  SELECT event_type AS ft,
        |    round(quantile_cont(value, 0.25)
        |          - (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)) * 1.5, 6) AS lo,
        |    round(quantile_cont(value, 0.75)
        |          + (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)) * 1.5, 6) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  min(lo) AS lo, min(hi) AS hi
        |FROM events JOIN f ON event_type = ft
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "samp_stratified" ->
      s"""WITH h AS (
         |  SELECT event_type, event_id, value,
         |    ${graft.Exact.hash32Sql("CAST(event_id AS VARCHAR)")} AS h
         |  FROM events),
         |rk AS (
         |  SELECT event_type, value, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h, event_id) AS rk
         |  FROM h)
         |SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         |  min(h) AS h_min
         |FROM rk WHERE rk <= 100
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "a18_ks" ->
      """WITH h AS (
        |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
        |    count(*) AS m
        |  FROM events GROUP BY 1, 2),
        |tys AS (SELECT DISTINCT event_type AS t2 FROM h),
        |px AS (
        |  SELECT least(h.event_type, t.t2) AS type_a,
        |    greatest(h.event_type, t.t2) AS type_b,
        |    h.event_type AS own, c, m
        |  FROM h, tys t WHERE t.t2 <> h.event_type),
        |pc AS (
        |  SELECT type_a, type_b, c,
        |    CAST(sum(CASE WHEN own = type_a THEN m ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN own = type_b THEN m ELSE 0 END) AS BIGINT) AS cb
        |  FROM px GROUP BY 1, 2, 3),
        |cd AS (
        |  SELECT type_a, type_b,
        |    CAST(sum(ca) OVER cdf AS BIGINT) AS cuma,
        |    CAST(sum(cb) OVER cdf AS BIGINT) AS cumb,
        |    CAST(sum(ca) OVER whole AS BIGINT) AS na,
        |    CAST(sum(cb) OVER whole AS BIGINT) AS nb
        |  FROM pc
        |  WINDOW cdf AS (PARTITION BY type_a, type_b ORDER BY c
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         whole AS (PARTITION BY type_a, type_b
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        |a AS (
        |  SELECT type_a, type_b, max(na) AS na, max(nb) AS nb,
        |    max(abs(CAST(cuma AS HUGEINT) * nb - CAST(cumb AS HUGEINT) * na)) AS mx
        |  FROM cd GROUP BY 1, 2)
        |SELECT type_a, type_b, na AS n_a, nb AS n_b,
        |  round(CAST(mx AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS d,
        |  round(CAST(mx AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) *
        |        sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
        |             / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))), 6) AS lambda
        |FROM a ORDER BY type_a, type_b""".stripMargin,

    "a35_cvm" ->
      """WITH h AS (
        |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
        |    count(*) AS m
        |  FROM events GROUP BY 1, 2),
        |tys AS (SELECT DISTINCT event_type AS t2 FROM h),
        |px AS (
        |  SELECT least(h.event_type, t.t2) AS type_a,
        |    greatest(h.event_type, t.t2) AS type_b,
        |    h.event_type AS own, c, m
        |  FROM h, tys t WHERE t.t2 <> h.event_type),
        |pc AS (
        |  SELECT type_a, type_b, c,
        |    CAST(sum(CASE WHEN own = type_a THEN m ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN own = type_b THEN m ELSE 0 END) AS BIGINT) AS cb
        |  FROM px GROUP BY 1, 2, 3),
        |cd AS (
        |  SELECT type_a, type_b, c, ca, cb,
        |    CAST(sum(ca) OVER cdf AS BIGINT) AS cuma,
        |    CAST(sum(cb) OVER cdf AS BIGINT) AS cumb,
        |    CAST(sum(ca) OVER whole AS BIGINT) AS na,
        |    CAST(sum(cb) OVER whole AS BIGINT) AS nb
        |  FROM pc
        |  WINDOW cdf AS (PARTITION BY type_a, type_b ORDER BY c
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         whole AS (PARTITION BY type_a, type_b
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        |a AS (
        |  SELECT type_a, type_b, max(na) AS na, max(nb) AS nb,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(CAST(ca + cb AS DOUBLE)
        |           * (CAST(CAST(cuma AS HUGEINT) * nb
        |                   - CAST(cumb AS HUGEINT) * na AS DOUBLE)
        |              * CAST(CAST(cuma AS HUGEINT) * nb
        |                     - CAST(cumb AS HUGEINT) * na AS DOUBLE))
        |           ORDER BY c)), (x, y) -> x + y) AS f
        |  FROM cd GROUP BY 1, 2)
        |SELECT type_a, type_b, na AS n_a, nb AS n_b,
        |  round(f / (CAST(na + nb AS DOUBLE) * CAST(na + nb AS DOUBLE)
        |             * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS t
        |FROM a ORDER BY type_a, type_b""".stripMargin,

    "a37_tost" ->
      """WITH st AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(c) AS BIGINT) AS s1, sum(CAST(c AS HUGEINT) * c) AS s2
        |  FROM (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |        FROM events)
        |  GROUP BY 1),
        |pr AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    a.n AS n_a, b.n AS n_b,
        |    CAST(a.s1 AS DOUBLE) / CAST(a.n AS DOUBLE) AS ma,
        |    CAST(b.s1 AS DOUBLE) / CAST(b.n AS DOUBLE) AS mb,
        |    CAST(CAST(a.n AS HUGEINT) * a.s2
        |         - CAST(a.s1 AS HUGEINT) * a.s1 AS DOUBLE)
        |      / (CAST(a.n AS DOUBLE) * (CAST(a.n AS DOUBLE) - 1))
        |      / CAST(a.n AS DOUBLE) AS va,
        |    CAST(CAST(b.n AS HUGEINT) * b.s2
        |         - CAST(b.s1 AS HUGEINT) * b.s1 AS DOUBLE)
        |      / (CAST(b.n AS DOUBLE) * (CAST(b.n AS DOUBLE) - 1))
        |      / CAST(b.n AS DOUBLE) AS vb
        |  FROM st a JOIN st b ON a.event_type < b.event_type),
        |zx AS (SELECT *, ma - mb AS delta, sqrt(va + vb) AS se FROM pr),
        |zz AS (SELECT *, (delta + 50.0) / se AS z1,
        |              (50.0 - delta) / se AS z2 FROM zx),
        |px AS (SELECT *,
        |  CASE WHEN z1 >= 0 THEN z1 / sqrt(2.0)
        |    ELSE (0.0 - z1) / sqrt(2.0) END AS x1,
        |  CASE WHEN z2 >= 0 THEN z2 / sqrt(2.0)
        |    ELSE (0.0 - z2) / sqrt(2.0) END AS x2
        |  FROM zz),
        |pt AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x1) AS t1,
        |              1.0 / (1.0 + 0.3275911 * x2) AS t2 FROM px),
        |pa AS (SELECT *,
        |  (((((1.061405429 * t1 + -1.453152027) * t1 + 1.421413741) * t1
        |     + -0.284496736) * t1 + 0.254829592) * t1)
        |    * exp(x1 * x1 * -1.0) AS a1,
        |  (((((1.061405429 * t2 + -1.453152027) * t2 + 1.421413741) * t2
        |     + -0.284496736) * t2 + 0.254829592) * t2)
        |    * exp(x2 * x2 * -1.0) AS a2
        |  FROM pt),
        |pp AS (SELECT *,
        |  CASE WHEN z1 >= 0 THEN 0.5 * a1 ELSE 1.0 - 0.5 * a1 END AS p1,
        |  CASE WHEN z2 >= 0 THEN 0.5 * a2 ELSE 1.0 - 0.5 * a2 END AS p2
        |  FROM pa)
        |SELECT type_a, type_b, CAST(n_a AS BIGINT) AS n_a,
        |  CAST(n_b AS BIGINT) AS n_b,
        |  round(delta, 6) AS mean_diff_cents,
        |  round(CASE WHEN n_a > 1 AND n_b > 1 AND se > 0
        |        THEN greatest(p1, p2) END, 6) AS p_tost,
        |  CASE WHEN n_a > 1 AND n_b > 1 AND se > 0
        |    THEN greatest(p1, p2) < 0.05 END AS equivalent
        |FROM pp ORDER BY type_a, type_b""".stripMargin,

    "a36_ad2" ->
      """WITH h AS (
        |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
        |    count(*) AS m
        |  FROM events GROUP BY 1, 2),
        |tys AS (SELECT DISTINCT event_type AS t2 FROM h),
        |px AS (
        |  SELECT least(h.event_type, t.t2) AS type_a,
        |    greatest(h.event_type, t.t2) AS type_b,
        |    h.event_type AS own, c, m
        |  FROM h, tys t WHERE t.t2 <> h.event_type),
        |pc AS (
        |  SELECT type_a, type_b, c,
        |    CAST(sum(CASE WHEN own = type_a THEN m ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN own = type_b THEN m ELSE 0 END) AS BIGINT) AS cb
        |  FROM px GROUP BY 1, 2, 3),
        |cd AS (
        |  SELECT type_a, type_b, c, ca, cb,
        |    CAST(sum(ca) OVER cdf AS BIGINT) AS cuma,
        |    CAST(sum(cb) OVER cdf AS BIGINT) AS cumb,
        |    CAST(sum(ca) OVER whole AS BIGINT) AS na,
        |    CAST(sum(cb) OVER whole AS BIGINT) AS nb
        |  FROM pc
        |  WINDOW cdf AS (PARTITION BY type_a, type_b ORDER BY c
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         whole AS (PARTITION BY type_a, type_b
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        |a AS (
        |  SELECT type_a, type_b, max(na) AS na, max(nb) AS nb,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(CASE WHEN cuma + cumb < na + nb THEN
        |             CAST(ca + cb AS DOUBLE)
        |             * (CAST(CAST(cuma AS HUGEINT) * nb
        |                     - CAST(cumb AS HUGEINT) * na AS DOUBLE)
        |                * CAST(CAST(cuma AS HUGEINT) * nb
        |                       - CAST(cumb AS HUGEINT) * na AS DOUBLE))
        |             / (CAST(cuma + cumb AS DOUBLE)
        |                * (CAST(na + nb AS DOUBLE)
        |                   - CAST(cuma + cumb AS DOUBLE)))
        |           ELSE CAST(0 AS DOUBLE) END
        |           ORDER BY c)), (x, y) -> x + y) AS f
        |  FROM cd GROUP BY 1, 2)
        |SELECT type_a, type_b, na AS n_a, nb AS n_b,
        |  round(f / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS a2
        |FROM a ORDER BY type_a, type_b""".stripMargin,

    "prof_freshness" ->
      """WITH wm AS (SELECT max(epoch_us(ts)) AS wm FROM events)
        |SELECT event_type, count(*) AS n_rows,
        |  make_timestamp(max(epoch_us(ts))) AS last_ts,
        |  CAST(max(wm) - max(epoch_us(ts)) AS BIGINT) AS staleness_us,
        |  CAST(sum(CASE WHEN epoch_us(ts) >= wm - 86400000000 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_last_24h,
        |  CAST(sum(CASE WHEN epoch_us(ts) >= wm - 7 * 86400000000 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_last_7d
        |FROM events, wm GROUP BY event_type ORDER BY event_type""".stripMargin,

    "prof_keys" ->
      """WITH n AS (SELECT count(*) AS n_rows FROM events),
        |p1 AS (SELECT 'event_id' AS key_cols,
        |         CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct
        |       FROM events),
        |p2 AS (SELECT 'ts' AS key_cols,
        |         CAST(count(DISTINCT ts) AS BIGINT) AS n_distinct FROM events),
        |p3 AS (SELECT 'user_id,ts' AS key_cols,
        |         CAST(count(*) AS BIGINT) AS n_distinct
        |       FROM (SELECT DISTINCT user_id, ts FROM events)),
        |p4 AS (SELECT 'user_id,event_type,ts' AS key_cols,
        |         CAST(count(*) AS BIGINT) AS n_distinct
        |       FROM (SELECT DISTINCT user_id, event_type, ts FROM events)),
        |u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2
        |      UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4)
        |SELECT key_cols, n_distinct, n_rows,
        |  CAST(n_distinct = n_rows AS BIGINT) AS is_unique
        |FROM u, n ORDER BY key_cols""".stripMargin,

    // The same register derivation with the daily partial level made
    // explicit; max-of-maxes merge then the shared estimator literals.
    "prof_hll_merge" ->
      s"""WITH h AS (
         |  SELECT event_type, CAST(ts AS DATE) AS d,
         |    ${graft.Exact.hash32Sql("'u:' || CAST(user_id AS VARCHAR)")} AS h32
         |  FROM events),
         |r AS (
         |  SELECT event_type, d, h32 // 1048576 AS bk,
         |    CASE WHEN h32 % 1048576 = 0 THEN 21
         |         ELSE 21 - length(bin(h32 % 1048576)) END AS rho
         |  FROM h),
         |daily AS (SELECT event_type, d, bk, max(rho) AS mx
         |          FROM r GROUP BY 1, 2, 3),
         |merged AS (SELECT event_type, bk, max(mx) AS mx
         |           FROM daily GROUP BY 1, 2),
         |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
         |       FROM (SELECT DISTINCT event_type, d FROM r) GROUP BY 1),
         |sk AS (
         |  SELECT event_type, count(*) AS nz,
         |    CAST(sum(mx) AS BIGINT) AS sum_rho,
         |    sum(1.0 / CAST(1 << CAST(mx AS INT) AS DOUBLE)) AS sneg
         |  FROM merged GROUP BY 1)
         |SELECT sk.event_type, n_days,
         |  CAST(4096 - nz AS BIGINT) AS zero_regs, sum_rho,
         |  round(CASE WHEN 0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0
         |             / (CAST(4096 - nz AS DOUBLE) + sneg) <= 10240.0
         |           AND 4096 - nz > 0
         |      THEN 4096.0 * ln(4096.0 / CAST(4096 - nz AS DOUBLE))
         |      ELSE 0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0
         |             / (CAST(4096 - nz AS DOUBLE) + sneg) END, 6) AS hll_est
         |FROM sk JOIN nd ON sk.event_type = nd.event_type
         |ORDER BY sk.event_type""".stripMargin,

    // The kth smallest distinct hash via a plain rank (the oracle has no
    // partition-bottleneck constraint); identical estimator literals.
    "prof_kmv" ->
      s"""WITH hs AS (
         |  SELECT DISTINCT event_type,
         |    ${graft.Exact.hash32Sql("'u:' || CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |rk AS (
         |  SELECT event_type, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |  FROM hs),
         |cnt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_hashes
         |        FROM hs GROUP BY 1),
         |kth AS (
         |  SELECT rk.event_type, rk.h AS kth_hash
         |  FROM rk JOIN cnt ON rk.event_type = cnt.event_type
         |  WHERE rk.rn = least(cnt.n_hashes, 256)),
         |ex AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM (SELECT DISTINCT event_type, user_id FROM events)
         |  GROUP BY 1),
         |est AS (
         |  SELECT cnt.event_type, n_hashes, kth_hash, n_exact,
         |    CASE WHEN n_hashes < 256 THEN CAST(n_hashes AS DOUBLE)
         |         ELSE 255.0 / ((CAST(kth_hash AS DOUBLE) + 0.5)
         |                       / 4294967296.0) END AS e
         |  FROM cnt JOIN kth ON cnt.event_type = kth.event_type
         |  JOIN ex ON cnt.event_type = ex.event_type)
         |SELECT event_type, n_hashes, kth_hash, n_exact,
         |  round(e, 6) AS kmv_est,
         |  round((e - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE), 6)
         |    AS rel_err
         |FROM est ORDER BY event_type""".stripMargin
    ,

    // Identical Kirsch–Mitzenmacher cells; the probe is an all-integer
    // min over the 4 matched counters.
    "prof_cms" -> {
      val pos = (0 to 3).map(j => s"{'j': $j, 'pos': (h1 + $j * h2) % 1024}")
        .mkString(", ")
      s"""WITH ev AS (
         |  SELECT user_id,
         |    ${graft.Exact.hash32Sql("'u:' || CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |ek AS (SELECT user_id, h // 65536 AS h1,
         |         (h % 32768) * 2 + 1 AS h2 FROM ev),
         |cells AS (
         |  SELECT c.j, c.pos, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT unnest([$pos]) AS c FROM ek)
         |  GROUP BY 1, 2),
         |top5 AS (
         |  SELECT user_id, h1, h2, CAST(count(*) AS BIGINT) AS true_cnt
         |  FROM ek GROUP BY 1, 2, 3
         |  ORDER BY true_cnt DESC, user_id LIMIT 5),
         |probes AS (
         |  SELECT user_id, true_cnt, c.j AS j, c.pos AS pos
         |  FROM (SELECT user_id, true_cnt, unnest([$pos]) AS c FROM top5))
         |SELECT user_id, true_cnt,
         |  CAST(min(cnt) AS BIGINT) AS cms_est,
         |  CAST(min(cnt) - true_cnt AS BIGINT) AS over_est
         |FROM probes JOIN cells USING (j, pos)
         |GROUP BY user_id, true_cnt
         |ORDER BY true_cnt DESC, user_id""".stripMargin
    },

    // Identical register construction off the same md5-derived hash;
    // the harmonic sum is exact dyadic arithmetic (see the Spark-side
    // scaladoc) so no ordered-fold discipline is needed.
    "prof_hll" ->
      s"""WITH h AS (
         |  SELECT event_type,
         |    ${graft.Exact.hash32Sql("'u:' || CAST(user_id AS VARCHAR)")} AS h32
         |  FROM events),
         |r AS (
         |  SELECT event_type, h32 // 1048576 AS bk,
         |    CASE WHEN h32 % 1048576 = 0 THEN 21
         |         ELSE 21 - length(bin(h32 % 1048576)) END AS rho
         |  FROM h),
         |regs AS (SELECT event_type, bk, max(rho) AS mx
         |         FROM r GROUP BY 1, 2),
         |sk AS (
         |  SELECT event_type, count(*) AS nz,
         |    CAST(sum(mx) AS BIGINT) AS sum_rho,
         |    sum(1.0 / CAST(1 << CAST(mx AS INT) AS DOUBLE)) AS sneg
         |  FROM regs GROUP BY 1),
         |ex AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM (SELECT DISTINCT event_type, user_id FROM events)
         |  GROUP BY 1),
         |est AS (
         |  SELECT sk.event_type, 4096 - nz AS v, sum_rho, n_exact,
         |    CASE WHEN 0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0
         |             / (CAST(4096 - nz AS DOUBLE) + sneg) <= 10240.0
         |           AND 4096 - nz > 0
         |      THEN 4096.0 * ln(4096.0 / CAST(4096 - nz AS DOUBLE))
         |      ELSE 0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0
         |             / (CAST(4096 - nz AS DOUBLE) + sneg) END AS e
         |  FROM sk JOIN ex USING (event_type))
         |SELECT event_type, CAST(4096 AS BIGINT) AS m_regs,
         |  CAST(v AS BIGINT) AS zero_regs, sum_rho, n_exact,
         |  round(e, 6) AS hll_est,
         |  round((e - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE), 6)
         |    AS rel_err
         |FROM est ORDER BY event_type""".stripMargin,

    "prof_fds" -> {
      val probes = Seq("event_id" -> "user_id", "event_id" -> "event_type",
        "user_id" -> "event_type", "event_type" -> "user_id")
      val ctes = probes.zipWithIndex.map { case ((det, dep), i) =>
        s"""p$i AS (
           |  SELECT '$det->$dep' AS fd, count(*) AS n_groups,
           |    CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_violating,
           |    CAST(max(k) AS BIGINT) AS max_distinct
           |  FROM (SELECT d, count(*) AS k
           |        FROM (SELECT DISTINCT CAST($det AS VARCHAR) AS d,
           |                CAST($dep AS VARCHAR) AS p FROM events)
           |        GROUP BY 1))""".stripMargin
      }.mkString(",\n")
      val union = probes.indices.map(i => s"SELECT * FROM p$i")
        .mkString(" UNION ALL ")
      s"""WITH $ctes
         |SELECT fd, n_groups, n_violating, max_distinct,
         |  CAST(n_violating = 0 AS BIGINT) AS holds
         |FROM ($union) ORDER BY fd""".stripMargin
    },

    "prof_inclusion" -> {
      val probes = IncPairs.map { case (ct, cc, pt, pc) =>
        s"""SELECT '$ct.$cc<=$pt.$pc' AS dep,
           |  CAST(count(*) AS BIGINT) AS n_distinct,
           |  CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_missing,
           |  CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) = 0 AS BIGINT)
           |    AS included
           |FROM (SELECT DISTINCT $cc AS k FROM $ct) c
           |LEFT JOIN (SELECT DISTINCT $pc AS k FROM $pt) p USING (k)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""SELECT * FROM (
         |$probes
         |) ORDER BY dep""".stripMargin
    },

    "samp_neyman" ->
      s"""WITH e AS (
         |  SELECT event_type, event_id,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
         |  FROM events),
         |st AS (
         |  SELECT event_type, count(*) AS n, CAST(sum(c) AS BIGINT) AS cs,
         |    sum(CAST(c AS HUGEINT) * c) AS css
         |  FROM e GROUP BY 1),
         |w AS (
         |  SELECT event_type, n, CAST(n AS DOUBLE) *
         |    CASE WHEN n > 1 THEN
         |      sqrt(CAST(CAST(n AS HUGEINT) * css - CAST(cs AS HUGEINT) * cs
         |                AS DOUBLE)
         |           / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
         |    ELSE 0.0 END AS w
         |  FROM st),
         |t AS (SELECT list_sum(list(w ORDER BY event_type)) AS tw FROM w),
         |al AS (
         |  SELECT event_type, n,
         |    least(n, greatest(1, CASE WHEN tw > 0 THEN
         |      CAST(floor(round($NeymanBudget * w / tw, 9)) AS BIGINT)
         |      ELSE 0 END)) AS alloc
         |  FROM w, t),
         |r AS (
         |  SELECT event_type, event_id,
         |    CAST(row_number() OVER (PARTITION BY event_type
         |      ORDER BY ${graft.Exact.hash32Sql("CAST(event_id AS VARCHAR)")},
         |        event_id) AS BIGINT) AS rank
         |  FROM e)
         |SELECT r.event_type, n AS n_stratum, alloc, rank, event_id
         |FROM r JOIN al USING (event_type)
         |WHERE rank <= alloc ORDER BY event_type, rank""".stripMargin,

    "samp_quality_budget" ->
      s"""WITH d AS (
         |  SELECT source, doc_id,
         |    CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS ttr
         |  FROM (SELECT source, doc_id,
         |          list_filter(string_split(lower(text), ' '), w -> w <> '')
         |            AS ws
         |        FROM documents)
         |  WHERE len(ws) > 0),
         |c AS (SELECT source, count(*) AS ns FROM d GROUP BY 1),
         |t AS (SELECT CAST(sum(ns) AS BIGINT) AS nt FROM c),
         |a AS (SELECT source,
         |        least(ns, greatest(1, ($QualityBudget * ns) // nt)) AS alloc
         |      FROM c, t),
         |r AS (SELECT source, doc_id, ttr,
         |        CAST(row_number() OVER (PARTITION BY source
         |          ORDER BY ttr DESC, doc_id) AS BIGINT) AS rank
         |      FROM d)
         |SELECT r.source, rank, doc_id, round(ttr, 6) AS ttr
         |FROM r JOIN a ON r.source = a.source
         |WHERE rank <= alloc ORDER BY r.source, rank""".stripMargin,

    // The UNSALTED join — identical semantics is exactly what the salted
    // plan must prove.
    "j10_salted_join" ->
      s"""WITH dim AS (
         |  SELECT event_type,
         |    ${graft.Exact.hash32Sql("event_type")} % 1000 AS tcode
         |  FROM (SELECT DISTINCT event_type FROM events)),
         |f AS (
         |  SELECT event_type, count(*) AS n,
         |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         |  FROM events GROUP BY 1)
         |SELECT f.event_type, n, round(total_value, 2) AS total_value, tcode
         |FROM f JOIN dim USING (event_type) ORDER BY event_type""".stripMargin,

    "j9_band_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |probe AS (
        |  SELECT event_id, user_id, event_type, us,
        |    us // 60000000 + d.d AS b
        |  FROM ev CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) d),
        |build AS (
        |  SELECT us AS r_us, user_id AS r_uid, us // 60000000 AS b FROM ev)
        |SELECT p.event_id, p.event_type,
        |  count(*) AS n_near,
        |  CAST(min(abs(p.us - b.r_us)) AS BIGINT) AS min_gap_us
        |FROM probe p JOIN build b ON p.b = b.b
        |WHERE abs(p.us - b.r_us) <= 60000000 AND b.r_uid <> p.user_id
        |GROUP BY 1, 2 ORDER BY p.event_id""".stripMargin,

    "j8_temporal_join" ->
      """WITH w AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type, 1) OVER win AS prev_type,
        |    lead(ts, 1) OVER win AS next_ts
        |  FROM events WHERE event_type <> 'click'
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |dim0 AS (
        |  SELECT user_id, event_type AS state, ts AS valid_from, event_id
        |  FROM w WHERE prev_type IS NULL OR prev_type <> event_type),
        |dim AS (
        |  SELECT user_id, state, valid_from,
        |    coalesce(lead(valid_from, 1) OVER (PARTITION BY user_id
        |      ORDER BY valid_from, event_id),
        |      TIMESTAMP '2099-12-31 00:00:00') AS valid_to
        |  FROM dim0),
        |clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, d.state, d.valid_from AS state_since,
        |  epoch_us(c.ts) - epoch_us(d.valid_from) AS time_in_state_us
        |FROM clicks c JOIN dim d
        |  ON c.user_id = d.user_id AND c.ts >= d.valid_from
        |  AND c.ts < d.valid_to
        |ORDER BY c.event_id""".stripMargin,

    "rec_next_item" ->
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    CAST(row_number() OVER w AS BIGINT) AS pos,
        |    lag(event_type, 1) OVER w AS prev
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |nu AS (SELECT user_id, max(pos) AS n FROM r GROUP BY 1),
        |r2 AS (SELECT r.*, n FROM r JOIN nu USING (user_id)),
        |model AS (
        |  SELECT prev AS f, event_type AS t, count(*) AS c
        |  FROM r2 WHERE prev IS NOT NULL AND pos < n GROUP BY 1, 2),
        |pred AS (
        |  SELECT f, t AS predicted FROM (
        |    SELECT f, t, row_number() OVER (PARTITION BY f
        |      ORDER BY c DESC, t) AS rn FROM model)
        |  WHERE rn = 1),
        |ev AS (
        |  SELECT user_id, prev AS f, event_type AS actual
        |  FROM r2 WHERE pos = n AND n >= 2)
        |SELECT f AS from_type, count(*) AS n_eval,
        |  CAST(sum(CASE WHEN predicted = actual THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hits,
        |  round(CAST(sum(CASE WHEN predicted = actual THEN 1 ELSE 0 END)
        |        AS DOUBLE) / count(*), 6) AS accuracy
        |FROM ev LEFT JOIN pred USING (f)
        |GROUP BY f ORDER BY from_type""".stripMargin,

    // The INDEPENDENT dominance definition (NOT EXISTS), not a mirror of
    // the bucketed ladder — integer-exact, so semantic equivalence is
    // what the hash check proves.
    "q_skyline" ->
      """WITH p AS (
        |  SELECT p_partkey, CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS pc,
        |    CAST(p_size AS BIGINT) AS sz
        |  FROM part)
        |SELECT p_partkey, CAST(pc AS DOUBLE) / 100.0 AS price, sz AS size
        |FROM p a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.pc <= a.pc AND b.sz >= a.sz
        |    AND (b.pc < a.pc OR b.sz > a.sz))
        |ORDER BY p_partkey""".stripMargin,

    "a24_cramers_v" ->
      """WITH cells AS (
        |  SELECT event_type, (user_id % 4 + 4) % 4 AS seg, count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        |ct AS (SELECT seg, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
        |dm AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |         CAST(count(DISTINCT event_type) AS BIGINT) AS nr,
        |         CAST(count(DISTINCT seg) AS BIGINT) AS nc
        |       FROM cells),
        |t AS (
        |  SELECT cells.event_type, seg, n, nr, nc,
        |    CAST((CAST(n AS HUGEINT) * o - CAST(r AS HUGEINT) * c)
        |         * (CAST(n AS HUGEINT) * o - CAST(r AS HUGEINT) * c) AS DOUBLE)
        |      / CAST(CAST(n AS HUGEINT) * r * c AS DOUBLE) AS t
        |  FROM cells JOIN rt USING (event_type) JOIN ct USING (seg), dm),
        |a AS (
        |  SELECT n, nr, nc,
        |    list_sum(list(t ORDER BY event_type, seg)) AS chi2
        |  FROM t GROUP BY 1, 2, 3)
        |SELECT n, (nr - 1) * (nc - 1) AS df, round(chi2, 6) AS chi2,
        |  round(sqrt(chi2 / (CAST(n AS DOUBLE) * least(nr - 1, nc - 1))), 6)
        |    AS cramers_v
        |FROM a""".stripMargin,

    "a19_chi2_indep" ->
      """WITH cells AS (
        |  SELECT event_type, (user_id % 4 + 4) % 4 AS seg, count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        |ct AS (SELECT seg, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
        |nt AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
        |SELECT cells.event_type, seg, o,
        |  round(CAST(CAST(r AS HUGEINT) * c AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS expected,
        |  round((CAST(o AS DOUBLE)
        |         - CAST(CAST(r AS HUGEINT) * c AS DOUBLE) / CAST(n AS DOUBLE))
        |        / sqrt(CAST(CAST(r AS HUGEINT) * c AS DOUBLE) / CAST(n AS DOUBLE)),
        |        6) AS resid
        |FROM cells JOIN rt USING (event_type) JOIN ct USING (seg), nt
        |ORDER BY event_type, seg""".stripMargin,

    "a22_levene_bf" ->
      """WITH h AS (
        |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
        |    count(*) AS m
        |  FROM events GROUP BY 1, 2),
        |nt AS (SELECT event_type, CAST(sum(m) AS BIGINT) AS n
        |       FROM h GROUP BY 1),
        |cm AS (
        |  SELECT h.event_type, c, m, n,
        |    sum(m) OVER (PARTITION BY h.event_type ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM h JOIN nt USING (event_type)),
        |med AS (SELECT event_type, min(c) AS med FROM cm
        |        WHERE cum >= (n + 1) // 2 GROUP BY 1),
        |z AS (
        |  SELECT h.event_type, m, abs(c - med) AS z
        |  FROM h JOIN med USING (event_type)),
        |g AS (
        |  SELECT event_type, CAST(sum(m) AS BIGINT) AS n,
        |    CAST(sum(CAST(m AS HUGEINT) * z) AS BIGINT) AS s1,
        |    CAST(sum(CAST(m AS HUGEINT) * z * z) AS BIGINT) AS s2
        |  FROM z GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(s1) AS BIGINT) AS st1,
        |    CAST(sum(s2) AS BIGINT) AS st2, count(*) AS k,
        |    list_sum(list(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |      / CAST(n AS DOUBLE) ORDER BY event_type)) AS aa
        |  FROM g)
        |SELECT g.event_type, g.n, s1 AS sum_absdev, s2 AS sum_absdev_sq,
        |  round(CAST(s1 AS DOUBLE) / CAST(g.n AS DOUBLE), 6) AS zbar_ad,
        |  round(CASE WHEN CAST(st2 AS DOUBLE) - aa > 0 THEN
        |    CAST(nn - k AS DOUBLE) / CAST(k - 1 AS DOUBLE)
        |    * (aa - CAST(st1 AS DOUBLE) * CAST(st1 AS DOUBLE)
        |         / CAST(nn AS DOUBLE))
        |    / (CAST(st2 AS DOUBLE) - aa) END, 6) AS bf_w
        |FROM g CROSS JOIN tot ORDER BY event_type""".stripMargin,

    // Pooled doubled midranks straight off the value histogram (the
    // ladder is a Spark-partitioning device; the arithmetic is the
    // plain cum-before form here), HUGEINT accumulation with BIGINT
    // output, and the Σ R2_i²/n_i fold ordered by event_type.
    "a23_kruskal" ->
      """WITH h AS (
        |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
        |    count(*) AS m
        |  FROM events GROUP BY 1, 2),
        |mc AS (SELECT c, CAST(sum(m) AS BIGINT) AS mc FROM h GROUP BY 1),
        |rc AS (
        |  SELECT c, mc,
        |    2 * coalesce(sum(mc) OVER (ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + mc + 1 AS r2
        |  FROM mc),
        |g AS (
        |  SELECT event_type, CAST(sum(m) AS BIGINT) AS n_i,
        |    CAST(sum(CAST(m AS HUGEINT) * r2) AS BIGINT) AS rank2_sum
        |  FROM h JOIN rc USING (c) GROUP BY 1),
        |tie AS (
        |  SELECT CAST(sum(CAST(mc AS HUGEINT) * mc * mc - mc) AS BIGINT) AS t3,
        |    CAST(sum(mc) AS BIGINT) AS n
        |  FROM mc),
        |tot AS (
        |  SELECT count(*) AS k,
        |    list_sum(list(CAST(rank2_sum AS DOUBLE) * CAST(rank2_sum AS DOUBLE)
        |      / CAST(n_i AS DOUBLE) ORDER BY event_type)) AS aa
        |  FROM g)
        |SELECT g.event_type, n_i, rank2_sum,
        |  round(3.0 * aa / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1))
        |    - 3.0 * (CAST(n AS DOUBLE) + 1), 6) AS h_stat,
        |  round(CASE WHEN 1.0 - CAST(t3 AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |         - CAST(n AS DOUBLE)) > 0 THEN
        |    (3.0 * aa / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1))
        |      - 3.0 * (CAST(n AS DOUBLE) + 1))
        |    / (1.0 - CAST(t3 AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |         - CAST(n AS DOUBLE))) END, 6) AS h_tie
        |FROM g CROSS JOIN tie CROSS JOIN tot ORDER BY event_type""".stripMargin,

    "a26_anova_f" ->
      """WITH g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
        |      AS HUGEINT)) AS BIGINT) AS s1,
        |    CAST(sum(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
        |      AS HUGEINT) * CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS q1
        |  FROM events GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(s1) AS BIGINT) AS st1,
        |    CAST(sum(q1) AS BIGINT) AS qt, count(*) AS k,
        |    list_sum(list(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |      / CAST(n AS DOUBLE) ORDER BY event_type)) AS aa
        |  FROM g)
        |SELECT g.event_type, g.n, s1 AS sum_c, q1 AS sum_c2,
        |  round(CAST(s1 AS DOUBLE) / CAST(g.n AS DOUBLE) / 100.0, 6)
        |    AS mean_val,
        |  round(CASE WHEN CAST(qt AS DOUBLE) - aa > 0 THEN
        |    ((aa - CAST(st1 AS DOUBLE) * CAST(st1 AS DOUBLE)
        |        / CAST(nn AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
        |    / ((CAST(qt AS DOUBLE) - aa) / CAST(nn - k AS DOUBLE)) END, 6)
        |    AS f_stat
        |FROM g CROSS JOIN tot ORDER BY event_type""".stripMargin,

    "a25_spearman" ->
      """WITH e AS (
        |  SELECT CAST(extract(hour FROM ts) AS BIGINT) AS h,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |j AS (SELECT h, c, count(*) AS m FROM e GROUP BY 1, 2),
        |n1 AS (SELECT CAST(sum(m) AS BIGINT) AS n FROM j),
        |rh AS (
        |  SELECT h, mh,
        |    2 * coalesce(CAST(sum(mh) OVER (ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |      + mh + 1 AS rh
        |  FROM (SELECT h, CAST(sum(m) AS BIGINT) AS mh FROM j GROUP BY 1)),
        |rc AS (
        |  SELECT c, mc,
        |    2 * coalesce(CAST(sum(mc) OVER (ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |      + mc + 1 AS rc
        |  FROM (SELECT c, CAST(sum(m) AS BIGINT) AS mc FROM j GROUP BY 1)),
        |sxx AS (SELECT sum(CAST(mh AS HUGEINT) * (rh - n - 1) * (rh - n - 1))
        |          AS sxx FROM rh, n1),
        |syy AS (SELECT sum(CAST(mc AS HUGEINT) * (rc - n - 1) * (rc - n - 1))
        |          AS syy FROM rc, n1),
        |sxy AS (
        |  SELECT sum(CAST(m AS HUGEINT) * (rh.rh - n - 1) * (rc.rc - n - 1))
        |    AS sxy
        |  FROM j JOIN rh USING (h) JOIN rc USING (c), n1)
        |SELECT n, CAST(sxy AS BIGINT) AS sxy, CAST(sxx AS BIGINT) AS sxx,
        |  CAST(syy AS BIGINT) AS syy,
        |  round(CAST(sxy AS DOUBLE)
        |        / sqrt(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)), 6) AS rho
        |FROM n1, sxx, syy, sxy""".stripMargin,

    "a20_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit,
        |    count(*) AS n_d
        |  FROM (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events)
        |  WHERE c >= 1 GROUP BY 1),
        |t AS (SELECT CAST(sum(n_d) AS BIGINT) AS n FROM d)
        |SELECT digit, n_d,
        |  round(CAST(n_d AS DOUBLE) / n, 6) AS share,
        |  round(log10(1.0 + 1.0 / digit), 6) AS benford_p,
        |  round(CAST(n_d AS DOUBLE) / n - log10(1.0 + 1.0 / digit), 6) AS diff
        |FROM d, t ORDER BY digit""".stripMargin,

    "a21_welch_t" ->
      """WITH st AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(c) AS BIGINT) AS s1, sum(CAST(c AS HUGEINT) * c) AS s2
        |  FROM (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |        FROM events)
        |  GROUP BY 1)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  a.n AS n_a, b.n AS n_b,
        |  round((CAST(a.s1 AS DOUBLE) / CAST(a.n AS DOUBLE)
        |         - CAST(b.s1 AS DOUBLE) / CAST(b.n AS DOUBLE))
        |      / sqrt(CAST(CAST(a.n AS HUGEINT) * a.s2
        |                  - CAST(a.s1 AS HUGEINT) * a.s1 AS DOUBLE)
        |             / (CAST(a.n AS DOUBLE) * (CAST(a.n AS DOUBLE) - 1))
        |             / CAST(a.n AS DOUBLE)
        |           + CAST(CAST(b.n AS HUGEINT) * b.s2
        |                  - CAST(b.s1 AS HUGEINT) * b.s1 AS DOUBLE)
        |             / (CAST(b.n AS DOUBLE) * (CAST(b.n AS DOUBLE) - 1))
        |             / CAST(b.n AS DOUBLE)), 6) AS t,
        |  round((CAST(CAST(a.n AS HUGEINT) * a.s2
        |              - CAST(a.s1 AS HUGEINT) * a.s1 AS DOUBLE)
        |         / (CAST(a.n AS DOUBLE) * (CAST(a.n AS DOUBLE) - 1))
        |         / CAST(a.n AS DOUBLE)
        |       + CAST(CAST(b.n AS HUGEINT) * b.s2
        |              - CAST(b.s1 AS HUGEINT) * b.s1 AS DOUBLE)
        |         / (CAST(b.n AS DOUBLE) * (CAST(b.n AS DOUBLE) - 1))
        |         / CAST(b.n AS DOUBLE))
        |      * (CAST(CAST(a.n AS HUGEINT) * a.s2
        |              - CAST(a.s1 AS HUGEINT) * a.s1 AS DOUBLE)
        |         / (CAST(a.n AS DOUBLE) * (CAST(a.n AS DOUBLE) - 1))
        |         / CAST(a.n AS DOUBLE)
        |       + CAST(CAST(b.n AS HUGEINT) * b.s2
        |              - CAST(b.s1 AS HUGEINT) * b.s1 AS DOUBLE)
        |         / (CAST(b.n AS DOUBLE) * (CAST(b.n AS DOUBLE) - 1))
        |         / CAST(b.n AS DOUBLE))
        |      / ((CAST(CAST(a.n AS HUGEINT) * a.s2
        |               - CAST(a.s1 AS HUGEINT) * a.s1 AS DOUBLE)
        |          / (CAST(a.n AS DOUBLE) * (CAST(a.n AS DOUBLE) - 1))
        |          / CAST(a.n AS DOUBLE))
        |         * (CAST(CAST(a.n AS HUGEINT) * a.s2
        |                 - CAST(a.s1 AS HUGEINT) * a.s1 AS DOUBLE)
        |            / (CAST(a.n AS DOUBLE) * (CAST(a.n AS DOUBLE) - 1))
        |            / CAST(a.n AS DOUBLE))
        |         / (CAST(a.n AS DOUBLE) - 1)
        |       + (CAST(CAST(b.n AS HUGEINT) * b.s2
        |               - CAST(b.s1 AS HUGEINT) * b.s1 AS DOUBLE)
        |          / (CAST(b.n AS DOUBLE) * (CAST(b.n AS DOUBLE) - 1))
        |          / CAST(b.n AS DOUBLE))
        |         * (CAST(CAST(b.n AS HUGEINT) * b.s2
        |                 - CAST(b.s1 AS HUGEINT) * b.s1 AS DOUBLE)
        |            / (CAST(b.n AS DOUBLE) * (CAST(b.n AS DOUBLE) - 1))
        |            / CAST(b.n AS DOUBLE))
        |         / (CAST(b.n AS DOUBLE) - 1)), 6) AS df
        |FROM st a JOIN st b ON a.event_type < b.event_type
        |ORDER BY type_a, type_b""".stripMargin,

    "a17_mwu" ->
      """WITH h AS (
        |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
        |    count(*) AS m
        |  FROM events GROUP BY 1, 2),
        |tys AS (SELECT DISTINCT event_type AS t2 FROM h),
        |px AS (
        |  SELECT least(h.event_type, t.t2) AS type_a,
        |    greatest(h.event_type, t.t2) AS type_b,
        |    h.event_type AS own, c, m
        |  FROM h, tys t WHERE t.t2 <> h.event_type),
        |pc AS (
        |  SELECT type_a, type_b, c,
        |    CAST(sum(CASE WHEN own = type_a THEN m ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN own = type_b THEN m ELSE 0 END) AS BIGINT) AS cb
        |  FROM px GROUP BY 1, 2, 3),
        |r AS (
        |  SELECT *, coalesce(sum(ca + cb) OVER (PARTITION BY type_a, type_b
        |    ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS r0
        |  FROM pc),
        |a AS (
        |  SELECT type_a, type_b,
        |    CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
        |    sum(CAST(ca AS HUGEINT) * (2 * r0 + ca + cb - 1)) AS r2a,
        |    sum(CAST(ca + cb AS HUGEINT) * CAST(ca + cb AS HUGEINT)
        |        * CAST(ca + cb AS HUGEINT) - (ca + cb)) AS t3
        |  FROM r GROUP BY 1, 2)
        |SELECT type_a, type_b, na AS n_a, nb AS n_b,
        |  round((CAST(r2a AS DOUBLE) - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1))
        |          / 2.0
        |        - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0, 6) AS u_minus_mean,
        |  CASE WHEN CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0 *
        |         ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1)
        |          - CAST(t3 AS DOUBLE) / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
        |            * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1))) > 0
        |    THEN round((CAST(r2a AS DOUBLE)
        |          - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1)
        |          - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
        |        / (2.0 * sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0 *
        |           ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1)
        |            - CAST(t3 AS DOUBLE) / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
        |              * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1))))), 6)
        |  END AS z
        |FROM a ORDER BY type_a, type_b""".stripMargin,

    "a16_gini" ->
      """WITH g AS (
        |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
        |    count(*) AS m
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, c, m,
        |    coalesce(sum(m) OVER (PARTITION BY event_type ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS r0
        |  FROM g),
        |a AS (
        |  SELECT event_type, CAST(sum(m) AS BIGINT) AS n,
        |    sum(CAST(c AS HUGEINT) * m) AS s,
        |    sum(CAST(c AS HUGEINT) * m * (2 * r0 + m - 1)) AS t2
        |  FROM r GROUP BY event_type)
        |SELECT event_type, n,
        |  round((CAST(t2 AS DOUBLE) - CAST(n + 1 AS DOUBLE) * CAST(s AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS gini
        |FROM a ORDER BY event_type""".stripMargin,

    "a27_jarque_bera" ->
      """WITH q AS (
        |  SELECT l_returnflag, CAST(round(l_quantity * 100, 0) AS BIGINT) AS q
        |  FROM lineitem),
        |s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(q) AS DOUBLE) AS s1,
        |    CAST(sum(q * q) AS DOUBLE) AS s2,
        |    CAST(sum(q * q * q) AS DOUBLE) AS s3,
        |    CAST(sum(q * q * q * q) AS DOUBLE) AS s4
        |  FROM q GROUP BY l_returnflag),
        |m AS (
        |  SELECT l_returnflag, n,
        |    (s3 / n - 3.0 * (s1 / n) * (s2 / n)
        |     + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
        |      / ((s2 / n - (s1 / n) * (s1 / n))
        |         * sqrt(s2 / n - (s1 / n) * (s1 / n))) AS sk,
        |    (s4 / n - 4.0 * (s1 / n) * (s3 / n)
        |     + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
        |     - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
        |      / ((s2 / n - (s1 / n) * (s1 / n))
        |         * (s2 / n - (s1 / n) * (s1 / n))) - 3.0 AS ku
        |  FROM s)
        |SELECT l_returnflag, n,
        |  round(CAST(n AS DOUBLE) / 6.0 * (sk * sk + ku * ku / 4.0), 6)
        |    AS jb_stat,
        |  round(exp(-0.5 * (CAST(n AS DOUBLE) / 6.0
        |                    * (sk * sk + ku * ku / 4.0))), 6) AS p_value
        |FROM m ORDER BY l_returnflag""".stripMargin,

    "a28_bartlett" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |g0 AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(CAST(c AS HUGEINT)) AS sc, sum(CAST(c AS HUGEINT) * c) AS qc
        |  FROM ev GROUP BY 1),
        |g AS (SELECT * FROM g0 WHERE n > 1 AND n * qc - sc * sc > 0),
        |t AS (
        |  SELECT event_type, n,
        |    CAST(n * qc - sc * sc AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS v,
        |    CAST(n * qc - sc * sc AS DOUBLE) / CAST(n AS DOUBLE) AS w
        |  FROM g),
        |tot AS (
        |  SELECT sum(n) AS nn, count(*) AS k,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(w ORDER BY event_type)), (a, b) -> a + b) AS sw,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(CAST(n - 1 AS DOUBLE) * ln(v) ORDER BY event_type)),
        |      (a, b) -> a + b) AS slv,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(CAST(1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
        |        ORDER BY event_type)), (a, b) -> a + b) AS sinv
        |  FROM t)
        |SELECT CAST(k AS BIGINT) AS k, CAST(nn AS BIGINT) AS n,
        |  round(sw / CAST(nn - k AS DOUBLE), 6) AS pooled_var,
        |  round((CAST(nn - k AS DOUBLE) * ln(sw / CAST(nn - k AS DOUBLE))
        |      - slv)
        |    / (1.0 + (sinv - 1.0 / CAST(nn - k AS DOUBLE))
        |       / (3.0 * CAST(k - 1 AS DOUBLE))), 6) AS bartlett_t
        |FROM tot""".stripMargin,

    "a30_tukey_hsd" ->
      """WITH li AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(round(l_quantity * 100, 0) AS BIGINT) AS q
        |  FROM lineitem),
        |g AS (
        |  SELECT flag, count(*) AS n, sum(CAST(q AS HUGEINT)) AS sc,
        |    sum(CAST(q AS HUGEINT) * q) AS qc
        |  FROM li GROUP BY 1),
        |tot AS (
        |  SELECT sum(n) AS nn, count(*) AS k,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(CAST(n * qc - sc * sc AS DOUBLE) / CAST(n AS DOUBLE)
        |        ORDER BY flag)), (a, b) -> a + b) AS sw
        |  FROM g)
        |SELECT a.flag AS flag_a, b.flag AS flag_b,
        |  CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
        |  round(CAST(a.sc AS DOUBLE) / CAST(a.n AS DOUBLE) / 100.0, 6)
        |    AS mean_a,
        |  round(CAST(b.sc AS DOUBLE) / CAST(b.n AS DOUBLE) / 100.0, 6)
        |    AS mean_b,
        |  round(abs(CAST(a.sc AS DOUBLE) / CAST(a.n AS DOUBLE)
        |      - CAST(b.sc AS DOUBLE) / CAST(b.n AS DOUBLE))
        |    / sqrt(sw / CAST(nn - k AS DOUBLE) / 2.0
        |      * (1.0 / CAST(a.n AS DOUBLE) + 1.0 / CAST(b.n AS DOUBLE))), 6)
        |    AS q_stat
        |FROM g a JOIN g b ON a.flag < b.flag CROSS JOIN tot
        |ORDER BY flag_a, flag_b""".stripMargin,

    "a31_mood_median" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |nt AS (SELECT count(*) AS n FROM ev),
        |h AS (SELECT c, count(*) AS m FROM ev GROUP BY 1),
        |hc AS (SELECT c, sum(m) OVER (ORDER BY c) AS cum FROM h),
        |med AS (SELECT min(c) AS med FROM hc, nt WHERE cum >= (n + 1) // 2),
        |cells AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(CASE WHEN c > med THEN 1 ELSE 0 END) AS a
        |  FROM ev, med GROUP BY 1),
        |tot AS (SELECT sum(n) AS nn, sum(a) AS ta FROM cells),
        |j AS (
        |  SELECT event_type, n, a,
        |    CAST(n AS DOUBLE) * CAST(ta AS DOUBLE) / CAST(nn AS DOUBLE) AS e1,
        |    CAST(n AS DOUBLE) * CAST(nn - ta AS DOUBLE) / CAST(nn AS DOUBLE)
        |      AS e0
        |  FROM cells CROSS JOIN tot)
        |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(a AS BIGINT) AS n_above,
        |  round(CAST(a AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_above,
        |  round(CASE WHEN e1 > 0 AND e0 > 0 THEN
        |    (CAST(a AS DOUBLE) - e1) * (CAST(a AS DOUBLE) - e1) / e1
        |    + (CAST(n - a AS DOUBLE) - e0) * (CAST(n - a AS DOUBLE) - e0) / e0
        |    END, 6) AS chi2_contrib
        |FROM j ORDER BY event_type""".stripMargin,

    "prof_mutual_info" ->
      """WITH cxy AS (
        |  SELECT event_type AS x, CAST(extract(hour FROM ts) AS INT) AS y,
        |    count(*) AS cxy
        |  FROM events GROUP BY 1, 2),
        |cx AS (SELECT x, sum(cxy) AS cx FROM cxy GROUP BY 1),
        |cy AS (SELECT y, sum(cxy) AS cy FROM cxy GROUP BY 1),
        |nn AS (SELECT sum(cxy) AS nn FROM cxy),
        |terms AS (
        |  SELECT c.x, c.y,
        |    (CAST(c.cxy AS DOUBLE) / CAST(nn.nn AS DOUBLE)) *
        |    ln(CAST(nn.nn AS DOUBLE) * CAST(c.cxy AS DOUBLE) /
        |       (CAST(cx.cx AS DOUBLE) * CAST(cy.cy AS DOUBLE))) AS t
        |  FROM cxy c JOIN cx USING (x) JOIN cy USING (y) CROSS JOIN nn),
        |mi AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         list(t ORDER BY x, y)), (a, b) -> a + b) AS mi FROM terms),
        |hx AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         list(CAST(0 AS DOUBLE)
        |           - (CAST(cx AS DOUBLE) / CAST(nn.nn AS DOUBLE))
        |             * ln(CAST(cx AS DOUBLE) / CAST(nn.nn AS DOUBLE))
        |           ORDER BY x)), (a, b) -> a + b) AS hx
        |       FROM cx CROSS JOIN nn),
        |hy AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         list(CAST(0 AS DOUBLE)
        |           - (CAST(cy AS DOUBLE) / CAST(nn.nn AS DOUBLE))
        |             * ln(CAST(cy AS DOUBLE) / CAST(nn.nn AS DOUBLE))
        |           ORDER BY y)), (a, b) -> a + b) AS hy
        |       FROM cy CROSS JOIN nn),
        |st AS (SELECT sum(cxy) AS n, count(DISTINCT x) AS k_x,
        |         count(DISTINCT y) AS k_y FROM cxy)
        |SELECT CAST(st.n AS BIGINT) AS n,
        |  CAST(st.k_x AS BIGINT) AS k_x, CAST(st.k_y AS BIGINT) AS k_y,
        |  round(hx.hx, 6) AS h_x, round(hy.hy, 6) AS h_y,
        |  round(mi.mi, 6) AS mi,
        |  round(CASE WHEN hx.hx > 0 AND hy.hy > 0
        |    THEN mi.mi / sqrt(hx.hx * hy.hy) END, 6) AS nmi
        |FROM st, mi, hx, hy""".stripMargin,

    "prof_kanon" ->
      """WITH cls AS (
        |  SELECT lang, n_chars // 100 AS bkt, count(*) AS sz,
        |    count(DISTINCT source) AS ldiv
        |  FROM documents GROUP BY 1, 2),
        |g AS (
        |  SELECT CAST(sum(sz) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_classes,
        |    CAST(sum(CASE WHEN sz < 2 THEN sz ELSE 0 END) AS BIGINT) AS r2,
        |    CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS r5,
        |    CAST(sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT) AS r10,
        |    CAST(min(sz) AS BIGINT) AS min_class,
        |    CAST(max(sz) AS BIGINT) AS max_class,
        |    CAST(min(ldiv) AS BIGINT) AS min_ldiv,
        |    CAST(sum(CASE WHEN ldiv >= 3 THEN sz ELSE 0 END) AS BIGINT) AS l3
        |  FROM cls)
        |SELECT n_docs, n_classes,
        |  round(CAST(r2 AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS risk_k2,
        |  round(CAST(r5 AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS risk_k5,
        |  round(CAST(r10 AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS risk_k10,
        |  min_class, max_class, min_ldiv,
        |  round(CAST(l3 AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS share_ldiv3
        |FROM g""".stripMargin,

    "prof_psi_value" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS ref
        |  FROM events),
        |rng AS (SELECT event_type, min(c) AS mn, max(c) AS mx FROM ev GROUP BY event_type),
        |counts AS (
        |  SELECT ev.event_type, ((c - mn) * 10) // (mx - mn + 1) AS bin,
        |    CAST(sum(ref) AS BIGINT) AS nr, CAST(sum(1 - ref) AS BIGINT) AS nc
        |  FROM ev JOIN rng USING (event_type)
        |  GROUP BY 1, 2),
        |spine AS (SELECT event_type, unnest(range(10)) AS bin FROM rng),
        |fb AS (
        |  SELECT s.event_type, s.bin,
        |    coalesce(nr, 0) AS nr, coalesce(nc, 0) AS nc
        |  FROM spine s LEFT JOIN counts c ON s.event_type = c.event_type AND s.bin = c.bin),
        |tot AS (SELECT event_type, CAST(sum(nr) AS BIGINT) AS tr,
        |               CAST(sum(nc) AS BIGINT) AS tc
        |        FROM fb GROUP BY event_type),
        |terms AS (
        |  SELECT f.event_type, f.bin, tr, tc,
        |    (CAST(nr + 1 AS DOUBLE) / (tr + 10) - CAST(nc + 1 AS DOUBLE) / (tc + 10))
        |      * ln((CAST(nr + 1 AS DOUBLE) / (tr + 10)) / (CAST(nc + 1 AS DOUBLE) / (tc + 10)))
        |      AS term
        |  FROM fb f JOIN tot USING (event_type))
        |SELECT event_type, max(tr) AS n_ref, max(tc) AS n_cur,
        |  round(list_sum(list(term ORDER BY bin)), 6) AS psi
        |FROM terms GROUP BY event_type ORDER BY event_type""".stripMargin,

    "prof_drift" ->
      """WITH ev AS (
        |  SELECT event_type, value,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 'ref' ELSE 'cur' END AS win
        |  FROM events),
        |per AS (
        |  SELECT event_type,
        |    sum(CASE WHEN win = 'ref' THEN 1 ELSE 0 END) AS n_ref,
        |    sum(CASE WHEN win = 'cur' THEN 1 ELSE 0 END) AS n_cur,
        |    CAST(sum(CASE WHEN win = 'ref' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sv_ref,
        |    CAST(sum(CASE WHEN win = 'cur' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sv_cur
        |  FROM ev GROUP BY event_type),
        |tot AS (
        |  SELECT sum(CASE WHEN win = 'ref' THEN 1 ELSE 0 END) AS t_ref,
        |         sum(CASE WHEN win = 'cur' THEN 1 ELSE 0 END) AS t_cur
        |  FROM ev)
        |SELECT event_type, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
        |  round((n_cur / t_cur - n_ref / t_ref) *
        |        ln((n_cur / t_cur) / (n_ref / t_ref)), 6) AS psi_term,
        |  round(sv_cur / n_cur - sv_ref / n_ref, 6) AS mean_value_delta
        |FROM per CROSS JOIN tot ORDER BY event_type""".stripMargin,

    "dd_paragraph" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
         |  WHERE len(string_split(lower(text), ' ')) >= $ParaSize),
         |chunks AS (
         |  SELECT doc_id,
         |    md5(array_to_string(list_slice(t, ci * $ParaSize + 1,
         |                                   ci * $ParaSize + $ParaSize), ' ')) AS chunk_md5
         |  FROM (SELECT doc_id, t,
         |          -- floor, NOT a bare CAST: DuckDB CAST(double AS INT)
         |          -- rounds-to-nearest while Spark's int cast truncates,
         |          -- which fabricated a partial chunk whenever len/size
         |          -- landed on >= x.5 (caught by the sf0.1 cross-check)
         |          unnest(range(0, CAST(floor(len(t) / ${ParaSize}.0) AS INT))) AS ci
         |        FROM d))
         |SELECT chunk_md5, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
         |FROM chunks GROUP BY chunk_md5
         |HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY chunk_md5""".stripMargin,

    "dd_line_filter" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
         |  WHERE len(string_split(lower(text), ' ')) >= $LineSize),
         |chunks AS (
         |  SELECT doc_id, ci,
         |    array_to_string(list_slice(t, ci * $LineSize + 1,
         |                               ci * $LineSize + $LineSize), ' ') AS chunk
         |  FROM (SELECT doc_id, t,
         |          unnest(range(0, CAST(floor(len(t) / ${LineSize}.0) AS INT))) AS ci
         |        FROM d)),
         |h AS (SELECT doc_id, ci, chunk, md5(chunk) AS h FROM chunks),
         |cdf AS (SELECT h, count(DISTINCT doc_id) AS docs FROM h GROUP BY h)
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN docs < $LineDfMax THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  coalesce(string_agg(CASE WHEN docs < $LineDfMax THEN chunk END,
         |                      ' ' ORDER BY ci), '') AS text_kept
         |FROM h JOIN cdf USING (h)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "rec_cooccur" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |citems AS (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT l_orderkey, l_partkey, row_number()
        |      OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
        |    FROM items) WHERE rn <= $MaxBasket),
        |ps AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS pair_orders
        |  FROM citems a JOIN citems b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |supp AS (SELECT l_partkey, count(*) AS item_orders FROM items GROUP BY 1)
        |SELECT pa, pb, pair_orders,
        |  sa.item_orders AS pa_orders, sb.item_orders AS pb_orders
        |FROM ps JOIN supp sa ON pa = sa.l_partkey
        |        JOIN supp sb ON pb = sb.l_partkey
        |ORDER BY pair_orders DESC, pa, pb""".stripMargin,

    "rec_item_sim" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |citems AS (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT l_orderkey, l_partkey, row_number()
        |      OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
        |    FROM items) WHERE rn <= $MaxBasket),
        |ps AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS c
        |  FROM citems a JOIN citems b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |supp AS (SELECT l_partkey, count(*) AS s FROM items GROUP BY 1),
        |tot AS (SELECT count(DISTINCT l_orderkey) AS n FROM items)
        |SELECT pa, pb, CAST(c AS BIGINT) AS pair_orders,
        |  round(CAST(c AS DOUBLE)
        |        / sqrt(CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE)), 6) AS cosine,
        |  round(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
        |        / (CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE)), 6) AS lift,
        |  round(CAST(c AS DOUBLE) / CAST(sa.s AS DOUBLE), 6) AS confidence
        |FROM ps JOIN supp sa ON pa = sa.l_partkey
        |        JOIN supp sb ON pb = sb.l_partkey
        |        CROSS JOIN tot
        |ORDER BY pa, pb""".stripMargin,

    "rec_assoc_rules" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |citems AS (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT l_orderkey, l_partkey, row_number()
        |      OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
        |    FROM items) WHERE rn <= $MaxBasket),
        |ps AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS c
        |  FROM citems a JOIN citems b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |supp AS (SELECT l_partkey, count(*) AS s FROM items GROUP BY 1),
        |tot AS (SELECT count(DISTINCT l_orderkey) AS n FROM items),
        |dirs AS (
        |  SELECT pa AS ante, pb AS cons, c FROM ps
        |  UNION ALL SELECT pb AS ante, pa AS cons, c FROM ps)
        |SELECT ante AS antecedent, cons AS consequent,
        |  CAST(c AS BIGINT) AS pair_orders,
        |  round(CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 6) AS support,
        |  round(CAST(c AS DOUBLE) / CAST(sa.s AS DOUBLE), 6) AS confidence,
        |  round(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
        |        / (CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE)), 6) AS lift,
        |  round(CASE WHEN c < sa.s THEN
        |    (1.0 - CAST(sb.s AS DOUBLE) / CAST(n AS DOUBLE))
        |    / (1.0 - CAST(c AS DOUBLE) / CAST(sa.s AS DOUBLE)) END, 6)
        |    AS conviction
        |FROM dirs JOIN supp sa ON ante = sa.l_partkey
        |          JOIN supp sb ON cons = sb.l_partkey
        |          CROSS JOIN tot
        |ORDER BY antecedent, consequent""".stripMargin,

    "a29_mad" ->
      """WITH li AS (
        |  SELECT l_returnflag, CAST(round(l_quantity * 100, 0) AS BIGINT) AS q
        |  FROM lineitem),
        |cnt AS (SELECT l_returnflag, count(*) AS n FROM li GROUP BY 1),
        |h1 AS (SELECT l_returnflag, q, count(*) AS c FROM li GROUP BY 1, 2),
        |c1 AS (
        |  SELECT l_returnflag, q,
        |    sum(c) OVER (PARTITION BY l_returnflag ORDER BY q
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM h1),
        |med AS (
        |  SELECT c1.l_returnflag, cnt.n,
        |    min(CASE WHEN cum * 2 >= cnt.n + 1 THEN q END) AS med
        |  FROM c1 JOIN cnt ON c1.l_returnflag = cnt.l_returnflag
        |  GROUP BY 1, 2),
        |dev AS (
        |  SELECT li.l_returnflag, med.n, med.med, abs(q - med.med) AS d
        |  FROM li JOIN med ON li.l_returnflag = med.l_returnflag),
        |h2 AS (
        |  SELECT l_returnflag, n, med, d, count(*) AS c
        |  FROM dev GROUP BY 1, 2, 3, 4),
        |c2 AS (
        |  SELECT l_returnflag, n, med, d,
        |    sum(c) OVER (PARTITION BY l_returnflag ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM h2),
        |m AS (
        |  SELECT l_returnflag, n, med,
        |    min(CASE WHEN cum * 2 >= n + 1 THEN d END) AS mad
        |  FROM c2 GROUP BY 1, 2, 3)
        |SELECT l_returnflag, n,
        |  CAST(med AS DOUBLE) / 100.0 AS median_qty,
        |  CAST(mad AS DOUBLE) / 100.0 AS mad_qty,
        |  round(CAST(mad AS DOUBLE) / 100.0 * 1.4826, 6) AS sigma_mad
        |FROM m ORDER BY l_returnflag""".stripMargin,

    "a15_quantile_2phase" ->
      """WITH c AS (SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c
        |           FROM lineitem),
        |r AS (SELECT c, row_number() OVER (ORDER BY c) AS r FROM c),
        |n AS (SELECT count(*) AS n FROM c),
        |p AS (SELECT CAST(unnest([25, 50, 75, 90, 99]) AS BIGINT) AS p)
        |SELECT p, min(CAST(c AS DOUBLE) / 100.0) AS value
        |FROM p CROSS JOIN n JOIN r ON r.r = (p.p * n.n + 99) // 100
        |GROUP BY p ORDER BY p""".stripMargin,

    "a14_winsorize" ->
      """WITH li AS (
        |  SELECT l_returnflag, CAST(round(l_quantity * 100, 0) AS BIGINT) AS q
        |  FROM lineitem),
        |cum AS (
        |  SELECT l_returnflag, q,
        |    sum(count(*)) OVER (PARTITION BY l_returnflag ORDER BY q
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM li GROUP BY l_returnflag, q),
        |nn AS (SELECT l_returnflag, count(*) AS n FROM li GROUP BY l_returnflag),
        |b AS (
        |  SELECT cum.l_returnflag, nn.n,
        |    min(CASE WHEN cum * 100 >= nn.n * 5 THEN q END) AS lo,
        |    min(CASE WHEN cum * 100 >= nn.n * 95 THEN q END) AS hi
        |  FROM cum JOIN nn USING (l_returnflag) GROUP BY 1, 2)
        |SELECT li.l_returnflag, b.n,
        |  CAST(lo AS DOUBLE) / 100.0 AS lo_qty,
        |  CAST(hi AS DOUBLE) / 100.0 AS hi_qty,
        |  round(CAST(sum(greatest(least(q, hi), lo)) AS DOUBLE) / b.n / 100.0, 6)
        |    AS win_mean_qty
        |FROM li JOIN b USING (l_returnflag)
        |GROUP BY li.l_returnflag, b.n, lo, hi
        |ORDER BY li.l_returnflag""".stripMargin,

    "er_fuzzy_match" ->
      s"""WITH p AS (
         |  SELECT row_number() OVER (ORDER BY p_name, p_partkey) - 1 AS idx,
         |         p_partkey, p_name
         |  FROM part),
         |cand AS (
         |  SELECT a.p_partkey, a.p_name, b.p_partkey AS m_partkey,
         |         b.p_name AS m_name, levenshtein(a.p_name, b.p_name) AS dist
         |  FROM p a JOIN p b ON b.idx BETWEEN a.idx + 1 AND a.idx + $ErWindow
         |  WHERE levenshtein(a.p_name, b.p_name) <= $ErMaxDist),
         |r AS (
         |  SELECT p_partkey, p_name, m_partkey, m_name, dist,
         |    row_number() OVER (PARTITION BY p_partkey
         |                       ORDER BY dist, m_partkey) AS rn
         |  FROM cand)
         |SELECT p_partkey, p_name, m_partkey AS match_key, m_name AS match_name,
         |  CAST(dist AS BIGINT) AS dist
         |FROM r WHERE rn = 1 ORDER BY p_partkey""".stripMargin,

    "a13_moments" ->
      """WITH q AS (
        |  SELECT l_returnflag, CAST(round(l_quantity * 100, 0) AS BIGINT) AS q
        |  FROM lineitem),
        |s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(q) AS DOUBLE) AS s1,
        |    CAST(sum(q * q) AS DOUBLE) AS s2,
        |    CAST(sum(q * q * q) AS DOUBLE) AS s3,
        |    CAST(sum(q * q * q * q) AS DOUBLE) AS s4
        |  FROM q GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round(s1 / n / 100.0, 6) AS mean_qty,
        |  round((s3 / n - 3.0 * (s1 / n) * (s2 / n)
        |         + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
        |        / ((s2 / n - (s1 / n) * (s1 / n))
        |           * sqrt(s2 / n - (s1 / n) * (s1 / n))), 8) AS skewness,
        |  round((s4 / n - 4.0 * (s1 / n) * (s3 / n)
        |         + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
        |         - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
        |        / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n)))
        |        - 3.0, 8) AS kurtosis_excess
        |FROM s ORDER BY l_returnflag""".stripMargin)
}
