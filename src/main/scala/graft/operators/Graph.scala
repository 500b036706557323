package graft.operators

import graft.Exact.hugeint
import graft.Pairs
import graft.Tables.load
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over a derived co-purchase graph (round 6).
  *
  * The graph: parts are nodes; an undirected edge connects two parts that
  * co-occur in 2+ orders (the `rec_cooccur` support threshold). Connected
  * components over a different (document-similarity) graph live in
  * `Dedup.componentLabels`; this file adds the other classic whole-graph
  * primitive, triangle counting, in its scale-correct form.
  *
  * `gr_triangles` uses the degree-oriented edge-iterator algorithm
  * (Schank & Wagner 2005 "Finding, Counting and Listing all Triangles in
  * Large Graphs"): orient every undirected edge from its lower to its
  * higher endpoint under the total order k = (degree, node id). Each
  * triangle then has exactly one "apex" node with two out-edges, so
  * joining out-edges on the apex and probing the closing edge counts each
  * triangle exactly once, and the wedge fan-out is bounded by
  * Σ outdeg² = O(m^1.5) regardless of skew — a star node of degree d
  * contributes d wedges as an apex only toward HIGHER-degree nodes, so
  * hub explosion (the naive id-orientation's failure mode) cannot happen.
  * The id tiebreak keeps the order total and the oracle hash exact.
  *
  * 100 TB shape: degree is one keyed agg over the edge list; orientation
  * is map-side; the wedge generation is one self-equi-join on the apex
  * key; the closing probe is one equi-join on the (v, w) pair key. Every
  * join key is a graph node/edge, never a fact-table row.
  */
object Graph {

  type Q = (SparkSession, String) => DataFrame

  private val MinSupport = 2

  /** gr_labelprop: fixed synchronous min-label rounds (≥ the co-purchase
    * graph's observed diameter at every tested SF; the fixed budget IS
    * the operator contract — see the query doc). */
  private val LabelPropRounds = 12

  /** Shared by gr_labelprop / gr_modularity: the fixed-round synchronous
    * min-label propagation. Returns (final labels, symmetrized edges). */
  private def labelLoop(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val sym = both(edges(s, dir), "src", "dst").localCheckpoint()
    var lab = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl")).localCheckpoint()
    for (_ <- 1 to LabelPropRounds) {
      val nbr = sym.join(lab, sym("src") === lab("node"))
        .groupBy(col("dst").as("node")).agg(min("lbl").as("nl"))
      lab = lab.join(nbr, Seq("node"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("lbl"))
        .localCheckpoint()
    }
    (lab, sym)
  }

  /** The gr_closeness multi-source landmark BFS, factored out so the
    * round-count bound is a pinned property (ScaleDesignSpec), not an
    * implicit one. Carries (node, lm, d) triples; per round the frontier
    * joins the directed edge list `e2(src, dst)` and anti-joins the
    * settled set. EXITS EARLY when the frontier empties — every further
    * round would be a join over zero rows, so the early exit is
    * bit-identical to running the full `maxHops` unroll (and to the
    * oracle's fixed CTE chain). Returns (settled distances, rounds
    * actually executed ≤ maxHops). */
  private[graft] def landmarkBfs(
      e2: DataFrame, lms: DataFrame, maxHops: Int): (DataFrame, Int) = {
    var frontier = lms.select(col("node"), col("lm"), lit(0L).as("d"))
      .localCheckpoint()
    var dist = frontier
    var hop = 1
    var rounds = 0
    while (hop <= maxHops && !frontier.isEmpty) {
      frontier = frontier.join(e2, col("node") === col("src"))
        .select(col("dst").as("node"), col("lm")).distinct()
        .join(dist, Seq("node", "lm"), "left_anti")
        .select(col("node"), col("lm"), lit(hop.toLong).as("d"))
        .localCheckpoint()
      dist = dist.unionAll(frontier)
      rounds += 1
      hop += 1
    }
    (dist, rounds)
  }

  /** Undirected co-purchase edges (pa < pb), support >= MinSupport.
    *
    * Round-16 shuffle cut (guide §2.4 "remove shuffles outright"): the
    * old `.distinct()` before [[Relational3.basketPairs]] was a full
    * (l_orderkey, l_partkey) exchange that `collect_set` inside
    * basketPairs makes redundant — the per-order item SET is identical
    * with or without it. Dropping it removes one fact-table shuffle
    * from every gr_ query's edge build (2 exchanges → 1 before the
    * pair agg; plan diff in plans/r16/gr_triangles_{before,after}.txt). */
  private def edges(s: SparkSession, dir: String): DataFrame = {
    val items = load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    // the shared MaxBasket-capped pair explode (rec_* family): one
    // adversarial mega-basket cannot detonate the edge-build task
    Relational3.basketPairs(items)
      .groupBy(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
      .agg(count(lit(1)).as("pair_orders"))
      .where(col("pair_orders") >= MinSupport)
      .select(col("pa"), col("pb"))
  }

  /** The undirected edge list `e(pa, pb)` symmetrized: each edge in both
    * directions, as columns `(a, b)`. */
  private def both(e: DataFrame, a: String, b: String): DataFrame =
    e.select(col("pa").as(a), col("pb").as(b))
      .unionAll(e.select(col("pb").as(a), col("pa").as(b)))

  /** The symmetrized edges `g(u, v)` whose endpoints both pass the degree
    * test `ok`, degrees taken in `g`: one keyed degree aggregate and two
    * semi-join trims. */
  private def trim(g: DataFrame, ok: Column => Column): DataFrame = {
    val keep = g.groupBy("u").agg(count(lit(1)).as("d"))
      .where(ok(col("d"))).select("u")
    g.join(keep, "u")
      .join(keep.select(col("u").as("v")), "v")
      .select("u", "v")
  }

  /** The degree-oriented triangle pipeline shared by `gr_triangles` and
    * `gr_clustering` (the `labelLoop` precedent): orientation key
    * k = (degree, id) as a STRUCT compared lexicographically — a strict
    * total order for ANY id range (packed d·2^32+id arithmetic silently
    * broke the order once ids exceeded 2^32, well below the 100 TB
    * target). Wedges fan out from each edge's LOW-key endpoint, so the
    * join input is Σ outdeg² = O(m^1.5) under any degree skew, and each
    * triangle is found exactly once. Apexes with more than `apexCap`
    * out-neighbors take the streamed wedge form (the queries pass
    * [[WedgeApexCap]]). Returns (degree table `node, d`, per-node triangle
    * counts `node, n_tri`). */
  private[graft] def nodeTriangles(e: DataFrame, apexCap: Int): (DataFrame, DataFrame) = {
    val deg = e.select(explode(array(col("pa"), col("pb"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val keyed = deg.select(col("node"), struct(col("d"), col("node")).as("k"))
    val withK = e
      .join(keyed.select(col("node").as("na"), col("k").as("ka")), col("pa") === col("na"))
      .join(keyed.select(col("node").as("nb"), col("k").as("kb")), col("pb") === col("nb"))
    // orient low-k -> high-k; carry the endpoint keys for the wedge order.
    // Round 17: eagerly checkpointed — `o` feeds the wedge build AND the
    // closing probe (and the degree/orient join chain fed both), so the
    // whole orient chain executed twice per query; profile at sf0.1/
    // local[32] showed the closing join at 33 core-s un-checkpointed vs
    // 0.7 core-s with `o` materialized once.
    val o = withK.select(
      when(col("ka") < col("kb"), col("pa")).otherwise(col("pb")).as("lo"),
      when(col("ka") < col("kb"), col("pb")).otherwise(col("pa")).as("hi"),
      when(col("ka") < col("kb"), col("kb")).otherwise(col("ka")).as("khi"))
      .localCheckpoint(true)
    // Round-16 (guide §2.4/§3): wedges come from ONE groupBy(lo) that
    // collects the apex's out-neighbors sorted by khi (khi embeds the node
    // id, so sort_array gives a strict order) and explodes the
    // (khi_i < khi_j) pairs map-side — same Σ outdeg² fan-out bound as the
    // old o ⋈ o self-join, identical wedge set, one exchange.
    // Round-17 §5 guard (the round-16 verdict's memory caveat): the
    // collect_list buffers an apex's FULL out-neighbor list in one
    // aggregation row. Degree orientation bounds out-degree at √(2m) —
    // sub-linear but still ~1.4M structs per row at m = 10¹² — so apexes
    // above apexCap take the STREAMED self-join form instead (no
    // per-apex array; the pre-r16 shape, restricted to the handful of
    // super-apexes), and everything below it keeps the one-exchange
    // explode. The branch split is exact (anti/semi on the same apex key,
    // one partitioning shared by all three consumers of `o`), the two
    // wedge sets are disjoint by apex, and their union is the identical
    // wedge multiset — the cap moves no result, only the execution form.
    // On every driver SF the `hi` side is empty (max out-degree ≤ 2 at
    // sf0.1), so the streamed branch costs one scan of the checkpointed
    // `o`; at 100 TB it is what caps a task's aggregation buffer.
    // PipelineOpsSpec forces it with caps 1 and 2 on a hub-plus-clique graph.
    val od = o.groupBy("lo").agg(count(lit(1)).as("od"))
    val hiApex = od.where(col("od") > apexCap).select("lo")
    val wLow = o.join(hiApex, Seq("lo"), "left_anti")
      .groupBy("lo")
      .agg(sort_array(collect_list(struct(col("khi"), col("hi")))).as("ns"))
      .select(col("lo").as("u"), Pairs.within(col("ns"))((x, y) =>
        struct(x.getField("hi").as("v"), y.getField("hi").as("w"))).as("p"))
      .select(col("u"), col("p.v").as("v"), col("p.w").as("w"))
    val oHi = o.join(hiApex, Seq("lo"), "left_semi")
    val wHi = oHi.as("w1").join(oHi.as("w2"),
        col("w1.lo") === col("w2.lo") && col("w1.khi") < col("w2.khi"))
      .select(col("w1.lo").as("u"), col("w1.hi").as("v"), col("w2.hi").as("w"))
    val wedges = wLow.unionByName(wHi)
    val tris = wedges
      .join(o.as("e3"), col("v") === col("e3.lo") && col("w") === col("e3.hi"))
      .select(col("u"), col("v"), col("w"))
    val tcnt = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    (deg, tcnt)
  }

  /** §5 memory bound for the wedge explode's per-apex neighbor array:
    * apexes with more out-neighbors than this use the streamed self-join
    * wedge form instead of one collect_list row (see nodeTriangles). 4096
    * structs ≈ 100 KB per aggregation row — the same order as MaxBasket's
    * fan-out bound; degree orientation already caps out-degree at √(2m),
    * so the streamed branch only ever sees the extreme tail. */
  private val WedgeApexCap = 4096

  /** k-core: degree threshold and unrolled peel rounds. Peeling converges
    * when every surviving node keeps degree ≥ K; PipelineOpsSpec pins that
    * the fixed unroll reaches that fixpoint on the test graphs (min
    * degree of the result ≥ K is exactly the fixpoint condition). */
  // K=2 keeps the core non-empty at every test SF (the sf0.1 co-purchase
  // graph's 3-core is empty); measured convergence is 1/4/6 peel rounds at
  // sf0.001/0.01/0.1, so 8 unrolled rounds carry margin at all three.
  private val KcoreK = 2
  private val KcoreRounds = 8

  /** gr_linkpred: hub-degree cutoff (the computation restricts to the
    * subgraph of nodes with degree ≤ this — super-hubs make every
    * neighbor pair a "candidate", carry no signal, and cost d² wedges;
    * dropping them is the standard common-neighbor prune) and the minimum
    * shared-neighbor count for a candidate pair. */
  private val LpMaxDeg = 64
  private val LpMinCommon = 2

  val queries: Map[String, Q] = Map(
    // k-core decomposition membership (the densest-region primitive of
    // community mining): iteratively peel nodes of degree < K until the
    // remaining subgraph — the K-core — is stable. Per round: one keyed
    // degree aggregate + two semi-join trims of the (directed-both-ways)
    // edge list, localCheckpoint-ed so the plan stays flat (the
    // gr_shortest_path discipline); every shuffle is keyed on a node id
    // and the edge list only shrinks. The unroll count is FIXED (not
    // run-to-fixpoint) so the DuckDB oracle is the identical computation;
    // convergence at the fixed depth is pinned separately in GraphSpec.
    "gr_kcore" -> ((s, dir) => {
      val und0 = both(edges(s, dir), "u", "v").localCheckpoint()
      val fin = (0 until KcoreRounds).foldLeft(und0) { (g, _) =>
        trim(g, _ >= KcoreK).localCheckpoint()
      }
      fin.groupBy(col("u").as("node")).agg(count(lit(1)).as("core_degree"))
        .orderBy("node")
    }),

    // Link prediction by common-neighbor Jaccard: for every NON-edge pair
    // sharing ≥ LpMinCommon neighbors in the (hub-pruned) co-purchase
    // graph, score = |N(a)∩N(b)| / |N(a)∪N(b)| — the classic
    // missing-edge / recommendation primitive. Wedge pairs explode
    // map-side from each center's sorted neighbor set (the rec_cooccur
    // basket shape — never a fact self-join), the hub prune bounds the
    // fan-out at LpMaxDeg² per center, existing edges leave via one
    // anti-join, and union sizes come from the subgraph degree table —
    // every shuffle is keyed on a node or a candidate pair.
    //
    // Cost note (round-16, the round-15 verdict's stretch item): the
    // existing-edge anti-join used to reference `e` directly — whose
    // lineage is the full capped basket build, NOT covered by `und`'s
    // localCheckpoint — so the cold query paid the edge build TWICE.
    // Candidate pairs are emitted with a < b and `und` holds both
    // directions of every edge, so (a, b) ∈ und ⟺ edge {a, b} exists:
    // the anti-join now reads the checkpointed `und`, and the basket
    // build runs exactly once per cold query.
    "gr_linkpred" -> ((s, dir) => {
      val und = both(edges(s, dir), "u", "v").localCheckpoint()
      val sub = trim(und, _ <= LpMaxDeg).localCheckpoint()
      val subDeg = sub.groupBy("u").agg(count(lit(1)).as("d"))
      val pairs = sub.groupBy("u")
        .agg(sort_array(collect_set(col("v"))).as("ns"))
        .select(Pairs.within(col("ns"))((x, y) => struct(x.as("a"), y.as("b"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("n_common"))
        .where(col("n_common") >= LpMinCommon)
      pairs
        .join(und.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"), "left_anti")
        .join(subDeg.select(col("u").as("a"), col("d").as("da")), "a")
        .join(subDeg.select(col("u").as("b"), col("d").as("db")), "b")
        .select(col("a").as("pa"), col("b").as("pb"), col("n_common"),
          (col("da") + col("db") - col("n_common")).as("n_union"),
          round(col("n_common").cast("double") /
            (col("da") + col("db") - col("n_common")), 6).as("jaccard"))
        .orderBy("pa", "pb")
    }),

    // Adamic–Adar link prediction (Adamic & Adar 2003) — the
    // frequency-weighted sibling of gr_linkpred's Jaccard: each common
    // neighbor z contributes 1/ln(deg z), so a rare shared neighbor
    // says more than a hub. Same scale machinery (hub-pruned wedge
    // explode from sorted neighbor sets, never a fact self-join;
    // existing edges leave by one anti-join); the center's weight is
    // computed ONCE per center and the per-pair sum — the one
    // order-sensitive double reduction — folds in center-id order on
    // both engines (the prof_mutual_info list_reduce parity). A wedge
    // center always has ≥ 2 neighbors, so ln(deg z) ≥ ln 2 > 0 by
    // construction.
    "gr_adamic_adar" -> ((s, dir) => {
      val und = both(edges(s, dir), "u", "v").localCheckpoint()
      val sub = trim(und, _ <= LpMaxDeg).localCheckpoint()
      val wedges = sub.groupBy("u")
        .agg(sort_array(collect_set(col("v"))).as("ns"))
        .select(col("u").as("z"),
          (lit(1.0) / log(size(col("ns")).cast("double"))).as("w"),
          Pairs.within(col("ns"))((x, y) => struct(x.as("a"), y.as("b"))).as("p"))
      val pairs = wedges
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("n_common"),
          aggregate(
            sort_array(collect_list(struct(col("z"), col("w").as("w")))),
            lit(0.0), (acc, x) => acc + x.getField("w")).as("aa"))
        .where(col("n_common") >= LpMinCommon)
      pairs
        // anti-join reads the checkpointed und, not e's raw lineage —
        // same one-build-per-cold-query rationale as gr_linkpred above
        .join(und.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"), "left_anti")
        .select(col("a").as("pa"), col("b").as("pb"), col("n_common"),
          round(col("aa"), 6).as("adamic_adar"))
        .orderBy("pa", "pb")
    }),

    // Per-node triangle participation over the co-purchase graph, top
    // nodes first (the shared [[nodeTriangles]] wedge pipeline).
    "gr_triangles" -> ((s, dir) =>
      nodeTriangles(edges(s, dir).cache(), WedgeApexCap)._2
        .orderBy(col("n_tri").desc, col("node"))),

    // Local clustering coefficient (Watts & Strogatz 1998) — per node,
    // the fraction of its neighbor pairs that are themselves connected:
    // cc = 2·T(v) / (d(v)·(d(v)−1)). Shares [[nodeTriangles]] with
    // gr_triangles (each triangle found exactly once, wedge fan-out
    // bounded by Σ outdeg² = O(m^1.5) under any skew), then one
    // node-keyed left join back to the degree table; degree-<2 nodes
    // have no defined coefficient and are excluded. Numerator and
    // denominator are pure integers (d ≤ n keeps d·(d−1) int64-safe to
    // ~3e9-node graphs); the single double division is the identical
    // expression on both engines, round(6).
    "gr_clustering" -> ((s, dir) => {
      val (deg, tcnt) = nodeTriangles(edges(s, dir).cache(), WedgeApexCap)
      deg.where(col("d") >= 2)
        .join(tcnt, Seq("node"), "left")
        .na.fill(0L, Seq("n_tri"))
        .select(col("node"), col("d").as("deg"), col("n_tri"),
          round((col("n_tri") * 2).cast("double") /
            (col("d") * (col("d") - 1)).cast("double"), 6).as("cc"))
        .orderBy("node")
    }),

    // Fixed-point PageRank (5 iterations, d = 0.85) over the undirected
    // co-purchase graph. Reproducibility trick: ranks live in integer
    // 1e-12 units and every operation is integral (`div`), so contribution
    // sums are exact longs — immune to the order-dependence of double
    // addition that makes naive distributed PageRank nondeterministic
    // across runs, partitionings, and engines. Truncation leaks mass
    // (bounded by outdeg per node per iteration, ~1e-10 relative here);
    // that bias is the documented price of bit-exactness.
    //
    // 100 TB shape — ONE exchange per iteration: edges are pre-grouped
    // once into a cached adjacency table (hash-partitioned by src, its
    // groupBy partitioning), so the per-iteration rank ⋈ adjacency join
    // reuses existing partitionings (rank arrives partitioned by node
    // because the previous iteration's contribution agg clustered it by
    // dst = node); contributions fan out map-side via explode and
    // partially aggregate before the single groupBy(dst) exchange. There
    // is NO per-iteration join back to the node list: the graph is
    // symmetrized (every edge contributes both directions), so every node
    // has in-degree ≥ 1 and appears as a contribution dst every iteration
    // — the contrib frame IS the full next rank vector. The edge list is
    // never re-shuffled after the one up-front build. n (node count) is a
    // one-row driver scalar computed once — not a per-row collect.
    // HITS hubs & authorities (Kleinberg 1999) on the DIRECTED low→high
    // orientation of the co-purchase edges (direction makes hub ≠
    // authority; the orientation is deterministic, so both engines build
    // the identical graph). Fixed-point integer arithmetic throughout —
    // the gr_pagerank discipline extended with the L1 normalization HITS
    // needs to keep magnitudes bounded: each half-round sums the opposite
    // score over the edge list (exact long), then renormalizes to
    // HitsUnit via (x·Unit) div Σx with the product in decimal(38,0)/
    // HUGEINT (x ≤ Unit·degmax makes x·Unit overflow int64). Unrolled
    // HitsIters rounds behind per-round localCheckpoints; every shuffle
    // keys on a node id; nodes with no out-(in-)edges keep score 0 via
    // the left join + coalesce both engines share.
    "gr_hits" -> ((s, dir) => {
      val e = edges(s, dir).select(col("pa").as("src"), col("pb").as("dst"))
        .localCheckpoint()
      val nodes = e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node"))).distinct()
        .localCheckpoint()
      def norm(scores: DataFrame, c: String): DataFrame = {
        val tot = scores.groupBy().agg(sum(col(c)).as("t"))
        scores.crossJoin(broadcast(tot))
          .select(col("node"),
            expr(s"CAST($c AS DECIMAL(38,0)) * $HitsUnit div t").as(c))
      }
      // Half-round sums accumulate in DECIMAL(38,0) mirroring DuckDB's
      // HUGEINT: per-node scores are ≤ HitsUnit (1e12) post-norm, so an
      // int64 sum would silently wrap at in/out-degree ≳ 9.2e6 on Spark
      // while DuckDB stays exact — the ev_anomaly "fail loudly, never
      // silently diverge" discipline. Widening only the sum keeps the
      // per-node scores long (IntegralDivide output) everywhere else.
      def dsum(c: String): Column = sum(hugeint(col(c)))
      def fill0(df: DataFrame, c: String): DataFrame =
        df.select(col("node"),
          coalesce(col(c), hugeint(lit(0))).as(c))
      var auth = nodes.select(col("node"), lit(HitsUnit).as("a"))
      var hub: DataFrame = null
      for (_ <- 1 to HitsIters) {
        val hp = e.join(auth, e("dst") === auth("node"))
          .groupBy(col("src").as("node")).agg(dsum("a").as("h"))
        hub = norm(
          fill0(nodes.join(hp, Seq("node"), "left"), "h"), "h")
          .localCheckpoint()
        val ap = e.join(hub, e("src") === hub("node"))
          .groupBy(col("dst").as("node")).agg(dsum("h").as("a"))
        auth = norm(
          fill0(nodes.join(ap, Seq("node"), "left"), "a"), "a")
          .localCheckpoint()
      }
      hub.join(auth, "node")
        .select(col("node"), col("h").as("hub_fp"), col("a").as("auth_fp"))
        .orderBy("node")
    }),

    // Degree assortativity — the Pearson correlation of endpoint degrees
    // over the symmetrized edge list (Newman 2002's mixing coefficient in
    // its plain-degree form): positive = hubs link hubs (social shape),
    // negative = hubs link leaves (infrastructure shape) — the one-number
    // summary that predicts how the graph responds to hub removal.
    // Symmetry makes Sy=Sx and Syy=Sxx, so three decimal(38,0)/HUGEINT
    // sums suffice and r = (n·Σxy − Sx²)/(n·Σxx − Sx²) is one identical
    // double expression, round(6); a degree-regular graph (zero
    // variance) yields NULL on both engines. Scale: one degree agg + two
    // node-keyed joins + one global agg — never materializes anything
    // beyond the edge list.
    "gr_assortativity" -> ((s, dir) => {
      val sym = both(edges(s, dir), "x", "y").localCheckpoint()
      val deg = sym.groupBy(col("x").as("node")).agg(count(lit(1)).as("deg"))
      val g = sym
        .join(deg.select(col("node").as("x"), col("deg").as("dx")), "x")
        .join(deg.select(col("node").as("y"), col("deg").as("dy")), "y")
        .groupBy().agg(count(lit(1)).as("n"),
          sum(hugeint(col("dx"))).as("sx"),
          sum(hugeint(col("dx")) * col("dx")).as("sxx"),
          sum(hugeint(col("dx")) * col("dy")).as("sxy"))
      val den = col("n") * col("sxx") - col("sx") * col("sx")
      g.select(col("n").as("n_pairs"),
        round(when(den > 0,
          (col("n") * col("sxy") - col("sx") * col("sx")).cast("double") /
            den.cast("double")), 6).as("r_assort"))
    }),

    // Degree distribution of the co-purchase graph: the per-degree node
    // histogram with its CCDF plus the continuous power-law MLE
    // α = 1 + N / (Σ ln d_i − N·ln(d_min − ½)) (Clauset, Shalizi &
    // Newman 2009 eq. 3.1 at x_min = d_min) — the first plot and the
    // first fitted number anyone asks of a large graph, and the scale
    // DIAGNOSTIC for every other gr_ op (heavy-tail α tells you whether
    // hub-aware orientation is mandatory). Exactness: degree and
    // histogram counts are integers; Σ ln d_i = Σ_k c_k·ln k folds over
    // the SORTED degree histogram on both engines (the prof_mutual_info
    // list_reduce parity), so the one log-sum is bit-identical. Scale:
    // one degree agg over the edge list + a DEGREE-DOMAIN histogram —
    // the CCDF window runs over distinct degrees only (histogram-scale,
    // the QuantileLadder window class), never over nodes.
    "gr_degree_dist" -> ((s, dir) => {
      val e = edges(s, dir)
      val deg = e.select(col("pa").as("node"))
        .unionAll(e.select(col("pb").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val wC = org.apache.spark.sql.expressions.Window
        .orderBy(col("deg").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      // ccdf window BEFORE the reuse checkpoint: a checkpoint-then-window
      // would erase the Aggregate and read as a row-level single-task
      // window (the a22_levene_bf provenance lesson; the sweep enforces it)
      val hist = deg.groupBy("deg").agg(count(lit(1)).as("n_nodes"))
        .withColumn("ge", sum("n_nodes").over(wC))
        .localCheckpoint() // totals + output both ride this tiny frame
      val lnTerm = col("n_nodes").cast("double") * log(col("deg").cast("double"))
      val tot = hist.agg(sum("n_nodes").as("nn"), min("deg").as("dmin"),
        aggregate(
          sort_array(collect_list(struct(col("deg"), lnTerm.as("t")))),
          lit(0.0), (acc, x) => acc + x.getField("t")).as("slnd"))
      val alpha = lit(1.0) + col("nn").cast("double") /
        (col("slnd") - col("nn").cast("double") *
          log(col("dmin").cast("double") - lit(0.5)))
      hist.crossJoin(broadcast(tot))
        .select(col("deg"), col("n_nodes"),
          round(col("n_nodes").cast("double") / col("nn").cast("double"), 6)
            .as("frac"),
          round(col("ge").cast("double") / col("nn").cast("double"), 6)
            .as("ccdf"),
          round(alpha, 6).as("alpha_mle"))
        .orderBy("deg")
    }),

    // Synchronous min-label propagation, LabelPropRounds unrolled rounds
    // — the fixed-budget connected-components approximation a
    // 1000-executor cluster actually runs when full convergence is not
    // worth the iteration count (labels converge to per-component minima
    // once rounds ≥ diameter; the OPERATOR's contract is the fixed
    // round count, so the DuckDB oracle is the identical unrolled
    // computation — the gr_hits discipline). Each round is one keyed
    // neighbor-min agg + one left join, behind a localCheckpoint so the
    // lineage never compounds; every shuffle keys on a node id.
    "gr_labelprop" -> ((s, dir) => labelLoop(s, dir)._1.orderBy("node")),

    // Newman modularity of the gr_labelprop partition (Newman & Girvan
    // 2004): per community, Q_c = e_c/m − (Σdeg_c / 2m)² — the one-number
    // audit of whether the fixed-round communities are better than
    // chance. Everything before the final ratio is integral (edge and
    // degree counts; Σdeg_c ≤ 2m keeps int64 to ~4.6e18 edge-endpoints),
    // and the two double ratios are written as the same explicit
    // multiply on both engines (no pow), round(6). Shape: the labelLoop
    // node-keyed rounds + two label-keyed aggregates + one broadcast
    // 1-row m — no shuffle beyond the label key.
    "gr_modularity" -> ((s, dir) => {
      val (lab, sym) = labelLoop(s, dir)
      val e = sym.where(col("src") < col("dst"))
      val m = e.groupBy().agg(count(lit(1)).as("m"))
      val internal = e
        .join(lab.select(col("node").as("src"), col("lbl").as("la")), "src")
        .join(lab.select(col("node").as("dst"), col("lbl").as("lb")), "dst")
        .where(col("la") === col("lb"))
        .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("n_internal"))
      val degSum = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
        .join(lab, "node")
        .groupBy("lbl").agg(count(lit(1)).as("n_nodes"), sum("d").as("deg_sum"))
      val half = col("deg_sum").cast("double") / (col("m").cast("double") * 2)
      degSum.join(internal, Seq("lbl"), "left")
        .na.fill(0L, Seq("n_internal"))
        .crossJoin(broadcast(m))
        .select(col("lbl"), col("n_nodes"), col("n_internal"), col("deg_sum"),
          round(col("n_internal").cast("double") / col("m") - half * half, 6)
            .as("q_contrib"))
        .orderBy("lbl")
    }),

    "gr_pagerank" -> ((s, dir) => {
      val e2 = both(edges(s, dir), "src", "dst")
      val adj = e2.groupBy(col("src"))
        .agg(collect_list(col("dst")).as("dsts"), count(lit(1)).as("outdeg"))
        .cache()
      val n = adj.count() // scalar: |nodes| (every node has outdeg ≥ 1)
      val base = (15L * RankUnit / n) / 100L // teleport term, exact long
      var rank = adj.select(col("src").as("node"),
        lit(RankUnit / n).as("r"))
      for (_ <- 1 to PrIters) {
        rank = rank.join(adj, col("node") === col("src"))
          .select(explode(col("dsts")).as("dst"), expr("r div outdeg").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("sc"))
          .select(col("dst").as("node"),
            (lit(base) + expr("85 * sc div 100")).as("r"))
      }
      rank.select(col("node"), col("r").as("pr_fp"))
        .orderBy(col("pr_fp").desc, col("node"))
    }),

    // Multi-source BFS hop distance (unweighted SSSP), bounded at
    // SpMaxHops rounds — the "distance to nearest flagship product"
    // query shape. Seeds are a deterministic node subset (id % SpSeedMod
    // = 0). FRONTIER form: in an unweighted graph a node's first
    // discovery IS its min distance, so each round expands only the
    // nodes discovered last round (frontier ⋈ edges, then an anti-join
    // drops already-settled nodes) instead of re-relaxing the whole
    // reached set — per-round work is proportional to the frontier's
    // edge cut, not to |reached|·|E| (the naive form measured 3× slower
    // here). The frontier is localCheckpoint-ed each round (the
    // Dedup.componentLabels pattern): the loop carrier's lineage would
    // otherwise nest one join+anti-join deeper per round. Distances are
    // pure integers — bit-identical on any partitioning, any engine.
    // Landmark closeness centrality (the Eppstein–Wang 2004 estimator):
    // exact closeness needs all-pairs BFS — O(n·m), impossible at any
    // scale — so production ranks nodes by distance to a FIXED landmark
    // set (here the 4 smallest node ids — deterministic, no RNG). One
    // multi-source BFS carries (node, landmark) pairs: per hop the
    // frontier joins the edge list and anti-joins the settled set, so
    // per-round work is the frontier's edge cut × 4, never |V|²; the
    // frontier localCheckpoints each round (the gr_shortest_path
    // discipline). Distances are pure integers; the one double is the
    // final n_reached/Σd ratio, round(6), guarded for the Σd = 0
    // isolated-landmark case.
    //
    // Cost knobs (the battery's steepest scale curve lives here —
    // 18.6× wall at 100× data, round-13 probe):
    //  - EARLY EXIT: BFS distances only ever settle, so an empty
    //    frontier means every remaining round is a no-op join over zero
    //    rows; the loop breaks there. Semantically identical to the
    //    fixed unroll (and to the DuckDB oracle's fixed CTE chain —
    //    empty frontiers contribute zero rows either way); the isEmpty
    //    probe is ~free on the eagerly-materialized localCheckpoint.
    //  - LmCount IS the accuracy/cost dial: per Eppstein–Wang 2004
    //    ("Fast approximation of centrality"), k = Θ(log n / ε²)
    //    landmarks estimate closeness within ε·Δ (Δ = diameter) w.h.p.;
    //    each extra landmark adds one more (node, lm) stripe to every
    //    round's frontier cut — cost is exactly linear in k, so a
    //    deployment trades ε against wall-clock by k alone, never by
    //    touching the plan shape.
    "gr_closeness" -> ((s, dir) => {
      val e2 = both(edges(s, dir), "src", "dst").cache()
      val lms = e2.select(col("src").as("node")).distinct()
        .orderBy("node").limit(LmCount)
        .select(col("node"), col("node").as("lm"))
      val (dist, _) = landmarkBfs(e2, lms, LmHops)
      dist.groupBy("node")
        .agg(count(lit(1)).as("n_lm"), sum("d").as("dist_sum"))
        .select(col("node"), col("n_lm"), col("dist_sum"),
          round(when(col("dist_sum") > 0,
            col("n_lm").cast("double") / col("dist_sum").cast("double")), 6)
            .as("closeness"))
        .orderBy("node")
    }),

    // Landmark diameter lower bound — the "how wide is this graph"
    // readout sitting on the SAME landmark-BFS machinery as
    // gr_closeness: each landmark's eccentricity within the LmHops
    // budget (max settled distance — a LOWER bound on its true
    // eccentricity when the ball is truncated), and the max over
    // landmarks, which classically lower-bounds the true diameter (any
    // node's eccentricity does). n_reached per landmark says how much of
    // the graph the bound actually saw — the honesty column a truncated
    // probe owes its reader. Scale: identical to gr_closeness (the
    // shared landmarkBfs: bounded rounds, early exit, keyed anti-joins);
    // the ecc/diameter rollups ride the landmarks-scale frame.
    "gr_diameter" -> ((s, dir) => {
      val e2 = both(edges(s, dir), "src", "dst").cache()
      val lms = e2.select(col("src").as("node")).distinct()
        .orderBy("node").limit(LmCount)
        .select(col("node"), col("node").as("lm"))
      val (dist, _) = landmarkBfs(e2, lms, LmHops)
      val per = dist.groupBy("lm")
        .agg(count(lit(1)).as("n_reached"), max("d").as("ecc_lb"))
      val diam = per.agg(max("ecc_lb").as("diameter_lb"))
      per.crossJoin(broadcast(diam))
        .select(col("lm").as("landmark"), col("n_reached"), col("ecc_lb"),
          col("diameter_lb"))
        .orderBy("landmark")
    }),

    "gr_shortest_path" -> ((s, dir) => {
      val e2 = both(edges(s, dir), "src", "dst").cache()
      var frontier = e2.select(col("src").as("node")).distinct()
        .where(col("node") % SpSeedMod === 0)
        .select(col("node"), lit(0L).as("d"))
        .localCheckpoint()
      var dist = frontier
      for (hop <- 1 to SpMaxHops) {
        frontier = frontier.join(e2, col("node") === col("src"))
          .select(col("dst").as("node")).distinct()
          .join(dist, Seq("node"), "left_anti")
          .select(col("node"), lit(hop.toLong).as("d"))
          .localCheckpoint()
        dist = dist.unionAll(frontier)
      }
      dist.select(col("node"), col("d").as("dist")).orderBy("node")
    }))

  private val RankUnit = 1000000000000L // 1e12 rank units = 1.0
  private val PrIters = 5

  /** gr_hits: fixed-point unit and unrolled iteration count. */
  private val HitsUnit = 1000000000000L
  private val HitsIters = 5
  private val SpSeedMod = 10 // gr_shortest_path: seeds are nodes ≡ 0 (mod 10)
  private val LmCount = 4 // gr_closeness: landmark count (smallest node ids)
  private val LmHops = 6 // gr_closeness BFS round bound
  private val SpMaxHops = 4 // gr_shortest_path BFS round bound

  /** Capped per-basket item CTE — the oracle twin of
    * [[Relational3.basketPairs]]'s MaxBasket truncation (the Spark side
    * keeps each basket's `MaxBasket` SMALLEST part keys, so the oracle
    * row_number ORDER BY l_partkey reproduces the exact surviving set).
    * Every oracle pair self-join MUST read from this CTE, never from the
    * raw distinct items, or the two engines disagree on any dataset with
    * a >MaxBasket-item basket (the cap never binds on the driver's
    * testdata, but the semantics must be shared, not coincidental). */
  private def cappedItemsSql(mat: String = ""): String =
    s"""items AS$mat (
       |  SELECT l_orderkey, l_partkey FROM (
       |    SELECT l_orderkey, l_partkey, row_number()
       |      OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
       |    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem))
       |  WHERE rn <= ${Relational3.MaxBasket})""".stripMargin

  /** The shared DuckDB prologue: co-purchase edges both directions. */
  private val EdgeSql =
    s"""${cappedItemsSql()},
       |e AS (
       |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= $MinSupport)""".stripMargin

  /** Shared labelprop CTE chain (sym + l0 + the unrolled rounds) for the
    * gr_labelprop / gr_modularity oracles. */
  private lazy val labelSql: String = {
    val rounds = (1 to LabelPropRounds).map { i =>
      val prev = if (i == 1) "l0" else s"l${i - 1}"
      s"""n$i AS MATERIALIZED (
         |  SELECT sym.dst AS node, min($prev.lbl) AS nl
         |  FROM sym JOIN $prev ON sym.src = $prev.node GROUP BY 1),
         |l$i AS MATERIALIZED (
         |  SELECT l.node, least(l.lbl, coalesce(n.nl, l.lbl)) AS lbl
         |  FROM $prev l LEFT JOIN n$i n USING (node))""".stripMargin
    }.mkString(",\n")
    s"""sym AS (SELECT pa AS src, pb AS dst FROM e
       |        UNION ALL SELECT pb, pa FROM e),
       |l0 AS (SELECT node, node AS lbl
       |       FROM (SELECT DISTINCT src AS node FROM sym)),
       |$rounds""".stripMargin
  }

  /** Unrolled fixed-point PageRank iterations for the oracle. */
  private def prIterSql(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT d.node,
       |    ((15 * CAST($RankUnit AS BIGINT)) // nn.n) // 100
       |      + (85 * coalesce(c.sc, 0)) // 100 AS r,
       |    d.outdeg
       |  FROM deg d CROSS JOIN nn
       |  LEFT JOIN (SELECT e2.dst, sum($prev.r // $prev.outdeg) AS sc
       |             FROM $prev JOIN e2 ON $prev.node = e2.src GROUP BY 1) c
       |    ON d.node = c.dst)""".stripMargin

  val oracle: Map[String, String] = Map(
    "gr_kcore" -> {
      // MATERIALIZED throughout: DuckDB inlines CTEs at every reference
      // and each round references its predecessor 3× (edge trim + the two
      // keep-side joins) — un-materialized, the 8-round chain expands
      // 3^8-fold (the pqSubSql lesson; here it surfaced as fd exhaustion
      // re-opening the parquet thousands of times).
      val rounds = (0 until KcoreRounds).map { i =>
        s"""k$i AS MATERIALIZED (
           |  SELECT u FROM (SELECT u, count(*) AS d FROM g$i GROUP BY u)
           |  WHERE d >= $KcoreK),
           |g${i + 1} AS MATERIALIZED (
           |  SELECT g.u, g.v FROM g$i g JOIN k$i a ON g.u = a.u
           |  JOIN k$i b ON g.v = b.u)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${cappedItemsSql(" MATERIALIZED")},
         |e AS MATERIALIZED (
         |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
         |  FROM items a JOIN items b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= $MinSupport),
         |g0 AS MATERIALIZED (SELECT pa AS u, pb AS v FROM e
         |       UNION ALL SELECT pb AS u, pa AS v FROM e),
         |$rounds
         |SELECT u AS node, count(*) AS core_degree FROM g$KcoreRounds
         |GROUP BY u ORDER BY node""".stripMargin
    },

    "gr_linkpred" ->
      s"""WITH ${cappedItemsSql(" MATERIALIZED")},
         |e AS MATERIALIZED (
         |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
         |  FROM items a JOIN items b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= $MinSupport),
         |g0 AS MATERIALIZED (SELECT pa AS u, pb AS v FROM e
         |       UNION ALL SELECT pb AS u, pa AS v FROM e),
         |keep AS (SELECT u FROM (SELECT u, count(*) AS d FROM g0 GROUP BY u)
         |         WHERE d <= $LpMaxDeg),
         |sub AS MATERIALIZED (
         |  SELECT g.u, g.v FROM g0 g JOIN keep a ON g.u = a.u
         |  JOIN keep b ON g.v = b.u),
         |sd AS (SELECT u, count(*) AS d FROM sub GROUP BY u),
         |pairs AS (
         |  SELECT a.v AS a, b.v AS b, count(*) AS n_common
         |  FROM sub a JOIN sub b ON a.u = b.u AND a.v < b.v
         |  GROUP BY 1, 2 HAVING count(*) >= $LpMinCommon),
         |cand AS (
         |  SELECT p.a, p.b, p.n_common FROM pairs p
         |  LEFT JOIN e ON p.a = e.pa AND p.b = e.pb WHERE e.pa IS NULL)
         |SELECT c.a AS pa, c.b AS pb, CAST(c.n_common AS BIGINT) AS n_common,
         |  CAST(da.d + db.d - c.n_common AS BIGINT) AS n_union,
         |  round(CAST(c.n_common AS DOUBLE) / (da.d + db.d - c.n_common), 6)
         |    AS jaccard
         |FROM cand c JOIN sd da ON c.a = da.u JOIN sd db ON c.b = db.u
         |ORDER BY pa, pb""".stripMargin,

    "gr_adamic_adar" ->
      s"""WITH ${cappedItemsSql(" MATERIALIZED")},
         |e AS MATERIALIZED (
         |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
         |  FROM items a JOIN items b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= $MinSupport),
         |g0 AS MATERIALIZED (SELECT pa AS u, pb AS v FROM e
         |       UNION ALL SELECT pb AS u, pa AS v FROM e),
         |keep AS (SELECT u FROM (SELECT u, count(*) AS d FROM g0 GROUP BY u)
         |         WHERE d <= $LpMaxDeg),
         |sub AS MATERIALIZED (
         |  SELECT g.u, g.v FROM g0 g JOIN keep a ON g.u = a.u
         |  JOIN keep b ON g.v = b.u),
         |sd AS (SELECT u, count(*) AS d FROM sub GROUP BY u),
         |pairs AS (
         |  SELECT a.v AS a, b.v AS b, count(*) AS n_common,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list(CAST(1 AS DOUBLE) / ln(CAST(sd.d AS DOUBLE))
         |        ORDER BY a.u)), (x, y) -> x + y) AS aa
         |  FROM sub a JOIN sub b ON a.u = b.u AND a.v < b.v
         |  JOIN sd ON a.u = sd.u
         |  GROUP BY 1, 2 HAVING count(*) >= $LpMinCommon)
         |SELECT p.a AS pa, p.b AS pb, CAST(p.n_common AS BIGINT) AS n_common,
         |  round(p.aa, 6) AS adamic_adar
         |FROM pairs p
         |LEFT JOIN e ON p.a = e.pa AND p.b = e.pb WHERE e.pa IS NULL
         |ORDER BY pa, pb""".stripMargin,

    "gr_triangles" ->
      s"""WITH ${cappedItemsSql()},
         |e AS (
         |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
         |  FROM items a JOIN items b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= $MinSupport),
         |deg AS (
         |  SELECT node, count(*) AS d FROM (
         |    SELECT pa AS node FROM e UNION ALL SELECT pb AS node FROM e)
         |  GROUP BY node),
         |o AS (
         |  SELECT CASE WHEN ka.k < kb.k THEN pa ELSE pb END AS lo,
         |         CASE WHEN ka.k < kb.k THEN pb ELSE pa END AS hi,
         |         CASE WHEN ka.k < kb.k THEN kb.k ELSE ka.k END AS khi
         |  FROM e
         |  JOIN (SELECT node, row(d, node) AS k FROM deg) ka ON pa = ka.node
         |  JOIN (SELECT node, row(d, node) AS k FROM deg) kb ON pb = kb.node),
         |tris AS (
         |  SELECT e1.lo AS u, e1.hi AS v, e2.hi AS w
         |  FROM o e1 JOIN o e2 ON e1.lo = e2.lo AND e1.khi < e2.khi
         |  JOIN o e3 ON e3.lo = e1.hi AND e3.hi = e2.hi)
         |SELECT node, count(*) AS n_tri FROM (
         |  SELECT u AS node FROM tris
         |  UNION ALL SELECT v AS node FROM tris
         |  UNION ALL SELECT w AS node FROM tris)
         |GROUP BY node ORDER BY n_tri DESC, node""".stripMargin,

    // Generated: one (sum, total, renormalize) CTE triple per half-round,
    // MATERIALIZED (the ev_markov planner lesson) — the identical integer
    // fixed-point computation the Spark unroll runs.
    "gr_hits" -> {
      val rounds = (1 to HitsIters).map { i =>
        val aPrev = if (i == 1) "a0" else s"an${i - 1}"
        s"""hp$i AS MATERIALIZED (
           |  SELECT n.node, coalesce(x.s, 0) AS h FROM nodes n LEFT JOIN (
           |    SELECT e.pa AS node, sum($aPrev.a) AS s
           |    FROM e JOIN $aPrev ON e.pb = $aPrev.node GROUP BY 1) x
           |    USING (node)),
           |ht$i AS (SELECT sum(h) AS t FROM hp$i),
           |hn$i AS MATERIALIZED (
           |  SELECT node, (CAST(h AS HUGEINT) * $HitsUnit) // t AS h
           |  FROM hp$i, ht$i),
           |ap$i AS MATERIALIZED (
           |  SELECT n.node, coalesce(x.s, 0) AS a FROM nodes n LEFT JOIN (
           |    SELECT e.pb AS node, sum(hn$i.h) AS s
           |    FROM e JOIN hn$i ON e.pa = hn$i.node GROUP BY 1) x
           |    USING (node)),
           |at$i AS (SELECT sum(a) AS t FROM ap$i),
           |an$i AS MATERIALIZED (
           |  SELECT node, (CAST(a AS HUGEINT) * $HitsUnit) // t AS a
           |  FROM ap$i, at$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH $EdgeSql,
         |nodes AS (SELECT pa AS node FROM e UNION SELECT pb FROM e),
         |a0 AS (SELECT node, CAST($HitsUnit AS BIGINT) AS a FROM nodes),
         |$rounds
         |SELECT node, CAST(hn$HitsIters.h AS BIGINT) AS hub_fp,
         |  CAST(an$HitsIters.a AS BIGINT) AS auth_fp
         |FROM hn$HitsIters JOIN an$HitsIters USING (node)
         |ORDER BY node""".stripMargin
    },

    "gr_clustering" ->
      s"""WITH ${cappedItemsSql()},
         |e AS (
         |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
         |  FROM items a JOIN items b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= $MinSupport),
         |deg AS (
         |  SELECT node, count(*) AS d FROM (
         |    SELECT pa AS node FROM e UNION ALL SELECT pb AS node FROM e)
         |  GROUP BY node),
         |o AS (
         |  SELECT CASE WHEN ka.k < kb.k THEN pa ELSE pb END AS lo,
         |         CASE WHEN ka.k < kb.k THEN pb ELSE pa END AS hi,
         |         CASE WHEN ka.k < kb.k THEN kb.k ELSE ka.k END AS khi
         |  FROM e
         |  JOIN (SELECT node, row(d, node) AS k FROM deg) ka ON pa = ka.node
         |  JOIN (SELECT node, row(d, node) AS k FROM deg) kb ON pb = kb.node),
         |tris AS (
         |  SELECT e1.lo AS u, e1.hi AS v, e2.hi AS w
         |  FROM o e1 JOIN o e2 ON e1.lo = e2.lo AND e1.khi < e2.khi
         |  JOIN o e3 ON e3.lo = e1.hi AND e3.hi = e2.hi),
         |tc AS (
         |  SELECT node, count(*) AS n_tri FROM (
         |    SELECT u AS node FROM tris
         |    UNION ALL SELECT v AS node FROM tris
         |    UNION ALL SELECT w AS node FROM tris)
         |  GROUP BY node)
         |SELECT d.node, CAST(d.d AS BIGINT) AS deg,
         |  CAST(coalesce(tc.n_tri, 0) AS BIGINT) AS n_tri,
         |  round(CAST(coalesce(tc.n_tri, 0) * 2 AS DOUBLE)
         |    / CAST(d.d * (d.d - 1) AS DOUBLE), 6) AS cc
         |FROM deg d LEFT JOIN tc USING (node)
         |WHERE d.d >= 2 ORDER BY node""".stripMargin,

    "gr_assortativity" ->
      s"""WITH $EdgeSql,
         |sym AS (SELECT pa AS x, pb AS y FROM e
         |        UNION ALL SELECT pb, pa FROM e),
         |deg AS (SELECT x AS node, count(*) AS deg FROM sym GROUP BY 1),
         |pr AS (
         |  SELECT dx.deg AS dx, dy.deg AS dy
         |  FROM sym JOIN deg dx ON sym.x = dx.node
         |  JOIN deg dy ON sym.y = dy.node),
         |g AS (
         |  SELECT count(*) AS n, sum(CAST(dx AS HUGEINT)) AS sx,
         |    sum(CAST(dx AS HUGEINT) * dx) AS sxx,
         |    sum(CAST(dx AS HUGEINT) * dy) AS sxy
         |  FROM pr)
         |SELECT CAST(n AS BIGINT) AS n_pairs,
         |  round(CASE WHEN n * sxx - sx * sx > 0
         |    THEN CAST(n * sxy - sx * sx AS DOUBLE)
         |         / CAST(n * sxx - sx * sx AS DOUBLE) END, 6) AS r_assort
         |FROM g""".stripMargin,

    "gr_degree_dist" ->
      s"""WITH $EdgeSql,
         |sym AS (SELECT pa AS node FROM e UNION ALL SELECT pb FROM e),
         |deg AS (SELECT node, count(*) AS deg FROM sym GROUP BY 1),
         |hist AS (SELECT deg, count(*) AS n_nodes FROM deg GROUP BY 1),
         |tot AS (
         |  SELECT sum(n_nodes) AS nn, min(deg) AS dmin,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list(CAST(n_nodes AS DOUBLE) * ln(CAST(deg AS DOUBLE))
         |        ORDER BY deg)), (a, b) -> a + b) AS slnd
         |  FROM hist),
         |c AS (
         |  SELECT deg, n_nodes, sum(n_nodes) OVER (ORDER BY deg DESC) AS ge
         |  FROM hist)
         |SELECT c.deg AS deg, CAST(c.n_nodes AS BIGINT) AS n_nodes,
         |  round(CAST(c.n_nodes AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS frac,
         |  round(CAST(ge AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS ccdf,
         |  round(1.0 + CAST(nn AS DOUBLE)
         |    / (slnd - CAST(nn AS DOUBLE) * ln(CAST(dmin AS DOUBLE) - 0.5)),
         |    6) AS alpha_mle
         |FROM c CROSS JOIN tot ORDER BY deg""".stripMargin,

    // Generated: LabelPropRounds unrolled (neighbor-min, least-merge) CTE
    // pairs, MATERIALIZED (the gr_hits planner lesson) — the identical
    // fixed-round computation the Spark unroll runs.
    "gr_labelprop" ->
      s"""WITH $EdgeSql,
         |$labelSql
         |SELECT node, CAST(lbl AS BIGINT) AS lbl FROM l$LabelPropRounds
         |ORDER BY node""".stripMargin,

    "gr_modularity" ->
      s"""WITH $EdgeSql,
         |$labelSql,
         |lab AS (SELECT node, lbl FROM l$LabelPropRounds),
         |m AS (SELECT count(*) AS m FROM e),
         |deg AS (SELECT src AS node, count(*) AS d FROM sym GROUP BY 1),
         |ds AS (
         |  SELECT lbl, count(*) AS n_nodes, CAST(sum(d) AS BIGINT) AS deg_sum
         |  FROM deg JOIN lab USING (node) GROUP BY 1),
         |intl AS (
         |  SELECT la.lbl AS lbl, count(*) AS n_internal
         |  FROM e JOIN lab la ON e.pa = la.node JOIN lab lb ON e.pb = lb.node
         |  WHERE la.lbl = lb.lbl GROUP BY 1)
         |SELECT ds.lbl, CAST(n_nodes AS BIGINT) AS n_nodes,
         |  CAST(coalesce(n_internal, 0) AS BIGINT) AS n_internal, deg_sum,
         |  round(CAST(coalesce(n_internal, 0) AS DOUBLE) / m
         |    - (CAST(deg_sum AS DOUBLE) / (CAST(m AS DOUBLE) * 2))
         |      * (CAST(deg_sum AS DOUBLE) / (CAST(m AS DOUBLE) * 2)), 6)
         |    AS q_contrib
         |FROM ds LEFT JOIN intl USING (lbl) CROSS JOIN m
         |ORDER BY lbl""".stripMargin,

    "gr_pagerank" -> {
      val iters = (1 to PrIters)
        .map(i => prIterSql(if (i == 1) "r0" else s"it${i - 1}", s"it$i"))
        .mkString(",\n")
      s"""WITH $EdgeSql,
         |e2 AS (SELECT pa AS src, pb AS dst FROM e
         |       UNION ALL SELECT pb AS src, pa AS dst FROM e),
         |deg AS (SELECT src AS node, count(*) AS outdeg FROM e2 GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM deg),
         |r0 AS (SELECT node, CAST($RankUnit AS BIGINT) // n AS r, outdeg
         |       FROM deg CROSS JOIN nn),
         |$iters
         |SELECT node, CAST(r AS BIGINT) AS pr_fp FROM it$PrIters
         |ORDER BY pr_fp DESC, node""".stripMargin
    },

    // Per-landmark BFS as a bounded recursive walk carrying the (node,
    // lm) pair; min(d) per pair is the BFS distance within the hop
    // bound (the gr_shortest_path oracle pattern).
    "gr_closeness" ->
      s"""WITH RECURSIVE $EdgeSql,
         |e2 AS (SELECT pa AS src, pb AS dst FROM e
         |       UNION ALL SELECT pb AS src, pa AS dst FROM e),
         |lms AS (SELECT DISTINCT src AS lm FROM e2
         |        ORDER BY lm LIMIT $LmCount),
         |walk(node, lm, d) AS (
         |  SELECT lm AS node, lm, 0 AS d FROM lms
         |  UNION
         |  SELECT e2.dst, w.lm, w.d + 1 FROM walk w JOIN e2 ON w.node = e2.src
         |  WHERE w.d < $LmHops),
         |md AS (SELECT node, lm, min(d) AS d FROM walk GROUP BY 1, 2)
         |SELECT node, CAST(count(*) AS BIGINT) AS n_lm,
         |  CAST(sum(d) AS BIGINT) AS dist_sum,
         |  round(CASE WHEN sum(d) > 0 THEN
         |    CAST(count(*) AS DOUBLE) / CAST(sum(d) AS DOUBLE) END, 6)
         |    AS closeness
         |FROM md GROUP BY node ORDER BY node""".stripMargin,

    "gr_diameter" ->
      s"""WITH RECURSIVE $EdgeSql,
         |e2 AS (SELECT pa AS src, pb AS dst FROM e
         |       UNION ALL SELECT pb AS src, pa AS dst FROM e),
         |lms AS (SELECT DISTINCT src AS lm FROM e2
         |        ORDER BY lm LIMIT $LmCount),
         |walk(node, lm, d) AS (
         |  SELECT lm AS node, lm, 0 AS d FROM lms
         |  UNION
         |  SELECT e2.dst, w.lm, w.d + 1 FROM walk w JOIN e2 ON w.node = e2.src
         |  WHERE w.d < $LmHops),
         |md AS (SELECT node, lm, min(d) AS d FROM walk GROUP BY 1, 2),
         |per AS (SELECT lm, count(*) AS n_reached, max(d) AS ecc
         |        FROM md GROUP BY 1),
         |dm AS (SELECT max(ecc) AS diameter_lb FROM per)
         |SELECT lm AS landmark, CAST(n_reached AS BIGINT) AS n_reached,
         |  CAST(ecc AS BIGINT) AS ecc_lb,
         |  CAST(diameter_lb AS BIGINT) AS diameter_lb
         |FROM per CROSS JOIN dm ORDER BY landmark""".stripMargin,

    "gr_shortest_path" ->
      s"""WITH RECURSIVE $EdgeSql,
         |e2 AS (SELECT pa AS src, pb AS dst FROM e
         |       UNION ALL SELECT pb AS src, pa AS dst FROM e),
         |walk(node, d) AS (
         |  SELECT DISTINCT src AS node, 0 AS d FROM e2 WHERE src % $SpSeedMod = 0
         |  UNION
         |  SELECT e2.dst, w.d + 1 FROM walk w JOIN e2 ON w.node = e2.src
         |  WHERE w.d < $SpMaxHops)
         |SELECT node, CAST(min(d) AS BIGINT) AS dist
         |FROM walk GROUP BY node ORDER BY node""".stripMargin)
}
