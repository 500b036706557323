package graft.operators

import graft.Dense
import graft.Tables.load
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding-table operators beyond pairwise similarity: exact per-class
  * centroids and IVF-style ANN (coarse quantizer + probed-cell search).
  *
  * IVF here uses a deterministic one-pass quantizer — the first `Cells`
  * vectors act as cell seeds (a production system would k-means them; the
  * partition/probe/search dataflow is identical and that is what scales:
  * assignment is map-side against broadcast seeds, search shuffles on cell
  * id, so the pair space is Σ cell² instead of n²).
  *
  * Centroids are order-independent: per-dimension sums go through
  * DECIMAL(25,10) (exact, associative) before the final double division —
  * same bit pattern on any partitioning and in the DuckDB oracle.
  */
object Embeddings {

  type Q = (SparkSession, String) => DataFrame

  private val Cells = 8
  private val NProbe = 2
  private val TopK = 3
  private val NumQueries = 5

  /** k-means: cluster count and unrolled Lloyd iterations (assign → update
    * → assign). Deterministic seeding: the first KmK vectors. */
  private val KmK = 8
  /** SemDeDup within-cluster cosine near-dup threshold. */
  private val SemTau = 0.4

  /** emb_pca_power: embedding width (require()d at runtime) and matrix-
    * squaring count — the iterate applies C^(2^M), so M=8 is an effective
    * 256-step power iteration (this corpus's eigengap is ~0.97: plain
    * 12-step iteration measured cos 0.10 to the true eigenvector, 256
    * effective steps ≈ 0.97^256 residual). Fixed M (not run-to-
    * convergence) so the DuckDB oracle is the identical computation. */
  private val EmbD = 64

  /** Product quantization: PqM subspaces of PqSubDim dims each (64-dim
    * vectors → 2×32), codebook size = KmK per subspace. PqSubDim is
    * DERIVED, not a free constant: both the Spark chain and the DuckDB
    * oracles (annPqSql, ann_ivfpq, ann_ivfpq_res) generate their per-
    * subspace columns over `(0 until PqM)`, so changing PqM alone keeps
    * cross-engine parity (verified by a PqM=4 scratch run, round 10). */
  private val PqM = 2
  require(EmbD % PqM == 0, s"PqM=$PqM must divide the embedding width $EmbD")
  private val PqSubDim = EmbD / PqM

  /** emb_kcenter: number of greedy farthest-first rounds (centers picked). */
  private val KcRounds = 5

  /** emb_knn_label: labeled query subset size and neighbor-vote count. */
  private val KnnNq = 100
  private val KnnK = 5

  /** emb_outliers: how many least-prototypical vectors to surface. */
  private val EmbOutK = 20
  private val PcaSquarings = 8

  /** Production-shaped PQ for the recall study (`ann_pq_big`): 8 subspaces
    * of 8 dims, 32-centroid codebooks → 8×5 = 40-bit codes. 32 is the
    * largest codebook the 500-vector test corpus supports without
    * degenerating (production uses 256 on billions of vectors; the chain is
    * identical, only these three constants move). See AnnRecallSpec for the
    * measured recall curve and why it is noise-bound on this corpus. */
  private val PqBigM = 8
  private val PqBigSubDim = 8
  private val PqBigK = 32

  /** The PQ codebook chain shared by emb_pq (encode), ann_pq / ann_pq_big
    * (ADC search) and the IVF-PQ variants: unrolled Lloyd (seed assign →
    * sorted-fold mean update → re-assign) over each subDim-dim slice, L2
    * distance via the dot identity ‖a−b‖² = a·a + b·b − 2a·b (three
    * sequential-fold dots — bit-identical cross-engine, rule 4 of the
    * parity notes).
    *
    * Round-16 restructure (guide §2.4: remove shuffles outright): the old
    * form ran ONE INDEPENDENT CHAIN PER SUBSPACE — each with its own
    * crossJoin + row_number window + two mean-update aggs — and then
    * joined the per-m code frames pairwise on vec_id, which planned 50
    * exchanges for ann_pq_big (8 subspaces; plans/r16/
    * ann_pq_big_before.txt). All subspaces now travel in ONE keyed frame
    * (vec_id, m, v): the slice fan-out is a map-side explode, assignment
    * is a broadcast join on m against ALL codebooks at once, the argmin is
    * min(struct(d, cluster, …)) — a partially-aggregating
    * DeclarativeAggregate, so the pre-shuffle stage already shrinks the
    * k-way fan-out back to one row per (vec_id, m), where the old window
    * shuffled every candidate row and then sorted — and the mean updates
    * key on (m, cluster[, dim]). Five exchanges total at ANY subspace
    * count (plans/r16/ann_pq_big_after.txt). Per-subspace semantics are
    * unchanged: groups are disjoint in m, min(struct(d, cluster)) is
    * exactly the old ORDER BY (d, cluster) rn=1 pick (the (d, cluster)
    * pair is unique per group, so the trailing v/vv fields never enter
    * the comparison), and every distance/mean expression is the identical
    * tree — the per-m DuckDB oracles are untouched and still hash-match.
    *
    * Returns (codes long-form (vec_id, m, code), centroids (m, cluster,
    * cv, cvv) — localCheckpoint-ed: model-scale (mCount·k rows), consumed
    * by both the re-assign and the searchers' distance tables, and the
    * checkpoint keeps the training chain from executing once per
    * consumer). */
  private def pqAllOn(s: SparkSession, base: DataFrame,
                      mCount: Int, subDim: Int, k: Int): (DataFrame, DataFrame) = {
    import graft.plans.ArrayExprs.dotProduct
    val sub = base
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${mCount - 1}), mm -> " +
          s"struct(mm AS m, slice(fv, mm * $subDim + 1, $subDim) AS v))")).as("sv"))
      .select(col("vec_id"), col("sv.m").as("m"), col("sv.v").as("v"))
      .withColumn("vv", dotProduct(col("v"), col("v")))
    val seeds = sub.where(col("vec_id") < k)
      .select(col("m"), col("vec_id").cast("int").as("cluster"),
        col("v").as("cv"), col("vv").as("cvv"))
    def assign(cents: DataFrame): DataFrame =
      sub.join(broadcast(cents), Seq("m"))
        .select(col("vec_id"), col("m"), col("v"), col("vv"), col("cluster"),
          round(col("vv") + col("cvv") - lit(2.0) * dotProduct(col("v"), col("cv")), 6)
            .as("d"))
        .groupBy("vec_id", "m")
        .agg(min(struct(col("d"), col("cluster"), col("v"), col("vv"))).as("b"))
        .select(col("vec_id"), col("m"), col("b.v").as("v"),
          col("b.vv").as("vv"), col("b.cluster").as("cluster"))
    val upd = assign(seeds)
      .select(col("m"), col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("m", "cluster", "dim")
      .agg(aggregate(array_sort(collect_list(col("x"))), lit(0.0),
        (acc, x) => acc + x).as("sx"), count(lit(1)).as("n"))
      .groupBy("m", "cluster")
      .agg(sort_array(collect_list(struct(col("dim"), (col("sx") / col("n")).as("mu"))))
        .as("dm"))
      .select(col("m"), col("cluster"),
        transform(col("dm"), t => t.getField("mu")).as("cv"))
      .withColumn("cvv", dotProduct(col("cv"), col("cv")))
      .localCheckpoint()
    (assign(upd).select(col("vec_id"), col("m"), col("cluster").as("code")), upd)
  }

  /** [[pqAllOn]] over the raw embedding table. */
  private def pqAll(s: SparkSession, dir: String,
                    mCount: Int, subDim: Int, k: Int): (DataFrame, DataFrame) =
    pqAllOn(s,
      load(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("fv")),
      mCount, subDim, k)

  /** Per-query ADC distance table in long form — (q_id[, extra keys], m,
    * code, d) for every (query, subspace, centroid): the query side of
    * the one-keyed-frame PQ shape. `qslices` must carry (q_id, m, qv). */
  private def qTableAll(qslices: DataFrame, cents: DataFrame): DataFrame = {
    import graft.plans.ArrayExprs.dotProduct
    qslices
      .withColumn("qvv", dotProduct(col("qv"), col("qv")))
      .join(cents, Seq("m"))
      .withColumn("d",
        round(col("qvv") + col("cvv") - lit(2.0) * dotProduct(col("qv"), col("cv")), 6))
      .withColumn("code", col("cluster"))
      .drop("qv", "qvv", "cluster", "cv", "cvv")
  }

  /** Map-side subspace slice fan-out for a query frame `(q_id, fv)` (plus
    * any extra key columns, which ride along). */
  private def qSlices(q: DataFrame, mCount: Int, subDim: Int): DataFrame =
    q.select(col("*"), explode(expr(
        s"transform(sequence(0, ${mCount - 1}), mm -> " +
          s"struct(mm AS m, slice(fv, mm * $subDim + 1, $subDim) AS qv))")).as("sq"))
      .select((q.columns.filter(_ != "fv").map(col) :+
        col("sq.m").as("m") :+ col("sq.qv").as("qv")): _*)

  /** The m-ordered ADC sum: Σ_m d_m folded in ascending-m order — the
    * identical left-to-right association the old per-column
    * d0 + d1 + … reduce used (m is unique per group, so sort_array
    * fixes the fold order exactly). */
  private def adcSum: Column =
    round(aggregate(sort_array(collect_list(struct(col("m"), col("d")))),
      lit(0.0), (acc, x) => acc + x.getField("d")), 6)

  /** ADC top-k search over `mCount` PQ subspaces (see the ann_pq query doc
    * for the scale argument). The query→centroid distance table
    * (NumQueries × mCount × k rows, ALL subspaces) is broadcast once; the
    * long-form code frame joins it on (m, code, q_id) and the per-pair
    * ADC distance is the m-ordered fold [[adcSum]] — lookups, never
    * vector math, and one aggregation instead of mCount chained joins
    * (round-16 restructure; see [[pqAllOn]]). */
  private def annPq(s: SparkSession, dir: String, mCount: Int,
                    subDim: Int, k: Int): DataFrame = {
    val (codesL, cents) = pqAll(s, dir, mCount, subDim, k)
    val q = load(s, dir, "embeddings")
      .where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"),
        transform(col("embedding"), x => x.cast("double")).as("fv"))
    val qtab = qTableAll(qSlices(q, mCount, subDim), cents)
    val wRank = Window.partitionBy("q_id").orderBy(col("adist"), col("n_id"))
    codesL.join(broadcast(qtab), Seq("m", "code"))
      .where(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(adcSum.as("adist"))
      .select(col("q_id"), col("vec_id").as("n_id"), col("adist"))
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= TopK)
      .select("q_id", "rank", "n_id", "adist")
      .orderBy("q_id", "rank")
  }

  /** The shared k-means assignment chain (emb_kmeans, emb_semdedup):
    * deterministic seeds → cosine assignment → exact sorted-fold mean
    * update → re-assignment. Returns (vec_id, v, cluster, c). Per
    * iteration the k×d centroid state is broadcast (assignment is
    * map-side) and the update is one keyed aggregation — linear at any
    * corpus size. */
  /** The unrolled PCA power-iteration CTE chain shared by the
    * emb_pca_power and emb_abtt oracles — ends with `q` (quantized
    * values), `n`, `sq` (per-dim sums), `cov`, and `vfin` (the unit top
    * principal component) in scope. Mirrors [[pcaTop]] CTE-for-step. */
  private lazy val PcaChainSql: String = {
    val iters = (1 to PcaSquarings).map { t =>
      s"""m$t AS MATERIALIZED (
         |  SELECT a.di AS di, b.dj AS dj,
         |    list_sum(list(a.cij * b.cij ORDER BY a.cij * b.cij)) AS cij
         |  FROM cn${t - 1} a JOIN cn${t - 1} b ON a.dj = b.di
         |  GROUP BY 1, 2),
         |f$t AS (SELECT sqrt(list_sum(list(cij * cij ORDER BY cij * cij))) AS f
         |        FROM m$t),
         |cn$t AS MATERIALIZED (SELECT di, dj, cij / f AS cij FROM m$t, f$t)""".stripMargin
    }.mkString(",\n")
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
       |         unnest(embedding::DOUBLE[]) AS x
       |  FROM embeddings),
       |stats AS (SELECT d, min(x) AS mn, max(x) AS mx FROM e GROUP BY d),
       |q AS MATERIALIZED (
       |  SELECT vec_id, e.d,
       |    CAST(floor(CASE WHEN mx = mn THEN 0.0
       |               ELSE (x - mn) / (mx - mn) * 255.0 END + 0.5) AS BIGINT) AS q
       |  FROM e JOIN stats USING (d)),
       |n AS (SELECT CAST(count(DISTINCT vec_id) AS DOUBLE) AS n FROM q),
       |spp AS MATERIALIZED (
       |  SELECT a.d AS di, b.d AS dj, sum(a.q * b.q) AS s
       |  FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.d <= b.d
       |  GROUP BY 1, 2),
       |sq AS MATERIALIZED (SELECT d, sum(q) AS s FROM q GROUP BY d),
       |covu AS MATERIALIZED (
       |  SELECT di, dj,
       |    CAST(spp.s AS DOUBLE) / n.n
       |      - (CAST(si.s AS DOUBLE) / n.n) * (CAST(sj.s AS DOUBLE) / n.n) AS cij
       |  FROM spp, n
       |  JOIN sq si ON spp.di = si.d
       |  JOIN sq sj ON spp.dj = sj.d),
       |cov AS MATERIALIZED (
       |  SELECT di, dj, cij FROM covu
       |  UNION ALL
       |  SELECT dj AS di, di AS dj, cij FROM covu WHERE di <> dj),
       |f0 AS (SELECT sqrt(list_sum(list(cij * cij ORDER BY cij * cij))) AS f
       |       FROM cov),
       |cn0 AS MATERIALIZED (SELECT di, dj, cij / f AS cij FROM cov, f0),
       |$iters,
       |it0 AS (SELECT DISTINCT di AS d, 1.0 / sqrt($EmbD) AS val FROM cov),
       |p0 AS (
       |  SELECT c.di AS d,
       |    list_sum(list(c.cij * v.val ORDER BY c.cij * v.val)) AS pv
       |  FROM cn$PcaSquarings c JOIN it0 v ON c.dj = v.d GROUP BY c.di),
       |nm AS (SELECT sqrt(list_sum(list(pv * pv ORDER BY pv * pv))) AS nrm FROM p0),
       |vfin AS MATERIALIZED (SELECT d, pv / nrm AS val FROM p0, nm)""".stripMargin
  }

  /** Shared per-dimension min/max-quantized (0..255) vector frame —
    * the exact-integer base emb_pca_power and emb_abtt both reduce. */
  private def quantized(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val stats = e.select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("d").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val grid = stats.groupBy()
      .agg(sort_array(collect_list(struct(col("d"), col("mn"), col("mx")))).as("g"))
      .select(transform(col("g"), t => t.getField("mn")).as("mnA"),
        transform(col("g"), t => t.getField("mx")).as("mxA"))
    e.crossJoin(broadcast(grid))
      .select(col("vec_id"), expr(
        "transform(v, (x, i) -> CAST(floor(CASE WHEN mxA[i] = mnA[i] THEN 0.0 " +
          "ELSE (x - mnA[i]) / (mxA[i] - mnA[i]) * 255.0 END + 0.5) AS BIGINT))")
        .as("qa"))
  }

  /** Exact-Gramian top principal component of the quantized vectors —
    * the emb_pca_power computation, factored so emb_abtt consumes the
    * identical (n, Σq per dim, v, λ). One-pass exact Gramian: n,
    * per-dim sums, and the 2080 upper-triangle pair sums accumulate as
    * primitive longs per partition (GramianAgg) — no 2080-per-row pair
    * explode ever materializes (the explode formulation measured 5.6 s
    * at sf0.1; this is the MLlib per-partition-buffer design). Long
    * sums equal the oracle's HUGEINT sums exactly; every float
    * reduction folds in ascending value order (the house sorted-fold
    * convention); convergence via [[PcaSquarings]] matrix squarings,
    * Frobenius-normalized between squarings; sign pinned by the
    * all-positive start vector. Returns (n, raw per-dim sums, unit v,
    * Rayleigh λ) — all model-scale driver state. */
  private def pcaTop(s: SparkSession, dir: String)
      : (Double, Array[Double], Array[Double], Double) = {
    val dim = EmbD
    val g = quantized(s, dir)
      .agg(graft.plans.GramianAgg.gramian(col("qa"), dim).as("g"))
      .collect()(0).getSeq[Long](0)
    val nD = g(0).toDouble
    val sq = Array.tabulate(dim)(d => g(1 + d).toDouble)
    val sppFlat = g.drop(1 + dim)
    def triIdx(i: Int, j: Int): Int = i * dim - i * (i - 1) / 2 + (j - i)
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      val s = (if (i <= j) sppFlat(triIdx(i, j)) else sppFlat(triIdx(j, i))).toDouble
      s / nD - (sq(i) / nD) * (sq(j) / nD)
    }
    def sortedSum(xs: Seq[Double]): Double = xs.sorted.foldLeft(0.0)(_ + _)
    def mulV(m: Array[Array[Double]], v: Array[Double]): Array[Double] =
      Array.tabulate(dim)(d => sortedSum((0 until dim).map(j => m(d)(j) * v(j))))
    def frobNorm(m: Array[Array[Double]]): Double =
      math.sqrt(sortedSum(
        (for (i <- 0 until dim; j <- 0 until dim) yield m(i)(j) * m(i)(j))))
    def normed(m: Array[Array[Double]]): Array[Array[Double]] = {
      val f = frobNorm(m)
      m.map(_.map(_ / f))
    }
    var c = normed(cov)
    for (_ <- 1 to PcaSquarings) {
      val sq2 = Array.tabulate(dim, dim) { (i, j) =>
        sortedSum((0 until dim).map(k => c(i)(k) * c(k)(j)))
      }
      c = normed(sq2)
    }
    val p0 = mulV(c, Array.fill(dim)(1.0 / math.sqrt(dim.toDouble)))
    val nrm = math.sqrt(sortedSum(p0.map(x => x * x).toSeq))
    val v = p0.map(_ / nrm)
    val pf = mulV(cov, v)
    val lam = sortedSum((0 until dim).map(d => v(d) * pf(d)))
    (nD, sq, v, lam)
  }

  private def kmeansAssigned(s: SparkSession, dir: String): DataFrame = {
    val e = Dense.normed(s, dir, transform(col("embedding"), x => x.cast("double")))
    val seeds = e.where(col("vec_id") < KmK)
      .select(col("vec_id").cast("int").as("cluster"), col("v").as("cv"),
        col("nrm").as("cnrm"))

    val wBest = Window.partitionBy("vec_id").orderBy(col("c").desc, col("cluster"))
    def assign(cents: DataFrame): DataFrame =
      e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("v"), col("cluster"),
          Dense.cos("v", "nrm", "cv", "cnrm").as("c"))
        .withColumn("rn", row_number().over(wBest))
        .where(col("rn") === 1)
        .select("vec_id", "v", "cluster", "c")

    def update(asg: DataFrame): DataFrame =
      asg.select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cluster", "dim")
        .agg(aggregate(array_sort(collect_list(col("x"))), lit(0.0),
          (acc, v) => acc + v).as("sx"), count(lit(1)).as("n"))
        .groupBy("cluster")
        .agg(sort_array(collect_list(struct(col("dim"), (col("sx") / col("n")).as("m"))))
          .as("dm"))
        .select(col("cluster"), transform(col("dm"), s => s.getField("m")).as("cv"))
        .withColumn("cnrm", Dense.norm(col("cv")))

    assign(update(assign(seeds)))
  }

  /** The anchor/query subset shared by emb_knn_label and
    * emb_triplet_mine: the first KnnNq vectors with their norms. */
  private def anchors(s: SparkSession, dir: String): DataFrame =
    Dense.normed(s, dir, col("embedding"), col("label"))
      .where(col("vec_id") < KnnNq)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("label").as("q_label"))

  /** The IVF coarse quantizer's seeds: the first [[Cells]] vectors of a
    * [[Dense.normed]] frame `e`, as `(cell, cv, cnrm)`. */
  private def ivfSeeds(e: DataFrame): DataFrame =
    e.where(col("vec_id") < Cells)
      .select(col("vec_id").as("cell"), col("v").as("cv"), col("nrm").as("cnrm"))

  /** Every row of `df` against every broadcast seed: the columns `cols`
    * (the first is the row key), `c` the rounded cosine of vector `v`
    * (norm `nrm`) to the seed, and `rn` the seed's rank for that key by
    * (c desc, cell). `rn = 1` is a vector's cell assignment (each vector
    * lands in exactly one cell), `rn <= NProbe` a query's probe list. */
  private def seedRank(df: DataFrame, seeds: DataFrame, v: String, nrm: String,
      cols: String*): DataFrame =
    df.crossJoin(broadcast(seeds))
      .select(cols.map(col) :+ Dense.cos(v, nrm, "cv", "cnrm").as("c"): _*)
      .withColumn("rn", row_number().over(
        Window.partitionBy(cols.head).orderBy(col("c").desc, col("cell"))))

  /** Cell-probed labeled candidates shared by emb_knn_label (vote layer)
    * and emb_triplet_mine (hard pos/neg layer): every vector assigns to
    * its best of Cells broadcast seed cells, each anchor probes its
    * NProbe best cells, and candidates are the cell co-residents with
    * the max round(6) cosine per (anchor, candidate). Broadcast seeds +
    * cell-keyed joins — never all-pairs; per-anchor windows partition on
    * the anchor key. Columns: (q_id, q_label, n_id, label, score). */
  private def knnCandidates(s: SparkSession, dir: String): DataFrame = {
    val e = Dense.normed(s, dir, col("embedding"), col("label"))
    val seeds = ivfSeeds(e)
    val assigned = seedRank(e, seeds, "v", "nrm", "vec_id", "v", "nrm", "label", "cell")
      .where(col("rn") === 1)
      .select("vec_id", "v", "nrm", "label", "cell")
    val probes = seedRank(anchors(s, dir), seeds, "qv", "qnrm",
        "q_id", "qv", "qnrm", "q_label", "cell")
      .where(col("rn") <= NProbe)
      .select("q_id", "qv", "qnrm", "q_label", "cell")
    probes.join(assigned, "cell")
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_label"), col("vec_id").as("n_id"),
        col("label"), Dense.cos("qv", "qnrm", "v", "nrm").as("score"))
      .groupBy("q_id", "q_label", "n_id", "label")
      .agg(max(col("score")).as("score"))
  }

  val queries: Map[String, Q] = Map(
    // Exact per-label centroid, long form (label, dim, mean). Double sums
    // are made order-independent by folding the group's values in sorted
    // order (decimal quantization of floats is NOT portable: Spark converts
    // via exact BigDecimal, DuckDB via scaled-double arithmetic, and they
    // disagree in the last ulp). Sorted-fold is reproducible everywhere.
    "emb_centroid" -> ((s, dir) =>
      load(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("label"), (col("dim") + 1).as("dim"))
        .agg(
          aggregate(array_sort(collect_list(col("x").cast("double"))),
            lit(0.0), (acc, v) => acc + v).as("sx"),
          count(lit(1)).as("n"))
        .select(col("label"), col("dim"), (col("sx") / col("n")).as("mean"))
        .orderBy("label", "dim")),

    // Distributed k-means over embeddings (the SemDeDup/cluster-curation
    // primitive): deterministic seeds → cosine assignment → exact mean
    // update → re-assignment. Per iteration the cluster state is k×d
    // doubles broadcast to every task (assignment is map-side against the
    // broadcast centroids — no shuffle) and the update is ONE keyed
    // aggregation — the canonical scale shape, linear per iteration at any
    // corpus size. Iterations are unrolled (2 here) so the whole refinement
    // is a single declarative plan; centroid means use the same sorted-fold
    // trick as emb_centroid so both engines compute bit-identical centroids.
    "emb_kmeans" -> ((s, dir) =>
      kmeansAssigned(s, dir)
        .select(col("vec_id"), col("cluster"), col("c").as("score"))
        .orderBy("vec_id")),

    // SemDeDup (semantic dedup over embedding clusters): k-means partitions
    // the space, then ONLY within-cluster pairs are cosine-verified — the
    // pair space is Σ cluster², never n². The assignment chain is
    // localCheckpoint-ed before the self-join because Spark does not reuse
    // exchanges across self-join sides (the dd_minhash_lsh lesson): the
    // k-means plan executes once and both pair sides read the checkpoint.
    // A production run raises k with corpus size so clusters stay bounded;
    // the dataflow (cluster shuffle + within-cluster pairs) is identical.
    "emb_semdedup" -> ((s, dir) => {
      val a = kmeansAssigned(s, dir)
        .select(col("vec_id"), col("v"), col("cluster"))
        .withColumn("nrm", Dense.norm(col("v")))
        .localCheckpoint(true)
      a.select(col("cluster"), col("vec_id").as("vec_a"), col("v").as("va"),
          col("nrm").as("na"))
        .join(a.select(col("cluster"), col("vec_id").as("vec_b"), col("v").as("vb"),
          col("nrm").as("nb")), "cluster")
        .where(col("vec_a") < col("vec_b"))
        .select(col("cluster"), col("vec_a"), col("vec_b"),
          Dense.cos("va", "na", "vb", "nb").as("score"))
        .where(col("score") >= SemTau)
        .orderBy("cluster", "vec_a", "vec_b")
    }),

    // Product quantization encode (Jégou et al. 2011) — the other standard
    // ANN compression: split each vector into PqM subspaces, k-means a
    // per-subspace codebook, store one byte-sized code per subspace
    // (64 doubles → 2 codes here). See [[pqAllOn]] for the chain; the
    // wide (code0, code1, …) layout is one conditional-min pivot over the
    // long code frame instead of the old per-m join chain.
    "emb_pq" -> ((s, dir) => {
      val codesL = pqAll(s, dir, PqM, PqSubDim, KmK)._1
      val wide = (0 until PqM).map(m =>
        min(when(col("m") === m, col("code"))).as(s"code$m"))
      codesL.groupBy("vec_id").agg(wide.head, wide.tail: _*)
        .orderBy("vec_id")
    }),

    // ADC search over the PQ codes (the asymmetric-distance half of PQ):
    // per query, the distance to EVERY centroid of every subspace is a tiny
    // table (NumQueries × PqM × KmK rows) broadcast to the code frame; each
    // database vector's approximate distance is then PqM table lookups and
    // adds — a linear scan over byte codes with zero vector math per
    // candidate, which is exactly why PQ search survives 100 TB: the code
    // frame is ~1/256 the raw data and the per-row work is O(PqM).
    "ann_pq" -> ((s, dir) => annPq(s, dir, PqM, PqSubDim, KmK)),

    // Same ADC chain at a production-shaped configuration (8 subspaces ×
    // 32-centroid codebooks — 40-bit codes). Exists so the recall study
    // (AnnRecallSpec) measures a representative operating point, not just
    // ann_pq's deliberately tiny 6-bit code.
    "ann_pq_big" -> ((s, dir) => annPq(s, dir, PqBigM, PqBigSubDim, PqBigK)),

    // Scalar int8 quantization — the standard 4× memory cut that makes a
    // 100 TB embedding store ANN-searchable in RAM. Per-dimension global
    // min/max (one keyed agg over the posexplode; 64 rows out) is broadcast
    // back and each value maps to round((x-mn)/(mx-mn)*255) — an
    // embarrassingly parallel transform. floor(r + 0.5) is written
    // explicitly on both sides because Spark round() (HALF_UP) and DuckDB
    // round() (half-away-from-zero via different paths) are not the same
    // function. Dimensions collapse back to a comma-joined string ordered by
    // position (the arr_collect house pattern — the driver's pandas
    // comparator cannot hash raw array cells; the string encodes the full
    // ordered vector, so no semantic loss).
    "emb_quantize" -> ((s, dir) => {
      val e = load(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "xf")))
        .select(col("vec_id"), col("d"), col("xf").cast("double").as("x"))
      val stats = e.groupBy("d").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      e.join(broadcast(stats), "d")
        .select(col("vec_id"), col("d"),
          floor(when(col("mx") === col("mn"), lit(0.0))
            .otherwise((col("x") - col("mn")) / (col("mx") - col("mn")) * lit(255.0))
            + lit(0.5)).cast("int").as("q"))
        .groupBy("vec_id")
        .agg(array_join(transform(array_sort(collect_list(struct(col("d"), col("q")))),
          x => x.getField("q").cast("string")), ",").as("qvec"))
        .orderBy("vec_id")
    }),

    // IVF ANN: assign all vectors to nearest seed cell (cosine), then for
    // each query probe the NProbe nearest cells and take cosine top-k among
    // their members.
    "ann_ivf" -> ((s, dir) => {
      val e = Dense.normed(s, dir, col("embedding"))
      val seeds = ivfSeeds(e)

      // cell assignment: best cosine to any seed (map-side vs broadcast seeds)
      val assigned = seedRank(e, seeds, "v", "nrm", "vec_id", "v", "nrm", "cell")
        .where(col("rn") === 1)
        .select("vec_id", "v", "nrm", "cell")

      // probe list: NProbe best cells per query
      val q = e.where(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
      val probes = seedRank(q, seeds, "qv", "qnrm", "q_id", "qv", "qnrm", "cell")
        .where(col("rn") <= NProbe)
        .select("q_id", "qv", "qnrm", "cell")

      // search only within probed cells
      val wRank = Window.partitionBy("q_id").orderBy(col("score").desc, col("n_id"))
      probes.join(assigned, "cell")
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          Dense.cos("qv", "qnrm", "v", "nrm").as("score"))
        .groupBy("q_id", "n_id").agg(max(col("score")).as("score")) // dedup multi-probe hits
        .withColumn("rank", row_number().over(wRank))
        .where(col("rank") <= TopK)
        .select("q_id", "rank", "n_id", "score")
        .orderBy("q_id", "rank")
    }),

    // IVF-PQ: the production big-ANN layout (the FAISS IndexIVFPQ shape) —
    // the IVF coarse quantizer restricts the search to NProbe probed cells,
    // and WITHIN the candidates the distance is PQ ADC table lookups over
    // 2-code rows, never raw-vector math. Composition of the ann_ivf cell
    // chain (candidate generation) and the ann_pq codebook/ADC chain
    // (scoring); codes here are raw-vector PQ (see ann_ivfpq_res below for
    // the residual-encoding variant). At 100 TB: codebooks
    // and per-query distance tables broadcast, candidates bounded by
    // probed-cell occupancy, the scan reads 1/13-size codes — both scale
    // levers (cell count, code size) compose multiplicatively.
    "ann_ivfpq" -> ((s, dir) => rankCut(s, ivfPqScored(s, dir))),

    // IVF recall audit — the deployment-sizing readout for the coarse
    // quantizer (is NProbe/Cells enough?): per query, |IVF top-k ∩ exact
    // top-k| / k against the brute-force ground truth. The IVF leg is
    // the ann_ivf chain verbatim; the truth leg is one broadcast-query
    // scan + per-group top-k; the overlap is an integer count. The
    // battery twin of AnnRecallSpec's fidelity study, oracle-checked.
    "emb_recall" -> ((s, dir) => {
      val ivf = queries("ann_ivf")(s, dir).select(col("q_id"), col("n_id"))
      val e = Dense.normed(s, dir, col("embedding"))
      val q = e.where(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qnrm"))
      val wT = Window.partitionBy("q_id").orderBy(col("score").desc, col("n_id"))
      val truth = e.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          Dense.cos("qv", "qnrm", "v", "nrm").as("score"))
        .withColumn("rank", row_number().over(wT))
        .where(col("rank") <= TopK)
        .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
      ivf.join(broadcast(truth), Seq("q_id", "n_id"), "left")
        .na.fill(0L, Seq("hit"))
        .groupBy("q_id")
        .agg(sum("hit").as("n_hits"))
        .select(col("q_id"), col("n_hits"),
          round(col("n_hits").cast("double") / TopK, 6).as("recall"))
        .orderBy("q_id")
    }),

    // Residual-encoding IVF-PQ (the FAISS IndexIVFPQ default): PQ codes
    // the RESIDUAL x − μ(cell(x)) instead of the raw vector. The
    // reference point must be the cell MEAN, not the seed vector: the
    // variance decomposition E‖x−μ_cell‖² = E‖x‖² − E‖μ_cell‖² guarantees
    // the residual frame carries strictly less variance than the raw
    // frame only for the mean (measured here: residual-vs-seed INFLATES
    // ADC error ~2.6× on this corpus, residual-vs-mean shrinks it —
    // AnnRecallSpec pins the improvement). Cells themselves are identical
    // to ann_ivfpq (same cosine assignment to the same seeds), so the two
    // variants differ only in what the codebooks quantize. The price: the
    // query's ADC table becomes per-(query, probed cell) — the query
    // residual q − μ(cell) differs per probe — which multiplies the
    // broadcast table by NProbe, still queries × probes × codebook rows,
    // nowhere near data scale. The cell-mean update is one keyed
    // aggregation (exact sorted-fold per dimension, the pqSub update
    // shape) whose Cells × d output broadcasts. Candidate generation and
    // all join shapes are identical to ann_ivfpq: broadcast
    // codebooks/tables, code-frame lookups keyed on (cell, code, q_id),
    // never raw-vector math per candidate.
    "ann_ivfpq_res" -> ((s, dir) => rankCut(s, ivfPqResScored(s, dir))),

    // Top principal component by power iteration — the PCA/whitening
    // primitive, in the Spark MLlib RowMatrix design: the DATA-scale work
    // is one pass building the d×d Gramian (map-side pair explode with
    // partial aggregation — the standard distributed covariance); the
    // d×d matrix itself is MODEL-scale (64² doubles) and is collected for
    // the eigen-iteration exactly as MLlib's computePrincipalComponents
    // collects its Gramian. Cross-engine exactness: PCA runs on the
    // emb_quantize int grid (products and sums are integers → DECIMAL,
    // exact on any partitioning), covariance entries derive from those
    // exact sums through one shared double expression, and every
    // float-sum inside the iteration (matrix products, norms, the
    // Rayleigh quotient) folds in ascending value order — the house
    // sorted-fold convention, mirrored by list_sum(list(x ORDER BY x)) in
    // the unrolled oracle CTEs. Convergence comes from repeated MATRIX
    // SQUARING (v = normalize(C^(2^M)·v0), Frobenius-normalized between
    // squarings so doubles never overflow): M=8 is an effective 256-step
    // power iteration at 8 × d³ cost — necessary because this corpus's
    // eigengap is ~0.97. Fixed M keeps the two engines computing
    // literally the same thing; sign is pinned by the all-positive start
    // vector (even matrix powers preserve the v0·e1 sign).
    "emb_pca_power" -> ((s, dir) => {
      import s.implicits._
      val (_, _, v, lam) = pcaTop(s, dir)
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (0 until EmbD).map(d => (d, r6(v(d)), r6(lam)))
        .toDF("d", "loading", "eigval").orderBy("d")
    }),

    // All-but-the-top embedding postprocessing (Mu & Viswanath 2018):
    // subtract the mean, remove the projection onto the top principal
    // component — the two-line fix that measurably improves similarity
    // tasks on anisotropic embedding spaces, and the natural consumer of
    // the emb_pca_power machinery (the SAME quantized grid, Gramian,
    // and squared-power iteration produce μ and v — factored into
    // [[pcaTop]], so the two queries literally share the arithmetic).
    // Per vector the projection p = Σ_d (q_d − μ_d)·v_d and the centered
    // norm fold in ascending value order (the house sorted-fold
    // convention, list(x ORDER BY x) in the oracle); the residual norm
    // uses the unit-v identity ‖x_c − p·v‖² = ‖x_c‖² − p², clamped at 0
    // on both engines. μ and v ride into the plan as LITERAL arrays —
    // model-scale driver state, map-side application, no shuffle at all
    // beyond the Gramian's own aggregation.
    "emb_abtt" -> ((s, dir) => {
      val (nD, mu, v, _) = pcaTop(s, dir)
      val muL = array(mu.map(x => lit(x / nD)): _*)
      val vL = array(v.map(lit): _*)
      val qa = quantized(s, dir)
      val prods = transform(col("qa"), (x, i) =>
        (x.cast("double") - element_at(muL, i + 1)) * element_at(vL, i + 1))
      val c2 = transform(col("qa"), (x, i) => {
        val xc = x.cast("double") - element_at(muL, i + 1)
        xc * xc
      })
      qa.select(col("vec_id"),
          aggregate(sort_array(prods), lit(0.0), (a, x) => a + x).as("proj"),
          aggregate(sort_array(c2), lit(0.0), (a, x) => a + x).as("n0"))
        .select(col("vec_id"), round(col("proj"), 6).as("proj_pc1"),
          round(sqrt(col("n0")), 6).as("nrm_centered"),
          round(sqrt(greatest(lit(0.0), col("n0") - col("proj") * col("proj"))), 6)
            .as("nrm_abtt"))
        .orderBy("vec_id")
    }),

    // Prototypicality outliers: the EmbOutK vectors LEAST similar to
    // their own k-means centroid — the inverse of SemDeDup's
    // prototype-keeping: these are the mislabeled / out-of-distribution /
    // frontier examples a curation pass inspects first (Sorscher et al.
    // 2022 prune by exactly this margin). Pure composition of the shared
    // kmeansAssigned chain + a TakeOrdered cut — no new shuffle beyond
    // the k-means iterations themselves.
    "emb_outliers" -> ((s, dir) =>
      kmeansAssigned(s, dir)
        .select(col("vec_id"), col("cluster"), col("c").as("score"))
        .orderBy(col("score"), col("vec_id"))
        .limit(EmbOutK)),

    // kNN majority-vote labeling through the IVF index — the weak-
    // labeling / label-propagation primitive (predict a vector's class
    // from its K nearest labeled neighbors): the ann_ivf candidate chain
    // (coarse cells, NProbe probe lists, within-cell cosine) feeds a
    // 5-neighbor majority vote with (votes desc, label asc) tie-break.
    // Same scale levers as ann_ivf — Cells grows with the corpus so cell
    // occupancy stays bounded; everything is broadcast seeds + cell-keyed
    // joins; votes are integer counts, so prediction is engine-exact.
    // The cell-probed candidate build is the shared [[knnCandidates]]
    // (emb_triplet_mine mines the same frame).
    "emb_knn_label" -> ((s, dir) => {
      val wRank = Window.partitionBy("q_id").orderBy(col("score").desc, col("n_id"))
      val wVote = Window.partitionBy("q_id")
        .orderBy(col("votes").desc, col("label"))
      knnCandidates(s, dir)
        .withColumn("rank", row_number().over(wRank))
        .where(col("rank") <= KnnK)
        .groupBy("q_id", "q_label", "label")
        .agg(count(lit(1)).as("votes"))
        .withColumn("brn", row_number().over(wVote))
        .where(col("brn") === 1)
        .select(col("q_id").as("vec_id"), col("q_label").as("actual"),
          col("label").as("predicted"), col("votes"))
        .orderBy("vec_id")
    }),

    // Hard-triplet mining for contrastive training (the FaceNet
    // semi-hard protocol, Schroff et al. 2015) — for every anchor, the
    // HARDEST POSITIVE (same label, lowest cosine: the pair the encoder
    // most confuses apart) and the HARDEST NEGATIVE (different label,
    // highest cosine: the impostor it most confuses together) from the
    // SAME cell-probed candidate set as emb_knn_label (shared
    // knnCandidates helper — broadcast seeds, cell-keyed joins, never
    // all-pairs). Emits the triplet with its margin = pos − neg and a
    // `violating` flag (negative at least as close as the positive —
    // the examples a triplet-loss epoch actually trains on). Anchors
    // whose probed cells hold no same-label (or no other-label)
    // candidate keep NULLs via the left joins. Cosines are round(6)
    // BEFORE the argmin/argmax windows (the ann parity discipline) with
    // n_id tie-breaks, so mining is engine-exact. Scale: the
    // emb_knn_label shape exactly — per-anchor windows partition on the
    // anchor key; Cells grows with the corpus to bound cell occupancy.
    "emb_triplet_mine" -> ((s, dir) => {
      val cand = knnCandidates(s, dir)
        .localCheckpoint() // pos + neg mine the same candidate frame
      val wPos = Window.partitionBy("q_id").orderBy(col("score"), col("n_id"))
      val wNeg = Window.partitionBy("q_id")
        .orderBy(col("score").desc, col("n_id"))
      val pos = cand.where(col("label") === col("q_label"))
        .withColumn("rn", row_number().over(wPos)).where(col("rn") === 1)
        .select(col("q_id").as("vec_id"), col("n_id").as("pos_id"),
          col("score").as("pos_cos"))
      val neg = cand.where(col("label") =!= col("q_label"))
        .withColumn("rn", row_number().over(wNeg)).where(col("rn") === 1)
        .select(col("q_id").as("vec_id"), col("n_id").as("neg_id"),
          col("score").as("neg_cos"))
      anchors(s, dir)
        .select(col("q_id").as("vec_id"), col("q_label").as("label"))
        .join(pos, Seq("vec_id"), "left")
        .join(neg, Seq("vec_id"), "left")
        .select(col("vec_id"), col("label"), col("pos_id"), col("pos_cos"),
          col("neg_id"), col("neg_cos"),
          round(col("pos_cos") - col("neg_cos"), 6).as("margin"),
          when(col("pos_cos").isNotNull && col("neg_cos").isNotNull,
            col("neg_cos") >= col("pos_cos")).as("violating"))
        .orderBy("vec_id")
    }),

    // Greedy k-center / farthest-first traversal (Gonzalez 1985) — the
    // deterministic coreset-selection primitive (diverse-example picking,
    // k-means++-style seeding without RNG, outlier surfacing): seed with
    // the lowest vec_id, then KcRounds−1 times pick the point farthest
    // from its nearest chosen center (squared L2; ties → lowest vec_id).
    // Output: the chosen centers with their selection distance — each one
    // a 2-approximation radius certificate for its round.
    //
    // Scale shape: each round is ONE map-side pass (the current center is
    // a broadcast 1-row frame; `mind` updates with a `least`) + a
    // TakeOrdered(1) — no shuffle exchange at all; rounds are unrolled
    // behind per-round localCheckpoints (the gr_shortest_path discipline)
    // so the corpus is scanned exactly KcRounds times, never re-derived.
    // Distances are the sequential-fold form AND rounded to 6 places
    // before every argmax/least (the ann_mmr discipline): the greedy
    // trajectory must not hinge on a summation-order tie between Spark's
    // aggregate() fold and DuckDB's list_sum — at 6 dp the two engines
    // compare identical doubles by construction.
    "emb_kcenter" -> ((s, dir) => {
      val e = load(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      def d2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, t) => acc + t)
      val seed = e.orderBy("vec_id").limit(1)
        .select(col("vec_id").as("c_id"), col("v").as("cv"))
      var m = e.crossJoin(broadcast(seed))
        .select(col("vec_id"), col("v"),
          round(d2(col("v"), col("cv")), 6).as("mind"))
        .localCheckpoint()
      var picks = seed.select(lit(1L).as("step"), col("c_id").as("vec_id"),
        lit(0.0).as("dist"))
      for (k <- 2 to KcRounds) {
        val c = m.orderBy(col("mind").desc, col("vec_id")).limit(1)
          .select(col("vec_id").as("c_id"), col("v").as("cv"), col("mind").as("cd"))
          .localCheckpoint()
        picks = picks.unionAll(c.select(lit(k.toLong).as("step"),
          col("c_id").as("vec_id"), round(col("cd"), 6).as("dist")))
        if (k < KcRounds)
          m = m.crossJoin(broadcast(c.drop("cd")))
            .select(col("vec_id"), col("v"),
              least(col("mind"), round(d2(col("v"), col("cv")), 6)).as("mind"))
            .localCheckpoint()
      }
      picks.orderBy("step")
    }))

  /** Top-k cut + deterministic presentation shared by the IVF-PQ variants. */
  private def rankCut(s: SparkSession, scored: DataFrame): DataFrame = {
    val wRank = Window.partitionBy("q_id").orderBy(col("adist"), col("n_id"))
    scored
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= TopK)
      .select("q_id", "rank", "n_id", "adist")
      .orderBy("q_id", "rank")
  }

  /** Plain IVF-PQ candidates with ADC distances, PRE top-k cut —
    * `(q_id, n_id, adist)` for every probed-cell candidate. Exposed
    * package-private because AnnRecallSpec's fidelity study needs the full
    * candidate set (the 15 returned rows are too small a sample to measure
    * how well adist tracks the true distance). */
  private[graft] def ivfPqScored(s: SparkSession, dir: String): DataFrame = {
    val e = Dense.normed(s, dir, col("embedding"))
    val seeds = ivfSeeds(e)
    // IVF leg (same shapes as ann_ivf): each vector lands in exactly one
    // cell, so the probe⋈assigned join emits each (q_id, vec_id) once.
    val assigned = seedRank(e, seeds, "v", "nrm", "vec_id", "cell")
      .where(col("rn") === 1)
      .select("vec_id", "cell")
    val q = e.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val probes = seedRank(q, seeds, "qv", "qnrm", "q_id", "cell")
      .where(col("rn") <= NProbe)
      .select("q_id", "cell")
    val cands = probes.join(assigned, "cell")
      .where(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id")
    // PQ ADC leg (same chain as ann_pq), restricted to the candidates —
    // round-16 long form: one (m, code, q_id) broadcast-join against the
    // all-subspace distance table + the m-ordered adcSum fold (see
    // [[pqAllOn]]), instead of PqM chained per-m joins.
    val (codesL, cents) = pqAll(s, dir, PqM, PqSubDim, KmK)
    val qf = load(s, dir, "embeddings")
      .where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"),
        transform(col("embedding"), x => x.cast("double")).as("fv"))
    val qtab = qTableAll(qSlices(qf, PqM, PqSubDim), cents)
    cands.join(codesL, "vec_id")
      .join(broadcast(qtab), Seq("m", "code", "q_id"))
      .groupBy("q_id", "vec_id")
      .agg(adcSum.as("adist"))
      .select(col("q_id"), col("vec_id").as("n_id"), col("adist"))
  }

  /** Residual IVF-PQ candidates with ADC distances, PRE top-k cut — see
    * the ann_ivfpq_res query doc for the design. */
  private[graft] def ivfPqResScored(s: SparkSession, dir: String): DataFrame = {
    val e = Dense.normed(s, dir, transform(col("embedding"), x => x.cast("double")))
    val seeds = ivfSeeds(e)
    // IVF leg: same cells as ann_ivfpq, keeping the vector for the
    // mean update + residual.
      val assignedV = seedRank(e, seeds, "v", "nrm", "vec_id", "v", "cell")
        .where(col("rn") === 1)
        .select("vec_id", "v", "cell")
      // Trained coarse centroid: exact per-dimension cell mean
      // (sorted-fold sum — bit-identical on any partitioning and in the
      // DuckDB oracle, the pqSub update shape).
      val cellMean = assignedV
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cell", "dim")
        .agg(aggregate(array_sort(collect_list(col("x"))), lit(0.0),
          (acc, x) => acc + x).as("sx"), count(lit(1)).as("n"))
        .groupBy("cell")
        .agg(sort_array(collect_list(struct(col("dim"), (col("sx") / col("n")).as("m"))))
          .as("dm"))
        .select(col("cell"), transform(col("dm"), t => t.getField("m")).as("mu"))
      val assigned = assignedV.join(broadcast(cellMean), "cell")
        .select(col("vec_id"), col("cell"),
          zip_with(col("v"), col("mu"), (a, b) => a - b).as("rv"))
      // PQ codebooks trained on the residual frame (round-16 long form —
      // one keyed pass over all subspaces, see [[pqAllOn]]; the old
      // per-m chains re-derived the residual lineage 3 passes × PqM
      // subspaces, now 3 passes total).
      val (codesL, cents) = pqAllOn(s,
        assigned.select(col("vec_id"), col("rv").as("fv")), PqM, PqSubDim, KmK)
      // Probe list with the per-cell QUERY residual.
      val q = e.where(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
      val probes = seedRank(q, seeds, "qv", "qnrm", "q_id", "cell", "qv")
        .where(col("rn") <= NProbe)
        .join(broadcast(cellMean), "cell")
        .select(col("q_id"), col("cell"),
          zip_with(col("qv"), col("mu"), (a, b) => a - b).as("qr"))
      // Per-(query, cell) ADC table against the residual codebooks —
      // all subspaces in one broadcast frame; `cell` rides through
      // qSlices/qTableAll as an extra key.
      val qtab = qTableAll(
        qSlices(probes.select(col("q_id"), col("cell"), col("qr").as("fv")),
          PqM, PqSubDim), cents)
      val cands = probes.select("q_id", "cell")
        .join(assigned.select("vec_id", "cell"), "cell")
        .where(col("vec_id") =!= col("q_id"))
      cands.join(codesL, "vec_id")
        .join(broadcast(qtab), Seq("m", "code", "q_id", "cell"))
        .groupBy("q_id", "vec_id")
        .agg(adcSum.as("adist"))
        .select(col("q_id"), col("vec_id").as("n_id"), col("adist"))
  }

  /** Shared oracle CTE for the k-means assignment (mirrors
    * [[kmeansAssigned]] exactly — seeds, assign, sorted-fold update,
    * re-assign — ending at `a2r` with the rn=1 filter still to apply). */
  private lazy val kmeansCteSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |s0 AS (SELECT CAST(vec_id AS INT) AS cluster, v AS cv FROM e WHERE vec_id < $KmK),
       |a1r AS (
       |  SELECT e.vec_id, e.v, cluster,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY round(list_cosine_similarity(e.v, cv), 6) DESC, cluster) AS rn
       |  FROM e, s0),
       |a1 AS (SELECT vec_id, v, cluster FROM a1r WHERE rn = 1),
       |u AS (
       |  SELECT cluster, dim, list_sum(list(x ORDER BY x)) / count(*) AS m
       |  FROM (SELECT cluster, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM a1)
       |  GROUP BY cluster, dim),
       |c1 AS (SELECT cluster, list(m ORDER BY dim) AS cv FROM u GROUP BY cluster),
       |a2r AS (
       |  SELECT e.vec_id, cluster,
       |    round(list_cosine_similarity(e.v, cv), 6) AS c,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY round(list_cosine_similarity(e.v, cv), 6) DESC, cluster) AS rn
       |  FROM e, c1)""".stripMargin

  /** Oracle CTE block for PQ subspace m (mirrors [[pqSub]]): slices, seeds,
    * assign, sorted-fold update, re-assign — ends at `code$m(vec_id,
    * code$m)` with centroids available as `c$m(cluster, cv)`.
    *
    * CTEs are MATERIALIZED: DuckDB 1.0 inlines CTEs at every reference, and
    * with s/c referenced 2-3× at ~6 levels of nesting the inlined plan grows
    * exponentially in the subspace count — the 8-subspace ann_pq_big oracle
    * never finished planning without this. Semantics are unchanged. */
  private def pqSubSql(m: Int, subDim: Int = PqSubDim, k: Int = KmK,
                       src: String = "e"): String = {
    val lo = m * subDim + 1
    val hi = (m + 1) * subDim
    s"""s$m AS MATERIALIZED (SELECT vec_id, list_slice(fv, $lo, $hi) AS v FROM $src),
       |seeds$m AS MATERIALIZED (SELECT CAST(vec_id AS INT) AS cluster, v AS cv
       |            FROM s$m WHERE vec_id < $k),
       |a$m AS MATERIALIZED (
       |  SELECT s$m.vec_id, cluster, s$m.v,
       |    row_number() OVER (PARTITION BY s$m.vec_id ORDER BY
       |      round(list_inner_product(s$m.v, s$m.v) + list_inner_product(cv, cv)
       |            - 2.0 * list_inner_product(s$m.v, cv), 6), cluster) AS rn
       |  FROM s$m, seeds$m),
       |asg$m AS MATERIALIZED (SELECT vec_id, v, cluster FROM a$m WHERE rn = 1),
       |u$m AS MATERIALIZED (
       |  SELECT cluster, dim, list_sum(list(x ORDER BY x)) / count(*) AS mu
       |  FROM (SELECT cluster, generate_subscripts(v, 1) AS dim, unnest(v) AS x
       |        FROM asg$m)
       |  GROUP BY cluster, dim),
       |c$m AS MATERIALIZED (SELECT cluster, list(mu ORDER BY dim) AS cv FROM u$m GROUP BY cluster),
       |f$m AS MATERIALIZED (
       |  SELECT s$m.vec_id, cluster,
       |    row_number() OVER (PARTITION BY s$m.vec_id ORDER BY
       |      round(list_inner_product(s$m.v, s$m.v) + list_inner_product(cv, cv)
       |            - 2.0 * list_inner_product(s$m.v, cv), 6), cluster) AS rn
       |  FROM s$m, c$m),
       |code$m AS MATERIALIZED (SELECT vec_id, cluster AS code$m FROM f$m WHERE rn = 1)""".stripMargin
  }

  /** Oracle for [[annPq]] at any (subspace count, width, codebook size):
    * the per-subspace CTE blocks, the code frame, one query→centroid
    * distance table per subspace, then the ADC join + top-k window. */
  private def annPqSql(mCount: Int, subDim: Int, k: Int): String = {
    def qt(m: Int): String = {
      val lo = m * subDim + 1
      val hi = (m + 1) * subDim
      s"""q$m AS MATERIALIZED (SELECT vec_id AS q_id, list_slice(fv, $lo, $hi) AS qv
         |        FROM e WHERE vec_id < $NumQueries),
         |t$m AS MATERIALIZED (
         |  SELECT q_id, cluster AS code$m,
         |    round(list_inner_product(qv, qv) + list_inner_product(cv, cv)
         |          - 2.0 * list_inner_product(qv, cv), 6) AS d$m
         |  FROM q$m, c$m)""".stripMargin
    }
    val ms = 0 until mCount
    val codeCols = ms.map(m => s"code$m").mkString(", ")
    val codesFrom = "code0" + ms.tail.map(m => s" JOIN code$m USING (vec_id)").mkString
    val distSum = ms.map(m => s"d$m").mkString(" + ")
    val tJoins = ms.tail
      .map(m => s"  JOIN t$m ON t$m.code$m = codes.code$m AND t$m.q_id = t0.q_id")
      .mkString("\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS fv FROM embeddings),
       |${ms.map(m => pqSubSql(m, subDim, k)).mkString(",\n")},
       |codes AS MATERIALIZED (SELECT vec_id, $codeCols FROM $codesFrom),
       |${ms.map(qt).mkString(",\n")},
       |scored AS (
       |  SELECT t0.q_id, codes.vec_id AS n_id, round($distSum, 6) AS adist,
       |    row_number() OVER (PARTITION BY t0.q_id
       |      ORDER BY round($distSum, 6), codes.vec_id) AS rank
       |  FROM codes
       |  JOIN t0 ON t0.code0 = codes.code0
       |$tJoins
       |  WHERE codes.vec_id <> t0.q_id)
       |SELECT q_id, rank, n_id, adist FROM scored WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin
  }

  /** ADC distance sum over the PqM subspace tables — generated so the
    * ann_ivfpq oracle tracks a PqM change like the Spark side does. */
  private val ivfpqDistSql: String = (0 until PqM).map(m => s"d$m").mkString(" + ")

  /** ann_ivf oracle SQL, lifted so emb_recall can nest it as a subquery
    * (the ir_snippet precedent). */
  private val annIvfSql: String =
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |seeds AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < $Cells),
         |ac AS (
         |  SELECT e.vec_id, e.v, cell,
         |    round(list_cosine_similarity(e.v, cv), 6) AS c,
         |    row_number() OVER (PARTITION BY e.vec_id
         |                       ORDER BY round(list_cosine_similarity(e.v, cv), 6) DESC, cell) AS rn
         |  FROM e, seeds),
         |assigned AS (SELECT vec_id, v, cell FROM ac WHERE rn = 1),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NumQueries),
         |pc AS (
         |  SELECT q_id, qv, cell,
         |    row_number() OVER (PARTITION BY q_id
         |                       ORDER BY round(list_cosine_similarity(qv, cv), 6) DESC, cell) AS rn
         |  FROM q, seeds),
         |probes AS (SELECT q_id, qv, cell FROM pc WHERE rn <= $NProbe),
         |cand AS (
         |  SELECT q_id, a.vec_id AS n_id,
         |    max(round(list_cosine_similarity(qv, a.v), 6)) AS score
         |  FROM probes p JOIN assigned a ON p.cell = a.cell
         |  WHERE a.vec_id <> p.q_id
         |  GROUP BY q_id, n_id),
         |r AS (SELECT q_id, n_id, score,
         |        row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
         |      FROM cand)
         |SELECT q_id, rank, n_id, score FROM r WHERE rank <= $TopK
         |ORDER BY q_id, rank""".stripMargin

  val oracle: Map[String, String] = Map(
    // Generated: one (argmax, update) CTE pair per greedy round, the
    // identical fixed-depth trajectory the Spark unroll runs.
    "emb_kcenter" -> {
      def d2(a: String, b: String) =
        s"list_sum(list_transform(range(1, ${EmbD + 1}), d -> ($a[d] - $b[d]) * ($a[d] - $b[d])))"
      val ctes = Seq.newBuilder[String]
      ctes += "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"
      ctes += "c1 AS (SELECT vec_id AS c_id, v AS cv FROM e ORDER BY vec_id LIMIT 1)"
      ctes += s"m1 AS (SELECT e.vec_id, e.v, round(${d2("e.v", "c1.cv")}, 6) AS mind FROM e, c1)"
      for (k <- 2 to KcRounds) {
        ctes += s"c$k AS (SELECT vec_id AS c_id, v AS cv, mind AS cd FROM m${k - 1} ORDER BY mind DESC, vec_id LIMIT 1)"
        if (k < KcRounds)
          ctes += s"m$k AS (SELECT m.vec_id, m.v, least(m.mind, round(${d2("m.v", s"c$k.cv")}, 6)) AS mind FROM m${k - 1} m, c$k)"
      }
      val rows =
        Seq("SELECT CAST(1 AS BIGINT) AS step, c_id AS vec_id, CAST(0.0 AS DOUBLE) AS dist FROM c1") ++
          (2 to KcRounds).map(k =>
            s"SELECT CAST($k AS BIGINT), c_id, round(cd, 6) FROM c$k")
      s"WITH ${ctes.result().mkString(",\n")}\n${rows.mkString("\nUNION ALL\n")}\nORDER BY step"
    },

    "emb_centroid" ->
      """SELECT label, dim,
        |  list_sum(list(CAST(x AS DOUBLE) ORDER BY CAST(x AS DOUBLE))) / count(*) AS mean
        |FROM (SELECT label, generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS x
        |      FROM embeddings)
        |GROUP BY label, dim ORDER BY label, dim""".stripMargin,

    "emb_kmeans" ->
      s"""$kmeansCteSql
         |SELECT vec_id, cluster, c AS score FROM a2r WHERE rn = 1
         |ORDER BY vec_id""".stripMargin,

    "emb_outliers" ->
      s"""$kmeansCteSql
         |SELECT vec_id, cluster, c AS score FROM a2r WHERE rn = 1
         |ORDER BY score, vec_id LIMIT $EmbOutK""".stripMargin,

    "emb_semdedup" ->
      s"""$kmeansCteSql,
         |asg AS (SELECT vec_id, cluster FROM a2r WHERE rn = 1)
         |SELECT a.cluster, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(list_cosine_similarity(ea.v, eb.v), 6) AS score
         |FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |JOIN e ea ON a.vec_id = ea.vec_id
         |JOIN e eb ON b.vec_id = eb.vec_id
         |WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= $SemTau
         |ORDER BY a.cluster, vec_a, vec_b""".stripMargin,

    "emb_pq" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS fv FROM embeddings),
         |${(0 until PqM).map(m => pqSubSql(m)).mkString(",\n")}
         |SELECT vec_id, ${(0 until PqM).map(m => s"code$m").mkString(", ")}
         |FROM code0${(1 until PqM).map(m => s" JOIN code$m USING (vec_id)").mkString}
         |ORDER BY vec_id""".stripMargin,

    "emb_pca_power" ->
      s"""WITH $PcaChainSql,
         |pf AS (
         |  SELECT c.di AS d,
         |    list_sum(list(c.cij * v.val ORDER BY c.cij * v.val)) AS pv
         |  FROM cov c JOIN vfin v ON c.dj = v.d GROUP BY c.di),
         |lam AS (SELECT list_sum(list(v.val * p.pv ORDER BY v.val * p.pv)) AS l
         |        FROM vfin v JOIN pf p USING (d))
         |SELECT CAST(v.d AS INT) AS d, round(v.val, 6) AS loading,
         |       round(lam.l, 6) AS eigval
         |FROM vfin v, lam ORDER BY d""".stripMargin,

    // The shared PCA chain's μ and v applied per vector; the residual
    // norm via the unit-v identity, clamped at 0 on both engines.
    "emb_abtt" ->
      s"""WITH $PcaChainSql,
         |mu AS (SELECT d, CAST(s AS DOUBLE) / n.n AS mu FROM sq, n),
         |pv AS (
         |  SELECT q.vec_id,
         |    list_sum(list((CAST(q.q AS DOUBLE) - mu.mu) * v.val
         |      ORDER BY (CAST(q.q AS DOUBLE) - mu.mu) * v.val)) AS proj,
         |    list_sum(list(
         |      (CAST(q.q AS DOUBLE) - mu.mu) * (CAST(q.q AS DOUBLE) - mu.mu)
         |      ORDER BY
         |      (CAST(q.q AS DOUBLE) - mu.mu) * (CAST(q.q AS DOUBLE) - mu.mu)))
         |      AS n0
         |  FROM q JOIN mu USING (d) JOIN vfin v ON q.d = v.d
         |  GROUP BY q.vec_id)
         |SELECT vec_id, round(proj, 6) AS proj_pc1,
         |  round(sqrt(n0), 6) AS nrm_centered,
         |  round(sqrt(greatest(0.0, n0 - proj * proj)), 6) AS nrm_abtt
         |FROM pv ORDER BY vec_id""".stripMargin,

    "ann_pq" -> annPqSql(PqM, PqSubDim, KmK),

    "ann_pq_big" -> annPqSql(PqBigM, PqBigSubDim, PqBigK),

    "emb_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS d,
        |         unnest(embedding::DOUBLE[]) AS x
        |  FROM embeddings),
        |stats AS (SELECT d, min(x) AS mn, max(x) AS mx FROM e GROUP BY d)
        |SELECT vec_id,
        |  string_agg(CAST(CAST(floor(CASE WHEN mx = mn THEN 0.0
        |                       ELSE (x - mn) / (mx - mn) * 255.0 END + 0.5) AS INT)
        |                  AS VARCHAR), ',' ORDER BY d) AS qvec
        |FROM e JOIN stats USING (d)
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // The ann_ivf chain with labels carried through + the vote layers.
    "emb_knn_label" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
         |seeds AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < $Cells),
         |ac AS (
         |  SELECT e.vec_id, e.v, e.label, cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |                       ORDER BY round(list_cosine_similarity(e.v, cv), 6) DESC, cell) AS rn
         |  FROM e, seeds),
         |assigned AS (SELECT vec_id, v, label, cell FROM ac WHERE rn = 1),
         |q AS (SELECT vec_id AS q_id, v AS qv, label AS q_label FROM e
         |      WHERE vec_id < $KnnNq),
         |pc AS (
         |  SELECT q_id, qv, q_label, cell,
         |    row_number() OVER (PARTITION BY q_id
         |                       ORDER BY round(list_cosine_similarity(qv, cv), 6) DESC, cell) AS rn
         |  FROM q, seeds),
         |probes AS (SELECT q_id, qv, q_label, cell FROM pc WHERE rn <= $NProbe),
         |cand AS (
         |  SELECT q_id, q_label, a.vec_id AS n_id, a.label AS label,
         |    max(round(list_cosine_similarity(qv, a.v), 6)) AS score
         |  FROM probes p JOIN assigned a ON p.cell = a.cell
         |  WHERE a.vec_id <> p.q_id
         |  GROUP BY 1, 2, 3, 4),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
         |      FROM cand),
         |vt AS (SELECT q_id, q_label, label, count(*) AS votes
         |       FROM r WHERE rank <= $KnnK GROUP BY 1, 2, 3),
         |b AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, label) AS brn
         |      FROM vt)
         |SELECT q_id AS vec_id, q_label AS actual, label AS predicted,
         |  CAST(votes AS BIGINT) AS votes
         |FROM b WHERE brn = 1 ORDER BY vec_id""".stripMargin,

    "emb_triplet_mine" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
         |seeds AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < $Cells),
         |ac AS (
         |  SELECT e.vec_id, e.v, e.label, cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |                       ORDER BY round(list_cosine_similarity(e.v, cv), 6) DESC, cell) AS rn
         |  FROM e, seeds),
         |assigned AS (SELECT vec_id, v, label, cell FROM ac WHERE rn = 1),
         |q AS (SELECT vec_id AS q_id, v AS qv, label AS q_label FROM e
         |      WHERE vec_id < $KnnNq),
         |pc AS (
         |  SELECT q_id, qv, q_label, cell,
         |    row_number() OVER (PARTITION BY q_id
         |                       ORDER BY round(list_cosine_similarity(qv, cv), 6) DESC, cell) AS rn
         |  FROM q, seeds),
         |probes AS (SELECT q_id, qv, q_label, cell FROM pc WHERE rn <= $NProbe),
         |cand AS (
         |  SELECT q_id, q_label, a.vec_id AS n_id, a.label AS label,
         |    max(round(list_cosine_similarity(qv, a.v), 6)) AS score
         |  FROM probes p JOIN assigned a ON p.cell = a.cell
         |  WHERE a.vec_id <> p.q_id
         |  GROUP BY 1, 2, 3, 4),
         |pos AS (SELECT q_id, n_id AS pos_id, score AS pos_cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY score, n_id) AS rn
         |  FROM cand WHERE label = q_label) WHERE rn = 1),
         |neg AS (SELECT q_id, n_id AS neg_id, score AS neg_cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY score DESC, n_id) AS rn
         |  FROM cand WHERE label <> q_label) WHERE rn = 1)
         |SELECT q_id AS vec_id, q_label AS label, pos_id, pos_cos,
         |  neg_id, neg_cos, round(pos_cos - neg_cos, 6) AS margin,
         |  CASE WHEN pos_cos IS NOT NULL AND neg_cos IS NOT NULL
         |    THEN neg_cos >= pos_cos END AS violating
         |FROM q LEFT JOIN pos USING (q_id) LEFT JOIN neg USING (q_id)
         |ORDER BY vec_id""".stripMargin,

    "ann_ivf" -> annIvfSql,

    "emb_recall" ->
      s"""WITH ivf AS (SELECT q_id, n_id FROM ($annIvfSql)),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NumQueries),
         |sc AS (
         |  SELECT q_id, e.vec_id AS n_id,
         |    round(list_cosine_similarity(qv, v), 6) AS score
         |  FROM q, e WHERE e.vec_id <> q_id),
         |truth AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY score DESC, n_id) AS rank FROM sc)
         |  WHERE rank <= $TopK)
         |SELECT ivf.q_id,
         |  CAST(sum(CASE WHEN truth.n_id IS NOT NULL THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_hits,
         |  round(CAST(sum(CASE WHEN truth.n_id IS NOT NULL THEN 1 ELSE 0 END)
         |        AS DOUBLE) / $TopK, 6) AS recall
         |FROM ivf LEFT JOIN truth
         |  ON ivf.q_id = truth.q_id AND ivf.n_id = truth.n_id
         |GROUP BY ivf.q_id ORDER BY ivf.q_id""".stripMargin,

    "ann_ivfpq" ->
      s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS fv FROM embeddings),
         |seeds AS (SELECT vec_id AS cell, fv AS cv FROM e WHERE vec_id < $Cells),
         |ac AS (
         |  SELECT e.vec_id, cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |                       ORDER BY round(list_cosine_similarity(e.fv, cv), 6) DESC, cell) AS rn
         |  FROM e, seeds),
         |assigned AS (SELECT vec_id, cell FROM ac WHERE rn = 1),
         |qiv AS (SELECT vec_id AS q_id, fv AS qv FROM e WHERE vec_id < $NumQueries),
         |pc AS (
         |  SELECT q_id, cell,
         |    row_number() OVER (PARTITION BY q_id
         |                       ORDER BY round(list_cosine_similarity(qv, cv), 6) DESC, cell) AS rn
         |  FROM qiv, seeds),
         |probes AS (SELECT q_id, cell FROM pc WHERE rn <= $NProbe),
         |cand AS (
         |  SELECT q_id, a.vec_id AS n_id
         |  FROM probes p JOIN assigned a ON p.cell = a.cell
         |  WHERE a.vec_id <> p.q_id),
         |${(0 until PqM).map(m => pqSubSql(m)).mkString(",\n")},
         |codes AS MATERIALIZED (
         |  SELECT vec_id, ${(0 until PqM).map(m => s"code$m").mkString(", ")}
         |  FROM code0${(1 until PqM).map(m => s" JOIN code$m USING (vec_id)").mkString}),
         |${(0 until PqM).map { m =>
        val lo = m * PqSubDim + 1
        val hi = (m + 1) * PqSubDim
        s"""q$m AS MATERIALIZED (SELECT vec_id AS q_id, list_slice(fv, $lo, $hi) AS qv
           |        FROM e WHERE vec_id < $NumQueries),
           |t$m AS MATERIALIZED (
           |  SELECT q_id, cluster AS code$m,
           |    round(list_inner_product(qv, qv) + list_inner_product(cv, cv)
           |          - 2.0 * list_inner_product(qv, cv), 6) AS d$m
           |  FROM q$m, c$m)""".stripMargin
      }.mkString(",\n")},
         |scored AS (
         |  SELECT cand.q_id, cand.n_id, round($ivfpqDistSql, 6) AS adist,
         |    row_number() OVER (PARTITION BY cand.q_id
         |      ORDER BY round($ivfpqDistSql, 6), cand.n_id) AS rank
         |  FROM cand
         |  JOIN codes ON codes.vec_id = cand.n_id
         |${(0 until PqM).map(m =>
        s"  JOIN t$m ON t$m.code$m = codes.code$m AND t$m.q_id = cand.q_id")
        .mkString("\n")})
         |SELECT q_id, rank, n_id, adist FROM scored WHERE rank <= $TopK
         |ORDER BY q_id, rank""".stripMargin,

    "ann_ivfpq_res" ->
      s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS fv FROM embeddings),
         |seeds AS (SELECT vec_id AS cell, fv AS cv FROM e WHERE vec_id < $Cells),
         |ac AS (
         |  SELECT e.vec_id, cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |                       ORDER BY round(list_cosine_similarity(e.fv, cv), 6) DESC, cell) AS rn
         |  FROM e, seeds),
         |assigned AS MATERIALIZED (SELECT vec_id, cell FROM ac WHERE rn = 1),
         |cm AS MATERIALIZED (
         |  SELECT cell, list(mx ORDER BY dim) AS mu FROM (
         |    SELECT cell, dim, list_sum(list(x ORDER BY x)) / count(*) AS mx
         |    FROM (SELECT a.cell, generate_subscripts(e.fv, 1) AS dim, unnest(e.fv) AS x
         |          FROM assigned a JOIN e ON a.vec_id = e.vec_id)
         |    GROUP BY cell, dim)
         |  GROUP BY cell),
         |rese AS MATERIALIZED (
         |  SELECT vec_id, cell, list(vx - mx ORDER BY dim) AS fv
         |  FROM (SELECT a.vec_id, a.cell, generate_subscripts(e.fv, 1) AS dim,
         |               unnest(e.fv) AS vx, unnest(c.mu) AS mx
         |        FROM assigned a JOIN e ON a.vec_id = e.vec_id
         |        JOIN cm c ON a.cell = c.cell)
         |  GROUP BY vec_id, cell),
         |${(0 until PqM).map(m => pqSubSql(m, src = "rese")).mkString(",\n")},
         |codes AS MATERIALIZED (
         |  SELECT vec_id, ${(0 until PqM).map(m => s"code$m").mkString(", ")}
         |  FROM code0${(1 until PqM).map(m => s" JOIN code$m USING (vec_id)").mkString}),
         |qiv AS (SELECT vec_id AS q_id, fv AS qv FROM e WHERE vec_id < $NumQueries),
         |pc AS (
         |  SELECT q_id, cell,
         |    row_number() OVER (PARTITION BY q_id
         |                       ORDER BY round(list_cosine_similarity(qv, cv), 6) DESC, cell) AS rn
         |  FROM qiv, seeds),
         |probes AS MATERIALIZED (SELECT q_id, cell FROM pc WHERE rn <= $NProbe),
         |qres AS MATERIALIZED (
         |  SELECT q_id, cell, list(qx - mx ORDER BY dim) AS qrv
         |  FROM (SELECT p.q_id, p.cell, generate_subscripts(q.qv, 1) AS dim,
         |               unnest(q.qv) AS qx, unnest(c.mu) AS mx
         |        FROM probes p JOIN qiv q ON p.q_id = q.q_id
         |        JOIN cm c ON p.cell = c.cell)
         |  GROUP BY q_id, cell),
         |cand AS (
         |  SELECT q_id, a.vec_id AS n_id, p.cell
         |  FROM probes p JOIN assigned a ON p.cell = a.cell
         |  WHERE a.vec_id <> p.q_id),
         |${(0 until PqM).map { m =>
        val lo = m * PqSubDim + 1
        val hi = (m + 1) * PqSubDim
        s"""q$m AS MATERIALIZED (SELECT q_id, cell, list_slice(qrv, $lo, $hi) AS qv
           |        FROM qres),
           |t$m AS MATERIALIZED (
           |  SELECT q_id, cell, cluster AS code$m,
           |    round(list_inner_product(qv, qv) + list_inner_product(cv, cv)
           |          - 2.0 * list_inner_product(qv, cv), 6) AS d$m
           |  FROM q$m, c$m)""".stripMargin
      }.mkString(",\n")},
         |scored AS (
         |  SELECT cand.q_id, cand.n_id, round($ivfpqDistSql, 6) AS adist,
         |    row_number() OVER (PARTITION BY cand.q_id
         |      ORDER BY round($ivfpqDistSql, 6), cand.n_id) AS rank
         |  FROM cand
         |  JOIN codes ON codes.vec_id = cand.n_id
         |${(0 until PqM).map(m =>
        s"  JOIN t$m ON t$m.code$m = codes.code$m AND t$m.q_id = cand.q_id" +
          s" AND t$m.cell = cand.cell").mkString("\n")})
         |SELECT q_id, rank, n_id, adist FROM scored WHERE rank <= $TopK
         |ORDER BY q_id, rank""".stripMargin)
}
