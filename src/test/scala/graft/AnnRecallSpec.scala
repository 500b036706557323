package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Recall study for the PQ/ADC search path, against exact L2 ground truth
  * (the metric ADC approximates).
  *
  * Two operating points:
  *  - `ann_pq`: 2 subspaces × 8 centroids = 6-bit codes (deliberately tiny
  *    so the DuckDB oracle stays cheap).
  *  - `ann_pq_big`: 8 subspaces × 32 centroids = 40-bit codes — the
  *    production SHAPE (real deployments run 8-16 × 256 on billions of
  *    vectors; 32 is the largest codebook 500 test vectors support).
  *
  * Finding (measured, and reproduced by an independent numpy
  * implementation of the same seeded-Lloyd + ADC chain): this synthetic
  * corpus is near-uniform noise — per-dim std 0.125, nearest-neighbor L2
  * ≈ 1.15 vs bulk mean ≈ 1.4 — so top-3 recall is NOISE-BOUND and not
  * monotone in code size (numpy sweep, recall@3: 2×32 k8 0.20, k16 0.13,
  * k32 0.07; 4×16 k16 0.33, k32 0.27; 8×8 k16 0.13, k32 0.20). On a real
  * embedding corpus with cluster structure, more bits monotonically help;
  * here the stable, meaningful pins are (a) the exact measured values for
  * the two shipped configs — deterministic chain, so these are pins, not
  * thresholds — and (b) both configs sitting far above chance, with ADC
  * neighbors' TRUE distances deep in the bottom tail of each query's
  * distance distribution.
  */
class AnnRecallSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"
  private val K = 3 // the PQ queries' TopK
  private val NQ = 5 // NumQueries

  /** (q_id, n_id, true L2² distance) for ALL candidate pairs. */
  private lazy val exactDists: Map[(Long, Long), Double] = {
    import graft.plans.ArrayExprs.dotProduct
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val q = e.where(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    q.crossJoin(e).where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (dotProduct(col("qv"), col("qv")) + dotProduct(col("v"), col("v"))
          - lit(2.0) * dotProduct(col("qv"), col("v"))).as("d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
  }

  // NB: .values.flatMap, not Map.flatMap — flatMapping a Map into (q, n)
  // tuples would rebuild a Map keyed by q and silently keep one pair per
  // query instead of K.
  private lazy val exactTopK: Set[(Long, Long)] =
    exactDists.toSeq.groupBy(_._1._1).values.flatMap { ds =>
      ds.sortBy(d => (d._2, d._1._2)).take(K).map(_._1)
    }.toSet

  private def adcTopK(query: String): Set[(Long, Long)] =
    operators.Embeddings.queries(query)(spark, dir)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("recall@3 pins: 6-bit 5/15, 40-bit 3/15 — both far above the 0.006 chance floor") {
    val small = (adcTopK("ann_pq") & exactTopK).size
    val big = (adcTopK("ann_pq_big") & exactTopK).size
    assert(small == 5, s"ann_pq recall@3 drifted: $small/15")
    assert(big == 3, s"ann_pq_big recall@3 drifted: $big/15")
    // chance: drawing 3 of 499 candidates hits an exact-top-3 member with
    // p ≈ 3/499 per slot → E[hits over 15 slots] ≈ 0.09; both configs are
    // 30-50× above that.
    assert(small >= 2 && big >= 2, "ADC recall collapsed to chance")
  }

  test("ADC neighbors average deep in the true-distance bottom tail") {
    // the noise-robust quality pin: even when the exact top-3 set is
    // missed, the vectors ADC returns are genuinely close. Mean true-L2
    // rank of the 15 picks within each query's 499-candidate distribution:
    // measured ≈17 (ann_pq) and ≈25 (ann_pq_big) vs ≈249 for random picks
    // — an order of magnitude better than chance. Asserted at <50 (the
    // bottom decile on average); individual picks range up to rank ~131
    // on this noise-dominated corpus, which is why the bound is on the
    // mean, not the max.
    for (query <- Seq("ann_pq", "ann_pq_big")) {
      val picks = adcTopK(query)
      assert(picks.groupBy(_._1).size == NQ)
      val ranks = picks.toSeq.map { case (qid, nid) =>
        val allD = exactDists.collect { case ((q, _), d) if q == qid => d }.toSeq.sorted
        allD.indexWhere(_ >= exactDists((qid, nid)))
      }
      val mean = ranks.sum.toDouble / ranks.size
      assert(mean < 50.0,
        s"$query: mean true-distance rank of ADC picks degraded to $mean " +
          s"(ranks: ${ranks.sorted.mkString(",")})")
    }
  }

  test("residual encoding tracks the true distance better than plain IVF-PQ") {
    // The FAISS residual-encoding claim, measured over the FULL candidate
    // set (632 pairs here; the 15 returned rows are too small a sample):
    // PQ codebooks trained on x − μ(cell(x)) only cover within-cell
    // spread, so at equal code size the ADC distance tracks the true L2²
    // more tightly — what an ANN RANKER needs is monotone tracking, so
    // the pin is the Pearson correlation between adist and the true
    // distance. Measured (deterministic chain → stable values, not flaky
    // thresholds): plain r ≈ 0.53, residual r ≈ 0.70.
    //
    // Two findings this test documents for posterity:
    //  - residuals must be taken against the cell MEAN: an earlier
    //    residual-vs-SEED-vector variant INFLATED the error ~2.6× because
    //    E‖x−seed‖² > E‖x‖² on weakly-clustered data — only the mean has
    //    the variance-decomposition guarantee E‖x−μ‖² = E‖x‖² − E‖μ‖².
    //  - absolute MSE is NOT a stable discriminator here: this corpus is
    //    near-uniform noise, so E‖μ_cell‖²/E‖x‖² ≈ 5.5% (measured) — the
    //    theoretical variance reduction is within codebook-seeding noise,
    //    and plain PQ can win the calibration (bias) term while losing
    //    the tracking (correlation) term. On a clustered real corpus
    //    E‖μ‖² is large and residual wins both.
    def fidelity(scored: org.apache.spark.sql.DataFrame): (Double, Int) = {
      val rows = scored.collect()
        .map(r => (exactDists((r.getLong(0), r.getLong(1))), r.getDouble(2)))
      val n = rows.length
      val (mx, my) = (rows.map(_._2).sum / n, rows.map(_._1).sum / n)
      val cov = rows.map { case (y, x) => (x - mx) * (y - my) }.sum
      val (vx, vy) = (rows.map(r => math.pow(r._2 - mx, 2)).sum,
        rows.map(r => math.pow(r._1 - my, 2)).sum)
      (cov / math.sqrt(vx * vy), n)
    }
    val (plain, nP) = fidelity(operators.Embeddings.ivfPqScored(spark, dir))
    val (res, nR) = fidelity(operators.Embeddings.ivfPqResScored(spark, dir))
    info(f"ADC↔true-L2² correlation over all candidates — " +
      f"plain: $plain%.3f (n=$nP), residual: $res%.3f (n=$nR)")
    assert(nP == nR, "the two variants must search identical candidate sets")
    assert(res > plain + 0.05,
      f"residual encoding no longer tracks true distance better: " +
        f"residual r=$res%.3f vs plain r=$plain%.3f")
  }
}
