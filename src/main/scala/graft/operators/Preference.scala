package graft.operators

import graft.Exact.{cents, hugeint}
import graft.Tables.load
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Preference aggregation, annotator agreement, and importance resampling —
  * the curation layer of a large-scale training-data pipeline (the step
  * between raw engagement logs and a reward-model / SFT training set that
  * the reference's analytics stage feeds, `fission_functions` §3.3 scope).
  *
  *   - `pref_bradley_terry`   Bradley–Terry strength scores from pairwise
  *                            preferences (Bradley & Terry 1952; the MM
  *                            fixed-point of Hunter 2004) — the standard
  *                            aggregation for RLHF preference data.
  *   - `pref_pairwise_winrate` per-pair win rates with Wilson 95% score
  *                            intervals (Wilson 1927) — the per-comparison
  *                            uncertainty view of the same matrix.
  *   - `agree_krippendorff`   Krippendorff's alpha (nominal) over a
  *                            unit×rater×label grid — multi-annotator
  *                            agreement with missing ratings, the quality
  *                            gate on human preference labels.
  *   - `samp_dsir`            data selection via importance resampling
  *                            (Xie et al. 2023): hashed-bigram unigram LMs
  *                            for target and raw corpora, per-doc
  *                            log-importance weights, top-k selection.
  *
  * Scale designs: every fact-scale stage is a keyed agg or a broadcast
  * join; model-scale state (the K×K win matrix, the B-bucket LM) is
  * bounded by vocabulary, not corpus size. The single `.collect()` in
  * `pref_bradley_terry` reads ≤K² rows where K = |event_type| (5 here) —
  * the same bounded-model-scale exception the emb_/gr_ families use.
  * Cross-engine double parity follows the house rules: decimal-exact
  * integer sums, identical expression trees, order-pinned list folds
  * (`list_sum(list(x ORDER BY k))` ↔ sorted `aggregate` fold), round(6).
  */
object Preference {

  type Q = (SparkSession, String) => DataFrame

  /** MM iterations for the Bradley–Terry fit. K=5 converges in ~15; 30
    * leaves margin and keeps the unrolled oracle CTE chain cheap. */
  private[graft] val BtIters = 30

  /** Krippendorff unit key modulus: event_id % KaUnits buckets events into
    * rating "units"; user_id is the rater, event_type the nominal label. */
  private[graft] val KaUnits = 50

  /** DSIR hashed-feature space width (buckets for word bigrams). */
  private[graft] val DsirB = 4096L

  /** DSIR selection size (top-k docs by importance weight). */
  private[graft] val DsirK = 100

  /** Exact per-(user, type) engagement in integer cents — the comparison
    * base both pref_ ops derive preferences from. One keyed agg. */
  private def userTypeCents(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        cents(col("value")).as("c"))
      .groupBy("user_id", "event_type").agg(sum("c").as("c"))

  /** Directed win counts: per user, each unordered pair of event types both
    * present yields one comparison; the type with the larger exact cents
    * total wins (exact ties are dropped — deterministic on integers). The
    * per-user frame is localCheckpoint-ed so the self-join reads ONE
    * events scan (Spark does not reuse exchanges across self-join sides —
    * the dd_minhash_lsh lesson). Per-user fan-out is ≤ K²/2 pairs, so the
    * join output is ≤ users·K²/2 — linear in users, never in events. */
  private def winMatrix(s: SparkSession, dir: String): DataFrame = {
    val ce = userTypeCents(s, dir).localCheckpoint()
    val a = ce.select(col("user_id"), col("event_type").as("ta"), col("c").as("ca"))
    val b = ce.select(col("user_id"), col("event_type").as("tb"), col("c").as("cb"))
    a.join(b, Seq("user_id"))
      .where(col("ta") < col("tb") && col("ca") =!= col("cb"))
      .select(when(col("ca") > col("cb"), col("ta")).otherwise(col("tb")).as("w"),
        when(col("ca") > col("cb"), col("tb")).otherwise(col("ta")).as("l"))
      .groupBy("w", "l").agg(count(lit(1)).as("n"))
  }

  /** The shared unit×rater×label grid both agreement ops reduce: units are
    * event_id % KaUnits buckets, raters are users, each rater's label in a
    * unit is their modal event_type (ties → lexicographically smallest —
    * deterministic). Returns per-(unit, label) rating counts,
    * localCheckpoint-ed so each consumer reads one events scan. */
  private def labelCounts(s: SparkSession, dir: String): DataFrame = {
    val r0 = load(s, dir, "events")
      .groupBy((col("event_id") % KaUnits).as("unit"),
        col("user_id").as("rater"), col("event_type").as("label"))
      .agg(count(lit(1)).as("cnt"))
    val wMode = Window.partitionBy("unit", "rater")
      .orderBy(col("cnt").desc, col("label"))
    r0.withColumn("rn", row_number().over(wMode))
      .where(col("rn") === 1)
      .groupBy("unit", "label").agg(count(lit(1)).as("n"))
      .localCheckpoint()
  }

  val queries: Map[String, Q] = Map(

    // Bradley–Terry preference aggregation (RLHF reward-data prep): from
    // the directed K×K win matrix, the MM fixed-point iteration
    //   p_i ← W_i / Σ_{j≠i} n_ij / (p_i + p_j),  then normalize Σp = 1
    // (Hunter 2004 eq. 1.4), BtIters rounds from the uniform start. The
    // matrix collect is ≤K² rows (K = |event_type|, bounded by the type
    // vocabulary — 5 here at every SF); iteration is driver-side at model
    // scale, exactly mirroring the oracle's unrolled CTE chain: den folds
    // in ascending-j order, the normalizer in ascending-i order, so every
    // double is bit-identical cross-engine. Fact-scale work is one keyed
    // agg + one user-keyed self-join.
    "pref_bradley_terry" -> ((s, dir) => {
      import s.implicits._
      val wm = winMatrix(s, dir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val types = wm.flatMap(t => Seq(t._1, t._2)).distinct.sorted.toVector
      val nij = {
        val m = scala.collection.mutable.Map.empty[(String, String), Long]
          .withDefaultValue(0L)
        for ((w, l, n) <- wm) { m((w, l)) += n; m((l, w)) += n }
        m
      }
      val wi = {
        val m = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
        for ((w, _, n) <- wm) m(w) += n
        m
      }
      val comps = types.map(i =>
        i -> types.filter(j => j != i).map(j => nij((i, j))).sum).toMap
      var p: Vector[Double] = types.map(_ => 1.0 / types.length.toDouble)
      for (_ <- 1 to BtIters) {
        val pm = types.zip(p).toMap
        val pu = types.map { i =>
          val den = types.filter(j => j != i && nij((i, j)) > 0L)
            .foldLeft(0.0)((acc, j) => acc + nij((i, j)).toDouble / (pm(i) + pm(j)))
          if (den == 0.0) 0.0 else wi(i).toDouble / den
        }
        val norm = pu.foldLeft(0.0)(_ + _)
        p = pu.map(_ / norm)
      }
      val rank = types.zip(p).sortBy { case (t, sc) => (-sc, t) }
        .map(_._1).zipWithIndex.toMap
      types.zip(p).map { case (t, sc) =>
        (t, wi(t), comps(t), sc, rank(t) + 1) }
        .toDF("event_type", "wins", "comparisons", "p", "r")
        .select(col("event_type"), col("wins"), col("comparisons"),
          round(col("p"), 6).as("bt_score"),
          col("r").cast("int").as("bt_rank"))
        .orderBy("event_type")
    }),

    // Per-pair win rates with Wilson 95% score intervals — the
    // uncertainty companion to the BT point estimates (which pairs have
    // enough comparisons to trust). Pure expression math on the ≤K²/2-row
    // pair frame; the z=1.96 tree is spelled identically in the oracle.
    "pref_pairwise_winrate" -> ((s, dir) => {
      val n = col("n_cmp").cast("double")
      val ph = col("wins_a").cast("double") / n
      val z = lit(1.96)
      val denom = lit(1.0) + z * z / n
      val center = (ph + z * z / (lit(2.0) * n)) / denom
      val half = z * sqrt(ph * (lit(1.0) - ph) / n + z * z / (lit(4.0) * n * n)) / denom
      winMatrix(s, dir)
        .groupBy(least(col("w"), col("l")).as("type_a"),
          greatest(col("w"), col("l")).as("type_b"))
        .agg(sum(when(col("w") < col("l"), col("n")).otherwise(lit(0L))).as("wins_a"),
          sum(col("n")).as("n_cmp"))
        .select(col("type_a"), col("type_b"), col("wins_a"), col("n_cmp"),
          round(ph, 6).as("win_rate"),
          round(center - half, 6).as("wilson_lo"),
          round(center + half, 6).as("wilson_hi"))
        .orderBy("type_a", "type_b")
    }),

    // Condorcet/Copeland aggregation over the same win matrix — the
    // social-choice view of the preference data (Copeland 1951): a type
    // "majority-beats" another when it wins more of their head-to-head
    // comparisons; the Copeland score is majority wins minus losses, and
    // the Condorcet winner (if any) majority-beats every opponent. The
    // pairwise-majority graph is the standard sanity check on BT scores —
    // a Condorcet cycle means no scalar strength ordering is faithful.
    // All work after the shared win-matrix agg is on the ≤K²-row frame.
    "pref_copeland" -> ((s, dir) => {
      val wm = winMatrix(s, dir).localCheckpoint()
      val dirW = wm.select(col("w").as("i"), col("l").as("j"), col("n"))
        .union(wm.select(col("l").as("i"), col("w").as("j"), lit(0L).as("n")))
        .groupBy("i", "j").agg(sum("n").as("wij"))
        .localCheckpoint()
      val rev = dirW.select(col("j").as("i"), col("i").as("j"),
        col("wij").as("wji"))
      dirW.join(rev, Seq("i", "j"))
        .groupBy("i")
        .agg(sum(when(col("wij") > col("wji"), 1L).otherwise(0L)).as("mw"),
          sum(when(col("wij") === col("wji"), 1L).otherwise(0L)).as("mt"),
          sum(when(col("wij") < col("wji"), 1L).otherwise(0L)).as("ml"),
          count(lit(1)).as("n_opp"))
        .select(col("i").as("event_type"), col("mw").as("majority_wins"),
          col("mt").as("majority_ties"), col("ml").as("majority_losses"),
          (col("mw") - col("ml")).as("copeland"),
          (col("mw") === col("n_opp")).as("is_condorcet"))
        .orderBy("event_type")
    }),

    // Krippendorff's alpha, nominal metric (Krippendorff 2004 §11): units
    // are event_id % KaUnits buckets, raters are users, each rater's label
    // in a unit is their modal event_type (ties → lexicographically
    // smallest — deterministic). α = 1 − D_o/D_e with
    //   D_o = (1/n_p) Σ_u Σ_c n_uc(m_u − n_uc)/(m_u − 1)   (m_u ≥ 2)
    //   D_e = Σ_c n_c(n_p − n_c) / (n_p(n_p − 1))
    // Per-unit numerators are exact integers (decimal products) with ONE
    // division each; the unit-level doubles fold in ascending-unit order
    // (list(ORDER BY unit) in the oracle). Two keyed aggs + one
    // unit-keyed join — no fact-scale window wider than (unit, rater).
    "agree_krippendorff" -> ((s, dir) => {
      val nuc = labelCounts(s, dir)
      val mu = nuc.groupBy("unit").agg(sum("n").as("m"))
      val du = nuc.join(mu, "unit").where(col("m") >= 2)
        .groupBy("unit", "m")
        .agg(sum(hugeint(col("n")) * (col("m") - col("n"))).as("sd"))
        .select(col("unit"),
          (col("sd").cast("double") / (col("m") - 1).cast("double")).as("dou"))
      val np = mu.where(col("m") >= 2)
        .agg(sum("m").as("np"), count(lit(1)).as("n_pairable"))
      val nu = mu.agg(count(lit(1)).as("n_units"))
      val sdo = du.agg(aggregate(
        transform(array_sort(collect_list(struct(col("unit"), col("dou")))),
          x => x.getField("dou")),
        lit(0.0), (a, x) => a + x).as("sdo"))
      val de = nuc.join(mu.where(col("m") >= 2).select("unit"), "unit")
        .groupBy("label").agg(sum("n").as("c"))
        .crossJoin(broadcast(np))
        .groupBy("np", "n_pairable")
        .agg(sum(hugeint(col("c")) * (col("np") - col("c"))).as("sde"))
        .select(col("np"), col("n_pairable"),
          (col("sde").cast("double") /
            (col("np").cast("double") * (col("np") - 1).cast("double"))).as("de"))
      nu.crossJoin(broadcast(de)).crossJoin(broadcast(sdo))
        .select(col("n_units"), col("n_pairable"), col("np").as("n_ratings"),
          round(col("sdo") / col("np").cast("double"), 6).as("d_o"),
          round(col("de"), 6).as("d_e"),
          round(lit(1.0) -
            (col("sdo") / col("np").cast("double")) / col("de"), 6).as("alpha"))
    }),

    // Gwet's AC1 (Gwet 2008, multi-rater form) on the same unit×rater×label
    // grid — the agreement coefficient that stays stable under skewed label
    // prevalence, where kappa/alpha collapse (the "kappa paradox"); the
    // standard companion metric when auditing preference-label quality.
    //   P_o  = mean over pairable units of Σ_c n_uc(n_uc−1)/(m_u(m_u−1))
    //   π_c  = mean over pairable units of n_uc/m_u
    //   P_e  = Σ_c π_c(1−π_c)/(C−1),   AC1 = (P_o−P_e)/(1−P_e)
    // Per-unit numerators are exact integer products with one division
    // each; unit-sorted folds for P_o and each π_c, label-sorted fold for
    // P_e — the agree_krippendorff parity discipline throughout.
    "agree_gwet_ac1" -> ((s, dir) => {
      val nuc = labelCounts(s, dir)
      val mu = nuc.groupBy("unit").agg(sum("n").as("m"))
      val pair = nuc.join(mu, "unit").where(col("m") >= 2)
        .localCheckpoint()
      val np = pair.select("unit").distinct()
        .agg(count(lit(1)).as("np"))
      val pou = pair.groupBy("unit", "m")
        .agg(sum(hugeint(col("n")) * (col("n") - 1)).as("sp"))
        .select(col("unit"), (col("sp").cast("double") /
          (col("m") * (col("m") - 1)).cast("double")).as("pou"))
      val spo = pou.agg(aggregate(
        transform(array_sort(collect_list(struct(col("unit"), col("pou")))),
          x => x.getField("pou")),
        lit(0.0), (a, x) => a + x).as("spo"))
      val sc = pair.groupBy("label")
        .agg(aggregate(
          transform(array_sort(collect_list(struct(col("unit"),
            (col("n").cast("double") / col("m").cast("double")).as("t")))),
            x => x.getField("t")),
          lit(0.0), (a, x) => a + x).as("sc"))
      val cat = sc.agg(count(lit(1)).as("c"))
      val pi = col("sc") / col("np").cast("double")
      val spe = sc.crossJoin(broadcast(np))
        .select(col("label"), (pi * (lit(1.0) - pi)).as("t"))
        .agg(aggregate(
          transform(array_sort(collect_list(struct(col("label"), col("t")))),
            x => x.getField("t")),
          lit(0.0), (a, x) => a + x).as("spe"))
      val po = col("spo") / col("np").cast("double")
      val pe = col("spe") / (col("c") - 1).cast("double")
      np.crossJoin(broadcast(cat)).crossJoin(broadcast(spo))
        .crossJoin(broadcast(spe))
        .select(col("np").as("n_pairable"), col("c").as("n_categories"),
          round(po, 6).as("p_o"), round(pe, 6).as("p_e"),
          round((po - pe) / (lit(1.0) - pe), 6).as("ac1"))
    }),

    // DSIR (Xie et al. 2023, "Data Selection for Language Models via
    // Importance Resampling"): hashed word-bigram unigram LMs over the
    // TARGET corpus (lang = 'en') and the RAW corpus, Laplace-smoothed over
    // the fixed DsirB-bucket space; each doc's importance log-weight is
    // Σ_b n_db·(ln p_tgt(b) − ln p_raw(b)) and the top DsirK docs are the
    // selected set. The bucket LM is ≤DsirB rows — broadcast, independent
    // of corpus size (the whole point of the hashing trick at 100 TB).
    // Top-k via orderBy+limit (distributed TakeOrdered), the rank window
    // runs on the DsirK-row result only. Per-doc folds are bucket-ordered;
    // hash32 is the md5-derived cross-engine hash (graft.Exact).
    "samp_dsir" -> ((s, dir) => {
      val t = split(lower(col("text")), " ")
      val nt = size(t)
      val bigrams = zip_with(slice(t, lit(1), nt - 1), slice(t, lit(2), nt - 1),
        (a, b) => concat_ws(" ", a, b))
      val db = load(s, dir, "documents")
        .where(nt >= 2)
        .select(col("doc_id"), col("lang"), explode(bigrams).as("bg"))
        .select(col("doc_id"), col("lang"),
          (graft.Exact.hash32(col("bg")) % DsirB).as("b"))
        .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("nb"))
        .localCheckpoint()
      val raw = db.groupBy("b").agg(sum("nb").as("cr"))
      val tgt = db.where(col("lang") === "en").groupBy("b").agg(sum("nb").as("ct"))
      val model = raw.join(tgt, Seq("b"), "left")
        .select(col("b"), col("cr"), coalesce(col("ct"), lit(0L)).as("ct"))
      val tot = model.agg(sum("cr").as("nr"), sum("ct").as("nt"))
      val lr = model.crossJoin(broadcast(tot))
        .select(col("b"),
          (log((col("ct") + lit(1)).cast("double") /
              (col("nt") + lit(DsirB)).cast("double")) -
            log((col("cr") + lit(1)).cast("double") /
              (col("nr") + lit(DsirB)).cast("double"))).as("lr"))
      val perDoc = db.join(broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(sum("nb").as("n_bigrams"),
          aggregate(
            transform(array_sort(collect_list(
              struct(col("b"), (col("nb") * col("lr")).as("x")))),
              e => e.getField("x")),
            lit(0.0), (a, x) => a + x).as("logw"))
      perDoc.orderBy(col("logw").desc, col("doc_id")).limit(DsirK)
        .withColumn("sel_rank",
          row_number().over(Window.orderBy(col("logw").desc, col("doc_id")))
            .cast("int"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("logw"), 6).as("dsir_logw"), col("sel_rank"))
        .orderBy("sel_rank")
    }))

  /** Shared preference-derivation SQL: cents → comparisons → win matrix. */
  private val prefBaseSql: String =
    """cents AS MATERIALIZED (
      |  SELECT user_id, event_type,
      |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS c
      |  FROM events GROUP BY 1, 2),
      |cmp AS MATERIALIZED (
      |  SELECT CASE WHEN a.c > b.c THEN a.event_type ELSE b.event_type END AS w,
      |         CASE WHEN a.c > b.c THEN b.event_type ELSE a.event_type END AS l
      |  FROM cents a JOIN cents b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  WHERE a.c <> b.c),
      |wmat AS MATERIALIZED (SELECT w, l, count(*) AS n FROM cmp GROUP BY 1, 2)""".stripMargin

  /** The unrolled BT MM chain: den folds ascending-j, normalizer
    * ascending-i — the exact fold orders the driver-side fit uses. Every
    * iteration CTE is MATERIALIZED (the PcaChainSql lesson): it{t} is
    * referenced twice by d{t+1}, so an inlined chain re-evaluates
    * exponentially. */
  private lazy val btChainSql: String = {
    val iters = (1 to BtIters).map { it =>
      s"""d$it AS (
         |  SELECT m.i AS i,
         |    list_sum(list(CAST(m.nij AS DOUBLE) / (pi.p + pj.p) ORDER BY m.j))
         |      AS den
         |  FROM nmat m JOIN it${it - 1} pi ON m.i = pi.i
         |  JOIN it${it - 1} pj ON m.j = pj.i
         |  GROUP BY m.i),
         |u$it AS MATERIALIZED (
         |  SELECT d.i AS i, CASE WHEN d.den = 0 THEN 0.0
         |    ELSE CAST(w.wi AS DOUBLE) / d.den END AS pu
         |  FROM d$it d JOIN wins w ON d.i = w.t),
         |s$it AS (SELECT list_sum(list(pu ORDER BY i)) AS s FROM u$it),
         |it$it AS MATERIALIZED (SELECT i, pu / s AS p FROM u$it, s$it)""".stripMargin
    }.mkString(",\n")
    s"""$prefBaseSql,
       |types AS MATERIALIZED (
       |  SELECT DISTINCT w AS t FROM wmat UNION SELECT DISTINCT l FROM wmat),
       |k AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM types),
       |nmat AS MATERIALIZED (
       |  SELECT i, j, CAST(sum(n) AS BIGINT) AS nij FROM (
       |    SELECT w AS i, l AS j, n FROM wmat
       |    UNION ALL SELECT l AS i, w AS j, n FROM wmat)
       |  GROUP BY 1, 2),
       |wins AS MATERIALIZED (
       |  SELECT t, CAST(coalesce(sum(n), 0) AS BIGINT) AS wi
       |  FROM types LEFT JOIN wmat ON w = t GROUP BY 1),
       |comps AS (SELECT i AS t, CAST(sum(nij) AS BIGINT) AS nc FROM nmat GROUP BY 1),
       |it0 AS MATERIALIZED (SELECT t AS i, 1.0 / k.k AS p FROM types, k),
       |$iters""".stripMargin
  }

  val oracle: Map[String, String] = Map(

    "pref_bradley_terry" ->
      s"""WITH $btChainSql
         |SELECT w.t AS event_type, w.wi AS wins, c.nc AS comparisons,
         |  round(f.p, 6) AS bt_score,
         |  CAST(row_number() OVER (ORDER BY f.p DESC, w.t) AS INT) AS bt_rank
         |FROM wins w JOIN it$BtIters f ON w.t = f.i JOIN comps c ON w.t = c.t
         |ORDER BY event_type""".stripMargin,

    "pref_pairwise_winrate" ->
      s"""WITH $prefBaseSql,
         |pairs AS (
         |  SELECT least(w, l) AS type_a, greatest(w, l) AS type_b,
         |    CAST(sum(CASE WHEN w < l THEN n ELSE 0 END) AS BIGINT) AS wins_a,
         |    CAST(sum(n) AS BIGINT) AS n_cmp
         |  FROM wmat GROUP BY 1, 2)
         |SELECT type_a, type_b, wins_a, n_cmp,
         |  round(CAST(wins_a AS DOUBLE) / CAST(n_cmp AS DOUBLE), 6) AS win_rate,
         |  round((CAST(wins_a AS DOUBLE) / CAST(n_cmp AS DOUBLE)
         |         + 1.96 * 1.96 / (2.0 * CAST(n_cmp AS DOUBLE)))
         |        / (1.0 + 1.96 * 1.96 / CAST(n_cmp AS DOUBLE))
         |      - 1.96 * sqrt(CAST(wins_a AS DOUBLE) / CAST(n_cmp AS DOUBLE)
         |            * (1.0 - CAST(wins_a AS DOUBLE) / CAST(n_cmp AS DOUBLE))
         |            / CAST(n_cmp AS DOUBLE)
         |          + 1.96 * 1.96 / (4.0 * CAST(n_cmp AS DOUBLE)
         |                           * CAST(n_cmp AS DOUBLE)))
         |        / (1.0 + 1.96 * 1.96 / CAST(n_cmp AS DOUBLE)), 6) AS wilson_lo,
         |  round((CAST(wins_a AS DOUBLE) / CAST(n_cmp AS DOUBLE)
         |         + 1.96 * 1.96 / (2.0 * CAST(n_cmp AS DOUBLE)))
         |        / (1.0 + 1.96 * 1.96 / CAST(n_cmp AS DOUBLE))
         |      + 1.96 * sqrt(CAST(wins_a AS DOUBLE) / CAST(n_cmp AS DOUBLE)
         |            * (1.0 - CAST(wins_a AS DOUBLE) / CAST(n_cmp AS DOUBLE))
         |            / CAST(n_cmp AS DOUBLE)
         |          + 1.96 * 1.96 / (4.0 * CAST(n_cmp AS DOUBLE)
         |                           * CAST(n_cmp AS DOUBLE)))
         |        / (1.0 + 1.96 * 1.96 / CAST(n_cmp AS DOUBLE)), 6) AS wilson_hi
         |FROM pairs ORDER BY type_a, type_b""".stripMargin,

    "pref_copeland" ->
      s"""WITH $prefBaseSql,
         |dirw AS MATERIALIZED (
         |  SELECT i, j, CAST(sum(n) AS BIGINT) AS wij FROM (
         |    SELECT w AS i, l AS j, n FROM wmat
         |    UNION ALL SELECT l AS i, w AS j, 0 AS n FROM wmat)
         |  GROUP BY 1, 2),
         |p AS (
         |  SELECT a.i, a.j, a.wij, b.wij AS wji
         |  FROM dirw a JOIN dirw b ON a.i = b.j AND a.j = b.i)
         |SELECT i AS event_type,
         |  CAST(sum(CASE WHEN wij > wji THEN 1 ELSE 0 END) AS BIGINT)
         |    AS majority_wins,
         |  CAST(sum(CASE WHEN wij = wji THEN 1 ELSE 0 END) AS BIGINT)
         |    AS majority_ties,
         |  CAST(sum(CASE WHEN wij < wji THEN 1 ELSE 0 END) AS BIGINT)
         |    AS majority_losses,
         |  CAST(sum(CASE WHEN wij > wji THEN 1 ELSE 0 END)
         |     - sum(CASE WHEN wij < wji THEN 1 ELSE 0 END) AS BIGINT)
         |    AS copeland,
         |  (sum(CASE WHEN wij > wji THEN 1 ELSE 0 END) = count(*))
         |    AS is_condorcet
         |FROM p GROUP BY 1 ORDER BY event_type""".stripMargin,

    "agree_gwet_ac1" ->
      s"""WITH r0 AS (
         |  SELECT event_id % $KaUnits AS unit, user_id AS rater,
         |    event_type AS label, count(*) AS cnt
         |  FROM events GROUP BY 1, 2, 3),
         |r1 AS (
         |  SELECT unit, rater, label, row_number() OVER (
         |    PARTITION BY unit, rater ORDER BY cnt DESC, label) AS rn
         |  FROM r0),
         |rat AS (SELECT unit, rater, label FROM r1 WHERE rn = 1),
         |nuc AS MATERIALIZED (
         |  SELECT unit, label, count(*) AS n FROM rat GROUP BY 1, 2),
         |mu AS MATERIALIZED (
         |  SELECT unit, CAST(sum(n) AS BIGINT) AS m FROM nuc GROUP BY 1),
         |pair AS MATERIALIZED (
         |  SELECT n.unit, n.label, n.n, u.m
         |  FROM nuc n JOIN mu u ON n.unit = u.unit WHERE u.m >= 2),
         |np AS MATERIALIZED (
         |  SELECT CAST(count(DISTINCT unit) AS BIGINT) AS np FROM pair),
         |pou AS (
         |  SELECT unit,
         |    CAST(sum(CAST(n AS HUGEINT) * (n - 1)) AS DOUBLE)
         |      / CAST(m * (m - 1) AS DOUBLE) AS pou
         |  FROM pair GROUP BY unit, m),
         |spo AS (SELECT list_sum(list(pou ORDER BY unit)) AS spo FROM pou),
         |sc AS MATERIALIZED (
         |  SELECT label,
         |    list_sum(list(CAST(n AS DOUBLE) / CAST(m AS DOUBLE)
         |      ORDER BY unit)) AS sc
         |  FROM pair GROUP BY label),
         |cat AS (SELECT CAST(count(*) AS BIGINT) AS c FROM sc),
         |spe AS (
         |  SELECT list_sum(list(
         |    (sc.sc / CAST(np.np AS DOUBLE))
         |      * (1.0 - sc.sc / CAST(np.np AS DOUBLE)) ORDER BY label)) AS spe
         |  FROM sc, np)
         |SELECT np.np AS n_pairable, cat.c AS n_categories,
         |  round(spo.spo / CAST(np.np AS DOUBLE), 6) AS p_o,
         |  round(spe.spe / CAST(cat.c - 1 AS DOUBLE), 6) AS p_e,
         |  round((spo.spo / CAST(np.np AS DOUBLE)
         |         - spe.spe / CAST(cat.c - 1 AS DOUBLE))
         |        / (1.0 - spe.spe / CAST(cat.c - 1 AS DOUBLE)), 6) AS ac1
         |FROM np, cat, spo, spe""".stripMargin,

    "agree_krippendorff" ->
      s"""WITH r0 AS (
         |  SELECT event_id % $KaUnits AS unit, user_id AS rater,
         |    event_type AS label, count(*) AS cnt
         |  FROM events GROUP BY 1, 2, 3),
         |r1 AS (
         |  SELECT unit, rater, label, row_number() OVER (
         |    PARTITION BY unit, rater ORDER BY cnt DESC, label) AS rn
         |  FROM r0),
         |rat AS (SELECT unit, rater, label FROM r1 WHERE rn = 1),
         |nuc AS MATERIALIZED (
         |  SELECT unit, label, count(*) AS n FROM rat GROUP BY 1, 2),
         |mu AS MATERIALIZED (
         |  SELECT unit, CAST(sum(n) AS BIGINT) AS m FROM nuc GROUP BY 1),
         |du AS (
         |  SELECT u.unit,
         |    CAST(sum(CAST(n.n AS HUGEINT) * (u.m - n.n)) AS DOUBLE)
         |      / CAST(u.m - 1 AS DOUBLE) AS dou
         |  FROM mu u JOIN nuc n ON u.unit = n.unit
         |  WHERE u.m >= 2 GROUP BY u.unit, u.m),
         |np AS MATERIALIZED (
         |  SELECT CAST(sum(m) AS BIGINT) AS np,
         |    CAST(count(*) AS BIGINT) AS n_pairable
         |  FROM mu WHERE m >= 2),
         |nunits AS (SELECT CAST(count(*) AS BIGINT) AS n_units FROM mu),
         |sdo AS (SELECT list_sum(list(dou ORDER BY unit)) AS sdo FROM du),
         |nc AS (
         |  SELECT n.label, CAST(sum(n.n) AS BIGINT) AS c
         |  FROM nuc n JOIN mu u ON n.unit = u.unit WHERE u.m >= 2 GROUP BY 1),
         |sde AS (
         |  SELECT CAST(sum(CAST(c AS HUGEINT) * (np.np - c)) AS DOUBLE) AS sde
         |  FROM nc, np),
         |de AS (
         |  SELECT sde.sde
         |    / (CAST(np.np AS DOUBLE) * CAST(np.np - 1 AS DOUBLE)) AS de
         |  FROM sde, np)
         |SELECT n_units, n_pairable, np.np AS n_ratings,
         |  round(sdo.sdo / CAST(np.np AS DOUBLE), 6) AS d_o,
         |  round(de.de, 6) AS d_e,
         |  round(1.0 - (sdo.sdo / CAST(np.np AS DOUBLE)) / de.de, 6) AS alpha
         |FROM nunits, np, sdo, de""".stripMargin,

    "samp_dsir" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang, string_split(lower(text), ' ') AS t FROM documents
         |  WHERE len(string_split(lower(text), ' ')) >= 2),
         |bgr AS (
         |  SELECT doc_id, lang,
         |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
         |  FROM d),
         |db AS MATERIALIZED (
         |  SELECT doc_id, lang, ${graft.Exact.hash32Sql("bg")} % $DsirB AS b,
         |    count(*) AS nb
         |  FROM bgr GROUP BY 1, 2, 3),
         |raw AS (SELECT b, CAST(sum(nb) AS BIGINT) AS cr FROM db GROUP BY 1),
         |tgt AS (SELECT b, CAST(sum(nb) AS BIGINT) AS ct FROM db
         |        WHERE lang = 'en' GROUP BY 1),
         |model AS MATERIALIZED (
         |  SELECT raw.b, cr, coalesce(ct, 0) AS ct
         |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
         |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
         |               CAST(sum(ct) AS BIGINT) AS nt FROM model),
         |lr AS (
         |  SELECT b, ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + $DsirB AS DOUBLE))
         |       - ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + $DsirB AS DOUBLE)) AS lr
         |  FROM model, tot),
         |pd AS (
         |  SELECT doc_id, CAST(sum(nb) AS BIGINT) AS n_bigrams,
         |    list_sum(list(nb * lr ORDER BY db.b)) AS logw
         |  FROM db JOIN lr ON db.b = lr.b GROUP BY doc_id),
         |r AS (
         |  SELECT doc_id, n_bigrams, logw,
         |    CAST(row_number() OVER (ORDER BY logw DESC, doc_id) AS INT) AS sel_rank
         |  FROM pd)
         |SELECT doc_id, n_bigrams, round(logw, 6) AS dsir_logw, sel_rank
         |FROM r WHERE sel_rank <= $DsirK ORDER BY sel_rank""".stripMargin)
}
