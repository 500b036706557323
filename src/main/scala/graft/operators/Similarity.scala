package graft.operators

import graft.Dense
import graft.Exact.hash32Sql
import graft.Pairs
import graft.Tables.load
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embeddings table.
  *
  * Two paths, both oracle-checked:
  *  - `ann_topk`: brute-force cosine top-k — the exact baseline. The query
  *    side is tiny and broadcast; the candidate side streams partition-
  *    parallel, so the plan is a broadcast nested-loop + per-group top-k
  *    (no global sort). Cost O(|Q|·n) — fine for small |Q|, the yardstick
  *    for recall at any scale.
  *  - `ann_lsh`: random-hyperplane LSH. Each vector hashes to a bucket id
  *    from the sign pattern of 8 hyperplane dot products; only same-bucket
  *    pairs are scored. The shuffle is on bucket id — at 100 TB this is the
  *    difference between n² and Σ bucket². Hyperplanes are md5-derived
  *    pseudo-random constants, so DuckDB reproduces them exactly; the dot
  *    products are sequential folds, bit-identical across engines.
  */
object Similarity {

  type Q = (SparkSession, String) => DataFrame

  private val Planes = 8
  private val Dims = 64
  private val TopK = 5
  private val NumQueries = 10

  /** ann_mmr: result-set size and the relevance/diversity trade-off λ
    * (score = λ·rel − (1−λ)·max-sim-to-selected, Carbonell & Goldstein
    * 1998). */
  private val MmrK = 5
  private val MmrLam = 0.7

  /** emb_matryoshka: prefix width for truncated-dimension retrieval (the
    * Matryoshka-representation-learning serving trick: score with the
    * first MatDim dims, keep the full vector only for rerank). */
  private val MatDim = 16

  /** Hyperplane p (0-based) as a 64-dim double[] with entries in [-1, 1):
    * w(p,d) = hash32(p + "_" + d) / 2^31 - 1, d = 1..Dims. Constant-folded
    * by Catalyst into a literal array — no per-row hashing. */
  private def plane(p: Int): Column =
    transform(sequence(lit(1), lit(Dims)),
      d => graft.Exact.hash32(concat_ws("_", lit(p), d)) / lit(2147483648.0) - 1)

  /** LSH bucket id: bit p set iff dot(v, plane_p) > 0. Uses the codegen'd
    * DotProduct expression (same fold order as the HOF/SQL formulations). */
  private def bucket(v: Column): Column =
    (0 until Planes).map(p =>
      when(graft.plans.ArrayExprs.dotProduct(v, plane(p)) > 0, lit(1L << p)).otherwise(0L))
      .reduce(_ + _)

  private def bucketSql(v: String): String =
    (0 until Planes)
      .map(p => s"CASE WHEN list_sum(list_transform(range(1, ${Dims + 1}), d -> $v[d] * (${hash32Sql(s"concat_ws('_', $p, d)")} / 2147483648.0 - 1))) > 0 THEN ${1L << p} ELSE 0 END")
      .mkString("(", " + ", ")")

  val queries: Map[String, Q] = Map(
    // Brute-force cosine top-k: exact ANN baseline. Norms precomputed per
    // vector; the pair loop is one codegen'd dot product.
    "ann_topk" -> ((s, dir) => {
      val e = Dense.normed(s, dir, col("embedding"))
      val q = e.where(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
      val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("n_id"))
      e.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          Dense.cos("qv", "qnrm", "v", "nrm").as("score"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= TopK)
        .select("q_id", "rank", "n_id", "score")
        .orderBy("q_id", "rank")
    }),

    // LSH-bucketed near-neighbor pairs: hyperplane bucket per vector, score
    // only within-bucket pairs. Bucket-grouped pair generation, not a
    // self-join (same reasoning as dd_minhash_lsh: Spark does not reuse the
    // exchange across self-join sides, so the join shape runs the scan +
    // 8-hyperplane bucket computation once PER SIDE — the grouped shape runs
    // it exactly once). Σ bucket² pair cost is identical; bucket occupancy is
    // governed by the plane count (each added plane halves expected bucket
    // size), which is the knob a 100 TB deployment sizes to its data volume.
    "ann_lsh" -> ((s, dir) => {
      val e = Dense.normed(s, dir, col("embedding"))
        .withColumn("bucket", bucket(col("v")))
      e.groupBy("bucket")
        .agg(sort_array(collect_list(struct(col("vec_id"), col("v"), col("nrm")))).as("es"))
        .where(size(col("es")) > 1)
        .select(col("bucket"), Pairs.within(col("es"))((x, y) => struct(x.as("a"), y.as("b"))).as("p"))
        .select(col("bucket"),
          col("p.a.vec_id").as("vec_a"), col("p.b.vec_id").as("vec_b"),
          Dense.cos("p.a.v", "p.a.nrm", "p.b.v", "p.b.nrm").as("score"))
        .orderBy("bucket", "vec_a", "vec_b")
    }),

    // Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein
    // 1998) — the selection rule behind diverse example picking and
    // redundancy-free retrieval: greedily take the candidate maximizing
    // λ·rel(query) − (1−λ)·max-sim(already selected). Every cosine is
    // rounded to 6 places BEFORE any comparison (the ann_topk rank
    // discipline), so the greedy trajectory is engine-exact by
    // construction, not by ulp luck. Scale shape: the emb_kcenter unroll —
    // each round is one map-side pass against a broadcast 1-row pick
    // (msim updates with a `greatest`) + TakeOrdered(1); zero shuffle
    // exchanges, corpus scanned once per round behind localCheckpoints.
    // Pairwise-similarity histogram — the threshold-choosing readout
    // before running SemDeDup/near-dup at scale ("where does the cosine
    // mass sit?"): 0.1-wide bins over the cosine of every LSH-bucket
    // candidate pair. Reuses the ann_lsh grouped chain (Σ bucket² pairs,
    // never n²); the bin is floor(10·score) of the ALREADY-round(6)
    // cosine, so binning is a floor over identical doubles — engine-
    // exact. Counts + share; share's denominator rides a one-row
    // broadcast.
    // Binary-signature (sign-bit) Hamming retrieval — the 1-bit
    // quantization every production vector store ships as its cheap
    // first-pass filter (32× smaller than float32, XOR+popcount per
    // comparison): each 64-dim embedding packs into TWO long words (32
    // sign bits each via a Horner fold — 64 bits in one long would wrap
    // int64 on Spark while DuckDB RAISES, the ev_anomaly divergence
    // lesson, so the packing stays at 32 exact bits per word), distance
    // = bit_count(hi⊕hi') + bit_count(lo⊕lo'), top-k by (distance,
    // vec_id). All-integer end to end — no float-parity surface at all.
    // Scale: signatures are map-side; the single-query top-k is a
    // TakeOrdered over 2-long rows (the production shape for query
    // eval); corpus-vs-corpus runs would band the signature prefix like
    // dd_simhash_hamming.
    "ann_hamming" -> ((s, dir) => {
      def pack(sl: Column): Column =
        aggregate(transform(sl, x => (x > 0).cast("long")),
          lit(0L), (acc, b) => acc * 2 + b)
      val e = load(s, dir, "embeddings")
        .select(col("vec_id"),
          pack(slice(col("embedding"), 1, 32)).as("hi"),
          pack(slice(col("embedding"), 33, 32)).as("lo"))
      val q = e.where(col("vec_id") === 0)
        .select(col("hi").as("qhi"), col("lo").as("qlo"))
      e.crossJoin(broadcast(q))
        .where(col("vec_id") =!= 0)
        .select(col("vec_id"),
          (bit_count(expr("hi ^ qhi")) + bit_count(expr("lo ^ qlo")))
            .cast("long").as("hamming"))
        .orderBy(col("hamming"), col("vec_id"))
        .limit(TopK * 2)
    }),

    "emb_cos_hist" -> ((s, dir) => {
      val pairs = queries("ann_lsh")(s, dir)
        .select(floor(col("score") * 10).cast("long").as("bin"))
      val hist = pairs.groupBy("bin").agg(count(lit(1)).as("n_pairs"))
        .localCheckpoint()
      val tot = hist.groupBy().agg(sum("n_pairs").as("nt"))
      hist.crossJoin(broadcast(tot))
        .select(col("bin"), col("n_pairs"),
          round(col("n_pairs").cast("double") / col("nt"), 6).as("share"))
        .orderBy("bin")
    }),

    // Matryoshka truncated-dimension retrieval audit: top-k by cosine on
    // the FIRST MatDim dims (the cheap serving path — a 4× smaller index
    // and 4× fewer multiplies per candidate) against the full-dimension
    // exact top-k, with an in_full flag per retrieved row — the fidelity
    // readout that decides how far an MRL-style index can truncate. One
    // broadcast-query scan scores both widths (prefix slices + both norms
    // in the same projection, behind a localCheckpoint so the two rank
    // windows don't re-run the scan); both top-k cuts rank on rounded
    // scores with id tiebreaks — engine-exact.
    "emb_matryoshka" -> ((s, dir) => {
      val e = load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"))
        .withColumn("pv", slice(col("v"), 1, MatDim))
        .withColumn("nrm", Dense.norm(col("v")))
        .withColumn("pnrm", Dense.norm(col("pv")))
      val q = e.where(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("pv").as("qpv"), col("nrm").as("qnrm"), col("pnrm").as("qpnrm"))
      val scored = e.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          Dense.cos("qv", "qnrm", "v", "nrm").as("fscore"),
          Dense.cos("qpv", "qpnrm", "pv", "pnrm").as("pscore"))
        .localCheckpoint()
      val wF = Window.partitionBy("q_id").orderBy(col("fscore").desc, col("n_id"))
      val full = scored.withColumn("r", row_number().over(wF))
        .where(col("r") <= TopK)
        .select(col("q_id"), col("n_id"), lit(1L).as("in_full"))
      val wP = Window.partitionBy("q_id").orderBy(col("pscore").desc, col("n_id"))
      scored.withColumn("rank", row_number().over(wP))
        .where(col("rank") <= TopK)
        .join(broadcast(full), Seq("q_id", "n_id"), "left")
        .na.fill(0L, Seq("in_full"))
        .select(col("q_id"), col("rank"), col("n_id"),
          col("pscore").as("score"), col("in_full"))
        .orderBy("q_id", "rank")
    }),

    "ann_mmr" -> ((s, dir) => {
      val e = Dense.normed(s, dir, transform(col("embedding"), x => x.cast("double")))
      val q = e.where(col("vec_id") === 0)
        .select(col("v").as("qv"), col("nrm").as("qn"))
      def mmrCol = round(lit(MmrLam) * col("rel") -
        lit(1 - MmrLam) * col("msim"), 6)
      var m = e.where(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id"), col("v"), col("nrm"),
          Dense.cos("v", "nrm", "qv", "qn").as("rel"))
        .withColumn("msim", lit(0.0))
        .withColumn("mmr", mmrCol)
        .localCheckpoint()
      var picks: DataFrame = null
      for (k <- 1 to MmrK) {
        val c = m.orderBy(col("mmr").desc, col("vec_id")).limit(1)
          .select(col("vec_id").as("c_id"), col("v").as("cv"),
            col("nrm").as("cn"), col("rel").as("crel"), col("mmr").as("cmmr"))
          .localCheckpoint()
        val row = c.select(lit(k.toLong).as("step"), col("c_id").as("vec_id"),
          col("crel").as("rel"), col("cmmr").as("mmr"))
        picks = if (picks == null) row else picks.unionAll(row)
        if (k < MmrK)
          m = m.crossJoin(broadcast(c.select("c_id", "cv", "cn")))
            .where(col("vec_id") =!= col("c_id"))
            .select(col("vec_id"), col("v"), col("nrm"), col("rel"),
              greatest(col("msim"),
                Dense.cos("v", "nrm", "cv", "cn"))
                .as("msim"))
            .withColumn("mmr", mmrCol)
            .localCheckpoint()
      }
      picks.orderBy("step")
    }))

  val oracle: Map[String, String] = Map(
    "ann_hamming" ->
      s"""WITH e AS (
         |  SELECT vec_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(embedding[1:32],
         |        x -> CAST(x > 0 AS BIGINT))), (a, b) -> a * 2 + b) AS hi,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(embedding[33:64],
         |        x -> CAST(x > 0 AS BIGINT))), (a, b) -> a * 2 + b) AS lo
         |  FROM embeddings),
         |q AS (SELECT hi AS qhi, lo AS qlo FROM e WHERE vec_id = 0)
         |SELECT vec_id,
         |  CAST(bit_count(xor(hi, qhi)) + bit_count(xor(lo, qlo)) AS BIGINT)
         |    AS hamming
         |FROM e, q WHERE vec_id <> 0
         |ORDER BY hamming, vec_id LIMIT ${TopK * 2}""".stripMargin,

    "emb_cos_hist" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |h AS (SELECT vec_id, v, ${bucketSql("v")} AS bucket FROM e),
         |p AS (
         |  SELECT CAST(floor(round(list_cosine_similarity(a.v, b.v), 6) * 10)
         |    AS BIGINT) AS bin
         |  FROM h a JOIN h b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |hi AS (SELECT bin, count(*) AS n_pairs FROM p GROUP BY 1),
         |t AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS nt FROM hi)
         |SELECT bin, n_pairs, round(CAST(n_pairs AS DOUBLE) / nt, 6) AS share
         |FROM hi, t ORDER BY bin""".stripMargin,

    "emb_matryoshka" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NumQueries),
         |sc AS (
         |  SELECT q_id, e.vec_id AS n_id,
         |    round(list_cosine_similarity(qv, v), 6) AS fscore,
         |    round(list_cosine_similarity(qv[1:$MatDim], v[1:$MatDim]), 6)
         |      AS pscore
         |  FROM q, e WHERE e.vec_id <> q_id),
         |f AS (SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY fscore DESC, n_id) AS r FROM sc) WHERE r <= $TopK),
         |p AS (SELECT q_id, n_id, pscore, row_number() OVER (PARTITION BY q_id
         |        ORDER BY pscore DESC, n_id) AS rank FROM sc)
         |SELECT p.q_id, p.rank, p.n_id, p.pscore AS score,
         |  CAST(CASE WHEN f.n_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         |    AS in_full
         |FROM p LEFT JOIN f ON p.q_id = f.q_id AND p.n_id = f.n_id
         |WHERE p.rank <= $TopK ORDER BY p.q_id, p.rank""".stripMargin,

    "ann_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NumQueries),
         |sc AS (
         |  SELECT q_id, e.vec_id AS n_id,
         |         round(list_cosine_similarity(qv, v), 6) AS score
         |  FROM q, e WHERE e.vec_id <> q_id),
         |r AS (SELECT q_id, n_id, score,
         |             row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
         |      FROM sc)
         |SELECT q_id, rank, n_id, score FROM r WHERE rank <= $TopK
         |ORDER BY q_id, rank""".stripMargin,

    "ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |h AS (SELECT vec_id, v, ${bucketSql("v")} AS bucket FROM e)
         |SELECT a.bucket AS bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(list_cosine_similarity(a.v, b.v), 6) AS score
         |FROM h a JOIN h b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |ORDER BY bucket, vec_a, vec_b""".stripMargin,

    // Generated: one (select-wrap, argmax, update) CTE group per greedy
    // round. λ and 1−λ are emitted as string-cast doubles so DuckDB parses
    // the EXACT double Spark's lit() holds (1−0.7 is 0.30000000000000004 —
    // a bare 0.3 decimal literal would differ in the last ulp).
    "ann_mmr" -> {
      val lam = s"CAST('$MmrLam' AS DOUBLE)"
      val oneMinus = s"CAST('${1 - MmrLam}' AS DOUBLE)"
      def wrap(inner: String) =
        s"SELECT vec_id, v, rel, msim, round($lam * rel - $oneMinus * msim, 6) AS mmr FROM (\n$inner)"
      val ctes = Seq.newBuilder[String]
      ctes += "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"
      ctes += "q AS (SELECT v AS qv FROM e WHERE vec_id = 0)"
      ctes += s"""m1 AS (${wrap(
        """  SELECT e.vec_id, e.v,
          |    round(list_cosine_similarity(e.v, q.qv), 6) AS rel,
          |    CAST(0.0 AS DOUBLE) AS msim
          |  FROM e, q WHERE e.vec_id <> 0""".stripMargin)})"""
      for (k <- 1 to MmrK) {
        ctes += s"c$k AS (SELECT vec_id AS c_id, v AS cv, rel AS crel, mmr AS cmmr FROM m$k ORDER BY mmr DESC, vec_id LIMIT 1)"
        if (k < MmrK)
          ctes += s"""m${k + 1} AS (${wrap(
            s"""  SELECT m.vec_id, m.v, m.rel,
               |    greatest(m.msim, round(list_cosine_similarity(m.v, c$k.cv), 6)) AS msim
               |  FROM m$k m, c$k WHERE m.vec_id <> c$k.c_id""".stripMargin)})"""
      }
      val rows = (1 to MmrK).map(k =>
        s"SELECT CAST($k AS BIGINT) AS step, c_id AS vec_id, crel AS rel, cmmr AS mmr FROM c$k")
      s"WITH ${ctes.result().mkString(",\n")}\n${rows.mkString("\nUNION ALL\n")}\nORDER BY step"
    })
}
