package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants for the training-pipeline operators added in round
  * 4 (decontamination, PII redaction, repetition signals, chunking,
  * k-means). Value-level correctness is the DuckDB oracle's job; these pin
  * the properties a user relies on that a hash match alone doesn't state.
  */
class PipelineOpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  test("ta_chunk: contiguous indices, full windows except the tail, exact coverage") {
    val chunks = operators.TextAnalysis.queries("ta_chunk")(spark, dir)
    val perDoc = chunks.groupBy("doc_id").agg(
      count(lit(1)).as("n_chunks"), max(col("chunk_idx")).as("max_idx"))
    // indices are 0..max with no gaps
    assert(perDoc.where(col("n_chunks") =!= col("max_idx") + 1).count() == 0)
    // every non-tail chunk is a full window; every chunk is within size
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val tagged = chunks.withColumn("max_idx", max(col("chunk_idx")).over(w))
    assert(tagged.where(col("chunk_idx") < col("max_idx") && col("n_tokens") =!= 32)
      .count() == 0)
    assert(chunks.where(col("n_tokens") > 32 || col("n_tokens") < 1).count() == 0)
    // stride coverage: 24*max_idx + tail tokens == whitespace token count
    val tails = tagged.where(col("chunk_idx") === col("max_idx"))
      .select(col("doc_id"), (col("max_idx") * 24 + col("n_tokens")).as("covered"))
    val toks = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), size(split(lower(col("text")), " ")).cast("long").as("n"))
    assert(tails.join(toks, "doc_id").where(col("covered") =!= col("n")).count() == 0)
  }

  test("ta_pii_redact: no residual PII, plant accounted, markers present") {
    val out = operators.TextAnalysis.queries("ta_pii_redact")(spark, dir)
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "\\b555-[0-9]{3}-[0-9]{4}\\b"
    assert(out.where(regexp_like(col("redacted"), lit(emailRe))).count() == 0)
    assert(out.where(regexp_like(col("redacted"), lit(phoneRe))).count() == 0)
    // the deterministic plant is always found (>= covers PII-looking text)
    assert(out.where(col("doc_id") % 3 =!= 0 && col("n_emails") < 1).count() == 0)
    assert(out.where(col("doc_id") % 2 === 0 && col("n_phones") < 1).count() == 0)
    assert(out.where(col("n_emails") > 0 && !col("redacted").contains("<EMAIL>"))
      .count() == 0)
    assert(out.where(col("n_phones") > 0 && !col("redacted").contains("<PHONE>"))
      .count() == 0)
  }

  test("ta_repetition: fractions bounded and mutually consistent") {
    val out = operators.TextAnalysis.queries("ta_repetition")(spark, dir)
    assert(out.count() == 500)
    assert(out.where(col("dup_token_frac") < 0 || col("dup_token_frac") >= 1).count() == 0)
    assert(out.where(col("top_token_frac") <= 0 || col("top_token_frac") > 1).count() == 0)
    assert(out.where(col("top_bigram_frac") < 0 || col("top_bigram_frac") > 1).count() == 0)
    // the most frequent token can never be rarer than uniform
    assert(out.where(col("top_token_frac") * col("n_tokens") < 1).count() == 0)
  }

  test("dd_decontaminate: pairs go train -> bench and meet the threshold") {
    val out = operators.Dedup.queries("dd_decontaminate")(spark, dir)
    assert(out.where(col("train_id") % 10 === 0).count() == 0)
    assert(out.where(col("bench_id") % 10 =!= 0).count() == 0)
    assert(out.where(col("n_shared") < 3).count() == 0)
  }

  test("dd_components: min-label fixpoint properties") {
    val out = operators.Dedup.queries("dd_components")(spark, dir)
    // the component label IS the minimum member = the keep doc
    assert(out.where(col("component") =!= col("keep_id")).count() == 0)
    // only genuine duplicate clusters (singletons are not emitted)
    assert(out.where(col("n_members") < 2).count() == 0)
    // components are disjoint: total members across components equals the
    // number of distinct docs carrying any duplicate evidence
    val total = out.agg(sum(col("n_members"))).head().getLong(0)
    assert(total >= 2 * out.count())
  }

  test("composed training-data pipeline: quality -> dedup -> decontaminate -> chunk") {
    // The operators compose the way a user of the library would chain them
    // to build a training set from the raw corpus. Each stage joins on
    // doc_id — all distributed, no collect until the final assertions.
    val quality = operators.TextAnalysis.queries("ta_quality")(spark, dir)
      .where(col("quality_score") === 1.0).select("doc_id")
    // drop every duplicate that is not its component's keep doc
    val dupDrops = operators.Dedup.componentLabels(spark, dir)
      .where(col("doc_id") =!= col("lbl")).select("doc_id")
    // drop every training doc that overlaps the benchmark holdout
    val contamDrops = operators.Dedup.queries("dd_decontaminate")(spark, dir)
      .select(col("train_id").as("doc_id")).distinct()
    val kept = quality
      .join(dupDrops, Seq("doc_id"), "left_anti")
      .join(contamDrops, Seq("doc_id"), "left_anti")
    val chunks = operators.TextAnalysis.queries("ta_chunk")(spark, dir)
      .join(kept, Seq("doc_id"))
    val (nKept, nChunks) = (kept.count(), chunks.count())
    // every surviving doc still yields at least one chunk, and the funnel
    // actually removed something at each stage
    assert(chunks.select(countDistinct(col("doc_id"))).head().getLong(0) == nKept)
    assert(nKept > 0 && nChunks >= nKept)
    assert(nKept < quality.count())
    // deterministic end-to-end: the same pipeline yields the same funnel
    assert(nKept == 341,
      s"funnel drifted: kept=$nKept (update consciously if an upstream operator changed)")
  }

  test("ir_invindex: postings sorted+distinct, df consistent, floor applied") {
    // postings arrive as the comparator-safe joined string; parse back
    val idx = operators.Retrieval.queries("ir_invindex")(spark, dir)
      .withColumn("plist",
        transform(split(col("postings"), " "), x => x.cast("long")))
    assert(idx.where(col("df") < 5).count() == 0)
    assert(idx.where(size(col("plist")) =!= col("df")).count() == 0)
    // sorted + distinct posting lists
    assert(idx.where(col("plist") =!= array_sort(array_distinct(col("plist"))))
      .count() == 0)
    // postings reconstruct membership: every listed doc really contains the term
    val flat = idx.select(col("term"), explode(col("plist")).as("doc_id"))
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
    assert(flat.join(docs, "doc_id")
      .where(!array_contains(col("t"), col("term"))).count() == 0)
  }

  test("ir_bm25: top-N ordered, scores positive, hits contain a query term") {
    val hits = operators.Retrieval.queries("ir_bm25")(spark, dir)
    val rows = hits.collect()
    assert(rows.length == 50)
    val scores = rows.map(_.getDouble(1))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    assert(scores.forall(_ > 0.0))
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
    assert(hits.join(docs, "doc_id")
      .where(!array_contains(col("t"), "merge") && !array_contains(col("t"), "spark") &&
        !array_contains(col("t"), "window")).count() == 0)
  }

  test("emb_quantize: full coverage, byte range, endpoints hit per dimension") {
    // qvec arrives as the comparator-safe joined string; parse back
    val q = operators.Embeddings.queries("emb_quantize")(spark, dir)
      .withColumn("qarr", transform(split(col("qvec"), ","), x => x.cast("int")))
    val n = Tables.load(spark, dir, "embeddings").count()
    assert(q.count() == n)
    assert(q.where(size(col("qarr")) =!= 64).count() == 0)
    val vals = q.select(posexplode(col("qarr")).as(Seq("d", "v")))
    assert(vals.where(col("v") < 0 || col("v") > 255).count() == 0)
    // the min/max vector of every dimension must land exactly on 0 and 255
    val ext = vals.groupBy("d").agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    assert(ext.where(col("mn") =!= 0 || col("mx") =!= 255).count() == 0)
  }

  test("dd_canonical: agrees with dd_components, canonical is a best-quality member") {
    val comp = operators.Dedup.queries("dd_components")(spark, dir)
      .select(col("component"), col("n_members"))
    val canon = operators.Dedup.queries("dd_canonical")(spark, dir)
    // same cluster structure
    assert(canon.select("component", "n_members").except(comp).count() == 0)
    assert(comp.except(canon.select("component", "n_members")).count() == 0)
    // canonical is a member of its component with the component-max quality
    val labels = operators.Dedup.componentLabels(spark, dir)
    val q = operators.TextAnalysis.queries("ta_quality")(spark, dir)
      .select(col("doc_id"), col("quality_score"))
    val members = labels.join(q, "doc_id")
    val best = members.groupBy(col("lbl").as("component"))
      .agg(max(col("quality_score")).as("bq"))
    assert(canon.join(best, "component")
      .where(col("best_quality") =!= col("bq")).count() == 0)
    assert(canon.join(labels.withColumnRenamed("doc_id", "canonical_id"),
      Seq("canonical_id")).where(col("lbl") =!= col("component")).count() == 0)
  }

  test("emb_pq: full coverage, codebook-range codes, deterministic") {
    val pq = operators.Embeddings.queries("emb_pq")(spark, dir)
    val n = Tables.load(spark, dir, "embeddings").count()
    assert(pq.count() == n)
    assert(pq.where(col("code0") < 0 || col("code0") >= 8 ||
      col("code1") < 0 || col("code1") >= 8).count() == 0)
    // both subspace codebooks are actually exercised (no collapsed codebook)
    assert(pq.select(countDistinct(col("code0"))).head().getLong(0) > 1)
    assert(pq.select(countDistinct(col("code1"))).head().getLong(0) > 1)
    // the two subspaces encode independently: code pairs differ across docs
    assert(pq.select(countDistinct(col("code0"), col("code1"))).head().getLong(0) > 8)
    def h(df: org.apache.spark.sql.DataFrame): String =
      df.select(md5(concat_ws("|", col("vec_id"), col("code0"), col("code1"))).as("r"))
        .agg(md5(concat_ws(",", sort_array(collect_list(col("r"))))))
        .head().getString(0)
    assert(h(pq) == h(operators.Embeddings.queries("emb_pq")(spark, dir)))
  }

  test("ann_pq: ADC search is well-formed and consistent with the codes") {
    val res = operators.Embeddings.queries("ann_pq")(spark, dir).collect()
    // 5 queries × top-3, ranks 1..3, approximate distances non-negative and
    // non-decreasing within each query
    assert(res.length == 15)
    val byQ = res.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until 5L).toSet)
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == Seq(1, 2, 3))
      val dists = sorted.map(_.getDouble(3))
      assert(dists.forall(_ >= 0.0))
      assert(dists.zip(dists.tail).forall { case (a, b) => a <= b })
    }
    // a neighbor sharing BOTH codes with the query must rank above any
    // sharing neither (its ADC distance is the query's own quantization
    // floor) — spot-check via the codes frame
    val codes = operators.Embeddings.queries("emb_pq")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    byQ.foreach { case (q, rs) =>
      val top = rs.minBy(_.getInt(1))
      val exactMatches = codes.filter { case (id, c) => id != q && c == codes(q) }
      if (exactMatches.nonEmpty)
        assert(codes(top.getLong(2)) == codes(q),
          s"query $q: an exact code match exists but rank 1 differs")
    }
    // measured recall@3 vs exact L2 top-3: 5/15 = 0.33 on this corpus — the
    // honest number for a 6-bit-per-vector code (2 subspaces × 8 centroids);
    // production PQ runs 8–16 subspaces × 256 centroids. Deterministic data
    // and algorithm, so the floor is a stable pin, not a flaky threshold.
    import graft.plans.ArrayExprs.dotProduct
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val wEx = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("d2"), col("n_id"))
    val exact = q.crossJoin(e).where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (dotProduct(col("qv"), col("qv")) + dotProduct(col("v"), col("v"))
          - lit(2.0) * dotProduct(col("qv"), col("v"))).as("d2"))
      .withColumn("rn", row_number().over(wEx)).where(col("rn") <= 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adc = res.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (adc & exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"ADC recall@3 dropped to $recall")
  }

  test("emb_semdedup: within-cluster subset of the exact pair verifier") {
    val sem = operators.Embeddings.queries("emb_semdedup")(spark, dir)
    assert(sem.count() > 0)
    // every SemDeDup pair is also found by the exact O(n²) verifier at the
    // same threshold, with the identical rounded score (the cluster pass
    // trades recall for the Σ cluster² pair space, never precision)
    val exact = operators.Dedup.queries("dd_embed_cos")(spark, dir)
    assert(sem.select("vec_a", "vec_b", "score")
      .except(exact.select("vec_a", "vec_b", "score")).count() == 0)
    // both members really carry the pair's cluster label
    val km = operators.Embeddings.queries("emb_kmeans")(spark, dir)
      .select(col("vec_id"), col("cluster").as("kc"))
    assert(sem.join(km.withColumnRenamed("vec_id", "vec_a"), "vec_a")
      .where(col("kc") =!= col("cluster")).count() == 0)
    assert(sem.join(km.withColumnRenamed("vec_id", "vec_b"), "vec_b")
      .where(col("kc") =!= col("cluster")).count() == 0)
  }

  test("dd_substring: reported pairs really share a substring of the claimed length") {
    val out = operators.Dedup.queries("dd_substring")(spark, dir).collect()
    assert(out.nonEmpty)
    val texts = Tables.load(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split(" ").toSeq).toMap
    out.foreach { r =>
      val (a, b, len) = (r.getLong(0), r.getLong(1), r.getLong(3).toInt)
      val (ta, tb) = (texts(a), texts(b))
      val wins = ta.sliding(len).toSet
      // soundness: the claimed longest shared substring exists verbatim in
      // both docs. (Maximality can legitimately under-report: runs through
      // df-pruned boilerplate shingles are deliberately not counted.)
      assert(tb.sliding(len).exists(wins.contains),
        s"pair ($a,$b): no shared $len-token window found")
    }
  }

  test("connectedComponents: random graphs match an in-memory union-find") {
    import spark.implicits._
    // Property check against an independent reference implementation:
    // three seeded random graphs with mixed topology (sparse edges over a
    // node range — yields chains, stars, cycles, and isolated pairs).
    for (seed <- Seq(7, 42, 1913)) {
      val rnd = new scala.util.Random(seed)
      val n = 120
      val edges = Seq.fill(90)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      // reference union-find with path compression
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> {
          // min label of v's component = min over members sharing find(v)
          val root = find(v.toInt)
          (0L until n).filter(u => find(u.toInt) == root).min
        }).toMap
      val got = operators.Dedup.connectedComponents(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed $seed: labels diverge from union-find")
    }
  }

  test("connectedComponents: long chains converge via pointer jumping") {
    import spark.implicits._
    // A 60-hop path graph (diameter 60) would need ~60 rounds of pure
    // min-label propagation — past MaxCcIters. The pointer-jumping rounds
    // that kick in after the propagation-only prefix must close it within
    // the bound. Two disjoint chains + one star prove labels don't bleed
    // across components.
    val chain1 = (0L until 60L).map(i => (i, i + 1))          // component min 0
    val chain2 = (100L until 130L).map(i => (i, i + 1))       // component min 100
    val star = (201L to 205L).map(i => (200L, i))             // component min 200
    val edges = (chain1 ++ chain2 ++ star).toDF("a", "b")
    val labels = operators.Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 61 + 31 + 6)
    assert((0L to 60L).forall(labels(_) == 0L))
    assert((100L to 130L).forall(labels(_) == 100L))
    assert((200L to 205L).forall(labels(_) == 200L))
  }

  test("Pairs.within: exactly combinations(2) in index order; a null array gives no row") {
    import spark.implicits._
    // Distinct but unsorted values, so index order and value order differ.
    val arrays = Seq(Seq.empty[Long], Seq(5L), Seq(9L, 3L), Seq(4L, 1L, 7L, 6L, 0L, 8L, 2L))
    for (arr <- arrays) {
      val got = Seq(Tuple1(arr)).toDF("xs")
        .select(Pairs.within(col("xs"))((x, y) => struct(x.as("a"), y.as("b"))).as("p"))
        .select("p.a", "p.b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == arr.combinations(2).map(c => (c(0), c(1))).toSeq, s"array $arr")
    }
    val nulls = Seq(Tuple1(Option.empty[Seq[Long]])).toDF("xs")
      .select(Pairs.within(col("xs"))((x, y) => struct(x.as("a"), y.as("b"))))
    assert(nulls.count() == 0)
  }

  test("Pairs.star: the first id to every later one; one id gives no row") {
    import spark.implicits._
    def star(ids: Seq[Long]) = Seq(Tuple1(ids)).toDF("ids")
      .select(Pairs.star(col("ids")).as("e"))
      .select("e.a", "e.b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(star(Seq(3L, 5L, 9L)) == Seq((3L, 5L), (3L, 9L)))
    assert(star(Seq(3L)).isEmpty)
  }

  test("Pairs.hamming: verified bucket pairs, and maxHam >= bands fails the require") {
    import spark.implicits._
    // 2 bands × 4 bits: 0x11 and 0x13 differ in 1 bit (same high band);
    // 0x11 and 0xEE differ in all 8 and share no band.
    val sigs = Seq((1L, 0x11L), (2L, 0x13L), (3L, 0xEEL)).toDF("id", "sig")
    val got = Pairs.hamming(sigs, "id", "sig", 2, 4, 1L, ("x", "y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 1L)))
    for (maxHam <- Seq(2L, 3L))
      intercept[IllegalArgumentException](
        Pairs.hamming(sigs, "id", "sig", 2, 4, maxHam, ("x", "y")))
  }

  test("Par.spread: no-op on a scan that fills the cores and on a frame with no scan") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    val target = spark.sparkContext.defaultParallelism
    val tmp = java.nio.file.Files.createTempDirectory("spread")
    try {
      val rows = (0 until 400).toDF("v")
      val many = s"$tmp/many"
      rows.repartition(target).write.parquet(many)
      val one = s"$tmp/one"
      rows.coalesce(1).write.parquet(one)
      def repartitions(df: org.apache.spark.sql.DataFrame): Seq[Int] =
        df.queryExecution.logical.collect { case r: Repartition => r.numPartitions }
      // (1) one scan partition per file, already >= defaultParallelism
      val wide = spark.read.parquet(many)
      assert(wide.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s.inputRDD.getNumPartitions
      }.max >= target)
      val wideOut = Par.spread(wide)
      assert(wideOut eq wide)
      assert(repartitions(wideOut).isEmpty)
      // (2) no file scan at all
      val local = rows.select((col("v") * 2).as("w"))
      assert(Par.spread(local) eq local)
      // (3) the control: one small file is spread to defaultParallelism
      assert(repartitions(Par.spread(spark.read.parquet(one))) == Seq(target))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(tmp.toFile)
    }
  }

  test("emb_kmeans: total assignment, valid clusters, deterministic") {
    val out = operators.Embeddings.queries("emb_kmeans")(spark, dir)
    val n = Tables.load(spark, dir, "embeddings").count()
    assert(out.count() == n)
    assert(out.select(countDistinct(col("vec_id"))).head().getLong(0) == n)
    assert(out.where(col("cluster") < 0 || col("cluster") >= 8).count() == 0)
    assert(out.where(col("score") < -1.0 || col("score") > 1.0).count() == 0)
    def h(df: org.apache.spark.sql.DataFrame): String =
      df.select(md5(concat_ws("|", col("vec_id"), col("cluster"), col("score"))).as("r"))
        .agg(md5(concat_ws(",", sort_array(collect_list(col("r"))))))
        .head().getString(0)
    assert(h(out) == h(operators.Embeddings.queries("emb_kmeans")(spark, dir)))
  }

  test("ev_funnel: stage counts monotone non-increasing, steps complete") {
    val out = operators.EventWindows.queries("ev_funnel")(spark, dir).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(out.map(_.getString(1)).toSeq == Seq("signup", "click", "purchase"))
    val users = out.map(_.getLong(2))
    assert(users.zip(users.tail).forall { case (a, b) => a >= b },
      s"funnel widened: ${users.toSeq}")
    // step 1 equals the direct per-user signup count
    val signups = Tables.load(spark, dir, "events")
      .where(col("event_type") === "signup")
      .select(countDistinct(col("user_id"))).head().getLong(0)
    assert(users.head == signups)
  }

  test("ev_cohort: offsets non-negative, week-0 users equal cohort size") {
    val out = operators.EventWindows.queries("ev_cohort")(spark, dir)
    assert(out.where(col("week_offset") < 0).count() == 0)
    // every user is active in their own first week, so offset 0 carries the
    // whole cohort
    val cohortSizes = Tables.load(spark, dir, "events")
      .groupBy("user_id").agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
      .groupBy("cohort_week").agg(count(lit(1)).as("n"))
    val w0 = out.where(col("week_offset") === 0)
      .select(col("cohort_week"), col("users"))
    assert(w0.join(cohortSizes, "cohort_week")
      .where(col("users") =!= col("n")).count() == 0)
  }

  test("ev_rolling_wau: bounded by DAU below and total users above") {
    val out = operators.EventWindows.queries("ev_rolling_wau")(spark, dir)
    val ev = Tables.load(spark, dir, "events")
    val dau = ev.select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .groupBy("d").agg(countDistinct(col("user_id")).as("dau"))
    assert(out.join(dau, "d").where(col("wau") < col("dau")).count() == 0)
    val totalUsers = ev.select(countDistinct(col("user_id"))).head().getLong(0)
    assert(out.where(col("wau") > totalUsers).count() == 0)
    // one row per observed day
    assert(out.count() == dau.count())
  }

  test("ev_attribution: attributed clicks are real, strictly earlier, within window") {
    val out = operators.EventWindows.queries("ev_attribution")(spark, dir)
    val ev = Tables.load(spark, dir, "events")
    // one output row per purchase event
    assert(out.count() == ev.where(col("event_type") === "purchase").count())
    val attributed = out.where(col("attributed_click_ts").isNotNull)
    // strictly earlier and within 7 days
    assert(attributed.where(col("attributed_click_ts") >= col("purchase_ts")).count() == 0)
    assert(attributed.where(
      col("attributed_click_ts") < col("purchase_ts") - expr("INTERVAL 7 DAYS")).count() == 0)
    // every attributed timestamp is an actual click by that user
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("attributed_click_ts"))
    assert(attributed.join(clicks, Seq("user_id", "attributed_click_ts"), "left_anti")
      .count() == 0)
  }

  test("ta_pack: per-source sequences are contiguous and under-filled only at straddle points") {
    val out = operators.TextAnalysis.queries("ta_pack")(spark, dir)
    // every doc assigned exactly once
    val n = Tables.load(spark, dir, "documents").count()
    assert(out.count() == n)
    // seq_id is non-decreasing in doc_id within each source, starts at 0
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    val stepped = out.withColumn("prev", lag(col("seq_id"), 1, 0).over(w))
    assert(stepped.where(col("seq_id") < col("prev")).count() == 0)
    assert(out.groupBy("source").agg(min(col("seq_id")).as("m"))
      .where(col("m") =!= 0).count() == 0)
    // a sequence's token total only exceeds the budget by its straddling
    // final doc: total - last doc's tokens < budget
    val perSeq = out.groupBy("source", "seq_id")
      .agg(sum(col("n_tokens")).as("tot"), max(col("n_tokens")).as("mx"))
    assert(perSeq.where(col("tot") - col("mx") >= 2048).count() == 0)
  }

  test("emb_pca_power: unit-norm loadings with a small Rayleigh residual") {
    // The oracle hash-match proves cross-engine determinism; this pins
    // that the fixed 2^M-power iterate actually CONVERGED to the top
    // eigenpair: recompute the quantized covariance locally and require
    // ‖Cv − λv‖ / λ ≪ 1 (the residual is ~0 only at an eigenvector —
    // measured ~7e-3 here vs ~1.0 for a random direction; the 12-step
    // plain-power variant this replaced sat at ~0.4).
    val out = operators.Embeddings.queries("emb_pca_power")(spark, dir).collect()
    val v = out.sortBy(_.getInt(0)).map(_.getDouble(1))
    val lam = out.head.getDouble(2)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-3, "loadings not unit norm")
    val X = Tables.load(spark, dir, "embeddings")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val dim = X.head.length
    val n = X.length.toDouble
    val mn = Array.tabulate(dim)(d => X.map(_(d)).min)
    val mx = Array.tabulate(dim)(d => X.map(_(d)).max)
    val q = X.map(r => Array.tabulate(dim)(d =>
      if (mx(d) == mn(d)) 0.0
      else math.floor((r(d) - mn(d)) / (mx(d) - mn(d)) * 255.0 + 0.5)))
    val mu = Array.tabulate(dim)(d => q.map(_(d)).sum / n)
    def cov(i: Int, j: Int): Double = q.map(r => r(i) * r(j)).sum / n - mu(i) * mu(j)
    val cv = Array.tabulate(dim)(i => (0 until dim).map(j => cov(i, j) * v(j)).sum)
    val resid = math.sqrt((0 until dim).map(d => {
      val e = cv(d) - lam * v(d); e * e
    }).sum) / lam
    assert(resid < 0.05, s"power iterate did not converge: residual $resid")
  }

  test("gr_kcore: the fixed peel unroll reaches the fixpoint") {
    // gr_kcore unrolls a FIXED number of peel rounds so the DuckDB oracle
    // is the identical computation. That is only the true k-core if
    // peeling has converged by then — and the fixpoint condition is
    // exactly that every surviving node still has degree >= K. A node
    // below K in the output means the unroll stopped early: raise
    // KcoreRounds (both sides move together through the shared constant).
    // (An sf0.1 DuckDB probe measured convergence at 6 rounds there too —
    // the 8-round unroll carries margin at every test SF.)
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val core = operators.Graph.queries("gr_kcore")(spark, d)
      val under = core.where(col("core_degree") < 2).count()
      assert(under == 0,
        s"$d: $under nodes below K survived — KcoreRounds too small")
      assert(core.count() > 0, s"$d: k-core is empty — K too high to pin anything")
    }
  }

  test("gr_clustering: coefficients bounded, triangle-participation identity") {
    // cc = 2T/(d(d−1)) ∈ [0, 1] by definition (T ≤ C(d,2) neighbor
    // pairs), and the per-node participation counts must agree with the
    // independent gr_triangles output — every node in ≥1 triangle has
    // degree ≥ 2, so the deg-filtered frame loses none of them and the
    // two sums match exactly (each a multiple of 3: one participation
    // per corner per triangle).
    val cc = operators.Graph.queries("gr_clustering")(spark, dir).collect()
    assert(cc.nonEmpty)
    assert(cc.forall { r =>
      val c = r.getDouble(3); c >= 0.0 && c <= 1.0 },
      "a clustering coefficient left [0, 1]")
    assert(cc.forall { r => r.getLong(2) * 2 <= r.getLong(1) * (r.getLong(1) - 1) },
      "n_tri exceeded the neighbor-pair bound C(d, 2)")
    val part = cc.map(_.getLong(2)).sum
    val tri = operators.Graph.queries("gr_triangles")(spark, dir)
      .agg(sum("n_tri")).collect()(0).getLong(0)
    assert(part == tri, s"participation sums diverged: $part vs $tri")
    assert(part % 3 == 0, s"participation sum $part is not a multiple of 3")
  }

  test("nodeTriangles: the streamed super-apex wedge branch counts like the collect_list form") {
    // A hub joined to every node, a 4-clique and a small cycle with a
    // chord: apex out-degrees span 0..3 under the (degree, id) orientation.
    // Cap 1 routes every apex with ≥ 2 out-neighbors to the streamed
    // self-join form, cap 2 splits the apexes between the two forms, and
    // Int.MaxValue keeps them all in the collect_list form.
    import spark.implicits._
    val edgeList = (1L to 8L).map(v => (0L, v)) ++
      Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
        (5L, 6L), (6L, 7L), (7L, 8L), (5L, 7L))
    val adj = edgeList.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2).toSet }
    val nodes = adj.keys.toSeq.sorted
    val bruteTri = (for {
      a <- nodes; b <- nodes if b > a && adj(a)(b); c <- nodes if c > b && adj(a)(c) && adj(b)(c)
      v <- Seq(a, b, c)
    } yield v).groupBy(identity).map { case (v, vs) => v -> vs.size.toLong }
    val expected = nodes.map(v => (v, adj(v).size.toLong, bruteTri.getOrElse(v, 0L))).toSet
    assert(expected.exists(_._3 > 0), "fixture has no triangle")
    val e = edgeList.toDF("pa", "pb")
    for (cap <- Seq(1, 2, Int.MaxValue)) {
      val (deg, tcnt) = operators.Graph.nodeTriangles(e, cap)
      val got = deg.join(tcnt, Seq("node"), "left").na.fill(0L, Seq("n_tri"))
        .select(col("node"), col("d"), col("n_tri")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected, s"cap $cap: (node, deg, n_tri) diverged from brute force")
    }
  }

  test("ir_mrr: ranks in cut, rr is the reciprocal, mrr is the mean") {
    val rows = operators.Retrieval.queries("ir_mrr")(spark, dir).collect()
    assert(rows.length == 3, "one row per query term")
    for (r <- rows if !r.isNullAt(1)) {
      val frr = r.getLong(1)
      assert(frr >= 1 && frr <= 20, s"first_rel_rank $frr outside the k=20 cut")
      assert(math.abs(r.getDouble(2) - 1.0 / frr) < 1e-6, "rr != 1/first_rel_rank")
    }
    val meanRr = rows.map(_.getDouble(2)).sum / rows.length
    assert(math.abs(rows.head.getDouble(3) - meanRr) < 1e-6,
      "mrr is not the mean reciprocal rank")
  }

  test("ta_yule_k: diversity indices bounded, counts consistent") {
    val rows = operators.TextAnalysis.queries("ta_yule_k")(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (n, v, s2) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(v <= n, "more types than tokens")
      assert(s2 >= n, "Σc² < N is impossible (c ≥ 1 per type)")
      assert(s2 <= n * n, "Σc² > N² is impossible")
      assert(r.getDouble(4) >= 0.0, "Yule's K negative")
      val d = r.getDouble(5)
      assert(d >= 0.0 && d < 1.0, s"Simpson D $d outside [0, 1)")
    }
  }

  test("prof_inclusion: the five declared FKs hold; reverse probes report misses") {
    val rows = operators.Relational3.queries("prof_inclusion")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.size == 8)
    val realFks = Seq(
      "customer.c_custkey<=orders.o_custkey",
      "customer.c_nationkey<=nation.n_nationkey",
      "lineitem.l_orderkey<=orders.o_orderkey",
      "lineitem.l_partkey<=part.p_partkey",
      "lineitem.l_suppkey<=supplier.s_suppkey")
    for (fk <- realFks) {
      val (_, miss, inc) = rows(fk)
      assert(miss == 0 && inc == 1, s"$fk unexpectedly violated: $miss missing")
    }
    // verdict consistency on every row: included ⇔ n_missing = 0, and
    // n_missing never exceeds the child's distinct count
    for ((dep, (nd, miss, inc)) <- rows) {
      assert((inc == 1) == (miss == 0), s"$dep verdict inconsistent")
      assert(miss <= nd, s"$dep reports more misses than distinct values")
    }
  }

  test("ev_peak_detect: every reported peak strictly exceeds both neighbors") {
    val rows = operators.EventWindows.queries("ev_peak_detect")(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (c, p, n, prom) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(c > p && c > n, "a non-peak row was reported")
      assert(prom == c - math.max(p, n) && prom >= 1, "prominence wrong")
    }
  }

  test("ev_holt: the aggregate fold equals a plain-Scala Holt recursion") {
    // The query's correctness hinges on Spark's `aggregate` higher-order
    // expression folding left-to-right with a clean (non-rebinding)
    // accumulator — the exact property DuckDB 1.0's list_reduce LACKS
    // (see the query scaladoc). Recompute the recursion in plain Scala
    // from the same zero-filled daily series and demand bit-equality
    // before rounding kills the evidence.
    import org.apache.spark.sql.expressions.Window
    val d = graft.Tables.load(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("d"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      .groupBy("event_type", "d").agg(sum("c").as("sc"))
    val spine = d.groupBy("event_type")
      .agg(min("d").as("mn"), max("d").as("mx"))
      .select(col("event_type"), explode(sequence(col("mn"), col("mx"))).as("dd"))
    val series = spine.join(d,
        spine("event_type") === d("event_type") && col("dd") === col("d"), "left")
      .select(spine("event_type"), col("dd"),
        coalesce(col("sc"), lit(0L)).as("sc"))
      .orderBy("event_type", "dd").collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.sortBy(_.getDate(1).toString).map(_.getLong(2) / 100.0).toSeq)
    val got = operators.EventWindows.queries("ev_holt")(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(5))).toMap
    for ((tpe, xs) <- series) {
      var l = xs.head; var b = 0.0; var sse = 0.0
      for (x <- xs.tail) {
        val err = x - (l + b)
        val l2 = 0.5 * x + 0.5 * (l + b)
        b = 0.25 * (l2 - l) + 0.75 * b
        l = l2
        sse += err * err
      }
      val (n, gl, gb, gsse) = got(tpe)
      assert(n == xs.length)
      assert(math.abs(gl - l) < 5e-7 && math.abs(gb - b) < 5e-7,
        s"$tpe: fold ($gl, $gb) != scala ($l, $b)")
      assert(math.abs(gsse - sse) < 5e-6, s"$tpe: sse $gsse != $sse")
    }
  }

  test("a23_kruskal: H matches a plain-Scala pooled-midrank recomputation") {
    // Recompute Kruskal-Wallis from the raw cents values with a direct
    // sort + midrank assignment — no histograms, no bucket ladder — and
    // demand the engine's laddered rank sums and H agree.
    val rows = operators.Relational3.queries("a23_kruskal")(spark, dir).collect()
    val data = graft.Tables.load(spark, dir, "events")
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val n = data.length.toLong
    // midrank of value v = (#less) + (#equal + 1) / 2; doubled = 2*#less + #equal + 1
    val byC = data.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val sortedC = byC.keys.toArray.sorted
    val cumBefore = sortedC.scanLeft(0L)((a, c) => a + byC(c)).init
    val r2ByC = sortedC.zip(cumBefore).map { case (c, cb) =>
      c -> (2 * cb + byC(c) + 1) }.toMap
    val groups = data.groupBy(_._1)
    val want = groups.view.mapValues { vs =>
      (vs.length.toLong, vs.map(v => BigInt(r2ByC(v._2))).sum)
    }.toMap
    var aa = 0.0
    for (t <- want.keys.toSeq.sorted) {
      val (ni, r2) = want(t)
      aa += r2.toDouble * r2.toDouble / ni.toDouble
    }
    val hWant = 3.0 * aa / (n.toDouble * (n + 1)) - 3.0 * (n + 1)
    val t3 = byC.values.map(m => BigInt(m) * m * m - m).sum
    val hTieWant = hWant / (1.0 - t3.toDouble / (n.toDouble * n * n - n))
    for (r <- rows) {
      val (ni, r2) = want(r.getString(0))
      assert(r.getLong(1) == ni && BigInt(r.getLong(2)) == r2,
        s"${r.getString(0)}: rank sums diverge")
      assert(math.abs(r.getDouble(3) - hWant) < 5e-7, s"H ${r.getDouble(3)} != $hWant")
      assert(math.abs(r.getDouble(4) - hTieWant) < 5e-7)
    }
    assert(hWant >= 0.0 || math.abs(hWant) < 1e-9, "H must be ~nonnegative")
  }

  test("emb_abtt: Pythagoras holds per row; centered projections sum to zero") {
    val rows = operators.Embeddings.queries("emb_abtt")(spark, dir).collect()
    assert(rows.nonEmpty)
    var projSum = 0.0; var maxAbs = 0.0
    for (r <- rows) {
      val (p, n0, n1) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      // residual ⟂ v ⇒ n0² = n1² + p² (the identity the query uses —
      // verify it against the emitted ROUNDED values within rounding)
      assert(math.abs(n0 * n0 - (n1 * n1 + p * p)) < 1e-2,
        s"vec ${r.getLong(0)}: ${n0 * n0} != ${n1 * n1 + p * p}")
      assert(n1 <= n0 + 1e-6, "removal cannot grow the norm")
      projSum += p; maxAbs = math.max(maxAbs, math.abs(p))
    }
    // Σ(x−μ)·v = 0 exactly in algebra; allow float noise relative to scale
    assert(math.abs(projSum) < 1e-3 * math.max(1.0, maxAbs * rows.length),
      s"centered projections do not cancel: $projSum")
  }

  test("gr_closeness: distances equal a plain-Scala landmark BFS") {
    val got = operators.Graph.queries("gr_closeness")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // rebuild the co-purchase graph exactly as the shared edges() does
    val items = graft.Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val e = items.as("a").join(items.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
      .agg(count(lit(1)).as("cnt")).where(col("cnt") >= 2)
      .select("pa", "pb").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
    for ((a, b) <- e) {
      adj(a) = b :: adj.getOrElse(a, Nil); adj(b) = a :: adj.getOrElse(b, Nil)
    }
    val lms = adj.keys.toSeq.sorted.take(4)
    val want = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    for (lm <- lms) {
      val dist = scala.collection.mutable.Map(lm -> 0L)
      var frontier = Set(lm)
      for (hop <- 1L to 6L) {
        frontier = frontier.flatMap(adj.getOrElse(_, Nil))
          .filterNot(dist.contains)
        frontier.foreach(n => dist(n) = hop)
      }
      for ((n, d) <- dist) {
        val (c, s) = want.getOrElse(n, (0L, 0L)); want(n) = (c + 1, s + d)
      }
    }
    assert(got.keySet == want.keySet,
      s"node sets differ by ${(got.keySet diff want.keySet).take(3)} / ${(want.keySet diff got.keySet).take(3)}")
    for ((n, (c, s)) <- want)
      assert(got(n) == (c, s), s"node $n: got ${got(n)} want ($c, $s)")
  }

  test("ta_burstiness: identities hold and the top dispersion recomputes") {
    val rows = operators.TextAnalysis.queries("ta_burstiness")(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 30)
    val nd = graft.Tables.load(spark, dir, "documents").count()
    for (r <- rows) {
      val (df, cf, burst, disp) =
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(df >= 20 && cf >= df, "tf >= 1 in every containing doc")
      assert(burst >= 1.0 && math.abs(burst - cf.toDouble / df) < 1e-6)
      assert(disp >= -1e-9, "Fano factor cannot be negative")
    }
    // recompute the top term's dispersion from raw tf values
    val top = rows.head.getString(0)
    val tfs = graft.Tables.load(spark, dir, "documents")
      .select(explode(split(lower(col("text")), " ")).as("w"), col("doc_id"))
      .where(col("w") === top).groupBy("doc_id").count()
      .collect().map(_.getLong(1))
    val mean = tfs.sum.toDouble / nd
    val ex2 = tfs.map(t => t.toDouble * t).sum / nd
    assert(math.abs(rows.head.getDouble(4) - (ex2 - mean * mean) / mean) < 1e-5)
  }

  test("a26_anova_f: F matches a plain-Scala recomputation and is nonnegative") {
    val rows = operators.Relational3.queries("a26_anova_f")(spark, dir).collect()
    val data = graft.Tables.load(spark, dir, "events")
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val grp = data.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val k = grp.size; val nn = data.length
    var aa = 0.0
    for (t <- grp.keys.toSeq.sorted) {
      val s = grp(t).map(BigInt(_)).sum
      aa += s.toDouble * s.toDouble / grp(t).length
    }
    val st1 = data.map(d => BigInt(d._2)).sum
    val qt = data.map(d => BigInt(d._2) * d._2).sum
    val ssb = aa - st1.toDouble * st1.toDouble / nn
    val ssw = qt.toDouble - aa
    val fWant = (ssb / (k - 1)) / (ssw / (nn - k))
    for (r <- rows) {
      assert(r.getLong(1) == grp(r.getString(0)).length)
      assert(math.abs(r.getDouble(5) - fWant) < 5e-7,
        s"F ${r.getDouble(5)} != $fWant")
      assert(r.getDouble(5) >= 0.0)
    }
  }

  test("dd_bloom: bloom set contains the exact set; fill rate matches the bit math") {
    val r = operators.Dedup.queries("dd_bloom")(spark, dir).collect()(0)
    val (nDocs, nBanned, nBits, nBloom, nExact, nFp) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))
    // no false negatives, ever: bloom ⊇ exact
    assert(nBloom == nExact + nFp, "bloom != exact + false positives")
    assert(nBloom >= nExact)
    // the filter can't set more bits than 4 per banned key, nor fewer
    // than 4 total for a nonempty list (k distinct positions collide
    // within a key only on h2-cycle degeneracies)
    assert(nBits <= 4 * nBanned && nBits >= 1)
    assert(nExact >= nDocs / 7 - 1, "every 7th doc_id must be banned")
    // realized FP rate within 50x of the (fill)^k prediction envelope
    val fill = nBits.toDouble / 65536.0
    val expFp = math.pow(fill, 4) * (nDocs - nExact)
    assert(nFp <= expFp * 50 + 3, s"fp $nFp vs predicted $expFp")
  }

  test("prof_cms: estimates never underestimate and match a plain-Scala CMS") {
    val rows = operators.Relational3.queries("prof_cms")(spark, dir).collect()
    assert(rows.length == 5)
    val users = graft.Tables.load(spark, dir, "events")
      .select(col("user_id")).collect().map(_.getLong(0))
    val md = java.security.MessageDigest.getInstance("MD5")
    def h32(s: String): Long = {
      val d = md.digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    val cells = scala.collection.mutable.Map.empty[(Long, Long), Long]
    val truth = scala.collection.mutable.Map.empty[Long, Long]
    for (u <- users) {
      val h = h32(s"u:$u"); val h1 = h / 65536; val h2 = (h % 32768) * 2 + 1
      for (j <- 0L to 3L)
        cells((j, (h1 + j * h2) % 1024)) =
          cells.getOrElse((j, (h1 + j * h2) % 1024), 0L) + 1
      truth(u) = truth.getOrElse(u, 0L) + 1
    }
    for (r <- rows) {
      val (u, tc, est, over) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(tc == truth(u))
      val h = h32(s"u:$u"); val h1 = h / 65536; val h2 = (h % 32768) * 2 + 1
      val want = (0L to 3L).map(j => cells((j, (h1 + j * h2) % 1024))).min
      assert(est == want, s"user $u: est $est != scala $want")
      assert(over == est - tc && over >= 0, "CMS underestimated")
    }
  }

  test("prof_hll_merge: the merged registers equal the single-pass prof_hll") {
    // THE mergeability property: max-of-maxes over daily partials must
    // reproduce the one-pass registers exactly — zero tolerance.
    val merged = operators.Relational3.queries("prof_hll_merge")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val direct = operators.Relational3.queries("prof_hll")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getDouble(5))).toMap
    assert(merged.keySet == direct.keySet)
    for ((t, m) <- merged)
      assert(m == direct(t), s"$t: merged $m != direct ${direct(t)}")
  }

  test("ir_combsum: normalization in [0,1], MNZ doubles two-run docs") {
    val rows = operators.Retrieval.queries("ir_combsum")(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (inL, inD, cs, mnz) =
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(inL + inD >= 1)
      assert(cs >= -1e-9 && cs <= 2.0 + 1e-9, s"combsum $cs out of range")
      assert(math.abs(mnz - cs * (inL + inD)) < 2e-6,
        s"MNZ $mnz != $cs * ${inL + inD}")
    }
  }

  test("prof_kmv: kth hash matches a plain-Scala sort; error inside the envelope") {
    val rows = operators.Relational3.queries("prof_kmv")(spark, dir).collect()
    val pairs = graft.Tables.load(spark, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def h32(s: String): Long = {
      val d = md.digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    for (r <- rows) {
      val tpe = r.getString(0)
      val hs = pairs.filter(_._1 == tpe).map(p => h32(s"u:${p._2}")).distinct.sorted
      assert(r.getLong(1) == hs.length, s"$tpe n_hashes")
      assert(r.getLong(2) == hs(math.min(hs.length, 256) - 1), s"$tpe kth hash")
      // 1/sqrt(k) = 6.25% standard error; allow 4 sigma
      assert(math.abs(r.getDouble(5)) < 0.25, s"$tpe rel_err ${r.getDouble(5)}")
    }
  }

  test("prof_hll: registers match a plain-Scala HLL; error inside the p=12 envelope") {
    val rows = operators.Relational3.queries("prof_hll")(spark, dir).collect()
    val pairs = graft.Tables.load(spark, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def h32(s: String): Long = {
      val d = md.digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    for (r <- rows) {
      val tpe = r.getString(0)
      val regs = scala.collection.mutable.Map.empty[Long, Long]
      for ((t, u) <- pairs if t == tpe) {
        val h = h32(s"u:$u")
        val bk = h / 1048576; val rem = h % 1048576
        val rho = if (rem == 0) 21L
          else 21L - java.lang.Long.toBinaryString(rem).length
        if (rho > regs.getOrElse(bk, 0L)) regs(bk) = rho
      }
      assert(r.getLong(2) == 4096L - regs.size, s"$tpe zero_regs")
      assert(r.getLong(3) == regs.values.sum, s"$tpe register checksum")
      // the standard error of HLL at m=4096 is 1.04/sqrt(m) = 1.6%;
      // allow 4 sigma
      assert(math.abs(r.getDouble(6)) < 0.065, s"$tpe rel_err ${r.getDouble(6)}")
    }
  }

  test("ev_bootstrap_ci: CI contains the sample mean, boot_se matches theory") {
    // The containment property is the one a broken resampling scheme
    // fails while still hash-matching a broken oracle (the first-cut
    // additive mixer produced 200 lattice-shifted near-copies whose
    // shared bias put the mean 10 sigma outside the CI) — pin it, plus
    // the sigma/sqrt(n) envelope on the bootstrap SE.
    val rows = operators.EventWindows.queries("ev_bootstrap_ci")(spark, dir).collect()
    assert(rows.length >= 2)
    val stats = graft.Tables.load(spark, dir, "events")
      .select(col("event_type"), (floor(col("value") * 100 + lit(0.5)) / 100.0).as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), stddev_samp(col("v")).as("sd"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    for (r <- rows) {
      val (tpe, n, mean, lo, hi, se) = (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(lo <= mean && mean <= hi, s"$tpe: mean $mean outside CI [$lo, $hi]")
      assert(lo < hi, s"$tpe: degenerate CI")
      val (nn, sd) = stats(tpe)
      assert(nn == n)
      val seTheory = sd / math.sqrt(nn.toDouble)
      assert(se > 0.5 * seTheory && se < 2.0 * seTheory,
        s"$tpe: boot_se $se vs theory $seTheory")
    }
  }

  test("ir_bpref: running score matches a plain-Scala recomputation, ends in [0,1]") {
    val rows = operators.Retrieval.queries("ir_bpref")(spark, dir).collect()
      .sortBy(_.getLong(0))
    val rels = rows.map(_.getLong(2))
    val rTot = rels.sum; val nTot = rels.length - rTot
    var nonrel = 0L; var acc = 0.0
    for ((r, i) <- rows.zipWithIndex) {
      assert(r.getLong(3) == nonrel, s"rank ${i + 1}: nonrel_above")
      val contrib = if (rels(i) == 1 && math.min(rTot, nTot) > 0)
        1.0 - math.min(nonrel, rTot).toDouble / math.min(rTot, nTot).toDouble
      else 0.0
      acc += contrib
      assert(math.abs(r.getDouble(5) - acc / rTot) < 5e-7,
        s"rank ${i + 1}: bpref_run ${r.getDouble(5)} != ${acc / rTot}")
      if (rels(i) == 0) nonrel += 1
    }
    val fin = rows.last.getDouble(5)
    assert(fin >= 0.0 && fin <= 1.0)
  }

  test("ev_croston: the fold equals a plain-Scala Croston recursion; intermittent at this SF") {
    val d = graft.Tables.load(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("d"),
        (col("value") > 99.5).cast("long").as("hi"))
      .groupBy("event_type", "d").agg(sum("hi").as("c"))
      .collect().groupBy(_.getString(0)).view
      .mapValues(_.map(r => r.getDate(1).toString -> r.getLong(2)).toMap)
    val got = operators.EventWindows.queries("ev_croston")(spark, dir).collect()
    var sawZeroDay = false
    for (r <- got) {
      val tpe = r.getString(0)
      val byDay = d(tpe)
      val days = byDay.keys.toSeq.sorted
      val all = {
        val lo = java.time.LocalDate.parse(days.head)
        val hi = java.time.LocalDate.parse(days.last)
        Iterator.iterate(lo)(d0 => d0.plusDays(1))
          .takeWhile(d0 => !d0.isAfter(hi)).toSeq
      }
      var z = 0.0; var p = 0.0; var q = 1.0; var nd = 0L
      for (day <- all) {
        val x = byDay.getOrElse(day.toString, 0L).toDouble
        if (x > 0) {
          z = if (nd == 0) x else 0.25 * x + 0.75 * z
          p = if (nd == 0) q else 0.25 * q + 0.75 * p
          q = 1.0; nd += 1
        } else { q += 1.0; sawZeroDay = true }
      }
      assert(r.getLong(1) == all.length && r.getLong(2) == nd)
      assert(math.abs(r.getDouble(3) - z) < 5e-7, s"$tpe z")
      assert(math.abs(r.getDouble(4) - p) < 5e-7, s"$tpe p")
      if (p > 0) assert(math.abs(r.getDouble(5) - z / p) < 5e-7)
    }
    assert(sawZeroDay, "the demand cut no longer yields an intermittent series")
  }

  test("ev_sbc_class: the quadrant matches the published cutoffs per row") {
    val rows = operators.EventWindows.queries("ev_sbc_class")(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (nDays, m, adi, cv2, cls) = (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getString(5))
      assert(m >= 1 && m <= nDays)
      assert(math.abs(adi - nDays.toDouble / m) < 1e-6)
      assert(cv2 >= -1e-9, "CV-squared cannot be negative")
      val want =
        if (adi < 1.32 && cv2 < 0.49) "smooth"
        else if (adi >= 1.32 && cv2 < 0.49) "intermittent"
        else if (adi < 1.32) "erratic" else "lumpy"
      assert(cls == want, s"${r.getString(0)}: $cls != $want (adi $adi cv2 $cv2)")
    }
  }

  test("ev_page_hinkley: the fold equals a plain-Scala PH recursion") {
    val d = graft.Tables.load(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("d"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      .groupBy("event_type", "d")
      .agg(sum("c").as("sc"), count(lit(1)).as("cnt"))
      .orderBy("event_type", "d").collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.sortBy(_.getDate(1).toString)
        .map(r => r.getLong(2).toDouble / (100.0 * r.getLong(3))).toSeq)
    val got = operators.EventWindows.queries("ev_page_hinkley")(spark, dir)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(4), r.getLong(5))).toMap
    for ((tpe, xs) <- d) {
      var s = 0.0; var m = 0.0; var mn = 0.0; var alarm = 0L; var i = 0L
      for (x <- xs) {
        i += 1; s += x
        m += x - s / i - 0.1
        mn = math.min(mn, m)
        if (alarm == 0 && m - mn > 5.0) alarm = i
      }
      val (n, gm, gph, galarm) = got(tpe)
      assert(n == xs.length)
      assert(math.abs(gm - m) < 5e-7, s"$tpe: cum_dev $gm != $m")
      assert(math.abs(gph - (m - mn)) < 5e-7)
      assert(galarm == alarm, s"$tpe: alarm $galarm != $alarm")
      assert(gph >= 0.0)
    }
  }

  test("a22_levene_bf: W nonnegative, per-group stats self-consistent") {
    val rows = operators.Relational3.queries("a22_levene_bf")(spark, dir).collect()
    assert(rows.length >= 2)
    val w = rows.head.getDouble(5)
    assert(rows.forall(r => r.getDouble(5) == w), "bf_w differs across rows")
    assert(w >= 0.0, s"Brown-Forsythe W is negative: $w")
    for (r <- rows) {
      val (n, s1, s2) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(math.abs(r.getDouble(4) - s1.toDouble / n) < 1e-6)
      // Cauchy-Schwarz: (Σm·z)² ≤ N · Σm·z²
      assert(BigInt(s1) * BigInt(s1) <= BigInt(n) * BigInt(s2),
        "absdev moments violate Cauchy-Schwarz")
    }
  }

  test("ta_textrank: fixed-point ranks equal a plain-Scala weighted PageRank") {
    // Rebuild the co-occurrence graph and run the identical 10-round
    // integer recursion in plain Scala maps — every emitted rank must be
    // bit-equal (fixed-point arithmetic leaves no tolerance to hide in).
    val got = operators.TextAnalysis.queries("ta_textrank")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("text")).collect().map(_.getString(0))
    val w = scala.collection.mutable.Map.empty[(String, String), Long]
    for (d <- docs) {
      val ts = d.toLowerCase.split(" ").filter(_.matches("^[a-z]{4,}$"))
      for (i <- 0 until ts.length - 1 if ts(i) != ts(i + 1)) {
        val k = if (ts(i) < ts(i + 1)) (ts(i), ts(i + 1)) else (ts(i + 1), ts(i))
        w(k) = w.getOrElse(k, 0L) + 1
      }
    }
    val adj = scala.collection.mutable.Map.empty[String, List[(String, Long)]]
    for (((a, b), c) <- w) {
      adj(a) = (b, c) :: adj.getOrElse(a, Nil)
      adj(b) = (a, c) :: adj.getOrElse(b, Nil)
    }
    val wtot = adj.view.mapValues(_.map(_._2).sum).toMap
    var rank = adj.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 10) {
      val nxt = scala.collection.mutable.Map.empty[String, Long]
      for ((src, nbrs) <- adj; (dst, ww) <- nbrs)
        nxt(dst) = nxt.getOrElse(dst, 0L) + rank(src) * ww / wtot(src)
      rank = nxt.view.mapValues(sc => 150000L + 85L * sc / 100L).toMap
    }
    val want = rank.toSeq.sortBy { case (t, r) => (-r, t) }.take(20)
    assert(got.toSeq == want, s"top-20 diverges:\n got ${got.toSeq}\nwant $want")
  }

  test("ta_bpe_train: full merge table, non-increasing counts, chain passes suffice") {
    val m = operators.TextAnalysis.queries("ta_bpe_train")(spark, dir).collect()
    assert(m.length == 6, "one row per merge round")
    assert(m.map(_.getLong(0)).toSeq == (1L to 6L), "steps are 1..BpeMerges")
    // BPE invariant: a pair born from a merge (x, yz) can only occur where
    // (x, y) was adjacent before, so the chosen max count never increases.
    val counts = m.map(_.getLong(3)).toSeq
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      s"merge counts increased: $counts")
    assert(m.forall(r => r.getString(1).nonEmpty && r.getString(2).nonEmpty))
    // The replace-application semantics (see BpePasses scaladoc): a
    // same-symbol run fixes at the alternating merged/single pattern (the
    // boundary separator is consumed, so each merged pair skips one
    // symbol), and no live pattern occurrence survives the passes. Pin
    // the exact fixpoint so any change to the application rule is loud.
    import spark.implicits._
    val chain = "|" + Seq.fill(8)("a").mkString("|") + "|"
    val out = Seq(chain).toDF("repr")
      .select((1 to 3).foldLeft(col("repr"))((e, _) =>
        replace(e, lit("|a|a|"), lit("|aa|"))).as("r"))
      .collect()(0).getString(0)
    assert(out == "|aa|a|aa|a|aa|", s"unexpected fixpoint: $out")
    assert(!out.contains("|a|a|"), "live pattern occurrence survived the passes")
  }

  test("emb_kcenter: distinct centers, non-increasing radii, true farthest point") {
    val picks = operators.Embeddings.queries("emb_kcenter")(spark, dir).collect()
    assert(picks.length == 5)
    assert(picks.map(_.getLong(1)).distinct.length == 5, "a center repeated")
    // Greedy k-center's selection distances never increase: adding a
    // center can only shrink every point's nearest-center distance.
    val d = picks.drop(1).map(_.getDouble(2))
    assert(d.zip(d.tail).forall { case (a, b) => a >= b },
      s"selection radii increased: ${d.toSeq}")
    assert(d.forall(_ > 0), "farthest point at distance 0 — degenerate corpus")
    // Round 2's pick really is the farthest point from the seed.
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), graft.functions.VectorFns.asDouble(col("embedding")).as("v"))
    val seedV = e.orderBy("vec_id").limit(1).collect()(0).getSeq[Double](1).toArray
    val far = e.collect().map { r =>
      val v = r.getSeq[Double](1)
      (r.getLong(0), v.indices.foldLeft(0.0)((acc, i) =>
        acc + (v(i) - seedV(i)) * (v(i) - seedV(i))))
    }.maxBy { case (id, dd) => (dd, -id) }
    assert(picks(1).getLong(1) == far._1)
  }

  test("ann_mmr: distinct picks, first is top-relevance, scores non-increasing") {
    val picks = operators.Similarity.queries("ann_mmr")(spark, dir).collect()
    assert(picks.length == 5)
    assert(picks.map(_.getLong(1)).distinct.length == 5, "a pick repeated")
    // Round 1 is pure relevance: λ·rel − (1−λ)·0 maximized ⇔ rel maximized.
    assert(picks(0).getDouble(2) == picks.map(_.getDouble(2)).max,
      "first pick is not the most relevant candidate")
    // Candidate msim only grows and the pool only shrinks, so the selected
    // MMR score can never increase across rounds.
    val mmr = picks.map(_.getDouble(3))
    assert(mmr.zip(mmr.tail).forall { case (a, b) => a >= b },
      s"MMR scores increased: ${mmr.toSeq}")
  }

  test("dd_novelty: first doc fully novel, counts consistent, sum of novel = vocabulary") {
    val out = operators.Dedup.queries("dd_novelty")(spark, dir)
    val rows = out.collect()
    // The earliest doc introduced everything it contains.
    val firstDoc = rows.minBy(_.getLong(0))
    assert(firstDoc.getDouble(3) == 1.0, "earliest doc not fully novel")
    assert(rows.forall(r => r.getLong(2) <= r.getLong(1) && r.getLong(2) >= 0))
    // Every distinct shingle is introduced exactly once, so novel counts
    // across docs sum to the corpus shingle vocabulary.
    val vocab = Tables.load(spark, dir, "documents")
      .select(explode(array_distinct(graft.functions.VectorFns.shingles3(
        split(lower(col("text")), " ")))).as("sh"))
      .agg(countDistinct(col("sh"))).collect()(0).getLong(0)
    assert(rows.map(_.getLong(2)).sum == vocab,
      "novel counts do not partition the shingle vocabulary")
  }

  test("samp_unimax: allocations exhaust the budget exactly and respect caps") {
    val out = operators.Relational2.queries("samp_unimax")(spark, dir).collect()
    val n = out.map(_.getLong(1))
    val alloc = out.map(_.getLong(2))
    assert(out.nonEmpty)
    assert(alloc.zip(n).forall { case (a, s) => a >= 0 && a <= s },
      "an allocation exceeds its source size")
    // The waterfill spends the budget to the last document.
    assert(alloc.sum == n.sum / 2, s"allocated ${alloc.sum} of budget ${n.sum / 2}")
    // Capped sources all sit at the shared water level (within the +1
    // remainder distribution); uncapped sources are taken whole.
    val capped = out.filter(_.getBoolean(3)).map(_.getLong(2))
    if (capped.length > 1)
      assert(capped.max - capped.min <= 1, s"water level not shared: ${capped.toSeq}")
    out.filterNot(_.getBoolean(3)).foreach(r => assert(r.getLong(2) == r.getLong(1)))
  }

  test("a16_gini: bounds hold and the grouped identity matches a direct rank sum") {
    val out = operators.Relational3.queries("a16_gini")(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getDouble(2) >= 0 && r.getDouble(2) < 1,
      s"gini out of range: $r"))
    // Recompute one type's Gini from explicitly sorted per-row ranks.
    val cents = Tables.load(spark, dir, "events")
      .where(col("event_type") === "purchase")
      .select(floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      .collect().map(_.getLong(0)).sorted
    val n = cents.length.toLong
    val s = cents.map(BigInt(_)).sum
    val t = cents.zipWithIndex.map { case (c, i) => BigInt(c) * (i + 1) }.sum
    val direct = (BigDecimal(2 * t - (n + 1) * s) / BigDecimal(n * s))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = out.find(_.getString(0) == "purchase").get.getDouble(2)
    assert(math.abs(got - direct) <= 1e-6, s"grouped $got vs direct $direct")
  }

  test("gr_linkpred: candidates are non-edges with true common-neighbor counts") {
    val out = operators.Graph.queries("gr_linkpred")(spark, dir).collect()
    assert(out.nonEmpty, "no link-prediction candidates at sf0.001")
    out.foreach { r =>
      assert(r.getLong(2) >= 2 && r.getLong(2) <= r.getLong(3))
      val j = r.getDouble(4)
      assert(j > 0 && j <= 1, s"jaccard out of range: $r")
    }
    // No candidate may be an existing co-purchase edge.
    val cand = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    val items = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = items.groupBy(_._1).values
      .flatMap(g => g.map(_._2).sorted.combinations(2).map(p => (p(0), p(1))))
      .toSeq.groupBy(identity).collect { case (p, os) if os.size >= 2 => p }.toSet
    assert(cand.intersect(byOrder).isEmpty, "a candidate is already an edge")
  }

  test("ta_bpe_apply: merges only ever shrink token counts, never below half") {
    val out = operators.TextAnalysis.queries("ta_bpe_apply")(spark, dir).collect()
    assert(out.length == 500)
    out.foreach { r =>
      val (chars, bpe) = (r.getLong(1), r.getLong(2))
      // each applied merge replaces 2 symbols with 1, so counts only
      // shrink and can never drop below ceil(chars/2) with single-level
      // merges... but merged tokens can merge again, so only the upper
      // bound is universal.
      assert(bpe <= chars, s"merge grew the token count: $r")
      assert(bpe >= 1)
    }
    // The 6 learned merges must actually fire somewhere: corpus-wide
    // compression strictly below 1.
    val totC = out.map(_.getLong(1)).sum.toDouble
    val totB = out.map(_.getLong(2)).sum.toDouble
    assert(totB / totC < 0.95, s"merges barely fired: ${totB / totC}")
  }

  test("ta_nb_langid: predictions in-domain and above the majority baseline") {
    val out = operators.TextAnalysis.queries("ta_nb_langid")(spark, dir).collect()
    assert(out.length == 500)
    val classes = Set("de", "en", "es", "fr", "zh")
    assert(out.forall(r => classes(r.getString(2))))
    val acc = out.count(r => r.getString(1) == r.getString(2)).toDouble / out.length
    val majority = out.groupBy(_.getString(1)).values.map(_.length).max.toDouble / out.length
    // A trained model must beat always-guess-the-majority-class; on this
    // heavily-overlapping synthetic vocabulary the margin is small but
    // must exist.
    assert(acc >= majority, s"accuracy $acc below majority baseline $majority")
  }

  test("a17_mwu: grouped identity matches directly computed midranks on one pair") {
    val out = operators.Relational3.queries("a17_mwu")(spark, dir).collect()
    assert(out.length == 10, "5 types should yield 10 unordered pairs")
    val row = out.find(r =>
      r.getString(0) == "click" && r.getString(1) == "purchase").get
    val vals = Tables.load(spark, dir, "events")
      .where(col("event_type").isin("click", "purchase"))
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val sorted = vals.sortBy(_._2)
    // midrank of a tied run starting at 1-based position p with length m
    // is p + (m−1)/2
    val midrank = sorted.zipWithIndex.groupBy(_._1._2).toSeq.flatMap { case (_, g) =>
      val mr = (g.map(_._2 + 1).sum).toDouble / g.length
      g.map { case ((t, _), _) => (t, mr) }
    }
    val nA = vals.count(_._1 == "click").toDouble
    val nB = vals.count(_._1 == "purchase").toDouble
    val rA = midrank.collect { case ("click", mr) => mr }.sum
    val direct = (rA - nA * (nA + 1) / 2) - nA * nB / 2
    assert(math.abs(row.getDouble(4) - direct) < 1e-4,
      s"u_minus_mean ${row.getDouble(4)} vs direct $direct")
  }

  test("a18_ks: D in [0,1] and matches a directly computed CDF distance on one pair") {
    val out = operators.Relational3.queries("a18_ks")(spark, dir).collect()
    assert(out.length == 10)
    out.foreach(r => assert(r.getDouble(4) >= 0 && r.getDouble(4) <= 1))
    val row = out.find(r =>
      r.getString(0) == "click" && r.getString(1) == "purchase").get
    val vals = Tables.load(spark, dir, "events")
      .where(col("event_type").isin("click", "purchase"))
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val a = vals.filter(_._1 == "click").map(_._2).sorted
    val b = vals.filter(_._1 == "purchase").map(_._2).sorted
    val grid = (a ++ b).distinct.sorted
    val d = grid.map { x =>
      math.abs(a.count(_ <= x).toDouble / a.length -
        b.count(_ <= x).toDouble / b.length)
    }.max
    assert(math.abs(row.getDouble(4) - d) < 1e-4,
      s"D ${row.getDouble(4)} vs direct $d")
  }

  test("ev_markov: a probability vector at the chain's fixpoint") {
    val out = operators.EventWindows.queries("ev_markov")(spark, dir).collect()
    assert(out.nonEmpty)
    val pi = out.map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pi.values.forall(v => v > 0 && v < 1))
    assert(math.abs(pi.values.sum - 1.0) < 1e-4,
      s"stationary mass drifted: ${pi.values.sum}")
    // π ≈ πP after 24 iterations: recompute one more mat-vec step from
    // the raw transition counts and require a small residual.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .where(col("prev").isNotNull)
      .groupBy("prev", "event_type").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val rowSum = trans.groupBy(_._1).map { case (f, ps) => f -> ps.map(_._3).sum.toDouble }
    val next = trans.groupBy(_._2).map { case (t, ins) =>
      t -> ins.map { case (f, _, c) => pi.getOrElse(f, 0.0) * (c / rowSum(f)) }.sum
    }
    val resid = next.map { case (t, v) => math.abs(v - pi.getOrElse(t, 0.0)) }.max
    assert(resid < 1e-3, s"not at fixpoint after 24 iterations: residual $resid")
  }

  test("ev_ewma: bounded chunked form equals the naive per-type window") {
    // The production plan never windows on event_type alone; this pins
    // that the KeyedRank chunk + boundary-strip plumbing is semantically
    // invisible by recomputing the naive single-window form (fine at
    // sf0.001) and diffing exactly.
    val fast = SparkEntry.queries("ev_ewma")(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-49, 0)
    val lst = collect_list(col("c")).over(w)
    val horner = aggregate(reverse(lst), lit(0L).cast("decimal(38,0)"),
      (acc, x) => (acc * lit(2) + x).cast("decimal(38,0)"))
    val denom = aggregate(lst, lit(0L), (acc, _) => acc * 2 + 1)
    val naive = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("ts"), col("value"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      .withColumn("ewma",
        round(horner.cast("double") / denom.cast("double") / 100.0, 6))
      .select(col("event_id"), col("event_type"), col("value"), col("ewma"))
    assert(fast.exceptAll(naive).count() == 0 && naive.exceptAll(fast).count() == 0)
  }

  test("ev_hurst: rs_w5 equals a plain-Scala R/S recompute; hurst in range") {
    val out = SparkEntry.queries("ev_hurst")(spark, dir).collect()
    assert(out.nonEmpty)
    // brute-force R/S at w=5 for every type from the raw events
    val daily = Tables.load(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("d"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      .groupBy("event_type", "d").agg(sum("c").as("sc"))
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val byType = daily.groupBy(_._1)
    for (row <- out) {
      val t = row.getString(0)
      val days = byType(t).map(x => (x._2, x._3)).sortBy(_._1)
      val (lo, hi) = (days.head._1, days.last._1)
      val filled = Iterator.iterate(lo)(_.plusDays(1)).takeWhile(!_.isAfter(hi))
        .map(d => days.toMap.getOrElse(d, 0L)).toVector
      val w = 5
      val rss = filled.grouped(w).filter(_.size == w).flatMap { blk =>
        val s = blk.map(BigInt(_)).sum
        val q = blk.map(x => BigInt(x) * x).sum
        val vd = q * w - s * s
        if (vd <= 0) None
        else {
          val wy = blk.scanLeft(BigInt(0))(_ + _).tail.zipWithIndex
            .map { case (p, i) => p * w - (BigInt(i) + 1) * s }
          Some((wy.max - wy.min).toDouble / math.sqrt(vd.toDouble))
        }
      }.toVector
      if (rss.isEmpty) assert(row.isNullAt(2))
      else {
        val mean = rss.foldLeft(0.0)(_ + _) / rss.length
        assert(math.abs(row.getDouble(2) - mean) <= 1e-6,
          s"$t: rs_w5 ${row.getDouble(2)} vs recomputed $mean")
      }
      if (!row.isNullAt(5)) {
        val h = row.getDouble(5)
        assert(h > -0.5 && h < 1.5, s"$t: implausible hurst $h")
      }
    }
  }

  test("ev_granger: shared spine n, F nonnegative, rss_ratio in (0, 1]") {
    val out = SparkEntry.queries("ev_granger")(spark, dir)
    val k = Tables.load(spark, dir, "events")
      .select("event_type").distinct().count()
    assert(out.count() == k * (k - 1)) // every ordered pair
    assert(out.select(countDistinct("n")).head().getLong(0) == 1,
      "global spine must give every pair the same n")
    assert(out.where(col("f_stat") < 0).count() == 0)
    assert(out.where(col("rss_ratio") <= 0 || col("rss_ratio") > 1 + 1e-9)
      .count() == 0) // adding a regressor never raises RSS
  }

  test("ev_entropy_rate: probability identities and the conditional-entropy bound") {
    val out = SparkEntry.queries("ev_entropy_rate")(spark, dir)
    // Σπ = 1 over from-states (rounding gives ±k·5e-7 slack)
    val piSum = out.agg(sum("pi")).head().getDouble(0)
    assert(math.abs(piSum - 1.0) < 1e-4, s"pi sums to $piSum")
    // 0 ≤ H(next|f) ≤ ln k_next, contrib = pi·h within rounding
    assert(out.where(col("h_cond") < 0).count() == 0)
    assert(out.where(col("h_cond") >
      log(col("k_next").cast("double")) + lit(1e-9)).count() == 0)
    assert(out.where(
      abs(col("rate_contrib") - col("pi") * col("h_cond")) > 2e-6).count() == 0)
  }

  test("a28_bartlett: one-row verdict, nonnegative statistic, k = live groups") {
    val out = SparkEntry.queries("a28_bartlett")(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    val k = Tables.load(spark, dir, "events")
      .select("event_type").distinct().count()
    assert(r.getLong(0) == k) // all types have n≥2 and variance at sf0.001
    assert(r.getDouble(2) > 0) // pooled variance
    // T ≥ 0 is Jensen on the concave ln: ln of the pooled (weighted-mean)
    // variance dominates the weighted mean of the per-group lns
    assert(r.getDouble(3) >= 0, s"negative Bartlett T ${r.getDouble(3)}")
  }

  test("a30_tukey_hsd: all pairs once, q nonnegative, means match direct") {
    val out = SparkEntry.queries("a30_tukey_hsd")(spark, dir)
    val li = Tables.load(spark, dir, "lineitem")
    val k = li.select("l_returnflag").distinct().count()
    assert(out.count() == k * (k - 1) / 2)
    assert(out.where(col("q_stat") < 0).count() == 0)
    val direct = li.groupBy(col("l_returnflag").as("flag_a"))
      .agg(round(avg(round(col("l_quantity") * 100).cast("long")) / 100.0, 4)
        .as("m"))
    val j = out.join(direct, "flag_a")
      .where(abs(round(col("mean_a"), 4) - col("m")) > 1e-9)
    assert(j.count() == 0, "mean_a disagrees with a direct group average")
  }

  test("gr_degree_dist: histogram mass = 2m, ccdf monotone, alpha > 1") {
    val out = SparkEntry.queries("gr_degree_dist")(spark, dir).collect()
    assert(out.nonEmpty)
    // Σ deg·n_nodes = 2·edges — recompute the edge count independently
    val massFromHist = out.map(r => r.getLong(0) * r.getLong(1)).sum
    val tri = SparkEntry.queries("gr_assortativity")(spark, dir)
      .head().getLong(0) // n_pairs of the symmetrized edge list = 2m
    assert(massFromHist == tri,
      s"degree mass $massFromHist != symmetrized edges $tri")
    // ccdf non-increasing in deg; first (smallest-deg) row has ccdf 1.0
    val sorted = out.sortBy(_.getLong(0))
    assert(sorted.head.getDouble(3) == 1.0)
    assert(sorted.sliding(2).forall {
      case Array(a, b) => a.getDouble(3) >= b.getDouble(3); case _ => true })
    val alpha = out.head.getDouble(4)
    assert(alpha > 1.0, s"power-law MLE must exceed 1, got $alpha")
  }

  test("ir_borda: points recompute from the rank columns; k-bounded output") {
    val out = SparkEntry.queries("ir_borda")(spark, dir).collect()
    assert(out.nonEmpty && out.length <= 20)
    val topN = 50L
    for (r <- out) {
      val (lex, dense, pts) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val expect = (if (lex > 0) topN + 1 - lex else 0L) +
        (if (dense > 0) topN + 1 - dense else 0L)
      assert(pts == expect, s"doc ${r.getLong(0)}: $pts != $expect")
    }
    // emitted in non-increasing point order with doc_id tiebreak
    assert(out.sliding(2).forall {
      case Array(a, b) => a.getLong(3) > b.getLong(3) ||
        (a.getLong(3) == b.getLong(3) && a.getLong(0) < b.getLong(0))
      case _ => true })
  }

  test("ev_burstiness: B equals a plain-Scala recompute and sits in (-1, 1)") {
    val out = SparkEntry.queries("ev_burstiness")(spark, dir).collect()
    assert(out.nonEmpty)
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byType = ev.groupBy(_._1)
    for (row <- out) {
      val t = row.getString(0)
      val gaps = byType(t).sortBy(x => (x._2, x._3)).map(_._2)
        .sliding(2).collect { case Array(a, b) => BigInt(b - a) }.toVector
      assert(row.getLong(1) == gaps.length)
      val (n, st) = (BigInt(gaps.length), gaps.sum)
      val stt = gaps.map(g => g * g).sum
      val d = (n * stt - st * st).toDouble
      val b = (math.sqrt(d) - st.toDouble) / (math.sqrt(d) + st.toDouble)
      assert(math.abs(row.getDouble(3) - b) <= 1e-6,
        s"$t: b_coef ${row.getDouble(3)} vs recomputed $b")
      assert(row.getDouble(3) > -1 && row.getDouble(3) < 1)
    }
  }

  test("ev_seasonal_strength: strength in [0,1], F nonnegative, ANOVA identity") {
    val out = SparkEntry.queries("ev_seasonal_strength")(spark, dir)
    assert(out.count() > 0)
    assert(out.where(col("seasonal_strength") < -1e-9 ||
      col("seasonal_strength") > 1 + 1e-9).count() == 0)
    assert(out.where(col("f_stat") < 0).count() == 0)
    // F and strength describe the same decomposition:
    // F = (s/(k-1)) / ((1-s)/(n-k)) with s = SS_b/SS_t — cross-check
    for (r <- out.collect() if !r.isNullAt(3) && !r.isNullAt(4)) {
      val (n, k) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      val (f, s) = (r.getDouble(3), r.getDouble(4))
      val fFromS = (s / (k - 1)) / ((1 - s) / (n - k))
      assert(math.abs(f - fFromS) <= 1e-3 * math.max(1.0, f),
        s"${r.getString(0)}: F $f vs identity $fFromS")
    }
  }

  test("a31_mood_median: cells recompute against a directly selected grand median") {
    val out = SparkEntry.queries("a31_mood_median")(spark, dir).collect()
    val cents = Tables.load(spark, dir, "events")
      .select(floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      .collect().map(_.getLong(0)).sorted
    val med = cents((cents.length + 1) / 2 - 1) // lower median, 1-based k
    val byType = Tables.load(spark, dir, "events")
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
    for (row <- out) {
      val t = row.getString(0)
      assert(row.getLong(1) == byType(t).length)
      assert(row.getLong(2) == byType(t).count(_._2 > med),
        s"$t: n_above ${row.getLong(2)} vs direct count at median $med")
    }
    // the chi2 contributions sum to a finite Mood statistic
    assert(out.forall(r => r.isNullAt(4) || r.getDouble(4) >= 0))
  }

  test("ev_decompose: additive identity holds and seasonal indexes center to zero") {
    val out = SparkEntry.queries("ev_decompose")(spark, dir)
    // value = trend + seasonal + residual wherever the trend is defined
    // (each term rounds to 6dp independently → ±2e-6 slack)
    val broken = out.where(col("trend").isNotNull &&
      abs(col("value") - col("trend") - col("seasonal") - col("residual"))
        > 3e-6)
    assert(broken.count() == 0)
    // the seasonal component is CENTERED: per type the distinct dow
    // indexes sum to ~0
    val seas = out.collect().groupBy(_.getString(0)).map { case (t, rows) =>
      t -> rows.map(r => (r.getDate(1).toLocalDate.getDayOfWeek,
        r.getDouble(4))).distinct.map(_._2).sum
    }
    for ((t, s) <- seas)
      assert(math.abs(s) < 1e-4, s"$t: seasonal indexes sum to $s")
    // 3-day edges carry no trend; interior days all do
    val perType = out.groupBy("event_type").agg(
      count(lit(1)).as("n"), count(col("trend")).as("nt"))
    assert(perType.where(col("nt") =!= col("n") - 6).count() == 0)
  }

  test("gr_adamic_adar: scores recompute from the pruned subgraph; no existing edges") {
    val out = SparkEntry.queries("gr_adamic_adar")(spark, dir).collect()
    assert(out.nonEmpty)
    // rebuild the hub-pruned undirected subgraph exactly as the op does
    val items = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val basket = operators.Relational3.basketPairs(items)
      .groupBy(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
      .agg(count(lit(1)).as("c")).where(col("c") >= 2)
      .select("pa", "pb").collect().map(r => (r.getLong(0), r.getLong(1)))
    val nbr0 = (basket.map(p => (p._1, p._2)) ++ basket.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).toSet }
    val keep = nbr0.filter(_._2.size <= 64).keySet
    val nbr = nbr0.collect { case (u, vs) if keep(u) =>
      u -> vs.filter(keep) }.toMap
    val edgeSet = basket.toSet
    for (r <- out.take(300)) {
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(!edgeSet((a, b)), s"($a,$b) is an existing edge")
      val cn = (nbr(a) & nbr(b)).toSeq.sorted
      assert(cn.size == r.getLong(2))
      val aa = cn.map(z => 1.0 / math.log(nbr(z).size.toDouble))
        .foldLeft(0.0)(_ + _)
      assert(math.abs(aa - r.getDouble(3)) <= 1e-6,
        s"($a,$b): aa ${r.getDouble(3)} vs recomputed $aa")
    }
  }

  test("dd_simhash_components: classes equal union-find over the pair form exactly") {
    // The operator's contract is that the duplication-independent
    // exact-sig-star + rep-pair construction has the SAME transitive
    // closure as dd_simhash_hamming's full pair enumeration. Prove it:
    // union-find over the collected pairs must reproduce every
    // (component, n_members, keep_id) row bit-for-bit.
    val pairs = SparkEntry.queries("dd_simhash_hamming")(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = parent.keys.toSeq.groupBy(find)
      .map { case (_, members) =>
        (members.min, members.size.toLong, members.min) }
      .toSet
    val got = SparkEntry.queries("dd_simhash_components")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect,
      s"class sets differ: only-engine=${(got -- expect).take(3)} " +
        s"only-unionfind=${(expect -- got).take(3)}")
  }

  test("a32_levene: F matches a direct Brown–Forsythe recompute") {
    val row = SparkEntry.queries("a32_levene")(spark, dir).collect().head
    val byType = Tables.load(spark, dir, "events")
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
      .map { case (t, rs) => t -> rs.map(_._2).sorted }
    // per-type deviates |2c − (m1+m2)| off the two middle order stats
    val z = byType.toSeq.sortBy(_._1).map { case (_, cs) =>
      val n = cs.length
      val m2 = cs((n + 1) / 2 - 1) + cs(n / 2) // 1-based (n+1)/2 and n/2+1
      cs.map(c => math.abs(2 * c - m2).toDouble)
    }
    val all = z.flatten
    val (nTot, k) = (all.length.toDouble, z.length.toDouble)
    val grand = all.sum / nTot
    val between = z.map(g => g.length * math.pow(g.sum / g.length - grand, 2)).sum
    val within = z.map(g => { val m = g.sum / g.length
      g.map(x => (x - m) * (x - m)).sum }).sum
    val f = (nTot - k) / (k - 1) * between / within
    assert(row.getLong(0) == z.length && row.getLong(1) == all.length)
    assert(math.abs(row.getDouble(4) - f) <= 1e-4 * math.max(1.0, f),
      s"F ${row.getDouble(4)} vs direct $f")
  }

  test("ev_binseg: split minimizes SSE over an exhaustive scan per type") {
    val out = SparkEntry.queries("ev_binseg")(spark, dir).collect()
    val daily = Tables.load(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("d"))
      .groupBy("event_type", "d").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate,
        r.getLong(2))).groupBy(_._1)
    def sse(xs: Seq[Double]): Double = {
      val m = xs.sum / xs.length; xs.map(x => (x - m) * (x - m)).sum
    }
    for (row <- out) {
      val t = row.getString(0)
      val obs = daily(t).map(r => (r._2, r._3)).toMap
      val (mn, mx) = (daily(t).map(_._2).min, daily(t).map(_._2).max)
      val series = Iterator.iterate(mn)(_.plusDays(1)).takeWhile(!_.isAfter(mx))
        .map(d => obs.getOrElse(d, 0L).toDouble).toVector
      val costs = (1 until series.length).map(kk =>
        kk -> (sse(series.take(kk)) + sse(series.drop(kk))))
      val (bestK, bestC) = costs.minBy { case (kk, c) => (c, kk) }
      assert(row.getLong(2) == bestK,
        s"$t: n_left ${row.getLong(2)} vs exhaustive argmin $bestK")
      assert(math.abs(row.getDouble(4) - bestC) <= 1e-4 * math.max(1.0, bestC))
      assert(row.getDouble(5) >= -1e-9, s"$t: negative gain")
    }
  }

  test("ev_wilcoxon_sr: W+ and z match a direct midrank recompute") {
    val out = SparkEntry.queries("ev_wilcoxon_sr")(spark, dir).collect()
    val daily = Tables.load(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("d"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      .groupBy("event_type", "d").agg(sum("c").as("v"))
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate,
        r.getLong(2))).groupBy(_._1)
    for (row <- out) {
      val t = row.getString(0)
      val obs = daily(t).map(r => (r._2, r._3)).toMap
      val (mn, mx) = (daily(t).map(_._2).min, daily(t).map(_._2).max)
      val series = Iterator.iterate(mn)(_.plusDays(1)).takeWhile(!_.isAfter(mx))
        .map(d => obs.getOrElse(d, 0L)).toVector
      val diffs = (7 until series.length).map(i => series(i) - series(i - 7))
        .filter(_ != 0L)
      val sorted = diffs.map(math.abs).sorted
      def midrank(a: Long): Double = {
        val lo = sorted.indexOf(a); val hi = sorted.lastIndexOf(a)
        (lo + 1 + hi + 1) / 2.0
      }
      val wPlus = diffs.filter(_ > 0).map(d => midrank(math.abs(d))).sum
      val n = diffs.length.toDouble
      val tiesAdj = diffs.map(math.abs).groupBy(identity).values
        .map(g => { val tt = g.length.toDouble; tt * tt * tt - tt }).sum
      val varW = n * (n + 1) * (2 * n + 1) / 24.0 - tiesAdj / 48.0
      val zz = (wPlus - n * (n + 1) / 4.0) / math.sqrt(varW)
      assert(row.getLong(1) == diffs.length)
      assert(math.abs(row.getDouble(2) - wPlus) <= 1e-6,
        s"$t: W+ ${row.getDouble(2)} vs direct $wPlus")
      assert(math.abs(row.getDouble(3) - zz) <= 1e-4,
        s"$t: z ${row.getDouble(3)} vs direct $zz")
    }
  }

  test("a33_bh_fdr: p from erfc, BH adjustment recomputed, z ties rate test") {
    val out = SparkEntry.queries("a33_bh_fdr")(spark, dir).collect()
    val rate = SparkEntry.queries("ev_rate_test")(spark, dir).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(5)) None
        else Some(r.getDouble(5)))).toMap
    def erfc(x: Double): Double = { // same A&S 7.1.26 the operator uses
      val t = 1.0 / (1.0 + 0.3275911 * x)
      (((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t
        - 0.284496736) * t + 0.254829592) * t) * math.exp(-x * x)
    }
    for (r <- out) assert(rate(r.getString(0)) ==
      (if (r.isNullAt(1)) None else Some(r.getDouble(1))),
      s"${r.getString(0)}: z disagrees with ev_rate_test")
    val scored = out.filter(!_.isNullAt(2))
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4)))
    for ((t, z, p, _, _) <- scored)
      assert(math.abs(p - erfc(math.abs(z) / math.sqrt(2.0))) <= 2e-6,
        s"$t: p $p vs erfc recompute") // z is round(6), p compares through it
    // BH: sort by p, adj_i = min_{j>=i} p_j*m/j clamped at 1 — recompute
    val m = scored.length
    val byP = scored.sortBy(r => (r._3, r._1))
    val raw = byP.zipWithIndex.map { case (r, i) => r._3 * m / (i + 1) }
    val adj = raw.scanRight(Double.MaxValue)(math.min).init.map(math.min(_, 1.0))
    for (((r, a), i) <- byP.zip(adj).zipWithIndex) {
      assert(math.abs(r._4 - a) <= 2e-6, s"${r._1}: p_bh ${r._4} vs BH $a")
      assert(r._5 == (r._4 <= 0.05), s"${r._1}: reject flag")
    }
    // monotone: p_bh nondecreasing in p, and always >= p up to rounding
    for (i <- 1 until byP.length)
      assert(byP(i)._4 >= byP(i - 1)._4 - 1e-9)
    for (r <- scored) assert(r._4 >= r._3 - 2e-6)
  }

  test("rec_coverage: coverage and gini recompute from the cooccur pair frame") {
    val row = SparkEntry.queries("rec_coverage")(spark, dir).collect().head
    val pairs = SparkEntry.queries("rec_cooccur")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val recs = pairs.flatMap { case (pa, pb, c) =>
      Seq((pa, pb, c), (pb, pa, c)) }
    val top = recs.groupBy(_._1).values.flatMap(g =>
      g.sortBy(r => (-r._3, r._2)).take(5)).toSeq
    val catalog = Tables.load(spark, dir, "lineitem")
      .select("l_partkey").distinct().count()
    assert(row.getLong(0) == catalog)
    assert(row.getLong(1) == top.map(_._1).distinct.size)
    assert(row.getLong(2) == top.map(_._2).distinct.size)
    assert(math.abs(row.getDouble(3) -
      top.map(_._2).distinct.size.toDouble / catalog) <= 1e-6)
    // gini via the definitional mean-difference over slot counts
    val f = top.groupBy(_._2).values.map(_.size.toLong).toSeq
    val md = (for (a <- f; b <- f) yield math.abs(a - b).toDouble).sum
    val gini = md / (2.0 * f.length * f.sum)
    assert(math.abs(row.getDouble(4) - gini) <= 1e-6,
      s"gini ${row.getDouble(4)} vs direct $gini")
  }

  test("a34_friedman: Q matches a direct complete-block midrank recompute") {
    val out = SparkEntry.queries("a34_friedman")(spark, dir).collect()
    val daily = Tables.load(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("d"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      .groupBy("event_type", "d").agg(sum("c").as("v"))
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate,
        r.getLong(2)))
    val k = daily.map(_._1).distinct.length
    val byDay = daily.groupBy(_._2).filter(_._2.length == k)
    val ranks = byDay.values.flatMap { rows =>
      val sorted = rows.map(_._3).sorted
      rows.map { case (t, _, v) =>
        val lo = sorted.indexOf(v) + 1; val hi = sorted.lastIndexOf(v) + 1
        (t, (lo + hi) / 2.0) } }.toSeq
    val n = byDay.size
    val rSum = ranks.groupBy(_._1).map { case (t, rs) => t -> rs.map(_._2).sum }
    val a2 = ranks.map(r => r._2 * r._2).sum
    val num = rSum.values.map(rj => math.pow(rj - n * (k + 1) / 2.0, 2)).sum
    val den = a2 - n * k * (k + 1) * (k + 1) / 4.0
    val q = (k - 1) * num / den
    for (r <- out) {
      assert(r.getLong(1) == n, s"${r.getString(0)}: n_days")
      assert(r.getLong(2) == k)
      assert(math.abs(r.getDouble(3) - rSum(r.getString(0)) / n) <= 1e-6,
        s"${r.getString(0)}: mean_rank")
      assert(math.abs(r.getDouble(4) - q) <= 1e-4 * math.max(1.0, q),
        s"${r.getString(0)}: Q ${r.getDouble(4)} vs direct $q")
    }
  }

  test("mm_dup_images: banded join finds exactly the brute-force pairs") {
    val got = SparkEntry.queries("mm_dup_images")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val hashes = SparkEntry.queries("mm_ahash")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(3)))
    // brute force: every unordered pair at string Hamming <= 3. The 4x16
    // banding is pigeonhole-complete at this threshold, so the sets must
    // be EQUAL, not just a superset check.
    val expect = (for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      d = ha.zip(hb).count { case (x, y) => x != y } if d <= 3
    } yield (a, b, d.toLong)).toSet
    assert(got.toSet == expect,
      s"pairs differ: only-engine=${(got.toSet -- expect).take(3)} " +
        s"only-brute=${(expect -- got.toSet).take(3)}")
  }

  test("samp_importance: reweighted mean and ESS recompute per lang") {
    val row = SparkEntry.queries("samp_importance")(spark, dir).collect().head
    val docs = Tables.load(spark, dir, "documents")
      .select("lang", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val byLang = docs.groupBy(_._1)
    val (nn, ll) = (docs.length, byLang.size)
    assert(row.getLong(0) == nn && row.getLong(1) == ll)
    val naive = docs.map(_._2).sum.toDouble / nn
    val weighted = byLang.values.map(g =>
      g.map(_._2).sum.toDouble / g.length).sum / ll
    val ess = ll.toDouble * ll / byLang.values.map(g => 1.0 / g.length).sum
    assert(math.abs(row.getDouble(2) - naive) <= 1e-6)
    assert(math.abs(row.getDouble(3) - weighted) <= 1e-6,
      s"weighted ${row.getDouble(3)} vs direct $weighted")
    assert(math.abs(row.getDouble(4) - ess) <= 1e-4 * math.max(1.0, ess))
    assert(math.abs(row.getDouble(5) - nn / ess) <= 1e-6)
  }

  test("prof_hash_quality: chi2 recomputes from direct bucket counts") {
    val row = SparkEntry.queries("prof_hash_quality")(spark, dir)
      .collect().head
    val buckets = Tables.load(spark, dir, "events")
      .select(graft.Exact.hash32(col("event_id").cast("string")).as("h"))
      .collect().map(r => r.getLong(0) % 256)
    val counts = (0L until 256L).map(b => buckets.count(_ == b).toLong)
    val e = buckets.length / 256.0
    val chi2 = counts.map(o => (o - e) * (o - e) / e).sum
    assert(row.getLong(0) == buckets.length && row.getLong(1) == 255L)
    assert(row.getLong(2) == counts.min && row.getLong(3) == counts.max)
    assert(math.abs(row.getDouble(4) - chi2) <= 1e-4 * math.max(1.0, chi2),
      s"chi2 ${row.getDouble(4)} vs direct $chi2")
  }

  test("ev_impact: counterfactual and CI recompute per type") {
    val out = SparkEntry.queries("ev_impact")(spark, dir).collect()
    val pivot = java.time.LocalDate.parse("2024-01-16")
    val daily = Tables.load(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("d"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      .groupBy("event_type", "d").agg(sum("c").as("sc"))
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate,
        r.getLong(2))).groupBy(_._1)
    for (row <- out) {
      val t = row.getString(0)
      val obs = daily(t).map(r => (r._2, r._3)).toMap
      val (mn, mx) = (daily(t).map(_._2).min, daily(t).map(_._2).max)
      val series = Iterator.iterate(mn)(_.plusDays(1)).takeWhile(!_.isAfter(mx))
        .map(day => (day, obs.getOrElse(day, 0L))).toVector
      val dow = (day: java.time.LocalDate) =>
        java.time.temporal.ChronoUnit.DAYS.between(
          java.time.LocalDate.ofEpochDay(0), day) % 7
      val pre = series.filter(_._1.isBefore(pivot))
      val post = series.filterNot(_._1.isBefore(pivot))
      val mhat = pre.groupBy(p => dow(p._1)).map { case (w, g) =>
        w -> g.map(_._2).sum.toDouble / g.length }
      assert(row.getLong(1) == pre.length && row.getLong(2) == post.length)
      val act = post.map(_._2).sum.toDouble
      val exp0 = post.map(p => mhat(dow(p._1))).sum
      assert(math.abs(row.getDouble(3) - act / 100.0) <= 1e-6)
      assert(math.abs(row.getDouble(4) - exp0 / 100.0) <= 1e-4)
      assert(math.abs(row.getDouble(5) - (act - exp0) / 100.0) <= 1e-4)
      val rss = pre.map(p => math.pow(p._2 - mhat(dow(p._1)), 2)).sum
      val hw = 1.96 * math.sqrt(rss / (pre.length - 7) * post.length)
      assert(math.abs(row.getDouble(6) - (act - exp0 - hw) / 100.0) <= 1e-3,
        s"$t: ci_lo")
      assert(math.abs(row.getDouble(7) - (act - exp0 + hw) / 100.0) <= 1e-3)
      assert(row.getBoolean(8) ==
        (act - exp0 - hw > 0 || act - exp0 + hw < 0), s"$t: significant")
    }
  }

  test("ev_impact: short pre-period keeps true n_post and NULLs the readout") {
    // A type whose pre-period spans only 3 distinct weekdays: post days on
    // the other 4 weekdays have no counterfactual mean. The round-14 advice
    // caught the old inner join silently dropping those days from
    // n_post/actual_post; the contract now is a LEFT join — full post
    // accounting — with expected/impact/CI/significant NULLed via the
    // explicit missing-dow count.
    val d = java.nio.file.Files.createTempDirectory("graft_impact").toString
    import spark.implicits._
    // pre: Jan 13-15 (Sat/Sun/Mon); post: Jan 16-22 (all 7 weekdays)
    val rows = (13 to 22).map { day =>
      (day.toLong, java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"),
        1L, "shortpre", 2.0, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = SparkEntry.queries("ev_impact")(spark, d).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getLong(1) == 3, "n_pre counts all pre days")
    assert(r.getLong(2) == 7, "n_post counts ALL post days, unmatched dows included")
    assert(math.abs(r.getDouble(3) - 7 * 2.0) <= 1e-6, "actual_post is the full post sum")
    // readout columns NULL: coverage incomplete (4 post dows lack a pre mean)
    assert(r.isNullAt(4) && r.isNullAt(5) && r.isNullAt(6) &&
      r.isNullAt(7) && r.isNullAt(8))
  }

  test("dailyCents + zeroFill: gap day is 0, single-day type, half-cent values") {
    // The shared daily series under adversarial input: "gap" skips Jan 2,
    // which must surface with sc = 0 (not NULL, not missing); "single" has
    // a one-day spine; the values sit on the half-cent boundary, where
    // v·100 is inexact in binary (1.005·100 = 100.4999…, so it rounds
    // down) — the helper must match floor(v·100 + 0.5) on the JVM.
    val d = java.nio.file.Files.createTempDirectory("graft_daily").toString
    import spark.implicits._
    val evs = Seq(("gap", 1, 0.005), ("gap", 1, 1.005), ("gap", 3, 2.675),
      ("single", 5, 1.005), ("single", 5, 0.015))
    evs.zipWithIndex.map { case ((t, day, v), i) =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"),
        1L, t, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    val ew = operators.EventWindows
    val got = ew.zeroFill(ew.dailyCents(spark, d), "sc")
      .orderBy("event_type", "d").collect()
      .map(r => (r.getString(0), r.get(1).toString, r.getLong(2))).toSeq
    def c(v: Double) = math.floor(v * 100 + 0.5).toLong
    assert(c(1.005) == 100L && c(0.005) == 1L, "the boundary is really inexact")
    assert(got == Seq(
      ("gap", "2024-01-01", c(0.005) + c(1.005)),
      ("gap", "2024-01-02", 0L),
      ("gap", "2024-01-03", c(2.675)),
      ("single", "2024-01-05", c(1.005) + c(0.015))))
  }

  test("a35_cvm: criterion recomputes from pooled per-pair samples") {
    val out = SparkEntry.queries("a35_cvm")(spark, dir).collect()
    val byType = Tables.load(spark, dir, "events")
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
      .map { case (t, rs) => t -> rs.map(_._2) }
    for (row <- out) {
      val (ta, tb) = (row.getString(0), row.getString(1))
      val (xa, xb) = (byType(ta), byType(tb))
      val (n, m) = (xa.length, xb.length)
      assert(row.getLong(2) == n && row.getLong(3) == m)
      val pooled = (xa ++ xb).sorted
      def cdf(xs: Seq[Long], v: Long) = xs.count(_ <= v).toDouble / xs.length
      val t = pooled.map(v => math.pow(cdf(xa, v) - cdf(xb, v), 2)).sum *
        n.toDouble * m / math.pow(n.toDouble + m, 2)
      assert(math.abs(row.getDouble(4) - t) <= 1e-4 * math.max(1e-3, t),
        s"$ta/$tb: T ${row.getDouble(4)} vs direct $t")
    }
  }

  test("a17_mwu, a18_ks, a35_cvm, a36_ad2: one event type gives no pair and no row") {
    import spark.implicits._
    val one = java.nio.file.Files.createTempDirectory("graft_one_type").toString
    Seq((1L, 7L, "click", 1.25), (2L, 7L, "click", 3.5), (3L, 8L, "click", 1.25))
      .toDF("event_id", "user_id", "event_type", "value")
      .write.parquet(s"$one/events.parquet")
    for (q <- Seq("a17_mwu", "a18_ks", "a35_cvm", "a36_ad2"))
      assert(SparkEntry.queries(q)(spark, one).collect().isEmpty, q)
  }

  test("ir_ndcg, ir_err, ir_bpref, ir_map and ir_pr11 score one dense run") {
    val k = 10 // Retrieval.NdcgK
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def round6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    val q = vecs(0L)
    val top = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) =>
        id -> round6(dot(q, v) / (math.sqrt(dot(q, q)) * math.sqrt(dot(v, v))))
      }
      .sortBy { case (id, sc) => (-sc, id) }.take(k)
    val ids = top.map(_._1)
    // the run every judged eval reads, against the driver-side cosine
    val run = operators.Retrieval.denseTop(spark, dir, k, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(run.map(_._1) == ids)
    run.zip(top).foreach { case ((_, got), (id, want)) =>
      assert(math.abs(got - want) <= 1e-9, s"doc $id: score $got vs $want") }
    // judgments: how many distinct query terms each document holds
    val terms = Seq("merge", "spark", "window")
    val hits = Tables.load(spark, dir, "documents").select("doc_id", "text").collect()
      .map { r =>
        val toks = r.getString(1).toLowerCase.split(" ").toSet
        r.getLong(0) -> terms.count(toks.contains).toLong
      }.toMap
    val ndcg = SparkEntry.queries("ir_ndcg")(spark, dir).collect()
    assert(ndcg.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      ids.zipWithIndex.map { case (id, i) => (i + 1L, id) })
    assert(ndcg.map(_.getLong(2)).toSeq == ids.map(hits))
    for (qn <- Seq("ir_bpref", "ir_map"))
      assert(SparkEntry.queries(qn)(spark, dir).collect().map(_.getLong(1)).toSeq == ids, qn)
    // ir_err: the cascade fold over this run's grades
    val (p, err) = ids.map(hits).zipWithIndex.foldLeft((1.0, 0.0)) {
      case ((cont, e), (g, i)) =>
        val r = ((1L << g) - 1).toDouble / 8.0
        (cont * (1.0 - r), e + cont * r / (i + 1))
    }
    val er = SparkEntry.queries("ir_err")(spark, dir).collect().head
    assert(er.getLong(0) == k && er.getLong(3) == ids.count(hits(_) > 0))
    assert(math.abs(er.getDouble(1) - err) <= 1e-6 && math.abs(er.getDouble(2) - p) <= 1e-6)
    // ir_pr11: the interpolated envelope of this run's binary judgments
    val rTot = hits.values.count(_ >= 1).toDouble
    val cum = ids.map(id => if (hits(id) >= 1) 1 else 0).scanLeft(0)(_ + _).tail
    val pr = cum.zipWithIndex.map { case (c, i) => (c.toDouble / (i + 1), c / rTot) }
    for (row <- SparkEntry.queries("ir_pr11")(spark, dir).collect()) {
      val reach = pr.filter(_._2 >= row.getLong(0) / 10.0).map(_._1)
      if (reach.isEmpty) assert(row.isNullAt(2))
      else assert(math.abs(row.getDouble(2) - reach.max) <= 1e-6)
    }
  }

  test("ir_pr11: interpolated envelope recomputes from the ir_map run") {
    val out = SparkEntry.queries("ir_pr11")(spark, dir).collect()
    assert(out.length == 11)
    // (rank, prec_at_k, cum_rel) of the shared dense run
    val run = SparkEntry.queries("ir_map")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(4), r.getLong(3)))
    // total relevant via the same any-of-terms rule (QueryTerms)
    val terms = Set("merge", "spark", "window")
    val rTot = Tables.load(spark, dir, "documents").select("text").collect()
      .count(r => r.getString(0).toLowerCase.split(" ")
        .exists(terms.contains)).toDouble
    for (row <- out) {
      val lvl = row.getLong(0) / 10.0
      assert(math.abs(row.getDouble(1) - lvl) <= 1e-9)
      val reach = run.filter(_._3 / rTot >= lvl - 1e-12)
      if (reach.isEmpty) assert(row.isNullAt(2), s"level $lvl should be NULL")
      else assert(math.abs(row.getDouble(2) - reach.map(_._2).max) <= 1e-6,
        s"level $lvl: ${row.getDouble(2)} vs ${reach.map(_._2).max}")
    }
    // envelope is nonincreasing in recall where defined
    val defined = out.filter(!_.isNullAt(2)).map(_.getDouble(2))
    for (i <- 1 until defined.length)
      assert(defined(i) <= defined(i - 1) + 1e-9)
  }

  test("ev_power: required n recomputes from the sample variance") {
    val out = SparkEntry.queries("ev_power")(spark, dir).collect()
    val byType = Tables.load(spark, dir, "events")
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1).toDouble)).groupBy(_._1)
    for (row <- out) {
      val xs = byType(row.getString(0)).map(_._2)
      val n = xs.length; val m = xs.sum / n
      val v = xs.map(x => (x - m) * (x - m)).sum / (n - 1)
      assert(row.getLong(1) == n)
      assert(math.abs(row.getDouble(2) - math.sqrt(v)) <= 1e-4)
      val req = math.ceil(2.0 * math.pow(1.96 + 0.8416, 2) * v / 2500.0).toLong
      assert(row.getLong(3) == req,
        s"${row.getString(0)}: n_required ${row.getLong(3)} vs $req")
      assert(row.getBoolean(4) == (n >= 2 * req))
    }
  }

  test("samp_group_split: no user crosses folds and masses recompute") {
    val out = SparkEntry.queries("samp_group_split")(spark, dir).collect()
    // leakage pin: fold is a function of user_id alone, so the
    // (user, fold) pairs must be exactly one fold per user
    val uf = Tables.load(spark, dir, "events")
      .select(col("user_id"),
        (graft.Exact.hash32(concat(lit("u:"), col("user_id").cast("string")))
          % 5).as("fold"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(uf.map(_._1).distinct.length == uf.length,
      "a user appears in more than one fold")
    val events = Tables.load(spark, dir, "events").count()
    assert(out.map(_.getLong(2)).sum == events)
    assert(math.abs(out.map(_.getDouble(4)).sum - 1.0) <= 1e-5)
    val users = uf.groupBy(_._2).map { case (f, g) => f -> g.length.toLong }
    for (r <- out)
      assert(r.getLong(1) == users(r.getLong(0)), s"fold ${r.getLong(0)}")
  }

  test("a37_tost: one-sided p values recompute from the Welch stats") {
    val out = SparkEntry.queries("a37_tost")(spark, dir).collect()
    val byType = Tables.load(spark, dir, "events")
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
      .map { case (t, rs) => t -> rs.map(_._2.toDouble) }
    def erfcAS(x: Double): Double = {
      val t = 1.0 / (1.0 + 0.3275911 * x)
      (((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t
        - 0.284496736) * t + 0.254829592) * t) * math.exp(-x * x)
    }
    def pOne(z: Double): Double =
      if (z >= 0) 0.5 * erfcAS(z / math.sqrt(2.0))
      else 1.0 - 0.5 * erfcAS(-z / math.sqrt(2.0))
    for (row <- out) {
      val (xa, xb) = (byType(row.getString(0)), byType(row.getString(1)))
      def stats(xs: Iterable[Double]) = {
        val n = xs.size; val m = xs.sum / n
        (n, m, xs.map(x => (x - m) * (x - m)).sum / (n - 1) / n)
      }
      val ((na, ma, va), (nb, mb, vb)) = (stats(xa), stats(xb))
      assert(row.getLong(2) == na && row.getLong(3) == nb)
      val delta = ma - mb
      val se = math.sqrt(va + vb)
      assert(math.abs(row.getDouble(4) - delta) <= 1e-4)
      val p = math.max(pOne((delta + 50.0) / se), pOne((50.0 - delta) / se))
      assert(math.abs(row.getDouble(5) - p) <= 1e-5,
        s"${row.getString(0)}/${row.getString(1)}: p ${row.getDouble(5)} vs $p")
      assert(row.getBoolean(6) == (p < 0.05))
    }
    // the battery's pairs must exercise BOTH branches of the signed erfc
    // at least once across all z inputs, or the negative branch is dead
    // code the oracle never checks
    val anyEquiv = out.exists(r => !r.isNullAt(6))
    assert(anyEquiv, "no pair produced a defined TOST verdict")
  }

  test("a36_ad2: statistic recomputes from the discrete Pettitt form") {
    val out = SparkEntry.queries("a36_ad2")(spark, dir).collect()
    val byType = Tables.load(spark, dir, "events")
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
      .map { case (t, rs) => t -> rs.map(_._2) }
    for (row <- out) {
      val (xa, xb) = (byType(row.getString(0)), byType(row.getString(1)))
      val (n, m) = (xa.length.toLong, xb.length.toLong)
      val nn = n + m
      val distinct = (xa ++ xb).distinct.sorted
      val a2 = distinct.map { v =>
        val ma = xa.count(_ <= v).toLong; val mb = xb.count(_ <= v).toLong
        val l = xa.count(_ == v) + xb.count(_ == v)
        val b = ma + mb
        if (b < nn) {
          val dD = (m * ma - n * mb).toDouble
          l * dD * dD / (b.toDouble * (nn - b))
        } else 0.0
      }.sum / (n.toDouble * m)
      assert(math.abs(row.getDouble(4) - a2) <= 1e-4 * math.max(1e-3, a2),
        s"${row.getString(0)}/${row.getString(1)}: A2 ${row.getDouble(4)} vs $a2")
    }
  }

  test("ta_rake: phrase scores recompute from the deg/freq definition") {
    val out = SparkEntry.queries("ta_rake")(spark, dir).collect()
      .groupBy(_.getLong(0))
    val stop = Set("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "")
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    var checked = 0
    for ((id, text) <- docs.take(50)) {
      // phrases: maximal stopword-free runs of the house tokenizer
      val toks = text.toLowerCase.split(" ", -1)
      val phrases = scala.collection.mutable.Buffer[Vector[String]]()
      var cur = Vector.empty[String]
      for (w <- toks) {
        if (stop(w)) { if (cur.nonEmpty) phrases += cur; cur = Vector.empty }
        else cur :+= w
      }
      if (cur.nonEmpty) phrases += cur
      if (phrases.nonEmpty) {
        val occ = phrases.flatMap(p => p.map(w => (w, p.length)))
        val wscore = occ.groupBy(_._1).map { case (w, os) =>
          w -> os.map(_._2).sum.toDouble / os.length }
        val scored = phrases.map(p => (p.mkString(" "), p.map(wscore).sum))
          .groupBy(_._1).map { case (ph, g) => (ph, g.head._2) }.toSeq
        val top = scored.sortBy { case (ph, sc) => (-sc, ph) }.take(3)
        val got = out(id).sortBy(_.getLong(3))
          .map(r => (r.getString(1), r.getDouble(2)))
        assert(got.length == top.length, s"doc $id: ${got.length} rows")
        for (((gp, gs), (ep, es)) <- got.zip(top)) {
          assert(gp == ep, s"doc $id: phrase '$gp' vs '$ep'")
          assert(math.abs(gs - es) <= 1e-6, s"doc $id: score $gs vs $es")
        }
        checked += 1
      }
    }
    assert(checked > 10, s"only $checked docs had phrases")
  }

  test("q6_pivot: wide counts match the long groupBy and cover all events") {
    val out = SparkEntry.queries("q6_pivot")(spark, dir).collect()
    val long = Tables.load(spark, dir, "events")
      .select(col("event_type"), expr("hour(ts) div 4").as("hb"))
      .groupBy("event_type", "hb").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val total = Tables.load(spark, dir, "events").count()
    assert(out.map(r => (1 to 6).map(r.getLong).sum).sum == total)
    for (r <- out; b <- 0L to 5L)
      assert(r.getLong(b.toInt + 1) == long.getOrElse((r.getString(0), b), 0L),
        s"${r.getString(0)} hb$b")
  }

  test("gr_diameter: eccentricities recompute via direct BFS from landmarks") {
    val out = SparkEntry.queries("gr_diameter")(spark, dir).collect()
    // the graph is rec_cooccur's support-pruned pair frame (>= 2 shared
    // baskets, the Graph.MinSupport) — rebuild adjacency and BFS directly
    val adj = SparkEntry.queries("rec_cooccur")(spark, dir).collect()
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1),
        r.getLong(1) -> r.getLong(0)))
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val landmarks = adj.keys.toSeq.sorted.take(4)
    def bfs(src: Long): Map[Long, Int] = {
      var dist = Map(src -> 0); var frontier = Set(src); var hop = 0
      while (frontier.nonEmpty && hop < 6) {
        hop += 1
        frontier = frontier.flatMap(adj(_)).diff(dist.keySet)
        dist ++= frontier.map(_ -> hop)
      }
      dist
    }
    val eccs = landmarks.map(lm => lm -> bfs(lm))
    val diam = eccs.map(_._2.values.max).max
    assert(out.length == landmarks.length)
    for ((row, (lm, d)) <- out.zip(eccs)) {
      assert(row.getLong(0) == lm)
      assert(row.getLong(1) == d.size, s"$lm: n_reached")
      assert(row.getLong(2) == d.values.max, s"$lm: ecc_lb")
      assert(row.getLong(3) == diam)
    }
  }

  test("emb_triplet_mine: labels, margin identity, violating flag") {
    val out = SparkEntry.queries("emb_triplet_mine")(spark, dir).collect()
    val labels = Tables.load(spark, dir, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val nAnchors = labels.keys.count(_ < 100)
    assert(out.length == nAnchors, s"${out.length} rows vs $nAnchors anchors")
    var mined = 0
    for (r <- out) {
      val anchor = r.getLong(0); val lab = r.getInt(1)
      assert(labels(anchor) == lab)
      if (!r.isNullAt(2)) { // hardest positive shares the label, isn't self
        assert(labels(r.getLong(2)) == lab && r.getLong(2) != anchor)
      }
      if (!r.isNullAt(4)) { // hardest negative differs
        assert(labels(r.getLong(4)) != lab && r.getLong(4) != anchor)
      }
      if (!r.isNullAt(3) && !r.isNullAt(5)) {
        mined += 1
        assert(math.abs(r.getDouble(6) -
          (r.getDouble(3) - r.getDouble(5))) <= 2e-6, s"$anchor: margin")
        assert(r.getBoolean(7) == (r.getDouble(5) >= r.getDouble(3)),
          s"$anchor: violating flag")
        assert(r.getDouble(3) <= 1.0 + 1e-9 && r.getDouble(5) <= 1.0 + 1e-9)
      } else assert(r.isNullAt(6) && r.isNullAt(7))
    }
    assert(mined > 0, "no anchor yielded a full triplet")
  }
}
