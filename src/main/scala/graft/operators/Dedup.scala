package graft.operators

import graft.Exact.{hash32, hash32Sql}
import graft.{Dense, Pairs}
import graft.Tables.load
import graft.functions.VectorFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite for a large-scale training-data pipeline:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine
  * near-dup — each oracle-checked against DuckDB.
  *
  * Scale design (the point of each algorithm):
  *  - exact: one hash-shuffle on the content hash; linear.
  *  - MinHash+LSH: signature is a single groupBy over shingles; candidate
  *    generation shuffles on (band, bucket) — never the O(n²) cross join.
  *    Bands/rows tuned so P(candidate) ≈ 1 at J≥0.9, ≈ 0 at J≤0.3.
  *  - SimHash: pure map-side signature (one groupBy over tokens); near-dup
  *    lookup is a bucket join on the signature (or rotations at scale).
  *  - n-gram Jaccard: exact verification restricted to MinHash-band
  *    candidates — candidate generation is Σ bucket² over band buckets,
  *    and the verify is an array_intersect per candidate pair, so total
  *    cost is linear in docs + candidates, never n².
  *  - embedding cosine: exact O(n²) verifier at small n; the LSH-bucketed
  *    scale path is `ann_lsh` in [[Similarity]].
  *
  * All hash functions are md5-derived ([[graft.Exact.hash32]]) so DuckDB
  * reproduces identical signatures — no engine-private hash in the results.
  */
object Dedup {

  type Q = (SparkSession, String) => DataFrame

  /** MinHash parameters: 12 hash functions, 4 bands × 3 rows. */
  private val NumHashes = 12
  private val Bands = 4
  private val RowsPerBand = NumHashes / Bands

  /** Candidate-generation parameters for the Jaccard verifier: 8 bands ×
    * 3 rows (24 hash functions). P(pair becomes a candidate) at the τ=0.8
    * threshold is 1−(1−0.8³)⁸ ≈ 0.997, and ≈ 0 below J≈0.3 — wider than the
    * 4-band signature because this query's OUTPUT depends on candidate
    * recall, not just its candidate list. */
  private val JBands = 8
  private val JRows = 3

  /** One md5 per shingle + NumHashes universal-hash mixes
    * h_i = (a_i·h + b_i) mod P — 12× fewer md5 evaluations than hashing
    * (i, shingle) pairs, identical SQL on the oracle side. P = 2^31−1 keeps
    * a_i·h < 2^63 (no overflow in either engine). */
  private val MersenneP = 2147483647L
  private def mixA(i: Int): Long = ((i + 1) * 2654435761L) % MersenneP | 1L
  private def mixB(i: Int): Long = ((i + 1) * 40503L * 65537L + 17L) % MersenneP
  /** n-gram Jaccard near-dup threshold. */
  private val JaccardTau = 0.8
  /** embedding cosine near-dup threshold. */
  private val CosTau = 0.4
  /** Decontamination: shingles appearing in more docs than this are treated
    * as boilerplate and dropped (also the join-skew bound); pairs sharing at
    * least MinShared surviving shingles are flagged. */
  private val DecontamMaxShDocs = 20
  private val DecontamMinShared = 3

  /** dd_containment: minimum containment |A∩B|/|A| to emit, and the
    * minimum |A| (distinct surviving shingles) for a pair to be scored. */
  private val ContainTau = 0.8
  private val ContainMinSh = 5
  /** Connected-components round bounds. The first JumpAfter rounds are pure
    * min-label propagation (one join each — real duplicate graphs are stars
    * and short chains that converge here); if the graph has not converged by
    * then, every later round adds a pointer-jumping shortcut
    * (lbl := lbl(lbl)), which at least halves the unresolved pointer-chain
    * depth per round. Total bound ≈ JumpAfter + log2(diameter), so
    * MaxCcIters = 16 guarantees convergence for any component of diameter
    * < 2^(16−4) = 4096 — far past any real duplicate graph (a
    * templated-drift chain would need >4096 hops of pairwise-near-dup
    * drift to hit the bound, vs the loud require if one ever does). */
  private val MaxCcIters = 16
  private val JumpAfter = 4
  /** SimHash signature width (bits of the 32-bit token hash used). */
  private val SimBits = 16
  // dd_simhash_hamming banding: SimBands × SimBandBits must cover SimBits,
  // and the pigeonhole guarantee needs SimMaxHam < SimBands — with the
  // CURRENT constants: ham <= 1 < 2 bands, so every true pair agrees on
  // >= 1 full 8-bit band. (Historical note, NOT the live configuration: an
  // earlier 4×4-bit/ham<=3 setting emitted 34% of ALL pairs at sf0.001 on
  // this vocabulary-dense synthetic corpus — correct but quadratic output;
  // ham<=1 keeps the output the near-identical set the operator is for.)
  private val SimBands = 2
  private val SimBandBits = 8
  private val SimMaxHam = 1
  /** dd_substring: minimum shared consecutive-shingle run (a run of r
    * 3-shingles = an identical r+2-token substring). */
  private val SubstrMinRun = 3
  /** dd_cdc: boundary divisor — trigram hash ≡ 0 (mod CdcD) opens a chunk,
    * so the expected chunk length is CdcD tokens. */
  private val CdcD = 8L
  /** dd_winnow: selection-window width over consecutive 3-gram hashes —
    * guarantees shared substrings of ≥ WinnowW+2 tokens share a
    * fingerprint. The position tie-encode assumes docs < 2^20 tokens. */
  private val WinnowW = 4

  private def toks(c: Column): Column = split(lower(c), " ")

  /** The (doc_id, text) scan behind the SHINGLE/POSITION-explode chains
    * (shingleSet, dd_cdc, dd_winnow, dd_substring), wrapped in
    * [[graft.Par.spread]] (round 16): the explode + per-shingle md5 work
    * dominates those queries and the single-row-group bench input would
    * otherwise pin it to ONE scan task (optimization guide §2.5 input
    * skew). No-op at scale. Deliberately NOT used by the cheap-map
    * queries (dd_exact, dd_bloom, dd_simhash*, the quality gates): there
    * the per-row work is one md5/regex pass and the spread's extra
    * 32-partition stages cost more than they parallelize — measured
    * round 16: dd_bloom 0.9 s serial → 3.5 s spread (18 core-s of
    * per-task overhead on near-empty partitions), vs dd_winnow 4.7 s →
    * 1.9 s and dd_minhash_lsh 2.4 s → 1.5 s where the shingle explode
    * dwarfs the task overhead. */
  private def docsText(s: SparkSession, dir: String): DataFrame =
    graft.Par.spread(
      load(s, dir, "documents").select(col("doc_id"), col("text")))

  /** Distinct (doc_id, shingle) pairs — the unit set for Jaccard/MinHash. */
  private def shingleSet(s: SparkSession, dir: String): DataFrame =
    docsText(s, dir)
      .select(col("doc_id"),
        explode(array_distinct(VectorFns.shingles3(toks(col("text"))))).as("sh"))

  /** The dd_simhash* oracles' SimHash votes (one `v$j` sum per bit over
    * the token hashes `h`) and the bit fold over them. */
  private val simVotesSql: String = (0 until SimBits)
    .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j")
    .mkString(",\n    ")
  private val simBitsSql: String = (0 until SimBits)
    .map(j => s"CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")

  /** The `sigv`/`sig`/`banded` CTEs over a `tok` CTE, shared by the
    * dd_simhash_hamming and dd_simhash_components oracles: one
    * (doc_id, simhash, band, key) row per band. */
  private val simBandedCtesSql: String =
    s"""sigv AS (
       |  SELECT doc_id,
       |    $simVotesSql
       |  FROM tok GROUP BY doc_id),
       |sig AS (SELECT doc_id, CAST($simBitsSql AS BIGINT) AS simhash FROM sigv),
       |banded AS (
       |  SELECT doc_id, simhash, band, (simhash >> (band * $SimBandBits)) & ${(1L << SimBandBits) - 1} AS key
       |  FROM (SELECT doc_id, simhash, unnest(range($SimBands)) AS band FROM sig))""".stripMargin

  private val shingleSetSql: String =
    """SELECT DISTINCT doc_id, sh FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents))""".stripMargin

  /** (doc_id, simhash): the SimBits-bit SimHash signature of every doc,
    * shared by the dd_simhash* queries. Bit j is the sign of the sum of
    * ±1 votes from bit j of each token's [[graft.Exact.hash32]]; map-side
    * except one groupBy. */
  private[graft] def simhashSigs(s: SparkSession, dir: String): DataFrame = {
    val tok = load(s, dir, "documents")
      .select(col("doc_id"), explode(toks(col("text"))).as("token"))
      .withColumn("h", hash32(col("token")))
    val votes = (0 until SimBits).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
        .as(s"v$j"))
    val simhash = (0 until SimBits).map(j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_ + _)
    tok.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), simhash.as("simhash"))
  }

  /** n-gram (3-shingle) Jaccard near-dups above JaccardTau — the LSH-
    * candidate-verified form, shared by `dd_ngram_jaccard` (which just adds
    * the oracle ORDER BY) and `dd_components` (which uses the pairs as
    * near-dup edges). ONE groupBy turns the shingle explode into a per-doc
    * array of 60-bit md5-derived shingle hashes; MinHash bands are pure
    * map-side array math over that array; candidate pairs come
    * bucket-grouped from (band, bucket) — Σ bucket², never n², and never a
    * self-join (the shingle chain is NOT exchange-reused across self-join
    * sides; see dd_minhash_lsh). The exact Jaccard verify touches the
    * doc-shingle frame ONCE: explode each pair into its two sides, join the
    * shingle arrays in one pass, fold the pair back together — per-side
    * rows are 2× the (small) candidate count, so the extra groupBy shuffles
    * candidate-scale data while the doc-scale chain runs a single time. */
  private def jaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val tok = shingleSet(s, dir)
      .select(col("doc_id"),
        conv(substring(md5(col("sh")), 1, 15), 16, 10).cast("long").as("h"))
    val docsh = tok.groupBy("doc_id").agg(collect_set(col("h")).as("shs"))
    // minhash_i over the array: map-side, no extra shuffle. h is 60-bit so
    // reduce mod P before the a·h mix to stay under 2^63 in both engines.
    def mh(i: Int): Column = array_min(transform(col("shs"),
      h => (lit(mixA(i)) * (h % MersenneP) + lit(mixB(i))) % MersenneP))
    val bandCols = (0 until JBands).map { b =>
      val hs = (0 until JRows).map(r => mh(b * JRows + r))
      struct(lit(b).as("band"), md5(concat_ws("|", lit(b) +: hs: _*)).as("bkt"))
    }
    val bands = docsh.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkt").as("bkt"))
    val cand = bands.groupBy("band", "bkt")
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .where(size(col("ids")) > 1)
      .select(Pairs.within(col("ids"))((x, y) => struct(x.as("a"), y.as("b"))).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()
    val sides = cand
      .select(col("doc_a"), col("doc_b"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .join(docsh, "doc_id")
    sides.groupBy("doc_a", "doc_b")
      .agg(
        first(when(col("doc_id") === col("doc_a"), col("shs")), ignoreNulls = true).as("sa"),
        first(when(col("doc_id") === col("doc_b"), col("shs")), ignoreNulls = true).as("sb"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("double").as("inter"),
        size(col("sa")).cast("double").as("na"), size(col("sb")).cast("double").as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= JaccardTau)
  }

  /** componentLabels is consumed by several queries (dd_components,
    * dd_canonical, a downstream dedup's drop list), and the labels are
    * deterministic per (session, dir) — so each session computes them once
    * and every consumer reuses the checkpointed frame. That's the
    * production architecture (label once, consume many times). Releasing
    * a checkpointed frame needs nothing: its blocks are reclaimed by the
    * ContextCleaner once unreferenced. */
  private[graft] val labelsMemo = new graft.SessionMemo[DataFrame](_ => ())

  /** Per-doc duplicate-component labels (doc_id, lbl) — the composable form
    * of `dd_components` (lbl = the component's minimum doc_id = the keep
    * doc; a downstream dedup drops every row with doc_id ≠ lbl). Only docs
    * carrying some duplicate evidence appear; all other docs are their own
    * singleton component. Memoized per (session, dir) — see labelsMemo.
    *
    * Edges union three evidence kinds so components chain across them the
    * way a production dedup needs: star edges within content-hash groups
    * (exact dups), star edges within token-set-fingerprint groups
    * (word-order permutations), and the LSH-verified n-gram Jaccard
    * near-dup pairs. Components via [[connectedComponents]]: min-label
    * propagation with a pointer-jumping fallback — O(log diameter) rounds
    * guaranteed, fast-path cost unchanged for the star/short-chain graphs
    * real corpora produce (see the round-bound comment at MaxCcIters). The
    * driver checks a one-row convergence aggregate per round (the iterative
    * algorithm's loop condition, not a data collect).
    *
    * localCheckpoint truncates the logical plan each round. Without it the
    * round-N plan embeds round N−1's plan TWICE (join side + union side),
    * so the tree doubles per round and Catalyst re-analysis goes
    * exponential (measured: rounds of 1.8/2.1/5.7/41 s at sf0.1 with
    * persist alone — the 41 s was driver-side planning, not execution). A
    * cluster deployment would use reliable checkpointing to a shared dir
    * for fault tolerance; the loop structure is identical. */
  def componentLabels(s: SparkSession, dir: String): DataFrame =
    labelsMemo(s, dir)(computeComponentLabels(s, dir))

  private def computeComponentLabels(s: SparkSession, dir: String): DataFrame = {
    // Both group-key kinds (content hash, token-set fingerprint) ride ONE
    // documents scan and ONE shuffle: explode each doc into its two
    // (kind, key) rows, then a single groupBy over the compound key — a
    // per-kind starEdges helper would scan and shuffle once per kind.
    val chKey = md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
    val fpKey = md5(array_join(array_sort(array_distinct(toks(col("text")))), " "))
    val starEdges = load(s, dir, "documents")
      .select(col("doc_id"), explode(array(
        struct(lit("ch").as("kind"), chKey.as("key")),
        struct(lit("fp").as("kind"), fpKey.as("key")))).as("k"))
      .groupBy(col("k.kind"), col("k.key"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .where(size(col("ids")) > 1)
      .select(Pairs.star(col("ids")).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    val edges = starEdges
      .unionByName(jaccardPairs(s, dir)
        .select(col("doc_a").as("a"), col("doc_b").as("b")))
      .distinct()
    connectedComponents(edges)
  }

  /** Min-label connected components over a distinct undirected edge list
    * `(a, b)` — labels every node that appears in an edge with its
    * component's minimum node id. Rounds 1..JumpAfter are pure propagation
    * (one keyed join + one keyed agg each); later rounds add the
    * pointer-jumping shortcut, bounding total rounds by
    * JumpAfter + log2(diameter) (see MaxCcIters). Expects `edges` already
    * distinct (duplicate edges don't break correctness, just waste the
    * join). */
  private[graft] def connectedComponents(edges: DataFrame): DataFrame = {
    // Symmetrize MAP-SIDE (explode each edge into both directions) instead
    // of a self-union: the union consumed the edge-build chain TWICE — once
    // per side — inside this eager checkpoint, and for dd_canonical that
    // chain is the full spread-shingle/minhash/verify pipeline (round-17
    // profile: jaccardPairs alone is ~23 core-s warm at sf0.1/local[32],
    // and computeComponentLabels ran it twice). Same rows, one execution.
    val sym = edges.select(explode(array(
        struct(col("a").as("a"), col("b").as("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .localCheckpoint(true)
    var labels = sym.select(col("a").as("doc_id")).distinct()
      .withColumn("lbl", col("doc_id"))
      .localCheckpoint(true)
    var converged = false
    var iters = 0
    while (!converged && iters < MaxCcIters) {
      val prop = sym.join(labels, sym("b") === labels("doc_id"))
        .select(col("a"), col("lbl"))
        .unionByName(labels.select(col("doc_id").as("a"), col("lbl")))
        .groupBy(col("a").as("doc_id"))
        .agg(min(col("lbl")).as("lbl"))
      val next = (if (iters < JumpAfter) prop else {
        // Pointer-jumping shortcut: lbl := lbl(lbl). Every lbl value is
        // itself a node id (labels start as doc_id and only min() over
        // other labels), so the self-join keeps every row, and
        // lbl(lbl) <= lbl by min-monotonicity — the least() is a
        // belt-and-braces invariant, not a semantic change.
        val jump = prop.select(col("doc_id").as("j_id"), col("lbl").as("j_lbl"))
        prop.join(jump, prop("lbl") === jump("j_id"))
          .select(col("doc_id"), least(col("lbl"), col("j_lbl")).as("lbl"))
      }).localCheckpoint(true)
      converged = next.join(labels.withColumnRenamed("lbl", "old"), "doc_id")
        .where(col("lbl") =!= col("old")).isEmpty
      labels = next
      iters += 1
    }
    require(converged, s"connectedComponents did not converge in $MaxCcIters rounds")
    labels
  }

  /** Benchmark-decontamination pairs (train_id, bench_id, n_shared) —
    * shared by `dd_decontaminate` (which adds the oracle ORDER BY) and
    * `dd_drop_list`. distinct (doc, h): two shingles of one doc may collide
    * into one h after the mod-P reduction — both engines must dedup
    * identically. The doc lists per surviving shingle are ≤ MaxShDocs
    * long, so the bench × train expansion happens map-side from the
    * grouped row — the shingle's doc set never re-joins the corpus. */
  private def decontaminatePairs(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleSet(s, dir)
      .select(col("doc_id"), (hash32(col("sh")) % MersenneP).as("h"))
      .distinct()
    sh.groupBy("h")
      .agg(collect_set(col("doc_id")).as("ds"))
      .where(size(col("ds")) <= DecontamMaxShDocs)
      .select(explode(expr(
        "flatten(transform(filter(ds, d -> d % 10 <> 0), t -> " +
          "transform(filter(ds, d -> d % 10 = 0), b -> struct(t AS t, b AS b))))")).as("p"))
      .groupBy(col("p.t").as("train_id"), col("p.b").as("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= DecontamMinShared)
  }

  val queries: Map[String, Q] = Map(
    // Content-defined chunking dedup (the rsync/LBFS/FastCDC idea at token
    // granularity): chunk boundaries are set by CONTENT — before token i
    // whenever the trigram hash starting at i ≡ 0 (mod CdcD) — so an
    // insertion early in a document shifts only the chunk it lands in,
    // and every following chunk still hashes identically (the property
    // fixed-width dd_paragraph chunks lack). Output: chunks shared by 2+
    // docs with their doc lists — the shifted-text near-dup detector.
    // Scale: boundary flags and chunk ids are computed per doc (doc_id-
    // keyed window — data-scale key), chunk text re-assembles in one
    // (doc, chunk) agg, and ONE shuffle on the chunk hash finds the
    // cross-doc duplicates. Expected chunk length = CdcD tokens.
    "dd_cdc" -> ((s, dir) => {
      val t = toks(col("text"))
      val tok = docsText(s, dir)
        .select(col("doc_id"), posexplode(t).as(Seq("p", "tok")),
          t.as("ts"), size(t).as("n"))
        // Sign-free boundary test: hash32 is md5-derived, non-negative and
        // < 2^32 BY CONSTRUCTION on both engines (ScaleDesignSpec pins the
        // range over real trigrams), so `% CdcD = 0` never touches the
        // engines' negative-% conventions — and a divisibility test agrees
        // under truncated % regardless. No silent boundary shift possible.
        .withColumn("bnd",
          when(col("p") >= 1 && col("p") <= col("n") - 3 &&
            hash32(concat_ws(" ", element_at(col("ts"), col("p") + 1),
              element_at(col("ts"), col("p") + 2),
              element_at(col("ts"), col("p") + 3))) % CdcD === 0, 1L)
            .otherwise(0L))
        .drop("ts", "n")
      val wChunk = Window.partitionBy("doc_id").orderBy("p")
        .rowsBetween(Window.unboundedPreceding, 0)
      val chunks = tok
        .withColumn("ck", sum("bnd").over(wChunk))
        .groupBy("doc_id", "ck")
        .agg(md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("p"), col("tok")))),
            x => x.getField("tok")))).as("chunk_hash"),
          count(lit(1)).as("n_tokens"))
      chunks.groupBy("chunk_hash")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          max(col("n_tokens")).as("n_tokens"),
          concat_ws(" ", sort_array(collect_set(col("doc_id").cast("string"))))
            .as("docs"))
        .where(col("n_docs") >= 2)
        .orderBy("chunk_hash")
    }),

    // Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    // MOSS algorithm): from each window of WinnowW consecutive 3-gram
    // hashes select the minimum (rightmost on ties — the SWA rule that
    // guarantees any shared substring of length ≥ W+2 tokens shares a
    // fingerprint), dedupe selections per doc, and emit fingerprints
    // shared by 2+ docs. The tie rule is INTEGER-ENCODED — key =
    // h·2²⁰ + (2²⁰−1−p), so a plain min() implements (min h, rightmost
    // p) identically on both engines with no struct comparison. Doc-
    // keyed selection windows + ONE fingerprint-hash shuffle.
    "dd_winnow" -> ((s, dir) => {
      val t = toks(col("text"))
      val grams = docsText(s, dir)
        .select(col("doc_id"), posexplode(t).as(Seq("p0", "tok")),
          t.as("ts"), size(t).as("n"))
        .where(col("p0") <= col("n") - 3)
        .select(col("doc_id"), col("p0").as("p"), (col("n") - 2).as("m"),
          hash32(concat_ws(" ", col("tok"),
            element_at(col("ts"), col("p0") + 2),
            element_at(col("ts"), col("p0") + 3))).as("h"))
      val key = col("h") * lit(1L << 20) + (lit((1L << 20) - 1) - col("p"))
      val wSel = Window.partitionBy("doc_id").orderBy("p")
        .rowsBetween(0, WinnowW - 1)
      val sel = grams
        .withColumn("k", min(key).over(wSel))
        .where(col("p") <= col("m") - WinnowW) // full windows only
        .select(col("doc_id"), expr(s"k div ${1L << 20}").as("fp"))
        .distinct()
      sel.groupBy("fp")
        .agg(countDistinct("doc_id").as("n_docs"),
          concat_ws(" ", sort_array(collect_set(col("doc_id").cast("string"))))
            .as("docs"))
        .where(col("n_docs") >= 2)
        .orderBy("fp")
    }),

    // Exact dedup: group by content hash of the normalized text; keep the
    // lowest doc_id. One shuffle on a 128-bit key — scales linearly.
    "dd_exact" -> ((s, dir) =>
      load(s, dir, "documents")
        .groupBy(md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("content_hash"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
        .orderBy("content_hash")),

    // Soft deduplication: instead of DROPPING duplicates (dd_exact's keep_id
    // form), every copy survives with a down-weight the training sampler
    // consumes — w_inv = 1/copies restores the unique-document distribution
    // exactly, w_sqrt = 1/√copies keeps a mild frequency prior (the
    // compromise modern pretraining mixes use, cf. sqrt-scaled source
    // mixing in samp_epoch_plan). Same normalized-content hash as dd_exact,
    // one hash-keyed size agg + one hash-keyed join (AQE co-partitioned) —
    // linear, and at 100× content duplication the output stays one row per
    // doc while the cluster frame is one row per UNIQUE content.
    "dd_soft_weight" -> ((s, dir) => {
      val key = md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
      val docs = load(s, dir, "documents")
        .select(col("doc_id"), key.as("h"))
        .localCheckpoint()
      val sizes = docs.groupBy("h").agg(count(lit(1)).as("copies"))
      docs.join(sizes, "h")
        .select(col("doc_id"), col("copies"),
          round(lit(1.0) / col("copies").cast("double"), 6).as("w_inv"),
          round(lit(1.0) / sqrt(col("copies").cast("double")), 6).as("w_sqrt"))
        .orderBy("doc_id")
    }),

    // n-gram (3-shingle) Jaccard near-dups above JaccardTau — the LSH-
    // candidate-verified form. ONE groupBy turns the shingle explode into a
    // per-doc array of 60-bit md5-derived shingle hashes; MinHash bands are
    // then pure map-side array math over that array, candidates come from a
    // self-join on (band, bucket) — Σ bucket², never n² — and the exact
    // Jaccard is computed ONLY for candidate pairs via array_intersect on
    // the two docs' shingle arrays. Every branch (bands, both candidate
    // sides) reads the SAME groupBy exchange, so Catalyst's ReuseExchange
    // runs the scan+explode+md5 once — no persist, no recompute.
    "dd_ngram_jaccard" -> ((s, dir) =>
      jaccardPairs(s, dir).orderBy("doc_a", "doc_b")),

    // MinHash + LSH banding: md5-derived minhash signature per doc, banded
    // into Bands buckets; docs sharing any band bucket are candidate dups.
    // Signature: ONE collect_set groupBy turns the shingle explode into a
    // per-doc hash array, then each minhash_i is map-side
    // array_min(transform(...)) over that array.
    //
    // Candidate generation is BUCKET-GROUPED, not a bands-self-join: group
    // by (band, bucket), keep buckets with ≥2 docs, and explode the i<j
    // pairs map-side from the sorted id array. A self-join would embed the
    // scan→shingle→md5→collect_set chain on BOTH sides — and Spark does NOT
    // reuse the exchange across them (measured: the chain executes once per
    // instance), so this shape halves the heavy work. Cost stays Σ bucket²
    // for pair output, but the chain runs exactly once.
    "dd_minhash_lsh" -> ((s, dir) => {
      val tok = shingleSet(s, dir)
        .select(col("doc_id"), (hash32(col("sh")) % MersenneP).as("h"))
      val docsh = tok.groupBy("doc_id").agg(collect_set(col("h")).as("hs"))
      // h is already reduced mod P, so a_i·h + b_i < 2^62 — no overflow in
      // either engine.
      def mh(i: Int): Column = array_min(transform(col("hs"),
        h => (lit(mixA(i)) * h + lit(mixB(i))) % MersenneP))
      val bandCols = (0 until Bands).map { b =>
        val hs = (0 until RowsPerBand).map(r => mh(b * RowsPerBand + r))
        struct(lit(b).as("band"), md5(concat_ws("|", lit(b) +: hs: _*)).as("bkt"))
      }
      val bands = docsh.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkt").as("bkt"))
      bands.groupBy("band", "bkt")
        .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
        .where(size(col("ids")) > 1)
        .select(col("band"),
          Pairs.within(col("ids"))((x, y) => struct(x.as("a"), y.as("b"))).as("p"))
        .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
        .agg(countDistinct(col("band")).as("n_bands"))
        .orderBy("doc_a", "doc_b")
    }),

    // MinHash estimator fidelity audit: for every LSH candidate pair,
    // the signature-match estimate Ĵ = (matching minhashes)/NumHashes
    // against the exact Jaccard and their absolute error — the query a
    // deployment runs to SIZE its signature (is 12 hashes enough at this
    // threshold, or does the estimator need 128?). One chain computes
    // signatures AND shingle sets behind a localCheckpoint; candidates
    // come from the same bucket-grouped band explode as dd_minhash_lsh
    // (never all pairs), and the per-pair arithmetic is integer counts
    // until the two final ratios. Pairs join the checkpointed doc frame
    // on its own doc_id keys.
    "dd_minhash_est" -> ((s, dir) => {
      val tok = shingleSet(s, dir)
        .select(col("doc_id"), (hash32(col("sh")) % MersenneP).as("h"))
      def mh(i: Int): Column = array_min(transform(col("hs"),
        h => (lit(mixA(i)) * h + lit(mixB(i))) % MersenneP))
      val sigs = tok.groupBy("doc_id").agg(collect_set(col("h")).as("hs"))
        .select(col("doc_id"), col("hs"),
          array((0 until NumHashes).map(mh): _*).as("sig"))
        .localCheckpoint()
      val bandCols = (0 until Bands).map { b =>
        struct(lit(b).as("band"),
          md5(concat_ws("|", lit(b),
            array_join(transform(
              slice(col("sig"), b * RowsPerBand + 1, RowsPerBand),
              x => x.cast("string")), "|"))).as("bkt"))
      }
      val pairs = sigs
        .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkt").as("bkt"))
        .groupBy("band", "bkt")
        .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
        .where(size(col("ids")) > 1)
        .select(Pairs.within(col("ids"))((x, y) => struct(x.as("a"), y.as("b"))).as("p"))
        .select(col("p.a").as("doc_a"), col("p.b").as("doc_b")).distinct()
      val a = sigs.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"),
        col("sig").as("sig_a"))
      val b = sigs.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"),
        col("sig").as("sig_b"))
      val m = size(filter(zip_with(col("sig_a"), col("sig_b"),
        (x, y) => x === y), x => x)).cast("long")
      val inter = size(array_intersect(col("hs_a"), col("hs_b"))).cast("long")
      val uni = size(col("hs_a")) + size(col("hs_b")) -
        size(array_intersect(col("hs_a"), col("hs_b")))
      val est = m.cast("double") / NumHashes.toDouble
      val jac = inter.cast("double") / uni.cast("double")
      pairs.join(a, "doc_a").join(b, "doc_b")
        .select(col("doc_a"), col("doc_b"), m.as("n_match"),
          round(est, 6).as("est_jaccard"),
          round(jac, 6).as("jaccard"),
          round(abs(est - jac), 6).as("abs_err"))
        .orderBy("doc_a", "doc_b")
    }),

    // SimHash: per-token md5 hash; signature bit j is the sign of the sum of
    // (±1) votes from bit j of each token hash (see simhashSigs).
    "dd_simhash" -> ((s, dir) => simhashSigs(s, dir).orderBy("doc_id")),

    // SimHash near-duplicate PAIRS at Hamming distance <= SimMaxHam — the
    // Manku/Jain/Sarma (WWW 2007) banded search that makes dd_simhash's
    // signatures actually findable. Pigeonhole-exact: SimMaxHam bit flips
    // can touch at most SimMaxHam < SimBands bands, so every true
    // near-dup pair agrees exactly on >= 1 band — candidates are ONLY
    // same-(band, band-bits) bucket pairs, generated with the ann_lsh
    // grouped shape (one scan, no self-join re-computation; Pairs.hamming),
    // then verified by bit_count(xor). At production scale the signature widens (64-bit,
    // 4x16-bit bands = 65k buckets/band) so bucket occupancy — the Σ
    // bucket² pair cost — stays bounded; the 16-bit test signature keeps
    // the DuckDB oracle cheap while exercising the identical chain.
    "dd_simhash_hamming" -> ((s, dir) =>
      Pairs.hamming(simhashSigs(s, dir), "doc_id", "simhash", SimBands, SimBandBits,
        SimMaxHam, ("doc_a", "doc_b"))
        .orderBy("doc_a", "doc_b")),

    // SimHash near-duplicate CLASSES — the heavy-duplication scale form
    // of dd_simhash_hamming, with the SAME transitive closure. The
    // round-14 sf10x run proved pair ENUMERATION is quadratic in the
    // duplication factor (100× content replicas → ~10,000× the pair
    // set, adjudicated in CORRECTNESS_SF10X.json); the class form is
    // duplication-INDEPENDENT: (1) docs sharing an exact signature in a
    // bucket form a star to the group's min doc (Hamming 0, no verify
    // needed) — O(members); (2) only the DISTINCT-signature
    // representatives pairwise-verify within a bucket — reps per bucket
    // are bounded by the non-band signature space and, crucially, by
    // distinct CONTENT, so a 100× replica corpus adds ZERO rep pairs.
    // Closure over (1) ∪ (2) equals the full pairwise closure exactly:
    // any verified pair (a,b) either shares a signature (same star) or
    // its reps share the pair's pigeonhole band with the same Hamming
    // distance (rep edge) and each doc reaches its rep through its
    // star. Classes via [[connectedComponents]] (the same
    // schedule-independent min-label fixpoint the recursive-CTE oracle
    // computes); one output row per class: label, size, keeper — what a
    // 100 TB dedup actually materializes.
    "dd_simhash_components" -> ((s, dir) => {
      val banded = Pairs.bandKeys(simhashSigs(s, dir), "doc_id", "simhash",
        SimBands, SimBandBits)
      // (1) exact-signature groups: min-doc stars, Hamming 0 by identity
      val sgrp = banded.groupBy("band", "key", "simhash")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .localCheckpoint() // stars + reps both ride this frame
      val exactStar = sgrp.where(size(col("ids")) > 1)
        .select(Pairs.star(col("ids")).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
      // (2) distinct-signature reps pairwise-verified per bucket — the
      // dd_simhash_hamming explode shape, but over content-distinct reps
      val repPairs = sgrp
        .select(col("band"), col("key"),
          struct(expr("ids[0]").as("rep"), col("simhash")).as("r"))
        .groupBy("band", "key")
        .agg(sort_array(collect_list(col("r"))).as("rs"))
        .where(size(col("rs")) > 1)
        .select(Pairs.within(col("rs"))((x, y) => struct(
          x.getField("rep").as("a"), y.getField("rep").as("b"),
          x.getField("simhash").bitwiseXOR(y.getField("simhash")).as("xr"))).as("p"))
        .where(bit_count(col("p.xr")) <= SimMaxHam)
        .select(col("p.a").as("a"), col("p.b").as("b"))
      val edges = exactStar.unionByName(repPairs).distinct()
      connectedComponents(edges)
        .groupBy("lbl")
        .agg(count(lit(1)).as("n_members"), min("doc_id").as("keep_id"))
        .select(col("lbl").as("component"), col("n_members"), col("keep_id"))
        .orderBy("component")
    }),

    // Shingle CONTAINMENT pairs (Broder's asymmetric resemblance,
    // |A∩B|/|A|): detects near-SUPERSET relations — quotes, excerpts,
    // doc-inside-doc contamination — that symmetric Jaccard dilutes (a
    // 10-shingle quote inside a 1000-shingle doc has Jaccard ~0.01 but
    // containment 1.0 from the quote's side). Same linear dataflow as
    // dd_decontaminate: distinct shingle hashes → doc-frequency prune
    // (bounds the worst shingle's fan-out at MaxShDocs² ordered pairs) →
    // bucket-grouped ordered-pair explode → one keyed count, then the
    // per-doc set size joins in to normalize. Emitted per DIRECTION
    // (doc_a's shingles covered by doc_b); ContainMinSh keeps trivially
    // tiny shingle sets from scoring 1.0.
    "dd_containment" -> ((s, dir) => {
      val sh = shingleSet(s, dir)
        .select(col("doc_id"), (hash32(col("sh")) % MersenneP).as("h"))
        .distinct()
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val contain = col("n_shared").cast("double") / col("sz_a")
      sh.groupBy("h")
        .agg(collect_set(col("doc_id")).as("ds"))
        .where(size(col("ds")).between(2, DecontamMaxShDocs))
        .select(explode(expr(
          "flatten(transform(ds, a -> transform(filter(ds, b -> b <> a), " +
            "b -> struct(a AS a, b AS b))))")).as("p"))
        .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
        .where(col("sz_a") >= ContainMinSh && contain >= ContainTau)
        .select(col("doc_a"), col("doc_b"), col("n_shared"), col("sz_a"),
          round(contain, 6).as("containment"))
        .orderBy("doc_a", "doc_b")
    }),

    // Benchmark decontamination: find training docs that share >= MinShared
    // distinct 3-token shingles with a held-out benchmark doc (here: every
    // doc_id % 10 == 0 plays the benchmark set). The standard pre-training
    // hygiene pass — n-gram overlap against eval sets — as one shingle-hash
    // equi-join:
    //   shingles → doc-frequency prune (shingles in > MaxShDocs docs are
    //   boilerplate AND the join-skew hazard: a shingle shared by k docs
    //   produces k_train × k_bench join rows, so the prune bounds the worst
    //   key's fan-out) → bench ⋈ train on the shingle hash → count per pair.
    // Scale: two hash-shuffles (doc-frequency, join) + one pair groupBy,
    // all keyed — linear in corpus shingles, never pairwise in docs.
    "dd_decontaminate" -> ((s, dir) =>
      decontaminatePairs(s, dir).orderBy("train_id", "bench_id")),

    // Connected components over the duplicate graph — cluster summary of
    // [[componentLabels]] (see its Scaladoc for the algorithm and the
    // localCheckpoint rationale). The oracle computes the same fixpoint as
    // a recursive-CTE transitive closure — the final labels are
    // schedule-independent.
    "dd_components" -> ((s, dir) =>
      componentLabels(s, dir)
        .groupBy(col("lbl").as("component"))
        .agg(count(lit(1)).as("n_members"), min(col("doc_id")).as("keep_id"))
        .orderBy("component")),

    // Canonical-doc selection per duplicate cluster — the step after
    // components in a production dedup: instead of blindly keeping the
    // minimum doc_id, keep the highest-quality member (ta_quality's gate
    // score; ties broken by min doc_id so the choice is deterministic).
    // One join of the component labels against a map-side quality score,
    // then one keyed aggregation: max over (quality, −doc_id) pairs picks
    // the winner without a window over data-bearing rows.
    "dd_canonical" -> ((s, dir) => {
      val quality = load(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScoreCol.as("q"))
      componentLabels(s, dir).join(quality, "doc_id")
        .groupBy(col("lbl").as("component"))
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("q"), (-col("doc_id")).as("nd"))).as("m"))
        .select(col("component"), (-col("m.nd")).as("canonical_id"),
          col("m.q").as("best_quality"), col("n_members"))
        .orderBy("component")
    }),

    // Substring-level dedup signal (the Lee et al. 2022 "Deduplicating
    // Training Data" idea at shingle granularity): for each candidate pair,
    // the LONGEST run of consecutive shared 3-token shingles — a run of r
    // shingles means an identical r+2-token substring. Positions ride the
    // shingle explode; the doc-frequency prune bounds join fan-out exactly
    // like dd_decontaminate; runs are gaps-and-islands over (pair,
    // pos-diff) — consecutive pa with constant pa−pb means both sides
    // advance together. Integer-only arithmetic: no float parity risk. The
    // positional frame is localCheckpoint-ed so the scan→explode→hash→prune
    // chain runs once across both self-join sides.
    "dd_substring" -> ((s, dir) => {
      val sh = docsText(s, dir)
        .select(col("doc_id"),
          posexplode(VectorFns.shingles3(toks(col("text")))).as(Seq("pos", "sh")))
        .select(col("doc_id"), col("pos"), (hash32(col("sh")) % MersenneP).as("h"))
      val rare = sh.select(col("doc_id"), col("h")).distinct()
        .groupBy("h").agg(count(lit(1)).as("df"))
        .where(col("df") <= DecontamMaxShDocs)
        .select("h")
      val pruned = sh.join(rare, "h").localCheckpoint(true)
      // No .distinct() on the pair frame (round 16): (doc_id, pos)
      // determines h — posexplode emits each position once and the md5
      // chain is a function — so the equi-join's output rows are unique
      // by construction and the old distinct was a full extra exchange
      // of the battery's largest shuffle (55.7 MB of 423 total at
      // sf0.1). plans/r16/dd_substring_{before,after}.txt.
      val pairs = pruned.as("a").join(pruned.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.pos").as("pa"), col("b.pos").as("pb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_a", "doc_b", "diff").orderBy("pa")
      pairs.withColumn("diff", col("pa") - col("pb"))
        .withColumn("grp", col("pa") - row_number().over(w))
        .groupBy("doc_a", "doc_b", "diff", "grp")
        .agg(count(lit(1)).as("run"))
        .groupBy("doc_a", "doc_b")
        .agg(max(col("run")).as("max_run"))
        .where(col("max_run") >= SubstrMinRun)
        .select(col("doc_a"), col("doc_b"), col("max_run"),
          (col("max_run") + 2).as("longest_tokens"))
        .orderBy("doc_a", "doc_b")
    }),

    // Bloom-filter membership probe (Bloom 1970; Kirsch & Mitzenmacher
    // 2006 double hashing) — the sketch sibling of dd_drop_list's exact
    // anti-join and the membership member of the sketch suite
    // (prof_hll = cardinality, prof_cms = frequency): a content
    // blocklist (docs with doc_id % 7 = 0, keyed by text md5) builds an
    // m = 65536-bit, k = 4 filter, every document probes it, and the
    // exact-membership companion measures the realized false-positive
    // rate. Fully deterministic: the k positions derive from ONE house
    // hash32 per text — h1 = top 16 bits, h2 = 2·(h % 2^15)+1 (odd), and
    // pos_i = (h1 + i·h2) % 65536 — so both engines set and probe
    // identical bits. Scale shape: the bit SET is ≤ 4·|blocklist|
    // distinct positions (here ≤ 65536 rows — broadcast), the probe is a
    // map-side 4-row explode + broadcast semi-join; at 100 TB this is
    // exactly how a blocklist probe avoids shuffling the corpus against
    // the list. All-integer output plus the one derived rate.
    "dd_bloom" -> ((s, dir) => {
      val ks = (0 to 3).map(i =>
        pmod(col("h1") + lit(i.toLong) * col("h2"), lit(65536L)))
      val docs = load(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("m5"),
          graft.Exact.hash32(col("text")).as("h"))
        .select(col("doc_id"), col("m5"), expr("h div 65536").as("h1"),
          (expr("h % 32768") * 2 + 1).as("h2"))
        .localCheckpoint()
      val banned = docs.where(col("doc_id") % 7 === 0)
      val bits = banned
        .select(explode(array(ks: _*)).as("pos")).distinct()
      val bannedKeys = banned.select("m5").distinct()
      val nBits = bits.groupBy().agg(count(lit(1)).as("n_bits_set"))
      val nBanned = bannedKeys.groupBy().agg(count(lit(1)).as("n_banned_keys"))
      val probed = docs
        .select(col("doc_id"), col("m5"), explode(array(ks: _*)).as("pos"))
      val bloomHits = probed.join(broadcast(bits), Seq("pos"), "left_semi")
        .groupBy("doc_id", "m5").agg(count(lit(1)).as("nm"))
        .where(col("nm") === 4)
      val exactHits = docs.join(broadcast(bannedKeys), Seq("m5"), "left_semi")
      val joint = bloomHits.select(col("doc_id"))
        .join(exactHits.select(col("doc_id"), lit(1L).as("ex")),
          Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_flagged_bloom"),
          sum(when(col("ex").isNull, 1L).otherwise(0L)).as("n_false_pos"))
      val tot = docs.groupBy().agg(count(lit(1)).as("n_docs"))
      val nEx = exactHits.groupBy().agg(count(lit(1)).as("n_flagged_exact"))
      tot.crossJoin(broadcast(nBanned)).crossJoin(broadcast(nBits))
        .crossJoin(broadcast(joint)).crossJoin(broadcast(nEx))
        .select(col("n_docs"), col("n_banned_keys"), col("n_bits_set"),
          col("n_flagged_bloom"), col("n_flagged_exact"), col("n_false_pos"),
          // Guard the degenerate blocklist-covers-everything input (a
          // replicated corpus reaches it): ANSI Spark errors on /0 where
          // DuckDB would emit NULL — the samp_neyman asymmetry class.
          round(when(col("n_docs") > col("n_flagged_exact"),
            col("n_false_pos").cast("double") /
              (col("n_docs") - col("n_flagged_exact")).cast("double")), 6)
            .as("fp_rate"))
    }),

    // The terminal dedup artifact: the composed drop list a training run
    // actually consumes — every (doc_id, reason) pair from the three
    // hygiene passes. Duplicates ride the memoized component labels (keep
    // doc = component min stays), contamination rides the shingle
    // equi-join, low quality is the map-side gate. A doc failing several
    // passes appears once per reason, so downstream can attribute loss.
    "dd_drop_list" -> ((s, dir) => {
      val dup = componentLabels(s, dir)
        .where(col("doc_id") =!= col("lbl"))
        .select(col("doc_id"), lit("duplicate").as("reason"))
      val contam = decontaminatePairs(s, dir)
        .select(col("train_id").as("doc_id")).distinct()
        .select(col("doc_id"), lit("contaminated").as("reason"))
      val lowq = load(s, dir, "documents")
        .where(TextAnalysis.qualityScoreCol === 0.0)
        .select(col("doc_id"), lit("low_quality").as("reason"))
      dup.unionByName(contam).unionByName(lowq)
        .orderBy("doc_id", "reason")
    }),

    // Embedding-cosine near-dup: exact pairwise verifier above CosTau.
    // Norms are precomputed per vector (not per pair), and the pair loop
    // runs the codegen'd DotProduct expression — the fold order matches the
    // HOF/DuckDB formulation bit-for-bit, only faster.
    "dd_embed_cos" -> ((s, dir) => {
      import graft.plans.ArrayExprs.dotProduct
      val e = Dense.normed(s, dir, col("embedding"))
      e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          (dotProduct(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("cos"))
        .where(col("cos") >= CosTau)
        .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("score"))
        .orderBy("vec_a", "vec_b")
    }),

    // Per-doc n-gram novelty — the incremental-duplication curve curators
    // watch while growing a corpus: for each doc, the fraction of its
    // distinct 3-shingles it INTRODUCED (no lower-doc_id document contains
    // them; doc_id is the corpus arrival order). Docs near 0 novelty are
    // pure recombinations of earlier text — prime dedup candidates that
    // exact/near-dup misses when the copying is piecewise. Shape: distinct
    // (doc, shingle) pairs → min-doc_id per shingle → join back on the
    // SAME shingle partitioning (ReuseExchange dedups the distinct chain,
    // the dd_containment lesson) → one per-doc agg. Every shuffle is keyed
    // on shingle or doc_id — linear at 100 TB, no pairwise anything.
    "dd_novelty" -> ((s, dir) => {
      val ss = shingleSet(s, dir)
      val first = ss.groupBy("sh").agg(min(col("doc_id")).as("first_doc"))
      ss.join(first, "sh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          round(col("n_novel").cast("double") / col("n_shingles"), 6)
            .as("novelty"))
        .orderBy("doc_id")
    }))

  /** Oracle mirror of [[jaccardPairs]] (no ORDER BY — callers append one or
    * embed it as a subquery). */
  private lazy val jaccardPairsSql: String = {
    val bandSelects = (0 until JBands).map { b =>
      val hs = (0 until JRows).map { r =>
        val i = b * JRows + r
        s"list_min(list_transform(shs, hh -> (${mixA(i)} * (hh % $MersenneP) + ${mixB(i)}) % $MersenneP))"
      }.mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws('|', $b, $hs)) AS bkt FROM docsh"
    }.mkString("\n  UNION ALL ")
    s"""WITH tok AS (
       |  SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 15)) AS UBIGINT)::BIGINT AS h
       |  FROM ($shingleSetSql)),
       |docsh AS MATERIALIZED (
       |  SELECT doc_id, list(DISTINCT h) AS shs FROM tok GROUP BY doc_id),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkt = y.bkt AND x.doc_id < y.doc_id),
       |j AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(da.shs, db.shs)) AS DOUBLE) AS i,
       |    CAST(len(da.shs) AS DOUBLE) AS na, CAST(len(db.shs) AS DOUBLE) AS nb
       |  FROM cand
       |  JOIN docsh da ON doc_a = da.doc_id
       |  JOIN docsh db ON doc_b = db.doc_id)
       |SELECT doc_a, doc_b, i / (na + nb - i) AS jaccard
       |FROM j WHERE i / (na + nb - i) >= $JaccardTau""".stripMargin
  }

  /** Oracle mirror of [[decontaminatePairs]] (no ORDER BY — callers append
    * one or embed it as a subquery; the WITH block scopes cleanly inside a
    * FROM (...) subquery). */
  private lazy val decontamSql: String =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, ${hash32Sql("sh")} % $MersenneP AS h
       |  FROM ($shingleSetSql)),
       |rare AS (
       |  SELECT h FROM sh GROUP BY h HAVING count(*) <= $DecontamMaxShDocs),
       |shf AS (SELECT sh.doc_id, sh.h FROM sh JOIN rare USING (h)),
       |bench AS (SELECT doc_id AS bench_id, h FROM shf WHERE doc_id % 10 = 0),
       |train AS (SELECT doc_id AS train_id, h FROM shf WHERE doc_id % 10 <> 0)
       |SELECT train_id, bench_id, count(*) AS n_shared
       |FROM train JOIN bench USING (h)
       |GROUP BY train_id, bench_id HAVING count(*) >= $DecontamMinShared""".stripMargin

  /** Shared CTE prefix for the components-based oracles: the three edge
    * evidences, the recursive-CTE transitive closure, and the final
    * per-node min-label table `comp(doc_id, lbl)` — the same fixpoint
    * [[connectedComponents]] reaches (final labels are
    * schedule-independent). */
  private lazy val componentsCteSql: String =
    s"""WITH RECURSIVE g1 AS (
      |  SELECT list_sort(list(DISTINCT doc_id)) AS ids FROM documents
      |  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
      |  HAVING len(list(DISTINCT doc_id)) > 1),
      |g2 AS (
      |  SELECT list_sort(list(DISTINCT doc_id)) AS ids FROM documents
      |  GROUP BY md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' '))
      |  HAVING len(list(DISTINCT doc_id)) > 1),
      |jp AS (
      |  SELECT doc_a AS a, doc_b AS b FROM ($jaccardPairsSql)),
      |star AS (
      |  SELECT ids[1] AS a, unnest(ids[2:]) AS b FROM g1
      |  UNION SELECT ids[1] AS a, unnest(ids[2:]) AS b FROM g2
      |  UNION SELECT a, b FROM jp),
      |edges AS (SELECT a, b FROM star UNION SELECT b, a FROM star),
      |nodes AS (SELECT DISTINCT a AS doc FROM edges),
      |reach(src, dst) AS (
      |  SELECT doc, doc FROM nodes
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
      |comp AS (SELECT src AS doc_id, min(dst) AS lbl FROM reach GROUP BY src)""".stripMargin

  val oracle: Map[String, String] = Map(
    // Identical Kirsch–Mitzenmacher positions off the same hash32; the
    // all-4-positions-present probe is a matched-row count, never a
    // 65536-bit bitmap.
    "dd_bloom" -> {
      val pos = (0 to 3).map(i => s"(h1 + $i * h2) % 65536").mkString(", ")
      s"""WITH d AS (
         |  SELECT doc_id, md5(text) AS m5,
         |    ${hash32Sql("text")} AS h
         |  FROM documents),
         |dk AS (SELECT doc_id, m5, h // 65536 AS h1,
         |         (h % 32768) * 2 + 1 AS h2 FROM d),
         |banned AS (SELECT * FROM dk WHERE doc_id % 7 = 0),
         |bits AS (SELECT DISTINCT pos FROM (
         |  SELECT unnest([$pos]) AS pos FROM banned)),
         |bkeys AS (SELECT DISTINCT m5 FROM banned),
         |probed AS (SELECT doc_id, m5, unnest([$pos]) AS pos FROM dk),
         |bloom AS (
         |  SELECT doc_id, m5 FROM probed
         |  WHERE pos IN (SELECT pos FROM bits)
         |  GROUP BY 1, 2 HAVING count(*) = 4),
         |exact AS (SELECT doc_id FROM dk
         |          WHERE m5 IN (SELECT m5 FROM bkeys)),
         |joint AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_flagged_bloom,
         |    CAST(sum(CASE WHEN e.doc_id IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_false_pos
         |  FROM bloom b LEFT JOIN exact e ON b.doc_id = e.doc_id)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM dk) AS n_docs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM bkeys) AS n_banned_keys,
         |  (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
         |  n_flagged_bloom,
         |  (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_flagged_exact,
         |  n_false_pos,
         |  round(CASE WHEN (SELECT count(*) FROM dk)
         |      > (SELECT count(*) FROM exact) THEN
         |    CAST(n_false_pos AS DOUBLE) /
         |      CAST((SELECT count(*) FROM dk)
         |        - (SELECT count(*) FROM exact) AS DOUBLE) END, 6) AS fp_rate
         |FROM joint""".stripMargin
    },

    "dd_winnow" ->
      s"""WITH tok AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(range(len(ts) - 2)) AS p, ts,
         |    len(ts) - 2 AS m
         |  FROM tok WHERE len(ts) >= 3),
         |hh AS (
         |  SELECT doc_id, p, m,
         |    ${hash32Sql("ts[p + 1] || ' ' || ts[p + 2] || ' ' || ts[p + 3]")}
         |      AS h
         |  FROM g),
         |kk AS (SELECT doc_id, p, m,
         |         h * ${1L << 20} + (${(1L << 20) - 1} - p) AS key FROM hh),
         |w AS (
         |  SELECT doc_id, p, m,
         |    min(key) OVER (PARTITION BY doc_id ORDER BY p
         |      ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS k
         |  FROM kk),
         |sel AS (
         |  SELECT DISTINCT doc_id, k // ${1L << 20} AS fp
         |  FROM w WHERE p <= m - $WinnowW)
         |SELECT fp, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  string_agg(DISTINCT CAST(doc_id AS VARCHAR), ' '
         |             ORDER BY CAST(doc_id AS VARCHAR)) AS docs
         |FROM sel GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY fp""".stripMargin,

    "dd_cdc" ->
      s"""WITH tok AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
         |pos AS (
         |  SELECT doc_id, unnest(range(len(ts))) AS p, ts FROM tok),
         |b AS (
         |  SELECT doc_id, p, ts[p + 1] AS tok,
         |    CASE WHEN p >= 1 AND p <= len(ts) - 3
         |      AND ${hash32Sql("ts[p + 1] || ' ' || ts[p + 2] || ' ' || ts[p + 3]")}
         |          % $CdcD = 0
         |    THEN 1 ELSE 0 END AS bnd
         |  FROM pos),
         |ckt AS (
         |  SELECT doc_id, p, tok,
         |    sum(bnd) OVER (PARTITION BY doc_id ORDER BY p
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ck
         |  FROM b),
         |ch AS (
         |  SELECT doc_id, ck, md5(string_agg(tok, ' ' ORDER BY p)) AS chunk_hash,
         |    count(*) AS n_tokens
         |  FROM ckt GROUP BY 1, 2)
         |SELECT chunk_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(max(n_tokens) AS BIGINT) AS n_tokens,
         |  string_agg(DISTINCT CAST(doc_id AS VARCHAR), ' '
         |             ORDER BY CAST(doc_id AS VARCHAR)) AS docs
         |FROM ch GROUP BY chunk_hash HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY chunk_hash""".stripMargin,

    "dd_exact" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash,
        |  count(*) AS n_copies, min(doc_id) AS keep_id
        |FROM documents GROUP BY content_hash ORDER BY content_hash""".stripMargin,

    "dd_soft_weight" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h
        |  FROM documents),
        |sz AS (SELECT h, CAST(count(*) AS BIGINT) AS copies FROM d GROUP BY 1)
        |SELECT doc_id, copies,
        |  round(1.0 / CAST(copies AS DOUBLE), 6) AS w_inv,
        |  round(1.0 / sqrt(CAST(copies AS DOUBLE)), 6) AS w_sqrt
        |FROM d JOIN sz USING (h) ORDER BY doc_id""".stripMargin,

    "dd_ngram_jaccard" ->
      s"$jaccardPairsSql\nORDER BY doc_a, doc_b",

    "dd_minhash_lsh" -> {
      val bandSelects = (0 until Bands).map { b =>
        val hs = (0 until RowsPerBand).map { r =>
          val i = b * RowsPerBand + r
          s"list_min(list_transform(hs, hh -> (${mixA(i)} * hh + ${mixB(i)}) % $MersenneP))"
        }.mkString(", ")
        s"SELECT doc_id, $b AS band, md5(concat_ws('|', $b, $hs)) AS bkt FROM docsh"
      }.mkString("\n  UNION ALL ")
      s"""WITH tok AS (
         |  SELECT doc_id, ${hash32Sql("sh")} % $MersenneP AS h
         |  FROM ($shingleSetSql)),
         |docsh AS MATERIALIZED (
         |  SELECT doc_id, list(DISTINCT h) AS hs FROM tok GROUP BY doc_id),
         |bands AS (
         |  $bandSelects)
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(DISTINCT x.band) AS n_bands
         |FROM bands x JOIN bands y
         |  ON x.band = y.band AND x.bkt = y.bkt AND x.doc_id < y.doc_id
         |GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""".stripMargin
    },

    "dd_minhash_est" -> {
      val sigList = (0 until NumHashes).map(i =>
        s"list_min(list_transform(hs, hh -> (${mixA(i)} * hh + ${mixB(i)}) % $MersenneP))")
        .mkString(", ")
      val bandSelects = (0 until Bands).map { b =>
        val hs = (b * RowsPerBand until (b + 1) * RowsPerBand)
          .map(i => s"sig[${i + 1}]").mkString(", ")
        s"SELECT doc_id, $b AS band, md5(concat_ws('|', $b, $hs)) AS bkt FROM sigs"
      }.mkString("\n  UNION ALL ")
      s"""WITH tok AS (
         |  SELECT doc_id, ${hash32Sql("sh")} % $MersenneP AS h
         |  FROM ($shingleSetSql)),
         |docsh AS MATERIALIZED (
         |  SELECT doc_id, list(DISTINCT h) AS hs FROM tok GROUP BY doc_id),
         |sigs AS MATERIALIZED (
         |  SELECT doc_id, hs, [$sigList] AS sig FROM docsh),
         |bands AS (
         |  $bandSelects),
         |pairs AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bkt = y.bkt AND x.doc_id < y.doc_id),
         |sc AS (
         |  SELECT doc_a, doc_b,
         |    CAST(len(list_filter(range(1, ${NumHashes + 1}),
         |      i -> a.sig[i] = b.sig[i])) AS BIGINT) AS m,
         |    CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS i,
         |    len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)) AS u
         |  FROM pairs JOIN sigs a ON pairs.doc_a = a.doc_id
         |  JOIN sigs b ON pairs.doc_b = b.doc_id)
         |SELECT doc_a, doc_b, m AS n_match,
         |  round(CAST(m AS DOUBLE) / ${NumHashes}.0, 6) AS est_jaccard,
         |  round(CAST(i AS DOUBLE) / CAST(u AS DOUBLE), 6) AS jaccard,
         |  round(abs(CAST(m AS DOUBLE) / ${NumHashes}.0
         |            - CAST(i AS DOUBLE) / CAST(u AS DOUBLE)), 6) AS abs_err
         |FROM sc ORDER BY doc_a, doc_b""".stripMargin
    },

    "dd_simhash" ->
      s"""WITH tok AS (
        |  SELECT doc_id, ${hash32Sql("token")} AS h FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)),
        |sig AS (
        |  SELECT doc_id,
        |    $simVotesSql
        |  FROM tok GROUP BY doc_id)
        |SELECT doc_id, CAST($simBitsSql AS BIGINT) AS simhash FROM sig ORDER BY doc_id""".stripMargin,

    "dd_simhash_hamming" ->
      s"""WITH tok AS (
        |  SELECT doc_id, ${hash32Sql("token")} AS h FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)),
        |$simBandedCtesSql
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM banded a JOIN banded b
        |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimMaxHam
        |ORDER BY doc_a, doc_b""".stripMargin,

    "dd_simhash_components" ->
      s"""WITH RECURSIVE tok AS (
        |  SELECT doc_id, ${hash32Sql("token")} AS h FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)),
        |$simBandedCtesSql,
        |sgrp AS (
        |  SELECT band, key, simhash, list_sort(list(doc_id)) AS ids
        |  FROM banded GROUP BY 1, 2, 3),
        |exact_star AS (
        |  SELECT ids[1] AS a, unnest(ids[2:]) AS b FROM sgrp
        |  WHERE len(ids) > 1),
        |rep_pairs AS (
        |  SELECT a.ids[1] AS a, b.ids[1] AS b
        |  FROM sgrp a JOIN sgrp b
        |    ON a.band = b.band AND a.key = b.key AND a.ids[1] < b.ids[1]
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimMaxHam),
        |star AS (SELECT a, b FROM exact_star UNION SELECT a, b FROM rep_pairs),
        |edges AS (SELECT a, b FROM star UNION SELECT b, a FROM star),
        |nodes AS (SELECT DISTINCT a AS doc FROM edges),
        |reach(src, dst) AS (
        |  SELECT doc, doc FROM nodes
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        |comp AS (SELECT src AS doc_id, min(dst) AS lbl FROM reach GROUP BY src)
        |SELECT lbl AS component, count(*) AS n_members, min(doc_id) AS keep_id
        |FROM comp GROUP BY lbl ORDER BY component""".stripMargin,

    "dd_components" ->
      s"""$componentsCteSql
        |SELECT lbl AS component, count(*) AS n_members, min(doc_id) AS keep_id
        |FROM comp GROUP BY lbl ORDER BY component""".stripMargin,

    "dd_canonical" ->
      s"""$componentsCteSql,
        |q AS (SELECT doc_id, ${TextAnalysis.qualityScoreSql} AS q FROM documents),
        |j AS (SELECT comp.lbl, comp.doc_id, q.q FROM comp JOIN q USING (doc_id))
        |SELECT lbl AS component,
        |  (list(doc_id ORDER BY q DESC, doc_id ASC))[1] AS canonical_id,
        |  max(q) AS best_quality, count(*) AS n_members
        |FROM j GROUP BY lbl ORDER BY component""".stripMargin,

    "dd_decontaminate" ->
      s"$decontamSql\nORDER BY train_id, bench_id",

    "dd_containment" ->
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, ${hash32Sql("sh")} % $MersenneP AS h
         |  FROM ($shingleSetSql)),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |rare AS (SELECT h FROM sh GROUP BY h
         |         HAVING count(*) BETWEEN 2 AND $DecontamMaxShDocs),
         |shf AS (SELECT sh.doc_id, sh.h FROM sh JOIN rare USING (h)),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |  FROM shf a JOIN shf b ON a.h = b.h AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_shared, sz AS sz_a,
         |  round(CAST(n_shared AS DOUBLE) / sz, 6) AS containment
         |FROM pairs JOIN sizes ON doc_a = sizes.doc_id
         |WHERE sz >= $ContainMinSh AND CAST(n_shared AS DOUBLE) / sz >= $ContainTau
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dd_substring" ->
      s"""WITH tdoc AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
         |sh0 AS (
         |  SELECT doc_id,
         |    unnest(range(1, greatest(len(t) - 1, 1))) AS pos,
         |    unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
         |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
         |  FROM tdoc),
         |sh AS (SELECT doc_id, pos, ${hash32Sql("sh")} % $MersenneP AS h FROM sh0),
         |rare AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM sh)
         |         GROUP BY h HAVING count(*) <= $DecontamMaxShDocs),
         |pruned AS (SELECT sh.doc_id, sh.pos, sh.h FROM sh JOIN rare USING (h)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.pos AS pa, b.pos AS pb
         |  FROM pruned a JOIN pruned b ON a.h = b.h AND a.doc_id < b.doc_id),
         |runs AS (
         |  SELECT doc_a, doc_b, pa - pb AS diff,
         |    pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS grp
         |  FROM pairs),
         |agg AS (SELECT doc_a, doc_b, diff, grp, count(*) AS run
         |        FROM runs GROUP BY doc_a, doc_b, diff, grp),
         |mx AS (SELECT doc_a, doc_b, max(run) AS max_run FROM agg GROUP BY doc_a, doc_b)
         |SELECT doc_a, doc_b, max_run, max_run + 2 AS longest_tokens
         |FROM mx WHERE max_run >= $SubstrMinRun ORDER BY doc_a, doc_b""".stripMargin,

    "dd_drop_list" ->
      s"""$componentsCteSql,
         |dup AS (SELECT doc_id, 'duplicate' AS reason FROM comp WHERE doc_id <> lbl),
         |con AS (SELECT DISTINCT train_id AS doc_id, 'contaminated' AS reason
         |        FROM ($decontamSql)),
         |lq AS (SELECT doc_id, 'low_quality' AS reason FROM documents
         |       WHERE (${TextAnalysis.qualityScoreSql}) = 0.0)
         |SELECT doc_id, reason FROM (
         |  SELECT * FROM dup UNION ALL SELECT * FROM con UNION ALL SELECT * FROM lq)
         |ORDER BY doc_id, reason""".stripMargin,

    "dd_embed_cos" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(list_cosine_similarity(a.v, b.v), 6) AS score
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE list_cosine_similarity(a.v, b.v) >= $CosTau
         |ORDER BY vec_a, vec_b""".stripMargin,

    "dd_novelty" ->
      s"""WITH ss AS ($shingleSetSql),
         |f AS (SELECT sh, min(doc_id) AS first_doc FROM ss GROUP BY sh)
         |SELECT ss.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN f.first_doc = ss.doc_id THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_novel,
         |  round(CAST(sum(CASE WHEN f.first_doc = ss.doc_id THEN 1 ELSE 0 END)
         |             AS DOUBLE) / count(*), 6) AS novelty
         |FROM ss JOIN f USING (sh)
         |GROUP BY ss.doc_id ORDER BY ss.doc_id""".stripMargin)
}
