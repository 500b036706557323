package graft.operators

import graft.Exact.hugeint
import graft.Tables.load
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: token counting,
  * quality scoring, language ID, and document fingerprinting — all pure
  * column expressions (whole-stage codegen, no UDFs), each oracle-checked.
  *
  * At 100 TB these are embarrassingly parallel map-side transforms: no
  * shuffle at all until the (optional) final ORDER BY, which exists only for
  * the deterministic oracle comparison and would be dropped in production.
  */
object TextAnalysis {

  type Q = (SparkSession, String) => DataFrame

  private val PunctClass = graft.functions.TextClean.PunctRe
  // BPE-ish pre-tokenizer: letter runs, digit runs, single non-space symbols.
  private val BpeRe = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  /** ta_bpe_train: number of merge rounds learned, and the fixed number of
    * leftmost-non-overlapping `replace` passes that APPLY each merge.
    * Plain string replace consumes the shared boundary separator between
    * back-to-back occurrences, so one pass merges a pair then skips the
    * next symbol (`|a|a|a|a|` → `|aa|a|a|`-style alternation on
    * same-symbol runs — a deterministic variant of greedy BPE, which
    * would merge disjoint pairs left-to-right); later passes merge
    * occurrences whose separators earlier passes re-exposed (`|a|b|a|b|`
    * completes on pass 2). [[BpePasses]] passes reach the practical
    * fixpoint on natural text; same-symbol runs fix at the alternating
    * pattern, which no pass count changes. Both engines implement
    * identical leftmost-non-overlapping `replace`, so cross-engine parity
    * holds exactly for ANY pass count — the constant is part of the
    * operator's definition, not a tolerance. */
  private val BpeMerges = 6
  private val BpePasses = 3

  /** ta_zipf_fit: how many top ranks per source enter the OLS fit. */
  private val ZipfTopR = 200L

  /** ta_feature_hash: hashed feature-space width. */
  private val FhDim = 64L

  // PII patterns, restricted to the Java-regex ∩ RE2 common subset so the
  // DuckDB oracle evaluates them identically (greedy classes + \b only; no
  // backrefs, no lookaround).
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\b555-[0-9]{3}-[0-9]{4}\\b"

  /** Chunking: window of ChunkSize tokens advancing by ChunkStride
    * (ChunkSize − ChunkStride tokens of overlap between neighbors). */
  private val ChunkSize = 32
  private val ChunkStride = 24

  /** documents scan wrapped in [[graft.Par.spread]] (round 16) for the
    * one ta_ chain whose per-row explode dwarfs the spread's task
    * overhead: ta_dup_ngram_chars (a char-20-gram explode, hundreds of
    * grams per doc). A blanket spread across the family was measured
    * NET-NEGATIVE at sf0.1 (+3.8 s over 34 queries: token-level explodes
    * are too cheap to amortize the extra 32-partition stages — the
    * dd_bloom lesson in Dedup.docsText); every other ta_ site keeps the
    * plain scan. No-op at scale; see graft.Par. */
  private def docsSpread(s: SparkSession, dir: String): DataFrame =
    graft.Par.spread(load(s, dir, "documents"))

  private val Stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Keywords per doc emitted by ta_keywords. */
  private val KwTopK = 3

  /** The published Gopher quality-filter stopword list (Rae et al. 2021,
    * appendix A1.1: a document must contain at least 2 of these). Distinct
    * from [[Stopwords]], which drives the generic ratio features. */
  private val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  private val GopherMinWords = 50L
  private val GopherMaxWords = 100000L
  private val GopherMinMeanLen = 3.0
  private val GopherMaxMeanLen = 10.0
  private val GopherMinAlphaFrac = 0.8
  private val GopherMaxSymRatio = 0.1
  private val GopherMinStops = 2L

  /** Token budget per packed training sequence (ta_pack). */
  private val PackBudget = 2048L

  // Tiny per-language stopword profiles for the n-gram/stopword language-ID
  // heuristic. Real deployments swap in bigger profiles; the operator shape
  // (hits per profile → argmax) is what's exercised here.
  private val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "or", "and", "of"),
    "es" -> Seq("el", "la", "y", "de", "los"),
    "de" -> Seq("der", "die", "und", "das", "ein"),
    "fr" -> Seq("le", "les", "et", "des", "dans"))

  private def toks(c: Column): Column = split(lower(c), " ")

  /** ta_nb_langid: the fixed class list (generated into the oracle SQL's
    * pivot columns — TestdataContractSpec pins that the corpus' actual
    * lang domain equals this). Order is the argmax tie-break order. */
  private val NbLangs = Seq("de", "en", "es", "fr", "zh")

  private def hitCount(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, t => t.isin(words: _*))).cast("long")

  /** The ta_quality keep/drop gate over a `text` column — shared with
    * [[Dedup]]'s dd_canonical (canonical-doc selection ranks cluster
    * members by this score). Keep the Spark and SQL forms in sync. */
  private[operators] def qualityScoreCol: Column = {
    val lenChars = length(col("text")).cast("long")
    when(lenChars >= 100 && lenChars <= 2000 && hitCount(toks(col("text")), Stopwords) > 0,
      1.0).otherwise(0.0)
  }
  // CAST AS DOUBLE: a bare 1.0/0.0 literal is DECIMAL in DuckDB, which the
  // driver's pandas conversion renders as `object` (Decimal) vs Spark's
  // float64 — same comparator-dtype class as the HUGEINT incident.
  private[operators] def qualityScoreSql: String =
    s"CAST(CASE WHEN length(text) BETWEEN 100 AND 2000 AND ${sqlHits(Stopwords)} > 0 THEN 1.0 ELSE 0.0 END AS DOUBLE)"

  val queries: Map[String, Q] = Map(

    // RAKE keyword extraction (Rose et al. 2010) — the third member of
    // the keyword family: ta_keywords ranks single terms by TF-IDF
    // (corpus-relative), ta_textrank ranks terms by co-occurrence
    // centrality, RAKE ranks multi-word PHRASES: candidate phrases are
    // the maximal stopword-free token runs, each word scores
    // deg(w)/freq(w) within the document (deg = Σ lengths of phrases
    // containing w — favors words living in long collocations), and a
    // phrase scores the sum of its word scores. Top 3 phrases per doc,
    // ties → lexicographic. Tokenization is the house `toks` (phrase
    // boundaries at the Stopwords list + empty tokens), so the oracle
    // shares the exact split. Word scores are exact-integer ratios; the
    // per-phrase score folds in position order (phrase-length arrays);
    // round(6) at output, ranking on the identically-folded double.
    // Scale: one corpus-scale posexplode; every window (phrase-id
    // running count, phrase length, per-doc top-k) partitions on the
    // data-scale doc key — embarrassingly parallel by document.
    "ta_rake" -> ((s, dir) => {
      val tok = load(s, dir, "documents")
        .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "w")))
        .withColumn("is_stop",
          (col("w").isInCollection(Stopwords) || col("w") === "")
            .cast("long"))
      val wPid = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wLen = Window.partitionBy("doc_id", "pid")
      val phw = tok.withColumn("pid", sum("is_stop").over(wPid))
        .where(col("is_stop") === 0)
        .withColumn("plen", count(lit(1)).over(wLen))
      val ws = phw.groupBy("doc_id", "w")
        .agg((sum("plen").cast("double") / count(lit(1)).cast("double"))
          .as("wscore"))
      val psc = phw.join(ws, Seq("doc_id", "w"))
        .groupBy("doc_id", "pid")
        .agg(
          array_join(transform(array_sort(collect_list(
            struct(col("pos"), col("w")))), x => x.getField("w")), " ")
            .as("phrase"),
          aggregate(transform(array_sort(collect_list(
            struct(col("pos"), col("wscore").as("t")))),
            x => x.getField("t")), lit(0.0), (a, t) => a + t).as("score"))
      val ded = psc.groupBy("doc_id", "phrase").agg(max("score").as("score"))
      val wTop = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("phrase"))
      ded.withColumn("rnk", row_number().over(wTop).cast("long"))
        .where(col("rnk") <= 3)
        .select(col("doc_id"), col("phrase"), round(col("score"), 6).as("score"),
          col("rnk"))
        .orderBy("doc_id", "rnk")
    }),
    // Token counting: whitespace tokens + BPE-ish regex tokens.
    "ta_token_count" -> ((s, dir) =>
      load(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit(BpeRe), lit(0))).cast("long").as("bpe_tokens"))
        .orderBy("doc_id")),

    // Quality scoring: length, punctuation ratio, stopword ratio, mean token
    // length, composite keep/drop score. Ratios are int/int divisions —
    // bit-exact across engines.
    "ta_quality" -> ((s, dir) => {
      val t = toks(col("text"))
      val lenChars = length(col("text")).cast("long")
      val nToks = size(t).cast("long")
      val nPunct = size(regexp_extract_all(col("text"), lit(PunctClass), lit(0))).cast("long")
      val nStop = hitCount(t, Stopwords)
      val sumTokLen = aggregate(transform(t, tk => length(tk)), lit(0), (acc, x) => acc + x).cast("long")
      load(s, dir, "documents")
        .select(col("doc_id"), lenChars.as("len_chars"), nToks.as("n_tokens"),
          (nPunct.cast("double") / lenChars).as("punct_ratio"),
          (nStop.cast("double") / nToks).as("stop_ratio"),
          (sumTokLen.cast("double") / nToks).as("mean_tok_len"),
          qualityScoreCol.as("quality_score"))
        .orderBy("doc_id")
    }),

    // Code-vs-prose detection (the StarCoder/RedPajama-style routing
    // signal): documents that look like source code get routed to a code
    // pipeline (different dedup granularity, no NLP scoring), prose
    // continues through the quality filters. Heuristics are the standard
    // ones — code-symbol density ({};=()<>[] per char), code-keyword hits
    // (def/class/import/…), and the assignment-operator count — each
    // surfaced as its own column plus the composite is_code decision.
    // Pure map-side column math over a shared Java∩RE2 regex subset
    // (the ta_pii_redact parity rule): at 100 TB this filter runs inside
    // the scan with zero shuffles.
    "ta_code_detect" -> ((s, dir) => {
      def cnt(re: String) =
        size(regexp_extract_all(col("text"), lit(re), lit(0))).cast("long")
      val nChars = length(col("text")).cast("long")
      val nSym = cnt("[{};=()<>\\[\\]]")
      val nKw = cnt("\\b(def|class|import|return|function|var|const|if|else|for|while)\\b")
      val nAssign = cnt("[-+*/]?=[^=]")
      val symRatio = nSym.cast("double") / nChars
      load(s, dir, "documents")
        .select(col("doc_id"), nChars.as("n_chars"), nSym.as("n_sym"),
          nKw.as("n_kw"), nAssign.as("n_assign"),
          round(symRatio, 6).as("sym_ratio"),
          (symRatio >= 0.05 || (nKw >= 3 && nAssign >= 1)).as("is_code"))
        .orderBy("doc_id")
    }),

    // The Gopher REPETITION signals (Rae et al. 2021, A1.1 "repetitious
    // text"): per document, (a) the fraction of characters inside word
    // trigrams that occur ≥2 times in the doc (every occurrence of a
    // duplicated trigram counts its characters; chars = length of the
    // space-joined shingle minus the 2 joiners), and (b) the fraction of
    // bigram occurrences claimed by the single most frequent bigram.
    // keep = both ≤ 0.2. Docs need ≥1 trigram to be scored. One scan:
    // both gram sizes explode tagged into ONE (doc, n, sh) aggregation,
    // then one doc-keyed rollup — everything keyed on doc_id, nothing
    // corpus-wide, so the whole operator is two keyed exchanges at any
    // scale.
    "ta_dup_ngram_chars" -> ((s, dir) => {
      def shingles2(t: Column): Column = {
        val n = size(t)
        when(n >= 2, zip_with(slice(t, lit(1), n - 1), slice(t, lit(2), n - 1),
          (a, b) => concat_ws(" ", a, b)))
          .otherwise(array().cast("array<string>"))
      }
      val t = toks(col("text"))
      val grams = docsSpread(s, dir)
        .select(col("doc_id"), explode(concat(
          transform(graft.functions.VectorFns.shingles3(t),
            x => struct(lit(3).as("n"), x.as("sh"))),
          transform(shingles2(t),
            x => struct(lit(2).as("n"), x.as("sh"))))).as("g"))
        .select(col("doc_id"), col("g.n").as("n"), col("g.sh").as("sh"))
      val perGram = grams.groupBy("doc_id", "n", "sh")
        .agg(count(lit(1)).as("c"))
        .withColumn("chars", (length(col("sh")) - (col("n") - 1)).cast("long"))
      val dupFrac = col("dup_tri_chars").cast("double") / col("tri_chars")
      val topFrac = col("top_bi").cast("double") / col("n_bi")
      perGram.groupBy("doc_id").agg(
          sum(when(col("n") === 3, col("c"))).as("n_tri"),
          sum(when(col("n") === 3, col("c") * col("chars"))).as("tri_chars"),
          coalesce(sum(when(col("n") === 3 && col("c") >= 2,
            col("c") * col("chars"))), lit(0L)).as("dup_tri_chars"),
          max(when(col("n") === 2, col("c"))).as("top_bi"),
          sum(when(col("n") === 2, col("c"))).as("n_bi"))
        .where(col("n_tri").isNotNull && col("n_bi").isNotNull)
        .select(col("doc_id"), col("n_tri"),
          round(dupFrac, 6).as("dup_tri_char_frac"),
          round(topFrac, 6).as("top_bi_frac"),
          (dupFrac <= 0.2 && topFrac <= 0.2).as("keep"))
        .orderBy("doc_id")
    }),

    // The published Gopher quality-rule filter (Rae et al. 2021, A1.1):
    // word-count bounds, mean-word-length bounds, symbol-to-word ratio,
    // alphabetic-word fraction, and the 8-word must-contain stopword rule,
    // each surfaced as its own flag plus the composite keep decision. The
    // paper's two line-level rules (bullet-start / ellipsis-end fractions)
    // are omitted because this corpus has no line structure (zero
    // newlines). Pure map-side column math — at 100 TB this filter runs
    // inside the scan with zero shuffles.
    "ta_gopher_rules" -> ((s, dir) => {
      val t = toks(col("text"))
      val nWords = size(t).cast("long")
      val sumLen = aggregate(transform(t, tk => length(tk)), lit(0),
        (acc, x) => acc + x).cast("long")
      val meanLen = sumLen.cast("double") / nWords
      val alphaFrac =
        size(filter(t, tk => tk.rlike("[a-z]"))).cast("double") / nWords
      val nSym = (size(regexp_extract_all(col("text"), lit("#"), lit(0))) +
        size(regexp_extract_all(col("text"), lit("\\.\\.\\."), lit(0))))
        .cast("long")
      val symRatio = nSym.cast("double") / nWords
      val stopHits = hitCount(t, GopherStops)
      val okWords = nWords.between(GopherMinWords, GopherMaxWords)
      val okMeanLen = meanLen.between(GopherMinMeanLen, GopherMaxMeanLen)
      val okAlpha = alphaFrac >= GopherMinAlphaFrac
      val okSymbols = symRatio <= GopherMaxSymRatio
      val okStops = stopHits >= GopherMinStops
      load(s, dir, "documents")
        .select(col("doc_id"), nWords.as("n_words"),
          meanLen.as("mean_word_len"), alphaFrac.as("alpha_frac"),
          symRatio.as("sym_ratio"), stopHits.as("stop_hits"),
          okWords.as("ok_words"), okMeanLen.as("ok_mean_len"),
          okAlpha.as("ok_alpha"), okSymbols.as("ok_symbols"),
          okStops.as("ok_stops"),
          (okWords && okMeanLen && okAlpha && okSymbols && okStops).as("keep"))
        .orderBy("doc_id")
    }),

    // Language ID: stopword-profile hit counts → argmax with a fixed
    // priority order (en > es > de > fr > und).
    "ta_langid" -> ((s, dir) => {
      val t = toks(col("text"))
      val hits = LangProfiles.map { case (l, ws) => l -> hitCount(t, ws) }.toMap
      val predicted =
        when(hits("en") > 0 && hits("en") >= hits("es") && hits("en") >= hits("de") && hits("en") >= hits("fr"), "en")
          .when(hits("es") > 0 && hits("es") >= hits("de") && hits("es") >= hits("fr"), "es")
          .when(hits("de") > 0 && hits("de") >= hits("fr"), "de")
          .when(hits("fr") > 0, "fr")
          .otherwise("und")
      load(s, dir, "documents")
        .select(col("doc_id") +: col("lang").as("actual") +:
          LangProfiles.map { case (l, _) => hits(l).as(s"hits_$l") } :+
          predicted.as("predicted"): _*)
        .orderBy("doc_id")
    }),

    // Corpus n-gram statistics: top-20 bigrams by occurrence count — the
    // standard vocabulary diagnostic before training. One explode + one
    // hash-shuffle on the bigram; top-k is TakeOrdered, no global sort.
    //
    // Bigrams come from zip_with over two shifted slices, not
    // transform(sequence)+element_at — inside a lambda the token array is
    // an outer expression that re-evaluates per ELEMENT (O(n²) per doc;
    // see VectorFns.shingles3 for the measured 8× gap). Bench history for
    // this query (3.6s r1 → 5.7s r2 → 4.6s r3 → 3.7s r4-pre, identical
    // code each round) was machine/JIT variance: solo runs measured 5.8–6.0s
    // vs 3.7s in-battery on the same binary the same day.
    "ta_ngram_topk" -> ((s, dir) => {
      val t = toks(col("text"))
      val n = size(t)
      val bigrams = when(n >= 2,
        zip_with(slice(t, lit(1), n - 1), slice(t, lit(2), n - 1),
          (a, b) => concat_ws(" ", a, b)))
        .otherwise(array().cast("array<string>"))
      load(s, dir, "documents")
        .select(explode(bigrams).as("ngram"))
        .groupBy("ngram")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ngram"))
        .limit(20)
    }),

    // PMI-scored bigram collocations (the word2phrase-style phrase-mining
    // step of a corpus pipeline): pmi = ln(P(xy) / (P(x)·P(y))) over
    // bigrams seen 5+ times. Scale shape: unigram and bigram counts are
    // each one explode + one keyed agg over the corpus; the PMI join
    // touches only the (vocab-sized) count tables, never corpus rows, and
    // the two corpus totals ride one-row broadcasts. ln() parity follows
    // the ta_keywords rule: identical double expression tree + round(6).
    // Heaps'-law vocabulary-growth fit (V = k·N^β) — the scaling curve
    // behind tokenizer-vocab and dedup-budget decisions on a growing
    // corpus: how fast does NEW vocabulary arrive as tokens accumulate?
    // The corpus orders by doc_id and checkpoints at ≤21 id-buckets
    // (adaptive width from a one-row min/max — the ladder discipline);
    // V at each checkpoint counts terms whose FIRST bucket is ≤ b (one
    // vocab-scale min agg — never a cumulative distinct over data), N is
    // the token prefix sum; the log-log least-squares fit folds its four
    // sums in bucket order over the ≤21-point frame (sorted-fold parity
    // discipline), so β and k are identical double expressions,
    // round(6). Scale: one token explode + one vocab agg; everything
    // after rides the bucket frame.
    "ta_heaps_fit" -> ((s, dir) => {
      val t = toks(col("text"))
      val docs = load(s, dir, "documents").select(col("doc_id"), t.as("t"))
      val mm = docs.groupBy().agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      val bk = expr("(doc_id - lo) div greatest(1, (hi - lo) div 20 + 1)")
      val withB = docs.crossJoin(broadcast(mm))
        .select(bk.as("b"), col("t")).localCheckpoint()
      // pmod re-asserts b ∈ [0,21) IN the plan (bk divides the doc_id
      // span into ≤21 buckets by construction): the localCheckpoint above
      // truncates lineage, hiding the div derivation from the
      // ScaleDesignSpec provenance sweep. A no-op on the values.
      val tokN = withB.select(col("b"), size(col("t")).as("nt"))
        .groupBy(pmod(col("b"), lit(21L)).as("b")).agg(sum("nt").as("bn"))
      val newV = withB.select(col("b"), explode(col("t")).as("w"))
        .groupBy("w").agg(min("b").as("fb"))
        .groupBy(pmod(col("fb"), lit(21L)).as("b")).agg(count(lit(1)).as("bv"))
      val wB = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
      val pts = tokN.join(newV, Seq("b"), "left").na.fill(0L, Seq("bv"))
        .withColumn("nn", sum("bn").over(wB))
        .withColumn("vv", sum("bv").over(wB))
        .where(col("nn") > 0 && col("vv") > 0)
        .select(col("b"), col("nn"), col("vv"),
          log(col("nn").cast("double")).as("x"),
          log(col("vv").cast("double")).as("y"))
      def fld(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        aggregate(transform(col("a"), f), lit(0.0), (acc, x) => acc + x)
      val one = pts.groupBy()
        .agg(array_sort(collect_list(struct(col("b"), col("x"), col("y"))))
          .as("a"),
          max("nn").as("n_total"), max("vv").as("v_total"))
      val kk = size(col("a")).cast("double")
      val sx = fld(_.getField("x"))
      val sy = fld(_.getField("y"))
      val sxx = fld(r => r.getField("x") * r.getField("x"))
      val sxy = fld(r => r.getField("x") * r.getField("y"))
      val beta = (kk * sxy - sx * sy) / (kk * sxx - sx * sx)
      // + 0.0 canon: the synthetic corpus saturates its vocabulary in
      // the first bucket, so the slope numerator is a ±ulp around zero
      // and round(·,6) keeps IEEE −0.0 — which hashes differently from
      // +0.0. Adding 0.0 maps −0.0 → +0.0 on both engines (and is a
      // no-op for every other value).
      one.select(size(col("a")).cast("long").as("n_points"),
          col("n_total"), col("v_total"),
          (round(beta, 6) + lit(0.0)).as("beta"),
          (round(exp((sy - beta * sx) / kk), 6) + lit(0.0)).as("k_heaps"))
    }),

    // "Fightin' Words" (Monroe, Colaresi & Quinn 2008): which terms
    // distinguish one half of the corpus from the other, scored by the
    // log-odds ratio with an informative Dirichlet prior and its
    // z-standardization — the statistically honest replacement for the
    // naive tf-ratio "trending terms" list (rare terms don't dominate,
    // because the prior shrinks them and the variance term widens).
    // Groups are the deterministic doc_id-parity split; α = 0.01 per
    // term, A = α·V. Exactness: all counts are exact integers; δ and z
    // are ONE identical double expression chain on both engines,
    // round(6); the two 25-term cuts use the (z, term) total order so
    // ties cannot straddle the boundary differently. Scale: two corpus
    // token aggs (term × group counts, group totals) + a one-row
    // broadcast; both cuts are TakeOrdered over the vocabulary frame.
    "ta_fightin_words" -> ((s, dir) => {
      val tok = load(s, dir, "documents")
        .select((col("doc_id") % 2 === 0).cast("long").as("g"),
          explode(toks(col("text"))).as("w"))
      val tc = tok.groupBy("w")
        .agg(sum(when(col("g") === 1, 1L).otherwise(0L)).as("c1"),
          sum(when(col("g") === 0, 1L).otherwise(0L)).as("c2"))
        .localCheckpoint()
      val tot = tc.groupBy().agg(sum("c1").as("n1"), sum("c2").as("n2"),
        count(lit(1)).cast("double").as("v"))
      val a = lit(0.01)
      val bigA = a * col("v")
      val delta =
        log((col("c1") + a) / (col("n1") + bigA - col("c1") - a)) -
          log((col("c2") + a) / (col("n2") + bigA - col("c2") - a))
      val z = delta / sqrt(lit(1.0) / (col("c1") + a) +
        lit(1.0) / (col("c2") + a))
      val scored = tc.crossJoin(broadcast(tot))
        .select(col("w").as("term"), col("c1"), col("c2"),
          round(z, 6).as("z"))
        .localCheckpoint()
      scored.orderBy(col("z").desc, col("term")).limit(25)
        .unionAll(scored.orderBy(col("z").asc, col("term")).limit(25))
        .orderBy(col("z").desc, col("term"))
    }),

    // Term burstiness (Church & Gale 1995) + index of dispersion — the
    // corpus statistic separating topical words (bursty: rare across
    // docs, dense within them) from function words (Poisson-like):
    // burst = cf/df (mean tf within containing docs) and the Fano
    // factor D = Var(tf)/E(tf) over ALL docs. Everything reduces from
    // ONE (term, doc) tf aggregate to per-term integer power sums
    // (Σtf, Σtf² — int64-safe to Σtf² ≈ 9e18, i.e. essentially always:
    // tf is per-doc-bounded); the D expression is the identical double
    // tree on both engines, round(6). Top 30 by dispersion.
    "ta_burstiness" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      val nDocs = docs.groupBy().agg(count(lit(1)).as("nd"))
      val tf = docs.select(col("doc_id"), explode(toks(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val st = tf.groupBy("w")
        .agg(count(lit(1)).as("df"), sum("tf").as("cf"),
          sum(col("tf") * col("tf")).as("cf2"))
        .where(col("df") >= 20)
      val mean = col("cf").cast("double") / col("nd").cast("double")
      val ex2 = col("cf2").cast("double") / col("nd").cast("double")
      st.crossJoin(broadcast(nDocs))
        .select(col("w").as("term"), col("df"), col("cf"),
          round(col("cf").cast("double") / col("df").cast("double"), 6)
            .as("burst"),
          round((ex2 - mean * mean) / mean, 6).as("dispersion"))
        .orderBy(col("dispersion").desc, col("term"))
        .limit(30)
    }),

    // TextRank keyword extraction (Mihalcea & Tarau 2004) — the
    // graph-based keyword scorer that needs no training data: content
    // words (pure-alpha, length ≥ 4) become nodes, adjacent filtered
    // tokens become weighted undirected co-occurrence edges, and 10
    // rounds of weighted PageRank (d = 0.85) rank the vocabulary; top 20
    // emitted. Cross-engine exactness is the gr_pagerank discipline:
    // FIXED-POINT integer ranks (U = 1e6 per node; teleport 15U div 100;
    // contribution (r·w) div wtot), so every round is pure int64
    // arithmetic with order-independent sums — no float drift over 10
    // iterations. Bound: r < Σr = |V|·U and r·w < |V|·U·w_max ≈ 1e15 at
    // the testable vocabularies (int64 headroom ≥ 8e3; a 100 TB corpus
    // would drop U a decade per vocabulary decade). Shape: the pair
    // explode is map-side (zip_with over the filtered token array); each
    // round is one vocabulary-keyed join + agg — edge-scale shuffles,
    // never corpus-scale.
    "ta_textrank" -> ((s, dir) => {
      val U = 1000000L
      val tsF = filter(toks(col("text")), x => x.rlike("^[a-z]{4,}$"))
      val docs = load(s, dir, "documents").select(tsF.as("ts"))
      val pg = when(size(col("ts")) >= 2,
        zip_with(slice(col("ts"), lit(1), size(col("ts")) - 1),
          slice(col("ts"), lit(2), size(col("ts")) - 1),
          (a, b) => concat_ws(" ", least(a, b), greatest(a, b))))
        .otherwise(array().cast("array<string>"))
      val pairs = docs.select(explode(pg).as("pg"))
        .where(split(col("pg"), " ").getItem(0) =!=
          split(col("pg"), " ").getItem(1))
        .groupBy("pg").agg(count(lit(1)).as("w"))
        .select(split(col("pg"), " ").getItem(0).as("a"),
          split(col("pg"), " ").getItem(1).as("b"), col("w"))
        .localCheckpoint()
      val sym = pairs.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst"), col("w")))
      val adj = sym.groupBy("src")
        .agg(collect_list(struct(col("dst"), col("w"))).as("nbrs"),
          sum("w").as("wtot"))
        .localCheckpoint()
      // Runtime guard on the documented headroom bound: every round's
      // contribution is r·w with r < Σr = |V|·U (rank mass conserved by
      // the teleport) and w ≤ w_max, so |V|·U·w_max must stay inside
      // int64 or the fixed-point sums would wrap on Spark while DuckDB's
      // HUGEINT stays exact — surfacing only as an opaque hash mismatch.
      // One metadata-scale row (already-checkpointed edge list); on a
      // corpus that trips this, drop U a decade per vocabulary decade.
      val b = adj.agg(count(lit(1)).as("nv"), max("wtot").as("wm")).head()
      require(BigInt(b.getLong(0)) * U * b.getLong(1) < BigInt(Long.MaxValue),
        s"ta_textrank fixed-point headroom exhausted: |V|=${b.getLong(0)}, " +
          s"w_max=${b.getLong(1)}, U=$U — lower U for this vocabulary")
      var rank = adj.select(col("src").as("node"), lit(U).as("r"))
      for (_ <- 1 to 10) {
        rank = rank.join(adj, col("node") === col("src"))
          .select(explode(col("nbrs")).as("nb"), col("r"), col("wtot"))
          .select(col("nb.dst").as("dst"),
            expr("(r * nb.w) div wtot").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("sc"))
          .select(col("dst").as("node"),
            (lit(15L * U / 100L) + expr("85 * sc div 100")).as("r"))
      }
      rank.select(col("node").as("term"), col("r").as("tr_fp"))
        .orderBy(col("tr_fp").desc, col("term"))
        .limit(20)
    }),

    "ta_collocations" -> ((s, dir) => {
      val t = toks(col("text"))
      val n = size(t)
      val bigrams = when(n >= 2,
        zip_with(slice(t, lit(1), n - 1), slice(t, lit(2), n - 1),
          (a, b) => concat_ws(" ", a, b)))
        .otherwise(array().cast("array<string>"))
      val docs = load(s, dir, "documents")
      val uni = docs.select(explode(t).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cw"))
      val totU = uni.groupBy().agg(sum(col("cw")).as("nu"))
      val bi0 = docs.select(explode(bigrams).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("cxy"))
      val totB = bi0.groupBy().agg(sum(col("cxy")).as("nb"))
      bi0.where(col("cxy") >= 5)
        .withColumn("wa", split(col("bg"), " ").getItem(0))
        .withColumn("wb", split(col("bg"), " ").getItem(1))
        .join(uni.select(col("w").as("ua"), col("cw").as("ca")), col("wa") === col("ua"))
        .join(uni.select(col("w").as("ub"), col("cw").as("cb")), col("wb") === col("ub"))
        .crossJoin(broadcast(totU)).crossJoin(broadcast(totB))
        .select(col("bg"), col("cxy"),
          round(log((col("cxy") / col("nb")) /
            ((col("ca") / col("nu")) * (col("cb") / col("nu")))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("bg"))
    }),

    // Document fingerprint (OpenRefine-style key collision): md5 of the
    // sorted distinct token set — robust to word order and duplication.
    "ta_fingerprint" -> ((s, dir) =>
      load(s, dir, "documents")
        .select(col("doc_id"),
          md5(array_join(array_sort(array_distinct(toks(col("text")))), " "))
            .as("fingerprint"))
        .orderBy("doc_id")),

    // PII redaction: regex-scrub emails and phone numbers, keeping per-doc
    // redaction counts for audit. The synthetic corpus carries no PII, so
    // the query plants deterministic doc_id-derived PII first (mirrored by
    // the oracle) — the operator under test is the scrub itself. Pure
    // map-side regex work: at 100 TB this is an embarrassingly parallel
    // column transform with zero shuffle before the oracle ORDER BY.
    "ta_pii_redact" -> ((s, dir) => {
      val planted = concat(col("text"),
        when(col("doc_id") % 3 =!= 0,
          concat(lit(" contact user"), col("doc_id"), lit("@mail.example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 2 === 0,
          concat(lit(" call 555-"), (col("doc_id") % 900 + 100).cast("string"),
            lit("-"), ((col("doc_id") * 7) % 9000 + 1000).cast("string")))
          .otherwise(lit("")))
      load(s, dir, "documents")
        .select(col("doc_id"), planted.as("enriched"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("enriched"), lit(EmailRe), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("enriched"), lit(PhoneRe), lit(0)))
            .cast("long").as("n_phones"),
          regexp_replace(regexp_replace(col("enriched"), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>").as("redacted"))
        .orderBy("doc_id")
    }),

    // Sliding-window chunking — context packing for training: fixed-size
    // token windows with overlap (stride < window), the standard shape for
    // turning long documents into model-context-sized samples. One explode
    // over per-doc start indices; the slice/join are map-side array ops, so
    // at 100 TB this is shuffle-free row expansion (fan-out bounded by
    // n_tokens / stride per doc).
    "ta_chunk" -> ((s, dir) => {
      val t = toks(col("text"))
      val n = size(t)
      // n_chunks - 1 = ceil(max(n - ChunkSize, 0) / Stride); +23/24 floor
      // form keeps the arithmetic identical in both engines.
      val lastIdx = floor((greatest(n - ChunkSize, lit(0)) + (ChunkStride - 1))
        / lit(ChunkStride.toDouble)).cast("int")
      load(s, dir, "documents")
        .select(col("doc_id"), t.as("t"),
          explode(sequence(lit(0), lastIdx)).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          slice(col("t"), col("chunk_idx") * ChunkStride + 1, lit(ChunkSize)).as("c"))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          size(col("c")).cast("long").as("n_tokens"),
          array_join(col("c"), " ").as("chunk_text"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // TF-IDF keyword extraction: top-KwTopK terms per doc by
    // tf · ln((N+1)/(df+1)). tf and df are two keyed aggregations over the
    // token explode, the one-row corpus count is broadcast, and the final
    // rank is a window partitioned BY DOC (keyed — never a global window).
    // Score parity: round(6) on both sides absorbs libm ln ulp divergence;
    // ordering and the top-k cut use the rounded value with a term
    // tiebreak.
    "ta_keywords" -> ((s, dir) => {
      val tf = load(s, dir, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val corpus = load(s, dir, "documents")
        .agg(count(lit(1)).cast("double").as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      tf.join(dfT, "term").crossJoin(broadcast(corpus))
        .select(col("doc_id"), col("term"),
          round(col("tf") * log((col("n") + lit(1.0)) / (col("df") + lit(1.0))), 6)
            .as("score"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= KwTopK)
        .select("doc_id", "rank", "term", "score")
        .orderBy("doc_id", "rank")
    }),

    // Unigram LM perplexity proxy — the cheap end of model-based quality
    // filtering: score(doc) = −(1/n)·Σ_tokens ln p(term), with p the
    // Laplace-smoothed corpus unigram frequency. High scores = documents
    // full of corpus-rare tokens (gibberish, boilerplate IDs); real
    // pipelines threshold on it before the expensive model-based filters.
    // Two keyed aggs (term frequency, per-(doc,term) tf) + one join on
    // term + a per-doc sorted-by-term sequential fold — the BM25 parity
    // template: round(6) absorbs libm ln ulp, fold order fixed by term.
    "ta_unigram_ppl" -> ((s, dir) => {
      val tok = load(s, dir, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val cf = tf.groupBy("term").agg(sum(col("tf")).as("cf"))
      val vocabAndN = cf.agg(count(lit(1)).cast("double").as("v"),
        sum(col("cf")).cast("double").as("total"))
      val contrib = tf.join(cf, "term").crossJoin(broadcast(vocabAndN))
        .select(col("doc_id"), col("term"), col("tf"),
          (col("tf") * log((col("cf") + lit(1.0)) / (col("total") + col("v"))))
            .as("lp"))
      contrib.groupBy("doc_id")
        .agg(round(
          -aggregate(
            transform(array_sort(collect_list(struct(col("term"), col("lp")))),
              x => x.getField("lp")),
            lit(0.0), (acc, x) => acc + x)
            / sum(col("tf")), 6).as("nll"))
        .orderBy("doc_id")
    }),

    // Bigram-LM perplexity proxy — the next step up from ta_unigram_ppl
    // toward the KenLM-style n-gram filtering CCNet uses: per-doc mean NLL
    // under a Laplace-smoothed conditional model P(w2|w1) = (c(w1 w2)+1) /
    // (ctx(w1)+V) fit on the corpus itself. Scale shape: bigrams map-side
    // (the ir_phrase zip_with form), then three keyed aggs (doc-bigram tf →
    // corpus bigram cf → left-context totals) + a one-row broadcast vocab;
    // the contrib join is bigram-keyed. Fold by bigram sorted, round(6) —
    // the ta_unigram_ppl parity template.
    "ta_bigram_ppl" -> ((s, dir) => {
      val t = toks(col("text"))
      val n = size(t)
      val bigrams = zip_with(slice(t, lit(1), n - 1), slice(t, lit(2), n - 1),
        (a, b) => concat_ws(" ", a, b))
      val tf = load(s, dir, "documents")
        .where(n >= 2)
        .select(col("doc_id"), explode(bigrams).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("tf"))
      val cf = tf.groupBy("bg").agg(sum(col("tf")).as("cf"))
      val ctx = cf.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
        .agg(sum(col("cf")).as("ctx"))
      val vocab = load(s, dir, "documents")
        .select(explode(toks(col("text"))).as("term"))
        .agg(countDistinct(col("term")).cast("double").as("v"))
      val contrib = tf.join(cf, "bg")
        .join(ctx, substring_index(col("bg"), " ", 1) === col("w1"))
        .crossJoin(broadcast(vocab))
        .select(col("doc_id"), col("bg"), col("tf"),
          (col("tf") * log((col("cf") + lit(1.0)) / (col("ctx") + col("v"))))
            .as("lp"))
      contrib.groupBy("doc_id")
        .agg(round(
          -aggregate(
            transform(array_sort(collect_list(struct(col("bg"), col("lp")))),
              x => x.getField("lp")),
            lit(0.0), (acc, x) => acc + x)
            / sum(col("tf")), 6).as("nll"))
        .orderBy("doc_id")
    }),

    // Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; the
    // smoothing inside KenLM and every serious count-based LM — the
    // quality signal "how surprising is this doc under a KN bigram
    // model"): p(w|v) = (c(vw)−D)⁺/c(v) + D·N₁₊(v·)/c(v) · N₁₊(·w)/B,
    // with discount D = 0.75 and the CONTINUATION counts (how many
    // distinct contexts a word follows / precedes) that distinguish KN
    // from the add-one smoothing of ta_bigram_ppl. Exactness: all five
    // count tables are exact integers; p is ONE identical double
    // expression on both engines; per-doc ln sums fold in sorted bigram
    // order (the ta_unigram_ppl parity template), round(6). In-corpus
    // docs guarantee c(vw) ≥ 1, so the discounted term never needs a
    // zero branch. Scale: the ta_bigram_ppl chain + two more
    // vocabulary-scale keyed aggregates/joins (w1/w2 continuation
    // tables); the type total B rides a one-row broadcast.
    "ta_kn_bigram" -> ((s, dir) => {
      val t = toks(col("text"))
      val n = size(t)
      val bigrams = zip_with(slice(t, lit(1), n - 1), slice(t, lit(2), n - 1),
        (a, b) => concat_ws(" ", a, b))
      val tf = load(s, dir, "documents")
        .where(n >= 2)
        .select(col("doc_id"), explode(bigrams).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("tf"))
      val cf = tf.groupBy("bg").agg(sum(col("tf")).as("cf"))
      val ctx = cf.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
        .agg(sum(col("cf")).as("ctx"), count(lit(1)).as("n1v"))
      val cont = cf.groupBy(substring_index(col("bg"), " ", -1).as("w2"))
        .agg(count(lit(1)).as("n1w"))
      val btypes = cf.groupBy().agg(count(lit(1)).cast("double").as("bt"))
      val p = greatest(col("cf") - lit(0.75), lit(0.0)) / col("ctx") +
        (lit(0.75) * col("n1v") / col("ctx")) * (col("n1w") / col("bt"))
      val contrib = tf.join(cf, "bg")
        .join(ctx, substring_index(col("bg"), " ", 1) === col("w1"))
        .join(cont, substring_index(col("bg"), " ", -1) === col("w2"))
        .crossJoin(broadcast(btypes))
        .select(col("doc_id"), col("bg"), col("tf"),
          (col("tf") * log(p)).as("lp"))
      contrib.groupBy("doc_id")
        .agg(round(
          -aggregate(
            transform(array_sort(collect_list(struct(col("bg"), col("lp")))),
              x => x.getField("lp")),
            lit(0.0), (acc, x) => acc + x)
            / sum(col("tf")), 6).as("kn_nll"))
        .orderBy("doc_id")
    }),

    // Shannon entropy of each document's word distribution — a lexical-
    // diversity quality signal (near-zero = one token repeated; high =
    // diverse vocabulary; boilerplate and keyword-stuffed spam sit low).
    // H = ln(n) − (Σ c·ln c)/n over per-term counts c, computed as ONE
    // (doc, term) keyed agg + ONE per-doc agg — linear in corpus tokens,
    // embarrassingly parallel at 100 TB. The c·ln c sum is a sorted
    // sequential fold by term (the ta_unigram_ppl parity template) and
    // round(6) absorbs libm ln ulp.
    "ta_entropy" -> ((s, dir) => {
      val tf = load(s, dir, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      tf.groupBy("doc_id")
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
          aggregate(
            transform(array_sort(collect_list(struct(col("term"), col("c")))),
              x => x.getField("c") * log(x.getField("c"))),
            lit(0.0), (acc, x) => acc + x).as("clogc"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          round(log(col("n_tokens")) - col("clogc") / col("n_tokens"), 6)
            .as("entropy"))
        .orderBy("doc_id")
    }),

    // Per-source vocabulary profile: token count, vocabulary size,
    // hapax-legomena count (terms occurring once — the OOV tail a
    // tokenizer will choke on), and type-token ratio. The corpus-level
    // twin of ta_entropy's per-doc diversity: a source whose TTR
    // collapses or whose hapax share explodes is boilerplate or junk
    // respectively. Two keyed aggs ((source, term) then source) — linear
    // in corpus tokens, all-integer until the final ratio.
    // HD-D lexical diversity (McCarthy & Jarvis 2010): the hypergeometric
    // sampling index — for a random 42-token draw, each type contributes
    // (1 − P[absent])/42 with P[absent] = Π_{i=0}^{41} (N − tf − i)/(N − i).
    // Unlike raw TTR it is length-independent, which is what makes it a
    // usable doc-quality signal on a corpus whose doc lengths span decades.
    // The 42-term product folds as exp(Σ ln) over an ascending literal
    // sequence (identical tree both engines; 0 when N − tf < 42 — every ln
    // argument is then ≥ 1 in the live branch); per-doc type contributions
    // fold in term order. Docs with ≥ 50 tokens only (the published
    // validity floor). Shape: one (doc, term) tf agg + a doc-keyed join
    // that AQE co-partitions + one doc-keyed fold — linear in tokens.
    "ta_hdd" -> ((s, dir) => {
      val hddS = 42
      val tf = load(s, dir, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val tot = tf.groupBy("doc_id")
        .agg(sum("tf").as("n"), count(lit(1)).as("n_types"))
        .where(col("n") >= 50)
      val p0 = when(col("n") - col("tf") < hddS, lit(0.0)).otherwise(
        exp(aggregate(sequence(lit(0), lit(hddS - 1)), lit(0.0),
          (acc, i) => acc + (log((col("n") - col("tf") - i).cast("double")) -
            log((col("n") - i).cast("double"))))))
      tf.join(tot, "doc_id")
        .select(col("doc_id"), col("n"), col("n_types"), col("term"),
          ((lit(1.0) - p0) / lit(hddS.toDouble)).as("c"))
        .groupBy(col("doc_id"), col("n"), col("n_types"))
        .agg(round(aggregate(
          transform(array_sort(collect_list(struct(col("term"), col("c")))),
            x => x.getField("c")),
          lit(0.0), (a, x) => a + x), 6).as("hdd"))
        .select(col("doc_id"), col("n").as("n_tokens"), col("n_types"), col("hdd"))
        .orderBy("doc_id")
    }),

    "ta_vocab_profile" -> ((s, dir) => {
      load(s, dir, "documents")
        .select(col("source"), explode(toks(col("text"))).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"))
        .select(col("source"), col("n_tokens"), col("vocab"), col("hapax"),
          round(col("vocab").cast("double") / col("n_tokens"), 6).as("ttr"))
        .orderBy("source")
    }),

    // Gopher-style repetition signals (Rae et al. 2021 §A1.1): fraction of
    // duplicate tokens, most-frequent-token share, most-frequent-bigram
    // share — the standard cheap repetition filters before training.
    // Shape: explode → count per (doc, gram) → per-doc max/sum. Everything
    // is keyed by doc or gram (two hash shuffles per gram size, linear in
    // corpus tokens); the token- and bigram-level aggregates co-partition
    // on doc_id so the final join is shuffle-free under AQE.
    "ta_repetition" -> ((s, dir) => {
      val t = toks(col("text"))
      val n = size(t)
      val bigrams = when(n >= 2,
        zip_with(slice(t, lit(1), n - 1), slice(t, lit(2), n - 1),
          (a, b) => concat_ws(" ", a, b)))
        .otherwise(array().cast("array<string>"))
      val docs = load(s, dir, "documents")
      def gramStats(gram: org.apache.spark.sql.Column, nToks: String, maxG: String, nDist: String) =
        docs.select(col("doc_id"), explode(gram).as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum(col("c")).as(nToks), max(col("c")).as(maxG),
            count(lit(1)).as(nDist))
      val tokStats = gramStats(t, "n_tokens", "max_tok", "n_distinct")
      val bgStats = gramStats(bigrams, "n_bigrams", "max_bg", "n_bg_distinct")
      tokStats.join(bgStats, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          (lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"))
            .as("dup_token_frac"),
          (col("max_tok").cast("double") / col("n_tokens")).as("top_token_frac"),
          coalesce(col("max_bg").cast("double") / col("n_bigrams"), lit(0.0))
            .as("top_bigram_frac"))
        .orderBy("doc_id")
    }),

    // Sequence packing: assign docs to fixed-token-budget training
    // sequences by running a cumulative token count per source shard and
    // binning at PackBudget (first-fit in doc_id order; a doc whose prefix
    // sum crosses the boundary straddles into the next sequence, the
    // standard approximation when documents are not split). Partitioning
    // by `source` is the scale design: packing is inherently sequential,
    // so the window runs per shard — thousands of independent shards pack
    // in parallel and no global sort or single-partition window exists.
    // All arithmetic is integral (`div`), so the bin id is engine-exact.
    "ta_pack" -> ((s, dir) => {
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          expr(s"(cum - n_tokens) div $PackBudget").as("seq_id"))
        .orderBy("doc_id")
    }),

    // Multinomial Naive Bayes language classifier, trained AND applied
    // in-engine — the fastText-role model a data pipeline trains on its
    // own labeled subset and applies corpus-wide. Training is pure
    // counting (per-(term, class) token counts, class totals, vocab size,
    // doc priors — all exact integers); classification scores each doc
    // with Σ tf·ln((c_{t,ℓ}+1)/(N_ℓ+V)) + ln(prior_ℓ) per class, folded
    // in term order (the ta_unigram_ppl parity template), rounds to 6,
    // and argmaxes with the fixed NbLangs tie-break. Shape: one
    // (doc, lang, term) keyed agg + one term-keyed pivot agg + the
    // term-keyed contrib join + one per-doc agg; the class/vocab/prior
    // stats ride one-row broadcasts — linear in corpus tokens, the model
    // "parameters" never leave the term-keyed frames.
    "ta_nb_langid" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      val tf = docs
        .select(col("doc_id"), col("lang"), explode(toks(col("text"))).as("term"))
        .groupBy("doc_id", "lang", "term").agg(count(lit(1)).as("tf"))
      def pivots(pre: String) = NbLangs.map(l =>
        sum(when(col("lang") === l, col("tf")).otherwise(0L)).as(s"$pre$l"))
      val ctf = tf.groupBy("term").agg(pivots("c_").head, pivots("c_").tail: _*)
      val cls = tf.agg(pivots("n_").head, pivots("n_").tail: _*)
      val vocab = ctf.agg(count(lit(1)).cast("double").as("v"))
      val priAggs = count(lit(1)).as("nd") +:
        NbLangs.map(l => sum((col("lang") === l).cast("long")).as(s"d_$l"))
      val pri = docs.agg(priAggs.head, priAggs.tail: _*)
      val contrib = tf.join(ctf, "term")
        .crossJoin(broadcast(cls)).crossJoin(broadcast(vocab))
        .select(col("doc_id") +: col("lang") +: col("term") +:
          NbLangs.map(l => (col("tf") *
            log((col(s"c_$l") + 1.0) / (col(s"n_$l") + col("v")))).as(s"lp_$l")): _*)
      val folds = NbLangs.map { l =>
        aggregate(
          transform(array_sort(collect_list(struct(col("term"), col(s"lp_$l")))),
            x => x.getField(s"lp_$l")),
          lit(0.0), (acc, x) => acc + x).as(s"f_$l")
      }
      val scored = contrib.groupBy("doc_id", "lang")
        .agg(folds.head, folds.tail: _*)
        .crossJoin(broadcast(pri))
        .select(col("doc_id") +: col("lang").as("actual") +:
          NbLangs.map(l => round(col(s"f_$l") +
            log(col(s"d_$l").cast("double") / col("nd")), 6).as(s"s_$l")): _*)
      val predicted = NbLangs.init.zipWithIndex.foldRight(
        lit(NbLangs.last): Column) { case ((l, i), els) =>
        when(NbLangs.drop(i + 1).map(m => col(s"s_$l") >= col(s"s_$m"))
          .reduce(_ && _), l).otherwise(els)
      }
      scored
        .select(col("doc_id"), col("actual"), predicted.as("predicted"))
        .orderBy("doc_id")
    }),

    // BPE tokenizer training (Sennrich et al. 2016): learn BpeMerges merge
    // rules by repeatedly counting adjacent symbol pairs over the corpus
    // WORD HISTOGRAM and merging the most frequent pair (ties broken
    // lexicographically). Output: the merge table (step, left, right,
    // pair_count) — the artifact a tokenizer ships.
    //
    // Scale shape — the industrial BPE-trainer layout (SentencePiece / HF
    // tokenizers train on word-frequency tables, not raw text): the corpus
    // is touched ONCE by the word-histogram aggregate (the only data-scale
    // shuffle); every merge round then runs on the vocab-sized histogram
    // (pair explode is map-side, the argmax is a TakeOrdered(1) over the
    // pair-count frame, and the applied merge is a map-side string
    // replace). The per-round 1-row collect is metadata-scale — the
    // emb_kmeans centroid discipline — and localCheckpoint keeps the plan
    // flat across rounds (the gr_shortest_path discipline).
    //
    // Words are spelled `|c|h|a|r|`-style with an explicit separator, so
    // pair extraction is a split + zip and merge application is a literal
    // (non-regex) replace — identical leftmost-non-overlapping semantics
    // on both engines (see BpePasses).
    // Readability scoring (Flesch reading ease + Flesch–Kincaid grade) —
    // the curriculum/quality signal reading-level filters key on. Counts
    // are pure integers on both engines: words = non-empty whitespace
    // tokens, sentences = runs of [.!?] (floored at 1 — this synthetic
    // corpus carries no sentence punctuation, so the fixture exercises
    // the degenerate 1-sentence path; the regex chain is the operator),
    // syllables = vowel-group runs per word floored at 1 (the classic
    // heuristic). Only the two final formula evaluations are doubles —
    // identical expression trees, round(6). Pure map-side scan + oracle
    // sort: nothing shuffles but the presentation order.
    "ta_readability" -> ((s, dir) => {
      val ws = filter(toks(col("text")), w => w =!= "")
      val words = size(ws).cast("long")
      val sentences = greatest(lit(1L),
        size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long"))
      val syll = aggregate(ws, lit(0L), (acc, w) => acc +
        greatest(lit(1L),
          size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0))).cast("long")))
      val wps = words.cast("double") / sentences.cast("double")
      val spw = syll.cast("double") / words.cast("double")
      load(s, dir, "documents")
        .where(words > 0)
        .select(col("doc_id"), words.as("words"), sentences.as("sentences"),
          syll.as("syllables"),
          round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 6)
            .as("flesch"),
          round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 6)
            .as("fk_grade"))
        .orderBy("doc_id")
    }),

    // Feature hashing (the Weinberger et al. 2009 hashing trick): each
    // doc's tf·idf mass folded into a fixed FhDim-dimensional space by
    // term hash, with the ± sign from a second hash bit (the trick that
    // keeps hash collisions unbiased) — the vocabulary-free featurizer
    // that needs NO fitted dictionary, which is exactly why it survives
    // 100 TB streaming ingest where a vocab build cannot. Emitted as
    // (doc, dim, weight) rows; per-cell sums fold in term order (the
    // ta_unigram_ppl template) and idf = ln(N/df) is the identical
    // double tree cross-engine. One (doc, term) tf agg + term-keyed df
    // join + one (doc, dim) fold agg.
    "ta_feature_hash" -> ((s, dir) => {
      val tf = load(s, dir, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = tf.groupBy().agg(countDistinct("doc_id").cast("double").as("n"))
      val h = graft.Exact.hash32(col("term"))
      val dim = (h % FhDim).cast("long")
      tf.join(df, "term").crossJoin(broadcast(n))
        .withColumn("h", h)
        .select(col("doc_id"), col("term"), dim.as("dim"),
          (when(expr(s"(h div $FhDim) % 2 = 0"), lit(1.0)).otherwise(lit(-1.0)) *
            col("tf") * log(col("n") / col("df"))).as("c"))
        .groupBy("doc_id", "dim")
        .agg(round(aggregate(
            transform(array_sort(collect_list(struct(col("term"), col("c")))),
              x => x.getField("c")),
            lit(0.0), (acc, x) => acc + x), 6).as("weight"))
        .orderBy("doc_id", "dim")
    }),

    // Language-ID confusion matrix — the model-evaluation view of
    // ta_langid against the labeled lang column: per (actual, predicted)
    // cell the count and the within-actual share (the per-class recall
    // readout). Composition of the heuristic scorer (pure map-side) +
    // one langs² aggregate behind a localCheckpoint + a broadcast of the
    // per-actual totals.
    "ta_lang_confusion" -> ((s, dir) => {
      val m = queries("ta_langid")(s, dir)
        .select(col("actual"), col("predicted"))
        .groupBy("actual", "predicted").agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val tot = m.groupBy("actual").agg(sum("n").as("na"))
      m.join(broadcast(tot), "actual")
        .select(col("actual"), col("predicted"), col("n"),
          round(col("n").cast("double") / col("na"), 6).as("share"))
        .orderBy("actual", "predicted")
    }),

    // Zipf rank-frequency fit per source — the corpus-health diagnostic
    // ("natural language sits near slope −1; template spam and synthetic
    // filler bend the curve"): OLS of ln(freq) on ln(rank) over each
    // source's top ZipfTopR terms, emitting slope, intercept, and r².
    // Ranks come from a window OVER the vocab-scale (source, term) count
    // frame (above an aggregate — metadata territory); every Σ of
    // ln-doubles folds in rank order (the ta_unigram_ppl template) and
    // the OLS closed forms are identical expression trees, round(6).
    // Lexical-diversity indices per source: Yule's characteristic K
    // (Yule 1944, K = 1e4·(Σc² − N)/N²) and Simpson's diversity
    // D = (Σc² − N)/(N·(N−1)) — the repetition/richness summary a corpus
    // audit reports next to TTR (ta_vocab_profile), but size-INVARIANT,
    // so sources of different volume are comparable. Shape: one token
    // explode + per-(source, term) count + one per-source agg — linear
    // in corpus tokens, keyed shuffles only. Σc² accumulates in
    // decimal(38,0)/HUGEINT (a hot term's c² would wrap int64 silently
    // on Spark while DuckDB stays exact — the gr_hits discipline) and
    // the OUTPUT casts to BIGINT: c ≤ N and Σc² ≤ N², so the cast is
    // safe to N ≈ 3e9 tokens per source, far past any per-source slice
    // of a 100 TB corpus shard. The two double ratios are identical
    // guarded expressions on both engines, round(6).
    "ta_yule_k" -> ((s, dir) => {
      load(s, dir, "documents")
        .select(col("source"), explode(toks(col("text"))).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum(col("c")).as("n"), count(lit(1)).as("v"),
          sum(hugeint(col("c")) * col("c")).as("s2d"))
        .select(col("source"), col("n"), col("v"),
          col("s2d").cast("long").as("s2"))
        .select(col("source"), col("n").as("n_tokens"), col("v").as("n_types"),
          col("s2").as("sum_f2"),
          round(when(col("n") > 0,
            lit(1e4) * (col("s2") - col("n")).cast("double") /
              (col("n").cast("double") * col("n").cast("double"))), 6)
            .as("yule_k"),
          round(when(col("n") > 1,
            (col("s2") - col("n")).cast("double") /
              (col("n").cast("double") * (col("n") - 1).cast("double"))), 6)
            .as("simpson_d"))
        .orderBy("source")
    }),

    "ta_zipf_fit" -> ((s, dir) => {
      val cf = load(s, dir, "documents")
        .select(col("source"), explode(toks(col("text"))).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("cf"))
      val wR = Window.partitionBy("source")
        .orderBy(col("cf").desc, col("term"))
      val top = cf.withColumn("rnk", row_number().over(wR).cast("long"))
        .where(col("rnk") <= ZipfTopR)
        .select(col("source"), col("rnk"),
          log(col("rnk").cast("double")).as("x"),
          log(col("cf").cast("double")).as("y"))
      def fold(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        aggregate(
          transform(array_sort(collect_list(struct(col("rnk"), v.as("v")))),
            x => x.getField("v")),
          lit(0.0), (acc, x) => acc + x)
      val agg = top.groupBy("source")
        .agg(count(lit(1)).cast("double").as("n"),
          fold(col("x")).as("sx"), fold(col("y")).as("sy"),
          fold(col("x") * col("y")).as("sxy"),
          fold(col("x") * col("x")).as("sxx"),
          fold(col("y") * col("y")).as("syy"))
      val cov = col("n") * col("sxy") - col("sx") * col("sy")
      val vx = col("n") * col("sxx") - col("sx") * col("sx")
      val vy = col("n") * col("syy") - col("sy") * col("sy")
      agg.select(col("source"), col("n").cast("long").as("n_ranks"),
          round(cov / vx, 6).as("slope"),
          round((col("sy") - cov / vx * col("sx")) / col("n"), 6)
            .as("intercept"),
          round(cov * cov / (vx * vy), 6).as("r2"))
        .orderBy("source")
    }),

    // Per-source Jensen–Shannon divergence from the corpus term
    // distribution — the drift/contamination monitor for "which source's
    // vocabulary is pulling away from the mix" (JSD is symmetric, bounded
    // by ln 2, and defined even where one side has zero mass — the reason
    // it beats raw KL for source auditing). Exact shape: p = source term
    // share, q = corpus term share; absent terms contribute only the
    // q·ln(2q/(p+q)) leg (p·ln(…) → 0 limit). Every per-term double is
    // the identical expression tree cross-engine and the per-source total
    // folds in term-sorted order (the ta_unigram_ppl parity template),
    // round(6). Scale: one (source, term) tf aggregate behind
    // localCheckpoint feeds the corpus/source rollups; the evaluation
    // grid is vocab × sources with source-count a small constant, joined
    // on the tf frame's own (term, source) keys.
    "ta_jsd_drift" -> ((s, dir) => {
      val tok = load(s, dir, "documents")
        .select(col("source"), explode(toks(col("text"))).as("term"))
      val stf = tok.groupBy("source", "term").agg(count(lit(1)).as("stf"))
        .localCheckpoint()
      val cf = stf.groupBy("term").agg(sum("stf").as("cf"))
      val ns = stf.groupBy("source").agg(sum("stf").as("ns"))
      val nt = stf.groupBy().agg(sum("stf").as("n"))
      val grid = cf.crossJoin(broadcast(ns))
        .join(stf, Seq("term", "source"), "left")
        .na.fill(0L, Seq("stf"))
        .crossJoin(broadcast(nt))
      val p = col("stf").cast("double") / col("ns").cast("double")
      val q = col("cf").cast("double") / col("n").cast("double")
      val contrib =
        when(col("stf") > 0, p * log(lit(2.0) * p / (p + q))).otherwise(lit(0.0)) +
          q * log(lit(2.0) * q / (p + q))
      grid.select(col("source"), col("term"), contrib.as("ct"))
        .groupBy("source")
        .agg(round(aggregate(
            transform(array_sort(collect_list(struct(col("term"), col("ct")))),
              x => x.getField("ct")),
            lit(0.0), (acc, x) => acc + x) * 0.5, 6).as("jsd"))
        .orderBy("source")
    }),

    "ta_bpe_train" -> ((s, dir) => {
      import s.implicits._
      bpeMerges(s, dir).toDF("step", "left", "right", "pair_count")
        .orderBy("step")
    }),

    // Apply the learned BPE merge table to tokenize the CORPUS (the step
    // a trained tokenizer actually ships for): every document's words are
    // spelled to character symbols and the BpeMerges rules replay in
    // learned order (each with the same BpePasses replace application as
    // training), yielding per-doc BPE token counts and the compression
    // ratio vs raw characters. Map-side over the corpus once the
    // vocab-scale training loop has produced the 6 rules — the
    // train-once/apply-everywhere split a 100 TB tokenization run needs.
    "ta_bpe_apply" -> ((s, dir) => {
      val merges = bpeMerges(s, dir)
      val words = filter(split(lower(col("text")), " "), w => w =!= "")
      val reprs = transform(words,
        w => concat(regexp_replace(w, "(.)", "|$1"), lit("|")))
      val merged = merges.foldLeft(reprs) { case (arr, (_, l, r, _)) =>
        transform(arr, rp => (1 to BpePasses).foldLeft(rp)((e, _) =>
          replace(e, lit(s"|$l|$r|"), lit(s"|$l$r|"))))
      }
      val nChars = aggregate(words, lit(0L), (acc, w) => acc + length(w))
      val nBpe = size(flatten(transform(merged,
        rp => filter(split(rp, "\\|"), t => t =!= "")))).cast("long")
      // Empty/whitespace-only text: both engines must agree — n_chars /
      // n_bpe_tokens are 0 (Spark's aggregate init; DuckDB's list_sum
      // over [] is NULL, coalesced in the oracle) and compression is NULL
      // via an explicit nullif divisor on BOTH engines.
      load(s, dir, "documents")
        .select(col("doc_id"), nChars.as("n_chars"), nBpe.as("n_bpe_tokens"),
          round(nBpe.cast("double") / nullif(nChars, lit(0L)), 6)
            .as("compression"))
        .orderBy("doc_id")
    }))

  /** The ta_bpe_train driver loop (see that query's scaladoc for the
    * scale argument) — shared with ta_bpe_apply, which replays the
    * learned rules over the corpus. */
  private def bpeMerges(s: SparkSession, dir: String): Seq[(Long, String, String, Long)] = {
    val words = load(s, dir, "documents")
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(concat(regexp_replace(col("word"), "(.)", "|$1"), lit("|"))
        .as("repr"), col("cnt"))
    var cur = words.localCheckpoint()
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (k <- 1 to BpeMerges) {
      val toks = filter(split(col("repr"), "\\|"), t => t =!= "")
      val best = cur
        .select(col("cnt"),
          explode(zip_with(toks, slice(toks, lit(2), size(toks) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("z"))
        .where(col("z.r").isNotNull)
        .groupBy(col("z.l").as("l"), col("z.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()(0)
      val (l, r, c) = (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((k.toLong, l, r, c))
      val applied = (1 to BpePasses).foldLeft(col("repr"))((e, _) =>
        replace(e, lit(s"|$l|$r|"), lit(s"|$l$r|")))
      cur = cur.select(applied.as("repr"), col("cnt")).localCheckpoint()
    }
    merges.result()
  }

  private def sqlHits(words: Seq[String]): String =
    s"CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN (${words.map(w => s"'$w'").mkString(", ")}))) AS BIGINT)"

  /** ta_langid oracle SQL, lifted so ta_lang_confusion can nest it. */
  private lazy val taLangidSql: String = {
    val h = LangProfiles.map { case (l, ws) => l -> sqlHits(ws) }.toMap
    s"""SELECT doc_id, lang AS actual,
       |  ${LangProfiles.map { case (l, _) => s"${h(l)} AS hits_$l" }.mkString(",\n  ")},
       |  CASE
       |    WHEN ${h("en")} > 0 AND ${h("en")} >= ${h("es")} AND ${h("en")} >= ${h("de")} AND ${h("en")} >= ${h("fr")} THEN 'en'
       |    WHEN ${h("es")} > 0 AND ${h("es")} >= ${h("de")} AND ${h("es")} >= ${h("fr")} THEN 'es'
       |    WHEN ${h("de")} > 0 AND ${h("de")} >= ${h("fr")} THEN 'de'
       |    WHEN ${h("fr")} > 0 THEN 'fr'
       |    ELSE 'und' END AS predicted
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(

    "ta_rake" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
         |tok AS (
         |  SELECT doc_id, i - 1 AS pos, t[i] AS w
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM d)),
         |fl AS (
         |  SELECT doc_id, pos, w,
         |    CASE WHEN w IN (${Stopwords.map(w => s"'$w'").mkString(", ")})
         |      OR w = '' THEN 1 ELSE 0 END AS is_stop
         |  FROM tok),
         |phw AS (
         |  SELECT doc_id, pid, pos, w,
         |    count(*) OVER (PARTITION BY doc_id, pid) AS plen
         |  FROM (SELECT doc_id, pos, w, is_stop,
         |          sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
         |        FROM fl)
         |  WHERE is_stop = 0),
         |ws AS (
         |  SELECT doc_id, w,
         |    CAST(sum(plen) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS wscore
         |  FROM phw GROUP BY 1, 2),
         |psc AS (
         |  SELECT phw.doc_id, pid,
         |    string_agg(phw.w, ' ' ORDER BY pos) AS phrase,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list(wscore ORDER BY pos)), (a, b) -> a + b) AS score
         |  FROM phw JOIN ws ON phw.doc_id = ws.doc_id AND phw.w = ws.w
         |  GROUP BY 1, 2),
         |ded AS (SELECT doc_id, phrase, max(score) AS score
         |        FROM psc GROUP BY 1, 2)
         |SELECT doc_id, phrase, round(score, 6) AS score, rnk
         |FROM (SELECT doc_id, phrase, score,
         |        CAST(row_number() OVER (PARTITION BY doc_id
         |          ORDER BY score DESC, phrase) AS BIGINT) AS rnk
         |      FROM ded)
         |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "ta_pack" ->
      s"""SELECT doc_id, source, n_tokens,
         |  CAST((cum - n_tokens) // $PackBudget AS BIGINT) AS seq_id
         |FROM (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    sum(CAST(len(string_split(text, ' ')) AS BIGINT))
         |      OVER (PARTITION BY source ORDER BY doc_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "ta_token_count" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '$BpeRe')) AS BIGINT) AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    "ta_quality" -> {
      val punctSql = PunctClass.replace("'", "''")
      s"""SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS len_chars,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '$punctSql')) AS DOUBLE) / length(text) AS punct_ratio,
         |  CAST(${sqlHits(Stopwords)} AS DOUBLE) / len(string_split(text, ' ')) AS stop_ratio,
         |  CAST(CAST(list_sum(list_transform(string_split(lower(text), ' '), t -> length(t))) AS BIGINT) AS DOUBLE)
         |    / len(string_split(text, ' ')) AS mean_tok_len,
         |  $qualityScoreSql AS quality_score
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "ta_code_detect" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(regexp_extract_all(text, '[{};=()<>\[\]]')) AS BIGINT) AS n_sym,
        |    CAST(len(regexp_extract_all(text,
        |      '\b(def|class|import|return|function|var|const|if|else|for|while)\b'))
        |      AS BIGINT) AS n_kw,
        |    CAST(len(regexp_extract_all(text, '[-+*/]?=[^=]')) AS BIGINT) AS n_assign
        |  FROM documents)
        |SELECT doc_id, n_chars, n_sym, n_kw, n_assign,
        |  round(CAST(n_sym AS DOUBLE) / n_chars, 6) AS sym_ratio,
        |  (CAST(n_sym AS DOUBLE) / n_chars >= 0.05
        |   OR (n_kw >= 3 AND n_assign >= 1)) AS is_code
        |FROM m ORDER BY doc_id""".stripMargin,

    "ta_dup_ngram_chars" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS t
        |           FROM documents),
        |g AS (
        |  SELECT doc_id, 3 AS n,
        |    unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
        |  FROM d
        |  UNION ALL
        |  SELECT doc_id, 2 AS n,
        |    unnest(list_transform(range(1, greatest(len(t), 1)),
        |           i -> t[i] || ' ' || t[i+1])) AS sh
        |  FROM d),
        |pg AS (SELECT doc_id, n, sh, count(*) AS c,
        |              length(sh) - (n - 1) AS chars
        |       FROM g GROUP BY doc_id, n, sh),
        |pd AS (SELECT doc_id,
        |  sum(CASE WHEN n = 3 THEN c END) AS n_tri,
        |  sum(CASE WHEN n = 3 THEN c * chars END) AS tri_chars,
        |  coalesce(sum(CASE WHEN n = 3 AND c >= 2 THEN c * chars END), 0)
        |    AS dup_tri_chars,
        |  max(CASE WHEN n = 2 THEN c END) AS top_bi,
        |  sum(CASE WHEN n = 2 THEN c END) AS n_bi
        |  FROM pg GROUP BY doc_id
        |  HAVING n_tri IS NOT NULL AND n_bi IS NOT NULL)
        |SELECT doc_id, CAST(n_tri AS BIGINT) AS n_tri,
        |  round(CAST(dup_tri_chars AS DOUBLE) / tri_chars, 6) AS dup_tri_char_frac,
        |  round(CAST(top_bi AS DOUBLE) / n_bi, 6) AS top_bi_frac,
        |  (CAST(dup_tri_chars AS DOUBLE) / tri_chars <= 0.2
        |   AND CAST(top_bi AS DOUBLE) / n_bi <= 0.2) AS keep
        |FROM pd ORDER BY doc_id""".stripMargin,

    "ta_gopher_rules" ->
      s"""WITH d AS (
         |  SELECT doc_id, text, string_split(lower(text), ' ') AS t
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(t) AS BIGINT) AS n_words,
         |    CAST(CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT)
         |         AS DOUBLE) / len(t) AS mean_word_len,
         |    CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
         |         AS DOUBLE) / len(t) AS alpha_frac,
         |    CAST(len(regexp_extract_all(text, '#')) +
         |         len(regexp_extract_all(text, '\\.\\.\\.'))
         |         AS DOUBLE) / len(t) AS sym_ratio,
         |    ${sqlHits(GopherStops)} AS stop_hits
         |  FROM d)
         |SELECT doc_id, n_words, mean_word_len, alpha_frac, sym_ratio,
         |  stop_hits,
         |  n_words BETWEEN $GopherMinWords AND $GopherMaxWords AS ok_words,
         |  mean_word_len BETWEEN $GopherMinMeanLen AND $GopherMaxMeanLen
         |    AS ok_mean_len,
         |  alpha_frac >= $GopherMinAlphaFrac AS ok_alpha,
         |  sym_ratio <= $GopherMaxSymRatio AS ok_symbols,
         |  stop_hits >= $GopherMinStops AS ok_stops,
         |  (n_words BETWEEN $GopherMinWords AND $GopherMaxWords)
         |    AND (mean_word_len BETWEEN $GopherMinMeanLen AND $GopherMaxMeanLen)
         |    AND alpha_frac >= $GopherMinAlphaFrac
         |    AND sym_ratio <= $GopherMaxSymRatio
         |    AND stop_hits >= $GopherMinStops AS keep
         |FROM m ORDER BY doc_id""".stripMargin,

    "ta_langid" -> taLangidSql,

    "ta_lang_confusion" ->
      s"""WITH p AS (SELECT actual, predicted FROM ($taLangidSql)),
         |m AS (SELECT actual, predicted, count(*) AS n FROM p GROUP BY 1, 2),
         |t AS (SELECT actual, CAST(sum(n) AS BIGINT) AS na FROM m GROUP BY 1)
         |SELECT m.actual, m.predicted, n,
         |  round(CAST(n AS DOUBLE) / na, 6) AS share
         |FROM m JOIN t ON m.actual = t.actual
         |ORDER BY m.actual, m.predicted""".stripMargin,

    "ta_heaps_fit" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |mm AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM docs),
        |wb AS (
        |  SELECT (doc_id - lo) // greatest(1, (hi - lo) // 20 + 1) AS b, t
        |  FROM docs, mm),
        |tokn AS (SELECT b, CAST(sum(len(t)) AS BIGINT) AS bn FROM wb GROUP BY 1),
        |newv AS (
        |  SELECT fb AS b, count(*) AS bv
        |  FROM (SELECT w, min(b) AS fb
        |        FROM (SELECT b, unnest(t) AS w FROM wb) GROUP BY 1)
        |  GROUP BY 1),
        |pts AS (
        |  SELECT b,
        |    CAST(sum(bn) OVER w AS BIGINT) AS nn,
        |    CAST(sum(coalesce(bv, 0)) OVER w AS BIGINT) AS vv
        |  FROM tokn LEFT JOIN newv USING (b)
        |  WINDOW w AS (ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |pl AS (
        |  SELECT b, nn, vv, ln(CAST(nn AS DOUBLE)) AS x,
        |    ln(CAST(vv AS DOUBLE)) AS y
        |  FROM pts WHERE nn > 0 AND vv > 0),
        |one AS (
        |  SELECT list(struct_pack(b := b, x := x, y := y) ORDER BY b) AS a,
        |    CAST(max(nn) AS BIGINT) AS n_total, CAST(max(vv) AS BIGINT) AS v_total
        |  FROM pl),
        |f AS (
        |  SELECT CAST(len(a) AS BIGINT) AS n_points, n_total, v_total,
        |    CAST(len(a) AS DOUBLE) AS kk,
        |    list_sum(list_transform(a, r -> r.x)) AS sx,
        |    list_sum(list_transform(a, r -> r.y)) AS sy,
        |    list_sum(list_transform(a, r -> r.x * r.x)) AS sxx,
        |    list_sum(list_transform(a, r -> r.x * r.y)) AS sxy
        |  FROM one)
        |SELECT n_points, n_total, v_total,
        |  round((kk * sxy - sx * sy) / (kk * sxx - sx * sx), 6) + 0.0 AS beta,
        |  round(exp((sy - ((kk * sxy - sx * sy) / (kk * sxx - sx * sx)) * sx)
        |        / kk), 6) + 0.0 AS k_heaps
        |FROM f""".stripMargin,

    "ta_fightin_words" ->
      """WITH tok AS (
        |  SELECT CAST(doc_id % 2 = 0 AS BIGINT) AS g,
        |    unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents),
        |tc AS (
        |  SELECT w, CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |          CAST(sum(c2) AS BIGINT) AS n2,
        |          CAST(count(*) AS DOUBLE) AS v
        |        FROM tc),
        |s AS (
        |  SELECT w AS term, c1, c2,
        |    round((ln((c1 + 0.01) / (n1 + 0.01 * v - c1 - 0.01))
        |           - ln((c2 + 0.01) / (n2 + 0.01 * v - c2 - 0.01)))
        |          / sqrt(1.0 / (c1 + 0.01) + 1.0 / (c2 + 0.01)), 6) AS z
        |  FROM tc, tot),
        |top AS (SELECT * FROM s ORDER BY z DESC, term LIMIT 25),
        |bot AS (SELECT * FROM s ORDER BY z ASC, term LIMIT 25)
        |SELECT * FROM (SELECT * FROM top UNION ALL SELECT * FROM bot)
        |ORDER BY z DESC, term""".stripMargin,

    // Same (term, doc) tf reduction; the dispersion double tree matches
    // the Spark expression exactly.
    "ta_burstiness" ->
      """WITH tf AS (
        |  SELECT doc_id, w, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |    FROM documents)
        |  GROUP BY 1, 2),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
        |st AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS df,
        |    CAST(sum(tf) AS BIGINT) AS cf,
        |    CAST(sum(tf * tf) AS BIGINT) AS cf2
        |  FROM tf GROUP BY 1 HAVING count(*) >= 20)
        |SELECT w AS term, df, cf,
        |  round(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE), 6) AS burst,
        |  round((CAST(cf2 AS DOUBLE) / CAST(nd AS DOUBLE)
        |      - (CAST(cf AS DOUBLE) / CAST(nd AS DOUBLE))
        |        * (CAST(cf AS DOUBLE) / CAST(nd AS DOUBLE)))
        |    / (CAST(cf AS DOUBLE) / CAST(nd AS DOUBLE)), 6) AS dispersion
        |FROM st CROSS JOIN nd
        |ORDER BY dispersion DESC, term LIMIT 30""".stripMargin,

    // 10 unrolled fixed-point PageRank rounds; HUGEINT internally is
    // fine (exact), BIGINT out per the battery-wide type gate.
    "ta_textrank" -> {
      val rounds = (1 to 10).map { i =>
        s"""r$i AS (
           |  SELECT adj.dst AS node,
           |    150000 + 85 * sum((r.r * adj.w) // adj.wtot) // 100 AS r
           |  FROM r${i - 1} r JOIN adj ON adj.src = r.node GROUP BY 1)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH d AS (SELECT list_filter(string_split(lower(text), ' '),
         |             x -> regexp_full_match(x, '[a-z]{4,}')) AS ts
         |           FROM documents),
         |pg0 AS (SELECT unnest(list_transform(range(1, greatest(len(ts), 1)),
         |          i -> least(ts[i], ts[i+1]) || ' ' || greatest(ts[i], ts[i+1])))
         |          AS pg
         |        FROM d),
         |pw AS (SELECT pg, count(*) AS w FROM pg0
         |       WHERE string_split(pg, ' ')[1] <> string_split(pg, ' ')[2]
         |       GROUP BY 1),
         |ed AS (SELECT string_split(pg, ' ')[1] AS src,
         |         string_split(pg, ' ')[2] AS dst, w FROM pw
         |       UNION ALL
         |       SELECT string_split(pg, ' ')[2], string_split(pg, ' ')[1], w
         |       FROM pw),
         |wt AS (SELECT src, CAST(sum(w) AS BIGINT) AS wtot FROM ed GROUP BY 1),
         |adj AS (SELECT ed.src, ed.dst, ed.w, wt.wtot
         |        FROM ed JOIN wt USING (src)),
         |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM wt),
         |$rounds
         |SELECT node AS term, CAST(r AS BIGINT) AS tr_fp FROM r10
         |ORDER BY tr_fp DESC, term LIMIT 20""".stripMargin
    },

    "ta_collocations" ->
      """WITH d AS (SELECT string_split(lower(text), ' ') AS t FROM documents),
        |uni AS (SELECT w, count(*) AS cw
        |        FROM (SELECT unnest(t) AS w FROM d) GROUP BY w),
        |tu AS (SELECT CAST(sum(cw) AS DOUBLE) AS nu FROM uni),
        |bi0 AS (SELECT bg, count(*) AS cxy FROM (
        |  SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
        |         i -> t[i] || ' ' || t[i+1])) AS bg FROM d) GROUP BY bg),
        |tb AS (SELECT CAST(sum(cxy) AS DOUBLE) AS nb FROM bi0),
        |bi AS (SELECT bg, cxy, string_split(bg, ' ')[1] AS wa,
        |              string_split(bg, ' ')[2] AS wb
        |       FROM bi0 WHERE cxy >= 5)
        |SELECT bg, cxy, round(ln((cxy / nb) /
        |  ((ua.cw / nu) * (ub.cw / nu))), 6) AS pmi
        |FROM bi JOIN uni ua ON wa = ua.w JOIN uni ub ON wb = ub.w
        |CROSS JOIN tu CROSS JOIN tb
        |ORDER BY pmi DESC, bg""".stripMargin,

    "ta_ngram_topk" ->
      """SELECT ngram, count(*) AS n FROM (
        |  SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
        |         i -> t[i] || ' ' || t[i+1])) AS ngram
        |  FROM (SELECT string_split(lower(text), ' ') AS t FROM documents))
        |GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20""".stripMargin,

    "ta_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' '))
        |    AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    "ta_pii_redact" ->
      s"""WITH e AS (
         |  SELECT doc_id, text
         |    || CASE WHEN doc_id % 3 <> 0
         |            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
         |            ELSE '' END
         |    || CASE WHEN doc_id % 2 = 0
         |            THEN ' call 555-' || CAST(doc_id % 900 + 100 AS VARCHAR)
         |                 || '-' || CAST((doc_id * 7) % 9000 + 1000 AS VARCHAR)
         |            ELSE '' END AS enriched
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(enriched, '$EmailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(enriched, '$PhoneRe')) AS BIGINT) AS n_phones,
         |  regexp_replace(regexp_replace(enriched, '$EmailRe', '<EMAIL>', 'g'),
         |                 '$PhoneRe', '<PHONE>', 'g') AS redacted
         |FROM e ORDER BY doc_id""".stripMargin,

    "ta_chunk" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
         |idx AS (
         |  SELECT doc_id, t,
         |    unnest(range(0, 1 + CAST(floor(
         |      (greatest(len(t) - $ChunkSize, 0) + ${ChunkStride - 1})
         |        / ${ChunkStride.toDouble}) AS INT))) AS chunk_idx
         |  FROM d)
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(len(list_slice(t, chunk_idx * $ChunkStride + 1,
         |                      chunk_idx * $ChunkStride + $ChunkSize)) AS BIGINT) AS n_tokens,
         |  array_to_string(list_slice(t, chunk_idx * $ChunkStride + 1,
         |                             chunk_idx * $ChunkStride + $ChunkSize), ' ') AS chunk_text
         |FROM idx ORDER BY doc_id, chunk_idx""".stripMargin,

    "ta_keywords" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |corpus AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         |sc AS (
         |  SELECT doc_id, term,
         |    round(tf * ln((n + 1.0) / (df + 1.0)), 6) AS score
         |  FROM tf JOIN df USING (term) CROSS JOIN corpus),
         |r AS (SELECT doc_id, term, score,
         |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
         |      FROM sc)
         |SELECT doc_id, CAST(rn AS BIGINT) AS rank, term, score
         |FROM r WHERE rn <= $KwTopK ORDER BY doc_id, rank""".stripMargin,

    "ta_readability" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws,
        |    greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS sentences
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS words,
        |    CAST(sentences AS BIGINT) AS sentences,
        |    CAST(list_sum(list_transform(ws,
        |      w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+')))))
        |      AS BIGINT) AS syllables
        |  FROM d WHERE len(ws) > 0)
        |SELECT doc_id, words, sentences, syllables,
        |  round(206.835 - 1.015 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
        |        - 84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE)), 6)
        |    AS flesch,
        |  round(0.39 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
        |        + 11.8 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))
        |        - 15.59, 6) AS fk_grade
        |FROM c ORDER BY doc_id""".stripMargin,

    "ta_feature_hash" ->
      s"""WITH tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
         |    FROM documents)
         |  GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM tf),
         |c AS (
         |  SELECT doc_id, tf.term,
         |    ${graft.Exact.hash32Sql("tf.term")} % $FhDim AS dim,
         |    (CASE WHEN (${graft.Exact.hash32Sql("tf.term")} // $FhDim) % 2 = 0
         |      THEN 1.0 ELSE -1.0 END)
         |      * tf.tf * ln(n / df.df) AS c
         |  FROM tf JOIN df USING (term) CROSS JOIN n)
         |SELECT doc_id, CAST(dim AS BIGINT) AS dim,
         |  round(list_sum(list(c ORDER BY term)), 6) AS weight
         |FROM c GROUP BY doc_id, dim ORDER BY doc_id, dim""".stripMargin,

    "ta_yule_k" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT source, term, count(*) AS c FROM tok GROUP BY 1, 2),
        |g AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS v,
        |    CAST(sum(CAST(c AS HUGEINT) * c) AS BIGINT) AS s2
        |  FROM tf GROUP BY 1)
        |SELECT source, n AS n_tokens, v AS n_types, s2 AS sum_f2,
        |  round(CASE WHEN n > 0 THEN 1e4 * CAST(s2 - n AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) END, 6) AS yule_k,
        |  round(CASE WHEN n > 1 THEN CAST(s2 - n AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) END, 6) AS simpson_d
        |FROM g ORDER BY source""".stripMargin,

    "ta_zipf_fit" ->
      s"""WITH cf AS (
         |  SELECT source, term, count(*) AS cf FROM (
         |    SELECT source, unnest(string_split(lower(text), ' ')) AS term
         |    FROM documents)
         |  GROUP BY 1, 2),
         |r AS (
         |  SELECT source, cf,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY cf DESC, term) AS BIGINT) AS rnk
         |  FROM cf),
         |t AS (
         |  SELECT source, rnk, ln(CAST(rnk AS DOUBLE)) AS x,
         |    ln(CAST(cf AS DOUBLE)) AS y
         |  FROM r WHERE rnk <= $ZipfTopR),
         |a AS (
         |  SELECT source, CAST(count(*) AS DOUBLE) AS n,
         |    list_sum(list(x ORDER BY rnk)) AS sx,
         |    list_sum(list(y ORDER BY rnk)) AS sy,
         |    list_sum(list(x * y ORDER BY rnk)) AS sxy,
         |    list_sum(list(x * x ORDER BY rnk)) AS sxx,
         |    list_sum(list(y * y ORDER BY rnk)) AS syy
         |  FROM t GROUP BY 1)
         |SELECT source, CAST(n AS BIGINT) AS n_ranks,
         |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
         |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         |    AS intercept,
         |  round((n * sxy - sx * sy) * (n * sxy - sx * sy)
         |        / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
         |FROM a ORDER BY source""".stripMargin,

    "ta_jsd_drift" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents),
        |stf AS (SELECT source, term, count(*) AS stf FROM tok GROUP BY 1, 2),
        |cf AS (SELECT term, CAST(sum(stf) AS BIGINT) AS cf FROM stf GROUP BY 1),
        |ns AS (SELECT source, CAST(sum(stf) AS BIGINT) AS ns FROM stf GROUP BY 1),
        |nt AS (SELECT CAST(sum(stf) AS BIGINT) AS n FROM stf),
        |grid AS (
        |  SELECT cf.term, ns.source, cf.cf, ns.ns, n,
        |    coalesce(stf.stf, 0) AS stf
        |  FROM cf CROSS JOIN ns CROSS JOIN nt
        |  LEFT JOIN stf ON stf.term = cf.term AND stf.source = ns.source),
        |ct AS (
        |  SELECT source, term,
        |    CASE WHEN stf > 0
        |      THEN (CAST(stf AS DOUBLE) / CAST(ns AS DOUBLE))
        |           * ln(2.0 * (CAST(stf AS DOUBLE) / CAST(ns AS DOUBLE))
        |                / ((CAST(stf AS DOUBLE) / CAST(ns AS DOUBLE))
        |                   + (CAST(cf AS DOUBLE) / CAST(n AS DOUBLE))))
        |      ELSE 0.0 END
        |    + (CAST(cf AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(2.0 * (CAST(cf AS DOUBLE) / CAST(n AS DOUBLE))
        |           / ((CAST(stf AS DOUBLE) / CAST(ns AS DOUBLE))
        |              + (CAST(cf AS DOUBLE) / CAST(n AS DOUBLE)))) AS ct
        |  FROM grid)
        |SELECT source, round(list_sum(list(ct ORDER BY term)) * 0.5, 6) AS jsd
        |FROM ct GROUP BY source ORDER BY source""".stripMargin,

    "ta_unigram_ppl" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        |cf AS (SELECT term, sum(tf) AS cf FROM tf GROUP BY term),
        |vn AS (SELECT CAST(count(*) AS DOUBLE) AS v, CAST(sum(cf) AS DOUBLE) AS total
        |       FROM cf),
        |contrib AS (
        |  SELECT doc_id, term, tf.tf,
        |    tf.tf * ln((cf.cf + 1.0) / (total + v)) AS lp
        |  FROM tf JOIN cf USING (term) CROSS JOIN vn)
        |SELECT doc_id,
        |  round(-list_sum(list(lp ORDER BY term)) / sum(tf), 6) AS nll
        |FROM contrib GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "ta_kn_bigram" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 2),
        |bgr AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
        |  FROM d),
        |tf AS (SELECT doc_id, bg, count(*) AS tf FROM bgr GROUP BY doc_id, bg),
        |cf AS (SELECT bg, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY bg),
        |ctx AS (SELECT split_part(bg, ' ', 1) AS w1,
        |          CAST(sum(cf) AS BIGINT) AS ctx,
        |          CAST(count(*) AS BIGINT) AS n1v
        |        FROM cf GROUP BY 1),
        |cont AS (SELECT split_part(bg, ' ', 2) AS w2,
        |           CAST(count(*) AS BIGINT) AS n1w
        |         FROM cf GROUP BY 1),
        |bt AS (SELECT CAST(count(*) AS DOUBLE) AS bt FROM cf),
        |contrib AS (
        |  SELECT doc_id, tf.bg AS bg, tf,
        |    tf * ln(greatest(cf - 0.75, 0.0) / ctx
        |            + (0.75 * n1v / ctx) * (n1w / bt)) AS lp
        |  FROM tf JOIN cf ON tf.bg = cf.bg
        |  JOIN ctx ON split_part(tf.bg, ' ', 1) = ctx.w1
        |  JOIN cont ON split_part(tf.bg, ' ', 2) = cont.w2
        |  CROSS JOIN bt)
        |SELECT doc_id,
        |  round(-list_sum(list(lp ORDER BY bg)) / CAST(sum(tf) AS BIGINT), 6)
        |    AS kn_nll
        |FROM contrib GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "ta_bigram_ppl" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 2),
        |bgr AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
        |  FROM d),
        |tf AS (SELECT doc_id, bg, count(*) AS tf FROM bgr GROUP BY doc_id, bg),
        |cf AS (SELECT bg, sum(tf) AS cf FROM tf GROUP BY bg),
        |ctx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(cf) AS ctx
        |        FROM cf GROUP BY 1),
        |vocab AS (
        |  SELECT CAST(count(DISTINCT term) AS DOUBLE) AS v
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS term
        |        FROM documents)),
        |contrib AS (
        |  SELECT doc_id, bg, tf.tf,
        |    tf.tf * ln((cf.cf + 1.0) / (ctx.ctx + v)) AS lp
        |  FROM tf JOIN cf USING (bg)
        |  JOIN ctx ON split_part(tf.bg, ' ', 1) = ctx.w1
        |  CROSS JOIN vocab)
        |SELECT doc_id,
        |  round(-list_sum(list(lp ORDER BY bg)) / sum(tf), 6) AS nll
        |FROM contrib GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "ta_hdd" ->
      """WITH tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |    FROM documents)
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_types
        |  FROM tf GROUP BY 1 HAVING sum(tf) >= 50),
        |c AS (
        |  SELECT tf.doc_id, tf.term, tot.n, tot.n_types,
        |    (1.0 - CASE WHEN tot.n - tf.tf < 42 THEN 0.0
        |      ELSE exp(list_sum(list_transform(range(0, 42),
        |        i -> ln(CAST(tot.n - tf.tf - i AS DOUBLE))
        |           - ln(CAST(tot.n - i AS DOUBLE)))))
        |      END) / 42.0 AS c
        |  FROM tf JOIN tot USING (doc_id))
        |SELECT doc_id, n AS n_tokens, n_types,
        |  round(list_sum(list(c ORDER BY term)), 6) AS hdd
        |FROM c GROUP BY doc_id, n, n_types ORDER BY doc_id""".stripMargin,

    "ta_vocab_profile" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |tf AS (SELECT source, term, count(*) AS c FROM tok GROUP BY source, term)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS vocab,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |  round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS ttr
        |FROM tf GROUP BY source ORDER BY source""".stripMargin,

    "ta_entropy" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY doc_id, term)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  round(ln(sum(c)) - list_sum(list(c * ln(c) ORDER BY term)) / sum(c), 6)
        |    AS entropy
        |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "ta_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS g FROM documents),
        |tc AS (SELECT doc_id, g, count(*) AS c FROM tok GROUP BY doc_id, g),
        |ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |              max(c) AS max_tok, count(*) AS n_distinct
        |       FROM tc GROUP BY doc_id),
        |bg0 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t), 1)),
        |         i -> t[i] || ' ' || t[i+1])) AS g
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)),
        |bc AS (SELECT doc_id, g, count(*) AS c FROM bg0 GROUP BY doc_id, g),
        |bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS max_bg
        |       FROM bc GROUP BY doc_id)
        |SELECT ts.doc_id, n_tokens,
        |  1.0 - CAST(n_distinct AS DOUBLE) / n_tokens AS dup_token_frac,
        |  CAST(max_tok AS DOUBLE) / n_tokens AS top_token_frac,
        |  coalesce(CAST(max_bg AS DOUBLE) / n_bigrams, 0.0) AS top_bigram_frac
        |FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id
        |ORDER BY ts.doc_id""".stripMargin,

    // Generated over NbLangs: count pivots, per-class term-ordered folds,
    // the same first-match >= argmax chain.
    "ta_nb_langid" -> {
      val cPiv = NbLangs.map(l =>
        s"sum(CASE WHEN lang = '$l' THEN tf ELSE 0 END) AS c_$l").mkString(", ")
      val nPiv = NbLangs.map(l =>
        s"sum(CASE WHEN lang = '$l' THEN tf ELSE 0 END) AS n_$l").mkString(", ")
      val dPiv = NbLangs.map(l =>
        s"sum(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS d_$l").mkString(", ")
      val lps = NbLangs.map(l =>
        s"tf.tf * ln((c_$l + 1.0) / (n_$l + v)) AS lp_$l").mkString(",\n         |    ")
      val fs = NbLangs.map(l =>
        s"list_sum(list(lp_$l ORDER BY term)) AS f_$l").mkString(",\n         |  ")
      val ss = NbLangs.map(l =>
        s"round(f_$l + ln(CAST(d_$l AS DOUBLE) / nd), 6) AS s_$l").mkString(",\n         |  ")
      val caseChain = NbLangs.init.zipWithIndex.map { case (l, i) =>
        s"WHEN ${NbLangs.drop(i + 1).map(m => s"s_$l >= s_$m").mkString(" AND ")} THEN '$l'"
      }.mkString("\n         |       ")
      s"""WITH tf AS (
         |  SELECT doc_id, lang, term, count(*) AS tf FROM (
         |    SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS term
         |    FROM documents)
         |  GROUP BY 1, 2, 3),
         |ctf AS (SELECT term, $cPiv FROM tf GROUP BY term),
         |cls AS (SELECT $nPiv FROM tf),
         |vocab AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM ctf),
         |pri AS (SELECT count(*) AS nd, $dPiv FROM documents),
         |contrib AS (
         |  SELECT tf.doc_id, tf.lang, tf.term,
         |    $lps
         |  FROM tf JOIN ctf USING (term) CROSS JOIN cls CROSS JOIN vocab),
         |sc AS (
         |  SELECT doc_id, lang,
         |  $fs
         |  FROM contrib GROUP BY doc_id, lang),
         |fin AS (
         |  SELECT doc_id, lang AS actual,
         |  $ss
         |  FROM sc CROSS JOIN pri)
         |SELECT doc_id, actual,
         |  CASE $caseChain
         |       ELSE '${NbLangs.last}' END AS predicted
         |FROM fin ORDER BY doc_id""".stripMargin
    },

    // Generated: one CTE layer per merge round (pair counts → 1-row argmax
    // → applied merge), so DuckDB runs the identical fixed-depth algorithm
    // the Spark driver loop does.
    "ta_bpe_train" -> {
      val rows = (0 until BpeMerges).map(k =>
        s"SELECT CAST(${k + 1} AS BIGINT) AS step, l AS left, r AS right, c AS pair_count FROM b$k")
      s"WITH ${bpeTrainCtes.mkString(",\n")}\n${rows.mkString("\nUNION ALL\n")}\nORDER BY step"
    },

    // The train CTEs relearn the rules, then per-doc word lists replay
    // them in learned order (each b$k cross-joined in — 1 row each).
    "ta_bpe_apply" -> {
      // lambda var must NOT be named r — it would shadow b$k's r column
      // inside the replace pattern (bitten once: every merge no-opped)
      val docLayers = (0 until BpeMerges).map { k =>
        s"""d${k + 1} AS (
           |  SELECT doc_id, ws,
           |    list_transform(rs, q -> ${bpeAppliedReplace("q")}) AS rs
           |  FROM d$k, b$k)""".stripMargin
      }
      val d0 =
        """d0 AS (
          |  SELECT doc_id, ws,
          |    list_transform(ws, w -> regexp_replace(w, '(.)', '|\1', 'g') || '|') AS rs
          |  FROM (SELECT doc_id,
          |          list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
          |        FROM documents))""".stripMargin
      s"""WITH ${bpeTrainCtes.mkString(",\n")},
         |$d0,
         |${docLayers.mkString(",\n")}
         |SELECT doc_id,
         |  CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0)
         |       AS BIGINT) AS n_chars,
         |  CAST(coalesce(list_sum(list_transform(rs,
         |    r -> len(list_filter(string_split(r, '|'), x -> x <> '')))), 0)
         |    AS BIGINT) AS n_bpe_tokens,
         |  round(CAST(coalesce(list_sum(list_transform(rs,
         |          r -> len(list_filter(string_split(r, '|'), x -> x <> '')))), 0)
         |        AS DOUBLE)
         |      / nullif(coalesce(list_sum(list_transform(ws, w -> length(w))), 0),
         |               0), 6)
         |    AS compression
         |FROM d$BpeMerges ORDER BY doc_id""".stripMargin
    })

  /** BpePasses-fold leftmost-non-overlapping replace of the current b$k
    * merge (l, r) applied to SQL expression `expr`. */
  private def bpeAppliedReplace(expr: String): String =
    (1 to BpePasses).foldLeft(expr)((e, _) =>
      s"replace($e, '|'||l||'|'||r||'|', '|'||l||r||'|')")

  /** The shared DuckDB mirror of [[bpeMerges]]: word histogram + one
    * (pair-count, argmax, apply) CTE triple per merge round. MATERIALIZED
    * on the word frames — each w$k is referenced by both p$k and w${k+1},
    * and the layered replace chains would otherwise inline multiplicatively
    * (the gr_kcore lesson). */
  private def bpeTrainCtes: Seq[String] = {
    val w0 =
      """w0 AS MATERIALIZED (
        |  SELECT regexp_replace(word, '(.)', '|\1', 'g') || '|' AS repr, cnt FROM (
        |    SELECT word, count(*) AS cnt FROM (
        |      SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
        |    WHERE word <> '' GROUP BY word))""".stripMargin
    val layers = (0 until BpeMerges).flatMap { k =>
      Seq(
        s"""p$k AS (
           |  SELECT z[1] AS l, z[2] AS r, CAST(sum(cnt) AS BIGINT) AS c FROM (
           |    SELECT cnt, unnest(list_zip(toks, toks[2:])) AS z FROM (
           |      SELECT cnt, list_filter(string_split(repr, '|'), x -> x <> '') AS toks
           |      FROM w$k))
           |  WHERE z[2] IS NOT NULL GROUP BY 1, 2)""".stripMargin,
        s"b$k AS MATERIALIZED (SELECT l, r, c FROM p$k ORDER BY c DESC, l, r LIMIT 1)",
        s"""w${k + 1} AS MATERIALIZED (
           |  SELECT ${bpeAppliedReplace("repr")} AS repr, cnt FROM w$k, b$k)""".stripMargin)
    }
    w0 +: layers
  }
}
