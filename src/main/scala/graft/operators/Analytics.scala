package graft.operators

import graft.Tables.load
import graft.functions.TextClean
import graft.operators.RedditProcessor.{fitFeatures, lda, topicFrame, topicWords, withSentiment}
import org.apache.spark.ml.clustering.LDAModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's flagship batch-analytics query (SURVEY.md §3.3,
  * redditProcessor.py:56-156), Spark-first:
  *
  *   scan → clean (X1–X5 as column expressions) → VADER sentiment (custom
  *   Catalyst expression) → TF-IDF (Tokenizer→StopWords→CountVectorizer
  *   (minDF=2, maxDF=0.95)→IDF, matching TfidfVectorizer's pruning at
  *   redditProcessor.py:103) → LDA (k=20, seed=42, redditProcessor.py:105)
  *   → per-doc topic distribution + per-batch top-10 topic words.
  *
  * Differences by design (SURVEY.md §7.4): the reference zips the LDA
  * doc-topic matrix back by pandas row position (J1, redditProcessor.py:123);
  * `LDAModel.transform` appends `topicDistribution` in place, so no
  * positional join exists to get wrong. `describeTopics(10)` replaces the
  * argsort top-k (O4). sklearn's batch-variational LDA and Spark's online
  * VB optimizer agree structurally (valid 20-topic distributions), not bitwise —
  * these queries are rows-only checked; the relational scaffolding around
  * them is oracle-checked elsewhere.
  *
  * The sentiment columns, the TF-IDF fit, the LDA estimator, the topic
  * columns and the topic words are [[RedditProcessor]]'s; this object adds
  * only the `documents` scan, the fit's data layout and the fit memo.
  *
  * Scale: every stage is a distributed transform; the online-LDA fit is
  * the only multi-iteration job.
  */
object Analytics {

  type Q = (SparkSession, String) => DataFrame

  /** Cleaned corpus with sentiment — the pre-ML §3.3 prefix. */
  def corpus(s: SparkSession, dir: String): DataFrame =
    withSentiment(load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        TextClean.clean(col("text")).as("text")))

  private[graft] type Fit = (LDAModel, DataFrame, Array[String])

  /** nlp_analysis and nlp_topics share one fit per (session, sf dir) — the
    * model is deterministic (seed 42), so refitting would only burn the
    * benchmark. A fit that loses the fill race or is evicted has its cached
    * `features` frame unpersisted. */
  private[graft] val fitMemo = new graft.SessionMemo[Fit](_._2.unpersist())

  private def fitLda(s: SparkSession, dir: String): Fit =
    fitMemo(s, dir)(fit(corpus(s, dir)))

  /** The (model, cached `features` frame, vocabulary) fit of a cleaned,
    * sentiment-scored corpus keyed by `doc_id`. Bench's warm-up runs it on a
    * synthetic frame so the timed nlp_analysis finds the real fit's code
    * path compiled. */
  private[graft] def fit(corpus: DataFrame): Fit = {
    // Same shape as RedditProcessor.analyze: the corpus (clean + VADER) is
    // consumed by the CountVectorizer fit, the IDF fit, the transform and
    // the LDA fit — persist it across those passes.
    // DETERMINISTIC LAYOUT before any fit (round-16): online-VB LDA samples
    // its mini-batches PER PARTITION (seeded Bernoulli keyed on partition
    // index), so the fitted topics follow the corpus' partition layout —
    // measured at sf1: bit-identical across reruns at fixed local[12], but
    // three different topic sets at local[8] / local[12] / the test
    // harness. A model that rewrites itself when the cluster is resized is
    // unusable evidence at 1000 executors, so the corpus is hash-placed on
    // doc_id into a FIXED number of partitions and sorted within each:
    // row→partition assignment and in-partition order are then functions
    // of the data alone (never of input split sizing, parallelism, or
    // shuffle fetch arrival order), and the fit is reproducible on any
    // cluster shape. One extra corpus-scale exchange, amortized over
    // nlp_analysis and nlp_topics via the fit memo; pins in
    // GoldenPipelineSpec + tools/golden_pins.json re-anchored under this
    // contract.
    val FitParts = 64
    val c = corpus
      .repartition(FitParts, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .persist()
    try {
      val (fm, vocab) = fitFeatures(c)
      // Cache vecs BEFORE the LDA fit: the fit's iterations populate the
      // cache while the corpus cache is still hot, so after the finally
      // unpersist(c) the returned frame reads its own cached blocks — no
      // post-release recompute of the clean+VADER chain.
      val vecs = fm.transform(c).cache()
      (lda.fit(vecs), vecs, vocab)
    } finally c.unpersist()
  }

  val queries: Map[String, Q] = Map(
    // Cleaned text + sentiment (D1+D2). Rows-only: VADER is not expressible
    // in the SQL oracle; golden unit tests pin its semantics instead.
    "nlp_sentiment" -> ((s, dir) =>
      corpus(s, dir)
        .select("doc_id", "text", "sentiment_score", "sentiment")
        .orderBy("doc_id")),

    // Sentiment label distribution (the A3-style rollup the reference logs).
    "nlp_sentiment_counts" -> ((s, dir) =>
      corpus(s, dir)
        .groupBy("sentiment")
        .agg(count(lit(1)).as("n"))
        .orderBy("sentiment")),

    // Full analysis output: one row per doc with topic_1..topic_20 weights
    // and batch_id (redditProcessor.py:88-141 shape).
    "nlp_analysis" -> ((s, dir) => {
      val (model, vecs, _) = fitLda(s, dir)
      topicFrame(model, vecs, Seq("doc_id", "text", "sentiment_score", "sentiment").map(col),
        Seq(lit("batch_0").as("batch_id")))
        .orderBy("doc_id")
    }),

    // Topic descriptions: top-10 words per topic (O4 via describeTopics).
    "nlp_topics" -> ((s, dir) => {
      val (model, _, vocab) = fitLda(s, dir)
      topicWords(model, vocab)
        .select(col("topic"), col("words"), lit("batch_0").as("batch_id"))
        .orderBy("topic")
    }))

  /** NLP stages are excluded from the SQL oracle (SURVEY.md §5.4) — only the
    * deterministic sentiment-count rollup shape could be oracle'd, and it
    * depends on VADER scores, so all four are rows-only. */
  val oracle: Map[String, String] = Map.empty
}
