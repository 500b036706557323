package graft.operators

import graft.functions.{TextClean, VaderSentiment}
import graft.plans.{GlobalIndex, GraftExtensions, VaderExpr}
import org.apache.spark.ml.{Pipeline, PipelineModel, Transformer}
import org.apache.spark.ml.clustering.{LDA, LDAModel}
import org.apache.spark.ml.feature.{CountVectorizerModel, ElementwiseProduct, StopWordsRemover, Tokenizer}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The reference's batch analytics entry point on reddit-shaped frames —
  * SURVEY.md §3.3 (redditProcessor.py:56-156) end to end:
  *
  *   coffee filter (F1) → projections (P1/P2) → text concat/rename (X6/X7) →
  *   union (U1) → clean (D2) → chronological row index (O1/X12) →
  *   VADER (D1) → TF-IDF (A1) → LDA k=20 seed=42 (A2/D4) → top-10 topic
  *   words (O4) → batch-id stamp (X9) and composite row ids (X12).
  *
  * Input schemas are the declared §1.2 shapes
  * ([[graft.streaming.QueuePipeline.postSchema]] / commentSchema). Returns
  * (analysis, topics) — the two ES-index-shaped outputs.
  *
  * Design deltas from the reference, all deliberate (SURVEY §7.4):
  * `topicDistribution` stays attached through `transform` (the pandas
  * positional zip-join J1 has no distributed analog and is not needed);
  * `concat_ws` + coalesce reproduces pandas' NaN-propagation observable
  * behavior; row ids come from [[GlobalIndex]] over the explicit
  * (created_utc, id, text, score, subreddit) total order rather than an
  * implicit frame index.
  *
  * Topic words are reproducible between identical calls on one input
  * layout: the vocabulary order is total (count, then term) and LDA is
  * seeded, but the fits run on the cleaned union in its scan layout and
  * online LDA samples its mini-batches per partition. So they hold per
  * core count, and across core counts only where the input's split layout
  * does not follow the core count. Measured on perfbench's 2 000-doc
  * corpus: its two single-file parquet inputs gave one topic set at
  * local[1] and local[4]; the same rows as in-memory frames (split into
  * min(rows, cores) slices) gave a different set at local[4] than at
  * local[1], each stable across calls. Row ids, text and sentiment are
  * exact at any layout.
  *
  * The NLP steps after cleaning — sentiment columns, the TF-IDF fit, the
  * LDA estimator, the topic columns and the topic words — are defined
  * here once and shared with [[Analytics]]' `nlp_*` queries and Bench's
  * warm-up fit; each caller keeps its own data layout and persistence.
  */
object RedditProcessor {

  private val K = 20
  private val Seed = 42L
  private val TopWords = 10

  /** F1 — the ES multi_match "coffee" semantics: the ES standard analyzer
    * lowercases AND strips punctuation before tokenizing, so "Coffee," must
    * match — punctuation becomes a token break before the split. */
  private def coffeeMatch(cols: Seq[Column]) =
    array_contains(
      split(regexp_replace(
        lower(concat_ws(" ", cols.map(c => coalesce(c, lit(""))): _*)),
        TextClean.PunctRe, " "), "\\s+"),
      "coffee")

  /** D1 — `sentiment_score` (VADER compound of the cleaned `text`) and the
    * reference's `sentiment` label, thresholds read from [[VaderSentiment]]. */
  private[graft] def withSentiment(df: DataFrame): DataFrame =
    df.withColumn("sentiment_score", VaderExpr.vaderCompound(col("text")))
      .withColumn("sentiment",
        when(col("sentiment_score") > VaderSentiment.LabelThreshold, "positive")
          .when(col("sentiment_score") < -VaderSentiment.LabelThreshold, "negative")
          .otherwise("neutral"))

  /** TfidfVectorizer's pruning (redditProcessor.py:103): a term is kept when
    * its document frequency is at least MinDF docs and at most MaxDF · N. */
  private val MinDF = 2L
  private val MaxDF = 0.95
  /** Spark CountVectorizer's default vocabulary cap, 2^18 terms. */
  private val VocabCap = 1 << 18

  /** A1 — TF-IDF on `text`: Tokenizer → StopWordsRemover → term counts
    * (`tf`) over the pruned vocabulary → `features` = tf · idf. Returns the
    * model and its vocabulary.
    *
    * The vocabulary comes from ONE Spark action over the tokens: each
    * term's total count and document frequency `df`, and the doc count `N`.
    * Terms with df < MinDF are dropped on the executors, df > MaxDF · N
    * after the collect. The vocabulary is ordered by count descending, then term
    * ascending — a total order, so the term → index map (and with it the
    * seeded LDA init) never depends on task completion order — and capped at
    * VocabCap. idf = log((N + 1) / (df + 1)), Spark IDFModel's arithmetic,
    * applied as an element-wise product, so the model holds no estimator and
    * no IDF pass runs. The model's transform is the only other read of the
    * corpus; a caller that fits LDA on it should persist the corpus. */
  private[graft] def fitFeatures(corpus: DataFrame): (PipelineModel, Array[String]) = {
    val tokenize = Array[Transformer](
      new Tokenizer().setInputCol("text").setOutputCol("raw_tokens"),
      new StopWordsRemover().setInputCol("raw_tokens").setOutputCol("tokens"))
    val tokens = tokenize.foldLeft(corpus.select("text"))((df, t) => t.transform(df))
    // Per partition: term → (count, df) plus the doc count under key None;
    // one reduceByKey merges them.
    val stats = tokens.select("tokens").rdd.mapPartitions { rows =>
      val acc = mutable.HashMap.empty[String, Array[Long]] // count, df, last doc seen
      var docs = 0L
      rows.foreach { r =>
        docs += 1
        r.getSeq[String](0).foreach { t =>
          val a = acc.getOrElseUpdate(t, Array(0L, 0L, 0L))
          a(0) += 1
          if (a(2) != docs) { a(1) += 1; a(2) = docs }
        }
      }
      Iterator(Option.empty[String] -> (docs, 0L)) ++
        acc.iterator.map { case (t, a) => Some(t) -> (a(0), a(1)) }
    }.reduceByKey((x, y) => (x._1 + y._1, x._2 + y._2))
      .filter { case (t, (_, df)) => t.isEmpty || df >= MinDF }
      .collect()
    val n = stats.collectFirst { case (None, (docs, _)) => docs }.getOrElse(0L)
    val kept = stats
      .collect { case (Some(t), (count, df)) if df <= MaxDF * n => (t, count, df) }
      .sortBy { case (t, count, _) => (-count, t) }
      .take(VocabCap)
    // Degenerate-corpus guard: an empty vocabulary (every term pruned — e.g.
    // one shared word across all docs falls to maxDF, and with N ≤ 2 docs
    // MaxDF · N < MinDF prunes every term) would make a later ML stage abort
    // with an opaque "requirement failed". The reference crashes identically
    // (sklearn raises on an empty vocabulary).
    require(kept.nonEmpty,
      s"corpus too small for topic modeling: vocabulary=0 after minDF/maxDF pruning of $n docs")
    val vocab = kept.map(_._1)
    val idf = Vectors.dense(kept.map { case (_, _, df) => math.log((n + 1.0) / (df + 1.0)) })
    // Transformers only: Pipeline.fit assembles them without reading data.
    val fm = new Pipeline().setStages(tokenize ++ Array[Transformer](
      new CountVectorizerModel(vocab).setInputCol("tokens").setOutputCol("tf"),
      new ElementwiseProduct().setScalingVec(idf).setInputCol("tf").setOutputCol("features")))
      .fit(corpus)
    (fm, vocab)
  }

  /** A2/D4 — LDA k=20, seed 42 (redditProcessor.py:105) on `features`.
    * Online variational Bayes (Spark's default optimizer), the same
    * inference family as the reference's sklearn LatentDirichletAllocation
    * (Hoffman et al. 2010): EM materializes the full doc-term graph as
    * GraphX state across every iteration — O(total tokens) cluster state
    * that becomes the bottleneck long before 100 TB — while online VB
    * streams seeded mini-batches and keeps only the k×V topic matrix.
    * Measured at sf0.1: fit 5.9 s (EM) -> 2.4 s (online), same structural
    * contract (SURVEY §7.4: valid distributions + pinned word sets, not
    * bitwise parity; GoldenPipelineSpec re-pinned with this optimizer). */
  private[graft] def lda: LDA =
    new LDA().setK(K).setSeed(Seed).setOptimizer("online").setMaxIter(10)
      .setFeaturesCol("features")

  /** `lead`, then `topic_1..topic_K` from `model.transform(vecs)`'s
    * `topicDistribution`, then `trail`. The distribution stays one vector
    * column until this final projection (no K-way pivot mid-plan). */
  private[graft] def topicFrame(model: LDAModel, vecs: DataFrame,
                                lead: Seq[Column], trail: Seq[Column]): DataFrame =
    model.transform(vecs)
      .withColumn("t", vector_to_array(col("topicDistribution")))
      .select(lead ++ (0 until K).map(i => col("t")(i).as(s"topic_${i + 1}")) ++ trail: _*)

  /** O4 — `describeTopics(TopWords)` plus `words`, the top terms of each
    * (0-based) `topic` joined by spaces. */
  private[graft] def topicWords(model: LDAModel, vocab: Array[String]): DataFrame =
    model.describeTopics(TopWords).withColumn("words", concat_ws(" ",
      transform(col("termIndices"), i => element_at(array(vocab.map(lit).toSeq: _*), i + 1))))

  /** The §3.3 pipeline. Returns (analysis, topics). */
  def analyze(spark: SparkSession, posts: DataFrame, comments: DataFrame,
              batchId: String): (DataFrame, DataFrame) = {
    // The caller's session may lack GraftExtensions (VADER is a custom function).
    GraftExtensions.install(spark)
    val p = posts
      .where(coffeeMatch(Seq(col("title"), col("selftext"))))
      .select(col("id"), col("created_utc"), col("subreddit"), col("score"),
        concat_ws(" ", coalesce(col("title"), lit("")), coalesce(col("selftext"), lit("")))
          .as("text"))
    val c = comments
      .where(coffeeMatch(Seq(col("body"))))
      .select(col("p_id").as("id"), col("created_utc"), col("subreddit"),
        col("score"), col("body").as("text"))

    val cleaned = p.unionByName(c).withColumn("text", TextClean.clean(col("text")))

    // The two fits read only `text`: persist that, in the scan layout, and
    // fit on it. The vocabulary pass fills the cache; the LDA fit reads it.
    // The range shuffle and VADER run once, on the output path below.
    val fitCorpus = cleaned.select("text").persist()
    try {
      val (fm, vocab) = fitFeatures(fitCorpus)
      val model = lda.fit(fm.transform(fitCorpus))
      // (created_utc, id) is NOT total for comments — they inherit the parent
      // post's id, so two comments on one post in the same second tie. Extend
      // the order with the payload columns; remaining ties are fully identical
      // rows, for which any row_id assignment yields the same output set.
      // The index is assigned on the cleaned union, so the output's only
      // data-scale exchange is GlobalIndex's range shuffle: VADER, TF-IDF and
      // the LDA transform all run above it in `spark.sql.shuffle.partitions`
      // parallel tasks.
      val indexed = withSentiment(GlobalIndex.withRowIndex(cleaned,
        Seq(col("created_utc"), col("id"), col("text"), col("score"), col("subreddit")),
        "__idx"))
      val analysis = topicFrame(model, fm.transform(indexed),
        Seq("id", "created_utc", "subreddit", "score", "text", "sentiment_score", "sentiment")
          .map(col),
        Seq(concat_ws("_", col("__idx"), lit(batchId)).as("row_id"), lit(batchId).as("batch_id")))
      val topics = topicWords(model, vocab)
        .select(
          concat_ws(": ", concat(lit("topic_"), col("topic") + 1), col("words")).as("topic_name"),
          (col("topic") + 1).as("topic"),
          lit(batchId).as("batch_id"))
        .orderBy("topic")
      (analysis, topics)
    // The returned frames are lazy and read no cache: each ACTION a caller
    // takes on the analysis frame runs scan → clean → range shuffle →
    // offsets → VADER → TF-IDF → LDA transform once. A caller that runs
    // several actions (as StreamScale does) should persist the frames around
    // its own consumption. The finally releases the fit corpus on every
    // path, the failure paths (a fit throwing, the empty-vocabulary require)
    // included.
    } finally fitCorpus.unpersist()
  }
}
