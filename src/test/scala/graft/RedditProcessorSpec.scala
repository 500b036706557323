package graft

import graft.operators.RedditProcessor
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Drives the §3.3 flagship on FIXTURES.md-shaped reddit frames: both F1
  * branches, null selftext, the union, sort, sentiment, LDA shape, and the
  * composite row ids. */
class RedditProcessorSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def fixture() = {
    import spark.implicits._
    // 8 posts / 6 comments; half mention coffee (case/field varied), half not
    val posts = Seq(
      ("u1", "2024-01-01T10:00:00Z", "p1", 3, 10, "great COFFEE here", "melbourne", "morning Coffee run", "http://x"),
      ("u2", "2024-01-01T09:00:00Z", "p2", 0, -2, null, "sydney", "terrible coffee experience", "http://x"),
      ("u3", "2024-01-01T11:00:00Z", "p3", 1, 5, "tea is fine", "brisbane", "tea time", "http://x"),
      ("u4", "2024-01-01T08:00:00Z", "p4", 2, 7, "best espresso and coffee beans", "Adelaide", "beans", "http://x"))
      .toDF("author", "created_utc", "id", "num_comments", "score", "selftext", "subreddit", "title", "url")
    val comments = Seq(
      ("2024-01-01T10:05:00Z", "p1", "c1", "this coffee is really great", "melbourne", "morning Coffee run", 4),
      ("2024-01-01T10:06:00Z", "p1", "c2", "horrible coffee, never again!", "melbourne", "morning Coffee run", -1),
      ("2024-01-01T11:05:00Z", "p3", "c3", "matcha is better", "brisbane", "tea time", 2))
      .toDF("created_utc", "p_id", "c_id", "body", "subreddit", "title", "score")
    (posts, comments)
  }

  test("flagship pipeline: filter/union/sort/sentiment/LDA/ids end to end") {
    val (posts, comments) = fixture()
    val (analysis, topics) = RedditProcessor.analyze(spark, posts, comments, "batch_t")

    val rows = analysis.orderBy("row_id").collect()
    // F1 both branches: p3 (tea) and c3 (matcha) filtered out; null selftext ok
    assert(rows.length == 5)
    assert(analysis.where(col("id") === "p3").count() == 0)
    // schema contract: analysis shape of FIXTURES.md §4
    val cols = analysis.columns.toSeq
    assert(cols.take(7) == Seq("id", "created_utc", "subreddit", "score", "text",
      "sentiment_score", "sentiment"))
    assert((1 to 20).forall(i => cols.contains(s"topic_$i")))
    // X12 composite ids follow the (created_utc, id) order, 0-based
    assert(rows.map(_.getAs[String]("row_id")).toSeq ==
      (0 until 5).map(i => s"${i}_batch_t"))
    // X7: comment rows carry the PARENT id (p_id -> id rename)
    assert(analysis.where(col("id") === "p1").count() == 3) // post + 2 comments
    // D1: clearly-positive and clearly-negative docs got the right label
    assert(analysis.where(col("text").contains("horrible"))
      .select("sentiment").first().getString(0) == "negative")
    assert(analysis.where(col("text").contains("great coffee"))
      .select("sentiment").first().getString(0) == "positive")
    // topics output: 20 rows shaped "topic_i: w1 w2 ..." with batch id
    assert(topics.count() == 20)
    val t1 = topics.orderBy("topic").first()
    assert(t1.getAs[String]("topic_name").startsWith("topic_1: "))
    assert(t1.getAs[String]("batch_id") == "batch_t")
  }

  test("idempotent batch replay: same input + batch id -> identical analysis rows") {
    val (posts, comments) = fixture()
    val (a1, _) = RedditProcessor.analyze(spark, posts, comments, "batch_r")
    val (a2, _) = RedditProcessor.analyze(spark, posts, comments, "batch_r")
    val s1 = a1.select("row_id", "id", "text", "sentiment").orderBy("row_id").collect().toSeq
    val s2 = a2.select("row_id", "id", "text", "sentiment").orderBy("row_id").collect().toSeq
    assert(s1 == s2)
  }

  test("row ids are dense and exact across partitions, ties and duplicates included") {
    val (posts, comments) = RedditProcessorSpec.generated(spark)
    val order = Seq(col("created_utc"), col("id"), col("text"), col("score"), col("subreddit"))
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try for (on <- Seq("true", "false")) {
      spark.conf.set("spark.sql.adaptive.enabled", on)
      val (analysis, _) = RedditProcessor.analyze(spark, posts, comments, "b")
      val got = analysis
        .select(regexp_extract(col("row_id"), "^(\\d+)_b$", 1).cast("long").as("idx") +: order: _*)
        .collect()
      assert(got.length == RedditProcessorSpec.GeneratedDocs, s"AQE $on")
      assert(got.map(_.getLong(0)).sorted.toSeq == (0L until got.length), s"AQE $on: ids not dense")
      // The single-task reference: row_number over the same cleaned rows.
      val rows = got.toSeq.map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq.tail))
      val want = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
          analysis.select(order: _*).schema)
        .select((row_number().over(Window.orderBy(order: _*)).cast("long") - 1L) +: order: _*)
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
      assert(got.map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq == want, s"AQE $on")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("analyze leaves no cached or persisted blocks behind once its outputs are consumed") {
    val (posts, comments) = fixture()
    val cm = spark.sharedState.cacheManager
    // numCachedEntries is private[spark] in Scala; its JVM method is public.
    def cached = cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
    val (entries0, rdds0) = (cached, spark.sparkContext.getPersistentRDDs.keySet)
    val (analysis, topics) = RedditProcessor.analyze(spark, posts, comments, "batch_c")
    analysis.write.format("noop").mode("overwrite").save()
    topics.collect()
    assert(cached == entries0)
    assert(spark.sparkContext.getPersistentRDDs.keySet == rdds0)
  }

  test("analyze rejects a corpus whose vocabulary minDF/maxDF prune to nothing") {
    // "coffee" is in all 3 docs (over maxDF 0.95), every other word in one
    // (under minDF 2): the vocabulary is empty. Three docs, not two: with
    // two, maxDF 0.95 · 2 < minDF and CountVectorizer rejects its own
    // parameters before pruning anything.
    import spark.implicits._
    val (posts0, comments0) = fixture()
    val posts = Seq(
      ("u1", "2024-01-01T10:00:00Z", "p1", 0, 1, "alpha", "melbourne", "coffee", "http://x"),
      ("u2", "2024-01-01T11:00:00Z", "p2", 0, 1, "beta", "sydney", "coffee", "http://x"),
      ("u3", "2024-01-01T12:00:00Z", "p3", 0, 1, "gamma", "perth", "coffee", "http://x"))
      .toDF(posts0.columns: _*)
    val comments = comments0.limit(0)
    val rdds0 = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException](
      RedditProcessor.analyze(spark, posts, comments, "batch_e"))
    assert(e.getMessage.contains("corpus too small for topic modeling"), e.getMessage)
    assert(spark.sparkContext.getPersistentRDDs.keySet == rdds0, "the failed fit leaked its corpus")
  }

  test("Analytics nlp_analysis and nlp_topics reject a corpus whose vocabulary is pruned empty") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tiny_docs").toString
    Seq((1L, "en", "t", "coffee"), (2L, "en", "t", "coffee"), (3L, "en", "t", "coffee"))
      .toDF("doc_id", "lang", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    for (q <- Seq("nlp_analysis", "nlp_topics")) {
      val e = intercept[IllegalArgumentException](
        operators.Analytics.queries(q)(spark, dir).collect())
      assert(e.getMessage.contains("corpus too small for topic modeling"), s"$q: ${e.getMessage}")
    }
  }
}

object RedditProcessorSpec {

  /** Posts plus comments the generated corpus keeps (all carry "coffee"). */
  val GeneratedDocs = 40 + 300 + 4 + 20

  /** A few hundred coffee docs built to stress the row index: comments
    * crowd few posts and few seconds, so (created_utc, id) ties are common
    * and broken by text; hand-made rows tie on everything but score, or on
    * everything but subreddit; the first 20 comments appear twice as fully
    * identical rows. */
  def generated(spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val words = Seq("espresso", "latte", "beans", "roast", "great", "terrible",
      "morning", "cafe", "milk", "cup", "barista", "bitter", "smooth", "love",
      "hate", "strong", "weak", "fresh", "cold", "happy")
    def text(k: Int) = ("coffee" +: Seq.fill(k)(words(rnd.nextInt(words.size)))).mkString(" ")
    val subs = Seq("melbourne", "sydney", "perth")
    def ts(sec: Int) = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").toInstant
      .plusSeconds(sec.toLong).toString
    val posts = (0 until 40).map(i =>
      ("u", ts(rnd.nextInt(30)), s"p$i", 0, rnd.nextInt(10), text(6),
        subs(rnd.nextInt(3)), "coffee talk", "http://x"))
      .toDF("author", "created_utc", "id", "num_comments", "score", "selftext", "subreddit", "title", "url")
    val random = (0 until 300).map(j =>
      (ts(rnd.nextInt(4)), s"p${rnd.nextInt(6)}", s"c$j", text(1 + rnd.nextInt(2)),
        subs(rnd.nextInt(3)), "t", rnd.nextInt(3)))
    val handMade = Seq(
      (ts(1), "p1", "h1", "coffee tie", "perth", "t", 1),
      (ts(1), "p1", "h2", "coffee tie", "perth", "t", 2), // ties but for score
      (ts(1), "p1", "h3", "coffee tie", "melbourne", "t", 2), // but for subreddit
      (ts(1), "p1", "h4", "coffee tie", "sydney", "t", 2))
    val comments = (random ++ handMade ++ random.take(20))
      .toDF("created_utc", "p_id", "c_id", "body", "subreddit", "title", "score")
    (posts, comments)
  }
}
