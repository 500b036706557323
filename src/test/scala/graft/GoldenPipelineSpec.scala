package graft

import graft.functions.{TextClean, VaderSentiment}
import graft.plans.VaderExpr
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden end-to-end test (SURVEY.md §5.3): a frozen corpus through the full
  * §3.3 pipeline prefix — clean → sentiment — with exact pinned outputs, plus
  * consistency between the codegen'd Catalyst expression and the static
  * scorer, and structural checks on the ML stage contract.
  */
class GoldenPipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  // Frozen corpus exercising SURVEY §7.4 edge list: URLs, punctuation, stop
  // tokens, mixed case, but-clause, negation, caps+bang emphasis, neutral.
  private val corpus = Seq(
    (0L, "The Coffee was really GREAT but the service was terrible!!"),
    (1L, "I love this NEW espresso machine!"),
    (2L, "not a good experience, very disappointing"),
    (3L, "the table has four legs and a flat top"),
    (4L, "Check http://deals.example.com/sale?q=1 THIS just great stuff"))

  test("golden: exact pinned VADER compounds and labels") {
    assert(VaderSentiment.compound(
      "the coffee was really great but the service was terrible!!") == -0.4655831807469922)
    assert(VaderSentiment.compound(
      "I love this NEW espresso machine!") == 0.6696335080835328)
    assert(VaderSentiment.compound(
      "not a good experience, very disappointing") == -0.7094698405924929)
    assert(VaderSentiment.compound(
      "the table has four legs and a flat top") == 0.0)
  }

  test("golden: clean -> sentiment through the Spark plan equals the static scorer") {
    import spark.implicits._
    val out = corpus.toDF("doc_id", "text")
      .withColumn("cleaned", TextClean.clean(col("text")))
      .withColumn("score", VaderExpr.vaderCompound(col("cleaned")))
      .withColumn("label",
        when(col("score") > 0.05, "positive")
          .when(col("score") < -0.05, "negative").otherwise("neutral"))
      .orderBy("doc_id")
      .collect()

    // cleaning: URL gone, punctuation gone, stop tokens gone, lowercased
    assert(out(4).getAs[String]("cleaned") == "check great stuff")
    // pipeline score == static scorer on the cleaned text (codegen parity)
    corpus.indices.foreach { i =>
      val cleaned = out(i).getAs[String]("cleaned")
      assert(out(i).getAs[Double]("score") == VaderSentiment.compound(cleaned),
        s"row $i: expression vs static scorer diverge")
    }
    // cleaning strips the '!!' emphasis and the but-clause survives:
    // row 0 stays negative, row 1 positive, row 3 neutral
    assert(out.map(_.getAs[String]("label")).toSeq ==
      Seq("negative", "positive", "negative", "neutral", "positive"))
  }

  test("golden: the full sf0.001 VADER battery is pinned, not trusted") {
    // The nlp_* queries have no SQL oracle (VADER is not SQL-expressible);
    // this pins the ENTIRE corpus' (doc_id, score, label) rows via an
    // order-independent hash. Any change to the lexicon, cleaner, or scorer
    // must consciously update the pin.
    val sent = operators.Analytics.queries("nlp_sentiment")(spark, "/root/testdata/sf0.001")
    val h = sent.select(md5(concat_ws("|", col("doc_id"),
        format_number(col("sentiment_score"), 10), col("sentiment"))).as("h"))
      .agg(md5(concat_ws(",", sort_array(collect_list(col("h"))))).as("corpus_hash"))
      .collect().head.getString(0)
    assert(h == "cf65dcf4f25338ab6be39e5c7fd2b31b", s"corpus sentiment hash drifted: $h")
    val counts = operators.Analytics.queries("nlp_sentiment_counts")(spark, "/root/testdata/sf0.001")
      .collect().map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(",")
    assert(counts == "negative:387,neutral:113", s"label distribution drifted: $counts")
    // sf0.01 is a DIFFERENT 500-doc corpus (measured round-16: text hashes
    // differ table-wide), and it is the scale the DRIVER gate verifies at —
    // pin its distribution too, so tools/golden_pins.json's sf0.01 pins
    // chain to an sbt-pinned value on the exact corpus the gate reads.
    val counts001 = operators.Analytics.queries("nlp_sentiment_counts")(spark, "/root/testdata/sf0.01")
      .collect().map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(",")
    assert(counts001 == "negative:394,neutral:106", s"sf0.01 label distribution drifted: $counts001")
  }

  test("golden: nlp_topics top-10 word sets are pinned on the frozen corpus") {
    // Last of the 4 no_oracle rows to get a pinned check: the seed-42
    // online-VB LDA is deterministic (seeded mini-batch sampling over a
    // deterministic input partitioning), so the per-topic top-10 word SETS (order
    // independent within a topic and across topics) are frozen. Any change
    // to the cleaner, lexicon, vectorizer pruning, or LDA config must
    // consciously update this pin.
    val topics = operators.Analytics.queries("nlp_topics")(spark, "/root/testdata/sf0.001")
    val h = topics.select(md5(concat_ws("|", col("topic"),
        concat_ws(" ", sort_array(split(col("words"), " "))))).as("h"))
      .agg(md5(concat_ws(",", sort_array(collect_list(col("h"))))).as("topics_hash"))
      .collect().head.getString(0)
    // Re-pinned round-16 under the deterministic-layout fit contract
    // (Analytics.fit repartitions on doc_id before RedditProcessor's shared
    // fitFeatures/lda fit, so the model no longer follows
    // input-split/parallelism layout).
    assert(h == "b1a534ae18a51e5f49d8aa6e4e365053", s"topic word sets drifted: $h")
  }

  test("golden: nlp_topics top-10 word sets are pinned one decade up (sf0.1)") {
    // Round-15 (verdict item 6): LDA/TF-IDF behavior is scale-dependent —
    // CountVectorizer vocabulary pruning and online-VB mini-batching both
    // change with corpus size — so the sf0.001 pin alone could green while
    // a vocabulary-pruning regression silently rewrote every larger
    // corpus' topics. Same seed-42 determinism argument as the sf0.001
    // pin, one decade up (5,000 docs; sf0.001 and sf0.01 are both
    // 500-doc corpora — different content, same size — so sf0.1 is the
    // first real decade step).
    val topics = operators.Analytics.queries("nlp_topics")(spark, "/root/testdata/sf0.1")
    val h = topics.select(md5(concat_ws("|", col("topic"),
        concat_ws(" ", sort_array(split(col("words"), " "))))).as("h"))
      .agg(md5(concat_ws(",", sort_array(collect_list(col("h"))))).as("topics_hash"))
      .collect().head.getString(0)
    // Re-pinned round-16 under the deterministic-layout fit contract.
    assert(h == "596eee75fc336fff21e5b34e945a0498", s"sf0.1 topic word sets drifted: $h")
  }

  test("golden: nlp_topics top-10 word sets are pinned two decades up (sf1)") {
    // Round-16 (verdict item 7): third decade for the one oracle-less
    // family. CountVectorizer vocabulary pruning (minDF=2/maxDF=0.95) and
    // online-VB mini-batch sizing are the scale-dependent behaviors; a
    // regression in either would green at sf0.001/sf0.1 while rewriting
    // every larger corpus' topics. The sf1 corpus is the ReplicateSf ×10
    // replica of sf0.1 (50,000 docs) — not driver testdata — so the test
    // CANCELS (assume) rather than fails where the replica is absent;
    // tools/sf10x_verify.sh documents the recipe.
    assume(new java.io.File("/tmp/sf1/documents.parquet").exists,
      "/tmp/sf1 replica not present on this host")
    val topics = operators.Analytics.queries("nlp_topics")(spark, "/tmp/sf1")
    val h = topics.select(md5(concat_ws("|", col("topic"),
        concat_ws(" ", sort_array(split(col("words"), " "))))).as("h"))
      .agg(md5(concat_ws(",", sort_array(collect_list(col("h"))))).as("topics_hash"))
      .collect().head.getString(0)
    // Pinned under the deterministic-layout fit contract; measured
    // identical at local[8]/local[12]/local[24] on the same replica.
    assert(h == "9cb073a792ae0551057f85e27e3eb3e3", s"sf1 topic word sets drifted: $h")
  }

  test("structural: analysis output contract holds one decade up (sf0.1)") {
    val df = operators.Analytics.queries("nlp_analysis")(spark, "/root/testdata/sf0.1")
    val cols = df.columns.toSeq
    assert(cols.take(4) == Seq("doc_id", "text", "sentiment_score", "sentiment"))
    assert((1 to 20).forall(i => cols.contains(s"topic_$i")) && cols.contains("batch_id"))
    val rows = df.selectExpr("doc_id",
      (1 to 20).map(i => s"topic_$i").mkString("", " + ", " as tsum"))
    assert(rows.count() == 5000L)
    rows.orderBy("doc_id").limit(5).collect()
      .foreach(r => assert(math.abs(r.getAs[Double]("tsum") - 1.0) < 1e-9))
  }

  test("structural: analysis output contract on the sf0.001 pipeline") {
    val df = operators.Analytics.queries("nlp_analysis")(spark, "/root/testdata/sf0.001")
    val cols = df.columns.toSeq
    assert(cols.take(4) == Seq("doc_id", "text", "sentiment_score", "sentiment"))
    assert((1 to 20).forall(i => cols.contains(s"topic_$i")) && cols.contains("batch_id"))
    val row = df.selectExpr(
      "doc_id", (1 to 20).map(i => s"topic_$i").mkString("", " + ", " as tsum")
    ).orderBy("doc_id").limit(5).collect()
    row.foreach(r => assert(math.abs(r.getAs[Double]("tsum") - 1.0) < 1e-9))
  }
}
