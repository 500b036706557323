package graft.streaming

import graft.streaming.QueuePipeline._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** §3.1–§3.3 end-to-end at data scale (not fixture scale): the queue →
  * decode → dedup → idempotent-load → analytics chain over the FULL
  * documents table of an sf dir, with the RocksDB state store backing the
  * streaming dedup state — the configuration a production deployment would
  * run (heap state stores OOM once keyed state outgrows executors; RocksDB
  * spills to local disk and is the documented scale path).
  *
  * Shape: documents → post-schema JSON-array payloads (the queue element,
  * enqueue.py:45 shape) staged as text files; ~10% of payloads are staged
  * TWICE (the harvester's at-least-once re-emit) so the run also proves
  * bounded-state dedup at scale — the sink must land exactly |documents|
  * rows. The stream drains under Trigger.AvailableNow (the backfill/batch
  * cadence), then §3.3 analytics (clean → VADER → TF-IDF → LDA) runs over
  * what the load landed.
  *
  * Prints one JSON line with docs/min for the load leg and end-to-end —
  * comparable against the reference's ~50 docs/min ingest ceiling
  * (SURVEY.md §6: 5 subreddits × batch_size 10 per 60 s trigger).
  *
  * An optional multiplier (second arg, or SPARK_GRAFT_SCALE_MULT)
  * replicates the corpus with disjoint doc_id ranges before staging —
  * mult=10 over sf0.1 is the sf1-equivalent volume probe: 10× the
  * payloads, 10× the RocksDB dedup state, 10× the idempotent-sink
  * reconciliation, same exactly-once contract (landed == docs × mult,
  * all ids distinct).
  */
object StreamScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val mult = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SCALE_MULT"))
      .map(_.toInt).getOrElse(1)
    val work = java.nio.file.Files.createTempDirectory("graft_stream_scale").toString
    val spark = graft.Session.local(graft.Session.envCores)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    // Stage: documents → §1.2 post rows → one JSON-array payload per
    // micro-batch group of ~200 docs (the queue element granularity).
    // Titles carry the corpus keyword so the §3.3 filter keeps every doc.
    val base = graft.Tables.load(spark, sfDir, "documents")
    // Disjoint id ranges per replica: the dedup key space really is mult×
    // bigger, so the state store carries mult× the entries. The replica
    // stride is DERIVED from the data (max(doc_id)+1), not hardcoded — a
    // larger sf dir can never collide replica ranges and silently break
    // the `landed == docs × mult distinct ids` exactly-once probe.
    val docs =
      if (mult == 1) base
      else {
        val stride = base.agg(max(col("doc_id"))).head().getLong(0) + 1L
        (0 until mult).map(i =>
          base.withColumn("doc_id", col("doc_id") + lit(i * stride)))
          .reduce(_ unionAll _)
      }
    val nDocs = docs.count()
    val posts = docs.select(
      lit("harvester").as("author"),
      date_format(
        timestamp_seconds(lit(1704103200L) + col("doc_id") % 86400),
        "yyyy-MM-dd'T'HH:mm:ss'Z'").as("created_utc"),
      concat(lit("d"), col("doc_id")).as("id"),
      lit(1).as("num_comments"),
      (col("doc_id") % 100).cast("int").as("score"),
      col("text").as("selftext"),
      col("source").as("subreddit"),
      concat(lit("coffee notes "), col("lang")).as("title"),
      lit("url").as("url"))
    val payloads = posts
      .withColumn("g", col("id").substr(lit(2), lit(18)).cast("long") % (25 * mult))
      .groupBy("g")
      .agg(collect_list(to_json(struct(posts.columns.map(col): _*))).as("docs"))
      .select(col("g"),
        concat(lit("["), concat_ws(",", col("docs")), lit("]")).as("value"))
    // ~10% of payload groups re-emitted: at-least-once upstream replay.
    val staged = payloads.select("value")
      .unionAll(payloads.where(col("g") % 10 === 0).select("value"))
    staged.write.mode("overwrite").text(s"$work/queue")

    // Load leg: file-source stream → decode → RocksDB-backed dedup →
    // idempotent keyed parquet sink, drained with AvailableNow.
    val sink = s"$work/posts"
    val t0 = System.nanoTime()
    val q = dedupByKey(
        decodePosts(spark.readStream.text(s"$work/queue")), "id", "created_utc")
      .writeStream
      .option("checkpointLocation", s"$work/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        idempotentAppend(b, "id", sink)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val loadSecs = (System.nanoTime() - t0) / 1e9
    val landed = spark.read.parquet(sink)
    val landedN = landed.count()
    val exactlyOnce = landedN == nDocs &&
      landed.select("id").distinct().count() == nDocs

    // §3.3 analytics over the landed load (clean → VADER → TF-IDF → LDA).
    val comments = decodeComments(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType)))))
    val t1 = System.nanoTime()
    val (analysis, topics) = graft.operators.RedditProcessor
      .analyze(spark, landed, comments, "scale_batch")
    val analysisN = analysis.count()
    val topicsN = topics.count()
    val analyticsSecs = (System.nanoTime() - t1) / 1e9

    val totalSecs = loadSecs + analyticsSecs
    val loadRate = nDocs / loadSecs * 60.0
    val e2eRate = nDocs / totalSecs * 60.0
    println(
      s"""{"metric":"stream_scale","sf":"$sfDir","docs":$nDocs,""" +
        s""""landed":$landedN,"exactly_once":$exactlyOnce,""" +
        s""""load_sec":$loadSecs,"analytics_sec":$analyticsSecs,""" +
        s""""analysis_rows":$analysisN,"topics":$topicsN,""" +
        s""""load_docs_per_min":$loadRate,"e2e_docs_per_min":$e2eRate,""" +
        s""""state_store":"rocksdb"}""")
    spark.stop()
    if (!exactlyOnce) sys.exit(1)
  }
}
