package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming ingest/load pipeline (SURVEY.md §2.10, §3.1–§3.2), Spark-first.
  *
  * The reference's moving parts map onto Structured Streaming:
  *  - Redis list of JSON-array batches (enqueue.py:45) → a stream of `value:
  *    string` payloads; [[decodePosts]] is `from_json(ArrayType) → explode →
  *    defensive re-projection` (S4/X11/P3, addReddit.py:34-61).
  *  - SADD/SISMEMBER dedup sets (reddit_harvester_aus.py:19,41,80) →
  *    [[dedupByKey]]: watermarked `dropDuplicates` — same semantics with
  *    BOUNDED state (the reference's sets grow forever; the 7-day horizon is
  *    justified by its own one-week backfill window,
  *    reddit_harvester_comment.py:40).
  *  - peek → index-all → LREM ack (addReddit.py:29,63-82) →
  *    checkpointed offsets + [[idempotentAppend]] inside `foreachBatch`:
  *    exactly-once observable behavior, strictly stronger than the
  *    reference's at-least-once-with-idempotent-_id.
  *  - `@every 60s` triggers (specs/timetrigger-*.yaml:7) →
  *    `Trigger.ProcessingTime("60 seconds")` at the call site; tests drive
  *    batches synchronously with `processAllAvailable`.
  *
  * Scale: state-store dedup partitions by key; the idempotent sink's
  * anti-join reads only the sink key column (column-pruned parquet scan).
  * At 100 TB the sink key set would live in a keyed store (Delta merge /
  * bucketed table) — the seam to swap is isolated in [[idempotentAppend]].
  */
object QueuePipeline {

  /** §1.2 post schema, declared ONCE (the reference restates it 3×). */
  val postSchema: StructType = StructType(Seq(
    StructField("author", StringType),
    StructField("created_utc", StringType), // ISO-8601 'Z' on the wire
    StructField("id", StringType),
    StructField("num_comments", IntegerType),
    StructField("score", IntegerType),
    StructField("selftext", StringType),
    StructField("subreddit", StringType),
    StructField("title", StringType),
    StructField("url", StringType)))

  /** §1.2 comment schema. */
  val commentSchema: StructType = StructType(Seq(
    StructField("created_utc", StringType),
    StructField("p_id", StringType),
    StructField("c_id", StringType),
    StructField("body", StringType),
    StructField("subreddit", StringType),
    StructField("title", StringType),
    StructField("score", IntegerType)))

  /** K1/K2 — enqueue: a micro-batch of docs → ONE JSON-array payload string
    * (the Redis list element, enqueue.py:45). Empty batches yield no row
    * (F3, HTTP-204 skip at enqueue.py:40-42). */
  def encodeBatch(batch: DataFrame): DataFrame =
    batch.agg(collect_list(to_json(struct(batch.columns.map(col): _*))).as("docs"))
      .where(size(col("docs")) > 0)
      .select(concat(lit("["), concat_ws(",", col("docs")), lit("]")).as("value"))

  /** Decode the `value` payload column into typed `schema` rows.
    * Malformed JSON → null array → zero rows (the error branch at
    * addReddit.py:38-40); unknown fields dropped, missing fields null
    * (defensive re-projection, addReddit.py:51-61). */
  private def decode(payloads: DataFrame, schema: StructType): DataFrame =
    payloads
      .select(explode_outer(from_json(col("value"), ArrayType(schema))).as("doc"))
      .where(col("doc").isNotNull)
      .select(col("doc.*"))
      .withColumn("created_utc", to_timestamp(col("created_utc"), "yyyy-MM-dd'T'HH:mm:ss'Z'"))

  /** S4/X11/P3 — decode queue payloads into typed post rows. */
  def decodePosts(payloads: DataFrame): DataFrame = decode(payloads, postSchema)

  /** Same for comments (addReddit.py:90-115). */
  def decodeComments(payloads: DataFrame): DataFrame = decode(payloads, commentSchema)

  /** T4 dedup horizon: the reference's one-week backfill window
    * (reddit_harvester_comment.py:40). */
  private val DedupHorizon = "7 days"

  /** T4 — streaming dedup with bounded state: watermark +
    * dropDuplicatesWithinWatermark on the natural key ALONE. Identity is the
    * key, not (key, event time) — a harvester re-emit of the same post id
    * with a refreshed created_utc must still be dropped, matching the
    * reference's seen-set membership semantics (SISMEMBER/SADD on the id,
    * addReddit.py:46-52) and the batch branch. State is evicted once an
    * entry's first-seen event time falls behind the watermark horizon. */
  def dedupByKey(df: DataFrame, key: String, eventTimeCol: String): DataFrame =
    if (df.isStreaming)
      df.withWatermark(eventTimeCol, DedupHorizon).dropDuplicatesWithinWatermark(key)
    else df.dropDuplicates(Seq(key))

  /** K3/K5 — idempotent keyed append: the exactly-once sink half. Replaying
    * the same micro-batch is a no-op (anti-join on the key against what the
    * sink already holds), so checkpoint replay after failure cannot
    * duplicate — same observable result as the reference's `_id` upsert +
    * all-success LREM fold (addReddit.py:46-82). */
  def idempotentAppend(batch: DataFrame, key: String, path: String): Unit = {
    val spark = batch.sparkSession
    // Probe sink existence explicitly rather than catching AnalysisException:
    // a catch-all would also swallow real errors (missing key column, schema
    // mismatch) and silently disable dedup — the exactly-once contract must
    // fail CLOSED, not open.
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh =
      if (fs.exists(hPath)) {
        val existing = spark.read.parquet(path).select(key)
        batch.join(existing, Seq(key), "left_anti")
      } else batch // first write
    fresh.write.mode("append").parquet(path)
  }

  /** T8 — fan-in: the five per-subreddit harvesters are one parameterized
    * stream; a `subreddit` column replaces the five byte-identical copies
    * (reference diff is 2 constants, SURVEY.md §0). */
  def fanIn(streams: Seq[DataFrame]): DataFrame =
    streams.reduce(_ unionByName _)

  /** O3/T2 — per-trigger cap: keep at most n rows per micro-batch by an
    * explicit priority order (batch_size=10, reddit_harvester_aus.py:34).
    * Use inside foreachBatch where the batch is a plain DataFrame. */
  def perTriggerCap(batch: DataFrame, n: Int, order: Column*): DataFrame =
    batch.orderBy(order: _*).limit(n)

  /** Stream-static enrichment join — the standard streaming dimension
    * lookup (J2's streaming face): each micro-batch broadcast-joins the
    * static dim frame, so NO stream state is ever kept (spec pins zero
    * state rows) and the join adds no watermark requirement. Left join:
    * events with no dim row pass through with nulls rather than silently
    * dropping — the defensive default for reference-data gaps. */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")
}
