package graft.streaming

import graft.streaming.QueuePipeline._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** End-to-end streaming demo/smoke (§3.1–§3.2 as one running query):
  * queue payloads → from_json decode → watermarked dedup → idempotent
  * keyed parquet sink via foreachBatch, with a duplicate-and-replay probe.
  * Prints one summary line; exits nonzero if exactly-once is violated.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(graft.Session.envCores)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def post(id: String, sub: String) =
      s"""{"author":"u","created_utc":"2024-01-01T10:00:00Z","id":"$id",""" +
        s""""num_comments":1,"score":7,"selftext":"fresh beans espresso roast brew",""" +
        s""""subreddit":"$sub","title":"great coffee beans and espresso","url":"u"}"""

    val sink = java.nio.file.Files.createTempDirectory("graft_demo").toString + "/posts"
    val mem = MemoryStream[String]
    val q = dedupByKey(decodePosts(mem.toDF()), "id", "created_utc")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        idempotentAppend(b, "id", sink)
      }
      .start()
    try {
      // trigger 1: two subreddits fan in, one malformed payload in the mix
      mem.addData(s"[${post("p1", "sydney")},${post("p2", "melbourne")}]", "{broken")
      q.processAllAvailable()
      // trigger 2: p2 replays (at-least-once upstream), p3 is new
      mem.addData(s"[${post("p2", "melbourne")},${post("p3", "brisbane")}]")
      q.processAllAvailable()
      // trigger 3: full replay of trigger 1's payload
      mem.addData(s"[${post("p1", "sydney")},${post("p2", "melbourne")}]")
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.read.parquet(sink)
    val ids = out.select("id").as[String].collect().sorted.toSeq
    val ok = ids == Seq("p1", "p2", "p3")
    println(s"[stream-demo] sink_rows=${out.count()} ids=${ids.mkString(",")} exactly_once=$ok")

    // §3.3 batch analytics over what the streaming load landed — the full
    // reference loop (harvest → queue → load → process) in one run.
    val comments = decodeComments(Seq(
      """[{"created_utc":"2024-01-01T10:05:00Z","p_id":"p1","c_id":"c1",
        |"body":"this coffee is really great","subreddit":"sydney",
        |"title":"coffee","score":4},
        |{"created_utc":"2024-01-01T10:06:00Z","p_id":"p1","c_id":"c2",
        |"body":"horrible coffee, never again!","subreddit":"sydney",
        |"title":"coffee","score":-1}]""".stripMargin.replaceAll("\n", "")).toDF("value"))
    val (analysis, topics) = graft.operators.RedditProcessor
      .analyze(spark, out, comments, "demo_batch")
    val labels = analysis.groupBy("sentiment").count()
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(",")
    println(s"[stream-demo] analysis_rows=${analysis.count()} topics=${topics.count()} sentiments=$labels")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
