package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.streaming.QueuePipeline
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/** JVM half of the benchmark: builds the session, sets up, runs one
  * workload's units of work until the time is up, and writes every raw
  * timing, count and trace event to one JSON file. run.py derives the
  * metrics from that file and decides correctness.
  *
  * Everything it measures is reached through public entry points of the
  * program (SparkEntry.queries, QueuePipeline, RedditProcessor, TextClean,
  * VaderExpr) and through Spark's public listener interfaces.
  */
object Harness {

  /** --inputs: the workload's generated inputs (queue dir, corpus dir or
    * tables dir). --warm: what set-up warms up on (a small queue or corpus;
    * for query_mix, the warm-up queries). */
  final case class Conf(workload: String, cores: Int, seconds: Double,
                        trace: Boolean, inputs: String, warm: String,
                        work: String, out: String, queries: Seq[String])

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("cores").toInt, m("seconds").toDouble, m("trace") == "1",
      m("inputs"), m("warm"), m("work"), m("out"),
      m.getOrElse("queries", "").split(',').toSeq.filter(_.nonEmpty).flatMap {
        case "all" => Modules.all.flatMap(_._2.keys).sorted
        case q => Seq(q)
      })
  }

  /** Mirrors graft.Bench's session: GraftExtensions, AQE, the sort shuffle
    * writer and shuffle partitions = cores; plus the RocksDB state store the
    * streaming ingest runs on. Spark's local dirs stay in the work dir. */
  def session(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** What one run records. Timestamps are Clock.ms. */
  final class Rec {
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
    val ops = ArrayBuffer[Json.Obj]()
    val units = ArrayBuffer[Json.Obj]()
    val progress = ArrayBuffer[Json.Obj]()
    val checks = scala.collection.mutable.LinkedHashMap[String, Any]()
    val layer = scala.collection.mutable.LinkedHashMap[String, Double]()

    def span[T](kind: String, name: String)(body: => T): T = {
      val t0 = Clock.ms
      try body finally spans.add(Span(kind, name, t0, Clock.ms))
    }
  }

  /** A workload: set-up work, one unit of work, and output checks. */
  trait Workload {
    /** Fewest and most units one run measures, untraced; between the two,
      * units repeat until --seconds have passed. */
    def minUnits: Int = 1
    def maxUnits: Int = Int.MaxValue
    def warmUp(spark: SparkSession): Unit
    /** Runs unit `u`; returns its timed interval (start, end). */
    def unit(spark: SparkSession, u: Int, tracer: Option[Tracer], rec: Rec): (Double, Double)
    def finish(spark: SparkSession, traced: Boolean, rec: Rec): Unit
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val w: Workload = c.workload match {
      case "query_mix" => new QueryMix(c)
      case "ingest_stream" => new IngestStream(c)
      case "nlp_batch" => new NlpBatch(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // Set-up runs once, cold, from JVM start to the end of the warm-up:
    // JVM start, class loading, the operator objects' initialisation and
    // the first session's JIT are all part of it.
    val spark = session(c)
    w.warmUp(spark)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val rec = new Rec
    val host0 = Host.sample()
    val deadline = Clock.ms + c.seconds * 1000
    // Traced runs alternate traced and untraced units, traced first, so
    // that the tracing overhead is measured on the same process and data;
    // the first unit is the coldest, so the overhead reads high if anything.
    val k = if (c.trace) 2 else 1
    val (minUnits, maxUnits) = (k * w.minUnits, k * w.maxUnits.min(Int.MaxValue / 2))
    var u = 0
    var codegen = (0L, 0L)
    val tracer = new Tracer
    while (u < minUnits || (u < maxUnits && Clock.ms < deadline)) {
      val traced = c.trace && u % 2 == 0
      if (traced) tracer.install(spark)
      val cg0 = Tracer.codegen()
      val (gc0, steal0, cpu0) = (Host.gcMs(), Host.stealMs(), Host.procCpuMs())
      val start = Clock.ms
      val (t0, t1) =
        try w.unit(spark, u, if (traced) Some(tracer) else None, rec)
        catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] unit $u failed: ${e.getClass.getName}: ${e.getMessage}")
            rec.ops += Json.Obj("name" -> s"unit$u", "unit" -> u, "ms" -> (Clock.ms - start), "ok" -> false)
            (start, Clock.ms)
        }
      if (traced) {
        tracer.remove(spark)
        val cg1 = Tracer.codegen()
        codegen = (codegen._1 + cg1._1 - cg0._1, codegen._2 + cg1._2 - cg0._2)
      }
      rec.units += Json.Obj("unit" -> u, "start" -> t0, "end" -> t1, "traced" -> traced,
        "gc_ms" -> (Host.gcMs() - gc0), "steal_ms" -> (Host.stealMs() - steal0),
        "proc_cpu_ms" -> (Host.procCpuMs() - cpu0),
        "storage_bytes" -> (if (traced) Host.storageBytes(spark) else 0L))
      u += 1
    }
    val host1 = Host.sample()
    w.finish(spark, c.trace, rec)
    Tracer.drain(spark)

    val out = Json.Obj(
      "workload" -> c.workload, "cores" -> c.cores,
      "setup_s" -> setupS, "units" -> rec.units, "ops" -> rec.ops,
      "spans" -> rec.spans.asScala.toSeq.map(s => Json.Obj(
        "kind" -> s.kind, "name" -> s.name, "start" -> s.start, "end" -> s.end)),
      "progress" -> rec.progress, "checks" -> rec.checks, "layer" -> rec.layer,
      "jobs" -> tracer.jobs.asScala.toSeq, "stages" -> tracer.stages.asScala.toSeq,
      "tasks" -> tracer.tasks.asScala.toSeq, "actions" -> tracer.actions.asScala.toSeq,
      "codegen" -> Json.Obj("count" -> codegen._1, "ms" -> codegen._2 / 1e6),
      "modules" -> Modules.all.map(_._1),
      "host" -> Json.Obj("before" -> host0, "after" -> host1,
        "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
        "nproc" -> Runtime.getRuntime.availableProcessors()),
      "peak_rss_kb" -> Host.peakRssKb())
    spark.stop()
    Files.write(Paths.get(c.out), Json.render(out).getBytes("UTF-8"))
  }

  /** Runs the frame's plan to completion and returns its output's
    * order-insensitive fingerprint: (rows, wrapping sum of a 64-bit hash
    * per row). Like the noop sink, it executes the whole physical plan;
    * unlike noop, it lets every timed execution be checked. */
  def run(df: DataFrame): (Long, Long) = {
    val sc = df.sparkSession.sparkContext
    val rows = sc.longAccumulator
    val sum = sc.longAccumulator
    df.foreachPartition { (it: Iterator[Row]) =>
      var n, h = 0L
      it.foreach { r => n += 1; h += RowHash(r) }
      rows.add(n)
      sum.add(h)
    }
    (rows.value, sum.value)
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))
  }
}

/** query_mix: Bench's cold per-query contract (clearCache before each
  * query) over the sample, in the seed's order, each output hashed by
  * Harness.run so that every timed execution is checked. Each pass reads the tables
  * through a path spelled differently ("dir/.", "dir/./.", ...), so the
  * per-(session, dir) memos in Dedup and Analytics never carry a result
  * from one pass, or from the warm-up, into another. */
final class QueryMix(c: Harness.Conf) extends Harness.Workload {
  import Harness._

  private def dir(pass: Int) = c.inputs + "/." * (pass + 1)

  /** Two passes, each query once per pass as in graft.Bench: wall_s is
    * their median, op_p50_ms the median over both passes' queries. */
  override def minUnits: Int = 2
  override def maxUnits: Int = 2

  /** As graft.Bench, every table loaded and counted once; then the
    * warm-up queries (--warm), on the plain dir spelling no pass uses. */
  def warmUp(spark: SparkSession): Unit = {
    graft.Tables.All.foreach(t => graft.Tables.load(spark, c.inputs, t).count())
    c.warm.split(',').filter(_.nonEmpty).foreach { q =>
      spark.catalog.clearCache()
      run(SparkEntry.queries(q)(spark, c.inputs))
    }
  }

  def unit(spark: SparkSession, u: Int, tracer: Option[Tracer], rec: Rec): (Double, Double) = {
    val t0 = Clock.ms
    c.queries.foreach { q =>
      spark.catalog.clearCache()
      val s0 = Clock.ms
      val out = try {
        val df = rec.span("build", q)(SparkEntry.queries(q)(spark, dir(u)))
        Some(rec.span("execute", q)(run(df)))
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $q failed: ${e.getClass.getName}: ${e.getMessage}")
          None
      }
      val s1 = Clock.ms
      rec.spans.add(Span("item", q, s0, s1))
      rec.ops += Json.Obj("name" -> q, "unit" -> u, "ms" -> (s1 - s0), "ok" -> out.isDefined,
        "rows" -> out.map(_._1), "fp" -> out.map(_._2.toString),
        "storage_bytes" -> tracer.map(_ => Host.storageBytes(spark)))
    }
    (t0, Clock.ms)
  }

  def finish(spark: SparkSession, traced: Boolean, rec: Rec): Unit =
    rec.checks("modules") = Modules.of(c.queries)
}

/** Which operator module each query comes from. Analytics (the nlp_*
  * queries) is left out: nlp_batch covers RedditProcessor directly. */
object Modules {
  val all: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = {
    import graft.operators._
    Seq("Relational" -> Relational.queries, "Relational2" -> Relational2.queries,
      "Relational3" -> Relational3.queries, "Graph" -> Graph.queries,
      "EventWindows" -> EventWindows.queries, "ScalarFns" -> ScalarFns.queries,
      "TextAnalysis" -> TextAnalysis.queries, "Dedup" -> Dedup.queries,
      "Similarity" -> Similarity.queries, "Retrieval" -> Retrieval.queries,
      "Embeddings" -> Embeddings.queries,
      "Multimodal" -> Multimodal.queries, "Preference" -> Preference.queries)
  }

  def of(queries: Seq[String]): Map[String, String] =
    queries.map(q => q -> all.collectFirst { case (m, qs) if qs.contains(q) => m }
      .getOrElse("?")).toMap
}

/** ingest_stream: closed-loop backfill rounds. Each round drains the
  * seed's whole queue, a fixed number of payload files per trigger, from a
  * fresh checkpoint into a fresh sink: decodePosts → dedupByKey (RocksDB
  * state) → idempotentAppend inside foreachBatch, under AvailableNow. */
final class IngestStream(c: Harness.Conf) extends Harness.Workload {
  import Harness._

  /** One payload file per micro-batch: 9 batches per round. */
  private val maxFilesPerTrigger = 1

  override def minUnits: Int = 2

  private def drain(spark: SparkSession, queue: String, root: String,
                    tracer: Option[Tracer], rec: Option[Rec]): (Double, Double, Seq[StreamingQueryProgress]) = {
    deleteTree(root)
    val sink = s"$root/sink"
    val t0 = Clock.ms
    val q = QueuePipeline.dedupByKey(
        QueuePipeline.decodePosts(spark.readStream
          .option("maxFilesPerTrigger", maxFilesPerTrigger.toString).text(queue)),
        "id", "created_utc")
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: DataFrame, id: Long) =>
        val s0 = Clock.ms
        QueuePipeline.idempotentAppend(b, "id", sink)
        rec.foreach(_.spans.add(Span("sink", s"batch$id", s0, Clock.ms)))
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val t1 = Clock.ms
    val progress = tracer match {
      case Some(t) =>
        Tracer.drain(spark)
        t.progress.asScala.filter(_.id == q.id).toSeq
      case None => q.recentProgress.toSeq
    }
    (t0, t1, progress)
  }

  def warmUp(spark: SparkSession): Unit = {
    drain(spark, c.warm, s"${c.work}/warm", None, None)
    deleteTree(s"${c.work}/warm")
  }

  def unit(spark: SparkSession, u: Int, tracer: Option[Tracer], rec: Rec): (Double, Double) = {
    val root = s"${c.work}/round$u"
    val (t0, t1, progress) = drain(spark, c.inputs, root, tracer, Some(rec))
    progress.sortBy(_.batchId).foreach { p =>
      val pj = Tracer.progressJson(p, u)
      rec.progress += pj
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val ms = p.durationMs.get("triggerExecution").doubleValue
      rec.spans.add(Span("item", s"batch${p.batchId}", start, start + ms))
      rec.ops += Json.Obj("name" -> s"batch${p.batchId}", "unit" -> u, "ms" -> ms, "ok" -> true)
    }
    val sink = spark.read.parquet(s"$root/sink")
    val ids = sink.select("id")
    val files = Files.list(Paths.get(s"$root/sink")).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    rec.checks(s"round$u") = Json.Obj(
      "landed" -> ids.count(), "distinct" -> ids.distinct().count(),
      "batches" -> progress.size, "sink_files" -> files)
    deleteTree(root)
    (t0, t1)
  }

  def finish(spark: SparkSession, traced: Boolean, rec: Rec): Unit = ()
}

/** nlp_batch: RedditProcessor.analyze over the seed's posts and comments,
  * timed from the call until both outputs are materialized. */
final class NlpBatch(c: Harness.Conf) extends Harness.Workload {
  import Harness._
  import graft.operators.RedditProcessor

  private var last: (DataFrame, DataFrame) = _

  override def minUnits: Int = 2

  private def job(spark: SparkSession, dir: String, batchId: String, rec: Option[Rec]): (DataFrame, DataFrame) = {
    def span[T](name: String)(body: => T): T = rec.fold(body)(_.span("item", name)(body))
    val posts = spark.read.parquet(s"$dir/posts.parquet")
    val comments = spark.read.parquet(s"$dir/comments.parquet")
    val out = span("analyze")(RedditProcessor.analyze(spark, posts, comments, batchId))
    span("materialize") {
      noop(out._1)
      out._2.collect()
    }
    out
  }

  def warmUp(spark: SparkSession): Unit = job(spark, c.warm, "warm", None)

  def unit(spark: SparkSession, u: Int, tracer: Option[Tracer], rec: Rec): (Double, Double) = {
    val t0 = Clock.ms
    last = job(spark, c.inputs, s"bench_$u", Some(rec))
    val t1 = Clock.ms
    rec.ops += Json.Obj("name" -> "job", "unit" -> u, "ms" -> (t1 - t0), "ok" -> true)
    (t0, t1)
  }

  def finish(spark: SparkSession, traced: Boolean, rec: Rec): Unit = if (last != null) {
    val (analysis, topics) = last
    val rows = analysis.select("id", "created_utc", "subreddit", "score", "text",
      "sentiment_score", "sentiment").collect()
    val mislabeled = rows.count { r =>
      val s = r.getDouble(5)
      val want = if (s > 0.05) "positive" else if (s < -0.05) "negative" else "neutral"
      r.getString(6) != want
    }
    val t = topics.collect()
    rec.checks("nlp") = Json.Obj(
      "rows" -> rows.length, "fp" -> rows.map(RowHash(_)).sum.toString,
      "mislabeled" -> mislabeled, "topics" -> t.length,
      "words_per_topic" -> t.map(_.getAs[String]("topic_name").split(": ", 2)
        .lift(1).map(_.split(" ").length).getOrElse(0)).toSeq)
    if (traced) {
      // functions layer: the clean + VADER expressions alone, timed over
      // the same corpus text analyze sees.
      val posts = spark.read.parquet(s"${c.inputs}/posts.parquet")
      val comments = spark.read.parquet(s"${c.inputs}/comments.parquet")
      val text = posts.select(concat_ws(" ", col("title"), col("selftext")).as("t"))
        .unionByName(comments.select(col("body").as("t")))
      graft.plans.VaderExpr.register(spark)
      val t0 = Clock.ms
      noop(text.select(graft.plans.VaderExpr.vaderCompound(graft.functions.TextClean.clean(col("t")))))
      rec.layer("functions.clean_vader_ms") = Clock.ms - t0
    }
  }
}

/** Host-noise readings: machine-wide steal from /proc/stat, the JVM's own
  * CPU time, the load average. */
object Host {
  /** Machine-wide hypervisor steal so far (field 8 of /proc/stat's cpu
    * line, in 10 ms jiffies), in ms; -1 where unavailable. */
  def stealMs(): Long = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+")(8).toLong * 10L finally src.close()
  }.getOrElse(-1L)

  def procCpuMs(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
    case _ => -1.0
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def sample(): Json.Obj = {
    val load = scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .split(" ")(0).toDouble).getOrElse(-1.0)
    Json.Obj("t" -> Clock.ms, "steal_ms" -> stealMs(), "proc_cpu_ms" -> procCpuMs(), "load1" -> load)
  }

  /** VmHWM: the process's peak resident set, in kB. */
  def peakRssKb(): Long = scala.util.Try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }.getOrElse(-1L)

  /** Bytes of cached and checkpointed blocks the session still holds. */
  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}

/** A 64-bit hash of a result row that is the same in every JVM: strings,
  * numbers, binaries, nested rows, arrays and maps (the latter order-
  * insensitively) are hashed by value, never by identity. */
object RowHash {
  private def mix(h: Long): Long = {
    var x = h
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  private def ordered(xs: Iterator[Any], seed: Long): Long =
    xs.foldLeft(seed)((h, x) => mix(h * 31 + apply(x)))

  def apply(v: Any): Long = v match {
    case null => 0x9e3779b97f4a7c15L
    case r: Row => ordered(r.toSeq.iterator, 17L)
    case b: Array[Byte] => mix(scala.util.hashing.MurmurHash3.bytesHash(b).toLong ^ (b.length.toLong << 32)) + 1
    case s: String => mix(scala.util.hashing.MurmurHash3.stringHash(s).toLong ^ (s.length.toLong << 32)) + 2
    case d: Double => mix(java.lang.Double.doubleToLongBits(d)) + 3
    case f: Float => mix(java.lang.Float.floatToIntBits(f).toLong) + 4
    case n: Long => mix(n) + 5
    case n: Int => mix(n.toLong) + 5
    case n: Short => mix(n.toLong) + 5
    case n: Byte => mix(n.toLong) + 5
    case b: Boolean => mix(if (b) 1L else 2L) + 6
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => mix(apply(k) * 31 + apply(x)) }.sum + 7
    case xs: scala.collection.Seq[_] => ordered(xs.iterator, 19L)
    case a: Array[_] => ordered(a.iterator, 19L)
    case vec: org.apache.spark.ml.linalg.Vector => ordered(vec.toArray.iterator, 23L)
    case other => apply(other.toString) + 8
  }
}
