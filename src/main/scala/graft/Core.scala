package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loaders + exact-arithmetic helpers shared by every operator.
  *
  * Design notes for scale (local[32] here, 1000-executor cluster in spirit):
  *  - All loaders are plain parquet scans so Catalyst pushes filters and
  *    prunes columns into the file source (`PushedFilters`/`ReadSchema`).
  *  - Money/metric aggregations go through DECIMAL(18,2) before SUM so the
  *    result is independent of partitioning / accumulation order — the same
  *    query yields bit-identical results on 1 partition or 10,000. That is
  *    both a correctness-gate requirement (DuckDB oracle hash-match) and a
  *    reproducibility property a production pipeline wants anyway.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Reader confs applied before EVERY table read — not just events — so
    * reader semantics are identical for any load order (a conf flipped only
    * on the events branch would make another table's timestamp columns
    * change type depending on whether events loaded first).
    *
    * Why these two (and why session confs at all — neither is exposed as a
    * DataFrameReader option in Spark 4, verified against ParquetOptions):
    *  - nanosAsLong=true: the driver has shipped events.parquet with
    *    TIMESTAMP(NANOS) in some regenerations, which the reader otherwise
    *    rejects; as INT64 we truncate ns→µs ourselves, matching DuckDB.
    *  - inferTimestampNTZ=false: non-UTC-adjusted MICROS surface as plain
    *    TimestampType (the pre-3.4 mapping) instead of TIMESTAMP_NTZ —
    *    same instants under the UTC session but pushdown-friendly: a
    *    `cast(ts AS timestamp)` wrapper would block every time predicate
    *    from reaching the parquet scan (PushedFilters: [] — at 100 TB
    *    that is a full scan per window query).
    *
    * These are NOT no-ops outside events — orders' o_orderdate is
    * NTZ-encoded, so an events-only flip would have made its Spark type
    * depend on load order. Applying the confs before every read makes the
    * loader view deterministic; TestdataContractSpec pins that no
    * NTZ/nano-long column ever surfaces through Tables.load.
    */
  private def ensureReaderConfs(spark: SparkSession): Unit = {
    if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true") != "false")
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    ensureReaderConfs(spark)
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") {
      // Branch on the schema the reader actually produces so a testdata
      // regeneration can never break the loader; every branch lands on
      // TimestampType micros with identical instants under the UTC
      // session TZ (the ns→µs truncation matches the DuckDB oracle). The
      // NTZ cast branch is a fallback for frames read before the conf
      // existed.
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      df.schema.find(_.name == "ts").map(_.dataType) match {
        case Some(LongType) =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case Some(TimestampNTZType) =>
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df // already TimestampType (or absent): pass through
      }
    } else df
  }
}

/** Scale-adaptive parallelism helpers (optimization guide §2.5 "input
  * skew": one huge unsplittable file — fix at the source if you can,
  * otherwise repartition immediately after the read).
  *
  * The driver's parquet inputs are single-file, SINGLE-ROW-GROUP tables
  * (verified with pyarrow on every sf dir), and a parquet row group is
  * unsplittable: whatever `maxPartitionBytes`/`openCostInBytes` say, one
  * scan task reads the whole table and every expensive map-side chain
  * (shingle md5s, image codecs, vector math) serializes on one core of
  * `local[32]`. [[spread]] inserts a round-robin repartition to the
  * cluster's default parallelism ONLY when both of:
  *  - the optimizer's size estimate says the whole input is small —
  *    under SpreadBytesPerCore per core slot — so the added exchange
  *    moves a few MB once, and
  *  - the physical scan yields fewer partitions than the cluster has
  *    cores, i.e. the scan cannot fill the machine by itself.
  * At production scale (TB-scale tables, many files/row groups) the scan
  * partition count exceeds the core count and this is a NO-OP — no code
  * path here ever repartitions fact-scale data. The round-robin is
  * deterministic (sortBeforeRepartition, SPARK-23207) and every
  * downstream aggregation in this codebase is order-independent by the
  * decimal-exactness rules in [[Tables]], so results are bit-identical
  * with and without the spread (oracle-gated per query).
  */
object Par {
  /** Small enough to spread: ≤ 8 MiB per core slot (a few hundred MB on
    * the 32-core bench host; far under any fact table at scale). */
  private val SpreadBytesPerCore = 8L * 1024 * 1024

  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val small = df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      BigInt(SpreadBytesPerCore) * target
    if (small && scanPartitions(df).exists(_ < target)) df.repartition(target)
    else df
  }

  /** Partition count of the frame's file scan, read off the physical plan
    * (round 17: `df.rdd.getNumPartitions` forced an RDD conversion of the
    * whole plan per call, which under AQE can materialize query stages on
    * non-trivial inputs). The FileScanRDD's partition array is computed at
    * planning time from the file listing — no job runs. Frames with no
    * file scan (never the case at the spread call sites, all direct
    * parquet loads) report None and are left alone: the input-skew case
    * spread exists for is specifically an unsplittable file scan. */
  private def scanPartitions(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val ns = plan.collect { case s: FileSourceScanExec => s.inputRDD.getNumPartitions }
    if (ns.isEmpty) None else Some(ns.max)
  }
}

object Exact {
  /** Exact 2-dp decimal view of a double column (money, quantities). */
  def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Order-independent SUM: decimal-exact accumulation, surfaced as double. */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** Integer cents of an event value, half-up: the one encoding every
    * events query aggregates (its oracle twin is
    * `CAST(floor(value * 100 + 0.5) AS BIGINT)`). */
  def cents(c: Column): Column = floor(c * 100 + lit(0.5)).cast("long")

  /** [[cents]] of one value on the JVM (the streaming twins' form), with
    * the same IEEE operations in the same order. */
  def cents(v: Double): Long = math.floor(v * 100 + 0.5).toLong

  /** Exact integer widening to DECIMAL(38,0), Spark's stand-in for
    * DuckDB's HUGEINT: power sums of cents or counts accumulate here
    * where int64 could wrap. */
  def hugeint(c: Column): Column = c.cast("decimal(38,0)")

  /** 32-bit deterministic hash of a string, as a non-negative long.
    * Same value is reproducible in ANSI SQL as
    * `('0x' || substr(md5(s), 1, 8))::UBIGINT` — used so LSH/minhash
    * pipelines are oracle-checkable across engines. */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** SQL-side rendering of [[hash32]] for the DuckDB oracle. */
  def hash32Sql(expr: String): String =
    s"CAST(('0x' || substr(md5($expr), 1, 8)) AS UBIGINT)::BIGINT"
}

/** Dense-vector building blocks shared by the retrieval, ANN, k-means and
  * near-dup queries over the embeddings table. Norms are computed once
  * per vector, not per pair, and every cosine the queries rank or compare
  * is rounded to 6 places first, so ties and cuts are engine-exact. */
object Dense {
  import graft.plans.ArrayExprs.dotProduct

  /** L2 norm of an array column. */
  def norm(v: Column): Column = sqrt(dotProduct(v, v))

  /** The embeddings table as `(vec_id, v, cols…, nrm)`: `v` is the vector
    * (the raw `embedding` column, or an expression over it) and `nrm` its
    * [[norm]]. */
  def normed(s: SparkSession, dir: String, v: Column, cols: Column*): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id") +: v.as("v") +: cols: _*)
      .withColumn("nrm", norm(col("v")))

  /** Cosine of columns `a` and `b` with norms `an` and `bn`, rounded to 6
    * places. */
  def cos(a: String, an: String, b: String, bn: String): Column =
    round(dotProduct(col(a), col(b)) / (col(an) * col(bn)), 6)
}

/** Candidate-pair building blocks shared by the near-dup, LSH,
  * co-purchase and link-prediction queries. Each turns a bucket (or a
  * neighbour set) collected into ONE array row into its pairs map-side:
  * pair output costs Σ bucket² and the chain that built the buckets runs
  * once, where a self-join would run it once per side (Spark does not
  * reuse the exchange across self-join sides). */
object Pairs {
  /** Explode of `f(x, y)` over every i < j pair of `arr`, in index order
    * (Scala's `combinations(2)`); a null or < 2-element array gives no
    * row. */
  def within(arr: Column)(f: (Column, Column) => Column): Column =
    explode(flatten(transform(arr, (x, i) =>
      transform(slice(arr, i + 2, size(arr)), y => f(x, y)))))

  /** Explode of `struct(a = ids[0], b = d)` for every later id `d`: the
    * star from a group's first member, which is its minimum when `ids` is
    * sorted. A 1-element array gives no row. */
  def star(ids: Column): Column =
    explode(transform(slice(ids, lit(2), size(ids)),
      d => struct(ids.getItem(0).as("a"), d.as("b"))))

  /** One `(id, sig, band, key)` row per band of a `bands × bandBits`-bit
    * signature column `sig`; `key` is that band's bits. */
  def bandKeys(df: DataFrame, id: String, sig: String, bands: Int,
      bandBits: Int): DataFrame = {
    val mask = (1L << bandBits) - 1
    df.select(col(id), col(sig),
        explode(array((0 until bands).map(b => struct(
          lit(b).as("band"),
          shiftright(col(sig), b * bandBits).bitwiseAND(lit(mask))
            .as("key"))): _*)).as("bk"))
      .select(col(id), col(sig), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Distinct `(out._1 < out._2, hamming)` id pairs whose signatures
    * differ in at most `maxHam` bits — the Manku/Jain/Sarma banded search.
    * Pigeonhole-exact: `maxHam` bit flips touch at most `maxHam < bands`
    * bands, so every such pair agrees exactly on at least one band, and
    * candidates are only same-(band, key) bucket pairs, verified by
    * `bit_count(xor)`. `out` names the two id columns, inside the explode
    * as well, so each caller's plan carries its own column names. */
  def hamming(df: DataFrame, id: String, sig: String, bands: Int, bandBits: Int,
      maxHam: Long, out: (String, String)): DataFrame = {
    require(maxHam < bands,
      s"Hamming bound $maxHam needs more than $bands bands to be pigeonhole-exact")
    val (a, b) = out
    bandKeys(df, id, sig, bands, bandBits)
      .groupBy("band", "key")
      .agg(sort_array(collect_list(struct(col(id), col(sig)))).as("ds"))
      .where(size(col("ds")) > 1)
      .select(within(col("ds"))((x, y) => struct(
        x.getField(id).as(a), y.getField(id).as(b),
        x.getField(sig).bitwiseXOR(y.getField(sig)).as("xr"))).as("p"))
      .select(col(s"p.$a").as(a), col(s"p.$b").as(b),
        bit_count(col("p.xr")).cast("long").as("hamming"))
      .where(col("hamming") <= maxHam)
      .distinct()
  }
}

/** A memo of one deterministic, expensive result per (session, sf dir) —
  * Dedup's component labels and Analytics' LDA fit. Keyed by session
  * identity: a fresh session must not receive a handle into a stopped
  * one's dead blocks, so bins of stopped sessions are dropped on every
  * lookup. Bins beyond `MaxBins` are evicted in the map's iteration
  * order. `release` frees what a value holds (cached blocks) when it
  * loses a fill race or is evicted; checkpoint blocks need nothing, the
  * ContextCleaner reclaims them once unreferenced. */
private[graft] final class SessionMemo[V <: AnyRef](release: V => Unit) {
  /** The memo cannot grow with the number of sf dirs a long-lived session
    * touches. */
  private val MaxBins = 4
  private val bins =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), V]()

  def apply(s: SparkSession, dir: String)(compute: => V): V = {
    bins.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val key = (s, dir)
    val hit = bins.get(key)
    if (hit != null) return hit
    // Compute OUTSIDE the map lock (computeIfAbsent would block every
    // other access on this bin for a multi-second Spark job); on a lost
    // race, release our copy and adopt the winner's.
    val computed = compute
    val prev = bins.putIfAbsent(key, computed)
    if (prev != null) { release(computed); prev }
    else {
      if (bins.size > MaxBins) {
        val it = bins.entrySet().iterator()
        while (bins.size > MaxBins && it.hasNext) {
          val e = it.next()
          if (e.getKey != key) { release(e.getValue); it.remove() }
        }
      }
      computed
    }
  }

  /** Whether (s, dir)'s value is memoized — lets Bench see which query
    * filled the memo. */
  def memoized(s: SparkSession, dir: String): Boolean = bins.containsKey((s, dir))
}
