package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a session: every main and the test suites go
  * through [[local]], so their settings cannot drift apart. Per-run tuning
  * that is a runtime SQL conf (e.g. the state-store provider) is set on the
  * returned session with `spark.conf.set`. */
object Session {

  /** `SPARK_GRAFT_CPUS` if set, else every available processor. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // Sort-based shuffle writer for every shuffle (fewer, larger
      // blocks): below the default threshold of 200 reducers the
      // bypass-merge writer opens one file per reduce partition per map
      // task — a 32×32 shuffle creates >1k files, and thread dumps showed
      // task threads in FileOutputStream.open plus a lock convoy on
      // IndexShuffleBlockResolver. Threshold 0 selects the writer any
      // at-scale (>200 reducer) shuffle uses anyway. Measured: a tiny
      // 32-partition groupBy went 0.8 s / 12 core-s → 0.3 s / 3 core-s.
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", classOf[plans.GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
