package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated query names (dev iteration only;
    // the driver passes two args and gets the full battery).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val spark = Session.local(Session.envCores)
    new java.io.File(outDir).mkdirs()
    // A query that throws must be LOUD in the artifact, not just on stderr:
    // in round 7 forty queries vanished from the driver's CORRECTNESS file
    // with zero `err` rows because the catch below only printed. Now each
    // failure (a) leaves an `_ERROR.txt` inside the query's output dir — the
    // driver's parquet read of that dir then fails and records an explicit
    // err row — and (b) lands in a `verify_failed.json` sidecar summarizing
    // every failure with its exception signature.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val sig = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: $sig")
        failures(name) = sig
        try {
          val d = new java.io.File(s"$outDir/$name")
          // Clear any stale parquet from a previous run so the driver cannot
          // mistake old output for this run's result.
          if (d.isDirectory) d.listFiles().foreach(_.delete())
          d.mkdirs()
          Files.writeString(Paths.get(s"$outDir/$name/_ERROR.txt"), sig + "\n")
        } catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_failed.json"), failJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: " +
        failures.keys.mkString(", "))
    spark.stop()
  }
}
