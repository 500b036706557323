package graft

/** Dev tool: drives SparkEntry.entry the way the driver does (rows>0 smoke)
  * and dumps the formatted physical plan of a named query.
  *
  * Usage: runMain graft.Smoke [queryName [sfDir]]
  *   no args        → run entry(), print row count + schema
  *   queryName      → print .explain("formatted") + row count at sf0.001
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.envCores)
    args.headOption match {
      case None =>
        val df = SparkEntry.entry(spark)
        println(s"[smoke] entry() rows=${df.count()}")
        df.printSchema()
      case Some(name) =>
        val dir = args.lift(1).getOrElse("/root/testdata/sf0.001")
        val df = SparkEntry.queries(name)(spark, dir)
        df.explain("formatted")
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[smoke] $name materialized in $dt%.2f s (rows=${df.count()})")
    }
    spark.stop()
  }
}
