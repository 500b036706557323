package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM-wide — Spark startup is the
  * dominant test cost). */
object SparkTestBase {
  lazy val spark: SparkSession = Session.local(4)
}
