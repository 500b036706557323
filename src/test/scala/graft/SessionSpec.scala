package graft

import java.io.File

import graft.functions.VaderSentiment
import graft.plans.{ArrayExprs, GraftExtensions, VaderExpr}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one session factory: custom functions come with the session (no
  * per-query registration), and no second way to build a session or to
  * register a function creeps back into the sources. */
class SessionSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private val Names = Seq("dot_product", "inv_count", "topk_pairs", "topk_triples",
    "gramian_agg", "comment_tree_explode", "vader_compound")

  test("all 7 custom functions resolve in the factory session and its newSession()") {
    assert(GraftExtensions.Functions.map(_._1.funcName).sorted == Names.sorted)
    for ((label, s) <- Seq("session" -> spark, "newSession" -> spark.newSession());
         n <- Names)
      assert(s.catalog.functionExists(n), s"$n does not resolve in the $label")
  }

  test("vaderCompound and dotProduct run without any register call") {
    val text = "I love this NEW espresso machine!"
    for (s <- Seq(spark, spark.newSession())) {
      val r = s.range(1).select(
        VaderExpr.vaderCompound(lit(text)).as("v"),
        ArrayExprs.dotProduct(array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0))).as("d"))
        .head()
      assert(r.getDouble(0) == VaderSentiment.compound(text))
      assert(r.getDouble(1) == 11.0)
    }
  }

  test("SparkEntry.entry returns rows on a session that lacks the custom functions") {
    // A caller's own session need not set GraftExtensions: drop the
    // functions from a fresh session's registry to stand in for one.
    val s = spark.newSession()
    val reg = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    GraftExtensions.Functions.foreach { case (id, _, _) => reg.dropFunction(id) }
    assert(Names.forall(n => !s.catalog.functionExists(n)))
    assert(SparkEntry.entry(s).count() > 0)
    for (n <- Names) assert(s.catalog.functionExists(n), s"$n was not installed")
  }

  test("session builders and function registration stay in their one place") {
    val root = Iterator.iterate(new File(sys.props("user.dir")).getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null).find(d => new File(d, "src/main/scala/graft").isDirectory)
      .getOrElse(fail("source tree not found above the working directory"))
    def scalaFiles(d: File): Seq[File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val files = Seq("src/main/scala", "src/test/scala").flatMap(p => scalaFiles(new File(root, p)))
    assert(files.exists(_.getName == "Session.scala"))
    def offenders(token: String, allowed: File => Boolean): Seq[String] =
      files.filterNot(allowed).filter { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.mkString.contains(token) finally src.close()
      }.map(_.getPath.stripPrefix(root.getPath + "/"))
    // Tokens are split so this file does not match itself.
    val builders = offenders("SparkSession" + ".builder",
      f => f.getPath.endsWith("src/main/scala/graft/Session.scala"))
    assert(builders.isEmpty, s"build sessions with graft.Session.local, not in: $builders")
    val registrations = offenders("createOrReplace" + "TempFunction",
      f => f.getParentFile.getName == "plans")
    assert(registrations.isEmpty,
      s"add custom functions to GraftExtensions.Functions, not in: $registrations")
    def testOrCore(f: File): Boolean =
      !f.getPath.contains("src/main/scala") || f.getName == "Core.scala"
    val centsSites = Seq("floor(col(\"value\")" + " * 100", "* 100 + lit" + "(0.5)")
      .flatMap(offenders(_, testOrCore)).distinct
    assert(centsSites.isEmpty, s"encode cents with Exact.cents, not in: $centsSites")
    val hugeintSites = offenders("cast(\"decimal(38,0)" + "\")", testOrCore)
    assert(hugeintSites.isEmpty, s"widen with Exact.hugeint, not in: $hugeintSites")
    val pairSites = Seq("i + 2" + ", size(", "d -> struct(ids[0]" + " AS a")
      .flatMap(offenders(_, testOrCore)).distinct
    assert(pairSites.isEmpty, s"build candidate pairs with graft.Pairs, not in: $pairSites")
    val denseSites = Seq("sqrt(dot" + "Product(", "round(dot" + "Product(")
      .flatMap(offenders(_, testOrCore)).distinct
    assert(denseSites.isEmpty, s"take norms and cosines from graft.Dense, not in: $denseSites")
    // Blocks private to one operator file: each pattern matches once there,
    // in the helper that defines the block.
    def matches(path: String, pattern: String): Int = {
      val src = scala.io.Source.fromFile(new File(root, s"src/main/scala/graft/operators/$path"), "UTF-8")
      try pattern.r.findAllMatchIn(src.mkString).size finally src.close()
    }
    val q = java.util.regex.Pattern.quote _
    val blocks = Seq(
      "Retrieval.scala" -> q("crossJoin(broadcast(q))"), // the query-0 dense run
      "Retrieval.scala" -> q("array_contains(toks("), // the query-term judgment
      "Embeddings.scala" -> q("\"vec_id\") < Cells"), // the IVF seeds
      "Embeddings.scala" -> q("orderBy(col(\"c\").desc, col(\"cell\"))"), // the seed ranking
      "Relational3.scala" -> q("crossJoin(broadcast(tys))"), // the type-pair histogram
      "Relational3.scala" -> q("withColumn(\"cuma\""), // its CDF windows
      "Graph.scala" -> """col\("pb"\)\.as\([^)]*\), col\("pa"\)\.as\(""", // the symmetrized edges
      "Graph.scala" -> q("keep.select(col(\"u\").as(\"v\"))")) // the degree trim
    val copies = blocks.map { case (f, p) => (f, p, matches(f, p)) }.filter(_._3 != 1)
    assert(copies.isEmpty, s"write each block once and call its helper; (file, pattern, count): $copies")
  }
}
