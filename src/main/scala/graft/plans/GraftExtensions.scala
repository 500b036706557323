package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** `spark.sql.extensions` entry point (SURVEY.md §4 engine surface):
  * installs [[CollapseRegexpReplace]] into the operator-optimization batch,
  * where it runs to fixed point alongside Catalyst's own rules, and injects
  * every custom function into the session's function registry. Injected
  * functions are part of the session state itself (and of every
  * `newSession()`), so queries call them via `call_function` without any
  * per-query registration. [[graft.Session.local]] always installs this;
  * a caller's own session without it gets the functions from
  * [[GraftExtensions.install]] at the entry points. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => CollapseRegexpReplace)
    GraftExtensions.Functions.foreach(e.injectFunction)
  }
}

object GraftExtensions {
  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, cls: Class[_])(
      build: Seq[Expression] => Expression): FunctionDescription =
    (FunctionIdentifier(name),
      new ExpressionInfo(cls.getName, null, name, null, "", "", "", "", "", "", "built-in"),
      build)

  /** The engine's custom functions — the one list of them. */
  val Functions: Seq[FunctionDescription] = Seq(
    fn("dot_product", classOf[DotProduct])(a => DotProduct(a(0), a(1))),
    fn("inv_count", classOf[InvCount])(a => InvCount(a(0))),
    fn("topk_pairs", classOf[TopKPairs])(a => TopKPairs(a(0), a(1), a(2))),
    fn("topk_triples", classOf[TopKTriples])(a => TopKTriples(a(0), a(1), a(2), a(3))),
    fn("gramian_agg", classOf[GramianAgg])(a => GramianAgg(a(0), a(1))),
    fn("comment_tree_explode", classOf[CommentTreeExplode])(a => CommentTreeExplode(a(0))),
    fn("vader_compound", classOf[VaderCompound])(a => VaderCompound(a(0))))

  /** Registers each of [[Functions]] the session lacks — the fallback for a
    * session built without this extension, e.g. by a caller of
    * [[graft.SparkEntry]]. A no-op on a [[graft.Session.local]] session, so
    * nothing is replaced and no "replaced a registered function" WARN is
    * logged. */
  def install(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    Functions.foreach { case (id, info, build) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, build)
    }
  }
}
