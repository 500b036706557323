package graft

import graft.plans.CommentTreeExplode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The recursive comment-tree Generator: arbitrary depth, bushy forests,
  * malformed-node guards — the properties the 4-level oracle fixture
  * (s2_tree_flatten) can't exercise. */
class CommentTreeSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def flatten(json: String) = {
    import spark.implicits._
    Seq(json).toDF("tree")
      .select(CommentTreeExplode.commentTreeExplode(col("tree"))
        .as(Seq("id", "parent_id", "depth", "score")))
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1), r.getInt(2)))
      .sortBy(_._1)
  }

  test("chain of depth 50 flattens without recursion limits") {
    val json = (49 to 0 by -1).foldLeft("") { (inner, i) =>
      s"""{"id":$i,"score":1,"replies":[$inner]}"""
    }
    val rows = flatten(json)
    assert(rows.length == 50)
    assert(rows.map(_._3).toSeq == (0 until 50))
    assert(rows.head == ((0L, -1L, 0)))      // root has null parent
    assert(rows.last == ((49L, 48L, 49)))    // deepest child
  }

  test("bushy tree: every node keeps its own parent and depth") {
    val json =
      """{"id":1,"score":10,"replies":[
        |  {"id":2,"score":20,"replies":[{"id":4,"score":40,"replies":[]},
        |                                {"id":5,"score":50,"replies":[]}]},
        |  {"id":3,"score":30,"replies":[]}]}""".stripMargin
    assert(flatten(json).toSeq == Seq(
      (1L, -1L, 0), (2L, 1L, 1), (3L, 1L, 1), (4L, 2L, 2), (5L, 2L, 2)))
  }

  test("malformed nodes and trees are skipped, not fatal") {
    assert(flatten("not json at all").isEmpty)
    assert(flatten("""{"noid":true,"replies":[{"id":9}]}""").isEmpty)
    // a valid node whose replies holds one id-less child: child skipped
    assert(flatten("""{"id":1,"replies":[{"oops":2}]}""").toSeq == Seq((1L, -1L, 0)))
    // missing score stays null, row still emitted
    val r = flatten("""{"id":7,"replies":[]}""")
    assert(r.toSeq == Seq((7L, -1L, 0)))
  }
}
