package graft.plans

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** Recursive comment-tree flatten (SURVEY.md §2.1 S2 / §2.9 D3): a custom
  * Catalyst `Generator` that turns ONE JSON-encoded comment tree of
  * arbitrary depth into one output row per node — the distributed analog of
  * the reference's `submission.comments.replace_more()` + `.list()`
  * arbitrary-depth forest flatten (reddit_harvester_aus.py:60-63).
  *
  * Spark's `StructType` cannot be self-referential, so an arbitrary-depth
  * tree cannot be a typed nested column; the tree travels as its JSON wire
  * form (exactly how the reference's queue payloads carry it) and the
  * generator walks it with an explicit stack (no recursion limit, no
  * driver involvement — each tree is flattened where its row lives).
  *
  * Emits (id, parent_id, depth, score); `parent_id` is null for the root.
  * Nodes missing an `id` and non-array `replies` fields are skipped — the
  * malformed-payload guard (F3/F4) applied per node.
  */
case class CommentTreeExplode(child: Expression)
  extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("parent_id", LongType, nullable = true),
    StructField("depth", IntegerType, nullable = false),
    StructField("score", LongType, nullable = true)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val raw = child.eval(input)
    if (raw == null) return Nil
    val root =
      try CommentTreeExplode.Mapper.readTree(raw.toString)
      catch { case _: Exception => return Nil } // malformed tree: skip (F4)
    val out = mutable.ArrayBuffer.empty[InternalRow]
    // explicit stack: depth is unbounded, the JVM call stack is not
    val stack = mutable.Stack[(JsonNode, Any, Int)]((root, null, 0))
    while (stack.nonEmpty) {
      val (node, parentId, depth) = stack.pop()
      if (node != null && node.hasNonNull("id")) {
        val id = node.get("id").asLong()
        val score: Any =
          if (node.hasNonNull("score")) Long.box(node.get("score").asLong()) else null
        out += InternalRow(id, parentId, depth, score)
        val replies = node.get("replies")
        if (replies != null && replies.isArray)
          replies.elements().asScala.foreach(ch => stack.push((ch, Long.box(id), depth + 1)))
      }
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): CommentTreeExplode =
    copy(child = newChild)

  override def prettyName: String = "comment_tree_explode"
}

object CommentTreeExplode {
  /** Shared, thread-safe for readTree. */
  private val Mapper = new ObjectMapper

  /** Column API: requires a session built with `GraftExtensions`. */
  def commentTreeExplode(c: Column): Column =
    org.apache.spark.sql.functions.call_function("comment_tree_explode", c)
}
