package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RegExpReplace}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Optimizer rule: fuse adjacent delete-only `regexp_replace` calls into a
  * single alternation pass.
  *
  * The D2 text cleaner ([[graft.functions.TextClean.clean]], SURVEY.md §2.8
  * X1–X5) emits a 4-deep `regexp_replace` chain; each layer is a full scan
  * (and a full copy) of every document. Fusing two layers halves that work
  * for the fused pair — at 100 TB of corpus text the cleaner is pure
  * per-byte CPU, so scans saved are wall-clock saved.
  *
  * Soundness. `replace(replace(s, p1, ""), p2, "")` equals
  * `replace(s, "(?:p1)|(?:p2)", "")` ONLY under conditions this rule checks
  * for; sequential deletion is not alternation in general (the second pass
  * scans a *modified* string — deleting `'` from `don't` first lets a later
  * `\bdont\b` match, which a single pass never sees). The fusion is exact
  * when the OUTER pattern `p2` is an assertion-free single-character
  * bracket class, because then:
  *  - regex matching works over the original string in the fused pass, and
  *    a 1-char class match has no context: it cannot span a deletion
  *    boundary, cannot be created or destroyed by `p1`'s deletions, and
  *    carries no `\b`/lookaround that deletions could flip;
  *  - the fused scan attempts `p1` at exactly the positions the `p1`-only
  *    scan does (alternation tries `p1` first; a `p2` hit consumes one char
  *    and resumes at the next position — the same advancement as a failed
  *    attempt), so the `p1` match set is unchanged;
  *  - every char surviving `p1` and belonging to the class is deleted by
  *    either form (class membership is per-char, context-free).
  * Inline flags like `(?i)` stay scoped: each side is wrapped in its own
  * non-capturing group.
  *
  * On `x_clean_text`'s plan the rule fires exactly once — URL-strip +
  * punctuation-strip fuse; the stop-phrase layer (`\b` assertions) and the
  * whitespace layer (replacement `" "`, not a deletion) correctly refuse.
  * RegexCollapseSpec pins the plan shape, equivalence against a driver-side
  * sequential reference, and the refusal cases.
  */
object CollapseRegexpReplace extends Rule[LogicalPlan] {

  /** `[...]` with contents of raw chars / escape pairs only — matches
    * exactly one input char, no assertions. Conservative on purpose:
    * negated classes (`[^...]`) are also 1-char but are excluded to keep
    * the audit trivial ('deletes listed chars' is the only shape the
    * codebase emits). */
  private val SingleCharClass =
    java.util.regex.Pattern.compile("""\[(?:[^\[\]\\^]|\\.)(?:[^\[\]\\]|\\.)*\]""")

  private object Str {
    def unapply(e: Expression): Option[String] = e match {
      case Literal(s: UTF8String, _: StringType) => Some(s.toString)
      case _ => None
    }
  }

  private def lit(s: String): Literal =
    Literal(UTF8String.fromString(s), StringType)

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case RegExpReplace(
            RegExpReplace(child, Str(p1), Str(r1), Literal(1, _)),
            Str(p2), Str(r2), Literal(1, _))
          if r1.isEmpty && r2.isEmpty &&
            SingleCharClass.matcher(p2).matches() =>
        RegExpReplace(child, lit(s"(?:$p1)|(?:$p2)"), lit(""), Literal(1))
    }
}
