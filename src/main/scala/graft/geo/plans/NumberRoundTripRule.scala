package graft.geo.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Folds a whole number printed behind a literal prefix and parsed straight
  * back into the number itself:
  *
  *   cast(substring(concat(p, cast(x as string)), len(p) + 1, L) as bigint)
  *     →  cast(x as bigint)
  *
  * for a string literal `p`, an integral (byte, short, int or long) `x` and
  * `L >= 20` or the 2-argument `substring` (a long prints in at most 20
  * characters, so the substring is the whole printed number). Exact: the
  * parse of an integer's decimal text is that integer, and a null `x` is
  * null on both sides.
  *
  * Two forms are rewritten:
  *   - inline, anywhere in an expression;
  *   - across one Project boundary: the parse sits in a Project whose child
  *     Project defines the printed string as an alias over an attribute `x`
  *     of the grandchild. The parse then reads `x`, which the child Project
  *     additionally passes through; that Project is otherwise unchanged.
  *
  * `ImageGen.table` keys its rows as `concat('img_', cast(id as string))`
  * and `ImageGen.withLngLat` parses the id back from that string, so without
  * this rule every row pays the print and the parse. With it, lng/lat come
  * from the numeric id, and whole-stage codegen prints `image_id` only for
  * the rows a consumer actually reads (the flagship keeps ~7k of 3M).
  */
object NumberRoundTripRule extends Rule[LogicalPlan] {

  /** A long prints in at most this many characters ("-9223372036854775808"). */
  private val MaxLongChars = 20

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(list, child @ Project(childList, grandchild)) =>
      // alias exprId -> (prefix length, x) for each printed alias of the child
      val printed = childList.collect {
        case a @ Alias(Printed(prefixLen, x: Attribute), _) if grandchild.outputSet.contains(x) =>
          a.exprId -> (prefixLen, x)
      }.toMap
      val passed = scala.collection.mutable.LinkedHashSet.empty[Attribute]
      val rewritten = list.map(_.transformUp {
        case e @ Parsed(a: Attribute, pos) => printed.get(a.exprId) match {
          case Some((prefixLen, x)) if pos == prefixLen + 1 => passed += x; toLong(x)
          case _                                            => e
        }
      }.asInstanceOf[NamedExpression])
      val newChild =
        if (passed.isEmpty) child
        else Project(childList ++ passed.filterNot(child.outputSet.contains), grandchild)
      foldInline(p.copy(projectList = rewritten, child = newChild))
    case other => foldInline(other)
  }

  private def foldInline(plan: LogicalPlan): LogicalPlan = plan.transformExpressions {
    case e @ Parsed(Printed(prefixLen, x), pos) => if (pos == prefixLen + 1) toLong(x) else e
  }

  private def toLong(x: Expression): Expression =
    if (x.dataType == LongType) x else Cast(x, LongType)

  /** `concat(p, cast(x as string))` with a string literal `p` and an
    * integral `x` → (the character length of `p`, x). */
  private object Printed {
    def unapply(e: Expression): Option[(Int, Expression)] = e match {
      case Concat(Seq(Literal(p: UTF8String, _: StringType), Cast(x, _: StringType, _, _)))
          if isIntegral(x.dataType) => Some((p.numChars, x))
      case _ => None
    }
  }

  /** `cast(substring(s, pos, L) as bigint)` with a constant `pos` and
    * `L >= 20` → (s, pos). The 2-argument `substring` has L = Int.MaxValue. */
  private object Parsed {
    def unapply(e: Expression): Option[(Expression, Int)] = e match {
      case Cast(Substring(s, IntegerLiteral(pos), IntegerLiteral(len)), LongType, _, _)
          if len >= MaxLongChars => Some((s, pos))
      case _ => None
    }
  }

  private def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _                                             => false
  }

  /** Installs the rule into a session (idempotent). */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
}
