package graft.geo.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

import graft.geo.index.S2Cell
import graft.geo.sql.{GeomAccess, S2CellExpr, StaticCall}

/** The one genuinely custom Catalyst rewrite (SURVEY.md §4): a
  * `Filter(st_contains(geom, lng, lat))` with a CONSTANT geometry gains a
  * conjoined cell prefilter
  *
  *   s2_cell(lng, lat, L) IN (cover(geom, L))  AND  st_contains(...)
  *
  * The InSet over the int64 cell id is cheap, codegen-friendly, and — when
  * the table stores/sorts that cell column — prunable via parquet min-max,
  * so the exact ray-cast runs on candidates only. Semantically a no-op:
  * covers are sound supersets (IndexSpec), so the conjunction never drops a
  * contained point.
  *
  * Optimizer rules run after `ReplaceExpressions`, so the rule matches the
  * functions by their replacement calls: st_contains is
  * `GeomAccess.contains(geom, lng, lat)` and the prefilter it adds is
  * `S2CellExpr(...).replacement`, an `S2Cell.cellId` call.
  */
object PipPrefilterRule extends Rule[LogicalPlan] {

  private val MaxCoverCells = 64

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) if !hasCellPrefilter(cond) =>
      var changed = false
      val rewritten = cond.transformUp {
        case sc if StaticCall.isCall(sc, GeomAccess, "contains") && sc.children.head.foldable =>
          val Seq(geom, lng, lat) = sc.children
          prefilterFor(geom, lng, lat) match {
            case Some(pre) => changed = true; And(pre, sc)
            case None      => sc
          }
      }
      if (changed) Filter(rewritten, child) else f
  }

  /** Idempotence guard: skip filters that already carry an s2_cell InSet. */
  private def hasCellPrefilter(cond: Expression): Boolean =
    cond.exists {
      case InSet(c, _) => StaticCall.isCall(c, S2Cell, "cellId")
      case In(c, _)    => StaticCall.isCall(c, S2Cell, "cellId")
      case _           => false
    }

  private def prefilterFor(geom: Expression, lng: Expression, lat: Expression): Option[Expression] =
    try {
      val row = geom.eval(null).asInstanceOf[InternalRow]
      if (row == null) return None
      val boxes = GeomAccess.wrappedBoxes(row)
      if (boxes.isEmpty) return None
      // coarsest level suggested by any box, lowered until the cover is small
      var level = boxes.map(b => S2Cell.levelForBox(b(0), b(1), b(2), b(3))).min
      var cover = coverAll(boxes, level)
      while (cover.size > MaxCoverCells && level > 0) {
        level -= 1
        cover = coverAll(boxes, level)
      }
      if (cover.isEmpty) None
      else Some(InSet(S2CellExpr(lng, lat, Literal(level, IntegerType)).replacement,
        cover.map(java.lang.Long.valueOf(_): Any)))
    } catch { case _: Exception => None }

  private def coverAll(boxes: Array[Array[Double]], level: Int): Set[Long] =
    boxes.flatMap(b => S2Cell.coverBox(b(0), b(1), b(2), b(3), level)).toSet

  /** Install into an existing session (extensions path: GeoExtensions). */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
}
