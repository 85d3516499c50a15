package graft.plans

import graft.functions.{StGeomIntersects, StIntersects}
import graft.tools.SpatialJoin
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftbridge.Bridge

/**
 * Optimizer rule planning spatial joins automatically: a
 * `Join(left, right, condition = st_intersects(pointAttr, geomAttr))`
 * — which Catalyst would otherwise execute as a BroadcastNestedLoopJoin
 * (O(n*m) comparisons) — is rewritten into the grid-cell HASH equi-join
 * + exact-refine plan of [[SpatialJoin.gridInner]] (SURVEY §3.2's
 * target plan; the automatic version of the reference's index-
 * accelerated sjoin, tools/sjoin.py:97-133). A
 * `st_geom_intersects(aAttr, bAttr)` condition (any kind pair) is
 * planned the same way through [[SpatialJoin.geomGridInner]], with both
 * sides cell-exploded and pairs deduped by reference cell.
 *
 * JOIN TYPES: the point arm plans Inner, LeftOuter/LeftSemi/LeftAnti
 * (point side on the left — the probing/preserved side) and RightOuter
 * (point side on the right; planned as the reordered LeftOuter) — the
 * SQL-surface twins of the reference's `sjoin(how=...)`
 * (tools/sjoin.py:26-94). The non-inner variants go through
 * [[SpatialJoin.gridPointJoin]], which folds the exact predicate (and
 * any residual conjunct) INTO the join condition: a point keys exactly
 * one grid cell, so outer/semi/anti multiplicity is exact with no key
 * column. A preserved GEOMETRY side (e.g. LeftOuter with the point on
 * the right) has no keyless grid shape — the geometry side explodes —
 * so those fall through to Catalyst's BNLJ, which remains correct.
 * The geometry×geometry arm plans Inner only.
 *
 * The grid cell edge length comes from [[SpatialJoin.cellSizeFor]],
 * the resolver the API joins use too: `spark.graft.sjoin.cellSize`
 * (data units) when set — any value is correct, it only shifts the
 * candidate-blowup / selectivity balance — else 2x the median bbox
 * edge of the geometry (build) side, one approxQuantile pass
 * ([[SpatialJoin.autoCellSize]]), so a 100x scale-up with different
 * geometry extents needs no manual retuning. (For geometry×geometry
 * joins the API takes the max over both sides; the rule sizes from
 * the build side alone.) The pass is a BATCH action, so a STREAMING
 * geometry side with no explicit cellSize conf is left untouched.
 * Extra conjuncts in the join condition are preserved (as a residual
 * filter for inner, inside the join condition for the outer
 * variants); non-attribute operands fall through untouched (BNLJ
 * remains the correct fallback).
 *
 * The rule holds no state. What its planning-time passes learn (cell
 * size, hot cells, small-input verdicts) lives in the session's
 * [[SpatialJoin.plannerState]], keyed on the canonicalized side plan,
 * for as long as the session lives: a side planned again by the
 * fixed-point optimizer, by another action on the same DataFrame or by
 * a later query of the session skips the pass. That matters because
 * a session built with GraftExtensions hands every optimizer run a
 * fresh rule instance. The cached values change speed only, never
 * results.
 *
 * Skew: `spark.graft.sjoin.salt` > 1 salts the grid keys on both
 * arms; `spark.graft.sjoin.adaptiveSalt=true` additionally runs
 * hot-cell detection (one counting pass per distinct probe-side plan
 * in the session) and salts ONLY the dense cells — the planner twin of
 * `pointInGeom(adaptiveSalt = true)` / `geomJoin(adaptiveSalt =
 * true)`, with the same small-input gate
 * (`spark.graft.sjoin.adaptiveSalt.minBytes`). The gate is HONEST on
 * derived (non-scan) probe sides: plan byte stats over-count there
 * (products of children), so the rule falls back to CBO rowCount when
 * available and otherwise a bounded row probe
 * ([[SpatialJoin.smallInputSide]]), kept like detection. Streaming
 * probe sides skip detection (blanket salt) — plan-time batch jobs
 * are illegal there.
 */
case class SpatialJoinRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  private def salt: Int =
    spark.conf.get("spark.graft.sjoin.salt", "1").toInt

  private def state = SpatialJoin.plannerState(spark)

  /** The honest small-input gate, planner side: stats verdicts
    * (rowCount / definitive small bytes / honest scan bytes) are
    * computed directly on the mid-optimization plan; only the bounded
    * row probe materializes a DataFrame, and its verdict is kept per
    * canonicalized plan for the session. */
  private def smallFor(side: LogicalPlan): Boolean = {
    val minBytes = SpatialJoin.adaptiveMinBytes(spark)
    if (minBytes <= 0) false
    else {
      val minRows = SpatialJoin.adaptiveMinRows(spark)
      SpatialJoin.smallPlanVerdict(side, minBytes, minRows).getOrElse {
        val canon = side.canonicalized
        val key = (canon.semanticHash(), canon.schema.catalogString, minRows)
        state.smallVerdicts.getOrCompute(key)(java.lang.Boolean.valueOf(
          SpatialJoin.probeSmall(Bridge.ofRows(spark, side), minRows))).booleanValue()
      }
    }
  }

  private def adaptiveEnabled: Boolean =
    spark.conf.get("spark.graft.sjoin.adaptiveSalt", "false").toBoolean

  private def detectCached(kind: String, side: LogicalPlan, cellSize: Double,
                           run: org.apache.spark.sql.DataFrame => Option[Seq[(Long, Long)]])
      : Option[Seq[(Long, Long)]] = {
    // every conf the detection depends on is part of the key; the
    // detection job's own planning re-enters this rule, but its plan
    // carries no spatial join, so it cannot recurse into detection
    val canon = side.canonicalized
    val key = (kind, canon.semanticHash(), canon.schema.catalogString,
      java.lang.Double.doubleToLongBits(cellSize),
      spark.conf.get("spark.graft.sjoin.hotCellFactor", "2.0"),
      spark.conf.get("spark.sql.shuffle.partitions", "200"))
    state.hotCells.getOrCompute(key)(run(Bridge.ofRows(spark, side)))
  }

  /** Planner twin of the API paths' adaptive-salt engage logic, one
    * function for both arms: `spark.graft.sjoin.adaptiveSalt=true`
    * (with salt > 1) detects hot cells once per distinct probe-side
    * plan (`kind` separates the point detector from the exploded-cell
    * geometry detector) and salts only those; small probe sides
    * (honest verdict — [[smallFor]]) skip the counting pass and keep
    * blanket salting, and a STREAMING probe side does too (detection
    * and the probe are batch actions — illegal at plan time of a
    * streaming query). The detected→(salt, hot) mapping is
    * [[SpatialJoin.mapDetected]] — the single shared copy, so the
    * planner and API semantics cannot drift. */
  private def adaptiveSaltFor(side: LogicalPlan, kind: String,
                              cellSize: Double, s: Int,
                              detect: org.apache.spark.sql.DataFrame => Option[Seq[(Long, Long)]])
      : (Int, Option[Seq[(Long, Long)]]) =
    if (s <= 1 || !adaptiveEnabled) (s, None)
    else if (side.isStreaming) (s, None)
    else if (smallFor(side)) (s, None)
    else SpatialJoin.mapDetected(s, detectCached(kind, side, cellSize, detect))

  private def adaptiveFor(ptSide: LogicalPlan, pointAttr: AttributeReference,
                          cellSize: Double, s: Int): (Int, Option[Seq[(Long, Long)]]) =
    adaptiveSaltFor(ptSide, "pt", cellSize, s,
      df => SpatialJoin.detectHotCells(df, Bridge.column(pointAttr), cellSize))

  private def adaptiveGeomFor(aSide: LogicalPlan, aAttr: AttributeReference,
                              cellSize: Double, s: Int): (Int, Option[Seq[(Long, Long)]]) =
    adaptiveSaltFor(aSide, "geom", cellSize, s,
      df => SpatialJoin.detectHotGeomCells(df, Bridge.column(aAttr), cellSize))

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  /** Join types the point arm can plan. */
  private def pointArmType(jt: JoinType): Boolean = jt match {
    case Inner | LeftOuter | RightOuter | LeftSemi | LeftAnti => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(l, r, Inner, Some(cond), _)
        if conjuncts(cond).exists {
          case StGeomIntersects(_: AttributeReference, _: AttributeReference, _, _) => true
          case _ => false
        } =>
      // geometry x geometry predicate -> dual-side grid join with
      // reference-cell dedup (SpatialJoin.geomGridInner); same guards
      // and residual handling as the point-in-geom arm below
      val parts = conjuncts(cond)
      val (sg, a, b) = parts.collectFirst {
        case e @ StGeomIntersects(x: AttributeReference, y: AttributeReference, _, _) =>
          (e, x, y)
      }.get
      val rest = parts.filterNot(_ eq sg)
      val hasEquiKeys = rest.exists {
        case EqualTo(x, y) =>
          (x.references.subsetOf(l.outputSet) && y.references.subsetOf(r.outputSet)) ||
          (x.references.subsetOf(r.outputSet) && y.references.subsetOf(l.outputSet))
        case _ => false
      }
      val hasTempCols = (l.output ++ r.output).exists(attr =>
        SpatialJoin.ReservedGeomGridCols.contains(attr.name))
      // (side holding a, side holding b, kinds in that order)
      val sides =
        if (hasEquiKeys || hasTempCols) None
        else if (l.outputSet.contains(a) && r.outputSet.contains(b))
          Some((l, r, sg.leftKind, sg.rightKind, a, b))
        else if (r.outputSet.contains(a) && l.outputSet.contains(b))
          Some((r, l, sg.leftKind, sg.rightKind, a, b))
        else None
      sides match {
        // autoCellSize is a plan-time batch job — a streaming build
        // side with no explicit cellSize conf cannot be rewritten
        case Some((_, bSide, _, _, _, _))
            if SpatialJoin.confCellSize(spark).isEmpty && bSide.isStreaming => j
        case Some((aSide, bSide, aKind, bKind, aAttr, bAttr)) =>
          val cs = SpatialJoin.cellSizeFor(spark, bSide, bAttr)
          val (effSalt, hot) = adaptiveGeomFor(aSide, aAttr, cs, salt)
          val joined = SpatialJoin.geomGridInner(
            Bridge.ofRows(spark, aSide), Bridge.ofRows(spark, bSide),
            Bridge.column(aAttr), aKind, Bridge.column(bAttr), bKind,
            cs, effSalt, hot)
          val rewritten = joined.queryExecution.analyzed
          val filtered =
            if (rest.isEmpty) rewritten
            else Filter(rest.reduce(And), rewritten)
          Project(j.output, filtered)
        case None => j
      }

    case j @ Join(l, r, jt, Some(cond), _) if pointArmType(jt) =>
      val parts = conjuncts(cond)
      parts.collectFirst {
        case si @ StIntersects(p: AttributeReference, g: AttributeReference, _) => (si, p, g)
      } match {
        case Some((si, p, g)) =>
          val rest = parts.filterNot(_ eq si)
          // Only rewrite PURE spatial theta joins. If the condition also
          // carries cross-side equi-keys, Catalyst already hash-joins on
          // them — and, crucially, our OWN output can reappear here
          // (PushDownPredicates merges the exact-refine filter back into
          // the grid equi-join), so rewriting again would corrupt the
          // __cx/__cy keys.
          val hasEquiKeys = rest.exists {
            case EqualTo(a, b) =>
              (a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet)) ||
              (a.references.subsetOf(r.outputSet) && b.references.subsetOf(l.outputSet))
            case _ => false
          }
          val hasTempCols = (l.output ++ r.output).exists(a =>
            SpatialJoin.ReservedGridOuterCols.contains(a.name))
          val ptOnLeft = l.outputSet.contains(p) && r.outputSet.contains(g)
          val ptOnRight = r.outputSet.contains(p) && l.outputSet.contains(g)
          // (point side, geometry side) — for the non-inner types the
          // point side must be the PRESERVED/probing side: LeftOuter/
          // LeftSemi/LeftAnti with the point on the left, RightOuter
          // with the point on the right (planned as the reordered
          // LeftOuter). A preserved geometry side falls through (it
          // cell-explodes, so no keyless outer shape exists).
          val sides: Option[(LogicalPlan, LogicalPlan)] =
            if (hasEquiKeys || hasTempCols) None
            else jt match {
              case Inner =>
                if (ptOnLeft) Some((l, r))
                else if (ptOnRight) Some((r, l))
                else None
              case LeftOuter | LeftSemi | LeftAnti =>
                if (ptOnLeft) Some((l, r)) else None
              case RightOuter =>
                if (ptOnRight) Some((r, l)) else None
              case _ => None
            }
          sides match {
            case Some((_, gmSide))
                if SpatialJoin.confCellSize(spark).isEmpty && gmSide.isStreaming => j
            case Some((ptSide, gmSide)) =>
              val cs = SpatialJoin.cellSizeFor(spark, gmSide, g)
              val (effSalt, hot) = adaptiveFor(ptSide, p, cs, salt)
              val rewritten = jt match {
                case Inner =>
                  val joined = SpatialJoin.gridInner(
                    Bridge.ofRows(spark, ptSide), Bridge.ofRows(spark, gmSide),
                    Bridge.column(p), Bridge.column(g),
                    si.rightKind, cs, effSalt, hot)
                  // child plans are embedded as-is, so every original
                  // attribute (exprId included) survives; restore the
                  // join's output order with a final Project
                  val inner = joined.queryExecution.analyzed
                  if (rest.isEmpty) inner else Filter(rest.reduce(And), inner)
                case _ =>
                  // outer/semi/anti: residual conjuncts belong INSIDE
                  // the join condition (a post-filter would drop
                  // preserved rows / flip membership verdicts)
                  val residual =
                    if (rest.isEmpty) None
                    else Some(Bridge.column(rest.reduce(And)))
                  val joinTypeStr = jt match {
                    case LeftSemi => "left_semi"
                    case LeftAnti => "left_anti"
                    case _ => "left"
                  }
                  SpatialJoin.gridPointJoin(
                    Bridge.ofRows(spark, ptSide), Bridge.ofRows(spark, gmSide),
                    Bridge.column(p), Bridge.column(g), si.rightKind, cs,
                    joinTypeStr, residual, effSalt, hot)
                    .queryExecution.analyzed
              }
              Project(j.output, rewritten)
            case None => j
          }
        case None => j
      }
  }
}

object SpatialJoinRewrite {
  /** Install on an existing session (tests / interactive use); new
    * sessions get it via `spark.sql.extensions=graft.plans.GraftExtensions`. */
  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[SpatialJoinRewrite]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ SpatialJoinRewrite(spark)
  }
}
