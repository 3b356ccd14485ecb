package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Cast, Expression, GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Automatic incremental reads: a registry of (table path → run-id window)
  * plus an analyzer rule that injects the watermark predicate into every
  * scan of a registered table — the engine-side version of the reference
  * sed-substituting `$MIN_RUN_ID_CURRENT`/`$MAX_RUN_ID_CURRENT` into each
  * stored query (`KafkaScript_ConformToStaging.sh:135-139`): here the
  * *queries stay unmodified* and the watermark discipline is enforced
  * centrally, so no job can forget its incremental filter.
  *
  * The rule runs at analysis time, so the injected predicate flows through
  * the whole optimizer: on a run-partitioned layer table
  * (graft.pipeline.Pipeline.writeRun) it becomes partition pruning — the
  * 100 TB table contributes only the new run's partitions to the scan.
  */
object IncrementalRead {

  final case class RunWindow(column: String, lo: Long, hi: Long)

  private val registry = TrieMap.empty[String, RunWindow]

  private def normalize(path: String): String =
    path.stripSuffix("/").replaceFirst("^file:", "")

  /** Register a watermark window for every subsequent read of `path`. */
  def setWindow(path: String, column: String, lo: Long, hi: Long): Unit =
    registry.put(normalize(path), RunWindow(column, lo, hi))

  def clearAll(): Unit = registry.clear()

  private[plans] def windowFor(paths: Seq[String]): Option[RunWindow] =
    paths.map(normalize).flatMap(registry.get).headOption

  /** The registered window for one occurrence of a relation, provided the
    * relation actually exposes the watermark column.
    */
  private def applicableWindow(rel: LogicalRelation): Option[RunWindow] =
    rel.relation match {
      case fs: HadoopFsRelation =>
        windowFor(fs.location.rootPaths.map(_.toString))
          .filter(w => rel.output.exists(_.name.equalsIgnoreCase(w.column)))
      case _ => None
    }

  private def watermarkPredicate(rel: LogicalRelation, w: RunWindow): Expression = {
    val attr = rel.output.find(_.name.equalsIgnoreCase(w.column)).get
    And(
      GreaterThanOrEqual(attr, Literal(w.lo)),
      LessThanOrEqual(attr, Literal(w.hi)))
  }

  /** Analyzer rule: wrap registered file relations in the watermark filter.
    *
    * Idempotence is STRUCTURAL — an occurrence is skipped only when it is
    * already wrapped in a Filter whose condition contains the exact
    * watermark predicate. A mutable TreeNodeTag on the relation would be
    * shared by every occurrence of the same instance, so the second leg of
    * a self-join/self-union would silently skip injection and read the
    * whole table — each occurrence must be judged in its own branch.
    */
  class InjectWatermark extends Rule[LogicalPlan] {

    private def splitConjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
      case other => Seq(other)
    }

    @annotation.tailrec
    private def stripCast(e: Expression): Expression = e match {
      case c: Cast => stripCast(c.child)
      case other => other
    }

    // Shape-based (not semanticEquals): later Resolution-batch rules rewrite
    // the injected predicate in place — e.g. type coercion wraps an int
    // partition column as Cast(attr, bigint) against the long literal — so
    // an exact-equality guard never matches its own output and the fixpoint
    // re-injects forever. Match the cast-stripped column + literal value.
    private def isBound(conjunct: Expression, column: String, value: Long,
                        lower: Boolean): Boolean = {
      val (l, r) = conjunct match {
        case GreaterThanOrEqual(l, r) if lower => (l, r)
        case LessThanOrEqual(l, r) if !lower => (l, r)
        case _ => return false
      }
      (stripCast(l), stripCast(r)) match {
        case (a: Attribute, Literal(v, _)) =>
          a.name.equalsIgnoreCase(column) && String.valueOf(v) == value.toString
        case _ => false
      }
    }

    private def alreadyInjected(cond: Expression, w: RunWindow): Boolean = {
      val cs = splitConjuncts(cond)
      cs.exists(isBound(_, w.column, w.lo, lower = true)) &&
        cs.exists(isBound(_, w.column, w.hi, lower = false))
    }

    override def apply(plan: LogicalPlan): LogicalPlan = rewrite(plan)

    // Manual recursion instead of transformUp/Down: on a match we must NOT
    // descend into the already-injected Filter's relation (transformUp would
    // re-wrap it on the next fixpoint iteration, growing the plan forever).
    // Each occurrence of a relation is judged in its own branch — a mutable
    // tag on the (shared) relation instance would skip the second leg of a
    // self-join, silently reading the whole table there.
    private def rewrite(p: LogicalPlan): LogicalPlan = p match {
      case f @ Filter(cond, rel: LogicalRelation)
          if applicableWindow(rel).exists(alreadyInjected(cond, _)) =>
        f // this occurrence already carries its watermark
      case rel: LogicalRelation =>
        applicableWindow(rel) match {
          case Some(w) => Filter(watermarkPredicate(rel, w), rel)
          case None => rel
        }
      case other => other.mapChildren(rewrite)
    }
  }
}
