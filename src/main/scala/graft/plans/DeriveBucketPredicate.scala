package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Optimizer rule: for a Filter directly over a graft snapshot-store scan
  * (a file relation rooted under SnapshotStore.root exposing the
  * hour-bucket partition column `bucket: string` and event-time
  * `ts: timestamp`), derive the bucket bounds implied by literal ts
  * predicates and conjoin them, so partition pruning fires for queries
  * that only name `ts`.
  *
  * Scoped to the store's own relations ([[GraftRules.isGraftStore]]) —
  * matching by column names alone would rewrite any table that happens
  * to have `bucket`/`ts` columns.
  * Bucket strings are rendered in the session timezone, matching what
  * SnapshotStore.bucketExpr (date_trunc/date_format) wrote.
  *
  * The rewrite is semantics-preserving (bucket(ts) bounds are a superset
  * of the ts bounds) and idempotent (skipped when any conjunct already
  * references `bucket`). Installed via
  * `spark.experimental.extraOptimizations` ([[GraftRules.install]]) —
  * after the main optimizer batches, still before physical planning where
  * partition filters are split from data filters.
  */
object DeriveBucketPredicate extends Rule[LogicalPlan] with PredicateHelper {

  private def bucketOf(micros: Long, zone: String): UTF8String =
    UTF8String.fromString(graft.store.SnapshotStore.bucketOf(micros, zone))

  private def isTs(e: Expression): Boolean = e match {
    case a: AttributeReference => a.name == "ts" && a.dataType == TimestampType
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, child) if GraftRules.isGraftStore(child) =>
      child.output.find(a => a.name == "bucket" && a.dataType == StringType) match {
        case Some(bucket) =>
          val zone = conf.sessionLocalTimeZone
          val conjuncts = splitConjunctivePredicates(cond)
          if (conjuncts.exists(_.references.contains(bucket))) f
          else {
            val derived: Seq[Expression] = conjuncts.flatMap {
              case GreaterThanOrEqual(t, Literal(v: Long, TimestampType)) if isTs(t) =>
                Some(GreaterThanOrEqual(bucket, Literal(bucketOf(v, zone), StringType)))
              case GreaterThan(t, Literal(v: Long, TimestampType)) if isTs(t) =>
                Some(GreaterThanOrEqual(bucket, Literal(bucketOf(v, zone), StringType)))
              case LessThan(t, Literal(v: Long, TimestampType)) if isTs(t) =>
                Some(LessThanOrEqual(bucket, Literal(bucketOf(v, zone), StringType)))
              case LessThanOrEqual(t, Literal(v: Long, TimestampType)) if isTs(t) =>
                Some(LessThanOrEqual(bucket, Literal(bucketOf(v, zone), StringType)))
              case EqualTo(t, Literal(v: Long, TimestampType)) if isTs(t) =>
                Some(EqualTo(bucket, Literal(bucketOf(v, zone), StringType)))
              case EqualTo(Literal(v: Long, TimestampType), t) if isTs(t) =>
                Some(EqualTo(bucket, Literal(bucketOf(v, zone), StringType)))
              case _ => None
            }
            if (derived.isEmpty) f
            else Filter(derived.foldLeft(cond)(And(_, _)), child)
          }
        case None => f
      }
  }
}
