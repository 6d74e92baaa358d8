package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The one place graft's planner extensions are registered on a session.
  * Every store read calls [[install]] (`SnapshotStore.read` / `rangeScan`
  * / `lookupBucket`, `DeltaLogStore.read`), so a session that reads a
  * store plans it with both:
  *  - [[DeriveBucketPredicate]] (optimizer): a ts-only filter over the
  *    hour store also prunes `bucket` partitions;
  *  - [[BindTimestampBounds]] (physical planning): the post-scan filter
  *    of a store scan reads its timestamp bounds from the generated
  *    class's references, so a read with a new bound reuses the class
  *    compiled for the last one instead of compiling its own. */
object GraftRules {

  /** Whether `plan` scans one of graft's own stores: a file relation whose
    * every root lies under a `graftstore` directory (`SnapshotStore.root`,
    * or any store kept in one). Matching by column names alone would
    * rewrite any table that happens to have the same columns. */
  def isGraftStore(plan: LogicalPlan): Boolean = plan match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      fs.location.rootPaths.forall(_.toString.contains("/graftstore/"))
    case _ => false
  }

  /** Idempotently register graft's optimizer rule and planning strategy. */
  def install(spark: SparkSession): Unit = synchronized {
    val rules = spark.experimental.extraOptimizations
    if (!rules.contains(DeriveBucketPredicate))
      spark.experimental.extraOptimizations = rules :+ DeriveBucketPredicate
    val strategies = spark.experimental.extraStrategies
    if (!strategies.contains(BindTimestampBounds))
      spark.experimental.extraStrategies = BindTimestampBounds +: strategies
  }
}
