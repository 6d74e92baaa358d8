package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The one place graft's planner extensions are registered on a session.
  * Every store read calls [[install]] (`SnapshotStore.read` / `rangeScan`
  * / `lookupBucket`, `DeltaLogStore.relation`, and so `DeltaLogStore.read`
  * and the `graftdelta` source), so a session that reads a store plans its
  * marked relations ([[isGraftStore]]) with both:
  *  - [[DeriveBucketPredicate]] (optimizer): a ts-only filter over the
  *    hour store also prunes `bucket` partitions;
  *  - [[BindTimestampBounds]] (physical planning): the post-scan filter
  *    of a store scan reads its timestamp bounds from the generated
  *    class's references, so a read with a new bound reuses the class
  *    compiled for the last one instead of compiling its own. */
object GraftRules {

  /** The reserved `HadoopFsRelation` option that marks a relation as one
    * of graft's stores. Only the stores' own readers set it
    * (`SnapshotStore.read` and its bucket reads, `DeltaLogStore.relation`);
    * it is no documented reader option. */
  val StoreOption = "graft.store"

  /** Whether `plan` scans one of graft's own stores: a file relation its
    * reader marked with [[StoreOption]], wherever the store lies on disk.
    * Matching by column names alone would rewrite any table that happens
    * to have the same columns. */
  def isGraftStore(plan: LogicalPlan): Boolean = plan match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.options.contains(StoreOption)
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
