package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ↔ Expression bridge for graft's native Catalyst expressions.
  * `ExpressionUtils` is private[sql], so this one-file shim lives in the
  * org.apache.spark.sql package — the standard pattern for Spark
  * extension libraries that define custom expressions. */
package object graftbridge {
  def columnOf(e: Expression): Column = ExpressionUtils.column(e)
  def expressionOf(c: Column): Expression = ExpressionUtils.expression(c)

  /** `s` with every field nullable, nested ones too: the schema Spark
    * gives a parquet read (`StructType.asNullable` is private[spark]). */
  def nullable(s: StructType): StructType = s.asNullable

  /** Unload every cached streaming state-store provider on this JVM
    * (closes RocksDB natives, drops the HDFS-backed in-memory maps, and
    * stops the maintenance task — it restarts lazily on the next store
    * load). The bench sweep runs ~30 streaming workloads twice in one
    * JVM; without this, each query's providers stay cached long after
    * the query stopped — exactly the cross-workload accumulated state
    * VERDICT r12 Next #1 suspects behind the mid-sweep streaming
    * degradation. Spark's own StreamTest harness calls the same stop()
    * between tests. */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()

  /** Register graft's native expressions as SQL functions on a session,
    * so `spark.sql("SELECT szudzik_pair(x, y) ...")` works alongside the
    * Column API (SURVEY.md §3.2: same query from SQL plans identically
    * after parsing). Idempotent. */
  def registerFunctions(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("szudzik_pair",
      es => graft.functions.SzudzikPair(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("szudzik_unpair",
      es => graft.functions.SzudzikUnpair(es.head), "built-in")
    reg.createOrReplaceTempFunction("cantor_pair",
      es => graft.functions.CantorPair(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("cantor_unpair",
      es => graft.functions.CantorUnpair(es.head), "built-in")
    reg.createOrReplaceTempFunction("hilbert_key",
      es => graft.functions.HilbertKey(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("hilbert_xy",
      es => graft.functions.HilbertXY(es.head), "built-in")
    reg.createOrReplaceTempFunction("jaccard_ppm",
      es => graft.functions.JaccardPpmExpr(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("vec_dot",
      es => graft.functions.DotProductExpr(es(0), es(1)), "built-in")
    // structural int parameters (shingle width, window size) are baked
    // into the expression at construction, so they must be foldable
    // literals; check arity + foldability up front so a bad call gets
    // this message, not a raw unbound-attribute or index-out-of-bounds
    // error at analysis time (ADVICE r3)
    def intLit(fn: String, usage: String)(e: Expression): Int = e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"$fn$usage: parameters must be integer literals, got $other")
    }
    def checkArity(fn: String, usage: String, n: Int, es: Seq[Expression]): Unit =
      if (es.length != n || !es.drop(1).forall(_.foldable))
        throw new IllegalArgumentException(
          s"$fn$usage: expects $n args with integer literals after the text, got (${es.mkString(", ")})")
    reg.createOrReplaceTempFunction("char_shingles",
      es => {
        checkArity("char_shingles", "(text, n)", 2, es)
        graft.functions.CharShinglesExpr(es(0), intLit("char_shingles", "(text, n)")(es(1)))
      }, "built-in")
    reg.createOrReplaceTempFunction("char_shingles_all",
      es => {
        checkArity("char_shingles_all", "(text, n)", 2, es)
        graft.functions.CharShinglesAllExpr(es(0), intLit("char_shingles_all", "(text, n)")(es(1)))
      }, "built-in")
    reg.createOrReplaceTempFunction("winnow",
      es => {
        checkArity("winnow", "(text, k, w)", 3, es)
        val lit = intLit("winnow", "(text, k, w)") _
        graft.functions.WinnowExpr(es(0), lit(es(1)), lit(es(2)))
      }, "built-in")
    reg.createOrReplaceTempFunction("winnow_roll",
      es => {
        checkArity("winnow_roll", "(text, k, w)", 3, es)
        val lit = intLit("winnow_roll", "(text, k, w)") _
        graft.functions.WinnowRollExpr(es(0), lit(es(1)), lit(es(2)))
      }, "built-in")
  }
}
