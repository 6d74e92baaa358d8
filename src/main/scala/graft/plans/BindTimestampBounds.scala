package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.FileSourceStrategy
import org.apache.spark.sql.types.{DataType, TimestampType}

/** Physical planning strategy for graft store scans (relations their
  * store's reader marked, [[GraftRules.isGraftStore]]: the hour store's
  * reads, `DeltaLogStore.read` and `format("graftdelta")`, wherever the
  * store lies on disk): plans the scan with Spark's own
  * `FileSourceStrategy`, then turns each timestamp literal of the
  * post-scan `FilterExec` into a [[TimestampBound]].
  *
  * A `TimestampType` literal is inlined into whole-stage generated code as
  * `<µs>L`, so the class text of a store read depends on its bounds, and a
  * get or traj at an instant not read before misses `CodeGenerator`'s
  * cache: it compiles new classes and runs them interpreted until the JIT
  * catches up. With the bound read from the references array the text
  * no longer depends on it and the class compiled for the first read
  * serves every later one of the same shape.
  *
  * Only the post-scan filter changes: the scan's partition and data
  * filters keep their literals, so bucket pruning, parquet pushdown and
  * `LogFileIndex`'s stats skipping see the bounds as before. */
object BindTimestampBounds extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ScanOperation(_, _, _, relation) if GraftRules.isGraftStore(relation) =>
      FileSourceStrategy(plan).map(_.transform {
        case f: FilterExec => f.copy(condition = f.condition.transform {
          case Literal(v: Long, TimestampType) => TimestampBound(v)
        })
      })
    case _ => Nil
  }
}

/** A timestamp constant (µs since the epoch) that generated code reads
  * from the class's references into a `long` field when it initialises,
  * instead of inlining it: two bounds generate the same text. It renders
  * exactly as the literal it stands for. */
case class TimestampBound(value: Long) extends LeafExpression {
  private def literal = Literal(value, TimestampType)

  override def dataType: DataType = TimestampType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tsBound", Long.box(value))
    val field = ctx.addMutableState(CodeGenerator.JAVA_LONG, "tsBound",
      v => s"$v = $ref.longValue();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }

  override def toString: String = literal.toString
  override def sql: String = literal.sql
}
