package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftshim.SparkInternals
import org.apache.spark.sql.types.StructType

/** Driver-side work over a query's rows, Spark jobs included, that runs
 * when the query executes rather than while its DataFrame is built: the
 * connected-components rounds and the mergeLate guard. The step is one
 * plan node over its input's plan, so building the frame and `explain()`
 * run no job, and AQE stages the input (and reuses its exchanges) like any
 * other subplan.
 *
 * The node's physical operator is planned by a strategy that the first
 * [[apply]] in a session adds to that session's
 * `experimental.extraStrategies`; a session that never builds a step plans
 * as before. */
object Deferred {

  /** A step's code: the input rows and `describe`, which names every job
   * the step submits after the call (as [[Eager.named]] does, with the
   * site where the step was built); returns the output rows. */
  type Step = (RDD[InternalRow], String => Unit) => RDD[InternalRow]

  /** A frame of `schema` whose rows are `step` over `input`'s rows, in
   * `input`'s column order (the optimizer keeps a child's output order,
   * which a Union's positional binding relies on too). The step runs once
   * each time the query executes, when the operator above it asks for its
   * rows; a failure it raises surfaces at the consumer's action. */
  def apply(input: DataFrame, schema: StructType)(step: Step): DataFrame = {
    val methods = input.sparkSession.experimental
    methods.synchronized(if (!methods.extraStrategies.contains(Planner)) methods.extraStrategies :+= Planner)
    val output = schema.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    SparkInternals.dataFrame(input.sparkSession, DeferredStep(output, Eager.site(), step, input.queryExecution.analyzed))
  }

  /** The step's logical node. Its whole input is referenced, so column
   * pruning leaves the child alone; its output size is unknown until the
   * step has run, so the planner never broadcasts it. */
  private case class DeferredStep(output: Seq[Attribute], site: String, step: Step, child: LogicalPlan)
      extends UnaryNode {
    override def references: AttributeSet = child.outputSet
    override def stats: Statistics = Statistics(conf.defaultSizeInBytes)
    override protected def stringArgs: Iterator[Any] = Iterator(output, site)
    override protected def withNewChildInternal(c: LogicalPlan): DeferredStep = copy(child = c)
  }

  /** The step's physical operator: runs the step at its first `execute()`
   * and hands the same rows, as unsafe rows, to every later call. */
  private case class DeferredStepExec(output: Seq[Attribute], site: String, step: Step, child: SparkPlan)
      extends UnaryExecNode {
    @transient private lazy val rows: RDD[InternalRow] = {
      val schema = this.schema
      Eager.describing(sparkContext, site)(step(child.execute(), _)).mapPartitions(_.map(UnsafeProjection.create(schema)))
    }
    override def references: AttributeSet = child.outputSet
    override protected def doExecute(): RDD[InternalRow] = rows
    override protected def stringArgs: Iterator[Any] = Iterator(output, site)
    override protected def withNewChildInternal(c: SparkPlan): DeferredStepExec = copy(child = c)
  }

  private object Planner extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case d: DeferredStep => DeferredStepExec(d.output, d.site, d.step, planLater(d.child)) :: Nil
      case _ => Nil
    }
  }
}
