package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, ExprId, SortOrder}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.PlanBridge

/** A subplan planned once, without adaptive execution, with the RDD its
  * `execute()` returned. Building the RDD starts no job; every action over
  * every frame derived from it reads this one RDD, so they all depend on
  * the same shuffle: the first action runs the map side, later actions
  * skip that stage. Nothing is persisted. A lost map output is recomputed
  * from lineage, and the ContextCleaner deletes the shuffle files once no
  * frame holds this object any more. Driver-side only: a codegen stage
  * that references a plan node ships the tree to the executors, where
  * these fields arrive empty and are never read. */
final class PlannedSubplan private[plans] (@transient val plan: SparkPlan,
    @transient val stats: Statistics) extends Serializable {
  @transient val rdd: RDD[InternalRow] = plan.execute()
  override val toString: String = s"PlannedSubplan(rdd ${rdd.id})"
}

/** The logical leaf over a [[PlannedSubplan]]: opaque to the optimizer
  * (nothing is pushed into the subplan), with the subplan's statistics. */
case class SharedShuffleNode(output: Seq[Attribute], planned: PlannedSubplan)
    extends LeafNode with MultiInstanceRelation {
  override def newInstance(): LogicalPlan =
    copy(output = output.map(_.newInstance()))
  override def computeStats(): Statistics = planned.stats
  override def simpleString(maxFields: Int): String =
    s"SharedShuffle ${output.mkString("[", ", ", "]")}, ${planned}"
}

/** Emits the planned subplan's rows. It declares the subplan's output
  * partitioning and ordering (renamed to this node's attributes), so a
  * per-key operator on top adds no exchange, and it prints the subplan
  * beneath itself in `explain` and plan strings. */
case class SharedShuffleExec(output: Seq[Attribute], planned: PlannedSubplan)
    extends LeafExecNode {

  private lazy val renamed: Map[ExprId, Attribute] =
    planned.plan.output.map(_.exprId).zip(output).toMap

  private def covered(e: Expression): Boolean =
    e.references.forall(a => renamed.contains(a.exprId))

  private def rename[E <: Expression](e: E): E = e.transform {
    case a: Attribute if renamed.contains(a.exprId) => renamed(a.exprId)
  }.asInstanceOf[E]

  override def outputPartitioning: Partitioning =
    planned.plan.outputPartitioning match {
      case p: Expression with Partitioning if covered(p) => rename(p)
      case p => UnknownPartitioning(p.numPartitions)
    }

  override def outputOrdering: Seq[SortOrder] =
    planned.plan.outputOrdering.takeWhile(covered).map(rename(_))

  override def innerChildren: Seq[QueryPlan[_]] = Seq(planned.plan)

  override def simpleString(maxFields: Int): String =
    s"SharedShuffle ${output.mkString("[", ", ", "]")}, $outputPartitioning, ${planned}"

  override protected def doExecute(): RDD[InternalRow] = planned.rdd
}

object SharedShuffleStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case SharedShuffleNode(output, planned) =>
      SharedShuffleExec(output, planned) :: Nil
    case _ => Nil
  }
}

object SharedShuffle {
  /** `df` planned now, once, without adaptive execution, as a frame whose
    * actions share its shuffle output. Starts no job. Installs the
    * planner strategy into the session on first use (idempotent). A conf
    * change after this call does not re-plan the subplan. */
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    Ewma.installStrategy(spark, SharedShuffleStrategy)
    val planned = PlanBridge.withActive(spark) {
      val (plan, stats) = PlanBridge.prepareWithoutAqe(df)
      new PlannedSubplan(plan, stats)
    }
    PlanBridge.ofRows(spark, SharedShuffleNode(planned.plan.output, planned))
  }
}
