package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Logical→physical planning for graft extension nodes.
  *
  * Spark-native rebuild of the reference's extension planner
  * (`/root/reference/src/planner/extension_planner.rs:59-82`): pattern-match
  * the custom logical node, emit the physical operator over the
  * already-planned child (`planLater`), return Nil for everything else so the
  * next strategy fires (parity with returning `None`,
  * `extension_planner.rs:79-81`).
  */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case SampleNode(fraction, seed, child) =>
      SampleExecNode(fraction, seed, planLater(child)) :: Nil
    case g: GraftGraphIterate =>
      GraftGraphIterateExec(g.algo, g.output, g.children.map(planLater)) :: Nil
    case _ => Nil
  }
}

/** Session installer — the analog of the reference's session wiring
  * (`SessionStateBuilder::with_query_planner`, `/root/reference/tests/
  * e2e.rs:95-100`). Usage:
  * `SparkSession.builder().withExtensions(new GraftExtensions)`.
  *
  * The reference additionally registers logical/physical protobuf codecs on
  * every process (`/root/reference/examples/ballista_scheduler.rs:27-43`);
  * classic Spark serializes task closures itself, so that whole layer is
  * intentionally absent (SURVEY §7.4 item 4).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => GraftStrategy)
    e.injectOptimizerRule(_ => PushFilterThroughSample)
    graft.functions.GraftFunctionRegistry.all.foreach { case (name, builder) =>
      e.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft.functions", name),
        builder))
    }
  }
}
