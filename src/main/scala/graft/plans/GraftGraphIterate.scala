package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.LongType

/** One iterative graph algorithm with its parameters: what a
  * [[GraftGraphIterate]] node runs. The formulas are in the scaladoc of
  * the `graft.operators.GraftGraph` entry that builds each one. */
sealed trait GraphAlgo {
  def iters: Int
  /** The output columns, all bigint: the node id first. */
  def columns: Seq[String]
  /** EXPLAIN form, e.g. `pagerank iters=3 damping=85`. */
  def describe: String
}

object GraphAlgo {
  /** PageRank on the `grid` fixed point. `personalized`: a seeds child
    * follows the edges, and teleport mass lands only on seeds.
    * `warmStart`: an initial-ranks child `(node_id, pr_micro)` comes last. */
  final case class PageRank(iters: Int, dampingPct: Int, grid: Long,
                            dangling: Boolean, personalized: Boolean,
                            warmStart: Boolean) extends GraphAlgo {
    def columns: Seq[String] = Seq("node_id", "pr_micro")
    def describe: String =
      s"pagerank iters=$iters damping=$dampingPct grid=$grid" +
        Seq(dangling -> "dangling", personalized -> "personalized",
            warmStart -> "warm-start").collect { case (true, s) => s" $s" }.mkString
  }

  /** HITS hubs and authorities, max-renormalized to `grid`. */
  final case class Hits(iters: Int, grid: Long) extends GraphAlgo {
    def columns: Seq[String] = Seq("node_id", "hub_micro", "auth_micro")
    def describe: String = s"hits iters=$iters grid=$grid"
  }

  /** Synchronous label propagation over the undirected edges. */
  final case class LabelPropagation(iters: Int) extends GraphAlgo {
    def columns: Seq[String] = Seq("node_id", "community")
    def describe: String = s"lpa iters=$iters"
  }
}

/** Custom logical operator: a whole graph iteration as one plan node,
  * planned by [[GraftStrategy]] as [[GraftGraphIterateExec]] — the
  * extension path `SampleNode` takes, for an operator with several
  * inputs.
  *
  * Children: the edge plan `(src, dst)` first, then the seeds
  * `(node_id)` of a personalized PageRank, then the initial ranks
  * `(node_id, pr_micro)` of a warm start; every column bigint. The exec
  * reads them by position, so the node references all of its children's
  * columns: column pruning must not narrow an input. Its output columns
  * are produced here, fresh per node.
  */
case class GraftGraphIterate(algo: GraphAlgo, output: Seq[Attribute],
                             children: Seq[LogicalPlan]) extends LogicalPlan {

  override def references: AttributeSet = AttributeSet(children.flatMap(_.output))

  override def producedAttributes: AttributeSet = outputSet

  override def simpleString(maxFields: Int): String =
    s"GraftGraphIterate ${algo.describe}"

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): GraftGraphIterate =
    copy(children = newChildren)
}

object GraftGraphIterate {
  def apply(algo: GraphAlgo, children: Seq[LogicalPlan]): GraftGraphIterate =
    GraftGraphIterate(algo, algo.columns.map(AttributeReference(_, LongType)()),
                      children)
}
