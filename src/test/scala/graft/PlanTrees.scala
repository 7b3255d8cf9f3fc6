package graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Walks a query plan the way its explain string prints it: through the
  * children, the inner children (a cached scan's relation, a cached
  * relation's cached plan), AQE's current plan and its query stages.
  */
object PlanTrees {

  private def below(node: TreeNode[_]): Seq[TreeNode[_]] = node match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case p: SparkPlan => p.children ++ p.innerChildren
    case l: LogicalPlan => l.children ++ l.innerChildren
    case _ => Nil
  }

  /** `node` and every node under it, in pre-order. */
  def nodes(node: TreeNode[_]): Iterator[TreeNode[_]] =
    Iterator.single(node) ++ below(node).iterator.flatMap(nodes)

  /** The longest chain of cached relations nested one inside another's
    * cached plan. A composed plan shares subtrees, so each node is
    * measured once.
    */
  def cacheDepth(root: TreeNode[_]): Int = {
    val seen = new java.util.IdentityHashMap[TreeNode[_], Int]()
    def depth(node: TreeNode[_]): Int = {
      if (!seen.containsKey(node)) {
        val inner = below(node).map(depth).maxOption.getOrElse(0)
        seen.put(node, if (node.isInstanceOf[InMemoryRelation]) inner + 1 else inner)
      }
      seen.get(node)
    }
    depth(root)
  }
}
