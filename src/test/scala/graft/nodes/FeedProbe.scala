package graft.nodes

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** A Δview subscriber that only records the feed frames it is handed
  * (through the deferred-commit path a chained index takes) and does no
  * work of its own, so attaching it adds no Spark execution to a wave. */
final class FeedProbe extends MaterializedJoinNode.ViewSubscriber {
  @volatile private var seen = Vector.empty[DataFrame]
  /** Every feed frame handed over so far, deletes before inserts per wave. */
  def frames: Seq[DataFrame] = seen
  def onViewDelta(ctx: graft.dag.Ctx, deletes: Option[DataFrame],
      inserts: Option[DataFrame]): Unit = ()
  override private[nodes] def prepareViewDelta(ctx: graft.dag.Ctx,
      deletes: Option[DataFrame],
      inserts: Option[DataFrame]): Option[IvmUtil.Prepared] = {
    synchronized { seen ++= deletes.toSeq ++ inserts.toSeq }
    Some(IvmUtil.PreparedEmpty)
  }
}

object FeedProbe {
  /** True when the frame's analyzed plan reads an RDD leaf — the shape a
    * `localCheckpoint` cut leaves behind. */
  def hasRddLeaf(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().exists(_.isInstanceOf[LogicalRDD])
}
