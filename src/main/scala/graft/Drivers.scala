package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.state.StateStore

/** The harness the driver mains (`Bench`, `Verify`, `Scale10`, `PlanDump`)
  * share: which queries a run selects, what is swept between queries, and
  * the untimed warm-up `Bench` runs before its timed pass.
  */
private[graft] object Drivers {
  /** The registered queries in registry order, narrowed to the names of a
    * comma-separated `filter` when one is given. A name that is neither
    * registered nor one of the caller's `extras` (its own probes) is
    * refused here, before any session starts, so a typo cannot pass for a
    * clean run that selected nothing. */
  def select(filter: Option[String], extras: Set[String] = Set.empty): Seq[String] =
    filter match {
      case None => SparkEntry.queryOrder
      case Some(arg) =>
        val names = arg.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = names.filterNot(n => SparkEntry.queries.contains(n) || extras(n))
        if (unknown.nonEmpty)
          throw new IllegalArgumentException(
            s"unknown quer(y/ies): ${unknown.toSeq.sorted.mkString(", ")}")
        SparkEntry.queryOrder.filter(names)
    }

  /** Release what a finished query left behind. `clearCache` drops the SQL
    * cache, but `localCheckpoint` blocks (CC rounds, PageRank,
    * `CheckpointNode` and IVM barriers) live outside the cache manager, so
    * every persistent RDD is unpersisted too. State-store providers loaded
    * by a streaming query stay resident for the rest of the run otherwise;
    * they are unloaded only when some are loaded, because a blanket unload
    * taxes every non-streaming query with provider re-init. -1 (the
    * reflective lookup failed) unloads: an unknown count must not disable
    * the unload for the whole run. */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    if (loadedProviderCount() != 0)
      try StateStore.getClass.getMethod("unloadAll").invoke(StateStore) // private[sql]
      catch { case _: Throwable => }
  }

  /** State-store providers loaded in this JVM, read from Spark's private
    * `StateStore.loadedProviders`, or -1 when it cannot be read. */
  def loadedProviderCount(): Long = try {
    val f = StateStore.getClass.getDeclaredField("loadedProviders")
    f.setAccessible(true)
    f.get(StateStore).asInstanceOf[scala.collection.Map[_, _]].size.toLong
  } catch { case _: Throwable => -1L }

  /** The smoke scale `SparkEntry.entry` reads. */
  private val warmDir = "/root/testdata/sf0.001"

  /** Registered queries whose compositions cover the first-touch costs the
    * bench cold map has shown: parquet/shuffle/window scans and codegen
    * (q1, q6), the graft kernels (q25, q28), the HLL sketch (q202), the CC
    * localCheckpoint storm (q52), the IVF fit/probe (q143), the wedge
    * self-join (q107), day-2 serve and delete waves of the inverted,
    * cluster and image indexes (q141, q161, q163, q178), the best-survivor
    * double window and the leakage-safe split (q140, q132), and the
    * stream aggregate and stream-stream join state stores (q39, q63). */
  val warmList: Seq[String] = Seq("q1_agg", "q6_window_rank",
    "q25_minhash_dedup", "q28_knn_brute", "q202_sketch_index_day2",
    "q52_dedup_clusters", "q143_ivf_recall_production", "q107_triangles",
    "q141_inverted_index_day2", "q161_inverted_index_delete",
    "q140_best_survivor", "q163_cluster_index_delete",
    "q132_leakage_safe_split", "q178_image_index_day2",
    "q39_stream_tumbling", "q63_stream_stream_join")

  /** Run every `warmList` query once, untimed, on `warmDir`, sweeping after
    * each, so the timed pass does not absorb JVM, codegen and
    * state-store first touches that a long-running engine pays once. The
    * list does not depend on the run's selection: a filtered run warms up
    * exactly as the full run does, and so a filtered relational-only run
    * pays the whole warm-up too (about 40 s on 4 cores). A query that
    * fails is reported on stderr and the warm-up goes on. */
  def warmUp(spark: SparkSession): Unit = warmList.foreach { name =>
    try graft.queries.Queries.materialize(name, SparkEntry.queries(name)(spark, warmDir))
    catch { case e: Throwable =>
      System.err.println(s"[warm] $name FAILED: ${e.getMessage}") }
    finally sweep(spark)
  }
}
