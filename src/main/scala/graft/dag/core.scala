package graft.dag

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named input/output slot on a node.
  *
  * Mirrors the reference's `InputParameter`/`ReturnParameter`
  * (/root/reference/mldag/utils.py:28-33) — but declared explicitly instead of
  * introspected from Python signatures (SURVEY.md §1.3). `variadic` ports
  * accumulate every upstream payload into a Seq (reference `*args` fan-in,
  * /root/reference/mldag/mldag.py:99-128). `keyed` variadic ports accumulate
  * payloads into a name->payload map keyed by the upstream node (or dag-input)
  * name, rejecting duplicate keys (reference `**kwargs` fan-in,
  * `_handle_var_key`, /root/reference/mldag/mldag.py:131-165).
  */
final case class Port(name: String, variadic: Boolean = false, required: Boolean = true,
                      keyed: Boolean = false) {
  require(!keyed || variadic, s"port '$name': keyed ports must be variadic")
}

/** Per-run context handed to every node invocation. `track` registers a
  * node-INTERNAL persist (cache boundaries inside dedup/similarity nodes)
  * so `DagRun.unpersist()` releases it along with the fan-out persists —
  * without it, library callers in long-lived sessions leak executor storage
  * one cached frame per invocation.
  *
  * Making a Ctx registers graft's kernels (`vec_dot`, `minhash_bands`, …)
  * into `spark`, so no node registers them itself; see
  * [[graft.functions.VecFunctions]] for which other sessions carry them.
  */
final case class Ctx(spark: SparkSession, runId: String) {
  graft.functions.VecFunctions.register(spark)
  private[dag] val internalPersists =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  /** Persist `df` and register it for release at `DagRun.unpersist()`. */
  def track(df: DataFrame): DataFrame = { df.persist(); internalPersists.add(df); df }
  /** Listeners inherited from enclosing dag runs: a SubDagNode's inner run
    * notifies the OUTER dag's listeners too (the reference instead bans
    * mixins on nested dags outright, mldagbase.py:68-71 — propagation is the
    * strictly more useful contract, and it recurses to any depth because the
    * stack rides on the shared Ctx). Managed by Dag.run; runs are
    * single-threaded per Ctx, so a plain field with save/restore suffices.
    */
  private[dag] var inheritedListeners: Seq[NodeListener] = Nil
  /** Nesting depth of in-flight Dag.run calls on this Ctx: the persist
    * queue drains into the DagRun only when the OUTERMOST run finishes, so
    * (a) nested runs' persists survive into the outer run's DagRun even
    * though SubDagNode discards the inner one, and (b) a Ctx reused across
    * sequential top-level runs hands each DagRun only ITS OWN persists —
    * without the drain, run N's unpersist() would evict runs 1..N-1's still-
    * in-use caches and the queue would grow for the life of the session. */
  private[dag] var runDepth: Int = 0
}
object Ctx {
  def apply(spark: SparkSession): Ctx = Ctx(spark, java.util.UUID.randomUUID().toString)
}

/** Payloads delivered to one node invocation: port name -> accumulated
  * upstream values (edge-insertion order), each tagged with the name of the
  * upstream node (or dag input) that produced it. The reference's equivalent
  * is the `{slot: value}` dict built by `_populate_node_inputs`
  * (/root/reference/mldag/mldag.py:255-300).
  */
final class In(private val m: Map[String, Seq[(String, DataFrame)]]) {
  /** The single payload bound to `port`; errors on 0 or >1 (use seq for variadics). */
  def apply(port: String): DataFrame = m.get(port) match {
    case Some(Seq((_, df))) => df
    case Some(s) if s.nonEmpty =>
      throw new SlotException(s"port '$port' received ${s.size} payloads; read it with seq()")
    case _ => throw new SlotException(s"no payload bound to port '$port' (bound: ${m.keySet.mkString(", ")})")
  }
  def seq(port: String): Seq[DataFrame] = m.getOrElse(port, Nil).map(_._2)
  /** Keyed variadic view: upstream name -> payload, insertion-ordered.
    * Duplicate keys are rejected at accumulation time (Dag.run), mirroring
    * the reference's duplicate-kwarg error (mldag.py:150-155).
    */
  def keyed(port: String): Map[String, DataFrame] = {
    val entries = m.getOrElse(port, Nil)
    scala.collection.immutable.ListMap(entries: _*)
  }
  def get(port: String): Option[DataFrame] = m.get(port).flatMap(_.headOption).map(_._2)
  def ports: Set[String] = m.keySet
  def toMap: Map[String, Seq[DataFrame]] = m.map { case (k, v) => k -> v.map(_._2) }
  /** Origin-tagged view — lets nested dags (SubDagNode) forward keyed
    * payloads without losing the upstream names. */
  private[dag] def taggedMap: Map[String, Seq[(String, DataFrame)]] = m
}
object In {
  val empty = new In(Map.empty)
  /** Payloads without meaningful origin names get positional keys. */
  def apply(m: Map[String, Seq[DataFrame]]): In =
    new In(m.map { case (k, v) => k -> v.zipWithIndex.map { case (df, i) => (i.toString, df) } })
  def tagged(m: Map[String, Seq[(String, DataFrame)]]): In = new In(m)
  def single(pairs: (String, DataFrame)*): In =
    new In(pairs.map { case (k, v) => k -> Seq((k, v)) }.toMap)
}

/** Root exception (reference `MldagException`, /root/reference/mldag/exceptions.py:1-3). */
class GraftException(msg: String, cause: Throwable = null) extends RuntimeException(msg, cause)
/** Wiring/validation errors on slots (unknown port, double-write, arity). */
class SlotException(msg: String) extends GraftException(msg)
/** DAG contains a cycle (reference detects as "no roots", mldag.py:434-435). */
class CycleException(msg: String) extends GraftException(msg)
/** Run-time argument binding errors (reference `_parse_arguments`, mldagbase.py:1915-1982). */
class BindingException(msg: String) extends GraftException(msg)

private[dag] object Naming {
  /** Reference `to_snake_case` default node naming (/root/reference/mldag/utils.py:36-37). */
  def snake(s: String): String =
    s.replaceAll("([a-z0-9])([A-Z])", "$1_$2").replaceAll("([A-Z]+)([A-Z][a-z])", "$1_$2").toLowerCase
}
