package graft.dag

import org.apache.spark.sql.DataFrame

/** A DAG vertex with fit/transform semantics — the engine analogue of the
  * reference's `NodeBase` (/root/reference/mldag/core/mldagbase.py:273-765).
  * Slots are explicit `Port` declarations instead of introspected Python
  * signatures; wiring uses the same `>>` / `<<` / `node("slot")` DSL.
  */
trait Node {
  def inputs: Seq[Port]
  def outputs: Seq[Port]

  /** Estimator phase. Stateless nodes keep the default no-op (reference
    * `FunctionNode.fit`, mldagbase.py:842-854). Estimators override and store
    * fitted state (the only eager step — Spark ML fits are actions).
    */
  def fit(ctx: Ctx, in: In): Unit = ()

  /** Produce this node's outputs from its bound inputs. Results are lazy
    * DataFrames — "execution" is plan composition (SURVEY.md §3).
    */
  def transform(ctx: Ctx, in: In): Map[String, DataFrame]

  /** Reference `NodeBase.fit_transform` (mldagbase.py:689-691). */
  def fitTransform(ctx: Ctx, in: In): Map[String, DataFrame] = { fit(ctx, in); transform(ctx, in) }

  /** Topology serialization hooks (reference to_dict's {module, class, params},
    * graph.py:938-1077). `jsonKind` names a factory in DagJson's registry;
    * `jsonParams` is the JSON-able constructor-parameter map. None = not
    * serializable (closure-carrying nodes, like unpicklable lambdas).
    */
  def jsonKind: Option[String] = None
  def jsonParams: Map[String, Any] = Map.empty

  /** Whether the fan-out persist rule may cache this node's outputs. Source
    * scans return false: caching a scan materializes it FULL WIDTH and blocks
    * per-consumer column pruning/pushdown — at scale, re-scanning pruned
    * columnar files beats caching the unpruned frame every time.
    */
  def persistableOutput: Boolean = true

  // ------------------------------------------------------------------
  // identity & attachment (reference VertexBase: belongs to <=1 graph,
  // /root/reference/mldag/core/graph.py:10-26)
  // ------------------------------------------------------------------
  private[dag] var attached: Option[Dag] = None
  private[dag] var assignedName: Option[String] = None

  def name: String = assignedName.getOrElse(defaultName)

  /** Set an explicit name (before attaching to a dag). */
  def named(n: String): this.type = {
    if (attached.nonEmpty)
      throw new GraftException(s"cannot rename node '$name' after it was added to a dag")
    assignedName = Some(n); this
  }

  /** Base for auto-naming (reference to_snake_case(class) + counter dedup,
    * mldagbase.py:357-362). */
  protected def defaultName: String = Naming.snake(getClass.getSimpleName.stripSuffix("$"))
  private[dag] def nameBase: String = assignedName.getOrElse(defaultName)

  // ------------------------------------------------------------------
  // wiring DSL (reference __rshift__/__lshift__/__getitem__,
  // mldagbase.py:364-447)
  // ------------------------------------------------------------------
  /** Address a slot: `node("x") >> other("y")` (reference `node['x']`). */
  def apply(slot: String): Slot = Slot(this, slot)

  def >>(down: Node): down.type = { Dag.connect(this, None, down, None); down }
  def >>(down: Slot): Node = { Dag.connect(this, None, down.node, Some(down.slot)); down.node }
  /** Export ALL output slots as DAG outputs (reference NodeBase.__rshift__ → dag,
    * mldagbase.py:407-411). */
  def >>(dag: Dag): Unit = outputs.foreach(p => dag.setOutput(p.name, this, Some(p.name)))
  def >>(out: DagOutput): Unit = out.dag.setOutput(out.outName, this, None)

  def <<(up: Node): this.type = { Dag.connect(up, None, this, None); this }
  def <<(up: Slot): this.type = { Dag.connect(up.node, Some(up.slot), this, None); this }

  /** Order-only scheduling dependency, no data (reference `dependencies`,
    * mldagbase.py:278-299). Needed only for side-effecting sinks under lazy eval. */
  def after(other: Node): this.type = {
    val dag = attached.orElse(other.attached).getOrElse(
      throw new GraftException("attach nodes to a dag before adding dependencies"))
    dag.add(other); dag.add(this)
    dag.addDependency(other.name, this.name)
    this
  }

  override def toString: String = s"${getClass.getSimpleName}($name)"
}

/** Slot proxy for wiring (reference `NodeSlot`, mldagbase.py:89-191). Direction
  * is contextual: on the left of `>>` it is an output slot, on the right an input.
  */
final case class Slot(node: Node, slot: String) {
  def >>(down: Node): down.type = { Dag.connect(node, Some(slot), down, None); down }
  def >>(down: Slot): Node = { Dag.connect(node, Some(slot), down.node, Some(down.slot)); down.node }
  def >>(out: DagOutput): Unit = out.dag.setOutput(out.outName, node, Some(slot))
  def <<(up: Node): Node = { Dag.connect(up, None, node, Some(slot)); node }
  def <<(up: Slot): Node = { Dag.connect(up.node, Some(up.slot), node, Some(slot)); node }
}

/** Handle for a DAG-level named input (reference `MLDagInput`,
  * /root/reference/mldag/core/_connectable_utils.py:70-80). `dag.input("x") >> node`
  * binds the run-time argument "x" to the node's inferred input slot.
  */
final class DagInput(private[dag] val dag: Dag, val inName: String) {
  def >>(down: Node): down.type = { dag.setInput(down, Some(inName), None); down }
  def >>(down: Slot): Node = { dag.setInput(down.node, Some(inName), Some(down.slot)); down.node }
  /** Attach a default payload (reference `MLDagInput(default=...)`,
    * _connectable_utils.py:70-90; binding validation honors it,
    * mldagbase.py:1970-1980): evaluated lazily at run time when no binding
    * is supplied for this input; an explicit binding always wins. Like
    * FnNode closures, defaults do not survive DagJson round-trips.
    */
  def default(f: Ctx => org.apache.spark.sql.DataFrame): this.type = {
    dag.setInputDefault(inName, f); this
  }
}

/** Handle for a DAG-level named output (reference `MLDagOutput`,
  * _connectable_utils.py:83-90). `node("res") >> dag.output("x")`.
  */
final class DagOutput(private[dag] val dag: Dag, val outName: String) {
  def <<(up: Node): Unit = dag.setOutput(outName, up, None)
  def <<(up: Slot): Unit = dag.setOutput(outName, up.node, Some(up.slot))
}

// ======================================================================
// Concrete node kinds
// ======================================================================

/** Wraps a plain function as a stateless node (reference `FunctionNode`,
  * mldagbase.py:768-854). `fit` is a no-op.
  */
class FnNode(
    val inputs: Seq[Port],
    val outputs: Seq[Port],
    f: (Ctx, In) => Map[String, DataFrame],
    base: String = "fn")
  extends Node {
  override protected def defaultName: String = base
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = f(ctx, in)
}

object FnNode {
  /** One DataFrame in, one out — the workhorse stage (cf. `df.transform`). */
  def map1(base: String)(f: DataFrame => DataFrame): FnNode =
    new FnNode(Seq(Port("df")), Seq(Port("result")),
      (_, in) => Map("result" -> f(in("df"))), base)
  /** Two DataFrames in (ports left/right), one out. */
  def map2(base: String)(f: (DataFrame, DataFrame) => DataFrame): FnNode =
    new FnNode(Seq(Port("left"), Port("right")), Seq(Port("result")),
      (_, in) => Map("result" -> f(in("left"), in("right"))), base)
  /** Variadic fan-in: every upstream payload accumulates into one Seq
    * (reference `_handle_var_pos`, mldag.py:99-128). */
  def mapMany(base: String)(f: Seq[DataFrame] => DataFrame): FnNode =
    new FnNode(Seq(Port("dfs", variadic = true)), Seq(Port("result")),
      (_, in) => Map("result" -> f(in.seq("dfs"))), base)
  /** Keyed variadic fan-in: payloads arrive as upstream-name -> DataFrame,
    * duplicate keys rejected at delivery (reference `_handle_var_key` /
    * `**kwargs`, mldag.py:131-165). */
  def mapKeyed(base: String)(f: Map[String, DataFrame] => DataFrame): FnNode =
    new FnNode(Seq(Port("dfs", variadic = true, keyed = true)), Seq(Port("result")),
      (_, in) => Map("result" -> f(in.keyed("dfs"))), base)
}

/** Typed stage: `Dataset[A] => Dataset[B]` with case-class Encoders — the
  * type-safe variant of FnNode for pipelines whose row shape is statically
  * known (SURVEY §1.1). The frame is decoded to `Dataset[A]` at the node
  * boundary and re-erased after, so composition with untyped nodes is free.
  */
class TypedFnNode[A: org.apache.spark.sql.Encoder, B: org.apache.spark.sql.Encoder](
    f: org.apache.spark.sql.Dataset[A] => org.apache.spark.sql.Dataset[B],
    base: String = "typed_fn")
  extends Node {
  override protected def defaultName: String = base
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] =
    Map("result" -> f(in("df").as[A]).toDF())
}

/** Identity node (reference `DummyNode`, mldagbase.py:1254-1266). */
class IdentityNode extends Node {
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = Map("result" -> in("df"))
}

/** Base for stateful estimator nodes (reference `EstimatorNode`,
  * mldagbase.py:857-977): `fit` trains and stores a model, `transform` applies
  * it. Fitted state lives on the node, so re-applying it elsewhere (weight
  * sharing) sees the same model.
  */
abstract class EstimatorNode extends Node {
  type Model
  @volatile private[graft] var model: Option[Model] = None
  def fitModel(ctx: Ctx, in: In): Model
  def applyModel(m: Model, ctx: Ctx, in: In): Map[String, DataFrame]
  final override def fit(ctx: Ctx, in: In): Unit = model = Some(fitModel(ctx, in))
  final override def transform(ctx: Ctx, in: In): Map[String, DataFrame] =
    applyModel(model.getOrElse(
      throw new GraftException(s"estimator node '$name' transformed before fit")), ctx, in)
  def isFitted: Boolean = model.isDefined
  /** The fitted model; fails loudly on a node that was never fitted. */
  protected[graft] def fitted: Model =
    model.getOrElse(throw new GraftException(s"estimator node '$name' not fitted"))

  /** Fitted-state persistence (reference per-node `dump(f)`/`load(f)` pickle,
    * mldagbase.py:744-765, 954-977): java serialization of the model. Nodes
    * whose model is not `Serializable` override (e.g. SparkMlNode → MLWriter).
    */
  def saveFitted(path: String): Unit = {
    val m = fitted
    val os = new java.io.ObjectOutputStream(new java.io.FileOutputStream(path))
    try os.writeObject(m.asInstanceOf[AnyRef]) finally os.close()
  }
  def loadFitted(path: String): Unit = {
    val is = new java.io.ObjectInputStream(new java.io.FileInputStream(path))
    try model = Some(is.readObject().asInstanceOf[Model]) finally is.close()
  }
}

/** Wraps any `org.apache.spark.ml` Estimator as a node (the sklearn-style
  * case of reference EstimatorNode). Ports: df -> result.
  */
class SparkMlNode(
    est: org.apache.spark.ml.Estimator[_ <: org.apache.spark.ml.Model[_]],
    base: String = "ml")
  extends EstimatorNode {
  type Model = org.apache.spark.ml.Transformer
  override protected def defaultName: String = base
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  def fitModel(ctx: Ctx, in: In): Model = est.fit(in("df"))
  def applyModel(m: Model, ctx: Ctx, in: In): Map[String, DataFrame] =
    Map("result" -> m.transform(in("df")))
  def fittedModel: Option[org.apache.spark.ml.Transformer] = model

  /** Fitted-state persistence through spark.ml's own MLWritable/MLReadable
    * (reference `EstimatorNode.dump`, mldagbase.py:954-977): a directory of
    * parquet + JSON metadata that survives Spark version upgrades, unlike
    * java serialization of internal classes. `path` is a directory.
    */
  override def saveFitted(path: String): Unit = {
    fitted match {
      case w: org.apache.spark.ml.util.MLWritable => w.write.overwrite().save(path)
      case other => throw new GraftException(
        s"estimator node '$name': fitted model ${other.getClass.getName} is not MLWritable")
    }
  }
  override def loadFitted(path: String): Unit = {
    // the model class name is recorded in the MLWriter metadata; read it via
    // the Hadoop FileSystem API (hdfs://, s3a://, local all work — MLWriter
    // saves to any of them, so load must too), then dispatch to the matching
    // MLReadable companion's static `load`
    val spark = org.apache.spark.sql.SparkSession.active
    val metaDir = new org.apache.hadoop.fs.Path(path, "metadata")
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = Option(fs.globStatus(new org.apache.hadoop.fs.Path(metaDir, "part-*")))
      .getOrElse(Array.empty).sortBy(_.getPath.getName)
    if (parts.isEmpty) throw new GraftException(s"no MLWriter metadata under $path")
    val line = {
      val in = fs.open(parts.head.getPath)
      try new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8")).readLine()
      finally in.close()
    }
    val className = {
      val m = """"class":"([^"]+)"""".r.findFirstMatchIn(Option(line).getOrElse(""))
      m.map(_.group(1)).getOrElse(
        throw new GraftException(s"malformed MLWriter metadata under $path"))
    }
    val companion = Class.forName(className + "$")
    val module = companion.getField("MODULE$").get(null)
    val loaded = companion.getMethod("load", classOf[String]).invoke(module, path)
    model = Some(loaded.asInstanceOf[Model])
  }
}

/** Weight sharing: re-applies an already-fitted node elsewhere in the DAG,
  * referenced by name and resolved lazily in-graph (reference `TransformNode`,
  * mldagbase.py:1120-1188). `fit` is a no-op; a scheduling dependency on the
  * parent is added automatically so fit happens first.
  */
class TransformNode(val parentName: String) extends Node {
  private def parent: Node = attached match {
    case Some(d) => d.nodeOpt(parentName).getOrElse(
      throw new GraftException(s"transform node '$name': parent '$parentName' not in dag"))
    case None => throw new GraftException(s"transform node '$name' not attached to a dag")
  }
  def inputs: Seq[Port] = parent.inputs
  def outputs: Seq[Port] = parent.outputs
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = parent.transform(ctx, in)
}

/** Nests a whole DAG as a single node (reference `MLDagNode`,
  * mldagbase.py:980-1117). Inner inputs/outputs become this node's ports;
  * Catalyst still sees one fused plan because everything stays lazy.
  */
class SubDagNode(val inner: Dag, val base: String = "sub_dag") extends Node {
  override protected def defaultName: String = base
  def inputs: Seq[Port] = inner.inputPorts
  def outputs: Seq[Port] = inner.outputNames.map(Port(_))
  // tagged forwarding: keyed-port origin names survive the nesting boundary
  override def fit(ctx: Ctx, in: In): Unit = { inner.fitTagged(ctx, in.taggedMap); () }
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] =
    inner.transformTagged(ctx, in.taggedMap).outputs
  /** Nested topology serializes recursively (reference MLDagNode through
    * Graph.to_dict); fails with the closure error if the inner dag holds a
    * non-serializable node. */
  override def jsonKind: Option[String] = Some("sub_dag")
  override def jsonParams: Map[String, Any] =
    Map("dag" -> DagJson.dagToMap(inner), "base" -> base)
}

object Node {
  /** Reference `as_node` factory (mldagbase.py:1191-1226). */
  def of(f: DataFrame => DataFrame, name: String = "fn"): FnNode = FnNode.map1(name)(f)
  def of(dag: Dag): SubDagNode = new SubDagNode(dag)
  /** Reference `as_transform` (mldagbase.py:1229-1251). */
  def asTransform(parent: Node): TransformNode = new TransformNode(parent.name)
}

/** A node whose maintained state can feed DOWNSTREAM maintained state (the
  * IVM chain: a materialized join feeding a chained join or dashboard).
  * The subscription itself is process-local runtime wiring, so a restored
  * pipeline must RE-ATTACH it; this trait is the dag-core hook that lets
  * [[Dag.reattachChains]] do that without the dag layer depending on the
  * node library. `kind` names the chain flavor the source understands
  * (e.g. "aggregate", "join"); `target` is the already-LOADED downstream
  * node — re-attachment must never refit it (its own saved state is the
  * seed; an O(corpus) re-seed per restart is exactly what this avoids). */
trait ChainSource { self: Node =>
  def reattachChain(ctx: Ctx, kind: String, target: Node): Unit
}
