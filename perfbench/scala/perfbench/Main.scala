package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry
import graft.dag.{Ctx, In}
import graft.nodes._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One benchmark run: `Main <workload> <dataDir> <workDir> <seconds> <trace> <out.json>`.
  *
  * A single client thread drives one closed loop through the library's
  * public entry points. Set-up is repeated SetupReps times and its median
  * reported; the measured region then runs whole cycles of the workload's
  * operation sequence until `seconds` have passed. Everything the
  * correctness oracles need is written to `out.json` after the measured
  * region. With `trace` = 1 the run also records spans and Spark listener
  * data and reports per-layer metrics (see README.md). */
object Main {
  private val jvmStart = System.nanoTime()
  def progress(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - jvmStart) / 1e9}%7.2f s $msg")
  val Cores = 4
  val SetupReps = 3
  /** Ops are not started after this much run time, so a slow tree still
    * finishes inside the per-run limit. */
  val HardStopS = 110.0

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, secondsArg, traceArg, outPath) = args
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tr = new Tracer(spark, traceArg == "1")
    val run = new Run(spark, tr, dataDir, workDir, secondsArg.toDouble, sessionS)
    progress(f"session up in $sessionS%.2f s")
    val out = try workload match {
      case "batch_dag" => run.batchDag()
      case "index_waves" => run.indexWaves()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      progress("stopping session")
      spark.stop()
    }
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writeValue(new File(outPath), out)
    progress("done")
  }
}

/** An operation's outcome: its kind, name, wall ms, and whether it threw. */
final case class Op(kind: String, name: String, ms: Double, ok: Boolean)

final class Run(spark: SparkSession, tr: Tracer, dataDir: String, workDir: String,
                seconds: Double, sessionS: Double) {
  import Main._
  private val ctx = Ctx(spark)
  private val ops = mutable.ArrayBuffer[Op]()
  private val cycles = mutable.ArrayBuffer[Double]()
  private val errors = mutable.ArrayBuffer[String]()
  private val planNodes = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Int]]()
  private val runStart = System.nanoTime()
  private def elapsedS = (System.nanoTime() - runStart) / 1e9
  private def ms(t: Long) = (System.nanoTime() - t) / 1e6

  private def read(name: String): DataFrame = spark.read.parquet(s"$dataDir/$name.parquet")

  /** Time one operation; a throw is recorded as a failed op. */
  private def op(kind: String, name: String)(body: => Unit): Boolean = {
    val t = System.nanoTime()
    val ok = try { tr.span(name, "op")(body); true } catch {
      case e: Throwable =>
        errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        false
    }
    ops += Op(kind, name, ms(t), ok)
    progress(f"$name%-24s ${ops.last.ms}%10.1f ms${if (ok) "" else " FAILED"}")
    ok
  }

  /** Count the analyzed-plan nodes of a served frame (traced runs only). */
  private def served(family: String, df: DataFrame): DataFrame = {
    if (tr.enabled) {
      var n = 0
      df.queryExecution.analyzed.foreach(_ => n += 1)
      planNodes.getOrElseUpdate(family, mutable.ArrayBuffer()) += n
    }
    df
  }

  private def hygiene(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Driver heap still live after a full collection: what the run leaves
    * reachable (persisted frames, retained plans). The raw pool peak mostly
    * tracks how far the young generation filled before a collection, which
    * varies run to run. The pause lets Spark's ContextCleaner drop the state
    * of frames the first collection found unreachable. */
  private var liveMb = 0.0
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def dirBytes(f: File): (Long, Int) =
    if (!f.exists) (0L, 0)
    else if (f.isFile) (f.length, 1)
    else f.listFiles.map(dirBytes).foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  /** Runs `setup` SetupReps times (the last result is kept) and returns it
    * with the median set-up seconds. */
  private def setup[T](fresh: Int => T, release: T => Unit): (T, Double) = {
    val times = mutable.ArrayBuffer[Double]()
    var last: Option[T] = None
    for (r <- 0 until SetupReps) {
      last.foreach(release)
      hygiene()
      val t = System.nanoTime()
      last = Some(tr.span(s"setup.$r", "op")(fresh(r)))
      times += ms(t) / 1000
      progress(f"setup.$r%-18s ${times.last}%10.3f s")
    }
    (last.get, median(times.toSeq))
  }

  /** The measured region: runs whole cycles until `seconds` pass or
    * `cycle` returns false. */
  private def measure(cycle: Int => Boolean): (Double, Double) = {
    planNodes.clear()
    val m0 = tr.now
    val t = System.nanoTime()
    var c = 0
    var go = true
    while (go) {
      val tc = System.nanoTime()
      go = cycle(c)
      cycles += ms(tc) / 1000
      c += 1
      go = go && ms(t) / 1000 < seconds && elapsedS < HardStopS
    }
    val m1 = tr.now
    liveMb = liveHeapMb()
    (m0, m1)
  }

  /** End-to-end metrics, per-layer metrics and run bookkeeping. */
  private def result(kind: String, setupS: Double, window: (Double, Double),
                     extra: Map[String, Any], layers: => Map[String, Double]): Map[String, Any] = {
    val timed = ops.filter(o => o.kind == kind && o.ok).toSeq
    val lat = timed.map(_.ms)
    // median over distinct operations of each one's median: the same DAG
    // mix gives the same statistic however many passes fit in the run
    val opP50 = median(timed.groupBy(_.name).values.map(os => median(os.map(_.ms))).toSeq)
    val wallS = (window._2 - window._1) / 1000
    val e2e = Map(
      "setup_s" -> setupS,
      "op_p50_ms" -> opP50,
      "cycle_s" -> median(cycles.toSeq),
      "heap_live_mb" -> liveMb)
    val layerMetrics = if (!tr.enabled) Map.empty[String, Double] else {
      tr.drain()
      layers ++ traceMetrics(window, wallS, lat) ++ Map(
        "trace.op_p50_ms" -> opP50, "trace.setup_s" -> setupS)
    }
    Map("e2e" -> e2e, "layers" -> layerMetrics, "attempted" -> ops.size,
      "failed" -> ops.count(!_.ok), "errors" -> errors) ++ extra
  }

  /** Scheduler, executor, Catalyst and self-time metrics over the window. */
  private def traceMetrics(w: (Double, Double), wallS: Double, lat: Seq[Double]): Map[String, Double] = {
    val js = tr.jobs.values.asScala.filter(j => j.start >= w._1 && j.start <= w._2).toSeq
    val ex = tr.executions.asScala.filter(e => e._1 >= w._1 && e._1 <= w._2).toSeq
    def phase(p: String) = ex.map(_._2.getOrElse(p, 0L)).sum / 1000.0
    val self = tr.selfTimes(w._1, w._2)
    val taskS = js.map(_.taskMs).sum / 1000.0
    val mb = 1e6
    val fams = Seq("mj", "agg", "cluster")
    val famMetrics = fams.flatMap { f =>
      def calls(c: String) = tr.spans.filter(_.name == s"$f.$c")
      def medS(c: String) = median(calls(c).map(s => (s.end - s.start) / 1000).toSeq)
      val inWindow = tr.spans.filter(s => s.name.startsWith(s"$f.") && s.start >= w._1 && s.end <= w._2)
      val ids = inWindow.map(_.id).toSet
      val fjobs = js.count(j => ids.contains(j.span))
      Seq(s"index.$f.fit_s" -> medS("fit"), s"index.$f.wave_s" -> medS("wave"),
        s"index.$f.serve_s" -> medS("serve"),
        s"index.$f.jobs_per_call" -> (if (inWindow.isEmpty) 0.0 else fjobs.toDouble / inWindow.size))
    }
    val nodes = planNodes.values.flatten
    Map(
      "self.bench_s" -> self.getOrElse("bench", 0.0),
      "self.dag_s" -> self.getOrElse("dag", 0.0),
      "self.index_s" -> self.getOrElse("index", 0.0),
      "self.action_s" -> self.getOrElse("action", 0.0),
      "self.catalyst_s" -> self.getOrElse("catalyst", 0.0),
      "self.jobs_s" -> self.getOrElse("jobs", 0.0),
      "trace.wall_s" -> wallS,
      "dag.build_s" -> tr.spans.filter(s => s.layer == "dag" && s.start >= w._1 && s.end <= w._2)
        .map(s => (s.end - s.start) / 1000).sum,
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimizer_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "catalyst.executions" -> ex.size.toDouble,
      "catalyst.plan_nodes" -> (if (nodes.isEmpty) 0.0 else nodes.max.toDouble),
      "sched.jobs" -> js.size.toDouble,
      "sched.stages" -> js.map(_.stages).sum.toDouble,
      "sched.tasks" -> js.map(_.tasks).sum.toDouble,
      "sched.jobs_per_op" -> js.size.toDouble / lat.size.max(1),
      "sched.driver_gap_s" -> (wallS - self.getOrElse("jobs", 0.0)),
      "exec.task_s" -> taskS,
      "exec.parallel_eff" -> taskS / (wallS * Cores),
      "exec.shuffle_read_mb" -> js.map(_.shRead).sum / mb,
      "exec.shuffle_write_mb" -> js.map(_.shWrite).sum / mb,
      "exec.spill_mb" -> js.map(_.spill).sum / mb,
      "exec.gc_s" -> js.map(_.gcMs).sum / 1000.0) ++ famMetrics
  }

  /** Spans and jobs as JSON-ready records (the traced run's span dump). */
  private def spanDump: Map[String, Any] = if (!tr.enabled) Map.empty else Map("spans" ->
    tr.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "layer" -> s.layer, "start" -> s.start, "end" -> s.end, "rules_ms" -> s.rulesNs / 1e6)),
    "jobs" -> tr.jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map("id" -> j.id,
      "span" -> j.span, "start" -> j.start, "end" -> j.end, "stages" -> j.stages,
      "tasks" -> j.tasks, "task_ms" -> j.taskMs)))

  // ------------------------------------------------------------------
  // batch_dag: repeated passes over a fixed set of registered DAGs
  // ------------------------------------------------------------------
  val BatchQueries = Seq("q1_agg", "q2_join_star", "q14_range_join", "q89_pretrain_pipeline")
  val BatchTables = Seq("region", "nation", "customer", "orders", "lineitem", "part",
    "supplier", "documents")

  def batchDag(): Map[String, Any] = {
    val outDir = s"$workDir/out"
    val perQuery = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    def pass(timed: Boolean): Boolean = BatchQueries.forall { q =>
      val t = System.nanoTime()
      val ok = op(if (timed) "dag" else "warmup", q) {
        val df = served("dag", tr.span("build", "dag")(SparkEntry.queries(q)(spark, dataDir)))
        tr.span("write", "action")(df.write.mode("overwrite").parquet(s"$outDir/$q"))
        hygiene()
      }
      if (timed) perQuery.getOrElseUpdate(q, mutable.ArrayBuffer()) += ms(t) / 1000
      ok
    }
    val (_, loadS) = setup[Unit](_ =>
      BatchTables.foreach(t => tr.span(s"load.$t", "action")(read(t).count())), _ => ())
    val tw = System.nanoTime()
    tr.span("warmup", "op")(pass(timed = false))
    val setupS = sessionS + loadS + ms(tw) / 1000
    val window = measure(_ => pass(timed = true))
    result("dag", setupS, window,
      Map("out_dir" -> outDir,
        "oracles" -> BatchQueries.map(q => q -> SparkEntry.oracleSql(q)).toMap) ++ spanDump,
      BatchQueries.map(q => s"batch.${q}_s" -> median(perQuery.getOrElse(q, Nil).toSeq)).toMap)
  }

  // ------------------------------------------------------------------
  // index_waves: the incremental indexes after fit, two legs per cycle
  // ------------------------------------------------------------------
  /** Chain waves per run, from a fresh fit. A whole SegStore fold cycle
    * (32 store writes, ~11 waves, ~100 s on a 4-core host) does not fit the
    * run budget; a fixed count keeps every run at the same point of the
    * fold sawtooth, so the median does not depend on where a run stopped. */
  val ChainWaves = 1

  private def localFrame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Rows of `table` grouped by its `wave` column (without it). */
  private def waves(table: String): (Map[Int, Seq[Row]], StructType) = {
    val df = read(table)
    val cols = df.columns.filter(_ != "wave")
    val rows = df.select("wave", cols.toIndexedSeq: _*).collect()
    (rows.groupBy(_.getInt(0)).map { case (w, rs) => w -> rs.map(r => Row.fromSeq(r.toSeq.tail)).toSeq },
      StructType(df.select(cols.head, cols.tail.toIndexedSeq: _*).schema.fields))
  }

  def indexWaves(): Map[String, Any] = {
    val state = s"$workDir/state"
    val (ups, upSchema) = waves("chain_upserts")
    val (dels, delSchema) = waves("chain_deletes")
    val (edges, edgeSchema) = waves("cluster_edge_waves")
    val nations = read("nation").select("n_nationkey", "n_name")
    val aggProbe = localFrame(read("nation").select("n_name").collect().toSeq :+ Row(null),
      StructType(Seq(StructField("n_name", StringType))))
    val maxDoc = (edges.values.flatten.flatMap(r => Seq(r.getLong(0), r.getLong(1))) ++ Seq(0L)).max + 1
    val clusterIds = spark.range(maxDoc).selectExpr("id as doc_id")

    // set-up repeated SetupReps times: input load and the chain fit; the
    // cluster fit runs once (its connected-components fit is the costliest
    // set-up step, and the run budget has no room for three)
    final class Chain(val mj1: MaterializedJoinNode, val mj2: MaterializedJoinNode,
                      val agg: AggIndexNode)
    def fresh(r: Int): Chain = {
      val root = s"$state/r$r"
      val mj1 = new MaterializedJoinNode(leftOn = Seq("o_custkey"), rightOn = Seq("c_custkey"),
        leftId = "o_orderkey", rightId = "c_custkey", joinType = "left_outer",
        compactPath = Some(s"$root/mj1"))
      val mj2 = new MaterializedJoinNode(leftOn = Seq("c_nationkey"),
        rightOn = Seq("n_nationkey"), leftId = "v1_id", rightId = "n_nationkey",
        joinType = "left_outer", compactPath = Some(s"$root/mj2"))
      val agg = new AggIndexNode(groupCols = Seq("n_name"), sumCols = Seq("price_i"),
        idCol = MaterializedJoinNode.ViewIdCol, compactPath = Some(s"$root/agg"))
      tr.span("mj.fit", "index") {
        mj1.fit(ctx, In.single("left" -> read("facts"),
          "right" -> read("customer").select("c_custkey", "c_mktsegment", "c_nationkey")))
        mj1.chainJoin(ctx, mj2, nations)
      }
      tr.span("agg.fit", "index")(mj2.chainAggregate(ctx, agg))
      new Chain(mj1, mj2, agg)
    }
    val (c, chainSetupS) = setup[Chain](fresh, c => {
      c.mj1.unpersistIndex(); c.mj2.unpersistIndex(); c.agg.unpersistIndex()
    })
    val tf = System.nanoTime()
    val cl = new ClusterIndexNode()
    tr.span("cluster.fit", "index")(cl.fit(ctx, In.single("pairs" -> read("cluster_edges"))))

    def aggServe(): Seq[Seq[Any]] = tr.span("agg.serve", "index")(
      served("agg", c.agg.transform(ctx, In.single("probe" -> aggProbe))("result"))
        .select("n_name", "n_rows", "sum_price_i").collect().map(_.toSeq).toSeq)
    def clusterServe(): Seq[Seq[Any]] = tr.span("cluster.serve", "index")(
      served("cluster", cl.transform(ctx, In.single("queries" -> clusterIds))("result"))
        .collect().map(_.toSeq).toSeq)
    // warm-up: one read of each served frame
    aggServe(); clusterServe()
    val setupS = sessionS + chainSetupS + ms(tf) / 1000

    val chainServed = mutable.ArrayBuffer[Seq[Seq[Any]]]()
    val legs = mutable.LinkedHashMap[String, Double]()
    var chainWaves = 0
    var clusterWaves = 0
    var clusterServed: Seq[Seq[Any]] = Nil
    def leg(name: String)(body: => Boolean): Boolean = {
      val t = System.nanoTime()
      val ok = body
      legs(name) = ms(t) / 1000
      ok
    }
    // one cycle of two legs; the cluster index is not maintained longer
    // than its leg (its served plan grows ~5x per wave, see README.md)
    val window = measure { _ =>
      leg("view_drain_s") {
        (0 until ChainWaves).forall { w =>
          val ok = op("wave", s"chain.w$w") {
            tr.span("mj.wave", "index")(c.mj1.applyCdcWave(ctx,
              localFrame(ups(w), upSchema), localFrame(dels.getOrElse(w, Nil), delSchema)))
            chainServed += aggServe()
          }
          if (ok) chainWaves += 1
          ok
        }
      } && leg("cluster_drain_s") {
        edges.keys.toSeq.sorted.forall { w =>
          val ok = op("wave", s"cluster.w$w") {
            tr.span("cluster.wave", "index")(cl.updateIndex(ctx, localFrame(edges(w), edgeSchema)))
            clusterServed = clusterServe()
          }
          if (ok) clusterWaves += 1
          ok
        }
      }
      false
    }
    // state of the chain kept after the set-up repetitions
    val kept = s"$state/r${SetupReps - 1}"
    val (diskB, files) = dirBytes(new File(kept))
    val famFiles = Seq("mj" -> Seq("mj1", "mj2"), "agg" -> Seq("agg"))
      .map { case (f, ds) => s"index.$f.files" -> ds.map(d => dirBytes(new File(s"$kept/$d"))._2).sum.toDouble }
    val plans = planNodes.getOrElse("cluster", Nil)
    val chainLat = ops.filter(o => o.ok && o.name.startsWith("chain.")).map(_.ms / 1000).toSeq
    result("wave", setupS, window,
      Map("chain_waves" -> chainWaves, "chain_served" -> chainServed, "cluster_waves" -> clusterWaves,
        "cluster_served" -> clusterServed, "cluster_ids" -> maxDoc) ++ spanDump,
      famFiles.toMap ++ legs.map { case (k, v) => s"leg.$k" -> v } ++ Map(
        "leg.view_wave_p50_s" -> median(chainLat),
        "index.state_disk_mb" -> diskB / 1e6,
        "index.state_files" -> files.toDouble,
        "index.cluster.plan_nodes" -> (if (plans.isEmpty) 0.0 else plans.last.toDouble),
        "index.cluster.plan_growth" -> (if (plans.size < 2) 0.0 else plans.last.toDouble / plans.head)))
  }
}
