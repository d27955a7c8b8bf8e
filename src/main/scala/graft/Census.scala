package graft

import graft.dag.{Ctx, In}
import graft.nodes._

/** Per-wave driver-cost census for the chained-IVM tail: brackets each
  * maintenance wave of the q212-shaped star chain and prints (a) every
  * driver job's last-stage callsite (SparkListener) and (b) every tracked
  * execution's duration (QueryExecutionListener) — the r18 instrument
  * that located the wave wall in sequential driver-blocking executions
  * (state writes + barrier `toRdd` stage execution under AQE), not in
  * broadcast-build counts. Runs on the [[GraftSession]] contract config
  * (cores from SPARK_GRAFT_CPUS, driver heap from SPARK_DRIVER_MEM via
  * build.sbt) with an optional sf-dir argument:
  * `SPARK_GRAFT_CPUS=32 sbt "runMain graft.Census <sf-dir>"`.
  */
object Census {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = GraftSession("ERROR")
    graft.functions.VecFunctions.register(spark)

    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val last = j.stageInfos.lastOption.map(_.name).getOrElse("?")
        jobs.add(last.take(100))
      }
    }
    spark.sparkContext.addSparkListener(l)
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        execs.add(f"$funcName ${durationNs / 1e9}%6.3f s  " +
          qe.analyzed.getClass.getSimpleName)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    })

    def wave(label: String)(body: => Unit): Unit = {
      Thread.sleep(300) // let the listener bus drain
      jobs.clear(); execs.clear()
      val t0 = System.nanoTime()
      body
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain
      val all = jobs.toArray(Array.empty[String])
      val bc = all.count(_.contains("executeCollectIterator"))
      println(f"[census] $label%-28s jobs=${all.length}%3d bcast=$bc%3d  ${sec}%6.2f s")
      all.groupBy(identity).toSeq.sortBy(-_._2.length).foreach { case (c, n) =>
        println(s"[census]    ${n.length}x  $c")
      }
      execs.toArray(Array.empty[String]).foreach(e => println(s"[census]    exec $e"))
    }

    val ctx = Ctx(spark)
    import org.apache.spark.sql.functions.col
    val facts = spark.read.parquet(s"$dir/orders.parquet")
      .selectExpr("o_orderkey", "o_custkey",
        "cast(floor(o_totalprice) as bigint) as price_i")
    val dims = spark.read.parquet(s"$dir/customer.parquet")
      .select("c_custkey", "c_mktsegment", "c_nationkey")
    val nations = spark.read.parquet(s"$dir/nation.parquet")

    val mj1 = new MaterializedJoinNode(leftOn = Seq("o_custkey"),
      rightOn = Seq("c_custkey"), leftId = "o_orderkey", rightId = "c_custkey",
      joinType = "left_outer")
    wave("fit mj1") {
      mj1.fit(ctx, In.single(
        "left" -> facts.filter("o_orderkey % 5 != 0"),
        "right" -> dims.filter("c_custkey % 10 != 0")))
    }
    val mj2 = new MaterializedJoinNode(leftOn = Seq("c_nationkey"),
      rightOn = Seq("n_nationkey"), leftId = "v1_id", rightId = "n_nationkey",
      joinType = "left_outer")
    wave("chainJoin mj2") {
      mj1.chainJoin(ctx, mj2,
        nations.filter("n_nationkey % 2 = 0").select("n_nationkey", "n_name"))
    }
    val agg = new AggIndexNode(groupCols = Seq("n_name"),
      sumCols = Seq("price_i"), idCol = MaterializedJoinNode.ViewIdCol)
    wave("chainAggregate") { mj2.chainAggregate(ctx, agg) }

    wave("insert %5") {
      mj1.updateIndex(ctx, facts.filter("o_orderkey % 5 = 0"))
    }
    wave("delete %3") {
      mj1.deleteFromIndex(ctx,
        facts.filter("o_orderkey % 3 = 0").select("o_orderkey"))
    }
    wave("re-insert %3") {
      mj1.updateIndex(ctx, facts.filter("o_orderkey % 3 = 0")
        .selectExpr("o_orderkey", "o_custkey", "price_i + 1000 as price_i"))
    }
    wave("delete %7") {
      mj1.deleteFromIndex(ctx,
        facts.filter("o_orderkey % 7 = 0").select("o_orderkey"))
    }
    wave("dim1 insert") { mj1.updateRight(ctx, dims.filter("c_custkey % 10 = 0")) }
    wave("dim1 delete") {
      mj1.deleteFromRight(ctx, dims.filter("c_nationkey = 3").select("c_custkey"))
    }
    wave("dim2 insert") {
      mj2.updateRight(ctx,
        nations.filter("n_nationkey % 2 = 1").select("n_nationkey", "n_name"))
    }
    wave("dim2 delete") {
      mj2.deleteFromRight(ctx,
        nations.filter("n_regionkey = 2").select("n_nationkey"))
    }
    val probe = nations.select("n_name").distinct()
      .unionByName(nations.selectExpr("cast(null as string) as n_name").limit(1))
    wave("serve") {
      println("[census] rows=" +
        agg.transform(ctx, In.single("probe" -> probe))("result").count())
    }
    spark.stop()
  }
}
