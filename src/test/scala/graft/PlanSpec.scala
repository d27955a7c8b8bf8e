package graft

import graft.dag._
import graft.nodes._
import graft.queries.{NorthStar, Queries, Relational}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits — the properties that decide 100 TB behavior must not
  * regress: predicate pushdown to the parquet scan, column pruning
  * (ReadSchema), broadcast of dimension tables, partial aggregation, top-k
  * without a global sort. Checked against explain output at sf0.001.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val dir = "/root/testdata/sf0.001"

  // formatted explain includes scan metadata (PushedFilters/ReadSchema)
  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  test("q1: filter pushed to parquet scan; scan pruned to needed columns") {
    val p = planOf(Queries.q1_agg(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    // 5 of 16 lineitem columns read
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
      "l_returnflag:string,l_linestatus:string,l_shipdate:timestamp_ntz>"))
    assert(p.contains("partial_sum"), "map-side partial aggregation expected")
  }

  test("q2: post-join date filter pushes through the join into the orders scan") {
    val p = planOf(Relational.q2_join_star(spark, dir))
    assert(p.contains("GreaterThanOrEqual(o_orderdate,1996-01-01"))
    assert(p.contains("BroadcastHashJoin"))
    // region filter r_name = 'ASIA' pushed into the region scan
    assert(p.contains("EqualTo(r_name,ASIA)"))
    // lineitem pruned to the 3 columns the query needs
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>"))
  }

  test("q3: top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = planOf(Relational.q3_topk(spark, dir))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q4/q5: semi and anti joins stay semi/anti in the physical plan") {
    assert(planOf(Relational.q4_semi_join(spark, dir)).contains("LeftSemi"))
    assert(planOf(Relational.q5_anti_join(spark, dir)).contains("LeftAnti"))
  }

  test("bucketed tables join with zero shuffle (co-located join)") {
    val spark0 = spark
    import spark0.implicits._
    Seq("bkt_a", "bkt_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) { // stale location from an aborted previous run
        loc.listFiles().foreach(_.delete()); loc.delete()
      }
    }
    val a = (1L to 1000L).map(i => (i, s"a$i")).toDF("k", "va")
    val b = (1L to 1000L).map(i => (i, i * 2)).toDF("k", "vb")
    // write both sides through the node (BucketedSinkNode), then join the
    // node OUTPUTS — the co-location property must survive the node boundary
    val d = new Dag()
    val sa = d.add(new BucketedSinkNode("bkt_a", Seq("k"), 8, sortCols = Seq("k")))
    val sb = d.add(new BucketedSinkNode("bkt_b", Seq("k"), 8, sortCols = Seq("k")))
    val j = d.add(JoinNode.using(Seq("k")))
    d.input("a") >> sa; d.input("b") >> sb
    sa >> j("left"); sb >> j("right")
    j >> d.output("result")
    // force the shuffle-based path: with broadcast allowed, tiny tables take
    // BroadcastHashJoin and the planner disables bucketed reads entirely
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = d.transform(Ctx(spark), Map("a" -> a, "b" -> b)).outputs("result")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"))
      assert(joined.count() == 1000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE bkt_a"); spark.sql("DROP TABLE bkt_b")
    }
  }

  test("partitioned sink output is partition-pruned on read") {
    val spark0 = spark
    import spark0.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString + "/docs"
    Seq((1L, "en", "a"), (2L, "de", "b"), (3L, "en", "c"))
      .toDF("doc_id", "lang", "text")
      .write.partitionBy("lang").parquet(dir)
    val read = spark.read.parquet(dir).filter($"lang" === "en")
    val p = read.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PartitionFilters") && p.contains("lang"))
    // the partition predicate must NOT appear as a data filter
    assert(!p.contains("PushedFilters: [IsNotNull(lang)"))
    assert(read.count() == 2)
  }

  test("q74: id-list join-backs are semi joins; only the bounded benchmark side is broadcast-hinted") {
    val df = NorthStar.q74_curation(spark, dir)
    // the id lists (clean_ids / surv_ids) are O(corpus) rows — a pinned
    // broadcast there driver-collects the corpus at 100 TB. Exactly one
    // broadcast hint may remain: ContaminationNode's benchmark shingle set
    // (bounded by the eval set, not the corpus).
    val opt = df.queryExecution.optimizedPlan.toString
    val hints = "strategy=broadcast".r.findAllIn(opt).length
    assert(hints <= 1, s"expected at most the bounded benchmark broadcast hint, got $hints")
    val p = planOf(df)
    assert("LeftSemi".r.findAllIn(p).length >= 2,
      "clean_join/surv_join must stay semi joins (AQE may still elect broadcast at runtime)")
  }

  test("q6: ranking window partitions by the window key, single window node") {
    val p = planOf(Relational.q6_window_rank(spark, dir))
    assert(p.contains("Window"))
    assert(p.contains("row_number"))
  }

  test("split/chunk/redact stay narrow: no exchange before the first aggregation") {
    import graft.dag._
    import graft.nodes._
    def build(f: Dag => Unit): org.apache.spark.sql.DataFrame = {
      val d = new Dag(); f(d); d.transform(Ctx(spark)).outputs("result")
    }
    // SplitNode: pure per-row hash arithmetic — a filter on one split must
    // compile to scan + filter + project only (zero shuffles end to end)
    val sp = planOf(build { d =>
      d.add(SourceNode.table(dir, "documents")) >> new SplitNode() >>
        FilterNode("split = 'train'") >> d.output("result")
    })
    assert(!sp.contains("Exchange"), s"SplitNode pipeline must not shuffle:\n$sp")
    // ChunkNode: tokenize + generate — narrow Generate, no Exchange
    val ch = planOf(build { d =>
      d.add(SourceNode.table(dir, "documents")) >>
        new ChunkNode(chunkTokens = 16, overlap = 2) >> d.output("result")
    })
    assert(ch.contains("Generate"), "chunking should be a Generate (posexplode)")
    assert(!ch.contains("Exchange"), s"ChunkNode must not shuffle:\n$ch")
    // RedactNode: regexp chain in one projection over the scan
    val re = planOf(build { d =>
      d.add(SourceNode.table(dir, "documents")) >> new RedactNode() >> d.output("result")
    })
    assert(!re.contains("Exchange"), s"RedactNode must not shuffle:\n$re")
  }

  test("curation nodes keep their scale shapes: mix/normalize narrow, pack one exchange") {
    import graft.dag._
    import graft.nodes._
    def build(f: Dag => Unit): org.apache.spark.sql.DataFrame = {
      val d = new Dag(); f(d); d.transform(Ctx(spark)).outputs("result")
    }
    // DomainMixNode: hash arithmetic + generator — zero shuffles
    val mx = planOf(build { d =>
      d.add(SourceNode.table(dir, "documents")) >>
        new DomainMixNode(Seq("src0" -> 2.5)) >> d.output("result")
    })
    assert(!mx.contains("Exchange"), s"DomainMixNode must not shuffle:\n$mx")
    // NormalizeTextNode: one projection over the scan, codegen'd end to end
    val nm = planOf(build { d =>
      d.add(SourceNode.table(dir, "documents")) >> new NormalizeTextNode() >> d.output("result")
    })
    assert(!nm.contains("Exchange"), s"NormalizeTextNode must not shuffle:\n$nm")
    // formatted explain marks whole-stage-codegen members with [codegen id : N]
    assert(nm.contains("codegen id"), "unicode_norm must stay inside codegen")
    // SequencePackNode: exactly ONE exchange (the shard window partitioning)
    val pk = planOf(build { d =>
      d.add(SourceNode.table(dir, "documents")) >>
        new SequencePackNode(seqLen = 256, shards = 8) >> d.output("result")
    })
    // formatted explain prints each physical op once as "(N) Exchange"
    assert("""\(\d+\) Exchange""".r.findAllIn(pk).size == 1,
      s"SequencePackNode must shuffle exactly once (shard window):\n$pk")
  }

  test("round-6 nodes keep their scale shapes: conform narrow, LM apply two exchanges, metrics no collect") {
    import graft.dag._
    import graft.nodes._
    def build(f: Dag => Unit): org.apache.spark.sql.DataFrame = {
      val d = new Dag(); f(d); d.transform(Ctx(spark)).outputs("result")
    }
    // ConformSchemaNode: pure projection — no exchange at any width
    val cf = planOf(build { d =>
      d.add(SourceNode.table(dir, "orders")) >>
        new ConformSchemaNode(
          targets = Seq(("order_id", "bigint", null), ("region", "string", "'x'")),
          renames = Seq("o_orderkey" -> "order_id")) >> d.output("result")
    })
    assert(!cf.contains("Exchange"), s"ConformSchemaNode must not shuffle:\n$cf")
    // UnigramSurpriseNode apply: the vocabulary join + the per-doc groupBy
    // are the ONLY wide ops (token explode stays narrow; no collect)
    val d = new Dag()
    val lm = d.add(new UnigramSurpriseNode())
    val src = d.add(SourceNode.table(dir, "documents"))
    src >> lm("reference"); src("result") >> lm("df")
    val c = Ctx(spark)
    d.fit(c)
    lm >> d.output("result")
    val lp = planOf(d.transform(c).outputs("result"))
    // join + final agg; AQE may broadcast the vocab side (then 1 shuffle)
    val lmEx = """\(\d+\) Exchange""".r.findAllIn(lp).size
    assert(lmEx <= 3, s"LM apply must stay join+agg shaped (got $lmEx exchanges):\n$lp")
    // RankingMetricsNode: equi-joins + aggregates only — no cartesian
    val rm = planOf(build { dg =>
      val res = dg.add(SourceNode.table(dir, "embeddings")) >>
        ProjectNode("vec_id as query_id", "vec_id", "1 as rank").named("res")
      val rel = dg.add(SourceNode.table(dir, "embeddings").named("rel_src")) >>
        ProjectNode("vec_id as query_id", "vec_id").named("rel")
      val m = dg.add(new RankingMetricsNode(k = 10))
      res >> m("results"); rel >> m("relevant")
      m >> dg.output("result")
    })
    assert(!rm.contains("CartesianProduct"), s"metrics must stay equi-join shaped:\n$rm")
    // LmClassifierNode apply: classes ride as pivot COLUMNS — exactly ONE
    // join against the vocabulary frame, never a doc×class row blowup
    val d2 = new Dag()
    val cls = d2.add(new LmClassifierNode(labelCol = "lang"))
    val src2 = d2.add(SourceNode.table(dir, "documents"))
    src2 >> cls("seed"); src2("result") >> cls("df")
    val c2 = Ctx(spark)
    d2.fit(c2)
    cls >> d2.output("result")
    val cp = planOf(d2.transform(c2).outputs("result"))
    val nJoins = """\(\d+\) (SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)""".r
      .findAllIn(cp).size
    assert(nJoins == 1, s"classifier apply must be ONE vocab join (got $nJoins):\n$cp")
    assert(!cp.contains("CartesianProduct") && !cp.contains("BroadcastNestedLoopJoin"),
      s"classifier must never blow up doc×class:\n$cp")
    // TemperatureMixNode: the corpus joins the K-row stats via BROADCAST —
    // the big side is never sort-merge-shuffled for the join
    val tm = planOf(build { dg =>
      dg.add(SourceNode.table(dir, "documents")) >>
        new TemperatureMixNode(budget = 100L) >> dg.output("result")
    })
    assert(tm.contains("BroadcastHashJoin"), s"mix join must broadcast stats:\n$tm")
    assert(!tm.contains("SortMergeJoin"), s"mix must not shuffle the corpus for the join:\n$tm")
  }

  test("quality nodes keep their scale shapes: heuristic narrow, quota one exchange") {
    import graft.dag._
    import graft.nodes._
    def build(f: Dag => Unit): org.apache.spark.sql.DataFrame = {
      val d = new Dag(); f(d); d.transform(Ctx(spark)).outputs("result")
    }
    // HeuristicFilterNode: the full rule battery is one narrow projection
    val hf = planOf(build { d =>
      d.add(SourceNode.table(dir, "documents")) >>
        new HeuristicFilterNode(minStopwordHits = 1) >> d.output("result")
    })
    assert(!hf.contains("Exchange"), s"HeuristicFilterNode must not shuffle:\n$hf")
    // DomainQuotaNode: exactly ONE exchange (the per-stratum window)
    val dq = planOf(build { d =>
      d.add(SourceNode.table(dir, "documents")) >>
        new DomainQuotaNode(strataCol = "source", quota = 5,
          orderBy = Seq("n_chars desc")) >> d.output("result")
    })
    assert("""\(\d+\) Exchange""".r.findAllIn(dq).size == 1,
      s"DomainQuotaNode must shuffle exactly once (stratum window):\n$dq")
    // VocabFilterNode transform: the vocabulary joins BROADCAST — the only
    // exchange is the per-doc re-aggregation, never a shuffle of the vocab
    val d = new Dag()
    val vf = d.add(new VocabFilterNode(minDf = 2L, maxVocab = 16))
    d.add(SourceNode.table(dir, "documents")) >> vf("df")
    vf >> d.output("result")
    val c = Ctx(spark)
    d.fit(c)
    val vp = planOf(d.transform(c).outputs("result"))
    assert(vp.contains("BroadcastHashJoin") || vp.contains("BroadcastNestedLoopJoin"),
      s"vocab join must broadcast:\n$vp")
    // BpeTokenizerNode transform: the merge table rides in the plan — the
    // corpus-wide tokenization is a pure narrow map, zero Exchange
    val bd = new Dag()
    val bpe = bd.add(new BpeTokenizerNode(numMerges = 20, maxFitRows = 100L))
    bd.add(SourceNode.table(dir, "documents")) >> bpe("df")
    bpe >> bd.output("result")
    val bc = Ctx(spark)
    bd.fit(bc)
    val bp = planOf(bd.transform(bc).outputs("result"))
    assert(!bp.contains("Exchange"), s"BPE apply must not shuffle:\n$bp")
    // SemDedupNode: the nClusters-row size table joins BROADCAST — the big
    // side never shuffles for it
    val sd = new Dag()
    val sem = sd.add(new SemDedupNode(threshold = 0.9, nClusters = 4, maxFitRows = 100L))
    sd.add(SourceNode.table(dir, "embeddings")) >> sem("df")
    sem >> sd.output("result")
    val sc = Ctx(spark)
    sd.fit(sc)
    val sp = planOf(sd.transform(sc).outputs("result"))
    assert(sp.contains("BroadcastHashJoin"), s"semdedup size table must broadcast:\n$sp")
  }

  test("advanced nodes keep their scale shapes: bloom prefilter pre-exchange, merge broadcasts keys") {
    import graft.dag._
    import graft.nodes._
    def build(f: Dag => Unit): org.apache.spark.sql.DataFrame = {
      val d = new Dag(); f(d); d.transform(Ctx(spark)).outputs("result")
    }
    // BloomJoinNode: probe side carries the bloom UDF filter and the exact
    // join broadcasts the build side — the probe never shuffles
    val bj = planOf(build { d =>
      val li = d.add(SourceNode.table(dir, "lineitem"))
      val sup = d.add(SourceNode.table(dir, "supplier")) >> FilterNode("s_acctbal > 8000")
      val n = d.add(new BloomJoinNode(Seq("l_suppkey"), Seq("s_suppkey"),
        10000L, 0.01, "inner", broadcastBuild = true))
      li >> n("probe"); sup >> n("build")
      n >> d.output("result")
    })
    assert(bj.contains("BroadcastHashJoin"), s"bloom join must broadcast the build side:\n$bj")
    // the probe side reaches the broadcast join WITHOUT an Exchange: the only
    // allowed exchanges are broadcast ones
    assert(!bj.replace("BroadcastExchange", "").contains("Exchange"),
      s"bloom-pruned probe must not shuffle before the join:\n$bj")
    // MergeNode: the anti join against update keys broadcasts (base side
    // never shuffles); the union is a plan-only node
    val mg = planOf(build { d =>
      val base = d.add(SourceNode.table(dir, "customer"))
      val upd = d.add(SourceNode.table(dir, "customer").named("upd_src")) >>
        FilterNode("c_acctbal > 9000")
      val m = d.add(new MergeNode(Seq("c_custkey")))
      base >> m("base"); upd >> m("updates")
      m >> d.output("result")
    })
    assert(mg.contains("BroadcastHashJoin") &&
      (mg.contains("LeftAnti") || mg.contains("left_anti")),
      s"merge anti-join must broadcast update keys:\n$mg")
    // exactly TWO shuffles, both on the delta side (the skinny update-keys
    // distinct + the one-row-per-key guard window) — the base side must
    // reach the anti join straight from its scan
    assert("""\(\d+\) Exchange""".r.findAllIn(mg).size == 2,
      s"merge may shuffle only the delta side (keys distinct + dup-guard window), never the base:\n$mg")
    // Bm25TopKNode: the one-row corpus-stats frame enters the plan as a
    // BROADCAST nested-loop join (never a CartesianProduct, never a collect)
    val bm = planOf(build { d =>
      val c = d.add(SourceNode.table(dir, "documents"))
      val q = d.add(SourceNode.table(dir, "documents").named("q_src")) >>
        FilterNode("doc_id % 97 = 0") >> ProjectNode("doc_id as query_id", "text")
      val n = d.add(new Bm25TopKNode(k = 5))
      c >> n("corpus"); q >> n("queries")
      n >> d.output("result")
    })
    assert(bm.contains("BroadcastNestedLoopJoin"),
      s"bm25 corpus stats must broadcast into the scoring plan:\n$bm")
    assert(!bm.contains("CartesianProduct"),
      s"bm25 must never fall back to a cartesian product:\n$bm")
    // SessionizeNode: boundary flag + running sum share one window spec —
    // exactly ONE shuffle (the keyCols exchange), one sort
    val sz = planOf(build { d =>
      d.add(SourceNode.table(dir, "events")) >>
        new SessionizeNode(Seq("user_id"), "ts", 3600L, Seq("event_id")) >>
        d.output("result")
    })
    assert("""\(\d+\) Exchange""".r.findAllIn(sz).size == 1,
      s"sessionize must shuffle once on the key:\n$sz")
    assert("""\(\d+\) Sort""".r.findAllIn(sz).size == 1,
      s"sessionize's two window passes must reuse one sort:\n$sz")
    // WeightedSampleNode: pure narrow map — zero Exchange in the plan
    val ws = planOf(build { d =>
      d.add(SourceNode.table(dir, "documents")) >>
        new WeightedSampleNode("doc_id", "least(1.0, n_chars / 4000.0)") >>
        d.output("result")
    })
    assert(!ws.contains("Exchange"),
      s"weighted sample must stay narrow (no shuffle):\n$ws")
    // CheckpointNode: downstream plans must see a LEAF — no upstream
    // parquet scan survives the barrier
    val cp = planOf(build { d =>
      d.add(SourceNode.table(dir, "documents")) >>
        FilterNode("n_chars >= 500") >>
        new CheckpointNode() >>
        d.output("result")
    })
    assert(!cp.contains("Scan parquet") && cp.contains("Scan ExistingRDD"),
      s"checkpoint must cut lineage to a leaf:\n$cp")
  }

  test("round-11 nodes keep their scale shapes: sketch profile is ONE pass, no Expand") {
    import graft.dag._
    import graft.nodes._
    def exchanges(p: String): Int = """\(\d+\) Exchange""".r.findAllIn(p).size
    val df = spark.read.parquet(s"$dir/documents.parquet")
    val p = planOf(new SketchProfileNode(Seq("doc_id", "lang", "source"))
      .transform(Ctx(spark), In.single("df" -> df))("result"))
    // exact multi-distinct would compile to Expand (row-multiplying); the
    // sketch profile must stay a single partial+final aggregate pass with
    // only the one-row final exchange
    assert(!p.contains("Expand"), s"sketch profile must not Expand:\n$p")
    assert(exchanges(p) <= 1,
      s"sketch profile is one aggregation pass (single one-row exchange):\n$p")
    // ClusterIndexNode: the persisted mapping is hash-partitioned on id, so
    // a delta-contraction/query lookup join shuffles ONLY the probe side —
    // the corpus-sized mapping side reads straight from cache
    val cidx = new ClusterIndexNode()
    cidx.fit(Ctx(spark), In.single("pairs" ->
      spark.range(2).selectExpr("id * 2 + 1 as id_a", "id * 2 + 2 as id_b")))
    val probe = spark.range(2).selectExpr("id + 2 as id")
    val jp = planOf(probe.join(cidx.baseMappingRef.get, Seq("id")))
    // the mapping must feed the join STRAIGHT from cache — the only Exchange
    // touching it is the one-time layout shuffle recorded INSIDE the
    // InMemoryRelation, never a fresh per-join shuffle above the scan
    assert(jp.contains("InMemoryTableScan"),
      s"mapping lookup must read the cached mapping:\n$jp")
    assert("""Exchange[^\n]*\n\s*[:+]-\s*InMemoryTableScan""".r.findFirstIn(jp).isEmpty,
      s"mapping side must not re-shuffle at join time:\n$jp")
    // OVERLAY pin (the r11 scale-killer fix): an update batch must NOT
    // relayout the corpus-sized base — the frame object is IDENTICAL before
    // and after updateIndex/deleteFromIndex; only fold/compact replace it
    val baseBefore = cidx.baseMappingRef.get
    cidx.updateIndex(Ctx(spark),
      spark.range(1).selectExpr("id + 2 as id_a", "id + 50 as id_b"))
    cidx.deleteFromIndex(Ctx(spark), spark.range(1).selectExpr("id + 4 as id"))
    assert(cidx.baseMappingRef.get eq baseBefore,
      "updateIndex/deleteFromIndex must leave the base mapping frame untouched (overlay contract)")
    cidx.foldOverlay()
    assert(!(cidx.baseMappingRef.get eq baseBefore),
      "foldOverlay must produce a freshly laid-out base")
    cidx.unpersistIndex()
  }

  test("ClusterIndexNode waves keep the served plan at a constant size") {
    // every overlay generation is a lineage barrier (one plan leaf), so the
    // analyzed plan of the served frame must not grow with the wave count —
    // a persisted overlay would embed the previous overlays' plans instead
    val c = Ctx(spark)
    val idx = new ClusterIndexNode()
    idx.fit(c, In.single("pairs" ->
      spark.range(4).selectExpr("id * 2 as id_a", "id * 2 + 1 as id_b")))
    val queries = spark.range(60).toDF("doc_id")
    def planNodes(): Int = {
      var n = 0
      idx.transform(c, In.single("queries" -> queries))("result")
        .queryExecution.analyzed.foreach(_ => n += 1)
      n
    }
    // each wave bridges base components and adds new ids
    def edges(w: Int) =
      spark.range(3).selectExpr(s"id * 2 + $w as id_a", s"id + ${10 * w + 10} as id_b")
    idx.updateIndex(c, edges(1))
    val first = planNodes()
    Seq[(String, () => Unit)](
      "update 2" -> (() => idx.updateIndex(c, edges(2))),
      "update 3" -> (() => idx.updateIndex(c, edges(3))),
      "delete" -> (() => idx.deleteFromIndex(c, spark.range(2).selectExpr("id + 1 as doc_id"))),
      "cdc wave" -> (() => idx.applyCdcWave(c, edges(4),
        spark.range(1).selectExpr("id + 3 as doc_id")))
    ).foreach { case (step, run) =>
      run()
      val n = planNodes()
      assert(n == first, s"served plan after $step has $n nodes, $first after the first wave")
    }
    idx.unpersistIndex()
  }

  test("round-10 nodes keep their scale shapes: url-canon narrow, span-dedup keyed, index serving corpus-shuffle-free") {
    import graft.dag._
    import graft.nodes._
    def build(f: Dag => Unit): org.apache.spark.sql.DataFrame = {
      val d = new Dag(); f(d); d.transform(Ctx(spark)).outputs("result")
    }
    // a cached frame that was EXECUTED during fit (e.g. the postings
    // materialized by the BM25 stats rollup) renders its InMemoryRelation
    // as an AdaptiveSparkPlan with BOTH "Final Plan" and "Initial Plan"
    // sections — the initial section's Exchange is a display duplicate of
    // the final one, not a real extra shuffle. Skip ids seen only inside
    // "== Initial Plan ==" blocks before counting.
    def exchanges(p: String): Int = {
      var skipBelow = -1
      val skipped = scala.collection.mutable.Set[String]()
      val treeEx = """Exchange \((\d+)\)""".r
      p.linesIterator.foreach { l =>
        val ind = l.prefixLength(_ == ' ')
        val t = l.trim
        if (skipBelow >= 0 && t.nonEmpty && ind <= skipBelow) skipBelow = -1
        if (t.contains("== Initial Plan ==")) skipBelow = ind
        else if (skipBelow >= 0) treeEx.findAllMatchIn(l).foreach(m => skipped += m.group(1))
      }
      """\((\d+)\) Exchange""".r.findAllMatchIn(p).count(m => !skipped.contains(m.group(1)))
    }
    // UrlCanonNode: pure narrow map — zero Exchange
    val uc = planOf(build { d =>
      d.add(SourceNode.table(dir, "documents")) >>
        WithColumnsNode("url" -> "concat('https://E.com/', doc_id)") >>
        new UrlCanonNode() >> d.output("result")
    })
    assert(!uc.contains("Exchange"), s"url canon must stay narrow (no shuffle):\n$uc")
    // SpanDedupNode: every join keyed (no cartesian), and the token-position
    // window is computed ONCE and reused by both span consumers (one
    // Exchange+Window pair feeds toks and spans)
    val sd = planOf(build { d =>
      d.add(SourceNode.table(dir, "documents")) >>
        new SpanDedupNode(spanTokens = 8) >> d.output("result")
    })
    assert(!sd.contains("CartesianProduct"), s"span dedup must never go cartesian:\n$sd")
    assert(exchanges(sd) <= 6,
      s"span dedup grew extra shuffles (expected <= 6 keyed exchanges):\n$sd")
    assert("""\(\d+\) Window""".r.findAllIn(sd).size <= 2,
      s"span dedup's lead-chain window must be shared, not recomputed:\n$sd")
    // IvfIndexNode SERVING: the persisted inverted file reaches the probe
    // join with NO shuffle — all non-broadcast exchanges are query-sized
    // (the per-query top-k windows); corpus work happened at fit
    val ctx = Ctx(spark)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val ivf = new IvfIndexNode(k = 3, nClusters = 4, nProbe = 2)
    ivf.fit(ctx, In.single("corpus" -> emb))
    val qs = emb.filter("vec_id < 3").selectExpr("vec_id as query_id", "embedding")
    val ivfp = planOf(ivf.transform(ctx, In.single("queries" -> qs))("result"))
    assert(ivfp.contains("BroadcastHashJoin") && !ivfp.contains("SortMergeJoin"),
      s"ivf serving must broadcast the probed queries against the inverted file:\n$ivfp")
    assert(exchanges(ivfp) <= 2,
      s"ivf serving may shuffle only the query-sized top-k windows, never the corpus:\n$ivfp")
    ivf.unpersistIndex()
    // join-path ASSIGNMENT (nClusters > maxLiteralCentroids): plan size must
    // be INDEPENDENT of nClusters — the literal least(struct…) chain grows
    // O(nClusters·dim) and dies at production centroid counts (VERDICT r10)
    val ivfJ1 = new IvfIndexNode(k = 3, nClusters = 70, nProbe = 2, maxFitRows = 400)
    ivfJ1.fit(ctx, In.single("corpus" -> emb))
    val ap1 = ivfJ1.model.get.assignments.queryExecution.analyzed.toString
    assert(ap1.contains("min_by") && !ap1.contains("least("),
      s"join-path assignment expected (min_by aggregation, no literal centroid chain):\n${ap1.take(2000)}")
    val ivfJ2 = new IvfIndexNode(k = 3, nClusters = 130, nProbe = 2, maxFitRows = 400)
    ivfJ2.fit(ctx, In.single("corpus" -> emb))
    val ap2 = ivfJ2.model.get.assignments.queryExecution.analyzed.toString
    assert(math.abs(ap1.length - ap2.length) <= ap1.length / 5,
      s"assignment plan must not grow with nClusters (70: ${ap1.length} chars, 130: ${ap2.length} chars)")
    ivfJ1.unpersistIndex(); ivfJ2.unpersistIndex()
    // InvertedIndexNode SERVING: keyed posting join, no cartesian
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val inv = new InvertedIndexNode(k = 5, maxDfFrac = 0.79)
    inv.fit(ctx, In.single("corpus" -> docs))
    val qd = docs.filter("doc_id % 97 = 0").selectExpr("doc_id as query_id", "text")
    val invp = planOf(inv.transform(ctx, In.single("queries" -> qd))("result"))
    assert(!invp.contains("CartesianProduct"), s"posting join must stay keyed:\n$invp")
    assert(exchanges(invp) <= 5,
      s"lexical serving grew extra shuffles (expected <= 5):\n$invp")
    inv.unpersistIndex()
    // round-12 serving shapes:
    // QUANTIZED ivf: the coarse pass joins the code columns against the
    // BROADCAST probed queries (no corpus shuffle, no sort-merge); the only
    // non-broadcast exchanges are the query-sized coarse/re-rank windows
    val ivq = new IvfIndexNode(k = 3, nClusters = 4, nProbe = 2,
      quantized = true, rerank = 20)
    ivq.fit(ctx, In.single("corpus" -> emb))
    val qv = emb.filter("vec_id < 3").selectExpr("vec_id as query_id", "embedding")
    val ivqp = planOf(ivq.transform(ctx, In.single("queries" -> qv))("result"))
    assert(!ivqp.contains("SortMergeJoin") && !ivqp.contains("CartesianProduct"),
      s"quantized serving must broadcast, never shuffle the inverted file:\n$ivqp")
    assert(exchanges(ivqp) <= 4,
      s"quantized serving may shuffle only query-sized window/rerank stages:\n$ivqp")
    ivq.unpersistIndex()
    // incremental BM25: terms and query tf broadcast against the persisted
    // postings — keyed joins only, corpus side never re-shuffled at serve
    val invB = new InvertedIndexNode(k = 5, maxDfFrac = 0.79, scoring = "bm25")
    invB.fit(ctx, In.single("corpus" -> docs))
    val invBp = planOf(invB.transform(ctx, In.single("queries" -> qd))("result"))
    assert(!invBp.contains("CartesianProduct") && !invBp.contains("SortMergeJoin"),
      s"bm25 serving must stay keyed/broadcast:\n$invBp")
    assert(exchanges(invBp) <= 5,
      s"bm25 serving grew extra shuffles (expected <= 5):\n$invBp")
    invB.unpersistIndex()
  }

  test("dhash index serving: delta chunk keys BROADCAST against the persisted " +
       "buckets — the corpus side never shuffles at serve time") {
    val spark0 = spark
    import spark0.implicits._
    val ctx = Ctx(spark)
    val idx = new DHashIndexNode(maxHamming = 3)
    idx.fit(ctx, In.single("corpus" ->
      (1L to 500L).map(i => (i, i * 37L)).toDF("doc_id", "dhash")))
    val p = planOf(idx.transform(ctx, In.single("delta" ->
      Seq((1000L, 37L)).toDF("doc_id", "dhash")))("result"))
    assert(p.contains("BroadcastHashJoin"),
      s"delta side must broadcast at serve:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the bucket table must never re-shuffle per probe batch:\n$p")
    idx.unpersistIndex()
  }

  test("hamming near-dup pairs: ONE cached chunk table feeds both join sides — " +
       "no per-side recomputation, no count-over-window bucket materialization") {
    val spark0 = spark
    import spark0.implicits._
    val ctx = Ctx(spark)
    import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case other => other
    }
    // the plan outside every cache: an InMemoryTableScan is a leaf here
    def outer(df: org.apache.spark.sql.DataFrame): SparkPlan =
      unwrap(df.queryExecution.executedPlan)
    def generates(p: SparkPlan) =
      p.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }
    def leaf(p: SparkPlan): SparkPlan = p match {
      case u: UnaryExecNode => leaf(u.child)
      case other => other
    }
    val rows = (1L to 500L).map(i => (i, i * 37L)).toDF("id", "h")
    val hamming = new HammingNearDupNode("id", "h", maxHamming = 3)
      .transform(ctx, In.single("df" -> rows))("result")
    // the same chunk/cap/pair kernels behind SimHashDedupNode, which also
    // caches its signed (id, simhash) frame beneath the chunk table
    val texts = (1L to 200L).map(i => (i, s"w${i % 13} w${i % 7} w${i % 5} x$i"))
      .toDF("doc_id", "text")
    val simhash = new SimHashDedupNode(maxHamming = 3, collapseExact = false)
      .transform(ctx, In.single("df" -> texts))("result")
    for (df <- Seq(hamming, simhash)) {
      val p = planOf(df)
      // the cap is groupBy + semi-join, not a full bucket materialization
      assert(!p.contains("Window"),
        s"bucket cap must not materialize every bucket through a window:\n$p")
      // both self-join sides read the SAME cached chunk frame — the explode +
      // cap pipeline runs once (it lives inside the InMemoryRelation), so the
      // outer plan's one join reads two scans of one cache and no Generate
      // runs outside it
      val sides = outer(df).collect {
        case j: SortMergeJoinExec => (leaf(j.left), leaf(j.right))
        case j: BroadcastHashJoinExec => (leaf(j.left), leaf(j.right))
      }
      assert(sides.size == 1, s"expected one pair join outside the cache:\n$p")
      sides.head match {
        case (a: InMemoryTableScanExec, b: InMemoryTableScanExec) =>
          assert(a.relation.cacheBuilder eq b.relation.cacheBuilder,
            s"both pair-join sides must scan one cached table:\n$p")
          assert(generates(unwrap(a.relation.cacheBuilder.cachedPlan)).nonEmpty,
            s"the shared cache must hold the chunk explode:\n$p")
        case other => fail(s"pair-join sides must be cache scans, got $other:\n$p")
      }
      assert(generates(outer(df)).isEmpty,
        s"chunk explode must not be recomputed outside the cache:\n$p")
    }
    // the Hamming node caches nothing else: exactly the two join-side scans
    // (formatted mode numbers each distinct physical op once)
    val hp = planOf(hamming)
    assert("""\(\d+\) InMemoryTableScan""".r.findAllIn(hp).size == 2,
      s"expected both pair-join sides to scan one cached chunk table:\n$hp")
    spark.catalog.clearCache()
  }

  test("materialized aggregate/join serving: probe keys BROADCAST against the " +
       "persisted state — group-lookup contract, no corpus shuffle at serve") {
    val spark0 = spark
    import spark0.implicits._
    val ctx = Ctx(spark)
    val agg = new AggIndexNode(groupCols = Seq("src"), sumCols = Seq("toks"),
      minCols = Seq("toks"), distinctCols = Seq("lang"))
    agg.fit(ctx, In.single("corpus" ->
      (1L to 500L).map(i => (i, s"s${i % 7}", i, s"l${i % 3}"))
        .toDF("doc_id", "src", "toks", "lang")))
    val ap = planOf(agg.transform(ctx, In.single("probe" ->
      Seq("s1").toDF("src")))("result"))
    assert(ap.contains("BroadcastHashJoin") && !ap.contains("SortMergeJoin"),
      s"agg serve must broadcast the probe keys:\n$ap")
    assert(ap.contains("InMemoryTableScan"),
      s"agg serve must read the persisted totals, not recompute:\n$ap")
    val mj = new MaterializedJoinNode(leftOn = Seq("k"), rightOn = Seq("rk"),
      leftId = "lid", rightId = "rk")
    mj.fit(ctx, In.single(
      "left" -> (1L to 500L).map(i => (i, i % 7)).toDF("lid", "k"),
      "right" -> (0L to 6L).map(i => (i, s"t$i")).toDF("rk", "tier")))
    val mp = planOf(mj.transform(ctx, In.single("probe" ->
      Seq(1L).toDF("k")))("result"))
    assert(mp.contains("BroadcastHashJoin") && !mp.contains("SortMergeJoin"),
      s"join serve must broadcast the probe keys:\n$mp")
    assert(mp.contains("InMemoryTableScan"),
      s"join serve must read the persisted view, not re-join:\n$mp")
    // left_outer serve: the derived-dangler leg adds ONE broadcast
    // anti-join against the dim keys — still no sort-merge anywhere
    val mo = new MaterializedJoinNode(leftOn = Seq("k"), rightOn = Seq("rk"),
      leftId = "lid", rightId = "rk", joinType = "left_outer")
    mo.fit(ctx, In.single(
      "left" -> (1L to 500L).map(i => (i, i % 7)).toDF("lid", "k"),
      "right" -> (0L to 3L).map(i => (i, s"t$i")).toDF("rk", "tier")))
    val op = planOf(mo.transform(ctx, In.single("probe" ->
      Seq(1L, 5L).toDF("k")))("result"))
    assert(!op.contains("SortMergeJoin") &&
      op.contains("BroadcastHashJoin"),
      s"outer serve must stay broadcast-only:\n$op")
    agg.unpersistIndex(); mj.unpersistIndex(); mo.unpersistIndex()
  }

  test("merge-on-read scan: base side anti-joins BROADCAST overlay keys — the base " +
       "is never shuffled per wave; only the overlay-sized window exchanges remain") {
    val spark0 = spark
    import spark0.implicits._
    val ctx = Ctx(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_mor_plan").toString
    val root = s"$work/ds"
    val base = (1L to 500L).map(i => (i, s"v$i")).toDF("id", "v")
    new SinkNode(root, atomicPublish = true).transform(ctx, In.single("df" -> base))
    AtomicPublish.publishDelta(spark, root, 0L, { t =>
      Seq((1L, "upd", false), (999L, "ins", false), (2L, "x", true))
        .toDF("id", "v", MorCdc.DeletedCol).write.parquet(t)
    })
    val p = planOf(MorCdc.read(spark, root, Seq("id")))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"base anti-join must broadcast the overlay keys:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the base must never shuffle at merge-on-read resolution:\n$p")
    def exchanges(s: String): Int = """\(\d+\) Exchange""".r.findAllIn(s).size
    assert(exchanges(p) <= 2,
      s"only overlay-sized broadcast/window exchanges expected:\n$p")
  }

  test("materialized join dim-delta maintenance: L ⋈ ΔR reads only the fact " +
       "buckets the delta's keys hash into — bucket filter pinned, ledger " +
       "laid bucket-per-partition, no layout column in any serve output") {
    val spark0 = spark
    import spark0.implicits._
    val ctx = Ctx(spark)
    val mj = new MaterializedJoinNode(leftOn = Seq("k"), rightOn = Seq("rk"),
      leftId = "lid", rightId = "rk")
    mj.fit(ctx, In.single(
      "left" -> (1L to 2000L).map(i => (i, i % 40)).toDF("lid", "k"),
      "right" -> (0L to 39L).map(i => (i, s"t$i")).toDF("rk", "tier")))
    val m = mj.model.get
    assert(m.left.rdd.getNumPartitions == m.nBuckets,
      "the fact ledger must be laid bucket-per-partition at fit")
    val delta = Seq((3L, "t3b")).toDF("rk", "tier")
    val pruned = mj.prunedLeftFor(m, delta)
    val pp = planOf(pruned)
    assert(pp.contains("__graft_bucket"),
      s"the dim-delta fact scan must filter on the bucket column:\n$pp")
    assert(pp.contains("InMemoryTableScan"),
      s"the pruned scan must read the persisted ledger:\n$pp")
    // conservative: every fact matching the delta's key survives the prune
    assert(pruned.filter("k = 3").count() == (1L to 2000L).count(_ % 40 == 3))
    // maintenance through the pruned path stays exact (two dim rows for
    // k = 3 after the upsertless append)
    mj.updateRight(ctx, delta)
    val served = mj.transform(ctx,
      In.single("probe" -> Seq(3L).toDF("k")))("result")
    assert(!served.columns.contains("__graft_bucket"),
      "the layout column must never surface")
    assert(served.count() == 2L * (1L to 2000L).count(_ % 40 == 3))
    mj.unpersistIndex()
  }

  test("chained IVM state is lineage-BARRIERED: the dashboard's serve plan " +
       "stays constant-size as maintenance ops accumulate (the r14 find — " +
       "un-cut chains grew super-linear Catalyst trees, 180 s data-size-flat " +
       "and a driver-heap OOM on the chained flagship)") {
    val spark0 = spark
    import spark0.implicits._
    val ctx = Ctx(spark)
    val facts = (1L to 200L).map(i => (i, i % 7, i)).toDF("oid", "cust", "amt")
    val dims = (0L to 6L).map(i => (i, s"g${i % 3}")).toDF("cid", "seg")
    val mj = new MaterializedJoinNode(leftOn = Seq("cust"),
      rightOn = Seq("cid"), leftId = "oid", rightId = "cid",
      joinType = "left_outer")
    mj.fit(ctx, In.single("left" -> facts.filter("oid <= 100"), "right" -> dims))
    val agg = new AggIndexNode(groupCols = Seq("seg"), sumCols = Seq("amt"),
      idCol = MaterializedJoinNode.ViewIdCol)
    mj.chainAggregate(ctx, agg)
    val probe = dims.select("seg").distinct()
    def servePlanNodes: Int = agg.transform(ctx,
      In.single("probe" -> probe))("result")
      .queryExecution.analyzed.collect { case p => p }.size
    val after1 = { mj.updateIndex(ctx, facts.filter("oid > 100 AND oid <= 120"))
      servePlanNodes }
    // six more waves across all four op types — the plan must NOT grow
    mj.updateIndex(ctx, facts.filter("oid > 120 AND oid <= 140"))
    mj.deleteFromIndex(ctx, facts.filter("oid % 9 = 0").select("oid"))
    mj.updateRight(ctx, Seq((7L, "g1")).toDF("cid", "seg"))
    mj.deleteFromRight(ctx, Seq(2L).toDF("cid"))
    mj.updateIndex(ctx, facts.filter("oid > 140 AND oid <= 160"))
    mj.deleteFromIndex(ctx, facts.filter("oid % 11 = 0").select("oid"))
    val after7 = servePlanNodes
    assert(after7 <= after1,
      s"chained state lineage must stay barrier-truncated: serve plan grew " +
        s"$after1 -> $after7 nodes across six maintenance ops")
    agg.unpersistIndex(); mj.unpersistIndex()
  }

  test("chained CDC wave shape: Δview feeds reach subscribers as uncut plans " +
       "(no RDD leaf) and a left_outer MJ → MJ → Agg applyCdcWave runs one " +
       "SQL execution per state write or group cut — 14 in all") {
    val spark0 = spark
    import spark0.implicits._
    val ctx = Ctx(spark)
    val facts = (1L to 120L).map(i => (i, i % 13, i * 3)).toDF("oid", "cust", "amt")
    val custs = (0L to 10L).map(i => (i, i % 4)).toDF("cid", "nat")
    val nats = (0L to 2L).map(i => (i, s"n$i")).toDF("nid", "nname")
    val mj1 = new MaterializedJoinNode(leftOn = Seq("cust"), rightOn = Seq("cid"),
      leftId = "oid", rightId = "cid", joinType = "left_outer")
    val mj2 = new MaterializedJoinNode(leftOn = Seq("nat"), rightOn = Seq("nid"),
      leftId = "v1", rightId = "nid", joinType = "left_outer")
    val agg = new AggIndexNode(groupCols = Seq("nname"), sumCols = Seq("amt"),
      idCol = MaterializedJoinNode.ViewIdCol)
    mj1.fit(ctx, In.single("left" -> facts.filter("oid <= 100"), "right" -> custs))
    mj1.chainJoin(ctx, mj2, nats)
    mj2.chainAggregate(ctx, agg)
    val probes = Seq(new FeedProbe, new FeedProbe)
    mj1.subscribeView(probes(0)); mj2.subscribeView(probes(1))
    // upserts: 10 re-valued facts (matched and dangling) plus 20 new ones;
    // deletes: matched facts, dangling facts and an id never held
    val upserts = facts.filter("oid > 100 OR oid % 10 = 0")
      .withColumn("amt", $"amt" + 1)
    val deletes = Seq(3L, 5L, 11L, 12L, 24L, 999L).toDF("oid")
    var executions = 0
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = synchronized { executions += 1 }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = synchronized { executions += 1 }
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      mj1.applyCdcWave(ctx, upserts, deletes)
      org.apache.spark.TestBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    // three calls (delete upserts, insert upserts, delete deletes), each
    // handing both joins' subscribers one feed frame
    probes.foreach(p => assert(p.frames.size == 3, s"feed frames: ${p.frames.size}"))
    probes.flatMap(_.frames).foreach(f => assert(!FeedProbe.hasRddLeaf(f),
      "a Δview feed must reach its subscriber uncut (its own state write " +
        s"cuts the lineage):\n${f.queryExecution.analyzed}"))
    // per call: each join's tombstone (or fact + view segment) writes, the
    // dashboard's ledger write and its totals cut — 4 + 6 + 4
    assert(executions == 14, s"chained CDC wave ran $executions SQL executions")
    // and the dashboard still equals the declarative chain
    val liveL = facts.filter("oid <= 100 AND oid % 10 != 0")
      .unionByName(upserts).join(deletes, Seq("oid"), "left_anti")
    val want = liveL.join(custs, liveL("cust") === custs("cid"), "left_outer")
      .join(nats, $"nat" === $"nid", "left_outer")
      .groupBy("nname").agg(org.apache.spark.sql.functions.count("*").as("n_rows"),
        org.apache.spark.sql.functions.sum("amt").as("sum_amt"))
      .as[(Option[String], Long, Long)].collect().toSet
    val probe = nats.select("nname").unionByName(Seq(Option.empty[String]).toDF("nname"))
    val got = agg.transform(ctx, In.single("probe" -> probe))("result")
      .select("nname", "n_rows", "sum_amt")
      .as[(Option[String], Long, Long)].collect().toSet
    assert(got == want, s"dashboard diverged: got $got want $want")
    agg.unpersistIndex(); mj2.unpersistIndex(); mj1.unpersistIndex()
  }

  test("chained dim-side wave shape: updateRight and deleteFromRight on a " +
       "left_outer MJ → MJ → Agg chain hand uncut Δview feeds to the " +
       "subscribers and run 19 SQL executions") {
    val spark0 = spark
    import spark0.implicits._
    val ctx = Ctx(spark)
    val facts = (1L to 120L).map(i => (i, i % 13, i * 3)).toDF("oid", "cust", "amt")
    val custs = (0L to 12L).map(i => (i, i % 4)).toDF("cid", "nat")
    val nats = (0L to 2L).map(i => (i, s"n$i")).toDF("nid", "nname")
    val mj1 = new MaterializedJoinNode(leftOn = Seq("cust"), rightOn = Seq("cid"),
      leftId = "oid", rightId = "cid", joinType = "left_outer")
    val mj2 = new MaterializedJoinNode(leftOn = Seq("nat"), rightOn = Seq("nid"),
      leftId = "v1", rightId = "nid", joinType = "left_outer")
    val agg = new AggIndexNode(groupCols = Seq("nname"), sumCols = Seq("amt"),
      idCol = MaterializedJoinNode.ViewIdCol)
    mj1.fit(ctx, In.single("left" -> facts, "right" -> custs.filter("cid <= 10")))
    mj1.chainJoin(ctx, mj2, nats)
    mj2.chainAggregate(ctx, agg)
    val probes = Seq(new FeedProbe, new FeedProbe)
    mj1.subscribeView(probes(0)); mj2.subscribeView(probes(1))
    val ((), executions) = sqlExecutionsDuring {
      // the cust 11/12 facts were danglers: their first match arrives
      mj1.updateRight(ctx, custs.filter("cid > 10"))
      // the cust 2/5 facts lose their only match and dangle again
      mj1.deleteFromRight(ctx, Seq(2L, 5L).toDF("cid"))
    }
    // each call hands both joins' subscribers a delete and an insert frame
    probes.foreach(p => assert(p.frames.size == 4, s"feed frames: ${p.frames.size}"))
    probes.flatMap(_.frames).foreach(f => assert(!FeedProbe.hasRddLeaf(f),
      "a Δview feed must reach its subscriber uncut (its own state write " +
        s"cuts the lineage):\n${f.queryExecution.analyzed}"))
    // mj1's dim-side writes (the insert's dim segment, bucket lookup and
    // view segment; the delete's tombstone), the insert's dim-count job
    // (the delete keeps the pre-delete count), mj2's three state writes
    // per call and the dashboard's two ledger writes and two totals cuts
    // per call: 4 + 1 + 6 + 8
    assert(executions == 19, s"chained dim-side waves ran $executions SQL executions")
    val liveD = custs.filter("cid != 2 AND cid != 5")
    val want = facts.join(liveD, $"cust" === $"cid", "left_outer")
      .join(nats, $"nat" === $"nid", "left_outer")
      .groupBy("nname").agg(org.apache.spark.sql.functions.count("*").as("n_rows"),
        org.apache.spark.sql.functions.sum("amt").as("sum_amt"))
      .as[(Option[String], Long, Long)].collect().toSet
    val probe = nats.select("nname").unionByName(Seq(Option.empty[String]).toDF("nname"))
    val got = agg.transform(ctx, In.single("probe" -> probe))("result")
      .select("nname", "n_rows", "sum_amt")
      .as[(Option[String], Long, Long)].collect().toSet
    assert(got == want, s"dashboard diverged: got $got want $want")
    agg.unpersistIndex(); mj2.unpersistIndex(); mj1.unpersistIndex()
  }

  test("SegStore-backed index state stays COLUMNAR: the lexical serve plan " +
       "after insert and delete waves reads cached segments as " +
       "InMemoryTableScan, never row-block RDD scans (the r14 delta-tail " +
       "negative result — checkpoint-block tails lost column pruning — " +
       "locked against regression)") {
    val spark0 = spark
    import spark0.implicits._
    val ctx = Ctx(spark)
    val docs = spark.range(80).selectExpr("id as doc_id",
      "concat('tok', id % 17, ' tok', id % 7, ' tok', id % 5) as text")
    val inv = new InvertedIndexNode(k = 3, maxDfFrac = 0.9)
    inv.fit(ctx, In.single("corpus" -> docs.filter("doc_id < 60")))
    inv.updateIndex(ctx, docs.filter("doc_id >= 60"))
    inv.deleteFromIndex(ctx, docs.filter("doc_id % 4 = 0").select("doc_id"))
    val served = inv.transform(ctx, In.single("queries" ->
      docs.limit(2).selectExpr("doc_id as query_id", "text")))("result")
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan"),
      s"post-wave serve must read CACHED state (InMemoryTableScan):\n$p")
    assert(!p.contains("Scan ExistingRDD"),
      s"post-wave state must never degrade to row-block RDD scans:\n$p")
    inv.unpersistIndex()
  }

  private def jobsDuring[A](f: => A): (A, Int) =
    org.apache.spark.TestBus.jobsDuring(spark.sparkContext)(f)

  /** `f`'s result and the number of SQL executions it ran, counted on a
    * drained bus (failed executions included). */
  private def sqlExecutionsDuring[A](f: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(fn: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = n.incrementAndGet()
      def onFailure(fn: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = n.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val a = f
      org.apache.spark.TestBus.drain(spark.sparkContext)
      (a, n.get)
    } finally spark.listenerManager.unregister(listener)
  }

  test("SourceNode: a second build of the same DAG runs no Spark job before " +
       "its action — the schema is inferred once per unchanged file set") {
    val path = WorkDir("graft_resolve_plan").toString + "/t"
    spark.range(60).selectExpr("id", "id % 3 as k").coalesce(2).write.parquet(path)
    def build(): org.apache.spark.sql.DataFrame = {
      val d = new Dag()
      d.add(new SourceNode(path)) >> FilterNode("k = 1") >> d.output("result")
      d.transform(Ctx(spark)).outputs("result")
    }
    val (first, j1) = jobsDuring(build())
    assert(j1 >= 1, "the first read of a file set infers its schema")
    val (second, j2) = jobsDuring(build())
    assert(j2 == 0, s"a repeat build ran $j2 Spark jobs before its action")
    assert(second.schema == first.schema)
    assert(planOf(second).replaceAll("#\\d+", "#") == planOf(first).replaceAll("#\\d+", "#"),
      "a cached-schema read must plan exactly like an inferring one")
    assert(second.count() == 20L)
  }
}
