package graft

import graft.dag._
import graft.nodes._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Topology JSON round-trip (reference Graph.to_dict/from_dict,
  * graph.py:938-1077), DOT rendering (display.py), and fitted-state
  * persistence (per-node dump/load pickle, mldagbase.py:954-977).
  */
class SerializationSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  NodeRegistry.ensure

  private def buildDag(dir: String): Dag = {
    val d = new Dag("roundtrip")
    val src = d.add(SourceNode.table(dir, "orders"))
    val f = d.add(new FilterNode("o_totalprice > 1000"))
    val agg = d.add(new AggNode(Seq("o_orderstatus"), Seq("count(*) as n", "sum(cast(o_totalprice as decimal(18,2))) as total")))
    val srt = d.add(new SortNode(Seq("o_orderstatus")))
    src >> f; f >> agg; agg >> srt
    srt >> d.output("result")
    d
  }

  test("JSON round-trip reproduces topology and results") {
    val dir = "/root/testdata/sf0.001"
    val d1 = buildDag(dir)
    val json = DagJson.toJson(d1)
    val d2 = DagJson.fromJson(json)
    assert(d2.nodeNames == d1.nodeNames)
    assert(d2.dataEdges == d1.dataEdges)
    assert(d2.outputNames == d1.outputNames)
    val r1 = d1.transform(Ctx(spark)).outputs("result").collect().map(_.toString).toSeq
    val r2 = d2.transform(Ctx(spark)).outputs("result").collect().map(_.toString).toSeq
    assert(r1 == r2)
    // double round-trip is stable
    assert(DagJson.toJson(d2) == json)
    // file round-trip
    val f = java.io.File.createTempFile("graft_dag", ".json").getAbsolutePath
    DagJson.save(d1, f)
    assert(DagJson.load(f).nodeNames == d1.nodeNames)
  }

  test("round-trip covers joins, windows, dedup, similarity, streaming params") {
    val d = new Dag("many")
    val a = d.add(new SourceNode("/tmp/x.parquet", "parquet", Seq("c1", "c2")))
    val j = d.add(JoinNode.on("l.a = r.b", joinType = "left", broadcastRight = true))
    val w = d.add(new WindowNode(Seq("k"), Seq("t asc"), Seq("rs" -> "sum(v)"), frame = Some((Long.MinValue, 0L))))
    val m = d.add(new MinHashDedupNode(numHashes = 64, bands = 16, jaccardThreshold = 0.7))
    val knn = d.add(new LshKnnNode(k = 5, numPlanes = 12, tables = 3))
    val st = d.add(new StreamWindowAggNode("ts", "1 hour", slide = Some("30 minutes"),
      keys = Seq("k"), aggs = Seq("count(*) as n")))
    a >> j("left")
    val json = DagJson.toJson(d)
    val d2 = DagJson.fromJson(json)
    val j2 = d2.node(j.name).asInstanceOf[JoinNode]
    assert(j2.joinType == "left" && j2.condition.contains("l.a = r.b") && j2.broadcastRight)
    val w2 = d2.node(w.name).asInstanceOf[WindowNode]
    assert(w2.frame.contains((Long.MinValue, 0L)))
    val m2 = d2.node(m.name).asInstanceOf[MinHashDedupNode]
    assert(m2.numHashes == 64 && m2.bands == 16 && m2.jaccardThreshold == 0.7)
    val k2 = d2.node(knn.name).asInstanceOf[LshKnnNode]
    assert(k2.numPlanes == 12 && k2.tables == 3)
    val s2 = d2.node(st.name).asInstanceOf[StreamWindowAggNode]
    assert(s2.slide.contains("30 minutes") && s2.gap.isEmpty)
  }

  test("round-trip covers round-3 kinds: split/chunk/redact/tagged_union/source options") {
    val d = new Dag("r3kinds")
    val sp = d.add(new SplitNode("id", Seq("train" -> 80, "test" -> 20), "bucket"))
    val ch = d.add(new ChunkNode("id", "body", chunkTokens = 48, overlap = 6))
    val re = d.add(new RedactNode("body", "clean", Seq("X" -> "a+b")))
    val tu = d.add(new TaggedUnionNode("origin", allowMissingColumns = true))
    val so = d.add(new SourceNode("/tmp/y.csv", "csv", Nil, Nil,
      options = Map("header" -> "true"), schemaDdl = Some("id BIGINT, body STRING")))
    val ss = d.add(new StreamSourceNode("/tmp/z.parquet", statePartitions = Some(8),
      options = Map("maxFilesPerTrigger" -> "4")))
    val json = DagJson.toJson(d)
    val d2 = DagJson.fromJson(json)
    val sp2 = d2.node(sp.name).asInstanceOf[SplitNode]
    assert(sp2.splits == Seq("train" -> 80, "test" -> 20) && sp2.outCol == "bucket")
    val ch2 = d2.node(ch.name).asInstanceOf[ChunkNode]
    assert(ch2.chunkTokens == 48 && ch2.overlap == 6)
    val re2 = d2.node(re.name).asInstanceOf[RedactNode]
    assert(re2.patterns == Seq("X" -> "a+b") && re2.outCol == "clean")
    val tu2 = d2.node(tu.name).asInstanceOf[TaggedUnionNode]
    assert(tu2.keyCol == "origin" && tu2.allowMissingColumns)
    assert(tu2.inputs.head.keyed) // keyed port survives the round-trip
    val so2 = d2.node(so.name).asInstanceOf[SourceNode]
    assert(so2.options == Map("header" -> "true") && so2.schemaDdl.contains("id BIGINT, body STRING"))
    val ss2 = d2.node(ss.name).asInstanceOf[StreamSourceNode]
    assert(ss2.statePartitions.contains(8))
    assert(ss2.options == Map("maxFilesPerTrigger" -> "4"))
  }

  test("round-trip covers round-4 kinds: asof strategy, ivf cap, cc checkpoint, stream sink, sample") {
    val d = new Dag("r4kinds")
    val as = d.add(new AsofJoinNode(Seq("k"), Seq("k"), "lt", "rt", Seq("id"), "tb",
      joinType = "left", forward = true, strategy = "expand"))
    val iv = d.add(new IvfKnnNode(k = 7, nClusters = 5, nProbe = 2, maxFitRows = 1234L))
    val cc = d.add(new ConnectedComponentsNode(maxIter = 9, reliableCheckpoint = true))
    val sk = d.add(new StreamSinkNode("/tmp/out", "/tmp/ckpt", partitionBy = Seq("dt"),
      timeoutMs = 5000))
    val sa = d.add(new SampleNode("id", 0.25, Some("lang"), Seq("en" -> 0.5)))
    val qe = d.add(new QuantizeEmbeddingNode("emb", "q", "qs"))
    val rs = d.add(new RepetitionScoreNode("body", ns = Seq(2, 4)))
    val cn = d.add(new ContaminationNode("id", "body", "btext", 4, 0.25))
    val json = DagJson.toJson(d)
    val d2 = DagJson.fromJson(json)
    val as2 = d2.node(as.name).asInstanceOf[AsofJoinNode]
    assert(as2.strategy == "expand" && as2.forward && as2.joinType == "left")
    val iv2 = d2.node(iv.name).asInstanceOf[IvfKnnNode]
    assert(iv2.maxFitRows == 1234L && iv2.nClusters == 5)
    val cc2 = d2.node(cc.name).asInstanceOf[ConnectedComponentsNode]
    assert(cc2.jsonParams("reliableCheckpoint") == true && cc2.jsonParams("maxIter") == 9)
    val sk2 = d2.node(sk.name).asInstanceOf[StreamSinkNode]
    assert(sk2.checkpointPath == "/tmp/ckpt" && sk2.partitionBy == Seq("dt") && sk2.timeoutMs == 5000L)
    val sa2 = d2.node(sa.name).asInstanceOf[SampleNode]
    assert(sa2.fraction == 0.25 && sa2.strataCol.contains("lang") && sa2.fractions == Seq("en" -> 0.5))
    val qe2 = d2.node(qe.name).asInstanceOf[QuantizeEmbeddingNode]
    assert(qe2.vecCol == "emb" && qe2.outCol == "q" && qe2.scaleCol == "qs")
    val rs2 = d2.node(rs.name).asInstanceOf[RepetitionScoreNode]
    assert(rs2.textCol == "body" && rs2.ns == Seq(2, 4))
    val cn2 = d2.node(cn.name).asInstanceOf[ContaminationNode]
    assert(cn2.benchTextCol == "btext" && cn2.shingleN == 4 && cn2.minOverlap == 0.25)
    val rp = d.add(new RepetitionStatsNode("body", "id", 0.25, 0.15, 0.1, keepOnly = true))
    val rp2 = DagJson.fromJson(DagJson.toJson(d)).node(rp.name).asInstanceOf[RepetitionStatsNode]
    assert(rp2.textCol == "body" && rp2.idCol == "id" && rp2.maxDupLineFrac == 0.25 &&
      rp2.maxDupLineCharFrac == 0.15 && rp2.maxTopBigramCharFrac == 0.1 && rp2.keepOnly)
    val ro = d.add(new RouterNode(Seq("a" -> "x > 1", "b" -> "y = 'z'"), otherwise = None))
    val json2 = DagJson.toJson(d)
    val ro2 = DagJson.fromJson(json2).node(ro.name).asInstanceOf[RouterNode]
    assert(ro2.routes == Seq("a" -> "x > 1", "b" -> "y = 'z'") && ro2.otherwise.isEmpty)
    assert(ro2.outputs.map(_.name) == Seq("a", "b")) // no otherwise port
    val ml = d.add(new MajorityLabelNode("q", "id", "lab", "pred"))
    val ml2 = DagJson.fromJson(DagJson.toJson(d)).node(ml.name).asInstanceOf[MajorityLabelNode]
    assert(ml2.queryIdCol == "q" && ml2.labelCol == "lab" && ml2.outCol == "pred")
  }

  test("round-trip covers round-5 kinds: pack/mix/line-dedup/normalize/interleave") {
    val d = new Dag("r5kinds")
    val pk = d.add(new SequencePackNode("id", "body", Some("ntok"), 1024, 32))
    val mx = d.add(new DomainMixNode(Seq("web" -> 0.5, "code" -> 3.25), "dom", "id", 0.75, "cp"))
    val ld = d.add(new LineDedupNode("id", "body", "|", 5L, "clean"))
    val nt = d.add(new NormalizeTextNode("body", "norm", "NFKC", stripControl = false, collapseWhitespace = false))
    val il = d.add(new InterleaveNode("id", 128, "tag"))
    val d2 = DagJson.fromJson(DagJson.toJson(d))
    val pk2 = d2.node(pk.name).asInstanceOf[SequencePackNode]
    assert(pk2.tokensCol.contains("ntok") && pk2.seqLen == 1024 && pk2.shards == 32)
    val mx2 = d2.node(mx.name).asInstanceOf[DomainMixNode]
    assert(mx2.multipliers == Seq("web" -> 0.5, "code" -> 3.25) &&
      mx2.strataCol == "dom" && mx2.defaultMultiplier == 0.75 && mx2.copyCol == "cp")
    val ld2 = d2.node(ld.name).asInstanceOf[LineDedupNode]
    assert(ld2.delim == "|" && ld2.maxDocFreq == 5L && ld2.outCol == "clean")
    val nt2 = d2.node(nt.name).asInstanceOf[NormalizeTextNode]
    assert(nt2.form == "NFKC" && !nt2.stripControl && !nt2.collapseWhitespace)
    val il2 = d2.node(il.name).asInstanceOf[InterleaveNode]
    assert(il2.buckets == 128 && il2.tagCol == "tag")
  }

  test("round-trip covers round-7 kinds: avi/frame-sample/ivf-int8/cc-hops/index-compaction") {
    val d = new Dag("r7kinds")
    val av = d.add(new SyntheticAviNode("nf", "w", "h", "sd", fps = 25, outCol = "vid"))
    val fr = d.add(new FrameSampleNode(stride = 3, maxFrames = 7, payloadCol = "vid"))
    val iq = d.add(new IvfQuantizedKnnNode(k = 7, nClusters = 32, nProbe = 5, rerank = 99,
      idCol = "id", vecCol = "emb", queryIdCol = "qid", maxFitRows = 777L))
    val cc = d.add(new ConnectedComponentsNode(hopsPerRound = 3))
    val ix = d.add(new MinHashIndexNode(unboundedStreamStateOk = true,
      compactEvery = 4, compactPath = Some("/tmp/ixc")))
    val d2 = DagJson.fromJson(DagJson.toJson(d))
    val av2 = d2.node(av.name).asInstanceOf[SyntheticAviNode]
    assert(av2.nFramesExpr == "nf" && av2.fps == 25 && av2.outCol == "vid")
    val fr2 = d2.node(fr.name).asInstanceOf[FrameSampleNode]
    assert(fr2.stride == 3 && fr2.maxFrames == 7 && fr2.payloadCol == "vid")
    val iq2 = d2.node(iq.name).asInstanceOf[IvfQuantizedKnnNode]
    assert(iq2.k == 7 && iq2.nClusters == 32 && iq2.nProbe == 5 && iq2.rerank == 99 &&
      iq2.idCol == "id" && iq2.vecCol == "emb" && iq2.queryIdCol == "qid" &&
      iq2.maxFitRows == 777L)
    val cc2 = d2.node(cc.name).asInstanceOf[ConnectedComponentsNode]
    assert(cc2.jsonParams("hopsPerRound") == 3)
    val ix2 = d2.node(ix.name).asInstanceOf[MinHashIndexNode]
    assert(ix2.unboundedStreamStateOk && ix2.compactEvery == 4 &&
      ix2.compactPath.contains("/tmp/ixc"))
    val lc = d.add(new LmClassifierNode("id", "body", "src", 5000L, maxClasses = 9))
    val lc2 = DagJson.fromJson(DagJson.toJson(d)).node(lc.name).asInstanceOf[LmClassifierNode]
    assert(lc2.idCol == "id" && lc2.textCol == "body" && lc2.labelCol == "src" &&
      lc2.scale == 5000L && lc2.maxClasses == 9)
    val tm = d.add(new TemperatureMixNode(1234L, "dom", "id", "cp"))
    val tm2 = DagJson.fromJson(DagJson.toJson(d)).node(tm.name).asInstanceOf[TemperatureMixNode]
    assert(tm2.budget == 1234L && tm2.strataCol == "dom" && tm2.idCol == "id" &&
      tm2.copyCol == "cp")
    val td = d.add(new TokenDriftNode("body", 7, 2000L))
    val td2 = DagJson.fromJson(DagJson.toJson(d)).node(td.name).asInstanceOf[TokenDriftNode]
    assert(td2.textCol == "body" && td2.k == 7 && td2.scale == 2000L)
  }

  test("round-trip covers round-10 kinds: span-dedup/ivf-index") {
    val d = new Dag("r10kinds")
    val sd = d.add(new SpanDedupNode("id", "body", spanTokens = 12, outCol = "clean"))
    val iv = d.add(new IvfIndexNode(k = 5, nClusters = 24, nProbe = 4,
      idCol = "id", vecCol = "emb", queryIdCol = "qid", maxFitRows = 555L,
      compactEvery = 3, compactPath = Some("/tmp/ivfc")))
    val d2 = DagJson.fromJson(DagJson.toJson(d))
    val sd2 = d2.node(sd.name).asInstanceOf[SpanDedupNode]
    assert(sd2.idCol == "id" && sd2.textCol == "body" &&
      sd2.spanTokens == 12 && sd2.outCol == "clean")
    val iv2 = d2.node(iv.name).asInstanceOf[IvfIndexNode]
    assert(iv2.k == 5 && iv2.nClusters == 24 && iv2.nProbe == 4 &&
      iv2.idCol == "id" && iv2.vecCol == "emb" && iv2.queryIdCol == "qid" &&
      iv2.maxFitRows == 555L && iv2.compactEvery == 3 &&
      iv2.compactPath.contains("/tmp/ivfc"))
    val uc = d.add(new UrlCanonNode("u", "cu", Seq("gclid", "sid"),
      stripFragment = false, sortParams = false, stripWww = true))
    val uc2 = DagJson.fromJson(DagJson.toJson(d)).node(uc.name).asInstanceOf[UrlCanonNode]
    assert(uc2.urlCol == "u" && uc2.outCol == "cu" &&
      uc2.stripParams == Seq("gclid", "sid") && !uc2.stripFragment &&
      !uc2.sortParams && uc2.stripWww)
    val ii = d.add(new InvertedIndexNode("id", "body", "qid", "qbody", k = 9,
      maxDfFrac = 0.33, compactEvery = 2, compactPath = Some("/tmp/invc")))
    val ii2 = DagJson.fromJson(DagJson.toJson(d)).node(ii.name).asInstanceOf[InvertedIndexNode]
    assert(ii2.idCol == "id" && ii2.textCol == "body" && ii2.queryIdCol == "qid" &&
      ii2.queryTextCol == "qbody" && ii2.k == 9 && ii2.maxDfFrac == 0.33 &&
      ii2.compactEvery == 2 && ii2.compactPath.contains("/tmp/invc"))
  }

  test("round-trip covers round-11 kinds: compact-files/sketch-profile/sketch-merge") {
    val d = new Dag("r11kinds")
    val cf = d.add(new CompactFilesNode("/tmp/ds", targetFileBytes = 33554432L,
      format = "orc", shuffle = false, skipIfCompact = true))
    val sp = d.add(new SketchProfileNode(Seq("a", "b"), lgConfigK = 12))
    val sm = d.add(new SketchMergeNode())
    val d2 = DagJson.fromJson(DagJson.toJson(d))
    val cf2 = d2.node(cf.name).asInstanceOf[CompactFilesNode]
    assert(cf2.path == "/tmp/ds" && cf2.targetFileBytes == 33554432L &&
      cf2.format == "orc" && !cf2.shuffle && cf2.skipIfCompact)
    val pcf = d.add(new CompactFilesNode("/tmp/ds2", partitionBy = Seq("lang", "dt")))
    val pcf2 = DagJson.fromJson(DagJson.toJson(d)).node(pcf.name).asInstanceOf[CompactFilesNode]
    assert(pcf2.partitionBy == Seq("lang", "dt"))
    val gsrc = d.add(new SourceNode("/tmp/pub", generation = Some(7L)))
    val gsrc2 = DagJson.fromJson(DagJson.toJson(d)).node(gsrc.name).asInstanceOf[SourceNode]
    assert(gsrc2.generation.contains(7L))
    val bsrc = d.add(new SourceNode("/tmp/pub2"))
    val bsrc2 = DagJson.fromJson(DagJson.toJson(d)).node(bsrc.name).asInstanceOf[SourceNode]
    assert(bsrc2.generation.isEmpty)
    val ci = d.add(new ClusterIndexNode("a", "b", maxIter = 9,
      compactEvery = 2, compactPath = Some("/tmp/cc")))
    val ci2 = DagJson.fromJson(DagJson.toJson(d)).node(ci.name).asInstanceOf[ClusterIndexNode]
    assert(ci2.idA == "a" && ci2.idB == "b" && ci2.maxIter == 9 &&
      ci2.compactEvery == 2 && ci2.compactPath.contains("/tmp/cc"))
    val sp2 = d2.node(sp.name).asInstanceOf[SketchProfileNode]
    assert(sp2.columns == Seq("a", "b") && sp2.lgConfigK == 12)
    assert(d2.node(sm.name).isInstanceOf[SketchMergeNode])
    val np = d.add(new NumericProfileNode(Seq(
      NumericProfileNode.Spec("n_chars", 0.0, 640.0, 64),
      NumericProfileNode.Spec("nullif(x, 0.0)", -1.5, 1.5, 16))))
    val hq = d.add(new HistQuantileNode(Seq(0.25, 0.5, 0.99)))
    val hd = d.add(new HistDriftNode())
    val pm = d.add(new ProfileMergeNode())
    val d3 = DagJson.fromJson(DagJson.toJson(d))
    val np2 = d3.node(np.name).asInstanceOf[NumericProfileNode]
    assert(np2.specs == Seq(
      NumericProfileNode.Spec("n_chars", 0.0, 640.0, 64),
      NumericProfileNode.Spec("nullif(x, 0.0)", -1.5, 1.5, 16)))
    assert(d3.node(hq.name).asInstanceOf[HistQuantileNode].quantiles ==
      Seq(0.25, 0.5, 0.99))
    assert(d3.node(hd.name).isInstanceOf[HistDriftNode])
    assert(d3.node(pm.name).isInstanceOf[ProfileMergeNode])
    // publish-time profiling config on the sink (round 12: numericProfiles)
    val snk = d.add(new SinkNode("/tmp/pub3", atomicPublish = true,
      profileColumns = Seq("lang"),
      numericProfiles = Seq(NumericProfileNode.Spec("n_chars", 0.0, 640.0, 64))))
    val d4 = DagJson.fromJson(DagJson.toJson(d))
    val snk2 = d4.node(snk.name).asInstanceOf[SinkNode]
    assert(snk2.atomicPublish && snk2.profileColumns == Seq("lang") &&
      snk2.numericProfiles == Seq(NumericProfileNode.Spec("n_chars", 0.0, 640.0, 64)))
    // overlay bound on the cluster index round-trips
    val ci3 = d.add(new ClusterIndexNode("a", "b", maxIter = 7,
      maxOverlayRows = 123456L))
    val d5 = DagJson.fromJson(DagJson.toJson(d))
    assert(d5.node(ci3.name).asInstanceOf[ClusterIndexNode].maxOverlayRows == 123456L)
    // quantized storage config on the incremental ANN index round-trips
    val iq = d.add(new IvfIndexNode(k = 4, nClusters = 5, nProbe = 2,
      quantized = true, rerank = 77))
    val d6 = DagJson.fromJson(DagJson.toJson(d))
    val iq2 = d6.node(iq.name).asInstanceOf[IvfIndexNode]
    assert(iq2.quantized && iq2.rerank == 77)
    // bm25 serving config on the incremental lexical index round-trips
    val ib = d.add(new InvertedIndexNode(k = 3, scoring = "bm25",
      k1Tenths = 15, bHundredths = 60, scale = 500000L))
    val d7 = DagJson.fromJson(DagJson.toJson(d))
    val ib2 = d7.node(ib.name).asInstanceOf[InvertedIndexNode]
    assert(ib2.scoring == "bm25" && ib2.k1Tenths == 15 &&
      ib2.bHundredths == 60 && ib2.scale == 500000L)
  }

  test("round-trip covers round-12 lakehouse kinds: mor-source/stats-pruned-source/" +
       "range-repartition/sink-statsColumns") {
    val d = new Dag("r12kinds")
    val ms = d.add(new MorSourceNode("/tmp/morpub", keys = Seq("id", "part"), format = "orc"))
    val sp = d.add(new StatsPrunedSourceNode("/tmp/statpub",
      pruneCols = Seq("k", "ts"), pruneLos = Seq(Some("10"), None),
      pruneHis = Seq(Some("99"), Some("2026-01-01"))))
    val rr = d.add(new RepartitionNode(16, Seq("k"), range = true))
    val sk = d.add(new SinkNode("/tmp/statpub", atomicPublish = true,
      statsColumns = Seq("k", "ts")))
    val d2 = DagJson.fromJson(DagJson.toJson(d))
    val ms2 = d2.node(ms.name).asInstanceOf[MorSourceNode]
    assert(ms2.path == "/tmp/morpub" && ms2.keys == Seq("id", "part") &&
      ms2.format == "orc")
    val sp2 = d2.node(sp.name).asInstanceOf[StatsPrunedSourceNode]
    assert(sp2.pruneCols == Seq("k", "ts") &&
      sp2.pruneLos == Seq(Some("10"), None) &&
      sp2.pruneHis == Seq(Some("99"), Some("2026-01-01")))
    val rr2 = d2.node(rr.name).asInstanceOf[RepartitionNode]
    assert(rr2.n == 16 && rr2.byCols == Seq("k") && rr2.range)
    assert(d2.node(sk.name).asInstanceOf[SinkNode].statsColumns == Seq("k", "ts"))
    val vc = d.add(new VacuumNode("/tmp/statpub", keepRollback = false, dryRun = true))
    val d3 = DagJson.fromJson(DagJson.toJson(d))
    val vc2 = d3.node(vc.name).asInstanceOf[VacuumNode]
    assert(vc2.path == "/tmp/statpub" && !vc2.keepRollback && vc2.dryRun)
    val dh = d.add(new ImageDHashNode("blob", "ph", hashW = 4, hashH = 16))
    val hn = d.add(new HammingNearDupNode("doc", "ph", maxHamming = 5,
      maxBucket = 77, outA = "l", outB = "r"))
    val d4 = DagJson.fromJson(DagJson.toJson(d))
    val dh2 = d4.node(dh.name).asInstanceOf[ImageDHashNode]
    assert(dh2.payloadCol == "blob" && dh2.outCol == "ph" &&
      dh2.hashW == 4 && dh2.hashH == 16)
    val hn2 = d4.node(hn.name).asInstanceOf[HammingNearDupNode]
    assert(hn2.idCol == "doc" && hn2.hashCol == "ph" && hn2.maxHamming == 5 &&
      hn2.maxBucket == 77 && hn2.outA == "l" && hn2.outB == "r")
    val di = d.add(new DHashIndexNode("img", "ph", maxHamming = 2,
      maxBucket = 99, compactEvery = 3, compactPath = Some("/tmp/dhc")))
    val d5 = DagJson.fromJson(DagJson.toJson(d))
    val di2 = d5.node(di.name).asInstanceOf[DHashIndexNode]
    assert(di2.idCol == "img" && di2.hashCol == "ph" && di2.maxHamming == 2 &&
      di2.maxBucket == 99 && di2.compactEvery == 3 &&
      di2.compactPath.contains("/tmp/dhc"))
    val af = d.add(new AudioFingerprintNode("wav", "fp"))
    val vf = d.add(new VideoFingerprintNode("avi", "vp"))
    val d6 = DagJson.fromJson(DagJson.toJson(d))
    val af2 = d6.node(af.name).asInstanceOf[AudioFingerprintNode]
    assert(af2.payloadCol == "wav" && af2.outCol == "fp")
    val vf2 = d6.node(vf.name).asInstanceOf[VideoFingerprintNode]
    assert(vf2.payloadCol == "avi" && vf2.outCol == "vp")
  }

  test("round-trip covers round-13 kinds: mor-tail followCompactions/lazy " +
       "checkpoint barrier/mor-source asOfBatch/merge allowEvolution") {
    val d = new Dag("r13kinds")
    val mt = d.add(new MorTailNode("/tmp/morpub", format = "orc",
      maxFilesPerTrigger = Some(3), followCompactions = true,
      waveIdCol = Some("__wave")))
    val cp = d.add(new CheckpointNode(eager = false))
    val ms = d.add(new MorSourceNode("/tmp/morpub", keys = Seq("id"),
      asOfBatch = Some(7L)))
    val mg = d.add(new MergeNode(Seq("id"), allowEvolution = true))
    val d2 = DagJson.fromJson(DagJson.toJson(d))
    val mt2 = d2.node(mt.name).asInstanceOf[MorTailNode]
    assert(mt2.path == "/tmp/morpub" && mt2.format == "orc" &&
      mt2.maxFilesPerTrigger.contains(3) && mt2.followCompactions &&
      mt2.waveIdCol.contains("__wave"))
    val cp2 = d2.node(cp.name).asInstanceOf[CheckpointNode]
    assert(!cp2.eager && !cp2.reliable)
    assert(d2.node(ms.name).asInstanceOf[MorSourceNode].asOfBatch.contains(7L))
    assert(d2.node(mg.name).asInstanceOf[MergeNode].allowEvolution)
    val ai = d.add(new AggIndexNode(groupCols = Seq("src", "lang"),
      sumCols = Seq("toks"), minCols = Seq("toks", "title"),
      maxCols = Seq("toks"),
      histSpecs = Seq(AggIndexNode.HistSpec("toks", 0L, 8191L, 64),
        AggIndexNode.HistSpec("score", -100L, 100L, 10)),
      sumSqCols = Seq("toks"),
      idCol = "uid", compactEvery = 4,
      compactPath = Some("/tmp/aggc")))
    val d3 = DagJson.fromJson(DagJson.toJson(d))
    val ai2 = d3.node(ai.name).asInstanceOf[AggIndexNode]
    assert(ai2.groupCols == Seq("src", "lang") && ai2.sumCols == Seq("toks") &&
      ai2.minCols == Seq("toks", "title") && ai2.maxCols == Seq("toks") &&
      ai2.histSpecs == Seq(AggIndexNode.HistSpec("toks", 0L, 8191L, 64),
        AggIndexNode.HistSpec("score", -100L, 100L, 10)) &&
      ai2.sumSqCols == Seq("toks") &&
      ai2.idCol == "uid" && ai2.compactEvery == 4 &&
      ai2.compactPath.contains("/tmp/aggc"))
    val sk = d.add(new SketchIndexNode(groupCols = Seq("src"),
      cols = Seq("url", "doc_id"), lgConfigK = 14, compactEvery = 3,
      compactPath = Some("/tmp/skc")))
    val dsk = DagJson.fromJson(DagJson.toJson(d))
    val sk2 = dsk.node(sk.name).asInstanceOf[SketchIndexNode]
    assert(sk2.groupCols == Seq("src") && sk2.cols == Seq("url", "doc_id") &&
      sk2.lgConfigK == 14 && sk2.compactEvery == 3 &&
      sk2.compactPath.contains("/tmp/skc"))
    val skq = d.add(new SketchIndexNode(Seq("src"), Nil,
      quantileCols = Seq("ppl", "score"), kllK = 400))
    val skq2 = DagJson.fromJson(DagJson.toJson(d))
      .node(skq.name).asInstanceOf[SketchIndexNode]
    assert(skq2.quantileCols == Seq("ppl", "score") && skq2.kllK == 400 &&
      skq2.cols.isEmpty)
    val mj = d.add(new MaterializedJoinNode(leftOn = Seq("cust", "region"),
      rightOn = Seq("c_id", "c_region"), leftId = "oid", rightId = "c_id",
      joinType = "left_outer",
      compactEvery = 6, compactPath = Some("/tmp/mjc"),
      maxBroadcastDim = 777L))
    val d4 = DagJson.fromJson(DagJson.toJson(d))
    val mj2 = d4.node(mj.name).asInstanceOf[MaterializedJoinNode]
    assert(mj2.leftOn == Seq("cust", "region") &&
      mj2.rightOn == Seq("c_id", "c_region") && mj2.leftId == "oid" &&
      mj2.rightId == "c_id" && mj2.joinType == "left_outer" &&
      mj2.compactEvery == 6 &&
      mj2.compactPath.contains("/tmp/mjc") &&
      mj2.maxBroadcastDim == 777L)
  }

  test("round-trip covers quality kinds: heuristic/vocab/semdedup/domain-quota") {
    val d = new Dag("qkinds")
    val hf = d.add(new HeuristicFilterNode("body", 30, 5000, 2.5, 9.0, 0.2, 0.8, 0.4,
      0.7, 3, Seq("der", "die"), keepOnly = true))
    val vf = d.add(new VocabFilterNode("id", "body", 7L, 1024, 0.25))
    val sd = d.add(new SemDedupNode(0.9, 64, "id", "vec", 5000L, 2048, collapseExact = false))
    val dq = d.add(new DomainQuotaNode("dom", 42, Seq("score desc", "ts"), "id", "rk"))
    val d2 = DagJson.fromJson(DagJson.toJson(d))
    val hf2 = d2.node(hf.name).asInstanceOf[HeuristicFilterNode]
    assert(hf2.textCol == "body" && hf2.minWords == 30 && hf2.maxSymbolRatio == 0.2 &&
      hf2.minStopwordHits == 3 && hf2.stopwords == Seq("der", "die") && hf2.keepOnly)
    val vf2 = d2.node(vf.name).asInstanceOf[VocabFilterNode]
    assert(vf2.minDf == 7L && vf2.maxVocab == 1024 && vf2.maxOovFrac == 0.25)
    val sd2 = d2.node(sd.name).asInstanceOf[SemDedupNode]
    assert(sd2.threshold == 0.9 && sd2.nClusters == 64 && sd2.maxFitRows == 5000L &&
      sd2.maxCluster == 2048 && !sd2.collapseExact)
    val dq2 = d2.node(dq.name).asInstanceOf[DomainQuotaNode]
    assert(dq2.quota == 42 && dq2.orderBy == Seq("score desc", "ts") && dq2.rankCol == "rk")
    val bp = d.add(new BpeTokenizerNode("id", "body", 300, 2000L, 9999, "toks"))
    val bp2 = DagJson.fromJson(DagJson.toJson(d)).node(bp.name).asInstanceOf[BpeTokenizerNode]
    assert(bp2.numMerges == 300 && bp2.maxFitRows == 2000L && bp2.maxWordTypes == 9999 &&
      bp2.outCol == "toks")
  }

  test("DagRun.unpersist releases node-internal tracked persists (Ctx.track)") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val d = new Dag()
    val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f h")).toDF("doc_id", "text")
    d.add(new FnNode(Nil, Seq(Port("result")), (_, _) => Map("result" -> docs), "src")) >>
      new MinHashDedupNode(jaccardThreshold = 0.3) >> d.output("result")
    val run = d.transform(Ctx(spark))
    run("result").count() // materialize (populates the internal caches)
    assert(run.persisted.nonEmpty, "minhash internal persists must be tracked")
    run.unpersist()
    assert(sc.getPersistentRDDs.size <= before, "tracked persists must be released")
  }

  test("user node class round-trips after runtime NodeRegistry.register (reference import_class)") {
    // a test-defined node class, registered at runtime — the reference's
    // {module, class, params} re-import flow (graph.py:938-1077) without
    // reflection: the class declares jsonKind/jsonParams, the user supplies
    // the factory
    import graft.dag.DagJson.P
    NodeRegistry.register("user_scale")(p =>
      new SerializationSpec.UserScaleNode(p.str("col"), p.int("factor")))
    val d = new Dag("user_ext")
    val src = d.add(SourceNode.table("/root/testdata/sf0.001", "orders"))
    val u = d.add(new SerializationSpec.UserScaleNode("o_orderkey", 3))
    src >> u
    u >> d.output("result")
    val d2 = DagJson.fromJson(DagJson.toJson(d))
    val u2 = d2.node(u.name).asInstanceOf[SerializationSpec.UserScaleNode]
    assert(u2.col == "o_orderkey" && u2.factor == 3)
    val r1 = d.transform(Ctx(spark)).outputs("result").agg(sum("scaled")).collect().head
    val r2 = d2.transform(Ctx(spark)).outputs("result").agg(sum("scaled")).collect().head
    assert(r1 == r2)
  }

  test("closure-carrying nodes refuse serialization with a clear error") {
    val d = new Dag()
    d.add(FnNode.map1("f")(identity))
    val e = intercept[GraftException](DagJson.toJson(d))
    assert(e.getMessage.contains("not JSON-serializable"))
  }

  test("DOT rendering includes nodes, slot edges, deps, dag inputs/outputs") {
    val d = new Dag("dotted")
    val a = d.add(new IdentityNode().named("a"))
    val b = d.add(new IdentityNode().named("b"))
    val c = d.add(new IdentityNode().named("c"))
    a >> b
    c.after(b)
    d.input("x") >> a
    b >> d.output("res")
    val dot = DagDot.toDot(d)
    assert(dot.contains("\"a\" -> \"b\""))
    assert(dot.contains("style=dashed"))
    assert(dot.contains("\"in:x\" -> \"a\""))
    assert(dot.contains("\"b\" -> \"out:res\""))
  }

  test("nested dag renders as a cluster subgraph with port ovals and record slots") {
    val inner = new Dag("cleaner")
    val f = inner.add(FnNode.map1("norm")(df => df))
    inner.input("raw") >> f
    f >> inner.output("clean")
    val outer = new Dag("pipeline")
    val src = outer.add(FnNode.map1("src")(df => df))
    val sub = outer.add(inner.asNode)
    val sink = outer.add(FnNode.map1("sink")(df => df))
    outer.input("x") >> src
    src >> sub("raw"); sub("clean") >> sink
    sink >> outer.output("res")
    val dot = DagDot.toDot(outer)
    assert(dot.contains("subgraph \"cluster_cleaner/\""))            // SubDagNode cluster
    assert(dot.contains("\"cleaner/in:raw\""))                       // inner input oval
    assert(dot.contains("\"cleaner/out:clean\""))                    // inner output oval
    assert(dot.contains("\"cleaner/norm\""))                         // path-prefixed inner node
    assert(dot.contains("\"src\" -> \"cleaner/in:raw\""))            // outer edge lands on port
    assert(dot.contains("\"cleaner/out:clean\" -> \"sink\""))        // and leaves from port
    assert(dot.contains("<i_df> df"))                                // record input port row
    assert(dot.contains("<o_result> result"))                        // record output port row
    // depth cap: at maxDepth 0 the subdag renders as a plain record node
    val capped = DagDot.toDot(outer, None, 0)
    assert(!capped.contains("subgraph"))
    assert(capped.contains("\"cleaner\"") && capped.contains("SubDagNode"))
    assert(capped.contains("\"src\" -> \"cleaner\""))
  }

  test("round-trip covers advanced kinds: pagerank/bloom-join/merge/diff/outlier/inverted-index") {
    val d = new Dag("advkinds")
    val pr = d.add(new PageRankNode("u", "v", 7, 500000L, 90))
    val bj = d.add(new BloomJoinNode(Seq("a", "b"), Seq("x", "y"), 4242L, 0.05, "left_semi", broadcastBuild = true))
    val mg = d.add(new MergeNode(Seq("k1", "k2"), Some("tomb"), broadcastKeys = false))
    val sd = d.add(new SnapshotDiffNode(Seq("id"), Seq("c1", "c2"), includeUnchanged = true, "delta"))
    val of = d.add(new OutlierFilterNode(Seq("g"), "v * 2", 2.5, dropOutliers = true, approx = true))
    val ii = d.add(new InvertedIndexTopKNode("did", "body", "qid", "qbody", 7, 0.33, Some(9999L)))
    val d2 = DagJson.fromJson(DagJson.toJson(d))
    val pr2 = d2.node(pr.name).asInstanceOf[PageRankNode]
    assert(pr2.srcCol == "u" && pr2.dstCol == "v" && pr2.iterations == 7 &&
      pr2.scale == 500000L && pr2.dampingNum == 90)
    val bj2 = d2.node(bj.name).asInstanceOf[BloomJoinNode]
    assert(bj2.probeKeys == Seq("a", "b") && bj2.buildKeys == Seq("x", "y") &&
      bj2.expectedItems == 4242L && bj2.fpp == 0.05 && bj2.joinType == "left_semi" &&
      bj2.broadcastBuild)
    val mg2 = d2.node(mg.name).asInstanceOf[MergeNode]
    assert(mg2.keys == Seq("k1", "k2") && mg2.deleteCol.contains("tomb") && !mg2.broadcastKeys)
    val sd2 = d2.node(sd.name).asInstanceOf[SnapshotDiffNode]
    assert(sd2.keys == Seq("id") && sd2.compareCols == Seq("c1", "c2") &&
      sd2.includeUnchanged && sd2.changeCol == "delta")
    val of2 = d2.node(of.name).asInstanceOf[OutlierFilterNode]
    assert(of2.groupCols == Seq("g") && of2.valueExpr == "v * 2" && of2.k == 2.5 &&
      of2.dropOutliers && of2.approx)
    val ii2 = d2.node(ii.name).asInstanceOf[InvertedIndexTopKNode]
    assert(ii2.idCol == "did" && ii2.textCol == "body" && ii2.queryIdCol == "qid" &&
      ii2.queryTextCol == "qbody" && ii2.k == 7 && ii2.maxDfFrac == 0.33 &&
      ii2.corpusSizeHint.contains(9999L))
    val d3 = new Dag("bm25kind")
    val bm = d3.add(new Bm25TopKNode("did", "body", "qid", "qbody", 7, 0.33, 15, 50, 2000000L))
    val mi = d3.add(new MinHashIndexNode("did", "body", 64, 32, 5, 0.9, 777))
    val d3b = DagJson.fromJson(DagJson.toJson(d3))
    val bm2 = d3b.node(bm.name).asInstanceOf[Bm25TopKNode]
    assert(bm2.idCol == "did" && bm2.textCol == "body" && bm2.queryIdCol == "qid" &&
      bm2.queryTextCol == "qbody" && bm2.k == 7 && bm2.maxDfFrac == 0.33 &&
      bm2.k1Tenths == 15 && bm2.bHundredths == 50 && bm2.scale == 2000000L)
    val mi2 = d3b.node(mi.name).asInstanceOf[MinHashIndexNode]
    assert(mi2.idCol == "did" && mi2.textCol == "body" && mi2.numHashes == 64 &&
      mi2.bands == 32 && mi2.shingleN == 5 && mi2.jaccardThreshold == 0.9 &&
      mi2.maxBucket == 777)
    val d4 = new Dag("sesskind")
    val sz = d4.add(new SessionizeNode(Seq("uid", "dev"), "evt_ts", 7200L, Seq("eid"), "sess"))
    val sz2 = DagJson.fromJson(DagJson.toJson(d4)).node(sz.name).asInstanceOf[SessionizeNode]
    assert(sz2.keyCols == Seq("uid", "dev") && sz2.tsCol == "evt_ts" &&
      sz2.gapSeconds == 7200L && sz2.tieBreakCols == Seq("eid") && sz2.outCol == "sess")
    val d5 = new Dag("collkind")
    val cl = d5.add(new CollocationNode("body", 9L, 3L, 42, 500000L))
    val wsN = d5.add(new WeightedSampleNode("rid", "score / 2", 4096L, Some("kept")))
    val d5b = DagJson.fromJson(DagJson.toJson(d5))
    val cl2 = d5b.node(cl.name).asInstanceOf[CollocationNode]
    assert(cl2.textCol == "body" && cl2.minCount == 9L && cl2.discount == 3L &&
      cl2.k == 42 && cl2.scale == 500000L)
    val ws2 = d5b.node(wsN.name).asInstanceOf[WeightedSampleNode]
    assert(ws2.idCol == "rid" && ws2.probExpr == "score / 2" && ws2.scale == 4096L &&
      ws2.keepCol.contains("kept"))
    val d6 = new Dag("qfkind")
    val qf = d6.add(new QuantileFilterNode("len * 2", 0.1, Seq("lang", "src"),
      annotate = true, approx = true, accuracy = 123))
    val qf2 = DagJson.fromJson(DagJson.toJson(d6)).node(qf.name).asInstanceOf[QuantileFilterNode]
    assert(qf2.scoreExpr == "len * 2" && qf2.keepFrac == 0.1 &&
      qf2.groupCols == Seq("lang", "src") && qf2.annotate && qf2.approx &&
      qf2.accuracy == 123)
    val d7 = new Dag("checkkinds")
    val tc = d7.add(new TriangleCountNode("u", "v"))
    val cc = d7.add(new ConstraintCheckNode(
      Seq("a" -> "count(*) > 0", "b" -> "min(x) >= 0"), failFast = true))
    val d7b = DagJson.fromJson(DagJson.toJson(d7))
    val tc2 = d7b.node(tc.name).asInstanceOf[TriangleCountNode]
    assert(tc2.srcCol == "u" && tc2.dstCol == "v")
    val cc2 = d7b.node(cc.name).asInstanceOf[ConstraintCheckNode]
    assert(cc2.constraints == Seq("a" -> "count(*) > 0", "b" -> "min(x) >= 0") &&
      cc2.failFast)
    val d8 = new Dag("histkind")
    val hg = d8.add(new HistogramNode("v + 1", -2.5, 7.5, 8, Seq("lang"), clamp = false))
    val cp = d8.add(new CheckpointNode(reliable = true))
    val d8b = DagJson.fromJson(DagJson.toJson(d8))
    val hg2 = d8b.node(hg.name).asInstanceOf[HistogramNode]
    assert(hg2.valueExpr == "v + 1" && hg2.lo == -2.5 && hg2.hi == 7.5 &&
      hg2.nBins == 8 && hg2.groupCols == Seq("lang") && !hg2.clamp)
    assert(d8b.node(cp.name).asInstanceOf[CheckpointNode].reliable)
    val d9 = new Dag("ivkind")
    val mi9 = d9.add(new MergeIntervalsNode(Seq("uid", "dev"), "valid_from", "valid_to"))
    val mi9b = DagJson.fromJson(DagJson.toJson(d9)).node(mi9.name).asInstanceOf[MergeIntervalsNode]
    assert(mi9b.keyCols == Seq("uid", "dev") && mi9b.startCol == "valid_from" &&
      mi9b.endCol == "valid_to")
    val d10 = new Dag("clkind")
    val cl10 = d10.add(new CompactLogNode(Seq("k1", "k2"), "updated_at", Seq("seq"), "history"))
    val cl10b = DagJson.fromJson(DagJson.toJson(d10)).node(cl10.name).asInstanceOf[CompactLogNode]
    assert(cl10b.keys == Seq("k1", "k2") && cl10b.orderCol == "updated_at" &&
      cl10b.tieBreakCols == Seq("seq") && cl10b.mode == "history")
    val d11 = new Dag("zkind")
    val zo = d11.add(new ZOrderNode("lat", "lon", "mkey", Some(64), keepKey = false))
    val zo2 = DagJson.fromJson(DagJson.toJson(d11)).node(zo.name).asInstanceOf[ZOrderNode]
    assert(zo2.colA == "lat" && zo2.colB == "lon" && zo2.outCol == "mkey" &&
      zo2.partitions.contains(64) && !zo2.keepKey)
    val d12 = new Dag("emakind")
    val ge = d12.add(new GroupEmaNode(Seq("uid"), "unix_micros(t)", "eid", "v * 10", 35, "decay"))
    val ge2 = DagJson.fromJson(DagJson.toJson(d12)).node(ge.name).asInstanceOf[GroupEmaNode]
    assert(ge2.keyCols == Seq("uid") && ge2.orderExpr == "unix_micros(t)" &&
      ge2.tieExpr == "eid" && ge2.valueExpr == "v * 10" && ge2.alphaPct == 35 &&
      ge2.outCol == "decay")
  }

  test("bm25_topk JSON that still carries broadcastTerms/broadcastQueries loads; " +
       "the two keys are ignored") {
    val d = new Dag("bm25legacy")
    val bm = d.add(new Bm25TopKNode("did", "body", "qid", "qbody", 7, 0.33, 15, 50, 2000000L))
    val json = DagJson.toJson(d)
    val legacy = json.replace("\"scale\":2000000",
      "\"scale\":2000000,\"broadcastTerms\":false,\"broadcastQueries\":false")
    assert(legacy != json)
    val bm2 = DagJson.fromJson(legacy).node(bm.name).asInstanceOf[Bm25TopKNode]
    assert(bm2.idCol == "did" && bm2.textCol == "body" && bm2.queryIdCol == "qid" &&
      bm2.queryTextCol == "qbody" && bm2.k == 7 && bm2.maxDfFrac == 0.33 &&
      bm2.k1Tenths == 15 && bm2.bHundredths == 50 && bm2.scale == 2000000L)
    assert(!bm2.jsonParams.contains("broadcastTerms") && !bm2.jsonParams.contains("broadcastQueries"))
    assert(DagJson.toJson(DagJson.fromJson(legacy)) == json)
  }

  test("nested dag JSON round-trip (reference MLDagNode through to_dict)") {
    nodes.NodeRegistry.ensure
    val inner = new Dag("cleaner")
    val f = inner.add(new FilterNode("id >= 2").named("keep"))
    val p = inner.add(new ProjectNode(Seq("id", "v")).named("proj"))
    inner.input("raw") >> f
    f >> p
    p >> inner.output("clean")
    val outer = new Dag("outer_pipe")
    val sub = outer.add(inner.asNode)
    outer.input("x") >> sub
    sub("clean") >> outer.output("res")
    val json = DagJson.toJson(outer)
    assert(json.contains("\"kind\":\"sub_dag\""))
    val back = DagJson.fromJson(json)
    val subBack = back.nodes.collectFirst { case s: SubDagNode => s }.get
    assert(subBack.inner.dagName == "cleaner")
    assert(subBack.inner.nodeNames == Seq("keep", "proj"))
    val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    val out = back.transform(Ctx(spark), Map("x" -> df))("res")
    assert(out.select("id").as[Int].collect().sorted.toSeq == Seq(2, 3))
  }

  test("DOT styles: default and dark palettes color graph, nodes, ports") {
    val d = new Dag("styled")
    val a = d.add(FnNode.map1("a")(df => df))
    d.input("x") >> a
    a >> d.output("y")
    val light = DagDot.toDot(d, DotStyle.default)
    assert(light.contains("bgcolor=\"#ffffff\""))
    assert(light.contains("fillcolor=\"#a1c9f4\""))
    val dark = DagDot.toDot(d, DotStyle.dark)
    assert(dark.contains("bgcolor=\"#1e1e1e\""))
    assert(dark.contains("fontcolor=\"#eeeeee\""))
    // unstyled rendering unchanged
    assert(!DagDot.toDot(d).contains("bgcolor"))
  }

  test("estimator fitted state saves and loads (reference dump/load)") {
    class MeanNode extends EstimatorNode {
      type Model = java.lang.Double
      val inputs = Seq(Port("df")); val outputs = Seq(Port("result"))
      def fitModel(ctx: Ctx, in: In): java.lang.Double =
        in("df").agg(avg("id")).collect()(0).getDouble(0)
      def applyModel(m: java.lang.Double, ctx: Ctx, in: In) =
        Map("result" -> in("df").withColumn("c", col("id") - lit(m.doubleValue)))
    }
    val df = Seq(1, 2, 3).toDF("id")
    val n1 = new MeanNode
    n1.fit(Ctx(spark), In.single("df" -> df))
    val tmp = java.io.File.createTempFile("graft_model", ".bin").getAbsolutePath
    n1.saveFitted(tmp)
    val n2 = new MeanNode
    assert(!n2.isFitted)
    n2.loadFitted(tmp)
    assert(n2.isFitted)
    val out = n2.transform(Ctx(spark), In.single("df" -> df))("result")
    assert(out.agg(sum("c")).as[Double].head() == 0.0)
  }

  test("BPE public-format export: byte-stable vocab.json/merges.txt; reload-equivalent") {
    val docs = Seq(
      (1L, "low lower lowest low low"),
      (2L, "new newer newest new newer"),
      (3L, "low new lower newer lowest"),
    ).toDF("doc_id", "text")
    val n1 = new BpeTokenizerNode(numMerges = 20)
    n1.fit(Ctx(spark), In.single("df" -> docs))
    assert(n1.lastMerges.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_pub_").toString
    n1.exportPublic(dir)
    // byte-stable: a second export writes identical files
    def bytes(f: String) = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, f))
    val (m1, v1) = (bytes("merges.txt"), bytes("vocab.json"))
    n1.exportPublic(dir)
    assert(java.util.Arrays.equals(m1, bytes("merges.txt")))
    assert(java.util.Arrays.equals(v1, bytes("vocab.json")))
    // standard layout: version header + one ranked pair per line; vocab ids
    // cover alphabet then merges in rank order
    val lines = new String(m1, "UTF-8").linesIterator.toSeq
    assert(lines.head == "#version: 0.2")
    assert(lines.tail.forall(_.count(_ == ' ') == 1))
    val vocab = BpeTokenizerNode.derivedVocab(n1.lastMerges)
    assert(new String(v1, "UTF-8").contains(s""""${vocab.head}": 0"""))
    assert(vocab.distinct.size == vocab.size)
    // reload-equivalence: an importPublic node applies identically
    val n2 = new BpeTokenizerNode(numMerges = 20)
    n2.importPublic(dir)
    assert(n2.lastMerges == n1.lastMerges)
    val a = n1.transform(Ctx(spark), In.single("df" -> docs))("result")
      .select("doc_id", "bpe_tokens").collect().map(_.toString).sorted
    val b = n2.transform(Ctx(spark), In.single("df" -> docs))("result")
      .select("doc_id", "bpe_tokens").collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("SparkMlNode fitted pipeline round-trips through MLWriter/MLReader") {
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.ml.feature.{HashingTF, IDF, RegexTokenizer}
    val docs = Seq((1L, "spark engines at scale"), (2L, "spark catalyst plans"),
      (3L, "graft dedup minhash")).toDF("doc_id", "text")
    val pipe = new Pipeline().setStages(Array(
      new RegexTokenizer().setInputCol("text").setOutputCol("toks").setPattern("\\s+"),
      new HashingTF().setInputCol("toks").setOutputCol("tf").setNumFeatures(64),
      new IDF().setInputCol("tf").setOutputCol("tfidf")))
    val n1 = new SparkMlNode(pipe, "tfidf")
    n1.fit(Ctx(spark), In.single("df" -> docs))
    val dir = java.nio.file.Files.createTempDirectory("graft_ml_model").toString + "/m"
    n1.saveFitted(dir) // MLWriter directory: parquet + JSON metadata, version-stable
    val n2 = new SparkMlNode(pipe, "tfidf2")
    assert(!n2.isFitted)
    n2.loadFitted(dir)
    assert(n2.isFitted)
    val a = n1.transform(Ctx(spark), In.single("df" -> docs))("result")
      .select("doc_id", "tfidf").collect().map(_.toString).sorted
    val b = n2.transform(Ctx(spark), In.single("df" -> docs))("result")
      .select("doc_id", "tfidf").collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }
}

object SerializationSpec {
  /** Test-only user node class for the runtime-registration round-trip. */
  class UserScaleNode(val col: String, val factor: Int) extends Node {
    override protected def defaultName: String = "user_scale"
    val inputs = Seq(Port("df"))
    val outputs = Seq(Port("result"))
    override def jsonKind: Option[String] = Some("user_scale")
    override def jsonParams: Map[String, Any] = Map("col" -> col, "factor" -> factor)
    override def transform(ctx: Ctx, in: In): Map[String, org.apache.spark.sql.DataFrame] =
      Map("result" -> in("df").selectExpr(s"$col * $factor as scaled"))
  }
}
