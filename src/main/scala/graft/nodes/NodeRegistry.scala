package graft.nodes

import graft.dag._
import graft.dag.DagJson.P

/** Central registry wiring the node library into DagJson (reference
  * to_dict/from_dict re-imports classes by name, graph.py:938-1077; here it
  * is an explicit factory table — no reflection). `ensure` is idempotent;
  * call before DagJson.fromJson. Closure-carrying nodes (FnNode,
  * SubDagNode's inner lambdas) are intentionally absent — same boundary as
  * pickling unimportable Python lambdas in the reference.
  */
object NodeRegistry {
  /** Public extension point for USER node classes (the reference re-imports
    * any node by {module, class, params}, graph.py:938-1077; here a custom
    * class opts into topology round-trips by registering a factory for its
    * `jsonKind`). Built-ins load first, so a user kind may also shadow one.
    * The node class itself must emit `jsonKind`/`jsonParams`; the factory
    * rebuilds it from the parsed params map.
    */
  def register(kind: String)(f: DagJson.Params => Node): Unit = {
    ensure // built-ins first — user registrations survive (and may shadow)
    DagJson.register(kind)(f)
  }

  lazy val ensure: Unit = {
    import DagJson.{register => reg}
    def register(kind: String)(f: DagJson.Params => Node): Unit = reg(kind)(f)
    register("source")(p => new SourceNode(p.str("path"), p.str("format"), p.strs("columns"), p.strs("nanosTsCols"),
      p.m.get("options").collect { case m: Map[_, _] => m.map { case (k, v) => k.toString -> v.toString } }.getOrElse(Map.empty),
      p.strOpt("schemaDdl"),
      p.m.get("generation").flatMap(Option(_)).map(_.toString.toLong)))
    register("mor_source")(p =>
      new MorSourceNode(p.str("path"), p.strs("keys"), p.str("format"),
        p.int("maxDeltas"),
        p.m.get("asOfBatch").collect {
          case n if n != null => n.toString.toDouble.toLong }))
    register("bucketed_sink")(p => new BucketedSinkNode(p.str("table"), p.strs("bucketCols"),
      p.int("nBuckets"), p.strs("sortCols"), p.str("format"), p.str("mode")))
    register("sink") { p =>
      val (npCols, npLos) = (p.strs("npCols"), p.strs("npLos").map(_.toDouble))
      val (npHis, npBins) = (p.strs("npHis").map(_.toDouble), p.strs("npBins").map(_.toInt))
      new SinkNode(p.str("path"), p.str("format"), p.str("mode"), p.strs("partitionBy"),
        p.m.get("options").collect { case m: Map[_, _] => m.map { case (k, v) => k.toString -> v.toString } }.getOrElse(Map.empty),
        p.boolOr("atomicPublish", false), p.strs("profileColumns"),
        npCols.indices.map(i =>
          NumericProfileNode.Spec(npCols(i), npLos(i), npHis(i), npBins(i))),
        p.strs("statsColumns"), p.strs("bloomColumns"),
        p.m.get("bloomExpectedItems").fold(1000000L)(_.toString.toDouble.toLong),
        p.m.get("bloomFpp").fold(0.01)(_.toString.toDouble))
    }
    register("mor_tail")(p => new MorTailNode(p.str("path"), p.str("format"),
      p.m.get("maxFilesPerTrigger").collect {
        case n if n != null => n.toString.toDouble.toInt },
      p.boolOr("followCompactions", false), p.strOpt("waveIdCol")))
    register("bloom_pruned_source")(p => new BloomPrunedSourceNode(
      p.str("path"), p.str("inCol"), p.str("format"), p.strs("morKeys"),
      p.intOr("morMaxDeltas", 64),
      p.m.get("maxIds").fold(1000000L)(_.toString.toDouble.toLong)))
    register("image_dhash")(p => new ImageDHashNode(p.str("payloadCol"),
      p.str("outCol"), p.int("hashW"), p.int("hashH")))
    register("hamming_near_dup")(p => new HammingNearDupNode(p.str("idCol"),
      p.str("hashCol"), p.int("maxHamming"), p.int("maxBucket"),
      p.str("outA"), p.str("outB")))
    register("audio_fingerprint")(p =>
      new AudioFingerprintNode(p.str("payloadCol"), p.str("outCol")))
    register("video_fingerprint")(p =>
      new VideoFingerprintNode(p.str("payloadCol"), p.str("outCol")))
    register("dhash_index")(p => new DHashIndexNode(p.str("idCol"),
      p.str("hashCol"), p.int("maxHamming"), p.int("maxBucket"),
      p.int("compactEvery"), p.strOpt("compactPath")))
    register("vacuum")(p => new VacuumNode(p.str("path"),
      p.boolOr("keepRollback", true), p.boolOr("dryRun", false),
      p.boolOr("reclaimNext", false)))
    register("stats_pruned_source")(p => new StatsPrunedSourceNode(p.str("path"),
      p.strs("pruneCols"),
      p.m.get("pruneLos").collect { case l: Seq[_] => l.map(Option(_).map(_.toString)) }.getOrElse(Nil),
      p.m.get("pruneHis").collect { case l: Seq[_] => l.map(Option(_).map(_.toString)) }.getOrElse(Nil),
      p.str("format"), p.strs("morKeys"), p.intOr("morMaxDeltas", 64)))
    register("project")(p => new ProjectNode(p.strs("exprs")))
    register("with_columns")(p => new WithColumnsNode(p.pairs("cols")))
    register("filter")(p => new FilterNode(p.str("condition")))
    register("join")(p => new JoinNode(p.str("joinType"), p.strs("using"), p.strOpt("condition"), p.bool("broadcastRight")))
    register("agg")(p => new AggNode(p.strs("groupBy"), p.strs("aggs"), p.str("grouping")))
    register("sort")(p => new SortNode(p.strs("exprs")))
    register("limit")(p => new LimitNode(p.int("n")))
    register("top_k")(p => new TopKNode(p.int("k"), p.strs("sortExprs")))
    register("union")(p => new UnionNode(p.bool("byName"), p.bool("distinct"), p.boolOr("allowMissingColumns", false)))
    register("set_op")(p => new SetOpNode(p.str("op")))
    register("tagged_union")(p => new TaggedUnionNode(p.str("keyCol"), p.boolOr("allowMissingColumns", false)))
    register("distinct")(p => new DistinctNode(p.strs("cols")))
    register("profile")(p => new ProfileNode(p.strs("columns"), p.boolOr("exactDistinct", true)))
    register("sql")(p => new SqlNode(p.str("sql"), p.strs("ports")))
    register("repartition")(p => new RepartitionNode(p.int("n"), p.strs("byCols"), p.bool("coalesce"), p.boolOr("range", false)))
    // hand-authored-JSON convention: an ABSENT 'otherwise' key follows the
    // constructor default; an explicit null disables the catch-all port
    register("router")(p => new RouterNode(
      p.m("routes").asInstanceOf[Seq[Any]].map { case s: Seq[Any] @unchecked =>
        s.head.toString -> s(1).toString
      },
      if (!p.m.contains("otherwise")) Some("otherwise") else p.strOpt("otherwise")))
    register("identity")(_ => new IdentityNode)
    register("window")(p => new WindowNode(p.strs("partitionBy"), p.strs("orderBy"), p.pairs("cols"),
      p.m.get("frameLo").map(_ => (p.m("frameLo").toString.toLong, p.m("frameHi").toString.toLong))))
    // missing 'strategy' (hand-authored JSON) follows the constructor default
    // — merge, the linear path; engine-saved JSON always writes the key
    register("asof_join")(p => new AsofJoinNode(p.strs("leftKeys"), p.strs("rightKeys"),
      p.str("leftTime"), p.str("rightTime"), p.strs("leftIdCols"), p.str("rightTieBreak"),
      p.str("joinType"), p.bool("forward"), p.strOpt("strategy").getOrElse("merge")))
    register("exact_dedup")(p => new ExactDedupNode(p.strs("keyExprs"), p.str("idCol")))
    register("minhash_dedup")(p => new MinHashDedupNode(p.str("idCol"), p.str("textCol"),
      p.int("numHashes"), p.int("bands"), p.int("shingleN"), p.dbl("jaccardThreshold"), p.int("maxBucket"), p.boolOr("collapseExact", true)))
    register("simhash_dedup")(p => new SimHashDedupNode(p.str("idCol"), p.str("textCol"),
      p.int("maxHamming"), p.int("chunks"), p.int("maxBucket"), p.boolOr("collapseExact", true),
      p.boolOr("partialRecall", false)))
    register("ngram_jaccard")(p => new NgramJaccardNode(p.str("idCol"), p.str("textCol"),
      p.int("shingleN"), p.dbl("threshold"), p.int("maxDocFreq"), p.dbl("maxDocFreqFraction"),
      Option(p.m.getOrElse("corpusSizeHint", null)).map(_.toString.toLong)))
    register("span_dup_score")(p => new SpanDupScoreNode(p.str("idCol"), p.str("textCol"),
      p.int("shingleN"), p.dbl("dropAbove")))
    register("span_dedup")(p => new SpanDedupNode(p.str("idCol"), p.str("textCol"),
      p.int("spanTokens"), p.str("outCol")))
    register("token_count")(p => new TokenCountNode(p.str("textCol")))
    register("split")(p => new SplitNode(p.str("idCol"),
      p.m("splits").asInstanceOf[Seq[Any]].map { case s: Seq[Any] @unchecked =>
        s.head.toString -> s(1).toString.toDouble.toInt
      }, p.str("outCol")))
    register("chunk")(p => new ChunkNode(p.str("idCol"), p.str("textCol"),
      p.int("chunkTokens"), p.int("overlap")))
    register("sample")(p => new SampleNode(p.str("idCol"), p.dbl("fraction"),
      p.strOpt("strataCol"),
      p.m("fractions").asInstanceOf[Seq[Any]].map { case s: Seq[Any] @unchecked =>
        s.head.toString -> s(1).toString.toDouble
      }))
    register("sequence_pack")(p => new SequencePackNode(p.str("idCol"), p.str("textCol"),
      p.strOpt("tokensCol"), p.int("seqLen"), p.int("shards")))
    register("domain_mix")(p => new DomainMixNode(
      p.m("multipliers").asInstanceOf[Seq[Any]].map { case s: Seq[Any] @unchecked =>
        s.head.toString -> s(1).toString.toDouble
      }, p.str("strataCol"), p.str("idCol"), p.dbl("defaultMultiplier"), p.str("copyCol")))
    register("line_dedup")(p => new LineDedupNode(p.str("idCol"), p.str("textCol"),
      p.str("delim"), p.m("maxDocFreq").toString.toLong, p.str("outCol")))
    register("normalize_text")(p => new NormalizeTextNode(p.str("textCol"), p.str("outCol"),
      p.str("form"), p.bool("stripControl"), p.bool("collapseWhitespace")))
    register("interleave")(p => new InterleaveNode(p.str("idCol"), p.int("buckets"), p.str("tagCol")))
    register("redact")(p => new RedactNode(p.str("textCol"), p.str("outCol"),
      p.m("patterns").asInstanceOf[Seq[Any]].map { case s: Seq[Any] @unchecked =>
        s.head.toString -> s(1).toString
      }))
    register("lang_id")(p => new LangIdNode(p.str("textCol"),
      p.m("markers").asInstanceOf[Seq[Any]].map { case s: Seq[Any] @unchecked =>
        s.head.toString -> s(1).asInstanceOf[Seq[Any]].map(_.toString)
      }))
    register("url_canon")(p => new UrlCanonNode(p.str("urlCol"), p.str("outCol"),
      p.strs("stripParams"), p.bool("stripFragment"), p.bool("sortParams"), p.bool("stripWww")))
    register("quality_score")(p => new QualityScoreNode(p.str("textCol"), p.strs("stopwords")))
    register("heuristic_filter")(p => new HeuristicFilterNode(p.str("textCol"),
      p.int("minWords"), p.int("maxWords"), p.dbl("minMeanWordLen"), p.dbl("maxMeanWordLen"),
      p.dbl("maxSymbolRatio"), p.dbl("maxBulletFrac"), p.dbl("maxEllipsisFrac"),
      p.dbl("minAlphaWordFrac"), p.int("minStopwordHits"), p.strs("stopwords"),
      p.bool("keepOnly")))
    register("vocab_filter")(p => new VocabFilterNode(p.str("idCol"), p.str("textCol"),
      p.m("minDf").toString.toLong, p.int("maxVocab"), p.dbl("maxOovFrac")))
    register("bpe_tokenizer")(p => new BpeTokenizerNode(p.str("idCol"), p.str("textCol"),
      p.int("numMerges"), p.m("maxFitRows").toString.toLong, p.int("maxWordTypes"),
      p.str("outCol"), p.strOpt("corpusSizeHint").map(_.toLong)))
    register("domain_quota")(p => new DomainQuotaNode(p.str("strataCol"), p.int("quota"),
      p.strs("orderBy"), p.str("idCol"), p.str("rankCol")))
    register("semdedup")(p => new SemDedupNode(p.dbl("threshold"), p.int("nClusters"),
      p.str("idCol"), p.str("vecCol"),
      p.m.get("maxFitRows").map(_.toString.toLong).getOrElse(200000L),
      p.int("maxCluster"), p.boolOr("collapseExact", true)))
    register("repetition_score")(p => new RepetitionScoreNode(p.str("textCol"),
      p.m("ns").asInstanceOf[Seq[Any]].map(_.toString.toDouble.toInt)))
    register("repetition_stats")(p => new RepetitionStatsNode(p.str("textCol"),
      p.str("idCol"), p.dbl("maxDupLineFrac"), p.dbl("maxDupLineCharFrac"),
      p.dbl("maxTopBigramCharFrac"), p.bool("keepOnly")))
    register("contamination")(p => new ContaminationNode(p.str("idCol"), p.str("textCol"),
      p.str("benchTextCol"), p.int("shingleN"), p.dbl("minOverlap")))
    register("fingerprint")(p => new FingerprintNode(p.str("textCol"), p.int("k"), p.int("window")))
    register("knn")(p => new BruteForceKnnNode(p.int("k"), p.str("idCol"), p.str("vecCol"), p.str("queryIdCol")))
    register("lsh_knn")(p => new LshKnnNode(p.int("k"), p.int("numPlanes"), p.int("tables"),
      p.str("idCol"), p.str("vecCol"), p.str("queryIdCol")))
    register("quantize_embedding")(p => new QuantizeEmbeddingNode(p.str("vecCol"), p.str("outCol"), p.str("scaleCol")))
    register("majority_label")(p => new MajorityLabelNode(p.str("queryIdCol"), p.str("idCol"),
      p.str("labelCol"), p.str("outCol")))
    register("embedding_near_dup")(p => new EmbeddingNearDupNode(p.dbl("threshold"),
      p.int("numPlanes"), p.int("tables"), p.str("idCol"), p.str("vecCol"), p.bool("bruteForce"),
      p.m.get("maxBruteRows").map(_.toString.toLong).getOrElse(200000L)))
    register("binary_payload")(p => new BinaryPayloadNode(p.str("srcCol"), p.str("outCol")))
    register("decode_image")(p => new DecodeImageNode(p.str("payloadCol"),
      p.strOpt("prefix").getOrElse("image")))
    register("resize_image")(p => new ResizeImageNode(p.int("targetW"), p.int("targetH"),
      p.strOpt("payloadCol").getOrElse("payload"), p.strOpt("outCol").getOrElse("resized")))
    register("synthetic_image")(p => new SyntheticImageNode(p.str("wExpr"), p.str("hExpr"),
      p.str("seedExpr"), p.str("outCol")))
    register("synthetic_audio")(p => new SyntheticAudioNode(p.str("nSamplesExpr"),
      p.str("seedExpr"), p.int("sampleRate"), p.str("outCol")))
    register("binary_file_sink")(p => new BinaryFileSinkNode(p.str("dir"), p.str("nameExpr"),
      p.strOpt("payloadCol").getOrElse("payload"), p.strOpt("mode").getOrElse("overwrite")))
    register("binary_file_source")(p => new BinaryFileSourceNode(p.str("path"),
      p.strOpt("pathGlobFilter"), p.boolOr("recursive", false)))
    register("unigram_surprise")(p => new UnigramSurpriseNode(p.str("idCol"), p.str("textCol"),
      p.m("scale").toString.toLong))
    register("lm_classifier")(p => new LmClassifierNode(p.str("idCol"), p.str("textCol"),
      p.str("labelCol"), p.m("scale").toString.toLong, p.int("maxClasses")))
    register("temperature_mix")(p => new TemperatureMixNode(p.m("budget").toString.toLong,
      p.str("strataCol"), p.str("idCol"), p.str("copyCol")))
    register("token_drift")(p => new TokenDriftNode(p.str("textCol"), p.int("k"),
      p.m("scale").toString.toLong))
    register("ranking_metrics")(p => new RankingMetricsNode(p.int("k"), p.str("queryIdCol"),
      p.str("idCol"), p.str("rankCol"), p.m("scale").toString.toLong))
    register("length_bucket")(p => new LengthBucketNode(p.str("idCol"), p.str("textCol"),
      p.strOpt("tokensCol"),
      p.m("boundaries").asInstanceOf[Seq[Any]].map(_.toString.toLong)))
    register("epoch_plan")(p => new EpochPlanNode(p.str("idCol"), p.int("epochs"), p.int("shards")))
    register("token_shard")(p => new TokenShardNode(p.str("idCol"), p.str("weightExpr"),
      p.m("budget").toString.toLong, p.int("buckets"), p.str("outCol")))
    register("conform_schema")(p => new ConformSchemaNode(
      p.m("targets").asInstanceOf[Seq[Any]].map { case s: Seq[Any] @unchecked =>
        (s.head.toString, s(1).toString, Option(s(2)).map(_.toString).orNull)
      },
      p.pairs("renames"), p.boolOr("keepExtras", false)))
    register("frame_sample")(p => new FrameSampleNode(p.int("stride"), p.int("maxFrames"), p.str("payloadCol")))
    register("synthetic_avi")(p => new SyntheticAviNode(p.str("nFramesExpr"),
      p.str("wExpr"), p.str("hExpr"), p.str("seedExpr"),
      p.intOr("fps", 10), p.strOpt("outCol").getOrElse("payload")))
    register("audio_chunk")(p => new AudioChunkNode(p.str("payloadCol"), p.int("chunkMs"), p.int("maxChunks")))
    register("register_udafs")(p => new RegisterUdafsNode(p.strs("names")))
    register("explode")(p => new ExplodeNode(p.str("arrayExpr"), p.strs("outCols"), p.strs("keep")))
    register("stream_source")(p => new StreamSourceNode(p.str("path"), p.str("format"), p.strs("nanosTsCols"),
      Option(p.m.getOrElse("statePartitions", null)).map(_.toString.toInt),
      p.m.get("options").collect { case m: Map[_, _] => m.map { case (k, v) => k.toString -> v.toString } }.getOrElse(Map.empty)))
    register("watermark")(p => new WatermarkNode(p.str("tsCol"), p.str("delay")))
    register("stream_window_agg")(p => new StreamWindowAggNode(p.str("tsCol"), p.str("duration"),
      p.strOpt("slide"), p.strOpt("gap"), p.strs("keys"), p.strs("aggs")))
    register("stream_run")(p => new StreamRunNode(p.str("queryName"), p.str("outputMode"),
      p.m("timeoutMs").toString.toLong))
    register("stream_sink")(p => new StreamSinkNode(p.str("path"), p.str("checkpointPath"),
      p.str("format"), p.str("outputMode"), p.strs("partitionBy"),
      p.m("timeoutMs").toString.toLong))
    register("salted_join")(p => new SaltedJoinNode(p.strs("leftKeys"), p.strs("rightKeys"),
      p.int("buckets"), p.str("joinType")))
    register("stream_stateful_count")(p => new StreamStatefulCountNode(p.str("keyCol")))
    register("pivot")(p => new PivotNode(p.strs("groupBy"), p.str("pivotCol"), p.strs("pivotValues"), p.str("agg")))
    register("unpivot")(p => new UnpivotNode(p.strs("ids"), p.strs("values"), p.str("varCol"), p.str("valCol")))
    register("resample")(p => new ResampleNode(p.str("keyCol"), p.str("timeCol"), p.str("grain"),
      p.strs("aggs"), p.strs("fillZero")))
    register("ivf_knn")(p => new IvfKnnNode(p.int("k"), p.int("nClusters"), p.int("nProbe"),
      p.str("idCol"), p.str("vecCol"), p.str("queryIdCol"),
      p.m.get("maxFitRows").map(_.toString.toLong).getOrElse(200000L)))
    register("ivf_q_knn")(p => new IvfQuantizedKnnNode(p.int("k"), p.int("nClusters"),
      p.int("nProbe"), p.int("rerank"),
      p.str("idCol"), p.str("vecCol"), p.str("queryIdCol"),
      p.m.get("maxFitRows").map(_.toString.toLong).getOrElse(200000L)))
    register("ivf_index")(p => new IvfIndexNode(p.int("k"), p.int("nClusters"),
      p.int("nProbe"), p.str("idCol"), p.str("vecCol"), p.str("queryIdCol"),
      p.m.get("maxFitRows").map(_.toString.toLong).getOrElse(200000L),
      p.m.get("compactEvery").map(_.toString.toInt).getOrElse(0),
      p.strOpt("compactPath"), p.intOr("maxLiteralCentroids", 64),
      p.boolOr("quantized", false), p.intOr("rerank", 100)))
    register("inverted_index")(p => new InvertedIndexNode(p.str("idCol"), p.str("textCol"),
      p.str("queryIdCol"), p.str("queryTextCol"), p.int("k"), p.dbl("maxDfFrac"),
      p.m.get("compactEvery").map(_.toString.toInt).getOrElse(0),
      p.strOpt("compactPath"), p.boolOr("unboundedStreamStateOk", false),
      p.strOpt("scoring").getOrElse("tf"), p.intOr("k1Tenths", 12),
      p.intOr("bHundredths", 75),
      p.m.get("scale").map(_.toString.toLong).getOrElse(1000000L)))
    register("dedup_survivors")(p => new DedupSurvivorsNode(p.str("idCol")))
    register("connected_components")(p => new ConnectedComponentsNode(p.str("idA"), p.str("idB"), p.int("maxIter"),
      p.boolOr("halving", false), p.boolOr("failOnNonConverged", true),
      p.boolOr("reliableCheckpoint", false), p.intOr("hopsPerRound", 2)))
    register("pagerank")(p => new PageRankNode(p.str("srcCol"), p.str("dstCol"),
      p.int("iterations"), p.m("scale").toString.toLong, p.int("dampingNum"),
      p.strOpt("tolerance").map(_.toLong)))
    register("bloom_join")(p => new BloomJoinNode(p.strs("probeKeys"), p.strs("buildKeys"),
      p.m("expectedItems").toString.toLong, p.dbl("fpp"), p.str("joinType"),
      p.bool("broadcastBuild")))
    register("merge")(p => new MergeNode(p.strs("keys"), p.strOpt("deleteCol"),
      p.boolOr("broadcastKeys", true),
      p.strOpt("onDuplicate").getOrElse("error"), p.strOpt("orderCol"),
      p.boolOr("allowEvolution", false)))
    register("agg_index")(p => new AggIndexNode(p.strs("groupCols"),
      p.strs("sumCols"), p.strs("minCols"), p.strs("maxCols"),
      p.strs("distinctCols"),
      p.strs("histSpecs").map(AggIndexNode.HistSpec.parse),
      p.strs("sumSqCols"),
      p.strs("decSumCols"), p.intOr("decScale", 4),
      p.str("idCol"), p.intOr("compactEvery", 0),
      p.strOpt("compactPath")))
    register("sketch_index")(p => new SketchIndexNode(p.strs("groupCols"),
      p.strs("cols"), p.intOr("lgConfigK", 12), p.intOr("compactEvery", 0),
      p.strOpt("compactPath"), p.strs("quantileCols"), p.intOr("kllK", 200)))
    register("materialized_join")(p => new MaterializedJoinNode(
      p.strs("leftOn"), p.strs("rightOn"), p.str("leftId"), p.str("rightId"),
      p.strOpt("joinType").getOrElse("inner"),
      p.intOr("compactEvery", 0), p.strOpt("compactPath"),
      p.lngOr("maxBroadcastDim", 5000000L)))
    register("snapshot_diff")(p => new SnapshotDiffNode(p.strs("keys"), p.strs("compareCols"),
      p.boolOr("includeUnchanged", false), p.str("changeCol")))
    register("outlier_filter")(p => new OutlierFilterNode(p.strs("groupCols"), p.str("valueExpr"),
      p.dbl("k"), p.boolOr("dropOutliers", false), p.boolOr("approx", false)))
    register("inverted_index_topk")(p => new InvertedIndexTopKNode(p.str("idCol"), p.str("textCol"),
      p.str("queryIdCol"), p.str("queryTextCol"), p.int("k"), p.dbl("maxDfFrac"),
      p.m.get("corpusSizeHint").collect { case v if v != null => v.toString.toLong }))
    register("triangle_count")(p => new TriangleCountNode(p.str("srcCol"), p.str("dstCol")))
    register("constraint_check")(p => new ConstraintCheckNode(
      p.pairs("constraints"), p.boolOr("failFast", false)))
    register("checkpoint")(p => new CheckpointNode(p.boolOr("reliable", false),
      p.boolOr("eager", true)))
    register("merge_intervals")(p => new MergeIntervalsNode(p.strs("keyCols"),
      p.str("startCol"), p.str("endCol")))
    register("compact_log")(p => new CompactLogNode(p.strs("keys"),
      p.str("orderCol"), p.strs("tieBreakCols"), p.str("mode")))
    register("zorder")(p => new ZOrderNode(p.str("colA"), p.str("colB"),
      p.str("outCol"), p.strOpt("partitions").map(_.toInt), p.boolOr("keepKey", true),
      p.strOpt("colC")))
    register("group_ema")(p => new GroupEmaNode(p.strs("keyCols"), p.str("orderExpr"),
      p.str("tieExpr"), p.str("valueExpr"), p.int("alphaPct"), p.str("outCol")))
    register("histogram")(p => new HistogramNode(p.str("valueExpr"),
      p.dbl("lo"), p.dbl("hi"), p.int("nBins"), p.strs("groupCols"),
      p.boolOr("clamp", true)))
    register("quantile_filter")(p => new QuantileFilterNode(p.str("scoreExpr"),
      p.dbl("keepFrac"), p.strs("groupCols"), p.boolOr("annotate", false),
      p.boolOr("approx", false), p.int("accuracy")))
    register("weighted_sample")(p => new WeightedSampleNode(p.str("idCol"),
      p.str("probExpr"), p.m("scale").toString.toLong, p.strOpt("keepCol")))
    register("collocation")(p => new CollocationNode(p.str("textCol"),
      p.m("minCount").toString.toLong, p.m("discount").toString.toLong,
      p.int("k"), p.m("scale").toString.toLong))
    register("sessionize")(p => new SessionizeNode(p.strs("keyCols"), p.str("tsCol"),
      p.m("gapSeconds").toString.toLong, p.strs("tieBreakCols"), p.str("outCol")))
    register("minhash_index")(p => new MinHashIndexNode(p.str("idCol"), p.str("textCol"),
      p.int("numHashes"), p.int("bands"), p.int("shingleN"),
      p.dbl("jaccardThreshold"), p.int("maxBucket"),
      p.boolOr("unboundedStreamStateOk", false),
      p.intOr("compactEvery", 0), p.strOpt("compactPath")))
    register("bm25_topk")(p => new Bm25TopKNode(p.str("idCol"), p.str("textCol"),
      p.str("queryIdCol"), p.str("queryTextCol"), p.int("k"), p.dbl("maxDfFrac"),
      p.int("k1Tenths"), p.int("bHundredths"), p.m("scale").toString.toLong))
    register("compact_files")(p => new CompactFilesNode(p.str("path"),
      p.m("targetFileBytes").toString.toLong, p.str("format"),
      p.boolOr("shuffle", true), p.boolOr("skipIfCompact", false),
      p.strs("partitionBy")))
    register("sketch_profile")(p => new SketchProfileNode(p.strs("columns"),
      p.intOr("lgConfigK", 14)))
    register("sketch_merge")(_ => new SketchMergeNode())
    register("cluster_index")(p => new ClusterIndexNode(p.str("idA"), p.str("idB"),
      p.int("maxIter"), p.intOr("compactEvery", 0), p.strOpt("compactPath"),
      if (p.contains("maxOverlayRows") && p("maxOverlayRows") != null)
        p.dbl("maxOverlayRows").toLong else 4000000L))
    register("numeric_profile") { p =>
      val (cols, los) = (p.strs("cols"), p.strs("los").map(_.toDouble))
      val (his, bins) = (p.strs("his").map(_.toDouble), p.strs("bins").map(_.toInt))
      new NumericProfileNode(cols.indices.map(i =>
        NumericProfileNode.Spec(cols(i), los(i), his(i), bins(i))))
    }
    register("profile_merge")(_ => new ProfileMergeNode())
    register("hist_quantile")(p =>
      new HistQuantileNode(p.strs("quantiles").map(_.toDouble)))
    register("hist_drift")(_ => new HistDriftNode())
  }
}
