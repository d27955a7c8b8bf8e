package graft

import graft.dag._
import graft.nodes._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Operator-library semantics on tiny in-memory frames (hermetic; the full
  * oracle diff vs DuckDB runs via tools/compare.py at sf0.01).
  */
class NodesSpec extends AnyFunSuite {
  // the restart drill deserializes topology — must not depend on another
  // suite having populated the DagJson factory table first
  NodeRegistry.ensure
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def ctx = Ctx(spark)

  private def runOne(build: Dag => Unit): DataFrame = {
    val d = new Dag()
    build(d)
    d.transform(ctx).outputs("result")
  }

  private def docs: DataFrame = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumped over the lazy dog"), // near dup
    (4L, "completely different text about spark engines and scale"),
  ).toDF("doc_id", "text")

  private def srcNode(df: DataFrame, nm: String = "src"): FnNode =
    new FnNode(Nil, Seq(Port("result")), (_, _) => Map("result" -> df), nm)

  test("ExactDedupNode keeps min-id survivor with dup_count") {
    val out = runOne { d =>
      d.add(srcNode(docs)) >> new ExactDedupNode(Seq("md5(cast(text as binary))"), "doc_id") >>
        d.output("result")
    }.orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L), (3L, 1L), (4L, 1L)))
  }

  // long docs with a 1-token perturbation: jaccard ~0.9, collision certain
  private def longDocs: DataFrame = {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    Seq(
      (1L, base),
      (2L, base), // exact dup of 1
      (3L, base.replace("w7", "zz")), // near dup of 1
      (4L, (100 to 140).map(i => s"v$i").mkString(" ")),
    ).toDF("doc_id", "text")
  }

  test("MinHashDedupNode: near-dup pair between distinct texts; exact dups collapsed") {
    val pairs = runOne { d =>
      d.add(srcNode(longDocs)) >> new MinHashDedupNode(jaccardThreshold = 0.5) >> d.output("result")
    }.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L))) // the perturbed doc is a near dup
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L)) // 2 ≡ 1, collapsed away
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("MinHashDedupNode collapseExact=false keeps exact-dup pairs") {
    val pairs = runOne { d =>
      d.add(srcNode(docs)) >>
        new MinHashDedupNode(jaccardThreshold = 0.5, collapseExact = false) >> d.output("result")
    }.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical docs always collide
  }

  test("SimHashDedupNode: near-dup pair survives; dup and unrelated docs excluded") {
    val rows = runOne { d =>
      // chunks auto-derives to maxHamming+1 = 9 → full recall up to hamming 8;
      // the perturbed pair measures hamming 6 with these fixed hashes
      d.add(srcNode(longDocs)) >> new SimHashDedupNode(maxHamming = 8) >> d.output("result")
    }.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(rows.exists(r => r._1 == 1L && r._2 == 3L && r._3 <= 8))
    assert(!rows.exists(r => r._1 == 2L || r._2 == 2L))
    assert(!rows.exists(r => r._1 == 4L || r._2 == 4L))
  }

  test("SimHashDedupNode rejects chunks <= maxHamming unless partialRecall") {
    intercept[GraftException] {
      new SimHashDedupNode(maxHamming = 8, chunks = 4)
    }
    new SimHashDedupNode(maxHamming = 8, chunks = 4, partialRecall = true) // opt-in ok
  }

  test("SimHashDedupNode finds EVERY pair within maxHamming (vs brute force)") {
    // 30 docs drawn from two boilerplate families plus noise words — a crafted
    // corpus with real sub-maxHamming pairs; verify node output == exhaustive
    // hamming self-join on the same simhash values
    graft.functions.VecFunctions.register(spark)
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val corpus = (0L until 30L).map { i =>
      val fam = if (i % 2 == 0) base else (50 to 80).map(j => s"alt$j").mkString(" ")
      (i, fam + " " + s"extra${i / 6}") // small per-group perturbation
    }.toDF("doc_id", "text")
    val toks = TextExprs.tokensExpr("text")
    val signed = corpus.withColumn("__toks", expr(toks))
      .select(col("doc_id"), expr("simhash64(__toks)").as("sh"))
    // h = 0 auto-derives ONE full-width chunk (the hash itself); with
    // maxBucket = 20 every bucket must hold only equal hashes — a chunker
    // that masked a full-width chunk to 0 put all 30 rows in one bucket,
    // which the cap then dropped whole
    for ((h, maxBucket) <- Seq((6, 10000), (0, 20))) {
      val node = new SimHashDedupNode(maxHamming = h, collapseExact = false, maxBucket = maxBucket)
      val got = runOne { d =>
        d.add(srcNode(corpus)) >> node >> d.output("result")
      }.select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val want = signed.as("a").join(signed.as("b"),
          col("a.doc_id") < col("b.doc_id") &&
            expr("bit_count(a.sh ^ b.sh)") <= h)
        .select(col("a.doc_id"), col("b.doc_id")).as[(Long, Long)].collect().toSet
      assert(want.nonEmpty, s"crafted corpus must contain pairs within hamming $h")
      assert(got == want, s"maxHamming = $h, maxBucket = $maxBucket")
    }
  }

  test("NgramJaccardNode: lossless blocking finds pairs; DF cap drops frequent-shingle pairs") {
    def pairsWith(frac: Double): Set[(Long, Long)] = runOne { d =>
      d.add(srcNode(longDocs)) >> new NgramJaccardNode(shingleN = 2, threshold = 0.5,
        maxDocFreq = 1, maxDocFreqFraction = frac, corpusSizeHint = Some(4L)) >>
        d.output("result")
    }.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // dfCap = 4 = N: no shingle dropped, blocking lossless — all three pairs
    // of the {1,2,3} near-dup family surface
    assert(pairsWith(1.0) == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // dfCap = 1: every shared shingle exceeds the cap, so blocking keys
    // vanish and no candidate pairs form — the production recall/cost
    // tradeoff the cap exists for (q27 runs the lossless configuration)
    assert(pairsWith(0.25) == Set.empty)
  }

  test("BruteForceKnnNode: rank 1 is the vector itself (cosine 1.0)") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f)),
    ).toDF("vec_id", "embedding")
    val out = runOne { d =>
      val corpus = d.add(srcNode(emb, "corpus"))
      val queries = d.add(srcNode(emb.filter(col("vec_id") === 0L)
        .select(col("vec_id").as("query_id"), col("embedding")), "queries"))
      val knn = d.add(new BruteForceKnnNode(k = 2))
      corpus >> knn("corpus"); queries >> knn("queries")
      knn >> d.output("result")
    }.orderBy("rank").collect()
    assert(out(0).getAs[Long]("vec_id") == 0L && math.abs(out(0).getAs[Double]("score") - 1.0) < 1e-9)
    assert(out(1).getAs[Long]("vec_id") == 1L)
  }

  test("LshKnnNode self-match survives bucketing (same signature everywhere)") {
    val emb = (0L until 20L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 7.0 + j).toFloat))).toDF("vec_id", "embedding")
    val out = runOne { d =>
      val corpus = d.add(srcNode(emb, "corpus"))
      val queries = d.add(srcNode(
        emb.limit(3).select(col("vec_id").as("query_id"), col("embedding")), "queries"))
      val knn = d.add(new LshKnnNode(k = 3, numPlanes = 4, tables = 4))
      corpus >> knn("corpus"); queries >> knn("queries")
      knn >> d.output("result")
    }
    val top1 = out.filter(col("rank") === 1).select("query_id", "vec_id").as[(Long, Long)].collect()
    assert(top1.forall { case (q, v) => q == v })
  }

  test("ConnectedComponentsNode labels chains and leaves singletons apart") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (8L, 9L), (3L, 4L))
      .toDF("id_a", "id_b")
    val out = runOne { d =>
      val p = d.add(srcNode(pairs, "pairs"))
      val cc = d.add(new ConnectedComponentsNode())
      p >> cc("pairs")
      cc >> d.output("result")
    }.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(out(_) == 1L)) // chain 1-2-3-4
    assert(Seq(5L, 6L).forall(out(_) == 5L))
    assert(Seq(7L, 8L, 9L).forall(out(_) == 7L))
  }

  test("ConnectedComponentsNode halving labels a 60-chain in O(log d) rounds") {
    // plain propagation needs ~59 rounds for a 60-node chain; halving must
    // finish within 10 (failOnNonConverged throws otherwise)
    val chain = (0L until 59L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = runOne { d =>
      val p = d.add(srcNode(chain, "pairs"))
      val cc = d.add(new ConnectedComponentsNode(maxIter = 10, halving = true))
      p >> cc("pairs")
      cc >> d.output("result")
    }.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 60 && out.values.forall(_ == 0L))
  }

  test("ConnectedComponentsNode fails loudly when maxIter is too small") {
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val d = new Dag()
    val p = d.add(srcNode(chain, "pairs"))
    val cc = d.add(new ConnectedComponentsNode(maxIter = 3))
    p >> cc("pairs")
    cc >> d.output("result")
    val e = intercept[GraftException](d.transform(ctx).outputs("result"))
    assert(e.getMessage.contains("did not converge"))
  }

  test("IvfKnnNode: fit quantizer, probe clusters, self-match at rank 1") {
    // 3 well-separated clusters of 8-dim vectors
    val emb = (0L until 30L).map { i =>
      val c = (i % 3).toInt
      (i, Array.tabulate(8)(j => (c * 10.0 + math.sin(i * 3.1 + j)).toFloat))
    }.toDF("vec_id", "embedding")
    val d = new Dag()
    val corpus = d.add(srcNode(emb, "corpus"))
    val queries = d.add(srcNode(
      emb.filter(col("vec_id") < 6).select(col("vec_id").as("query_id"), col("embedding")), "queries"))
    val ivf = d.add(new IvfKnnNode(k = 3, nClusters = 3, nProbe = 1))
    corpus >> ivf("corpus"); queries >> ivf("queries")
    ivf >> d.output("result")
    val c = Ctx(spark)
    d.fit(c)
    val out = d.transform(c).outputs("result")
    val top1 = out.filter(col("rank") === 1).select("query_id", "vec_id").as[(Long, Long)].collect()
    assert(top1.length == 6 && top1.forall { case (q, v) => q == v })
  }

  test("IvfIndexNode: fit/update/save/load/compact lifecycle, delta is retrievable") {
    // 3 well-separated clusters; base = ids 0-29, delta = ids 100-105 (a
    // shifted copy of the first 6 vectors, landing in the same clusters)
    val base = (0L until 30L).map { i =>
      val c = (i % 3).toInt
      (i, Array.tabulate(8)(j => (c * 10.0 + math.sin(i * 3.1 + j)).toFloat))
    }.toDF("vec_id", "embedding")
    val delta = (0L until 6L).map { i =>
      val c = (i % 3).toInt
      (i + 100L, Array.tabulate(8)(j => (c * 10.0 + math.sin(i * 3.1 + j)).toFloat))
    }.toDF("vec_id", "embedding")
    val c = Ctx(spark)
    val idx = new IvfIndexNode(k = 3, nClusters = 3, nProbe = 3, compactEvery = 1)
    idx.fit(c, In.single("corpus" -> base))
    val queries = base.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), col("embedding"))
    // before the delta: every query self-matches at rank 1
    val r1 = idx.transform(c, In.single("queries" -> queries))("result")
    assert(r1.filter(col("rank") === 1).select("query_id", "vec_id")
      .as[(Long, Long)].collect().forall { case (q, v) => q == v })
    // updateIndex (compactEvery = 1 → this also exercises compaction):
    // each query's identical +100 delta twin must now appear in its top-2
    // (cosine 1.0 ties with self, id tie-break keeps self first)
    idx.updateIndex(c, delta)
    val r2 = idx.transform(c, In.single("queries" -> queries))("result")
    val top2 = r2.filter(col("rank") <= 2).select("query_id", "vec_id")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    (0L until 6L).foreach { q => assert(top2(q) == Set(q, q + 100L), s"query $q got ${top2(q)}") }
    // save → load into a FRESH node: identical retrieval
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_spec").toString
    idx.saveFitted(dir)
    val idx2 = new IvfIndexNode(k = 3, nClusters = 3, nProbe = 3)
    idx2.loadFitted(dir, Some(spark))
    val r3 = idx2.transform(c, In.single("queries" -> queries))("result")
    assert(r3.select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet ==
      r2.select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet)
    idx.unpersistIndex()
  }

  test("IvfIndexNode: broadcast-join assignment — identical to the literal plan, viable at 1024 centroids") {
    // path equivalence: same data + seed, literal (default) vs forced join
    // path (maxLiteralCentroids = 0) through the full fit/update/query
    // lifecycle — the two assignment plans must pick identical clusters
    val emb = (0L until 60L).map { i =>
      val c = (i % 4).toInt
      (i, Array.tabulate(8)(j => (c * 10.0 + math.sin(i * 3.1 + j)).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val c = Ctx(spark)
    def runIdx(node: IvfIndexNode): Set[(Long, Long, Int)] = {
      node.fit(c, In.single("corpus" -> emb.filter("vec_id % 5 != 0")))
      node.updateIndex(c, emb.filter("vec_id % 5 = 0"))
      val r = node.transform(c, In.single("queries" -> queries))("result")
        .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
      node.unpersistIndex(); r
    }
    val viaLiteral = runIdx(new IvfIndexNode(k = 5, nClusters = 4, nProbe = 4))
    val viaJoin = runIdx(new IvfIndexNode(k = 5, nClusters = 4, nProbe = 4,
      maxLiteralCentroids = 0))
    assert(viaLiteral == viaJoin)
    // production centroid count: k-means at 1024 clusters + join-path
    // assignment (the literal chain at this k would blow Janino's 64 KB
    // codegen limit). Self-retrieval at nProbe = 1 pins that updateIndex
    // assigned every delta vector to the SAME cluster its own probe picks.
    val big = spark.range(2048).selectExpr("id as vec_id",
      "array(cast(id % 97 + 1 as float), cast(id % 31 as float), " +
        "cast(id % 13 as float), cast(id % 7 as float)) as embedding")
    val bigIdx = new IvfIndexNode(k = 4096, nClusters = 1024, nProbe = 1)
    bigIdx.fit(c, In.single("corpus" -> big.filter("vec_id % 5 != 0")))
    bigIdx.updateIndex(c, big.filter("vec_id % 5 = 0"))
    val dq = big.filter("vec_id % 5 = 0 and vec_id < 250")
      .selectExpr("vec_id as query_id", "embedding")
    val out = bigIdx.transform(c, In.single("queries" -> dq))("result")
    assert(out.filter(col("vec_id") === col("query_id")).count() == 50L)
    bigIdx.unpersistIndex()
  }

  test("SinkNode atomicPublish: crash isolation, dangling-gen overwrite, rollback retention") {
    val work = java.nio.file.Files.createTempDirectory("graft_atomic_spec").toString
    val pub = s"$work/ds"
    val c = Ctx(spark)
    def publish(df: org.apache.spark.sql.DataFrame) =
      new SinkNode(pub, atomicPublish = true).transform(c, In.single("df" -> df))("result")
    def readPub() = new SourceNode(pub).transform(c, In.empty)("result")
    assert(publish(Seq((1L, "a"), (2L, "b")).toDF("id", "v")).count() == 2)
    assert(readPub().count() == 2)
    // killed refresh: gen-2 data on disk, manifest untouched → invisible
    Seq((9L, "junk")).toDF("id", "v").write.parquet(s"$pub/gen-2")
    assert(readPub().count() == 2, "reader must not see an uncommitted generation")
    // real refresh overwrites the dangling gen-2 and commits it
    assert(publish(Seq((3L, "c"), (4L, "d"), (5L, "e")).toDF("id", "v")).count() == 3)
    assert(readPub().select("id").as[Long].collect().toSet == Set(3L, 4L, 5L))
    // third publish: gen-1 (two behind) is cleaned, gen-2 kept as rollback
    publish(Seq((6L, "f")).toDF("id", "v"))
    assert(readPub().count() == 1)
    val root = new java.io.File(pub)
    val gens = root.listFiles().map(_.getName).filter(_.startsWith("gen-")).toSet
    assert(gens == Set("gen-2", "gen-3"), s"expected rollback retention, got $gens")
  }

  test("InvertedIndexNode: streaming queries refused without the bounded-backfill ack") {
    // plain-key (query, doc) agg state cannot expire under a watermark, so a
    // streaming query batch needs the explicit unboundedStreamStateOk opt-in
    val base = Seq((1L, "apple banana")).toDF("doc_id", "text")
    val c = Ctx(spark)
    val idx = new InvertedIndexNode(k = 3)
    idx.fit(c, In.single("corpus" -> base))
    val stream = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
      .selectExpr("value as query_id", "'apple' as text")
    val e = intercept[GraftException](
      idx.transform(c, In.single("queries" -> stream)))
    assert(e.getMessage.contains("unboundedStreamStateOk"))
    idx.unpersistIndex()
  }

  test("InvertedIndexNode: incremental stats equal one-shot fit; save/load/compact round-trip") {
    val base = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "durian elder fig")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "apple cherry cherry"),
      (11L, "grape apple banana")).toDF("doc_id", "text")
    val queries = Seq((100L, "apple cherry")).toDF("query_id", "text")
    val c = Ctx(spark)
    // day-2 path: fit base, update with delta (compactEvery = 1 exercises
    // compaction on the same run)
    val idx = new InvertedIndexNode(k = 10, maxDfFrac = 1.0, compactEvery = 1)
    idx.fit(c, In.single("corpus" -> base))
    idx.updateIndex(c, delta)
    val day2 = idx.transform(c, In.single("queries" -> queries))("result")
      .select("query_id", "doc_id", "score", "rank").as[(Long, Long, Long, Int)].collect().toSet
    // one-shot path over base ∪ delta must be identical (exact incremental df/N)
    val oneShot = new InvertedIndexNode(k = 10, maxDfFrac = 1.0)
    oneShot.fit(c, In.single("corpus" -> base.union(delta)))
    val full = oneShot.transform(c, In.single("queries" -> queries))("result")
      .select("query_id", "doc_id", "score", "rank").as[(Long, Long, Long, Int)].collect().toSet
    assert(day2 == full)
    // scores: apple tf*qtf — doc 10 has apple(1)+cherry(2): 1*1 + 2*1 = 3 top
    assert(day2.maxBy(_._3)._2 == 10L)
    // save → load into a fresh node: identical retrieval + preserved N
    // (df cap at maxDfFrac < 1 depends on N, so a lost N would change pruning)
    val dir = java.nio.file.Files.createTempDirectory("graft_inv_spec").toString
    idx.saveFitted(dir)
    val idx2 = new InvertedIndexNode(k = 10, maxDfFrac = 1.0)
    idx2.loadFitted(dir, Some(spark))
    val r3 = idx2.transform(c, In.single("queries" -> queries))("result")
      .select("query_id", "doc_id", "score", "rank").as[(Long, Long, Long, Int)].collect().toSet
    assert(r3 == day2)
    idx.unpersistIndex(); oneShot.unpersistIndex()
  }

  test("ConnectedComponentsNode reliableCheckpoint mode labels identically") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (8L, 9L), (3L, 4L))
      .toDF("id_a", "id_b")
    val out = runOne { d =>
      val p = d.add(srcNode(pairs, "pairs"))
      val cc = d.add(new ConnectedComponentsNode(reliableCheckpoint = true))
      p >> cc("pairs")
      cc >> d.output("result")
    }.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(out(_) == 1L))
    assert(Seq(5L, 6L).forall(out(_) == 5L))
    assert(Seq(7L, 8L, 9L).forall(out(_) == 7L))
    assert(spark.sparkContext.getCheckpointDir.nonEmpty) // durable rounds engaged
  }

  test("IvfKnnNode bounds the quantizer fit to maxFitRows") {
    val emb = (0L until 400L).map { i =>
      val c = (i % 3).toInt
      (i, Array.tabulate(8)(j => (c * 10.0 + math.sin(i * 3.1 + j)).toFloat))
    }.toDF("vec_id", "embedding")
    val d = new Dag()
    val corpus = d.add(srcNode(emb, "corpus"))
    val queries = d.add(srcNode(
      emb.filter(col("vec_id") < 4).select(col("vec_id").as("query_id"), col("embedding")), "queries"))
    val ivf = d.add(new IvfKnnNode(k = 3, nClusters = 3, nProbe = 3, maxFitRows = 50L))
    corpus >> ivf("corpus"); queries >> ivf("queries")
    ivf >> d.output("result")
    val c = Ctx(spark)
    d.fit(c)
    // md5-mod 1-in-8 sample of 400 rows: deterministic, well under 2x the cap
    assert(ivf.lastFitRows > 0 && ivf.lastFitRows <= 100L,
      s"fit saw ${ivf.lastFitRows} rows for maxFitRows=50")
    // probe-all still returns exact self-matches — sampled quantizer intact
    val top1 = d.transform(c).outputs("result")
      .filter(col("rank") === 1).select("query_id", "vec_id").as[(Long, Long)].collect()
    assert(top1.length == 4 && top1.forall { case (q, v) => q == v })
  }

  test("SqlNode: same port name in two dags cannot cross-bind; WITH merges") {
    val dfA = Seq((1L, "a")).toDF("id", "v")
    val dfB = Seq((2L, "b"), (3L, "c")).toDF("id", "v")
    def build(df: DataFrame) = {
      val d = new Dag()
      d.add(srcNode(df, "src")) >> new SqlNode("SELECT count(*) AS n FROM t", Seq("t")) >>
        d.output("result")
      d
    }
    // compose BOTH before evaluating either: bare-name views would let the
    // second registration rebind the first query
    val outA = build(dfA).transform(ctx).outputs("result")
    val outB = build(dfB).transform(ctx).outputs("result")
    assert(outA.as[Long].head() == 1L)
    assert(outB.as[Long].head() == 2L)
    // private views were dropped again
    assert(!spark.catalog.listTables().collect().exists(_.name.contains("__sql")))
    // user SQL with its own WITH clause merges with the port prelude
    val outW = runOne { d =>
      d.add(srcNode(dfB, "src")) >>
        new SqlNode("WITH big AS (SELECT * FROM t WHERE id > 2) SELECT count(*) AS n FROM big", Seq("t")) >>
        d.output("result")
    }
    assert(outW.as[Long].head() == 1L)
  }

  test("TokenCountNode counts whitespace and BPE-ish tokens") {
    val out = runOne { d =>
      d.add(srcNode(Seq((1L, "Hello, world! 42")).toDF("doc_id", "text"))) >>
        new TokenCountNode("text") >> d.output("result")
    }.select("ws_tokens", "bpe_tokens").as[(Int, Int)].head()
    assert(out._1 == 3) // Hello, | world! | 42
    assert(out._2 == 5) // Hello , world ! 42
  }

  test("RouterNode: first-match exclusivity, null predicates, otherwise port") {
    val df = Seq(
      (1L, Some("en"), 500L),  // matches both routes -> first wins (en)
      (2L, Some("de"), 500L),  // long only
      (3L, Some("de"), 100L),  // neither -> otherwise
      (4L, None: Option[String], 999L) // null lang: en-pred is NULL -> not a match; long
    ).toDF("doc_id", "lang", "n_chars")
    val d = new Dag()
    val s = d.add(srcNode(df))
    val r = d.add(new RouterNode(Seq("en" -> "lang = 'en'", "long" -> "n_chars > 400")))
    s >> r("df")
    r("en") >> d.output("en"); r("long") >> d.output("long")
    r("otherwise") >> d.output("otherwise")
    val run = d.transform(ctx)
    def ids(port: String) = run(port).select("doc_id").as[Long].collect().toSet
    assert(ids("en") == Set(1L))
    assert(ids("long") == Set(2L, 4L)) // doc 1 claimed by the earlier route
    assert(ids("otherwise") == Set(3L))
    run.unpersist()
  }

  test("MajorityLabelNode votes with deterministic tie-break") {
    val labels = Seq((100L, 7), (101L, 7), (102L, 3), (103L, 1), (104L, 1))
      .toDF("vec_id", "label")
    val neighbors2 = Seq(
      (10L, 100L), (10L, 101L), (10L, 102L), // q10: labels 7,7,3 -> 7 (2 votes)
      (20L, 100L), (20L, 102L), (20L, 103L), (20L, 104L) // q20: 7,3,1,1 -> 1 (2 votes)
    ).toDF("query_id", "vec_id")
    val out = runOne { d =>
      val n = d.add(srcNode(neighbors2, "nbrs")); val l = d.add(srcNode(labels, "lbls"))
      val m = d.add(new MajorityLabelNode())
      n >> m("neighbors"); l >> m("labels"); m >> d.output("result")
    }.select("query_id", "pred_label", "votes").as[(Long, Int, Long)].collect()
      .map { case (q, p, v) => q -> ((p, v)) }.toMap
    assert(out(10L) == ((7, 2L)))
    assert(out(20L) == ((1, 2L))) // 1x7, 1x3, 2x1 -> label 1
    // exact tie: two labels with equal votes -> smallest label wins
    val tied = runOne { d =>
      val n = d.add(srcNode(Seq((1L, 100L), (1L, 103L)).toDF("query_id", "vec_id"), "nbrs"))
      val l = d.add(srcNode(labels, "lbls"))
      val m = d.add(new MajorityLabelNode())
      n >> m("neighbors"); l >> m("labels"); m >> d.output("result")
    }.select("pred_label").as[Int].head()
    assert(tied == 1) // labels 7 and 1, one vote each -> 1
    // unlabeled rows never vote: 2 null-label neighbors + 1 labeled -> the
    // real label wins (a NULL group would out-vote it and win ties)
    val nullLabels = Seq((100L, Some(7)), (101L, None: Option[Int]), (102L, None: Option[Int]))
      .toDF("vec_id", "label")
    val pred = runOne { d =>
      val n = d.add(srcNode(
        Seq((1L, 100L), (1L, 101L), (1L, 102L)).toDF("query_id", "vec_id"), "nbrs"))
      val l = d.add(srcNode(nullLabels, "lbls"))
      val m = d.add(new MajorityLabelNode())
      n >> m("neighbors"); l >> m("labels"); m >> d.output("result")
    }.select("pred_label", "votes").as[(Int, Long)].head()
    assert(pred == ((7, 1L)))
  }

  test("RouterNode rejects an otherwise port colliding with a route name") {
    val e = intercept[IllegalArgumentException](
      new RouterNode(Seq("a" -> "x > 1", "otherwise" -> "x < 0")))
    assert(e.getMessage.contains("collides"))
  }

  test("QuantizeEmbeddingNode: int8 range, max maps to ±127, zero vectors safe") {
    val emb = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)), // max |x| = 1.0 -> that element = -127
      (2L, Array(0.0f, 0.0f, 0.0f))    // zero vector must not divide by zero
    ).toDF("vec_id", "embedding")
    val out = runOne { d =>
      d.add(srcNode(emb)) >> new QuantizeEmbeddingNode() >> d.output("result")
    }.select("vec_id", "q_scale", "q_embedding")
      .as[(Long, Double, Seq[Int])].collect()
      .map { case (id, s, q) => id -> ((s, q)) }.toMap
    val (s1, q1) = out(1L)
    assert(math.abs(s1 - 1.0 / 127.0) < 1e-15)
    assert(q1 == Seq(64, -127, 32)) // 0.5/s = 63.5 -> floor(64.0) = 64
    assert(q1.forall(q => q >= -127 && q <= 127))
    val (_, q2) = out(2L)
    assert(q2 == Seq(0, 0, 0))
    // dequantization error bounded by scale/2 per element
    assert(q1.zip(Seq(0.5, -1.0, 0.25)).forall { case (q, x) =>
      math.abs(q * s1 - x) <= s1 / 2 + 1e-12 })
  }

  test("RepetitionScoreNode scores duplicated n-grams") {
    val df = Seq(
      (1L, "a b a b a b"),            // 2-grams: ab ba ab ba ab — 5 total, 2 distinct
      (2L, "all words here differ")). // no repeated 2-grams
      toDF("doc_id", "text")
    val out = runOne { d =>
      d.add(srcNode(df)) >> new RepetitionScoreNode(ns = Seq(2)) >> d.output("result")
    }.select("doc_id", "dup2gram_frac").as[(Long, Double)].collect().toMap
    assert(math.abs(out(1L) - (1.0 - 2.0 / 5.0)) < 1e-12)
    assert(out(2L) == 0.0)
  }

  test("RepetitionStatsNode computes dup-line and top-bigram char coverage") {
    val df = Seq(
      (1L, "x y\nx y\nz z z z"),      // "x y" twice; top bigram "z z" x3
      (2L, "unique one\ntwo words")). // no dup lines; count-1 tie -> lex-min gram
      toDF("doc_id", "text")
    val out = runOne { d =>
      d.add(srcNode(df)) >> new RepetitionStatsNode(maxDupLineFrac = 0.3,
        maxDupLineCharFrac = 0.2, maxTopBigramCharFrac = 0.5) >> d.output("result")
    }.select("doc_id", "dup_line_frac", "dup_line_char_frac", "top_bigram",
        "top_bigram_count", "top_bigram_char_frac", "keep")
      .as[(Long, Double, Double, String, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    val (_, dlf1, dlcf1, tb1, tc1, tbf1, keep1) = out(1L)
    assert(math.abs(dlf1 - 1.0 / 3) < 1e-12)      // 3 lines, 2 distinct
    assert(math.abs(dlcf1 - 3.0 / 13) < 1e-12)    // dup "x y" chars / all line chars
    assert(tb1 == "z z" && tc1 == 3L)
    assert(math.abs(tbf1 - 6.0 / 8) < 1e-12)      // 3 * len("zz") / 8 non-space chars
    assert(!keep1)                                 // fails dup-line and top-bigram rules
    val (_, dlf2, dlcf2, tb2, tc2, tbf2, keep2) = out(2L)
    assert(dlf2 == 0.0 && dlcf2 == 0.0)
    assert(tb2 == "one two" && tc2 == 1L)          // tie at count 1 -> lex-smallest
    assert(math.abs(tbf2 - 6.0 / 17) < 1e-12)
    assert(keep2)
  }

  test("ContaminationNode measures benchmark shingle overlap, broadcast join") {
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over everything"), // shares 3-grams with bench
      (2L, "completely unrelated content lives here now")).toDF("doc_id", "text")
    val raw = runOne { d =>
      val c = d.add(srcNode(corpus, "corpus")); val b = d.add(srcNode(bench, "bench"))
      val n = d.add(new ContaminationNode(shingleN = 3))
      c >> n("docs"); b >> n("benchmark"); n >> d.output("result")
    }
    val out = raw.select("doc_id", "n_shingles", "n_matched", "overlap_frac")
      .as[(Long, Int, Long, Double)].collect()
      .map { case (id, n, m, f) => id -> ((n, m, f)) }.toMap
    // doc 1: 5 distinct 3-grams, 3 of them ("the quick brown", "quick brown
    // fox", "brown fox jumps") occur in the benchmark
    val (n1, m1, f1) = out(1L)
    assert(n1 == 5 && m1 == 3L && math.abs(f1 - 0.6) < 1e-12)
    val (_, m2, f2) = out(2L)
    assert(m2 == 0L && f2 == 0.0)
    // benchmark side must broadcast — the corpus never shuffles on shingles
    assert(raw.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("LangIdNode predicts en for English text") {
    val out = runOne { d =>
      d.add(srcNode(Seq((1L, "the cat and the dog are in the house with a bird", "en"))
        .toDF("doc_id", "text", "lang"))) >>
        new LangIdNode("text") >> d.output("result")
    }.select("pred_lang").as[String].head()
    assert(out == "en")
  }

  private def asofBackward(strategy: String): Set[(Long, Long, Long, Double)] = {
    val trades = Seq((1L, 100L, 10.0), (1L, 200L, 11.0), (2L, 150L, 20.0))
      .toDF("sym", "t", "px")
    val quotes = Seq((1L, 90L, 9.9), (1L, 150L, 10.5), (1L, 250L, 11.5), (2L, 100L, 19.5))
      .toDF("sym", "qt", "bid")
    val raw = runOne { d =>
      val l = d.add(srcNode(trades, "trades"))
      val r = d.add(srcNode(quotes, "quotes"))
      val j = d.add(new AsofJoinNode(
        leftKeys = Seq("sym"), rightKeys = Seq("sym"),
        leftTime = "t", rightTime = "qt",
        leftIdCols = Seq("sym", "t"), rightTieBreak = "qt", strategy = strategy))
      l >> j("left"); r >> j("right")
      j >> d.output("result")
    }
    // expand keeps l./r. subquery aliases; merge flattens with an _r suffix
    val picked =
      if (strategy == "expand") raw.select(col("l.sym"), col("t"), col("qt"), col("bid"))
      else raw.select(col("sym"), col("t"), col("qt"), col("bid"))
    picked.as[(Long, Long, Long, Double)].collect().toSet
  }

  test("AsofJoinNode picks latest right row at or before left time (both strategies)") {
    val expected = Set((1L, 100L, 90L, 9.9), (1L, 200L, 150L, 10.5), (2L, 150L, 100L, 19.5))
    assert(asofBackward("merge") == expected)
    assert(asofBackward("expand") == expected)
  }

  private def asofForward(strategy: String): Set[(Long, Long, Long, Double)] = {
    val trades = Seq((1L, 100L, 10.0), (1L, 200L, 11.0), (2L, 150L, 20.0), (2L, 300L, 21.0))
      .toDF("sym", "t", "px")
    val quotes = Seq((1L, 90L, 9.9), (1L, 150L, 10.5), (1L, 250L, 11.5), (2L, 200L, 19.5))
      .toDF("sym", "qt", "bid")
    val raw = runOne { d =>
      val l = d.add(srcNode(trades, "trades"))
      val r = d.add(srcNode(quotes, "quotes"))
      val j = d.add(new AsofJoinNode(
        leftKeys = Seq("sym"), rightKeys = Seq("sym"),
        leftTime = "t", rightTime = "qt",
        leftIdCols = Seq("sym", "t"), rightTieBreak = "qt",
        joinType = "left", forward = true, strategy = strategy))
      l >> j("left"); r >> j("right")
      j >> d.output("result")
    }
    val picked =
      if (strategy == "expand") raw.select(col("l.sym"), col("t"), col("qt"), col("bid"))
      else raw.select(col("sym"), col("t"), col("qt"), col("bid"))
    picked.collect().map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) -1L else r.getLong(2),
      if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
  }

  test("AsofJoinNode forward=true picks earliest right row at or after left time (both strategies)") {
    // (1,100)->150 (earliest >=), (1,200)->250, (2,150)->200,
    // (2,300)-> no quote at or after: left join keeps the row with nulls
    val expected = Set((1L, 100L, 150L, 10.5), (1L, 200L, 250L, 11.5),
      (2L, 150L, 200L, 19.5), (2L, 300L, -1L, -1.0))
    assert(asofForward("merge") == expected)
    assert(asofForward("expand") == expected)
  }

  test("AsofJoinNode merge strategy: null left times match nothing, both directions") {
    // the range predicate is null-false in SQL semantics: a left row with a
    // null time must produce NO match (forward regression: nulls-first
    // ascending order once let it "match" the earliest right row)
    val lefts = Seq((1L, Some(100L)), (1L, None: Option[Long])).toDF("k", "t")
    val rights = Seq((1L, 50L, "early"), (1L, 150L, "late")).toDF("k", "rt", "tag")
    for (fwd <- Seq(true, false)) {
      val out = runOne { d =>
        val l = d.add(srcNode(lefts, "l")); val r = d.add(srcNode(rights, "r"))
        val j = d.add(new AsofJoinNode(Seq("k"), Seq("k"), "t", "rt",
          Seq("k", "t"), rightTieBreak = "rt", joinType = "left", forward = fwd))
        l >> j("left"); r >> j("right"); j >> d.output("result")
      }.select(col("t"), col("tag")).collect()
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), Option(r.getString(1)))).toMap
      assert(out(-1L).isEmpty, s"null left time must not match (forward=$fwd), got ${out(-1L)}")
      assert(out(100L) == Some(if (fwd) "late" else "early"))
    }
  }

  test("AsofJoinNode merge strategy: time ties, hot keys, and join-free plan") {
    // hot key: one symbol, many right rows per left row — the expand path
    // would materialize L*R/2 intermediates; merge must stay L+R with NO
    // join operator anywhere in the physical plan
    val trades = (1 to 50).map(i => (1L, i * 10L, i.toDouble)).toDF("sym", "t", "px")
    val quotes = (1 to 500).map(i => (1L, i.toLong, i / 100.0)).toDF("sym", "qt", "bid")
    val (mergeOut, plan) = {
      val raw = runOne { d =>
        val l = d.add(srcNode(trades, "trades"))
        val r = d.add(srcNode(quotes, "quotes"))
        val j = d.add(new AsofJoinNode(
          leftKeys = Seq("sym"), rightKeys = Seq("sym"),
          leftTime = "t", rightTime = "qt",
          leftIdCols = Seq("sym", "t"), rightTieBreak = "qt"))
        l >> j("left"); r >> j("right")
        j >> d.output("result")
      }
      (raw.select(col("t"), col("qt"), col("bid")).as[(Long, Long, Double)].collect().toSet,
        raw.queryExecution.executedPlan.toString)
    }
    assert(!plan.toLowerCase.contains("join"), s"merge as-of plan must be join-free:\n$plan")
    // and the whole operator is ONE shuffle: union (narrow) -> Exchange on
    // the key -> Sort -> Window; a second Exchange would mean the plan
    // regressed to shuffling each side separately
    val nExchanges = "Exchange".r.findAllIn(plan).length
    assert(nExchanges == 1, s"merge as-of expected exactly 1 Exchange, got $nExchanges:\n$plan")
    // inclusive <=: trade at t=10 matches quote qt=10 exactly
    assert(mergeOut == (1 to 50).map(i => (i * 10L, i * 10L, i * 10 / 100.0)).toSet)
    // tie in right time: two quotes at the same qt — max tie-break wins,
    // matching the expand path's (time desc, tiebreak desc) rank-1 pick
    val q2 = Seq((1L, 10L, 1.0, 100L), (1L, 10L, 2.0, 200L)).toDF("sym", "qt", "bid", "qid")
    val t2 = Seq((1L, 15L)).toDF("sym", "t")
    val tied = runOne { d =>
      val l = d.add(srcNode(t2, "t2")); val r = d.add(srcNode(q2, "q2"))
      val j = d.add(new AsofJoinNode(Seq("sym"), Seq("sym"), "t", "qt",
        Seq("sym", "t"), rightTieBreak = "qid"))
      l >> j("left"); r >> j("right"); j >> d.output("result")
    }.select(col("qid")).as[Long].collect().toSeq
    assert(tied == Seq(200L))
  }

  test("EmbeddingNearDupNode bruteForce refuses inputs past maxBruteRows") {
    val emb = (0L until 50L).map(i =>
      (i, Array.tabulate(4)(j => math.sin(i + j).toFloat))).toDF("vec_id", "embedding")
    val d = new Dag()
    d.add(srcNode(emb, "emb")) >>
      new EmbeddingNearDupNode(threshold = 0.9, bruteForce = true, maxBruteRows = 10) >>
      d.output("result")
    val e = intercept[GraftException](d.transform(ctx))
    assert(e.getMessage.contains("refused"))
  }

  test("SampleNode: deterministic, stratified, zero-shuffle") {
    val df = (0L until 2000L).map(i => (i, if (i % 2 == 0) "en" else "de")).toDF("doc_id", "lang")
    def sample() = runOne { d =>
      d.add(srcNode(df)) >> new SampleNode(idCol = "doc_id", fraction = 0.5,
        strataCol = Some("lang"), fractions = Seq("de" -> 0.1)) >> d.output("result")
    }
    val a = sample().select("doc_id").as[Long].collect().toSet
    val b = sample().select("doc_id").as[Long].collect().toSet
    assert(a == b && a.nonEmpty) // pure function of the id
    val byLang = sample().groupBy("lang").count().as[(String, Long)].collect().toMap
    // en ~50% of 1000, de ~10% of 1000 (hash-uniform within a few percent)
    assert(byLang("en") > 400 && byLang("en") < 600, s"en=${byLang("en")}")
    assert(byLang.getOrElse("de", 0L) > 50 && byLang("de") < 160, s"de=${byLang.get("de")}")
    // narrow filter: no Exchange anywhere before the collect
    val plan = sample().queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sample must be a narrow filter:\n$plan")
  }

  test("SplitNode assigns stable hash-mod splits summing to the corpus") {
    val df = (0L until 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val out = runOne { d =>
      d.add(srcNode(df)) >> new SplitNode() >> d.output("result")
    }
    val counts = out.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum == 200L)
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
    // determinism: same input -> identical assignment
    val again = runOne { d =>
      d.add(srcNode(df)) >> new SplitNode() >> d.output("result")
    }
    assert(out.select("doc_id", "split").exceptAll(again.select("doc_id", "split")).count() == 0)
  }

  test("ChunkNode windows tokens with overlap; short docs get one chunk") {
    val df = Seq(
      (1L, (1 to 20).map(i => s"w$i").mkString(" ")), // 20 tokens, chunk 8/overlap 2 -> stride 6
      (2L, "just three tokens"),
    ).toDF("doc_id", "text")
    val out = runOne { d =>
      d.add(srcNode(df)) >> new ChunkNode(chunkTokens = 8, overlap = 2) >> d.output("result")
    }.select("doc_id", "chunk_idx", "chunk_text", "n_chunk_tokens")
      .as[(Long, Int, String, Int)].collect().sortBy(r => (r._1, r._2))
    val doc1 = out.filter(_._1 == 1L)
    // starts 0,6,12,18 -> 4 chunks; last has 2 tokens
    assert(doc1.length == 3 || doc1.length == 4)
    assert(doc1.head._3.startsWith("w1 w2"))
    // consecutive chunks overlap by 2 tokens
    val c0 = doc1(0)._3.split(" "); val c1 = doc1(1)._3.split(" ")
    assert(c0.takeRight(2).sameElements(c1.take(2)))
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0, "just three tokens", 3)))
  }

  test("RedactNode scrubs emails, SSNs, phones, IPs") {
    val df = Seq((1L, "mail bob@corp.io ssn 123-45-6789 call 555-123-4567 from 192.168.0.1 ok"))
      .toDF("doc_id", "text")
    val out = runOne { d =>
      d.add(srcNode(df)) >> new RedactNode() >> d.output("result")
    }.select("redacted").as[String].head()
    assert(out == "mail <EMAIL> ssn <SSN> call <PHONE> from <IPV4> ok")
  }

  test("SessionIsolation clones carry runtime confs plus overrides, and cache") {
    val parent = spark.newSession() // scratch parent so the shared fixture stays clean
    parent.conf.set("spark.sql.session.timeZone", "America/New_York")
    val c1 = SessionIsolation.cloneWith(parent, "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    assert(c1 ne parent)
    assert(c1.conf.get("spark.sql.session.timeZone") == "America/New_York") // runtime conf copied
    assert(c1.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")   // override applied
    assert(parent.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").forall(_ != "true")) // parent untouched
    val c2 = SessionIsolation.cloneWith(parent, "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    assert(c2 eq c1) // cached per (parent, override-set)
    val c3 = SessionIsolation.cloneWith(parent, "spark.sql.shuffle.partitions" -> "8")
    assert(c3 ne c1)
  }

  test("TopKNode plans TakeOrderedAndProject (no global sort at scale)") {
    val d = new Dag()
    d.add(srcNode(docs)) >> TopKNode(2, "doc_id desc") >> d.output("result")
    val out = d.transform(ctx).outputs("result")
    assert(out.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
    assert(out.select("doc_id").as[Long].collect().toSeq == Seq(4L, 3L))
  }

  test("TypedFnNode maps a typed Dataset with case-class encoders") {
    import NodesSpec.{Doc, Stat}
    val out = runOne { d =>
      d.add(srcNode(docs)) >>
        d.add(new TypedFnNode[Doc, Stat](_.map(x => Stat(x.doc_id, x.text.length)))) >>
        d.output("result")
    }.orderBy("doc_id").as[(Long, Int)].collect()
    assert(out.head == (1L, 43))
    assert(out.length == 4)
  }

  test("SinkNode writes and the result re-reads identically") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString + "/out"
    val out = runOne { d =>
      d.add(srcNode(docs)) >> new SinkNode(dir) >> d.output("result")
    }
    assert(out.count() == 4)
    assert(spark.read.parquet(dir).count() == 4)
  }

  test("UnionNode allowMissingColumns null-fills absent columns") {
    val a = Seq((1L, "x")).toDF("id", "v")
    val b = Seq(2L).toDF("id")
    val out = runOne { d =>
      val an = d.add(srcNode(a, "a")); val bn = d.add(srcNode(b, "b"))
      val u = d.add(new UnionNode(allowMissingColumns = true))
      an >> u("dfs"); bn >> u("dfs")
      u >> d.output("result")
    }.orderBy("id").collect()
    assert(out.length == 2 && out(1).isNullAt(1))
  }

  test("SaltedJoinNode matches a plain equi-join's result on a skewed key") {
    val l = (1L to 200L).map(i => (if (i <= 150) 1L else i, i)).toDF("k", "v") // 75% on key 1
    val r = Seq((1L, "hot"), (160L, "cold"), (999L, "miss")).toDF("k2", "tag")
    val out = runOne { d =>
      val ln = d.add(srcNode(l, "l")); val rn = d.add(srcNode(r, "r"))
      val j = d.add(new SaltedJoinNode(Seq("k"), Seq("k2"), buckets = 8))
      ln >> j("left"); rn >> j("right")
      j >> d.output("result")
    }
    val plain = l.join(r, l("k") === r("k2")).count()
    assert(out.count() == plain && plain == 151)
  }

  test("JoinNode broadcastRight produces a BroadcastHashJoin") {
    val l = (1L to 100L).toDF("k")
    val r = (1L to 5L).toDF("k2")
    val out = runOne { d =>
      val ln = d.add(srcNode(l, "l")); val rn = d.add(srcNode(r, "r"))
      val j = d.add(JoinNode.on("l.k = r.k2", broadcastRight = true))
      ln >> j("left"); rn >> j("right")
      j >> d.output("result")
    }
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    assert(out.count() == 5)
  }

  // ---------------- round-5 curation nodes ----------------

  test("SequencePackNode: per-shard cumsum offsets and sequence spans") {
    // shards=1 → one deterministic stream in doc_id order
    val df = Seq(
      (1L, (1 to 4).map(i => s"a$i").mkString(" ")),  // 4 tokens
      (2L, (1 to 8).map(i => s"b$i").mkString(" ")),  // 8 tokens
      (3L, (1 to 3).map(i => s"c$i").mkString(" ")),  // 3 tokens
    ).toDF("doc_id", "text")
    val out = runOne { d =>
      d.add(srcNode(df)) >> new SequencePackNode(seqLen = 10, shards = 1) >>
        d.output("result")
    }.orderBy("doc_id")
      .select("doc_id", "start_tok", "seq_first", "seq_last", "n_seqs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // starts 0,4,12; doc2 spans tokens 4..11 → sequences 0 and 1
    assert(out.toSeq == Seq((1L, 0L, 0L, 0L, 1L), (2L, 4L, 0L, 1L, 2L), (3L, 12L, 1L, 1L, 1L)))
  }

  test("DomainMixNode: integer multipliers copy exactly, zero drops, default passes") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c")).toDF("doc_id", "source")
    val out = runOne { d =>
      d.add(srcNode(df)) >> new DomainMixNode(Seq("a" -> 2.0, "b" -> 0.0)) >>
        d.output("result")
    }.orderBy("doc_id", "copy")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("copy")))
    // a-rows exactly twice (copy 1,2), b dropped, c once via default 1.0
    assert(out.toSeq == Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (4L, 1L)))
  }

  test("LineDedupNode: drops corpus-frequent lines, reassembles in order, empties survive") {
    val df = Seq(
      (1L, "unique one\ncommon banner\nunique two"),
      (2L, "common banner\nother text"),
      (3L, "common banner"), // all lines boilerplate → empty doc out
    ).toDF("doc_id", "text")
    val out = runOne { d =>
      d.add(srcNode(df)) >> new LineDedupNode(maxDocFreq = 1) >> d.output("result")
    }.orderBy("doc_id")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"),
        r.getAs[Long]("n_kept"), r.getAs[Long]("n_dropped")))
    assert(out.toSeq == Seq(
      (1L, "unique one\nunique two", 2L, 1L),
      (2L, "other text", 1L, 1L),
      (3L, "", 0L, 1L)))
  }

  test("NormalizeTextNode: NFC composition, control strip, whitespace collapse") {
    val df = Seq(
      (1L, "e\u0301clair"),     // e + combining acute → é (NFC)
      (2L, "a\u0000b\u0007c"),    // control chars stripped
      (3L, "  a \t  b  "),      // runs collapse, ends trim
    ).toDF("doc_id", "text")
    val out = runOne { d =>
      d.add(srcNode(df)) >> new NormalizeTextNode() >> d.output("result")
    }.orderBy("doc_id").select("norm_text").collect().map(_.getString(0))
    assert(out.toSeq == Seq("\u00e9clair", "abc", "a b"))
  }

  test("InterleaveNode: strict round-robin within a bucket, tags by sorted name") {
    val a = Seq(1L, 2L, 3L).toDF("doc_id")
    val b = Seq(10L, 20L).toDF("doc_id")
    val out = runOne { d =>
      val an = d.add(srcNode(a, "alpha")); val bn = d.add(srcNode(b, "beta"))
      val mix = d.add(new InterleaveNode(buckets = 1))
      an >> mix("dfs"); bn >> mix("dfs")
      mix >> d.output("result")
    }.orderBy("bucket", "rnk", "src_idx")
      .collect().map(r => (r.getAs[String]("mix_src"), r.getAs[Long]("doc_id")))
    // one bucket → global order alternates sources until beta runs dry
    assert(out.toSeq == Seq(
      ("alpha", 1L), ("beta", 10L), ("alpha", 2L), ("beta", 20L), ("alpha", 3L)))
  }

  test("HeuristicFilterNode: each rule fires on its own pathology") {
    val good = (1 to 60).map(i => if (i % 7 == 0) "the" else s"word$i").mkString(" ")
    val cases = Seq(
      (1L, good),                                       // passes everything
      (2L, "too short to keep the"),                    // minWords
      (3L, (1 to 60).map(_ => "### ... ###").mkString(" ")), // symbols + no alpha + no stops
      (4L, (1 to 60).map(i => s"- bullet $i the\n").mkString), // bullet lines
      (5L, (1 to 60).map(i => s"word$i").mkString(" ")),     // no stopwords
    ).toDF("doc_id", "text")
    val out = runOne { d =>
      d.add(srcNode(cases)) >> new HeuristicFilterNode(
        minWords = 40, minMeanWordLen = 2.0, maxMeanWordLen = 12.0,
        minAlphaWordFrac = 0.8, minStopwordHits = 1) >> d.output("result")
    }.select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out(1L) && !out(2L) && !out(3L) && !out(4L) && !out(5L))
    // keepOnly drops failures AND the keep column
    val kept = runOne { d =>
      d.add(srcNode(cases)) >> new HeuristicFilterNode(
        minWords = 40, minMeanWordLen = 2.0, maxMeanWordLen = 12.0,
        minAlphaWordFrac = 0.8, minStopwordHits = 1, keepOnly = true) >> d.output("result")
    }
    assert(kept.select("doc_id").as[Long].collect().toSeq == Seq(1L))
    assert(!kept.columns.contains("keep"))
  }

  test("VocabFilterNode: deterministic top-df vocab, OOV occurrence counts, filter") {
    val corpus = Seq(
      (1L, "aa bb cc dd"),
      (2L, "aa bb cc xx"),
      (3L, "aa bb yy zz"),
      (4L, "aa qq rr ss"),
    ).toDF("doc_id", "text")
    // df: aa=4 bb=3 cc=2, everything else 1; minDf=2 keeps {aa,bb,cc};
    // maxVocab=2 cuts at (df desc, token asc) → {aa, bb}
    val d = new Dag()
    val vf = d.add(new VocabFilterNode(minDf = 2L, maxVocab = 2))
    d.add(srcNode(corpus)) >> vf("df")
    vf >> d.output("result")
    val c = Ctx(spark)
    d.fit(c)
    assert(vf.lastVocab == Seq("aa", "bb"))
    val out = d.transform(c).outputs("result")
      .select("doc_id", "n_oov").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 3L))
    // filter mode: maxOovFrac = 0.5 drops doc 4 (3/4 OOV)
    val d2 = new Dag()
    val vf2 = d2.add(new VocabFilterNode(minDf = 2L, maxVocab = 2, maxOovFrac = 0.5))
    d2.add(srcNode(corpus)) >> vf2("df")
    vf2 >> d2.output("result")
    val c2 = Ctx(spark)
    d2.fit(c2)
    assert(d2.transform(c2).outputs("result")
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("SemDedupNode: single-block identity equals brute force; k>=2 path subsets it") {
    val emb = (0L until 24L).map { i =>
      val c = (i % 2).toInt
      (i, Array.tabulate(8)(j => (c * 5.0 + math.sin(i * 2.7 + j) * 0.1).toFloat))
    }.toDF("vec_id", "embedding")
    def pairsOf(n: Int, maxCluster: Int = Int.MaxValue): Set[(Long, Long)] = {
      val d = new Dag()
      val sd = d.add(new SemDedupNode(threshold = 0.99, nClusters = n, maxCluster = maxCluster))
      d.add(srcNode(emb)) >> sd("df")
      sd >> d.output("result")
      val c = Ctx(spark)
      d.fit(c)
      d.transform(c).outputs("result").select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    val brute = runOne { d =>
      d.add(srcNode(emb)) >> new EmbeddingNearDupNode(threshold = 0.99, bruteForce = true) >>
        d.output("result")
    }.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty)
    assert(pairsOf(1) == brute) // one block ⇒ provably identical pair set
    val two = pairsOf(2) // real quantizer path: no false positives, finds the clusters
    assert(two.subsetOf(brute) && two.nonEmpty)
    // sub-splitter engages under a tiny cap and still yields a subset
    assert(pairsOf(1, maxCluster = 6).subsetOf(brute))
  }

  test("SemDedupNode collapses bit-identical vectors before pairing") {
    val v = Array.tabulate(8)(j => (1.0 + j * 0.1).toFloat)
    // a 6-way identical family + one scaled copy (cosine 1.0, different bits)
    val emb = ((0L until 6L).map(i => (i, v)) :+ (9L, v.map(_ * 1.0001f)))
      .toDF("vec_id", "embedding")
    def pairs(collapse: Boolean): Set[(Long, Long)] = {
      val d = new Dag()
      val sd = d.add(new SemDedupNode(threshold = 0.99, nClusters = 1,
        collapseExact = collapse))
      d.add(srcNode(emb)) >> sd("df")
      sd >> d.output("result")
      val c = Ctx(spark)
      d.fit(c)
      d.transform(c).outputs("result").select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    // collapsed: one representative per distinct vector → the single
    // cross-content pair; uncollapsed: the family alone is C(6,2) = 15 pairs
    assert(pairs(collapse = true) == Set((0L, 9L)))
    assert(pairs(collapse = false).size == 21) // C(7,2): quadratic in duplication
  }

  test("ProfileNode: per-column null/distinct/min/max in one pass; default = all columns") {
    val df = Seq((1L, Some("a")), (2L, None), (3L, Some("a")), (4L, Some("b")))
      .toDF("id", "v")
    val out = runOne { d =>
      d.add(srcNode(df)) >> new ProfileNode() >> d.output("result")
    }.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    assert(out("id") == ((4L, 4L, 4L, "1", "4")))
    assert(out("v") == ((4L, 3L, 2L, "a", "b"))) // null excluded from all stats
    val one = runOne { d =>
      d.add(srcNode(df)) >> new ProfileNode(Seq("v")) >> d.output("result")
    }.collect()
    assert(one.length == 1 && one.head.getString(0) == "v")
    // approx mode: no Expand in the plan (one-pass HLL), counts exact at this size
    val ap = runOne { d =>
      d.add(srcNode(df)) >> new ProfileNode(Seq("v"), exactDistinct = false) >>
        d.output("result")
    }
    assert(!ap.queryExecution.executedPlan.toString.contains("Expand"))
    assert(ap.collect().head.getLong(3) == 2L)
  }

  test("SpanDupScoreNode: shared spans counted per doc, drop filter applies") {
    val shared = (1 to 8).map(i => s"s$i").mkString(" ") // one exact 8-gram
    val docs = Seq(
      (1L, s"alpha beta $shared gamma delta"), // shares the span with 2
      (2L, s"$shared completely other tail words here"),
      (3L, "nothing in common with anything else at all"),
    ).toDF("doc_id", "text")
    val out = runOne { d =>
      d.add(srcNode(docs)) >> new SpanDupScoreNode(shingleN = 8) >> d.output("result")
    }.select("doc_id", "n_shared").as[(Long, Long)].collect().toMap
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 0L)
    // dropAbove filters the offenders
    val kept = runOne { d =>
      d.add(srcNode(docs)) >> new SpanDupScoreNode(shingleN = 8, dropAbove = 0.0) >>
        d.output("result")
    }.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L))
  }

  test("UrlCanonNode: case/port/tracking/order/fragment normalize; non-URLs pass through") {
    val df = Seq(
      (1L, "HTTPS://Example.COM:443/A/b?utm_source=x&b=2&a=1#frag"),
      (2L, "http://example.com:80/"),
      (3L, "https://example.com"),                  // empty path -> '/'
      (4L, "https://example.com/p?gclid=1&REF=z"),  // blocklist is case-insensitive
      (5L, "https://example.com/p?keep=1"),
      (6L, "not a url at all"),                     // pass-through, trimmed
      (7L, "  /relative/path?x=1  "),
    ).toDF("doc_id", "url")
    val out = runOne { d =>
      d.add(srcNode(df)) >> new UrlCanonNode() >> d.output("result")
    }.select("doc_id", "canon_url").as[(Long, String)].collect().toMap
    assert(out(1L) == "https://example.com/A/b?a=1&b=2") // path case preserved
    assert(out(2L) == "http://example.com/")
    assert(out(3L) == "https://example.com/")
    assert(out(4L) == "https://example.com/p")
    assert(out(5L) == "https://example.com/p?keep=1")
    assert(out(6L) == "not a url at all")
    assert(out(7L) == "/relative/path?x=1")
    // www strip is opt-in
    val w = Seq((1L, "https://WWW.Example.com/x")).toDF("doc_id", "url")
    assert(runOne { d =>
      d.add(srcNode(w)) >> new UrlCanonNode(stripWww = true) >> d.output("result")
    }.select("canon_url").as[String].collect().head == "https://example.com/x")
    // custom blocklist entries are escaped and lowercased (ADVICE r10): an
    // UPPERCASE entry must still match, and a quote in an entry must not
    // break the generated expression
    val custom = Seq(
      (1L, "https://example.com/p?SID=9&keep=1"),
      (2L, "https://example.com/p?o'brien=x&keep=1"),
    ).toDF("doc_id", "url")
    val out2 = runOne { d =>
      d.add(srcNode(custom)) >>
        new UrlCanonNode(stripParams = Seq("SID", "o'brien")) >> d.output("result")
    }.select("doc_id", "canon_url").as[(Long, String)].collect().toMap
    assert(out2(1L) == "https://example.com/p?keep=1")
    assert(out2(2L) == "https://example.com/p?keep=1")
  }

  test("TsNorm: NTZ branch instant-correct under a non-UTC session zone; bad types fail loudly") {
    // the generator's round-9+ vintage: TIMESTAMP_NTZ carrying a UTC wall
    // clock. Normalization must land on the UTC instant even when the
    // SESSION zone differs (ADVICE r9: the old bare NTZ->TZ cast was only
    // correct under the entry points' UTC pin).
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val df = spark.sql("select timestamp_ntz'2024-01-02 03:04:05' as ts, 1L as id")
      val out = TsNorm.normalize(df, "ts")
      assert(out.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
      val micros = out.selectExpr("unix_micros(ts)").as[Long].collect().head
      assert(micros == java.time.Instant.parse("2024-01-02T03:04:05Z").getEpochSecond * 1000000L)
      // DST-ambiguous wall clock (ADVICE r10): 2024-11-03 01:30 falls inside
      // New York's fall-back overlap hour — a session-zone round-trip would
      // resolve it to one of TWO instants; the arithmetic derivation must
      // land on the UTC reading regardless, with micros preserved
      val amb = TsNorm.normalize(
          spark.sql("select timestamp_ntz'2024-11-03 01:30:00.123456' as ts"), "ts")
        .selectExpr("unix_micros(ts)").as[Long].collect().head
      assert(amb == java.time.Instant.parse("2024-11-03T01:30:00.123456Z").getEpochSecond * 1000000L + 123456L)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
    // rounds <= 8 vintage: epoch-nanos long (exact integer division)
    val lm = TsNorm.normalize(
        spark.sql("select 1704164645123456789L as ts"), "ts")
      .selectExpr("unix_micros(ts)").as[Long].collect().head
    assert(lm == 1704164645123456L)
    // a third, unhandled encoding must fail loudly, not silently skip
    intercept[GraftException](
      TsNorm.normalize(spark.sql("select 'oops' as ts"), "ts"))
  }

  test("SpanDedupNode: cuts duplicated spans keeping min-doc occurrence, tail spans intact") {
    val shared = (1 to 8).map(i => s"s$i").mkString(" ") // one exact 8-gram
    val docs = Seq(
      (1L, s"alpha beta $shared gamma delta"),      // canonical (min doc): keeps everything
      (2L, s"$shared completely other tail words here"), // loses the 8 shared tokens
      (3L, "nothing in common with anything else at all"),
      // within-doc repeat, never shared across docs: kept in full
      (4L, s"u1 u2 u3 u4 u5 u6 u7 u8 u1 u2 u3 u4 u5 u6 u7 u8"),
    ).toDF("doc_id", "text")
    val out = runOne { d =>
      d.add(srcNode(docs)) >> new SpanDedupNode(spanTokens = 8) >> d.output("result")
    }.orderBy("doc_id")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"),
        r.getAs[Long]("n_tokens_kept"), r.getAs[Long]("n_tokens_removed")))
    assert(out(0) == ((1L, s"alpha beta $shared gamma delta", 12L, 0L)))
    assert(out(1) == ((2L, "completely other tail words here", 5L, 8L)))
    assert(out(2)._4 == 0L) // no cross-doc span: untouched
    assert(out(3)._4 == 0L) // intra-doc repetition is not this operator's job
    // a doc that IS a duplicated span end-to-end empties but stays in the output
    val dup = (1 to 8).map(i => s"d$i").mkString(" ")
    val all = Seq((10L, dup), (11L, dup)).toDF("doc_id", "text")
    val emptied = runOne { d =>
      d.add(srcNode(all)) >> new SpanDedupNode(spanTokens = 8) >> d.output("result")
    }.orderBy("doc_id").collect()
    assert(emptied.length == 2)
    assert(emptied(0).getAs[String]("clean_text") == dup)
    assert(emptied(1).getAs[String]("clean_text") == "" &&
      emptied(1).getAs[Long]("n_tokens_removed") == 8L)
  }

  test("BpeTrain: deterministic merges, count-desc pair-asc tie-break, no singleton merges") {
    // "abab" x3, "ab" x2: pair (a,b) count 3*2+2 = 8 wins; then (ab,ab) count 3
    val merges = graft.functions.BpeTrain.train(Seq("abab" -> 3L, "ab" -> 2L), 10)
    assert(merges.take(2) == Seq("a b", "ab ab"))
    // a corpus of unique characters has no repeating pair: training stops
    assert(graft.functions.BpeTrain.train(Seq("xyz" -> 1L), 10).isEmpty)
  }

  test("BpeTokenizerNode: roundtrip identity, compression grows with merges, fit caps hold") {
    val corpus = (1L to 60L).map(i =>
      (i, s"the quick brown fox number $i jumps over the lazy dog über-fast 😀"))
      .toDF("doc_id", "text")
    def tokens(numMerges: Int): DataFrame = {
      val d = new Dag()
      val bpe = d.add(new BpeTokenizerNode(numMerges = numMerges, maxFitRows = 30L))
      d.add(srcNode(corpus)) >> bpe("df")
      bpe >> d.output("result")
      val c = Ctx(spark)
      d.fit(c)
      d.transform(c).outputs("result")
    }
    val out = tokens(60)
    // construction identity: concat(tokens) == text minus whitespace, lowercased
    // (surrogate-pair emoji and non-ASCII survive the codepoint slicing)
    assert(out.filter(
      expr("array_join(bpe_tokens, '') <> regexp_replace(lower(text), '\\\\s+', '')")).count() == 0)
    // more merges → fewer tokens; zero merges → pure character tokenization
    val n60 = out.agg(sum("n_bpe_tokens")).head.getLong(0)
    val n0 = tokens(0).agg(sum("n_bpe_tokens")).head.getLong(0)
    assert(n60 < n0, s"merges must compress: $n60 !< $n0")
    val chars = corpus.agg(sum(expr("length(regexp_replace(lower(text), '\\\\s+', ''))")))
      .head.getLong(0)
    assert(n0 == chars) // char-level floor
  }

  test("VocabFilterNode and BpeTokenizerNode fitted state survives save/load") {
    val corpus = Seq((1L, "aa bb aa cc"), (2L, "aa bb dd"), (3L, "aa bb ee")).toDF("doc_id", "text")
    val d = new Dag()
    val vf = d.add(new VocabFilterNode(minDf = 2L, maxVocab = 8))
    d.add(srcNode(corpus)) >> vf("df"); vf >> d.output("result")
    val c = Ctx(spark)
    d.fit(c)
    val f = java.nio.file.Files.createTempFile("graft_vocab", ".bin").toString
    vf.saveFitted(f)
    val vf2 = new VocabFilterNode(minDf = 2L, maxVocab = 8)
    vf2.loadFitted(f)
    assert(vf2.isFitted)
    val d2 = new Dag()
    val n2 = d2.add(vf2)
    d2.add(srcNode(corpus)) >> n2("df"); n2 >> d2.output("result")
    val out = d2.transform(Ctx(spark)).outputs("result")
      .select("doc_id", "n_oov").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L)) // cc/dd/ee are OOV

    val bd = new Dag()
    val bpe = bd.add(new BpeTokenizerNode(numMerges = 5))
    bd.add(srcNode(corpus)) >> bpe("df"); bpe >> bd.output("result")
    val bc = Ctx(spark)
    bd.fit(bc)
    val bf = java.nio.file.Files.createTempFile("graft_bpe", ".bin").toString
    bpe.saveFitted(bf)
    val bpe2 = new BpeTokenizerNode(numMerges = 5)
    bpe2.loadFitted(bf)
    val bd2 = new Dag()
    val bn2 = bd2.add(bpe2)
    bd2.add(srcNode(corpus)) >> bn2("df"); bn2 >> bd2.output("result")
    // identical merges → identical tokenization
    val t1 = bd.transform(bc).outputs("result").select("doc_id", "bpe_tokens")
      .as[(Long, Seq[String])].collect().toMap
    val t2 = bd2.transform(Ctx(spark)).outputs("result").select("doc_id", "bpe_tokens")
      .as[(Long, Seq[String])].collect().toMap
    assert(t1 == t2 && t1.nonEmpty)
  }

  test("DomainQuotaNode: desc rank with id tie-break, quota enforced per stratum") {
    val rows = Seq(
      (1L, "a", 10), (2L, "a", 30), (3L, "a", 30), (4L, "a", 5),
      (5L, "b", 1), (6L, "b", 2),
    ).toDF("doc_id", "source", "n_chars")
    val out = runOne { d =>
      d.add(srcNode(rows)) >> new DomainQuotaNode(strataCol = "source", quota = 2,
        orderBy = Seq("n_chars desc")) >> d.output("result")
    }.select("doc_id", "q_rank").as[(Long, Int)].collect().toMap
    // source a: 30(id2) rank1, 30(id3) rank2 — tie broken by id; 10 and 5 cut
    assert(out == Map(2L -> 1, 3L -> 2, 6L -> 1, 5L -> 2))
  }

  // ---------------- round-5 advanced nodes ----------------

  test("PageRankNode: one-iteration integer recurrence matches hand computation") {
    // chain 1 -> 2 -> 3 with 3 dangling. N=3, base = 10^12 div 3 = 333333333333,
    // teleport = (15*base) div 100 = 49999999999, dangShare = base div 3 =
    // 111111111111. r1(1) = tp + (85*dangShare) div 100 = 144444444443;
    // r1(2) = r1(3) = tp + (85*(base + dangShare)) div 100 = 427777777776.
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val out = runOne { d =>
      d.add(srcNode(edges)) >> new PageRankNode("src", "dst", iterations = 1) >>
        d.output("result")
    }.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 144444444443L, 2L -> 427777777776L, 3L -> 427777777776L))
  }

  test("PageRankNode: regular cycle stays uniform, mass conserved, partition-invariant") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    def ranks(df: DataFrame): Map[Long, Long] = runOne { d =>
      d.add(srcNode(df)) >> new PageRankNode("src", "dst", iterations = 4) >>
        d.output("result")
    }.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r = ranks(edges)
    val base = 1000000000000L / 3
    // symmetric graph: all equal; floor-division leaks a bounded remainder
    assert(r.values.toSet.size == 1)
    assert(r.values.head <= base && r.values.head >= base - 10)
    // integer arithmetic is partition-layout-invariant (float PageRank is not)
    assert(ranks(edges.repartition(7)) == r)
  }

  test("MinHashIndexNode.updateIndex: next generation matches appended docs; cap re-applies on growth") {
    val mk = (id: Long, text: String) => (id, text)
    val corpus = Seq(mk(1L, (1 to 30).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val idx = new MinHashIndexNode(numHashes = 32, bands = 16,
      jaccardThreshold = 1.0, maxBucket = 100000)
    idx.fit(ctx, In.single("corpus" -> corpus))
    val gen1 = Seq(mk(101L, (1 to 30).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    // before update: gen2 (dup of gen1's doc and corpus doc) matches ONLY corpus
    idx.updateIndex(ctx, gen1)
    val gen2 = Seq(mk(201L, (1 to 30).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val m2 = idx.transform(ctx, In.single("delta" -> gen2))("result")
      .select("base_id").as[Long].collect().toSet
    assert(m2 == Set(1L, 101L), "post-update transform must also match the appended generation")
    // cap re-applies over the grown bucket: with maxBucket = 1 every shared
    // bucket (corpus doc + identical appended doc = 2 entries) drops, so a
    // further identical delta finds NO candidates
    val tight = new MinHashIndexNode(numHashes = 32, bands = 16,
      jaccardThreshold = 1.0, maxBucket = 1)
    tight.fit(ctx, In.single("corpus" -> corpus))
    tight.updateIndex(ctx, gen1)
    val m3 = tight.transform(ctx, In.single("delta" -> gen2))("result").count()
    assert(m3 == 0L, "buckets crossing maxBucket after growth must drop whole")
    idx.unpersistIndex(); tight.unpersistIndex()
  }

  test("PageRankNode: tolerance stop converges early and matches the fixed-point ranks") {
    // a symmetric cycle converges immediately (uniform is the fixed point),
    // so a tolerance run must stop well before the iteration cap
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val node = new PageRankNode("src", "dst", iterations = 40, tolerance = Some(1000L))
    val converged = runOne { d =>
      d.add(srcNode(edges)) >> node >> d.output("result")
    }.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(node.lastRounds < 40, s"expected early stop, ran ${node.lastRounds} rounds")
    // floor-division leaks ~1 unit per round, so longer runs drift a few
    // units lower — the contract is agreement WITHIN the tolerance, plus
    // preserved symmetry (all ranks equal on a regular cycle)
    val fixed = runOne { d =>
      d.add(srcNode(edges)) >> new PageRankNode("src", "dst", iterations = 40) >>
        d.output("result")
    }.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(converged.values.toSet.size == 1)
    assert(converged.keySet == fixed.keySet &&
      converged.forall { case (k, v) => math.abs(v - fixed(k)) <= 1000L })
  }

  test("BpeTokenizerNode: corpusSizeHint skips the fit-time sizing count job") {
    val docs = (1L to 50L).map(i => (i, s"aa bb cc d$i")).toDF("doc_id", "text")
    def jobsDuringFit(node: BpeTokenizerNode): Int = {
      val counter = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          counter.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try {
        node.fit(ctx, In.single("df" -> docs))
        Thread.sleep(300) // listener bus drains asynchronously
      } finally spark.sparkContext.removeSparkListener(l)
      counter.get()
    }
    val withHint = jobsDuringFit(new BpeTokenizerNode(numMerges = 2, corpusSizeHint = Some(50L)))
    val noHint = jobsDuringFit(new BpeTokenizerNode(numMerges = 2))
    assert(withHint < noHint,
      s"hint must drop the sizing count() job (with=$withHint, without=$noHint)")
  }

  test("BloomJoinNode: exact join result for any fpp; unsafe join types rejected") {
    val probe = (1L to 200L).map(i => (i, s"p$i")).toDF("k", "pv")
    val build = Seq((5L, "B5"), (10L, "B10")).toDF("bk", "bv")
    val out = runOne { d =>
      val p = d.add(srcNode(probe, "p")); val b = d.add(srcNode(build, "b"))
      val bj = d.add(new BloomJoinNode(Seq("k"), Seq("bk"), expectedItems = 100L,
        fpp = 0.5, broadcastBuild = true)) // sloppy fpp on purpose — result must be exact
      p >> bj("probe"); b >> bj("build")
      bj >> d.output("result")
    }.select("k", "pv", "bv").as[(Long, String, String)].collect().toSet
    assert(out == Set((5L, "p5", "B5"), (10L, "p10", "B10")))
    val semi = runOne { d =>
      val p = d.add(srcNode(probe, "p")); val b = d.add(srcNode(build, "b"))
      val bj = d.add(new BloomJoinNode(Seq("k"), Seq("bk"), 100L, 0.01, "left_semi"))
      p >> bj("probe"); b >> bj("build")
      bj >> d.output("result")
    }.select("k").as[Long].collect().toSet
    assert(semi == Set(5L, 10L))
    intercept[IllegalArgumentException](new BloomJoinNode(Seq("k"), Seq("bk"), joinType = "left"))
    intercept[IllegalArgumentException](new BloomJoinNode(Seq("k"), Seq("bk"), joinType = "left_anti"))
  }

  test("MergeNode: upsert replaces, insert adds, tombstone deletes; schema checked") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val updates = Seq((2L, "B", false), (4L, "D", false), (3L, "dead", true))
      .toDF("k", "v", "__del")
    val out = runOne { d =>
      val b = d.add(srcNode(base, "b")); val u = d.add(srcNode(updates, "u"))
      val m = d.add(new MergeNode(Seq("k"), Some("__del")))
      b >> m("base"); u >> m("updates")
      m >> d.output("result")
    }.as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "B", 4L -> "D"))
    val badUpdates = Seq((1L, "x", 9.9, false)).toDF("k", "v", "extra", "__del")
    val err = intercept[Exception] {
      runOne { d =>
        val b = d.add(srcNode(base, "b")); val u = d.add(srcNode(badUpdates, "u"))
        val m = d.add(new MergeNode(Seq("k"), Some("__del")))
        b >> m("base"); u >> m("updates")
        m >> d.output("result")
      }.collect()
    }
    assert(err.getMessage.contains("allowEvolution"),
      "ungated extra columns must refuse toward the evolution flag")
  }

  test("MergeNode: duplicate update keys fail loudly; last_wins dedups by orderCol") {
    val base = Seq((1L, "a", 0L)).toDF("k", "v", "ver")
    val dupUpdates = Seq((2L, "B1", 1L), (2L, "B2", 2L)).toDF("k", "v", "ver")
    def merged(m: MergeNode): Map[Long, String] = runOne { d =>
      val b = d.add(srcNode(base, "b")); val u = d.add(srcNode(dupUpdates, "u"))
      val mm = d.add(m)
      b >> mm("base"); u >> mm("updates")
      mm >> d.output("result")
    }.select("k", "v").as[(Long, String)].collect().toMap
    // default: the one-row-per-key invariant is enforced at execution time
    val err = intercept[Exception](merged(new MergeNode(Seq("k"))))
    assert(err.getMessage.contains("duplicate non-tombstone update keys")
      || Option(err.getCause).exists(_.getMessage.contains("duplicate non-tombstone update keys")))
    // documented recency dedup: highest orderCol per key survives
    assert(merged(new MergeNode(Seq("k"), onDuplicate = "last_wins",
      orderCol = Some("ver"))) == Map(1L -> "a", 2L -> "B2"))
    // misconfiguration caught at construction
    intercept[IllegalArgumentException](new MergeNode(Seq("k"), onDuplicate = "last_wins"))
  }

  test("SnapshotDiffNode: added/removed/changed/unchanged with null-safe compare") {
    val oldDf = Seq((1L, Some("a")), (2L, Some("b")), (3L, Some("c")), (5L, None: Option[String]))
      .toDF("k", "v")
    val newDf = Seq((2L, Some("b")), (3L, Some("C")), (4L, Some("d")), (5L, None: Option[String]))
      .toDF("k", "v")
    def diff(includeUnchanged: Boolean): Map[Long, String] = runOne { d =>
      val o = d.add(srcNode(oldDf, "o")); val n = d.add(srcNode(newDf, "n"))
      val sd = d.add(new SnapshotDiffNode(Seq("k"), includeUnchanged = includeUnchanged))
      o >> sd("old"); n >> sd("new")
      sd >> d.output("result")
    }.as[(Long, String)].collect().toMap
    assert(diff(true) == Map(1L -> "removed", 2L -> "unchanged", 3L -> "changed",
      4L -> "added", 5L -> "unchanged")) // null <=> null is unchanged, not changed
    assert(diff(false) == Map(1L -> "removed", 3L -> "changed", 4L -> "added"))
  }

  test("OutlierFilterNode: median/MAD gate per group, dropOutliers filters") {
    val rows = ((1 to 9).map(i => ("g1", i.toDouble)) :+ ("g1", 100.0)) ++
      Seq(("g2", 5.0), ("g2", 5.0))
    val df = rows.toDF("g", "v")
    val out = runOne { d =>
      d.add(srcNode(df)) >> new OutlierFilterNode(Seq("g"), "v", k = 3.0) >>
        d.output("result")
    }.select("g", "v", "med", "mad", "keep").as[(String, Double, Double, Double, Boolean)]
      .collect()
    // g1: med of {1..9,100} = 5.5, residual med (MAD) = 2.5+... residuals
    // {4.5,3.5,2.5,1.5,.5,.5,1.5,2.5,3.5,94.5} -> sorted mid pair (2.5,2.5) = 2.5
    val g1 = out.filter(_._1 == "g1")
    assert(g1.forall(r => r._3 == 5.5 && r._4 == 2.5))
    assert(g1.filter(!_._5).map(_._2).toSeq == Seq(100.0)) // only the outlier fails
    // g2: mad = 0 -> only exact-median values keep
    assert(out.filter(_._1 == "g2").forall(_._5))
    val kept = runOne { d =>
      d.add(srcNode(df)) >> new OutlierFilterNode(Seq("g"), "v", k = 3.0, dropOutliers = true) >>
        d.output("result")
    }.count()
    assert(kept == 11)
  }

  test("InvertedIndexTopKNode: integer tf dot-product ranks, fractional DF cap prunes stopwords") {
    val corpus = Seq((1L, "the a a b"), (2L, "the a c"), (3L, "the b c c"))
      .toDF("doc_id", "text")
    val queries = Seq((7L, "the a b")).toDF("query_id", "text")
    def run(frac: Double): Seq[(Long, Long, Long, Int)] = runOne { d =>
      val c = d.add(srcNode(corpus, "c")); val q = d.add(srcNode(queries, "q"))
      val ii = d.add(new InvertedIndexTopKNode(k = 3, maxDfFrac = frac))
      c >> ii("corpus"); q >> ii("queries")
      ii >> d.output("result")
    }.select("query_id", "doc_id", "score", "rank").as[(Long, Long, Long, Int)]
      .collect().sortBy(_._4).toSeq
    // frac 0.67 -> cap 2: 'the' (df 3) pruned; scores d1 = 2a+1b = 3, d2 = 1, d3 = 1
    assert(run(0.67) == Seq((7L, 1L, 3L, 1), (7L, 2L, 1L, 2), (7L, 3L, 1L, 3)))
    // frac 1.0 -> 'the' kept, +1 for every doc
    assert(run(1.0) == Seq((7L, 1L, 4L, 1), (7L, 2L, 2L, 2), (7L, 3L, 2L, 3)))
  }

  test("Bm25TopKNode: fixed-point scores match the documented integer recurrence") {
    // d1 and d2 have equal tf for their query term, but 'rare' (df 2) must
    // outweigh 'common' (df 3); d3 repeats 'rare' 5x in a doc 2x as long —
    // saturation + length norm must keep its score below 6x d1's contribution
    val corpus = Seq(
      (1L, "rare f1 f2"), (2L, "common f3 f4"),
      (3L, "rare rare rare rare rare common"), (4L, "common f7 f8"),
    ).toDF("doc_id", "text")
    val queries = Seq((9L, "rare common")).toDF("query_id", "text")
    val out = runOne { d =>
      val c = d.add(srcNode(corpus, "c")); val q = d.add(srcNode(queries, "q"))
      val bm = d.add(new Bm25TopKNode(k = 4, maxDfFrac = 1.0))
      c >> bm("corpus"); q >> bm("queries")
      bm >> d.output("result")
    }.select("query_id", "doc_id", "score", "rank").as[(Long, Long, Long, Int)]
      .collect().sortBy(r => (r._4, r._2)).toSeq
    // independent recompute of the documented contract (k1T 12, bH 75, S 1e6)
    val S = 1000000L; val n = 4L; val avgdlc = (100L * (3 + 3 + 6 + 3)) / n
    def tfSat(tf: Long, dl: Long): Long =
      (tf * 2200L * avgdlc * S) / (1000L * tf * avgdlc + 300L * avgdlc + 90000L * dl)
    def contrib(tf: Long, dl: Long, df: Long): Long = ((n * S) / df) * tfSat(tf, dl) / S
    val d1 = contrib(1, 3, 2) // rare (df 2) in d1
    val d2 = contrib(1, 3, 3) // common (df 3) in d2 — and identically in d4
    val d3 = contrib(5, 6, 2) + contrib(1, 6, 3) // rare x5 + common x1 in d3
    // d2/d4 tie on score — rank ties break by doc id
    assert(out == Seq((9L, 3L, d3, 1), (9L, 1L, d1, 2), (9L, 2L, d2, 3), (9L, 4L, d2, 4)))
    assert(d1 > d2, "rare term (lower df) must outscore common term at equal tf/dl")
    assert(d3 < 6 * d1, "tf saturation + length norm must cap repeated-term gain")
  }

  test("MinHashIndexNode: fitted index catches delta duplicates; parquet save/load round-trips") {
    val delta = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // exact copy of docs 1 and 2
      (12L, "unrelated payload words nothing shared here at all"),
    ).toDF("doc_id", "text")
    def pairsVia(node: MinHashIndexNode, needsFit: Boolean): Seq[(Long, Long, Double)] = {
      val d = new Dag()
      val c = d.add(srcNode(docs, "c")); val dd = d.add(srcNode(delta, "dd"))
      val n = d.add(node)
      c >> n("corpus"); dd >> n("delta")
      n >> d.output("result")
      val cx = ctx
      if (needsFit) d.fit(cx)
      d.transform(cx).outputs("result")
        .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
    }
    val idx = new MinHashIndexNode(numHashes = 32, bands = 16, jaccardThreshold = 0.8)
    val out = pairsVia(idx, needsFit = true)
    // doc 10 duplicates base docs 1 AND 2 (jaccard exactly 1.0 — equal
    // shingle sets); doc 3 is a near-dup at jaccard 0.4, below threshold;
    // doc 12 shares nothing. Catching exact dups is deterministic.
    assert(out == Seq((10L, 1L, 1.0), (10L, 2L, 1.0)))
    // the index survives a parquet round-trip into a FRESH unfitted node
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_idx").toString
    idx.saveFitted(dir)
    val idx2 = new MinHashIndexNode(numHashes = 32, bands = 16, jaccardThreshold = 0.8)
    idx2.loadFitted(dir)
    assert(pairsVia(idx2, needsFit = false) == out)
    idx.unpersistIndex()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("SessionizeNode: gap boundary is strict, per-key independent, ties broken by tieBreakCols") {
    val ev = Seq(
      // user 1: gaps 100s / 101s around a 100s threshold -> second gap splits
      (1L, 10L, "2024-01-01 00:00:00"),
      (1L, 11L, "2024-01-01 00:01:40"),  // +100s: NOT > gap -> same session
      (1L, 12L, "2024-01-01 00:03:21"),  // +101s: > gap -> new session
      // user 2: same-timestamp pair ordered by event_id, then a big gap
      (2L, 20L, "2024-01-01 00:00:00"),
      (2L, 21L, "2024-01-01 00:00:00"),
      (2L, 22L, "2024-01-01 09:00:00"),
    ).toDF("user_id", "event_id", "s").selectExpr("user_id", "event_id", "cast(s as timestamp) as ts")
    val out = runOne { d =>
      d.add(srcNode(ev)) >> new SessionizeNode(Seq("user_id"), "ts", 100L, Seq("event_id")) >>
        d.output("result")
    }.select("user_id", "event_id", "session_seq").as[(Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(out == Seq((1L, 10L, 1L), (1L, 11L, 1L), (1L, 12L, 2L),
      (2L, 20L, 1L), (2L, 21L, 1L), (2L, 22L, 2L)))
  }

  test("CollocationNode: phrase score follows the fixed-point Mikolov contract") {
    // 'new york' occurs 3x adjacently; 'the' is frequent but never forms a
    // repeated bigram with a minCount-surviving partner
    val rows = Seq(
      "new york is the city of new york",
      "the new york subway runs under the streets",
      "the the the the filler filler filler",
    ).map(Tuple1(_)).toDF("text")
    val out = runOne { d =>
      d.add(srcNode(rows)) >> new CollocationNode(minCount = 3L, discount = 1L, k = 5) >>
        d.output("result")
    }.as[(String, String, Long, Long)].collect().toSeq
    // T = 8 + 8 + 7 = 23 tokens; c(new)=3, c(york)=3, c12(new,york)=3
    // score = ((3-1) * 23 * 1e6) / (3*3) = 5111111
    val ny = out.find(r => r._1 == "new" && r._2 == "york")
    assert(ny.contains(("new", "york", 3L, (2L * 23L * 1000000L) / 9L)))
    // 'the the' (c12=3, c(the)=7): ((3-1)*23*1e6)/(49) = 938775 — ranked below
    assert(out.head._1 == "new" && out.head._2 == "york",
      s"highest-score bigram must be 'new york': $out")
  }

  test("WeightedSampleNode: prob bounds, filter/annotate agreement, id-determinism") {
    val df = spark.range(1000).selectExpr("id as doc_id", "cast(id % 10 as double) / 10 as p")
    def kept(probExpr: String): Set[Long] = runOne { d =>
      d.add(srcNode(df)) >> new WeightedSampleNode("doc_id", probExpr) >> d.output("result")
    }.select("doc_id").as[Long].collect().toSet
    assert(kept("0.0").isEmpty, "prob 0 must keep nothing")
    assert(kept("1.0").size == 1000, "prob 1 must keep everything")
    val half = kept("0.5")
    assert(half == kept("0.5"), "keep decision must be deterministic per id")
    assert(half.size > 350 && half.size < 650, s"~half expected, got ${half.size}")
    // annotate mode marks exactly the rows filter mode keeps
    val marked = runOne { d =>
      d.add(srcNode(df)) >> new WeightedSampleNode("doc_id", "p", keepCol = Some("keep")) >>
        d.output("result")
    }.filter("keep").select("doc_id").as[Long].collect().toSet
    assert(marked == kept("p"))
  }

  test("QuantileFilterNode: per-group calibration, global mode, annotate agreement") {
    // group a: scores 1..8 (p75 = 6.25 -> keep 7, 8); group b: 10,20,30,40
    // (p75 = 32.5 -> keep 40)
    val df = ((1 to 8).map(i => ("a", i.toLong)) ++
      Seq(("b", 10L), ("b", 20L), ("b", 30L), ("b", 40L))).toDF("g", "score")
    val grouped = runOne { d =>
      d.add(srcNode(df)) >> new QuantileFilterNode("score", 0.25, Seq("g")) >>
        d.output("result")
    }.select("g", "score").as[(String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(grouped == Seq(("a", 7L), ("a", 8L), ("b", 40L)))
    // global mode: p75 over all 12 sorted values interpolates between the
    // 9th and 10th (10, 20) at fraction .25 -> threshold 12.5 -> 20, 30, 40
    val global = runOne { d =>
      d.add(srcNode(df)) >> new QuantileFilterNode("score", 0.25) >> d.output("result")
    }.select("score").as[Long].collect().sorted.toSeq
    assert(global == Seq(20L, 30L, 40L))
    // annotate mode flags exactly the filtered survivors and exposes thresholds
    val ann = runOne { d =>
      d.add(srcNode(df)) >> new QuantileFilterNode("score", 0.25, Seq("g"), annotate = true) >>
        d.output("result")
    }
    assert(ann.columns.contains("threshold"))
    val marked = ann.filter("keep").select("g", "score").as[(String, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(marked == grouped)
  }

  test("TriangleCountNode: K4 has 4 triangles; loops/reversals/duplicates canonicalize away") {
    // K4 on {1,2,3,4} (4 triangles) + pendant edge 5-6 + noise: a self-loop,
    // a reversed duplicate, an exact duplicate
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (3L, 3L), (2L, 1L), (1L, 2L)).toDF("src", "dst")
    val out = runOne { d =>
      d.add(srcNode(edges)) >> new TriangleCountNode() >> d.output("result")
    }.as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((6L, 7L, 4L)))
  }

  test("ConstraintCheckNode: one-pass audit rows; failFast throws naming the violations") {
    val df = Seq((1L, "x"), (2L, "y"), (2L, null)).toDF("id", "v")
    val checks = Seq(
      "id_not_null" -> "sum(case when id is null then 1 else 0 end) = 0",
      "id_unique" -> "count(*) = count(distinct id)",
      "v_not_null" -> "sum(case when v is null then 1 else 0 end) = 0")
    val out = runOne { d =>
      d.add(srcNode(df)) >> new ConstraintCheckNode(checks) >> d.output("result")
    }.as[(String, Int)].collect().sortBy(_._1).toSeq
    assert(out == Seq(("id_not_null", 1), ("id_unique", 0), ("v_not_null", 0)))
    val ex = intercept[GraftException] {
      runOne { d =>
        d.add(srcNode(df)) >> new ConstraintCheckNode(checks, failFast = true) >>
          d.output("result")
      }
    }
    assert(ex.getMessage.contains("id_unique") && ex.getMessage.contains("v_not_null"))
  }

  test("HistogramNode: fixed grid with empty bins; clamp vs drop for out-of-range values") {
    val df = Seq(-5.0, 0.0, 1.0, 2.5, 5.0, 7.5, 99.0).map(Tuple1(_)).toDF("v")
    def hist(clamp: Boolean): Seq[(Long, Long)] = runOne { d =>
      d.add(srcNode(df)) >> new HistogramNode("v", 0.0, 10.0, 4, clamp = clamp) >>
        d.output("result")
    }.select("bin", "n").as[(Long, Long)].collect().sortBy(_._1).toSeq
    // bins of width 2.5 over [0,10): [0,2.5)={0,1}, [2.5,5)={2.5}, [5,7.5)={5}, [7.5,10)={7.5}
    // clamp: -5 joins bin 0, 99 joins bin 3
    assert(hist(clamp = true) == Seq((0L, 3L), (1L, 1L), (2L, 1L), (3L, 2L)))
    assert(hist(clamp = false) == Seq((0L, 2L), (1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("HistogramNode: nulls counted into n_null so totals reconcile (grouped and global)") {
    val df = Seq(("a", Some(1.0)), ("a", None), ("a", None), ("b", Some(5.0)))
      .toDF("g", "v")
    val grouped = runOne { d =>
      d.add(srcNode(df)) >> new HistogramNode("v", 0.0, 10.0, 2, groupCols = Seq("g")) >>
        d.output("result")
    }.select("g", "bin", "n", "n_null").as[(String, Long, Long, Long)].collect()
    // per group: sum(n) + n_null == input rows of that group
    assert(grouped.filter(_._1 == "a").map(_._3).sum == 1
      && grouped.filter(_._1 == "a").forall(_._4 == 2))
    assert(grouped.filter(_._1 == "b").map(_._3).sum == 1
      && grouped.filter(_._1 == "b").forall(_._4 == 0))
    val global = runOne { d =>
      d.add(srcNode(df)) >> new HistogramNode("v", 0.0, 10.0, 2) >> d.output("result")
    }.select("n", "n_null").as[(Long, Long)].collect()
    assert(global.map(_._1).sum == 2 && global.forall(_._2 == 2))
  }

  test("MergeIntervalsNode: overlap and touch merge, gaps split, containment absorbed") {
    def ts(s: String) = s"2024-01-01 $s"
    val iv = Seq(
      // user 1: [00:00,01:00] + [00:30,02:00] overlap; [02:00,03:00] touches
      // (closed-interval merge); [05:00,05:10] is a separate run;
      // [05:01,05:05] is CONTAINED in it
      (1L, ts("00:00:00"), ts("01:00:00")),
      (1L, ts("00:30:00"), ts("02:00:00")),
      (1L, ts("02:00:00"), ts("03:00:00")),
      (1L, ts("05:00:00"), ts("05:10:00")),
      (1L, ts("05:01:00"), ts("05:05:00")),
      // user 2: single interval
      (2L, ts("10:00:00"), ts("11:00:00")),
    ).toDF("user_id", "s", "e")
      .selectExpr("user_id", "cast(s as timestamp) as start_ts", "cast(e as timestamp) as end_ts")
    val out = runOne { d =>
      d.add(srcNode(iv)) >> new MergeIntervalsNode(Seq("user_id")) >> d.output("result")
    }.selectExpr("user_id", "n_merged", "dur_sec", "cast(interval_start as string)")
      .as[(Long, Long, Long, String)].collect().sortBy(r => (r._1, r._4)).toSeq
    assert(out == Seq(
      (1L, 3L, 10800L, "2024-01-01 00:00:00"),
      (1L, 2L, 600L, "2024-01-01 05:00:00"),
      (2L, 1L, 3600L, "2024-01-01 10:00:00")))
  }

  test("CompactLogNode: latest-wins survivor with tie-break; history mode emits SCD2 ranges") {
    val log = Seq(
      (1L, "2024-01-01 00:00:00", 100L, "v1"),
      (1L, "2024-01-02 00:00:00", 101L, "v2"),
      (1L, "2024-01-02 00:00:00", 102L, "v3"), // same ts — event_id breaks the tie
      (2L, "2024-01-05 00:00:00", 200L, "w1"),
    ).toDF("k", "s", "event_id", "payload")
      .selectExpr("k", "cast(s as timestamp) as ts", "event_id", "payload")
    val latest = runOne { d =>
      d.add(srcNode(log)) >> new CompactLogNode(Seq("k"), "ts", Seq("event_id")) >>
        d.output("result")
    }.select("k", "payload").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(latest == Seq((1L, "v3"), (2L, "w1")))
    val hist = runOne { d =>
      d.add(srcNode(log)) >> new CompactLogNode(Seq("k"), "ts", Seq("event_id"),
        mode = "history") >> d.output("result")
    }.selectExpr("k", "payload", "cast(valid_to as string)", "is_current")
      .as[(Long, String, Option[String], Boolean)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(hist == Seq(
      (1L, "v1", Some("2024-01-02 00:00:00"), false),
      (1L, "v2", Some("2024-01-02 00:00:00"), false), // tied successor: zero-width range
      (1L, "v3", None, true),
      (2L, "w1", None, true)))
  }

  test("ZOrderNode: morton2 interleaves bits exactly; key column kept or dropped") {
    graft.functions.VecFunctions.register(spark)
    // spread(3)=0b101, spread(1)=0b1: morton2(3,1) = 5 | (1<<1) = 7; swapped = 1 | (5<<1) = 11
    val bits = spark.sql("select morton2(3L, 1L) as a, morton2(1L, 3L) as b")
      .as[(Long, Long)].head()
    assert(bits == ((7L, 11L)))
    // scala-side kernel agrees with the codegen'd expression on larger values
    assert(spark.sql("select morton2(123456789L, 987654321L) as z").as[Long].head() ==
      graft.functions.MortonInterleave.interleave(123456789L, 987654321L))
    val df = Seq((1L, 10L), (2L, 20L)).toDF("x", "y")
    val kept = runOne { d =>
      d.add(srcNode(df)) >> new ZOrderNode("x", "y", partitions = Some(2)) >> d.output("result")
    }
    assert(kept.columns.contains("zkey") && kept.count() == 2)
    val dropped = runOne { d =>
      d.add(srcNode(df)) >> new ZOrderNode("x", "y", partitions = Some(2), keepKey = false) >>
        d.output("result")
    }
    assert(!dropped.columns.contains("zkey") && dropped.count() == 2)
  }

  test("ZOrderNode colC: morton3 interleaves three dims exactly (21 bits each, " +
       "positive 63-bit key); hand-computed pins; codegen agrees with the kernel") {
    graft.functions.VecFunctions.register(spark)
    // bit i of dim1 -> position 3i; dim2 -> 3i+1; dim3 -> 3i+2:
    // morton3(3,1,1) = (0b1001) | (1<<1) | (1<<2) = 15
    // morton3(1,1,1) = 1 | 2 | 4 = 7;  morton3(4,2,1) = 64 | 16 | 4 = 84
    val pins = spark.sql(
      "select morton3(3L,1L,1L) as a, morton3(1L,1L,1L) as b, morton3(4L,2L,1L) as c")
      .as[(Long, Long, Long)].head()
    assert(pins == ((15L, 7L, 84L)))
    // full 21-bit range stays positive and round-trips through the kernel
    val big = spark.sql("select morton3(2097151L, 2097151L, 2097151L) as z")
      .as[Long].head()
    assert(big == graft.functions.Morton3Interleave.interleave3(2097151L, 2097151L, 2097151L))
    assert(big > 0L && big == 0x7FFFFFFFFFFFFFFFL,
      "all-ones 21-bit inputs must fill exactly 63 bits")
    val df3 = Seq((1L, 10L, 5L), (2L, 20L, 6L)).toDF("x", "y", "t")
    val kept = runOne { d =>
      d.add(srcNode(df3)) >>
        new ZOrderNode("x", "y", partitions = Some(2), colC = Some("t")) >>
        d.output("result")
    }
    assert(kept.columns.contains("zkey") && kept.count() == 2)
  }

  test("3-D Z-order layout + three-column file stats: a 3-D box prunes files on " +
       "ALL THREE dimensions") {
    import spark.implicits._
    val c = Ctx(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_z3stats_spec").toString
    val root = s"$work/ds"
    // 16x16x16 grid; morton3 clustering puts 3-D neighborhoods in the same
    // files, so min/max stats are selective on x AND y AND t
    val grid = (for (x <- 0L until 16L; y <- 0L until 16L; t <- 0L until 16L)
      yield (x, y, t, x * 256 + y * 16 + t)).toDF("x", "y", "t", "payload")
    runOne { d =>
      d.add(srcNode(grid)) >>
        new ZOrderNode("x", "y", partitions = Some(16), keepKey = false,
          colC = Some("t")) >>
        new SinkNode(root, atomicPublish = true, statsColumns = Seq("x", "y", "t")) >>
        d.output("result")
    }
    val all = new SourceNode(root).transform(c, In.empty)("result")
    assert(all.inputFiles.length == 16)
    // a 4x4x4 box (64 of 4096 points): a 3-D layout holds it in O(1) files
    val boxed = new StatsPrunedSourceNode(root, pruneCols = Seq("x", "y", "t"),
      pruneLos = Seq(Some("4"), Some("8"), Some("4")),
      pruneHis = Seq(Some("7"), Some("11"), Some("7")))
      .transform(c, In.empty)("result")
    assert(boxed.count() == 64)
    assert(boxed.inputFiles.length <= 4,
      s"a 1.6%-selective 3-D box over a morton3 layout must prune most of " +
        s"16 files, opened ${boxed.inputFiles.length}")
    // each SINGLE-dimension slab also prunes (the z-curve preserves
    // locality in every dimension, not just the leading one)
    Seq("x", "y", "t").foreach { dim =>
      val slab = new StatsPrunedSourceNode(root, pruneCols = Seq(dim),
        pruneLos = Seq(Some("0")), pruneHis = Seq(Some("3")))
        .transform(c, In.empty)("result")
      assert(slab.count() == 1024)
      assert(slab.inputFiles.length < 16,
        s"$dim-slab must skip at least some files, opened ${slab.inputFiles.length}")
    }
  }

  test("GroupEmaNode: integer EMA recurrence per key, order + tie respected, floorDiv on negatives") {
    val rows = Seq(
      (1L, 1L, 10L, 100L), (1L, 2L, 20L, 200L), (1L, 3L, 30L, -100L),
      (2L, 1L, 40L, 50L),
      // user 3: same order value — tie column decides v=0 comes first
      (3L, 1L, 50L, 0L), (3L, 2L, 50L, 100L),
    ).toDF("k", "tie", "o", "v")
    val out = runOne { d =>
      d.add(srcNode(rows)) >> new GroupEmaNode(Seq("k"), "o", "tie", "v", alphaPct = 20) >>
        d.output("result")
    }.selectExpr("k", "__t as tie", "ema").as[(Long, Long, Long)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    // k=1: 100; (20*200+80*100)/100 = 120; floorDiv(20*-100+80*120, 100) = floorDiv(7600,100) = 76
    // k=3: first (tie 1) v=0 -> 0; then (20*100+0)/100 = 20
    assert(out == Seq((1L, 1L, 100L), (1L, 2L, 120L), (1L, 3L, 76L),
      (2L, 1L, 50L), (3L, 1L, 0L), (3L, 2L, 20L)))
  }

  test("image codec: real PNG roundtrip matches the pixel formula; corrupt payloads yield nulls") {
    import MultimodalSchemas.{pxB, pxG, pxR}
    val df = Seq((0L, "x"), (1L, "y")).toDF("doc_id", "text")
    val out = runOne { d =>
      d.add(srcNode(df)) >>
        new SyntheticImageNode("4 + cast(doc_id as int)", "3", "cast(doc_id * 7 as int)") >>
        new DecodeImageNode() >>
        d.output("result")
    }.selectExpr("doc_id", "image_meta.width", "image_meta.height", "image_meta.channels",
        "image_meta.format", "image_sums")
      .as[(Long, Int, Int, Int, String, Array[Long])].collect().sortBy(_._1)
    out.foreach { case (id, w, h, ch, fmt, sums) =>
      assert(w == 4 + id.toInt && h == 3 && ch == 3 && fmt == "png")
      val s = id.toInt * 7
      val px = for { y <- 0 until h; x <- 0 until w } yield (pxR(x, y, s), pxG(x, y, s), pxB(x, y, s))
      assert(sums.toSeq == Seq(px.map(_._1.toLong).sum, px.map(_._2.toLong).sum, px.map(_._3.toLong).sum),
        "decoded raster must reproduce the synthesis formula exactly (lossless PNG roundtrip)")
    }
    // corrupt payload: decode keeps the row with null meta/sums
    val bad = runOne { d =>
      d.add(srcNode(Seq((1L, "not a png")).toDF("doc_id", "text"))) >>
        new BinaryPayloadNode("text") >>
        new DecodeImageNode() >>
        d.output("result")
    }.selectExpr("doc_id", "image_meta is null", "image_sums is null")
      .as[(Long, Boolean, Boolean)].collect().toSeq
    assert(bad == Seq((1L, true, true)))
  }

  test("ResizeImageNode: nearest-neighbor floor mapping, re-encoded PNG decodes to mapped pixels") {
    import MultimodalSchemas.{pxB, pxG, pxR}
    val out = runOne { d =>
      d.add(srcNode(Seq(Tuple1(0L)).toDF("doc_id"))) >>
        new SyntheticImageNode("8", "6", "5") >>
        new ResizeImageNode(2, 2) >>
        new DecodeImageNode("resized", "r") >>
        d.output("result")
    }.selectExpr("r_meta.width", "r_meta.height", "r_sums").as[(Int, Int, Array[Long])]
      .collect().head
    assert(out._1 == 2 && out._2 == 2)
    // target (x, y) <- source (x*8/2, y*6/2): exactly (0,0),(4,0),(0,3),(4,3)
    val src = Seq((0, 0), (4, 0), (0, 3), (4, 3))
    assert(out._3.toSeq == Seq(
      src.map { case (x, y) => pxR(x, y, 5).toLong }.sum,
      src.map { case (x, y) => pxG(x, y, 5).toLong }.sum,
      src.map { case (x, y) => pxB(x, y, 5).toLong }.sum))
  }

  test("AudioChunkNode: RIFF chunk walk, partial last chunk, cap; non-WAV rejected") {
    import MultimodalSchemas.pcm
    val out = runOne { d =>
      d.add(srcNode(Seq(Tuple1(0L)).toDF("doc_id"))) >>
        new SyntheticAudioNode("250", "9", sampleRate = 1000) >>
        new AudioChunkNode(chunkMs = 100, maxChunks = 8) >>
        d.output("result")
    }.selectExpr("chunk_idx", "chunk_start_ms", "n_samples", "abs_sum")
      .as[(Int, Long, Int, Long)].collect().sortBy(_._1).toSeq
    // 250 samples @ 1000 Hz, 100 ms chunks -> 100 + 100 + 50
    assert(out.map(r => (r._1, r._2, r._3)) == Seq((0, 0L, 100), (1, 100L, 100), (2, 200L, 50)))
    def absSum(lo: Int, hi: Int) = (lo until hi).map(i => math.abs(pcm(i, 9)).toLong).sum
    assert(out.map(_._4) == Seq(absSum(0, 100), absSum(100, 200), absSum(200, 250)))
    // header walk, not byte-44 assumption: parseWav handles an extra chunk
    // before data, rejects stereo and truncated payloads
    val mono = {
      val base = runOne { d =>
        d.add(srcNode(Seq(Tuple1(0L)).toDF("doc_id"))) >>
          new SyntheticAudioNode("10", "1", sampleRate = 8000) >> d.output("result")
      }.selectExpr("payload").as[Array[Byte]].collect().head
      base
    }
    assert(AudioChunkNode.parseWav(mono).contains((8000, 44, 10)))
    // inject a LIST chunk between fmt and data
    val withList = {
      val head = mono.take(36) // RIFF..fmt chunk end
      val list = "LIST".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes("US-ASCII")
      val data = mono.drop(36)
      head ++ list ++ data
    }
    assert(AudioChunkNode.parseWav(withList).contains((8000, 44 + 12, 10)))
    assert(AudioChunkNode.parseWav("RIFFjunk".getBytes("US-ASCII")).isEmpty)
    assert(AudioChunkNode.parseWav(mono.take(40)).isEmpty)
  }

  test("UnigramSurpriseNode: fixed-point mean surprise, OOV max-surprise, save/load") {
    val ref = Seq((1L, "a a b")).toDF("doc_id", "text")
    val docs = Seq((10L, "a b c")).toDF("doc_id", "text")
    val lm = new UnigramSurpriseNode()
    lm.fit(ctx, In.single("reference" -> ref))
    def score(n: UnigramSurpriseNode) =
      n.transform(ctx, In.single("df" -> docs))("result")
        .selectExpr("n_tokens", "n_oov", "mean_surprise")
        .as[(Long, Long, Long)].collect().head
    // T=3, c(a)=2, c(b)=1, c OOV -> 1:
    // (3e6/2 + 3e6/1 + 3e6/1) div 3 = (1500000+3000000+3000000) div 3
    assert(score(lm) == ((3L, 1L, 2500000L)))
    val dir = java.nio.file.Files.createTempDirectory("graft_lm").toString
    lm.saveFitted(dir)
    val lm2 = new UnigramSurpriseNode()
    lm2.loadFitted(dir)
    assert(score(lm2) == ((3L, 1L, 2500000L)))
    lm.unpersistModel()
  }

  test("LmClassifierNode: argmin routing, (mean,label) tie-break, OOV, save/load, class cap") {
    val seed = Seq((1L, "x", "a a b"), (2L, "y", "c c d")).toDF("doc_id", "lab", "text")
    val docs = Seq((10L, "a b"), (11L, "c d"), (12L, "zz zz")).toDF("doc_id", "text")
    val cls = new LmClassifierNode(labelCol = "lab")
    cls.fit(ctx, In.single("seed" -> seed))
    def route(n: LmClassifierNode) =
      n.transform(ctx, In.single("df" -> docs))("result")
        .selectExpr("doc_id", "predicted", "best_surprise", "margin")
        .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    val r = route(cls)
    // T_x=3 (a:2,b:1), T_y=3 (c:2,d:1); S=1e6
    // doc 10 "a b": x = (3e6/2 + 3e6/1) div 2 = 2250000; y = (3e6 + 3e6) div 2 = 3000000
    // doc 12 "zz zz": all-OOV in both classes -> equal means -> tie to 'x'
    assert(r(0) == ((10L, "x", 2250000L, 750000L)))
    assert(r(1) == ((11L, "y", 2250000L, 750000L)))
    assert(r(2) == ((12L, "x", 3000000L, 0L)))
    val dir = java.nio.file.Files.createTempDirectory("graft_cls").toString
    cls.saveFitted(dir)
    val cls2 = new LmClassifierNode(labelCol = "lab")
    cls2.loadFitted(dir)
    assert(route(cls2) == r)
    cls.unpersistModel()
    // class-count guard: labels are driver state
    val wide = (1L to 3L).map(i => (i, s"l$i", "w")).toDF("doc_id", "lab", "text")
    val err = intercept[graft.dag.GraftException] {
      new LmClassifierNode(labelCol = "lab", maxClasses = 2)
        .fit(ctx, In.single("seed" -> wide))
    }
    assert(err.getMessage.contains("maxClasses"))
  }

  test("TemperatureMixNode: sqrt-share copy counts match a JVM replay; zero-copy rows drop") {
    // A: 4 rows, B: 1 row; budget 5 -> s=(2,1), Z=3
    // A: num=10 den=12 -> base 0, extra iff h*12 < 10e6; B: num=5 den=3 -> base 1, extra iff h*3 < 2e6
    val rows = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "A"), (5L, "B"))
    val df = rows.toDF("doc_id", "source")
    val out = runOne { d =>
      d.add(srcNode(df)) >> new TemperatureMixNode(budget = 5L) >> d.output("result")
    }.select("doc_id", "copy").as[(Long, Long)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(dom: String, id: Long): Long = {
      val hex = md.digest(s"$dom|$id".getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 1000000L
    }
    val expect = rows.map { case (id, dom) =>
      val (num, den, base) = if (dom == "A") (10L, 12L, 0L) else (5L, 3L, 1L)
      id -> (base + (if (h(dom, id) * den < (num % den) * 1000000L) 1L else 0L))
    }.toMap
    expect.foreach { case (id, n) =>
      if (n == 0L) assert(!out.contains(id), s"doc $id must drop")
      else assert(out(id) == (1L to n), s"doc $id expected $n copies, got ${out.get(id)}")
    }
    // the banding realizes a nontrivial mix in this tiny fixture
    assert(expect.values.sum > 0)
  }

  test("TokenDriftNode: exact |p_a - p_b| integers, absent-side coalesce, (drift, tok) order") {
    val a = Seq((1L, "a a b")).toDF("doc_id", "text")
    val b = Seq((2L, "a c")).toDF("doc_id", "text")
    val out = runOne { d =>
      val dr = d.add(new TokenDriftNode(k = 10))
      d.add(srcNode(a)) >> dr("left"); d.add(srcNode(b).named("src_b")) >> dr("right")
      dr >> d.output("result")
    }.select("tok", "c_a", "c_b", "drift").as[(String, Long, Long, Long)].collect().toSeq
    // Na=3, Nb=2: a |2*2-1*3|=1 -> 166666; b |1*2-0|=2 -> 333333; c |0-3|=3 -> 500000
    assert(out == Seq(("c", 0L, 1L, 500000L), ("b", 1L, 0L, 333333L), ("a", 2L, 1L, 166666L)))
    // empty right snapshot: totals clamp to 1 — no divide-by-zero, drift = p_a * S
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out2 = runOne { d =>
      val dr = d.add(new TokenDriftNode(k = 10))
      d.add(srcNode(a)) >> dr("left"); d.add(srcNode(empty).named("src_e")) >> dr("right")
      dr >> d.output("result")
    }.select("tok", "drift").as[(String, Long)].collect().toMap
    assert(out2 == Map("a" -> 666666L, "b" -> 333333L))
  }

  test("BinaryFileSink/Source: payload files roundtrip; illegal names rejected") {
    val dir = s"/tmp/graft_bfs_${java.util.UUID.randomUUID().toString.take(8)}"
    val rows = Seq((1L, Array[Byte](1, 2, 3)), (2L, Array[Byte](9, 8))).toDF("doc_id", "payload")
    runOne { d =>
      d.add(srcNode(rows)) >>
        new BinaryFileSinkNode(dir, "concat(cast(doc_id as string), '.bin')") >>
        d.output("result")
    }.count() // sink writes eagerly at transform; count just drains
    val back = runOne { d =>
      d.add(new BinaryFileSourceNode(dir, pathGlobFilter = Some("*.bin"))) >> d.output("result")
    }.selectExpr("cast(regexp_extract(path, '([0-9]+)\\\\.bin$', 1) as bigint) as doc_id",
        "content")
      .as[(Long, Array[Byte])].collect().sortBy(_._1)
    assert(back.map(_._1).toSeq == Seq(1L, 2L))
    assert(back(0)._2.toSeq == Seq[Byte](1, 2, 3) && back(1)._2.toSeq == Seq[Byte](9, 8))
    // path traversal guard fails the job loudly
    val bad = Seq((1L, Array[Byte](1))).toDF("doc_id", "payload")
    val err = intercept[Exception] {
      runOne { d =>
        d.add(srcNode(bad)) >>
          new BinaryFileSinkNode(dir + "2", "'../evil'") >> d.output("result")
      }.count()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(err).exists(m => m != null && m.contains("illegal file name")))
  }

  test("TokenShardNode: bucketed prefix sum equals a global cumsum; bucket count irrelevant") {
    val docs = (1L to 200L).map(i => (i, 10L + i % 7)).toDF("doc_id", "ws_tokens")
    def shards(buckets: Int): Map[Long, Long] = runOne { d =>
      d.add(srcNode(docs)) >>
        new TokenShardNode(weightExpr = "ws_tokens", budget = 100L, buckets = buckets) >>
        d.output("result")
    }.select("doc_id", "shard_id").as[(Long, Long)].collect().toMap
    // ground truth: greedy packing over the global (DetHash, id) order
    val md = java.security.MessageDigest.getInstance("MD5")
    def ord(id: Long): Long = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16)
    }
    var cum = 0L
    val expect = docs.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, _) => (ord(id), id) }
      .map { case (id, w) => val s = cum / 100L; cum += w; id -> s }.toMap
    assert(shards(16) == expect)
    // decomposition is invisible: any power-of-two bucket count agrees
    assert(shards(4) == expect && shards(256) == expect)
    // shards fill to the budget, overflow bounded by one document
    val perShard = expect.groupBy(_._2).map { case (s, m) =>
      s -> m.keys.map(id => docs.collect().find(_.getLong(0) == id).get.getLong(1)).sum
    }
    assert(perShard.values.forall(_ <= 100L + 16L))
  }

  test("RankingMetricsNode: hits/first-rank/rr; zero-hit queries kept with zeros") {
    val results = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),  // q1: relevant at ranks 2,3
      (2L, 20L, 1), (2L, 21L, 2),                // q2: nothing relevant
      (3L, 30L, 1),                              // q3: relevant at rank 1
    ).toDF("query_id", "vec_id", "rank")
    val relevant = Seq((1L, 11L), (1L, 12L), (3L, 30L), (3L, 99L)).toDF("query_id", "vec_id")
    val out = runOne { d =>
      val r = d.add(srcNode(results, "r")); val t = d.add(srcNode(relevant, "t"))
      val m = d.add(new RankingMetricsNode(k = 10))
      r >> m("results"); t >> m("relevant")
      m >> d.output("result")
    }.select("query_id", "hits_at_k", "first_rank", "rr_fp")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 2L, 2L, 500000L),
      (2L, 0L, 0L, 0L),
      (3L, 1L, 1L, 1000000L)))
  }

  test("ConformSchemaNode: rename+cast+default+derived; absent-without-default errors; keepExtras") {
    val gen1 = Seq((1L, "a", 2.5)).toDF("old_id", "tag", "price")
    def conform(targets: Seq[(String, String, String)], keepExtras: Boolean = false) = runOne { d =>
      d.add(srcNode(gen1)) >> new ConformSchemaNode(targets,
        renames = Seq("old_id" -> "id"), keepExtras = keepExtras) >> d.output("result")
    }
    val out = conform(Seq(
      ("id", "bigint", null),
      ("tag", "string", null),
      ("cents", "bigint", "cast(price * 100 as bigint)"),
      ("region", "string", "'unknown'")))
    assert(out.columns.toSeq == Seq("id", "tag", "cents", "region"))
    assert(out.as[(Long, String, Long, String)].collect().head == ((1L, "a", 250L, "unknown")))
    // extras pass through only on request
    assert(conform(Seq(("id", "bigint", null)), keepExtras = true)
      .columns.toSeq == Seq("id", "tag", "price"))
    val err = intercept[GraftException](conform(Seq(("missing_col", "string", null))))
    assert(err.getMessage.contains("absent and no default"))
  }

  test("TokenShardNode: an over-budget document lands WHOLE in its start shard") {
    // one doc weighs 5x the budget — the contract says it occupies exactly
    // the shard where its start offset falls, never splits, never fails
    val rows = Seq((1L, 30L), (2L, 500L), (3L, 40L), (4L, 70L)).toDF("doc_id", "w")
    val out = runOne { d =>
      d.add(srcNode(rows)) >> new TokenShardNode(weightExpr = "w", budget = 100L,
        buckets = 16) >> d.output("result")
    }.select("doc_id", "shard_id").as[(Long, Long)].collect().toMap
    // every doc got exactly one shard id
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    // recompute greedy packing over the (DetHash, id) order
    val md = java.security.MessageDigest.getInstance("MD5")
    def ord(id: Long): Long = java.lang.Long.parseLong(
      md.digest(id.toString.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString, 16)
    var cum = 0L
    val expect = Seq(1L -> 30L, 2L -> 500L, 3L -> 40L, 4L -> 70L)
      .sortBy { case (id, _) => (ord(id), id) }
      .map { case (id, w) => val s = cum / 100L; cum += w; id -> s }.toMap
    assert(out == expect)
    // the heavy doc's SUCCESSOR starts past it (start offset div budget),
    // i.e. the overshoot shifts later shards instead of splitting the doc
    assert(out.values.toSet.size >= 2)
  }

  test("BinaryFileSinkNode: overwrite refuses a non-empty dir lacking the marker") {
    val foreign = java.nio.file.Files.createTempDirectory("graft_sink_guard_").toFile
    val precious = new java.io.File(foreign, "precious.txt")
    val fw = new java.io.FileWriter(precious); fw.write("do not delete"); fw.close()
    val rows = Seq((1L, "payload-bytes")).toDF("doc_id", "text")
    def sinkTo(dir: String) = runOne { d =>
      d.add(srcNode(rows)) >> new BinaryPayloadNode("text") >>
        new BinaryFileSinkNode(dir, "concat(cast(doc_id as string), '.bin')") >>
        d.output("result")
    }.count()
    val err = intercept[GraftException](sinkTo(foreign.getAbsolutePath))
    assert(err.getMessage.contains("marker"))
    assert(precious.exists()) // nothing was deleted
    // a dir the sink created carries the marker -> overwrite works repeatedly
    val owned = new java.io.File(foreign, "owned")
    assert(sinkTo(owned.getAbsolutePath) == 1L)
    assert(new java.io.File(owned, BinaryFileSinkNode.Marker).exists())
    assert(sinkTo(owned.getAbsolutePath) == 1L) // second overwrite passes the guard
  }

  test("MinHashIndexNode: watermark-less streaming delta refused; opt-in allows; watermark bounds state") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_guard_").toString
    longDocs.withColumn("ts", expr("timestamp_seconds(1700000000 + doc_id)"))
      .write.mode("overwrite").parquet(s"$dir/delta.parquet")
    def buildDag(node: MinHashIndexNode, watermark: Boolean): Dag = {
      val d = new Dag()
      val corpus = d.add(srcNode(longDocs, "corpus"))
      val src = d.add(new StreamSourceNode(s"$dir/delta.parquet", statePartitions = Some(2)))
      val tip: Node = if (watermark) src >> new WatermarkNode("ts", "1 hour") else src
      val relabel = tip >> ProjectNode(
        Seq("doc_id + 100 as doc_id", "text") ++ (if (watermark) Seq("ts") else Nil): _*)
        .named("relabel")
      corpus >> node("corpus"); relabel >> node("delta")
      node >> ProjectNode("delta_id", "base_id") >>
        new StreamRunNode(s"guard_sink_${System.nanoTime()}") >>
        d.output("result")
      d
    }
    // default: no watermark -> fail fast at plan time with the state warning
    val strict = new MinHashIndexNode(jaccardThreshold = 1.0, maxBucket = 100000)
    val d1 = buildDag(strict, watermark = false)
    val err = intercept[GraftException] { d1.fit(ctx); d1.transform(ctx) }
    assert(err.getMessage.contains("watermark"))
    // watermarked delta: runs via dropDuplicatesWithinWatermark, same pairs
    val wm = new MinHashIndexNode(jaccardThreshold = 1.0, maxBucket = 100000)
    val d2 = buildDag(wm, watermark = true)
    d2.fit(ctx)
    val pairs = d2.transform(ctx).outputs("result")
      .select("delta_id", "base_id").as[(Long, Long)].collect().toSet
    // relabeled exact copies of docs 1/2 (identical text) match their bases
    assert(pairs.contains((101L, 1L)) && pairs.contains((102L, 1L)))
  }

  test("MinHashIndexNode: compactEvery bounds index plan depth across generations") {
    def planLines(df: DataFrame): Int =
      df.queryExecution.analyzed.numberedTreeString.linesIterator.size
    def grow(compactEvery: Int, gens: Int): Int = {
      val node = new MinHashIndexNode(jaccardThreshold = 1.0, maxBucket = 100000,
        compactEvery = compactEvery)
      val d = new Dag()
      val corpus = d.add(srcNode(longDocs, "corpus"))
      val delta = d.add(srcNode(longDocs.selectExpr("doc_id + 1000 as doc_id", "text"), "delta"))
      corpus >> node("corpus"); delta >> node("delta")
      node >> d.output("result")
      d.fit(ctx)
      (1 to gens).foreach { g =>
        node.updateIndex(ctx,
          longDocs.selectExpr(s"doc_id + ${2000 + g * 10} as doc_id", "text"))
      }
      val lines = planLines(node.model.get.shingles)
      node.unpersistIndex()
      lines
    }
    val unbounded = grow(compactEvery = 0, gens = 4)
    val compacted = grow(compactEvery = 2, gens = 4)
    // 4 generations uncompacted = 4 stacked unions; compacted = parquet scan
    assert(compacted < unbounded,
      s"expected compaction to shrink the plan ($compacted vs $unbounded lines)")
    // and the compacted plan stays flat as generations double
    val compacted8 = grow(compactEvery = 2, gens = 8)
    assert(compacted8 <= compacted + 8, // at most the one uncompacted tail union
      s"compacted plan grew with generations: $compacted8 vs $compacted")
  }

  test("MinHashIndexNode: fixed compactPath survives repeated compactions (double-buffer)") {
    // ADVICE r7: with a configured compactPath the SECOND compaction used to
    // overwrite the directory the live plan was reading from and Spark threw
    // 'Cannot overwrite a path that is also being read from'. gens = 2x
    // compactEvery triggers two compactions against the same root.
    val root = java.nio.file.Files.createTempDirectory("graft_compact_fixed_")
    root.toFile.deleteOnExit()
    val node = new MinHashIndexNode(jaccardThreshold = 1.0, maxBucket = 100000,
      compactEvery = 2, compactPath = Some(root.toString))
    val d = new Dag()
    val corpus = d.add(srcNode(longDocs, "corpus"))
    val delta = d.add(srcNode(longDocs.selectExpr("doc_id + 1000 as doc_id", "text"), "delta"))
    corpus >> node("corpus"); delta >> node("delta")
    node >> d.output("result")
    d.fit(ctx)
    val baseRows = node.model.get.shingles.count()
    (1 to 4).foreach { g => // compactions fire at generations 2 and 4
      node.updateIndex(ctx,
        longDocs.selectExpr(s"doc_id + ${5000 + g * 10} as doc_id", "text"))
    }
    // index is a parquet scan of the freshest buffer and content is intact:
    // base + 4 delta generations of the same corpus
    assert(node.model.get.shingles.count() == baseRows + 4 * longDocs.count())
    node.unpersistIndex()
  }

  test("HistogramNode: a group whose values are ALL null still emits its bins + n_null") {
    val rows = Seq(("a", Some(1.0)), ("a", Some(3.0)), ("b", None), ("b", None))
      .toDF("g", "v")
    val out = runOne { d =>
      d.add(srcNode(rows)) >> new HistogramNode("v", 0.0, 4.0, nBins = 2,
        groupCols = Seq("g")) >> d.output("result")
    }.select("g", "bin", "n", "n_null")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(out == Set(
      ("a", 0L, 1L, 0L), ("a", 1L, 1L, 0L),
      ("b", 0L, 0L, 2L), ("b", 1L, 0L, 2L)))
  }

  test("RankingMetricsNode: duplicated relevance pairs do not inflate hits_at_k") {
    val results = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("query_id", "vec_id", "rank")
    val relevant = Seq((1L, 10L), (1L, 10L), (1L, 10L)).toDF("query_id", "vec_id")
    val out = runOne { d =>
      val r = d.add(srcNode(results, "r")); val t = d.add(srcNode(relevant, "t"))
      val m = d.add(new RankingMetricsNode(k = 10))
      r >> m("results"); t >> m("relevant")
      m >> d.output("result")
    }.select("hits_at_k", "first_rank").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 1L)))
  }

  test("SyntheticImageNode: clear error on null/non-positive dims; __w input column survives") {
    // pre-existing __w column must NOT be clobbered by the temp columns
    val withW = Seq((1L, 42)).toDF("doc_id", "__w")
    val ok = runOne { d =>
      d.add(srcNode(withW)) >> new SyntheticImageNode("8", "8", "0") >> d.output("result")
    }
    assert(ok.columns.toSeq == Seq("doc_id", "__w", "payload"))
    assert(ok.select("__w").as[Int].head() == 42)
    // null / non-positive inputs raise a GraftException naming the expr
    def gen(w: String) = runOne { d =>
      d.add(srcNode(Seq(Tuple1(1L)).toDF("doc_id"))) >>
        new SyntheticImageNode(w, "8", "0") >> d.output("result")
    }.count()
    def rootMsgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ rootMsgs(e.getCause))
    val e1 = intercept[Exception](gen("cast(null as int)"))
    assert(rootMsgs(e1).exists(_.contains("non-null")))
    val e2 = intercept[Exception](gen("-4"))
    assert(rootMsgs(e2).exists(_.contains("width > 0")))
  }

  test("SyntheticAviNode/FrameSampleNode: real RIFF/AVI roundtrip — counts, timing, byte sums") {
    // direct writer/parser roundtrip, including an odd-sized frame (pad byte)
    val avi = SyntheticAviNode.buildAvi(nFrames = 5, w = 5, h = 5, s = 7, fps = 25)
    val Some((usPerFrame, frames)) = FrameSampleNode.parseAvi(avi)
    assert(usPerFrame == 40000L) // 1e6 / 25
    assert(frames.size == 5)
    assert(frames.forall(_._2 == 75)) // 5*5*3, odd → pad byte NOT in the frame
    // frame 2 byte sum matches the formula
    val (off2, sz2) = frames(2)
    val expect2 = (0 until 75).map(j => MultimodalSchemas.frameByte(2, j, 7)).sum
    assert((0 until sz2).map(i => avi(off2 + i) & 0xFF).sum == expect2)
    // junk is skipped: corrupt / non-AVI payloads emit no rows
    assert(FrameSampleNode.parseAvi("not an avi at all".getBytes).isEmpty)
    assert(FrameSampleNode.parseAvi(null).isEmpty)
    // through the nodes: stride/maxFrames sampling + container timestamps
    val rows = Seq((1L, 6), (2L, 1)).toDF("doc_id", "nf")
    val out = runOne { d =>
      d.add(srcNode(rows)) >> new SyntheticAviNode("nf", "4", "4", "cast(doc_id as int)", fps = 10) >>
        new FrameSampleNode(stride = 2, maxFrames = 2) >> d.output("result")
    }.select("doc_id", "frame_idx", "frame_ts_ms", "frame_bytes")
      .as[(Long, Int, Long, Int)].collect().toSet
    assert(out == Set(
      (1L, 0, 0L, 48), (1L, 2, 200L, 48), // doc1: frames 0,2 (maxFrames=2 stops before 4)
      (2L, 0, 0L, 48)))                   // doc2: single frame
  }

  test("IvfQuantizedKnnNode: probe-all+rerank-all == brute force; bounded rerank returns k") {
    val corpus = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 7 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = (0 until 3).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.cos(i * 5 + j).toFloat))
    }.toDF("query_id", "embedding")
    def run2(node: Node): Seq[(Long, Long, Int)] = {
      val d = new Dag()
      val c = d.add(srcNode(corpus, "corpus")); val q = d.add(srcNode(queries, "queries"))
      c >> node("corpus"); q >> node("queries")
      node >> ProjectNode("query_id", "vec_id", "rank") >> d.output("result")
      d.fit(ctx)
      d.transform(ctx).outputs("result").as[(Long, Long, Int)].collect().toSeq.sorted
    }
    val brute = run2(new BruteForceKnnNode(k = 5))
    val identity = run2(new IvfQuantizedKnnNode(k = 5, nClusters = 4, nProbe = 4,
      rerank = 1000000))
    assert(identity == brute) // nothing truncated -> exact
    // production config: k rows per query, all from the probed/reranked pool
    val prod = run2(new IvfQuantizedKnnNode(k = 5, nClusters = 4, nProbe = 2, rerank = 8))
    assert(prod.groupBy(_._1).forall(_._2.size == 5))
    assert(prod.forall { case (_, _, r) => r >= 1 && r <= 5 })
  }

  test("CompactFilesNode: rewrites to target file count, commits atomically, " +
       "skipIfCompact no-ops, coalesce path content-neutral") {
    import spark.implicits._
    val rows = (0L until 200L).map(i => (i, s"payload_$i")).toDF("id", "payload")
    val root = java.nio.file.Files.createTempDirectory("graft_compact_spec").toString + "/ds"
    rows.repartition(20).write.mode("overwrite").parquet(root)
    def dataFiles(dir: String): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, false)
      val out = scala.collection.mutable.ArrayBuffer[String]()
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith(".")) out += f.getPath.getName
      }
      out.toSeq
    }
    assert(dataFiles(root).size == 20)
    val c = Ctx(spark)
    def runCompact(node: CompactFilesNode): Set[(Long, String)] =
      node.transform(c, In.empty)("result").as[(Long, String)].collect().toSet
    val expect = rows.as[(Long, String)].collect().toSet
    // compaction: 20 tiny files -> 1 (everything fits one target-sized file),
    // committed as gen-1 with the manifest pointing at it
    assert(runCompact(new CompactFilesNode(root, targetFileBytes = 1L << 30)) == expect)
    assert(AtomicPublish.currentGen(spark, root).contains(1L))
    assert(dataFiles(s"$root/gen-1").size == 1)
    assert(dataFiles(root).size == 20) // originals retained as rollback
    // idempotent maintenance: already compact -> no new generation
    assert(runCompact(new CompactFilesNode(root, targetFileBytes = 1L << 30,
      skipIfCompact = true)) == expect)
    assert(AtomicPublish.currentGen(spark, root).contains(1L))
    // shuffle-free coalesce path, recompaction bumps the generation
    assert(runCompact(new CompactFilesNode(root, targetFileBytes = 1L << 30,
      shuffle = false)) == expect)
    assert(AtomicPublish.currentGen(spark, root).contains(2L))
    // SourceNode resolves to the committed generation
    val viaSource = new SourceNode(root).transform(c, In.empty)("result")
    assert(viaSource.as[(Long, String)].collect().toSet == expect)
  }

  test("ClusterIndexNode: delta bridge merges two base components to the global min; " +
       "new nodes and singletons handled; save/load round-trips; streamed delta matches") {
    import spark.implicits._
    val c = Ctx(spark)
    def pairs(ps: (Long, Long)*): DataFrame = ps.toDF("id_a", "id_b")
    val base = pairs((1L, 2L), (10L, 11L)) // comps {1,2} and {10,11}
    // delta: a BRIDGE (2-10) merging the two base comps, a brand-new comp
    // (20-21), and a new node attaching to a base comp (11-30)
    val delta = pairs((2L, 10L), (20L, 21L), (11L, 30L))
    val queries = Seq(1L, 2L, 10L, 11L, 20L, 21L, 30L, 99L).toDF("doc_id")
    val expect = Set((1L, 1L), (2L, 1L), (10L, 1L), (11L, 1L),
      (20L, 20L), (21L, 20L), (30L, 1L), (99L, 99L))
    def mapping(n: ClusterIndexNode): Set[(Long, Long)] =
      n.transform(c, In.single("queries" -> queries))("result")
        .as[(Long, Long)].collect().toSet
    val idx = new ClusterIndexNode(compactEvery = 1) // exercise compaction too
    idx.fit(c, In.single("pairs" -> base))
    assert(mapping(idx) == Set((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 21L), (30L, 30L), (99L, 99L)))
    idx.updateIndex(c, delta)
    assert(mapping(idx) == expect)
    val dir = java.nio.file.Files.createTempDirectory("graft_cluster_spec").toString
    idx.saveFitted(dir)
    val idx2 = new ClusterIndexNode()
    idx2.loadFitted(dir, Some(spark))
    assert(mapping(idx2) == expect)
    // streamed delta through the shared maintenance driver == batch update
    val streamed = new ClusterIndexNode()
    streamed.fit(c, In.single("pairs" -> base))
    delta.repartition(2).write.mode("overwrite").parquet(s"$dir/delta")
    val ds = spark.readStream.schema("id_a LONG, id_b LONG")
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/delta")
    IndexMaintenance.maintainFromStream(streamed, c, ds)
    assert(mapping(streamed) == expect)
    Seq(idx, idx2, streamed).foreach(_.unpersistIndex())
  }

  test("ClusterIndexNode: String ids and null delta endpoints label exactly like " +
       "one-shot ConnectedComponentsNode over the union graph") {
    val c = Ctx(spark)
    def labels(df: DataFrame): Map[Any, Any] = df.collect().map(r => r.get(0) -> r.get(1)).toMap
    // fit -> update -> optional delete, against one-shot CC over base ∪
    // delta with unknown and deleted ids answering as themselves
    def check(base: DataFrame, delta: DataFrame, queries: DataFrame,
              dels: Option[DataFrame]): Map[Any, Any] = {
      val idx = new ClusterIndexNode()
      idx.fit(c, In.single("pairs" -> base))
      idx.updateIndex(c, delta)
      dels.foreach(idx.deleteFromIndex(c, _))
      val got = labels(idx.transform(c, In.single("queries" -> queries))("result"))
      idx.unpersistIndex()
      val cc = labels(new ConnectedComponentsNode()
        .transform(c, In.single("pairs" -> base.union(delta)))("result"))
      val deleted = dels.fold(Set.empty[Any])(_.collect().map(_.get(0)).toSet)
      val want = queries.collect().map(_.get(0))
        .map(q => q -> (if (deleted(q)) q else cc.getOrElse(q, q))).toMap
      assert(got == want)
      got
    }
    // String ids: a bridge merging two base components, a new component,
    // a new node attaching to a base component, then a delete. "\uFF61x"
    // sorts before the emoji id in Spark's UTF-8 byte order but after it in
    // Java's UTF-16 order: the label must follow Spark's order, as CC's min
    val (hw, emoji) = ("\uFF61x", "\uD83D\uDE00x")
    val strs = check(
      Seq(("a1", "a2"), ("b1", "b2"), (hw, "\uFF62y")).toDF("id_a", "id_b"),
      Seq(("a2", "b1"), ("c1", "c2"), ("b2", "d1"), (emoji, "\uFF62y")).toDF("id_a", "id_b"),
      Seq("a1", "a2", "b1", "b2", "c1", "c2", "d1", hw, "\uFF62y", emoji, "zz").toDF("doc_id"),
      Some(Seq("b2").toDF("doc_id")))
    assert(strs("d1") == "a1" && strs("b2") == "b2" && strs("c2") == "c1" && strs(emoji) == hw)
    // null endpoints in the delta join nothing; their other endpoint stays
    // (or becomes) a singleton unless another edge connects it
    def opt(ps: (Option[Long], Option[Long])*): DataFrame = ps.toDF("id_a", "id_b")
    val nulls = check(
      opt((Some(1L), Some(2L)), (Some(3L), Some(4L))),
      opt((Some(2L), Some(3L)), (Some(5L), None), (None, Some(6L)), (None, None),
        (Some(4L), None)),
      (1L to 7L).toDF("doc_id"), None)
    assert(nulls == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 6L, 7L -> 7L))
  }

  test("CompactFilesNode partitionBy: re-layout into hive partitions, content-neutral; " +
       "SourceNode generation pin reads superseded history") {
    import spark.implicits._
    val c = Ctx(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_relayout_spec").toString
    val root = s"$work/ds"
    val rows = (0L until 100L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
    rows.repartition(10).write.parquet(root)
    val out = new CompactFilesNode(root, targetFileBytes = 1L << 30,
      partitionBy = Seq("grp")).transform(c, In.empty)("result")
    assert(out.selectExpr("id", "grp").as[(Long, String)].collect().toSet ==
      rows.as[(Long, String)].collect().toSet)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("g0", "g1", "g2").foreach { g =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/gen-1/grp=$g")),
        s"expected hive partition dir grp=$g")
    }
    // history pin: a refresh commits gen-2 with FEWER rows; the manifest
    // reader sees it while generation = 1 still reads the full layout
    new SinkNode(root, atomicPublish = true).transform(c,
      In.single("df" -> rows.filter("grp != 'g0'")))
    val cur = new SourceNode(root).transform(c, In.empty)("result")
    assert(cur.count() == rows.filter("grp != 'g0'").count())
    val pinned = new SourceNode(root, generation = Some(1L))
      .transform(c, In.empty)("result")
    assert(pinned.selectExpr("id", "grp").as[(Long, String)].collect().toSet ==
      rows.as[(Long, String)].collect().toSet)
  }

  test("CdcApply.applyStream: batches apply in order (insert -> update -> delete), " +
       "one committed generation each; redelivered batches are skipped via the in-gen marker") {
    import spark.implicits._
    val c = Ctx(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_cdc_spec").toString
    val root = s"$work/ds"
    // gen-1: base {1, 2, 3} published atomically
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    new SinkNode(root, atomicPublish = true)
      .transform(c, In.single("df" -> base))
    assert(AtomicPublish.currentGen(spark, root).contains(1L))
    // three ORDERED micro-batches: insert 100 -> update 100 -> delete 1.
    // The final value of key 100 ("second") exists only if batch 1 applied
    // AFTER batch 0 — the cross-batch sequencing contract. Mod times are
    // pinned explicitly (file-stream ordering is by timestamp, and rapid
    // writes can land in the same millisecond).
    val updDir = s"$work/upd"
    val batches = Seq(
      Seq((100L, "first", false)), Seq((100L, "second", false)), Seq((1L, "x", true)))
    val fs = new org.apache.hadoop.fs.Path(updDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    batches.zipWithIndex.foreach { case (rows, i) =>
      val f = s"$updDir/b$i"
      rows.toDF("id", "v", "is_delete").coalesce(1).write.parquet(f)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(f), false)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile) fs.setTimes(st.getPath, 1700000000000L + i * 60000L, -1)
      }
    }
    def stream = spark.readStream
      .schema("id LONG, v STRING, is_delete BOOLEAN")
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .option("recursiveFileLookup", "true")
      .parquet(updDir)
    val merge = new MergeNode(keys = Seq("id"), deleteCol = Some("is_delete"))
    CdcApply.applyStream(c, root, stream, merge, checkpoint = Some(s"$work/ckpt"))
    def state(): Set[(Long, String)] =
      new SourceNode(root).transform(c, In.empty)("result")
        .as[(Long, String)].collect().toSet
    val expect = Set((2L, "b"), (3L, "c"), (100L, "second"))
    assert(state() == expect)
    assert(AtomicPublish.currentGen(spark, root).contains(4L)) // 1 base + 3 batches
    // crash-replay drill: a fresh checkpoint redelivers batch ids 0..2; the
    // committed generation's marker must skip them all — no new generation,
    // no resurrected key 1, no downgraded key 100
    CdcApply.applyStream(c, root, stream, merge, checkpoint = Some(s"$work/ckpt2"))
    assert(state() == expect)
    assert(AtomicPublish.currentGen(spark, root).contains(4L))
  }

  test("MorCdc.applyStream: overlays are O(delta), MorSourceNode equals the copy-on-write " +
       "result, mid-stream compaction folds, crash tmp ignored, replays skipped") {
    import spark.implicits._
    val c = Ctx(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_mor_spec").toString
    val root = s"$work/ds"
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    new SinkNode(root, atomicPublish = true).transform(c, In.single("df" -> base))
    // same ordered micro-batches as the CdcApply drill: insert 100 ->
    // update 100 -> delete 1 (batch 1 must apply after batch 0)
    val updDir = s"$work/upd"
    val batches = Seq(
      Seq((100L, "first", false)), Seq((100L, "second", false)), Seq((1L, "x", true)))
    val fs = new org.apache.hadoop.fs.Path(updDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    batches.zipWithIndex.foreach { case (rows, i) =>
      val f = s"$updDir/b$i"
      rows.toDF("id", "v", "is_delete").coalesce(1).write.parquet(f)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(f), false)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile) fs.setTimes(st.getPath, 1700000000000L + i * 60000L, -1)
      }
    }
    def stream = spark.readStream
      .schema("id LONG, v STRING, is_delete BOOLEAN")
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .option("recursiveFileLookup", "true")
      .parquet(updDir)
    val merge = new MergeNode(keys = Seq("id"), deleteCol = Some("is_delete"))
    // compactEvery = 2: batches 0+1 fold into gen-2 mid-stream; batch 2
    // stays an outstanding overlay on gen-2
    MorCdc.applyStream(c, root, stream, merge, compactEvery = 2,
      checkpoint = Some(s"$work/ckpt"))
    def live(): Set[(Long, String)] =
      new MorSourceNode(root, keys = Seq("id")).transform(c, In.empty)("result")
        .as[(Long, String)].collect().toSet
    val expect = Set((2L, "b"), (3L, "c"), (100L, "second"))
    assert(live() == expect)
    assert(AtomicPublish.currentGen(spark, root).contains(2L),
      "one compaction, not one generation per batch")
    assert(AtomicPublish.listDeltas(spark, root).map(_._1) == Seq(2L),
      "batch 2 must remain the single outstanding overlay")
    // a PLAIN SourceNode reads the consistent-but-stale compacted base:
    // batches 0+1 folded in, batch 2's delete of key 1 not yet visible
    val stale = new SourceNode(root).transform(c, In.empty)("result")
      .as[(Long, String)].collect().toSet
    assert(stale == expect + ((1L, "a")))
    // crash drill: a half-written overlay (dot-tmp dir) is invisible
    val junk = new org.apache.hadoop.fs.Path(s"$root/gen-2/_deltas/.tmp-99")
    fs.mkdirs(junk)
    Seq((999L, "junk", false)).toDF("id", "v", MorCdc.DeletedCol)
      .write.mode("overwrite").parquet(junk.toString)
    assert(live() == expect)
    assert(AtomicPublish.listDeltas(spark, root).map(_._1) == Seq(2L))
    // replay drill: a fresh checkpoint redelivers batch ids 0..2 — the
    // compacted marker covers 0..1 and the committed delta-2 dir covers 2
    MorCdc.applyStream(c, root, stream, merge, compactEvery = 2,
      checkpoint = Some(s"$work/ckpt2"))
    assert(live() == expect)
    assert(AtomicPublish.currentGen(spark, root).contains(2L))
    assert(AtomicPublish.listDeltas(spark, root).map(_._1) == Seq(2L))
    // broadcast-safety guard: a read over more overlays than maxDeltas
    // fails loudly toward compaction instead of degrading quietly
    val guard = intercept[GraftException] {
      new MorSourceNode(root, keys = Seq("id"), maxDeltas = 0)
        .transform(c, In.empty)
    }
    assert(guard.getMessage.contains("compact"))
  }

  test("ImageDHashNode: gradient hash fully specified (all-ones on a strict x-gradient, " +
       "known bits drop on a flattened row); nulls pass through") {
    import spark.implicits._
    val c = Ctx(spark)
    def png(build: (Int, Int) => Int, w: Int = 32, h: Int = 16): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val g = build(x, y) & 0xFF
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // A: gray value strictly increasing in x -> every luma(x) < luma(x+1)
    // comparison true -> all 64 bits set
    val a = png((x, _) => x * 7)
    // B: same gradient but source row 0 (the row grid row 0 floor-samples)
    // flattened -> exactly the top 8 bits (grid row 0) drop
    val b = png((x, y) => if (y == 0) 100 else x * 7)
    val df = Seq((1L, a), (2L, b), (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload")
    val hashed = new ImageDHashNode().transform(c, In.single("df" -> df))("result")
    val byId = hashed.select("id", "dhash").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(byId(1L).contains(-1L), s"strict gradient must hash to all-ones, got ${byId(1L)}")
    assert(byId(2L).contains(0x00FFFFFFFFFFFFFFL),
      s"flattened grid row 0 must clear exactly bits 63..56, got ${byId(2L)}")
    assert(byId(3L).isEmpty, "null payload must yield null hash")
    // Hamming(A, B) = 8: paired at maxHamming >= 8, not at 7; null excluded
    def pairs(mh: Int, mb: Int = 10000): Set[(Long, Long)] =
      new HammingNearDupNode("id", "dhash", maxHamming = mh, maxBucket = mb)
        .transform(c, In.single("df" -> hashed))("result")
        .as[(Long, Long)].collect().toSet
    assert(pairs(8) == Set((1L, 2L)))
    assert(pairs(7).isEmpty)
    // hot-bucket cap: 5 identical hashes under maxHamming=0 form one bucket
    // of 5 -> dropped whole at maxBucket=4, kept at 5
    val same = (1L to 5L).map(i => (i, 42L)).toDF("id", "dhash")
    assert(new HammingNearDupNode("id", "dhash", maxHamming = 0, maxBucket = 4)
      .transform(c, In.single("df" -> same))("result").count() == 0L)
    assert(new HammingNearDupNode("id", "dhash", maxHamming = 0, maxBucket = 5)
      .transform(c, In.single("df" -> same))("result").count() == 10L)
  }

  test("q177 oracle precondition: the 20 synthetic-image family hashes are pairwise " +
       "farther than maxHamming=3 and identical within a family") {
    import spark.implicits._
    val c = Ctx(spark)
    // two members per family (different doc ids, same seed) at q177's exact
    // parameterization — members must collide, families must stay apart
    val df = (0L until 40L).map(i => (i, ((i % 20) * 13).toInt)).toDF("doc_id", "seed")
    val hashed = new SyntheticImageNode("48", "32", "seed")
      .transform(c, In.single("df" -> df))("result")
    val out = new ImageDHashNode().transform(c, In.single("df" -> hashed))("result")
      .select("doc_id", "dhash").as[(Long, Long)].collect().toMap
    (0L until 20L).foreach { s =>
      assert(out(s) == out(s + 20L), s"family $s members must hash identically")
    }
    val fams = (0L until 20L).map(out).toIndexedSeq
    for (i <- 0 until 20; j <- i + 1 until 20) {
      val d = java.lang.Long.bitCount(fams(i) ^ fams(j))
      assert(d > 3, s"family hashes $i/$j too close (hamming $d <= 3) — " +
        "q177's no-cross-family-pair contract would be flaky")
    }
  }

  test("DHashIndexNode: fit/update/delete/save-load/streamed maintenance lifecycle; " +
       "bucket cap drops whole and rebuildIndex resurrects") {
    import spark.implicits._
    val c = Ctx(spark)
    def ledger(rows: (Long, Long)*): DataFrame = rows.toDF("doc_id", "dhash")
    def probe(idx: DHashIndexNode, rows: (Long, Long)*): Set[(Long, Long, Int)] =
      idx.transform(c, In.single("delta" -> ledger(rows: _*)))("result")
        .as[(Long, Long, Int)].collect().toSet
    val idx = new DHashIndexNode(maxHamming = 3)
    idx.fit(c, In.single("corpus" -> ledger(1L -> 0L, 3L -> -1L)))
    assert(probe(idx, 10L -> 0L) == Set((10L, 1L, 0)))
    idx.updateIndex(c, ledger(4L -> 3L)) // hamming(0, 3) = 2
    assert(probe(idx, 10L -> 0L) == Set((10L, 1L, 0), (10L, 4L, 2)))
    idx.deleteFromIndex(c, Seq(1L).toDF("doc_id"))
    val postDelete = Set((10L, 4L, 2))
    assert(probe(idx, 10L -> 0L) == postDelete)
    // save/load round-trips index AND maintenance watermark
    val dir = java.nio.file.Files.createTempDirectory("graft_dhidx_spec").toString
    idx.saveFitted(s"$dir/idx")
    val idx2 = new DHashIndexNode(maxHamming = 3)
    idx2.loadFitted(s"$dir/idx", Some(spark))
    assert(probe(idx2, 10L -> 0L) == postDelete)
    // streamed maintenance (CDC mode) reaches the same state as the batch
    // calls: upsert 4 replaced (same hash), upsert 1 re-admitted, delete 3
    val streamed = new DHashIndexNode(maxHamming = 3)
    streamed.fit(c, In.single("corpus" -> ledger(1L -> 0L, 3L -> -1L)))
    Seq((4L, 3L, false), (1L, 0L, false), (3L, -1L, true))
      .toDF("doc_id", "dhash", "is_delete")
      .coalesce(1).write.parquet(s"$dir/cdc")
    val ds = spark.readStream.schema("doc_id LONG, dhash LONG, is_delete BOOLEAN")
      .parquet(s"$dir/cdc")
    IndexMaintenance.maintainFromStream(streamed, c, ds,
      deleteCol = Some("is_delete"))
    assert(probe(streamed, 10L -> 0L) == Set((10L, 1L, 0), (10L, 4L, 2)))
    assert(probe(streamed, 11L -> -1L).isEmpty, "deleted doc 3 must not serve")
    // streaming delta at serve time is refused toward foreachBatch
    val err = intercept[GraftException] {
      streamed.transform(c, In.single("delta" ->
        ds.drop("is_delete")))
    }
    assert(err.getMessage.contains("StreamServing"))
    // bucket cap: two identical hashes under maxBucket=1 drop every bucket
    // whole; deletion alone cannot resurrect, rebuildIndex can
    val capped = new DHashIndexNode(maxHamming = 3, maxBucket = 1)
    capped.fit(c, In.single("corpus" -> ledger(1L -> 7L, 2L -> 7L)))
    assert(probe(capped, 10L -> 7L).isEmpty)
    capped.deleteFromIndex(c, Seq(2L).toDF("doc_id"))
    assert(probe(capped, 10L -> 7L).isEmpty, "dropped buckets stay dropped")
    capped.rebuildIndex()
    assert(probe(capped, 10L -> 7L) == Set((10L, 1L, 0)))
    Seq(idx, idx2, streamed, capped).foreach(_.unpersistIndex())
  }

  test("AudioFingerprintNode: exact hashes on crafted envelopes (all-ones rising, " +
       "zero flat); non-WAV null; q180 family separation precondition") {
    import spark.implicits._
    val c = Ctx(spark)
    def wav(samples: Seq[Int]): Array[Byte] = {
      val n = samples.size
      val buf = java.nio.ByteBuffer.allocate(44 + n * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + n * 2)
        .put("WAVE".getBytes("US-ASCII"))
      buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1.toShort).putShort(1.toShort).putInt(1000).putInt(2000)
        .putShort(2.toShort).putShort(16.toShort)
      buf.put("data".getBytes("US-ASCII")).putInt(n * 2)
      samples.foreach(s => buf.putShort(s.toShort))
      buf.array()
    }
    // 650 samples / 65 windows = 10 per window; amplitude = window index
    // * 100 -> energies strictly rise -> all 64 bits set; flat -> none
    val rising = wav((0 until 650).map(i => (i / 10) * 100))
    val flat = wav(Seq.fill(650)(500))
    val df = Seq((1L, rising), (2L, flat), (3L, "not a wav".getBytes))
      .toDF("id", "payload")
    val fp = new AudioFingerprintNode().transform(c, In.single("df" -> df))("result")
    val byId = fp.select("id", "afp").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(byId(1L).contains(-1L), s"rising envelope must be all-ones, got ${byId(1L)}")
    assert(byId(2L).contains(0L), s"flat envelope must be zero, got ${byId(2L)}")
    assert(byId(3L).isEmpty, "non-WAV must yield null")
    // q180 oracle precondition at its exact parameterization: 20 family
    // fingerprints pairwise farther than maxHamming=3, identical in-family
    val fam = (0L until 40L).map(i => (i, ((i % 20) * 97).toInt)).toDF("doc_id", "seed")
    val wavs = new SyntheticAudioNode("650", "seed")
      .transform(c, In.single("df" -> fam))("result")
    val hashes = new AudioFingerprintNode()
      .transform(c, In.single("df" -> wavs))("result")
      .select("doc_id", "afp").as[(Long, Long)].collect().toMap
    (0L until 20L).foreach { s =>
      assert(hashes(s) == hashes(s + 20L), s"family $s members must match")
    }
    val fams = (0L until 20L).map(hashes).toIndexedSeq
    for (i <- 0 until 20; j <- i + 1 until 20) {
      val d = java.lang.Long.bitCount(fams(i) ^ fams(j))
      assert(d > 3, s"audio families $i/$j too close (hamming $d <= 3)")
    }
  }

  test("VideoFingerprintNode: seed-0 fingerprint matches the independent reference " +
       "computation; non-AVI null; q181 family separation precondition") {
    import spark.implicits._
    val c = Ctx(spark)
    val fam = (0L until 40L).map(i => (i, ((i % 20) * 83).toInt)).toDF("doc_id", "seed")
    val avis = new SyntheticAviNode("5", "9", "5", "seed")
      .transform(c, In.single("df" -> fam))("result")
    val hashes = new VideoFingerprintNode()
      .transform(c, In.single("df" -> avis))("result")
      .select("doc_id", "vfp").as[(Long, Long)].collect().toMap
    // the seed-0 / seed-83 values were computed by an INDEPENDENT
    // implementation of the spec (integer sim over the frameByte formula +
    // the g*65/total window mapping) — a container-walk or windowing
    // divergence breaks this, not just relative ordering
    assert(hashes(0L) == 0xcd9d9b5bb3b37366L,
      f"seed-0 fingerprint diverged from reference: 0x${hashes(0L)}%016x")
    assert(hashes(1L) == 0xcd9d9b5b37377766L,
      f"seed-83 fingerprint diverged from reference: 0x${hashes(1L)}%016x")
    (0L until 20L).foreach { s =>
      assert(hashes(s) == hashes(s + 20L), s"family $s members must match")
    }
    val fams = (0L until 20L).map(hashes).toIndexedSeq
    for (i <- 0 until 20; j <- i + 1 until 20) {
      val d = java.lang.Long.bitCount(fams(i) ^ fams(j))
      assert(d > 2, s"video families $i/$j too close (hamming $d <= 2)")
    }
    // non-AVI payloads yield null
    val junk = Seq((1L, "not an avi".getBytes)).toDF("doc_id", "payload")
    val nj = new VideoFingerprintNode()
      .transform(c, In.single("df" -> junk))("result")
    assert(nj.select("vfp").collect().head.isNullAt(0))
  }

  test("q184 oracle precondition: the 20 simhash family hashes are pairwise farther " +
       "than maxHamming=3 and identical within a family") {
    import spark.implicits._
    graft.functions.VecFunctions.register(spark)
    val fams = (0 until 20).map { f =>
      val text = (1 to 30).map(i => s"f${f}_t$i").mkString(" ")
      spark.sql(s"SELECT simhash64(split('$text', ' ')) AS sh")
        .collect().head.getLong(0)
    }
    for (i <- 0 until 20; j <- i + 1 until 20) {
      val d = java.lang.Long.bitCount(fams(i) ^ fams(j))
      assert(d > 3, s"simhash families $i/$j too close (hamming $d <= 3)")
    }
    // determinism within a family is structural (identical text), but pin
    // the kernel anyway: recomputing yields the same value
    val again = spark.sql(
      s"SELECT simhash64(split('${(1 to 30).map(i => s"f0_t$i").mkString(" ")}', ' ')) AS sh")
      .collect().head.getLong(0)
    assert(again == fams(0))
  }

  test("VacuumNode: removes dangling generations / manifest tmps / overlay tmps; " +
       "keeps committed+rollback gens and committed overlays; dryRun; idempotent") {
    import spark.implicits._
    val c = Ctx(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_vacuum_spec").toString
    val root = s"$work/ds"
    val rows = (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v")
    def publish(): Unit =
      new SinkNode(root, atomicPublish = true).transform(c, In.single("df" -> rows))
    publish(); publish() // gen-1 rollback, gen-2 committed
    // a COMMITTED overlay must survive vacuum
    AtomicPublish.publishDelta(spark, root, 1L, { t =>
      Seq((1L, "upd", false)).toDF("id", "v", MorCdc.DeletedCol).write.parquet(t)
    })
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.range(3).write.parquet(s"$root/gen-9")
    fs.create(new org.apache.hadoop.fs.Path(s"$root/_MANIFEST.tmp-4"), true).close()
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/gen-2/_deltas/.tmp-7"))
    def runVacuum(n: VacuumNode): Seq[(String, String)] =
      n.transform(c, In.empty)("result").as[(String, String)].collect().toSeq
    // dryRun reports but deletes nothing
    val dry = runVacuum(new VacuumNode(root, dryRun = true))
    assert(dry == Seq(("dangling_generation", "gen-9"),
      ("manifest_tmp", "_MANIFEST.tmp-4"), ("overlay_tmp", "gen-2/.tmp-7")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/gen-9")))
    // real vacuum: same report, debris gone, live data + overlay intact
    assert(runVacuum(new VacuumNode(root)) == dry)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/gen-9")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_MANIFEST.tmp-4")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/gen-2/_deltas/.tmp-7")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/gen-1")), "rollback kept")
    assert(AtomicPublish.listDeltas(spark, root).map(_._1) == Seq(1L),
      "committed overlay must survive")
    assert(new MorSourceNode(root, keys = Seq("id"))
      .transform(c, In.empty)("result").count() == 50L)
    // idempotent: second run reports nothing
    assert(runVacuum(new VacuumNode(root)).isEmpty)
    // keepRollback = false retires the rollback generation too
    assert(runVacuum(new VacuumNode(root, keepRollback = false)) ==
      Seq(("dangling_generation", "gen-1")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/gen-1")))
  }

  test("AtomicPublish: optimistic concurrency — a held claim fences the next " +
       "generation, racing publishers never share one, loser raises loudly") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val c = Ctx(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_race_spec").toString
    val root = s"$work/ds"
    val rows = (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")
    new SinkNode(root, atomicPublish = true).transform(c, In.single("df" -> rows))
    assert(AtomicPublish.currentGen(spark, root).contains(1L))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // deterministic fence drill: another publisher holds the gen-2 claim
    assert(fs.createNewFile(new Path(s"$root/${AtomicPublish.ClaimPrefix}2")))
    val e = intercept[GraftException] {
      AtomicPublish.publish(spark, root,
        { t => rows.write.parquet(t) })
    }
    assert(e.getMessage.contains("lost the publish race"))
    assert(AtomicPublish.currentGen(spark, root).contains(1L),
      "losing publisher must not move the manifest")
    assert(!fs.exists(new Path(s"$root/gen-2")),
      "losing publisher must fail BEFORE writing any data")
    fs.delete(new Path(s"$root/${AtomicPublish.ClaimPrefix}2"), false)
    // threaded race: whatever the interleaving, no two publishers may ever
    // commit the same generation number, and any loser raises GraftException
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Long]]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 2).map { t =>
      new Thread(() => {
        gate.await()
        try outcomes.add(Right(AtomicPublish.publish(spark, root, { target =>
          rows.withColumn("writer", lit(t)).write.parquet(target)
        })))
        catch { case ex: Throwable => outcomes.add(Left(ex)) }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    val rs = outcomes.toArray(Array.empty[Either[Throwable, Long]]).toSeq
    val wins = rs.collect { case Right(g) => g }
    val losses = rs.collect { case Left(ex) => ex }
    assert(wins.nonEmpty, "at least one publisher must commit")
    assert(wins.toSet.size == wins.size,
      s"two publishers committed the SAME generation: $wins")
    assert(losses.forall(_.isInstanceOf[GraftException]),
      s"a losing publisher must raise GraftException, got $losses")
    assert(AtomicPublish.currentGen(spark, root).contains(1L + wins.size))
    // every committed generation is internally consistent (one writer only)
    wins.foreach { g =>
      val writers = spark.read.parquet(s"$root/gen-$g")
        .select("writer").distinct().collect().map(_.getInt(0)).toSeq
      assert(writers.size == 1, s"gen-$g mixes writers $writers")
    }
    // after the dust settles a sequential publish claims the next number
    val g = AtomicPublish.publish(spark, root, { t => rows.write.parquet(t) })
    assert(g == 2L + wins.size)
  }

  test("VacuumNode + crashed publisher: gen-(cur+1) and its claim are fenced " +
       "from default vacuum; reclaimNext releases them and publishing resumes") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val c = Ctx(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_reclaim_spec").toString
    val root = s"$work/ds"
    val rows = (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")
    new SinkNode(root, atomicPublish = true).transform(c, In.single("df" -> rows))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a publisher died mid-publish: claim token + half-written gen-2
    assert(fs.createNewFile(new Path(s"$root/${AtomicPublish.ClaimPrefix}2")))
    spark.range(3).write.parquet(s"$root/gen-2")
    // plus an unambiguously stale claim at a committed number
    assert(fs.createNewFile(new Path(s"$root/${AtomicPublish.ClaimPrefix}1")))
    def runVacuum(n: VacuumNode): Seq[(String, String)] =
      n.transform(c, In.empty)("result").as[(String, String)].collect().toSeq
    // default vacuum: the possibly-live next generation is UNTOUCHABLE —
    // only the stale claim at gen-1 goes (ADVICE r12: a vacuum racing a
    // publish must not delete the generation being written)
    assert(runVacuum(new VacuumNode(root)) == Seq(("stale_claim", "_CLAIM.gen-1")))
    assert(fs.exists(new Path(s"$root/gen-2")))
    assert(fs.exists(new Path(s"$root/${AtomicPublish.ClaimPrefix}2")))
    // the fence works: publish against the crashed claim fails loudly
    intercept[GraftException] {
      AtomicPublish.publish(spark, root, { t => rows.write.parquet(t) })
    }
    // explicit operator reclaim releases number and debris
    assert(runVacuum(new VacuumNode(root, reclaimNext = true)).toSet ==
      Set(("dangling_generation", "gen-2"), ("stale_claim", "_CLAIM.gen-2")))
    assert(!fs.exists(new Path(s"$root/gen-2")))
    // publishing resumes at the reclaimed number
    assert(AtomicPublish.publish(spark, root,
      { t => rows.write.parquet(t) }) == 2L)
    assert(AtomicPublish.currentGen(spark, root).contains(2L))
  }

  test("CdcApply/MorCdc applyStream: checkpoint-less re-invocation against a " +
       "root with applied batches is refused (positional-skip data loss)") {
    import spark.implicits._
    val c = Ctx(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_redrain_spec").toString
    val rows = (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")
    val merge = new MergeNode(keys = Seq("id"), deleteCol = Some("is_delete"))
    Seq((1L, "upd", false)).toDF("id", "v", "is_delete")
      .coalesce(1).write.parquet(s"$work/cdc")
    def cdcStream = spark.readStream
      .schema("id BIGINT, v STRING, is_delete BOOLEAN").parquet(s"$work/cdc")
    // every driver refuses with the same key words
    def refused(e: GraftException): Unit = {
      assert(e.getMessage.contains("POSITION"))
      assert(e.getMessage.contains("positionalReplaySkipOk"))
    }
    // --- copy-on-write root
    val cowRoot = s"$work/cow"
    new SinkNode(cowRoot, atomicPublish = true).transform(c, In.single("df" -> rows))
    // first drain (fresh root, no applied batches yet): checkpoint-less OK
    CdcApply.applyStream(c, cowRoot, cdcStream, merge)
    refused(intercept[GraftException] {
      CdcApply.applyStream(c, cowRoot, cdcStream, merge)
    })
    // explicit acknowledgment (or a checkpoint) unblocks; the renumbered
    // batch 0 is at the watermark, so the re-drain commits no generation
    val cowGen = AtomicPublish.currentGen(spark, cowRoot)
    CdcApply.applyStream(c, cowRoot, cdcStream, merge, positionalReplaySkipOk = true)
    assert(AtomicPublish.currentGen(spark, cowRoot) == cowGen)
    // --- merge-on-read root
    val morRoot = s"$work/mor"
    new SinkNode(morRoot, atomicPublish = true).transform(c, In.single("df" -> rows))
    MorCdc.applyStream(c, morRoot, cdcStream, merge, compactEvery = 0)
    refused(intercept[GraftException] {
      MorCdc.applyStream(c, morRoot, cdcStream, merge, compactEvery = 0)
    })
    val morDeltas = AtomicPublish.listDeltas(spark, morRoot)
    MorCdc.applyStream(c, morRoot, cdcStream, merge, compactEvery = 0,
      positionalReplaySkipOk = true)
    assert(AtomicPublish.listDeltas(spark, morRoot) == morDeltas)
    MorCdc.applyStream(c, morRoot, cdcStream, merge, compactEvery = 0,
      checkpoint = Some(s"$work/ckpt_mor"))
    assert(AtomicPublish.listDeltas(spark, morRoot) == morDeltas)
    // --- a maintainFromStream index
    val idx = new InvertedIndexNode(idCol = "id", textCol = "v", k = 5,
      maxDfFrac = 1.0)
    idx.fit(c, In.single("corpus" -> rows))
    IndexMaintenance.maintainFromStream(idx, c, cdcStream,
      deleteCol = Some("is_delete"))
    refused(intercept[GraftException] {
      IndexMaintenance.maintainFromStream(idx, c, cdcStream,
        deleteCol = Some("is_delete"))
    })
    val queries = Seq((100L, "upd"), (101L, "v2")).toDF("query_id", "text")
    def served: Set[(Long, Long, Long)] =
      idx.transform(c, In.single("queries" -> queries))("result")
        .select("query_id", "id", "score").as[(Long, Long, Long)].collect().toSet
    val (idxMark, idxRows) = (idx.lastAppliedBatch, served)
    assert(idxMark >= 0 && idxRows.exists(_._2 == 1L))
    IndexMaintenance.maintainFromStream(idx, c, cdcStream,
      deleteCol = Some("is_delete"), positionalReplaySkipOk = true)
    assert(idx.lastAppliedBatch == idxMark && served == idxRows)
    // a batch frame is refused by every stream driver before anything runs
    Seq[() => Any](
      () => StreamServing.serveStream(c, rows, s"$work/serve", identity),
      () => CdcApply.applyStream(c, cowRoot, rows, merge),
      () => MorCdc.applyStream(c, morRoot, rows, merge),
      () => IndexMaintenance.maintainFromStream(idx, c, rows)).foreach { f =>
      assert(intercept[GraftException](f()).getMessage.contains("needs a streaming"))
    }
    idx.unpersistIndex()
  }

  test("StatsPrunedSourceNode: file-stats pruning skips non-qualifying files, " +
       "keeps results identical to the full filtered scan; loud without stats") {
    import spark.implicits._
    val c = Ctx(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_stats_spec").toString
    val root = s"$work/ds"
    val rows = (0L until 1000L).map(i => (i, s"v$i")).toDF("id", "v")
    // range layout => disjoint per-file key ranges => selective stats
    runOne { d =>
      d.add(srcNode(rows)) >> new RepartitionNode(10, Seq("id"), range = true) >>
        new SinkNode(root, atomicPublish = true, statsColumns = Seq("id")) >>
        d.output("result")
    }
    val allFiles = new SourceNode(root).transform(c, In.empty)("result")
      .inputFiles.length
    assert(allFiles == 10)
    val pruned = new StatsPrunedSourceNode(root, pruneCols = Seq("id"),
      pruneLos = Seq(Some("100")), pruneHis = Seq(Some("199")))
      .transform(c, In.empty)("result")
    assert(pruned.inputFiles.length <= 2,
      s"a 10%-selective range over a range layout must open ~1 of 10 files, " +
        s"opened ${pruned.inputFiles.length}")
    assert(pruned.as[(Long, String)].collect().toSet ==
      rows.filter("id between 100 and 199").as[(Long, String)].collect().toSet)
    // one-sided bound + out-of-range => zero files, empty result, full schema
    val none = new StatsPrunedSourceNode(root, pruneCols = Seq("id"),
      pruneLos = Seq(Some("5000")), pruneHis = Seq(None))
      .transform(c, In.empty)("result")
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "v"))
    // TIMESTAMP-typed stats: string bounds cast against the stats column
    // type (never string-compared — '2024-02-01' > '2024-10-1' as strings)
    val tsRoot = s"$work/ts_ds"
    val tsRows = (0 until 200).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-${1 + i / 20}%02d-01 00:00:00"))
    }.toDF("id", "ts")
    runOne { d =>
      d.add(srcNode(tsRows)) >> new RepartitionNode(10, Seq("ts"), range = true) >>
        new SinkNode(tsRoot, atomicPublish = true, statsColumns = Seq("ts")) >>
        d.output("result")
    }
    val tsPruned = new StatsPrunedSourceNode(tsRoot, pruneCols = Seq("ts"),
      pruneLos = Seq(Some("2024-03-01 00:00:00")),
      pruneHis = Seq(Some("2024-04-30 00:00:00")))
      .transform(c, In.empty)("result")
    assert(tsPruned.count() == 40L) // months 3 and 4, 20 rows each
    assert(tsPruned.inputFiles.length <= 3,
      s"timestamp range must prune files, opened ${tsPruned.inputFiles.length} of 10")
    // loud refusal on a dataset published without stats
    val bare = s"$work/bare"
    new SinkNode(bare, atomicPublish = true).transform(c, In.single("df" -> rows))
    val err = intercept[GraftException] {
      new StatsPrunedSourceNode(bare, pruneCols = Seq("id"),
        pruneLos = Seq(Some("1")), pruneHis = Seq(None)).transform(c, In.empty)
    }
    assert(err.getMessage.contains("_filestats"))
    // loud refusal when outstanding MoR overlays would make the pruned
    // read serve the stale base
    AtomicPublish.publishDelta(spark, root, 1L, { t =>
      Seq((5L, "upd", false)).toDF("id", "v", MorCdc.DeletedCol).write.parquet(t)
    })
    val morErr = intercept[GraftException] {
      new StatsPrunedSourceNode(root, pruneCols = Seq("id"),
        pruneLos = Seq(Some("1")), pruneHis = Seq(None)).transform(c, In.empty)
    }
    assert(morErr.getMessage.contains("MorSourceNode"))
  }

  test("StatsPrunedSourceNode + morKeys: overlays resolve on top of the PRUNED " +
       "base — result equals MorSourceNode + filter, base files actually skipped") {
    import spark.implicits._
    val c = Ctx(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_morstats_spec").toString
    val root = s"$work/ds"
    val rows = (0L until 1000L).map(i => (i, s"v$i")).toDF("id", "v")
    runOne { d =>
      d.add(srcNode(rows)) >> new RepartitionNode(10, Seq("id"), range = true) >>
        new SinkNode(root, atomicPublish = true, statsColumns = Seq("id")) >>
        d.output("result")
    }
    // two outstanding CDC waves: an in-range update superseded by a newer
    // one, an in-range delete, an insert and an update OUTSIDE the range
    AtomicPublish.publishDelta(spark, root, 1L, { t =>
      Seq((150L, "updated_v1", false), (160L, "gone", true), (5000L, "new", false))
        .toDF("id", "v", MorCdc.DeletedCol).write.parquet(t)
    })
    AtomicPublish.publishDelta(spark, root, 2L, { t =>
      Seq((150L, "updated_v2", false), (500L, "mid", false))
        .toDF("id", "v", MorCdc.DeletedCol).write.parquet(t)
    })
    val got = new StatsPrunedSourceNode(root, pruneCols = Seq("id"),
      pruneLos = Seq(Some("100")), pruneHis = Seq(Some("199")),
      morKeys = Seq("id")).transform(c, In.empty)("result")
    val oracle = new MorSourceNode(root, keys = Seq("id"))
      .transform(c, In.empty)("result").filter("id between 100 and 199")
    val gotSet = got.as[(Long, String)].collect().toSet
    assert(gotSet == oracle.as[(Long, String)].collect().toSet)
    assert(gotSet.contains((150L, "updated_v2")), "newest overlay wins")
    assert(!gotSet.exists(_._1 == 160L), "tombstone winner drops the key")
    assert(!gotSet.exists(_._1 == 5000L) && !gotSet.exists(_._1 == 500L),
      "out-of-range overlay winners are filtered by the re-applied predicate")
    assert(gotSet.size == 99) // 100 keys in range, one deleted
    // the point of the composition: base FILES were skipped (overlay files
    // live under _deltas and are delta-sized — never worth pruning)
    val baseFiles = got.inputFiles.filterNot(_.contains("/_deltas/"))
    assert(baseFiles.length <= 2,
      s"a 10%-selective range must open ~1 of 10 base files under overlays, " +
        s"opened ${baseFiles.length}")
  }

  test("BloomPrunedSourceNode: point-lookup skipping opens only id-bearing " +
       "files, result equals the exact semi-join; MoR composition; guards") {
    import spark.implicits._
    val c = Ctx(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_bloomprune_spec").toString
    val root = s"$work/ds"
    val rows = (0L until 1000L).map(i => (i, s"v$i")).toDF("id", "v")
    runOne { d =>
      d.add(srcNode(rows)) >> new RepartitionNode(10, Seq("id"), range = true) >>
        new SinkNode(root, atomicPublish = true, bloomColumns = Seq("id"),
          bloomExpectedItems = 10000L, bloomFpp = 0.001) >>
        d.output("result")
    }
    // probe: three ids clustered in one file's range + one absent id
    val probe = Seq(120L, 125L, 130L, 99999L).toDF("pid")
    def read(n: BloomPrunedSourceNode, ids: DataFrame): DataFrame =
      n.transform(c, In.single("ids" -> ids))("result")
    val got = read(new BloomPrunedSourceNode(root, inCol = "id"), probe)
    assert(got.as[(Long, String)].collect().toSet ==
      Set((120L, "v120"), (125L, "v125"), (130L, "v130")))
    assert(got.inputFiles.length <= 3,
      s"a 3-id point probe over 10 range-laid files must open ~1, " +
        s"opened ${got.inputFiles.length}")
    // a probe whose id column is INT while the published column is BIGINT
    // must find the same rows: xxhash64 is type-sensitive, so the unc ast
    // path hashed int probes differently from the bigint blooms — every
    // file silently skipped, rows lost (ADVICE r13). The node now casts
    // probe ids to the published column's type before hashing.
    val intProbe = Seq(120, 125, 130, 7777).toDF("pid") // Int, base is Long
    assert(read(new BloomPrunedSourceNode(root, inCol = "id"), intProbe)
      .as[(Long, String)].collect().toSet ==
      Set((120L, "v120"), (125L, "v125"), (130L, "v130")))
    // empty probe: zero files, empty result, full schema
    val none = read(new BloomPrunedSourceNode(root, inCol = "id"),
      Seq.empty[Long].toDF("pid"))
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "v"))
    // merge-on-read composition: update 125, delete 130, insert 99999 —
    // all probe-relevant — as an OUTSTANDING overlay
    AtomicPublish.publishDelta(spark, root, 1L, { t =>
      Seq((125L, "upd", false), (130L, "gone", true), (99999L, "new", false))
        .toDF("id", "v", MorCdc.DeletedCol).write.parquet(t)
    })
    // keyless read against outstanding overlays refuses loudly
    val morErr = intercept[GraftException] {
      read(new BloomPrunedSourceNode(root, inCol = "id"), probe)
    }
    assert(morErr.getMessage.contains("morKeys"))
    val morGot = read(new BloomPrunedSourceNode(root, inCol = "id",
      morKeys = Seq("id")), probe)
    assert(morGot.as[(Long, String)].collect().toSet ==
      Set((120L, "v120"), (125L, "upd"), (99999L, "new")),
      "update wins, tombstone drops, overlay insert surfaces for its probe id")
    assert(morGot.inputFiles.filterNot(_.contains("/_deltas/")).length <= 3,
      "base files still skipped under outstanding overlays")
    // guards: bounded probe set; missing bloom column
    val big = intercept[GraftException] {
      read(new BloomPrunedSourceNode(root, inCol = "id", morKeys = Seq("id"),
        maxIds = 2L), probe)
    }
    assert(big.getMessage.contains("maxIds"))
    val noBloom = intercept[IllegalArgumentException] {
      read(new BloomPrunedSourceNode(root, inCol = "v", morKeys = Seq("id")), probe)
    }
    assert(noBloom.getMessage.contains("bloomColumns"))
  }

  test("MorTailNode: committed overlays stream exactly-once in commit order; " +
       "tmp debris invisible; replaying the feed reproduces the resolved view") {
    import spark.implicits._
    val c = Ctx(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_mortail_spec").toString
    val root = s"$work/ds"
    val base = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    new SinkNode(root, atomicPublish = true).transform(c, In.single("df" -> base))
    AtomicPublish.publishDelta(spark, root, 1L, { t =>
      Seq((5L, "upd", false), (7L, "gone", true))
        .toDF("id", "v", MorCdc.DeletedCol).coalesce(1).write.parquet(t)
    })
    AtomicPublish.publishDelta(spark, root, 2L, { t =>
      Seq((500L, "new", false), (5L, "upd2", false))
        .toDF("id", "v", MorCdc.DeletedCol).coalesce(1).write.parquet(t)
    })
    // crash debris must never surface in the feed
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val junk = new org.apache.hadoop.fs.Path(s"$root/gen-1/_deltas/.tmp-9")
    Seq((999L, "junk", false)).toDF("id", "v", MorCdc.DeletedCol)
      .write.mode("overwrite").parquet(junk.toString)
    assert(fs.exists(junk))
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Set[(Long, String, Boolean)])]()
    def drain(ckpt: String): Unit = {
      val tail = new MorTailNode(root, maxFilesPerTrigger = Some(1))
        .transform(c, In.empty)("result")
      val q = tail.writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          batches.add((id, b.as[(Long, String, Boolean)].collect().toSet)); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain(s"$work/ckpt")
    val got = batches.toArray(Array.empty[(Long, Set[(Long, String, Boolean)])]).toSeq
    assert(got.size == 2, s"two overlay commits must arrive as two batches, got $got")
    assert(got(0)._2 == Set((5L, "upd", false), (7L, "gone", true)),
      "first wave first — commit order")
    assert(got(1)._2 == Set((500L, "new", false), (5L, "upd2", false)))
    // exactly-once: a checkpointed re-drain redelivers nothing
    batches.clear()
    drain(s"$work/ckpt")
    assert(batches.isEmpty, "checkpointed tail must not redeliver absorbed overlays")
    // applying the feed over the base reproduces the resolved MoR view
    val all = got.flatMap { case (id, rows) => rows.map(r => (id, r)) }
    val lastPerKey = all.groupBy(_._2._1).map { case (_, vs) => vs.maxBy(_._1)._2 }
    val applied = base.as[(Long, String)].collect().toSet
      .filterNot(r => lastPerKey.exists(_._1 == r._1)) ++
      lastPerKey.filterNot(_._3).map(r => (r._1, r._2))
    val resolved = new MorSourceNode(root, keys = Seq("id"))
      .transform(c, In.empty)("result").as[(Long, String)].collect().toSet
    assert(applied == resolved, "the change feed must reconstruct the live view")
  }

  test("MergeNode(allowEvolution): copy-on-write twin of the MoR evolution gate — " +
       "evolved updates merge with base rows null-filled; partial payloads and " +
       "ungated extras stay refused") {
    import spark.implicits._
    val c = Ctx(spark)
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val evolved = Seq((2L, "b2", 0.7, false), (9L, "new", 0.1, false))
      .toDF("id", "v", "q", "is_delete")
    val ungated = intercept[IllegalArgumentException] {
      new MergeNode(keys = Seq("id"), deleteCol = Some("is_delete"))
        .transform(c, In.single("base" -> base, "updates" -> evolved))
    }
    assert(ungated.getMessage.contains("allowEvolution"))
    val partial = intercept[IllegalArgumentException] {
      new MergeNode(keys = Seq("id"), deleteCol = Some("is_delete"),
        allowEvolution = true)
        .transform(c, In.single("base" -> base,
          "updates" -> Seq((9L, false)).toDF("id", "is_delete")))
    }
    assert(partial.getMessage.contains("missing base column"))
    val merged = new MergeNode(keys = Seq("id"), deleteCol = Some("is_delete"),
      allowEvolution = true)
      .transform(c, In.single("base" -> base, "updates" -> evolved))("result")
    assert(merged.columns.toSeq == Seq("id", "v", "q"))
    assert(merged.as[(Long, String, Option[Double])].collect().toSet ==
      Set((1L, "a", None), (2L, "b2", Some(0.7)), (9L, "new", Some(0.1))))
  }

  test("AggIndexNode: incremental materialized aggregate — update/delete/upsert " +
       "bit-identical to re-aggregation at every step; save/load; rebuild; " +
       "float measures and unfitted serve refused") {
    import spark.implicits._
    val c = Ctx(spark)
    val corpus = Seq(
      (1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L), (4L, "b", 7L), (5L, "c", 1L)
    ).toDF("doc_id", "src", "toks")
    val idx = new AggIndexNode(groupCols = Seq("src"), sumCols = Seq("toks"))
    idx.fit(c, In.single("corpus" -> corpus))
    def served(groups: Seq[String]): Map[String, (Long, Long)] =
      idx.transform(c, In.single("probe" -> groups.toDF("src")))("result")
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    val all = Seq("a", "b", "c", "zz")
    assert(served(all) == Map("a" -> ((2L, 30L)), "b" -> ((2L, 12L)), "c" -> ((1L, 1L))))
    // insert wave: new group appears, existing grows
    idx.updateIndex(c, Seq((6L, "a", 100L), (7L, "d", 2L)).toDF("doc_id", "src", "toks"))
    assert(served(all :+ "d") == Map("a" -> ((3L, 130L)), "b" -> ((2L, 12L)),
      "c" -> ((1L, 1L)), "d" -> ((1L, 2L))))
    // takedown: exact decrement, a group reaching zero DROPS (GROUP BY
    // semantics); unknown ids no-op
    idx.deleteFromIndex(c, Seq(5L, 6L, 999L).toDF("doc_id"))
    assert(served(all :+ "d") == Map("a" -> ((2L, 30L)), "b" -> ((2L, 12L)),
      "d" -> ((1L, 2L))))
    // upsert = delete-then-insert (the maintainFromStream composition):
    // doc 2 moves from src a to src b with a new measure
    idx.deleteFromIndex(c, Seq(2L).toDF("doc_id"))
    idx.updateIndex(c, Seq((2L, "b", 50L)).toDF("doc_id", "src", "toks"))
    val postUpsert = Map("a" -> ((1L, 10L)), "b" -> ((3L, 62L)), "d" -> ((1L, 2L)))
    assert(served(all :+ "d") == postUpsert)
    // rebuild from the ledger == the maintained totals (exactness pin)
    idx.rebuildIndex()
    assert(served(all :+ "d") == postUpsert)
    // save/load round-trip
    val dir = java.nio.file.Files.createTempDirectory("graft_aggidx").toString
    idx.saveFitted(dir)
    val idx2 = new AggIndexNode(groupCols = Seq("src"), sumCols = Seq("toks"))
    idx2.loadFitted(dir, Some(spark))
    assert(idx2.transform(c, In.single("probe" -> Seq("b").toDF("src")))("result")
      .as[(String, Long, Long)].collect().toSeq == Seq(("b", 3L, 62L)))
    // float measures refuse toward fixed-point
    val floaty = intercept[GraftException] {
      new AggIndexNode(groupCols = Seq("src"), sumCols = Seq("score"))
        .fit(c, In.single("corpus" ->
          Seq((1L, "a", 0.5)).toDF("doc_id", "src", "score")))
    }
    assert(floaty.getMessage.contains("INTEGRAL"))
    idx.unpersistIndex(); idx2.unpersistIndex()
  }

  test("AggIndexNode MIN/MAX: inserts fold monotonically; a takedown that " +
       "removes a group's extremum RECOMPUTES the touched group (spliced " +
       "over untouched totals); emptied groups drop; upsert composition " +
       "stays exact; non-atomic extremum column refused") {
    import spark.implicits._
    val c = Ctx(spark)
    val corpus = Seq(
      (1L, "a", 10L, "x"), (2L, "a", 20L, "m"), (3L, "a", 30L, "b"),
      (4L, "b", 7L, "q"), (5L, "b", 5L, "z"), (6L, "c", 1L, "k")
    ).toDF("doc_id", "src", "toks", "tag")
    val idx = new AggIndexNode(groupCols = Seq("src"), sumCols = Seq("toks"),
      minCols = Seq("toks", "tag"), maxCols = Seq("toks", "tag"))
    idx.fit(c, In.single("corpus" -> corpus))
    def served(groups: Seq[String]): Map[String, (Long, Long, Long, String, Long, String)] =
      idx.transform(c, In.single("probe" -> groups.toDF("src")))("result")
        .select("src", "n_rows", "sum_toks", "min_toks", "min_tag", "max_toks", "max_tag")
        .as[(String, Long, Long, Long, String, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7))).toMap
    val all = Seq("a", "b", "c", "zz")
    assert(served(all) == Map(
      "a" -> ((3L, 60L, 10L, "b", 30L, "x")),
      "b" -> ((2L, 12L, 5L, "q", 7L, "z")),
      "c" -> ((1L, 1L, 1L, "k", 1L, "k"))))
    // insert: new extremum on both ends of 'a' folds via least/greatest
    idx.updateIndex(c, Seq((7L, "a", 5L, "zz"), (8L, "a", 99L, "aa"))
      .toDF("doc_id", "src", "toks", "tag"))
    assert(served(all)("a") == ((5L, 164L, 5L, "aa", 99L, "zz")))
    // takedown removes BOTH of a's extrema (docs 7,8) and c entirely:
    // 'a' must recompute to its interior extrema — a least/greatest
    // shortcut or a stale total cannot produce this; 'b' untouched
    idx.deleteFromIndex(c, Seq(7L, 8L, 6L, 404L).toDF("doc_id"))
    assert(served(all) == Map(
      "a" -> ((3L, 60L, 10L, "b", 30L, "x")),
      "b" -> ((2L, 12L, 5L, "q", 7L, "z"))))
    // upsert (delete-then-insert): doc 3 was a's max (30); re-keyed to b
    idx.deleteFromIndex(c, Seq(3L).toDF("doc_id"))
    idx.updateIndex(c, Seq((3L, "b", 50L, "aa")).toDF("doc_id", "src", "toks", "tag"))
    val post = Map(
      "a" -> ((2L, 30L, 10L, "m", 20L, "x")),
      "b" -> ((3L, 62L, 5L, "aa", 50L, "z")))
    assert(served(all) == post)
    // rebuild from the ledger == the maintained totals (exactness pin)
    idx.rebuildIndex()
    assert(served(all) == post)
    // save/load keeps extrema columns
    val dir = java.nio.file.Files.createTempDirectory("graft_aggmm").toString
    idx.saveFitted(dir)
    val idx2 = new AggIndexNode(groupCols = Seq("src"), sumCols = Seq("toks"),
      minCols = Seq("toks", "tag"), maxCols = Seq("toks", "tag"))
    idx2.loadFitted(dir, Some(spark))
    assert(idx2.transform(c, In.single("probe" -> Seq("b").toDF("src")))("result")
      .select("src", "min_toks", "max_toks")
      .as[(String, Long, Long)].collect().toSeq == Seq(("b", 5L, 50L)))
    // non-atomic extremum column refused
    val arr = intercept[GraftException] {
      new AggIndexNode(groupCols = Seq("src"), minCols = Seq("v"))
        .fit(c, In.single("corpus" ->
          Seq((1L, "a", Seq(1, 2))).toDF("doc_id", "src", "v")))
    }
    assert(arr.getMessage.contains("atomic orderable"))
    idx.unpersistIndex(); idx2.unpersistIndex()
  }

  test("AggIndexNode COUNT DISTINCT: inserts count only genuinely new " +
       "(group, value) pairs; duplicate values bump multiplicity not the " +
       "count; a takedown that exhausts a value's multiplicity drops it; " +
       "NULLs never count; save/load keeps the support frame") {
    import spark.implicits._
    val c = Ctx(spark)
    val corpus = Seq(
      (1L, "a", "en"), (2L, "a", "en"), (3L, "a", "de"),
      (4L, "b", "fr"), (5L, "b", null.asInstanceOf[String])
    ).toDF("doc_id", "src", "lang")
    val idx = new AggIndexNode(groupCols = Seq("src"), distinctCols = Seq("lang"))
    idx.fit(c, In.single("corpus" -> corpus))
    def served(groups: Seq[String]): Map[String, (Long, Long)] =
      idx.transform(c, In.single("probe" -> groups.toDF("src")))("result")
        .select("src", "n_rows", "nd_lang")
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    // null lang in b does not count toward nd
    assert(served(Seq("a", "b")) == Map("a" -> ((3L, 2L)), "b" -> ((2L, 1L))))
    // insert: one duplicate value (multiplicity bump, nd unchanged), one
    // new value for an existing group, one whole new group
    idx.updateIndex(c, Seq((6L, "a", "en"), (7L, "b", "zh"), (8L, "c", "es"))
      .toDF("doc_id", "src", "lang"))
    assert(served(Seq("a", "b", "c")) ==
      Map("a" -> ((4L, 2L)), "b" -> ((3L, 2L)), "c" -> ((1L, 1L))))
    // delete doc 6: a STILL has an 'en' (docs 1,2) — nd must NOT drop;
    // delete docs 1,2,6 in a later wave exhausts 'en' — nd drops to 1
    idx.deleteFromIndex(c, Seq(6L).toDF("doc_id"))
    assert(served(Seq("a"))("a") == ((3L, 2L)))
    idx.deleteFromIndex(c, Seq(1L, 2L).toDF("doc_id"))
    assert(served(Seq("a"))("a") == ((1L, 1L)))
    // upsert: doc 4 re-langs fr -> zh; b's distinct set becomes {zh} only
    idx.deleteFromIndex(c, Seq(4L).toDF("doc_id"))
    idx.updateIndex(c, Seq((4L, "b", "zh")).toDF("doc_id", "src", "lang"))
    assert(served(Seq("b"))("b") == ((3L, 1L)))
    // rebuild == maintained (support-frame exactness pin)
    idx.rebuildIndex()
    assert(served(Seq("a", "b", "c")) ==
      Map("a" -> ((1L, 1L)), "b" -> ((3L, 1L)), "c" -> ((1L, 1L))))
    // save/load round-trips the support frame: a post-load delete still
    // knows 'zh' has multiplicity 2 in b
    val dir = java.nio.file.Files.createTempDirectory("graft_aggnd").toString
    idx.saveFitted(dir)
    val idx2 = new AggIndexNode(groupCols = Seq("src"), distinctCols = Seq("lang"))
    idx2.loadFitted(dir, Some(spark))
    idx2.deleteFromIndex(c, Seq(4L).toDF("doc_id"))
    assert(idx2.transform(c, In.single("probe" -> Seq("b").toDF("src")))("result")
      .select("src", "n_rows", "nd_lang")
      .as[(String, Long, Long)].collect().toSeq == Seq(("b", 2L, 1L)))
    // topValues: exact frequencies with deterministic tie-break (cnt DESC,
    // value ASC); refused for a column without a support frame
    val tv = new AggIndexNode(groupCols = Seq("src"), distinctCols = Seq("lang"))
    tv.fit(c, In.single("corpus" -> Seq(
      (1L, "a", "en"), (2L, "a", "en"), (3L, "a", "de"), (4L, "a", "de"),
      (5L, "a", "fr")).toDF("doc_id", "src", "lang")))
    // en and de tie at 2 -> de ranks first (value ASC); fr third
    assert(tv.topValues(c, Seq("a").toDF("src"), "lang", 3)
      .select("src", "lang", "cnt", "rank")
      .as[(String, String, Long, Int)].collect().toSeq.sortBy(_._4) == Seq(
        ("a", "de", 2L, 1), ("a", "en", 2L, 2), ("a", "fr", 1L, 3)))
    // a takedown re-ranks exactly: both de docs gone -> en first, fr second
    tv.deleteFromIndex(c, Seq(3L, 4L).toDF("doc_id"))
    assert(tv.topValues(c, Seq("a").toDF("src"), "lang", 2)
      .select("lang", "rank").as[(String, Int)].collect().toSeq.sortBy(_._2) ==
      Seq(("en", 1), ("fr", 2)))
    val noFrame = intercept[GraftException] {
      tv.topValues(c, Seq("a").toDF("src"), "src", 1)
    }
    assert(noFrame.getMessage.contains("distinctCols"))
    idx.unpersistIndex(); idx2.unpersistIndex(); tv.unpersistIndex()
  }

  test("AggIndexNode HISTOGRAM: bin counts decrement exactly under deletes " +
       "(no splice), clamp out-of-range into edge bins, drop emptied bins; " +
       "histQuantiles picks the first bin reaching ceil(q*n); save/load " +
       "keeps the binned frames; non-integral hist column refused") {
    import spark.implicits._
    val c = Ctx(spark)
    // spec: lo=0, hi=99, 10 bins -> width 10; values 105 and -3 clamp
    val spec = AggIndexNode.HistSpec("v", 0L, 99L, 10)
    assert(spec.width == 10L)
    val idx = new AggIndexNode(groupCols = Seq("src"), histSpecs = Seq(spec))
    idx.fit(c, In.single("corpus" -> Seq(
      (1L, "a", 5L), (2L, "a", 17L), (3L, "a", 23L), (4L, "a", 105L),
      (5L, "b", -3L), (6L, "b", 50L)).toDF("doc_id", "src", "v")))
    def hist(src: String): Seq[(Int, Long, Long, Long)] =
      idx.histogramOf(c, Seq(src).toDF("src"), "v")
        .select("bin", "lo_value", "hi_value", "cnt")
        .as[(Int, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    // a: 5->bin0, 17->bin1, 23->bin2, 105 clamps into bin9 (edge 90..99)
    assert(hist("a") == Seq((0, 0L, 9L, 1L), (1, 10L, 19L, 1L),
      (2, 20L, 29L, 1L), (9, 90L, 99L, 1L)))
    // b: -3 clamps into bin0, 50->bin5
    assert(hist("b") == Seq((0, 0L, 9L, 1L), (5, 50L, 59L, 1L)))
    // insert then delete: bin counts merge +, then decrement exactly;
    // the emptied bin VANISHES (count reaching zero drops the row)
    idx.updateIndex(c, Seq((7L, "a", 12L), (8L, "a", 77L))
      .toDF("doc_id", "src", "v"))
    assert(hist("a") == Seq((0, 0L, 9L, 1L), (1, 10L, 19L, 2L),
      (2, 20L, 29L, 1L), (7, 70L, 79L, 1L), (9, 90L, 99L, 1L)))
    idx.deleteFromIndex(c, Seq(2L, 3L).toDF("doc_id")) // empties bin2, halves bin1
    assert(hist("a") == Seq((0, 0L, 9L, 1L), (1, 10L, 19L, 1L),
      (7, 70L, 79L, 1L), (9, 90L, 99L, 1L)))
    // quantiles: a has values {5, 12, 77, 105->99-edge}; n=4
    // q=0.25 -> t=1 -> bin0 edge 9; q=0.5 -> t=2 -> bin1 edge 19;
    // q=0.75 -> t=3 -> bin7 edge 79; q=1.0 -> t=4 -> bin9 edge 99
    assert(idx.histQuantiles(c, Seq("a").toDF("src"), "v",
        Seq(0.25, 0.5, 0.75, 1.0))
      .select("q", "value").as[(Double, Long)].collect().toSeq.sortBy(_._1) ==
      Seq((0.25, 9L), (0.5, 19L), (0.75, 79L), (1.0, 99L)))
    // rebuild == maintained (exactness pin)
    val before = hist("a")
    idx.rebuildIndex()
    assert(hist("a") == before)
    // save/load keeps the binned frames
    val dir = java.nio.file.Files.createTempDirectory("graft_agghist").toString
    idx.saveFitted(dir)
    val idx2 = new AggIndexNode(groupCols = Seq("src"), histSpecs = Seq(spec))
    idx2.loadFitted(dir, Some(spark))
    assert(idx2.histogramOf(c, Seq("a").toDF("src"), "v")
      .count() == 4L)
    // refusals: non-integral hist column; unknown column; bad quantile
    val flt = intercept[GraftException] {
      new AggIndexNode(groupCols = Seq("src"),
        histSpecs = Seq(AggIndexNode.HistSpec("f", 0L, 10L, 2)))
        .fit(c, In.single("corpus" ->
          Seq((1L, "a", 0.5)).toDF("doc_id", "src", "f")))
    }
    assert(flt.getMessage.contains("INTEGRAL"))
    val unknown = intercept[GraftException] {
      idx.histQuantiles(c, Seq("a").toDF("src"), "nope", Seq(0.5))
    }
    assert(unknown.getMessage.contains("no hist spec"))
    val badQ = intercept[IllegalArgumentException] {
      idx.histQuantiles(c, Seq("a").toDF("src"), "v", Seq(0.0))
    }
    assert(badQ.getMessage.contains("(0, 1]"))
    val badSpec = intercept[IllegalArgumentException] {
      AggIndexNode.HistSpec("v", 10L, 10L, 4)
    }
    assert(badSpec.getMessage.contains("hi must exceed lo"))
    assert(AggIndexNode.HistSpec.parse("v:0:99:10") == spec)
    idx.unpersistIndex(); idx2.unpersistIndex()
  }

  test("MaterializedJoinNode.rightSide: the dim-side IncrementalIndex handle — " +
       "CDC upsert (delete-then-insert) re-keys a dim row, watermark is " +
       "independent of the fact side's, probing the handle is refused") {
    import spark.implicits._
    val c = Ctx(spark)
    val mj = new MaterializedJoinNode(leftOn = Seq("cust"),
      rightOn = Seq("cid"), leftId = "oid", rightId = "cid")
    mj.fit(c, In.single(
      "left" -> Seq((100L, 1L), (101L, 2L)).toDF("oid", "cust"),
      "right" -> Seq((1L, "bronze")).toDF("cid", "tier")))
    // the CDC decomposition maintainFromStream drives: delete-then-insert
    mj.rightSide.deleteFromIndex(c, Seq((1L, "gold")).toDF("cid", "tier"))
    mj.rightSide.updateIndex(c, Seq((1L, "gold"), (2L, "iron")).toDF("cid", "tier"))
    assert(mj.transform(c, In.single("probe" -> Seq(1L, 2L).toDF("cust")))("result")
      .select("oid", "tier").as[(Long, String)].collect().toSet ==
      Set((100L, "gold"), (101L, "iron")))
    // watermarks are per-feed
    mj.lastAppliedBatch = 5L
    assert(mj.rightSide.lastAppliedBatch == -1L)
    mj.rightSide.lastAppliedBatch = 2L
    assert(mj.lastAppliedBatch == 5L)
    // the handle is maintenance-only
    val refuse = intercept[GraftException] {
      mj.rightSide.transform(c, In.single("delta" -> Seq(1L).toDF("cid")))
    }
    assert(refuse.getMessage.contains("dim-side maintenance handle"))
    mj.unpersistIndex()
  }

  test("MaterializedJoinNode left_outer: danglers derived at serve — late dim " +
       "arrival RETRACTS null rows, dim takedown RESURFACES facts as null " +
       "rows, null-extension carries the dim side's exact types") {
    import spark.implicits._
    val c = Ctx(spark)
    val facts = Seq((100L, 1L, 10L), (101L, 2L, 20L), (102L, 9L, 5L))
      .toDF("oid", "cust", "amount") // cust 9 dangling from the start
    val dims = Seq((1L, "gold", 7L)).toDF("cid", "tier", "rank")
    val mj = new MaterializedJoinNode(leftOn = Seq("cust"),
      rightOn = Seq("cid"), leftId = "oid", rightId = "cid",
      joinType = "left_outer")
    mj.fit(c, In.single("left" -> facts, "right" -> dims))
    def served(): Map[Long, (Option[String], Option[Long])] =
      mj.transform(c, In.single("probe" ->
        Seq(1L, 2L, 9L).toDF("cust")))("result")
        .select("oid", "tier", "rank")
        .as[(Long, Option[String], Option[Long])].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    // dim types survive null-extension (rank stays LongType)
    assert(mj.transform(c, In.single("probe" -> Seq(9L).toDF("cust")))("result")
      .schema("rank").dataType == org.apache.spark.sql.types.LongType)
    assert(served() == Map(
      100L -> ((Some("gold"), Some(7L))), 101L -> ((None, None)),
      102L -> ((None, None))))
    // late dim arrival retro-matches cust 2: its null row RETRACTS
    mj.updateRight(c, Seq((2L, "iron", 3L)).toDF("cid", "tier", "rank"))
    assert(served() == Map(
      100L -> ((Some("gold"), Some(7L))), 101L -> ((Some("iron"), Some(3L))),
      102L -> ((None, None))))
    // dim takedown: cust 1's fact RESURFACES as a null row
    mj.deleteFromRight(c, Seq(1L).toDF("cid"))
    assert(served() == Map(
      100L -> ((None, None)), 101L -> ((Some("iron"), Some(3L))),
      102L -> ((None, None))))
    // fact delete removes the row entirely (matched or not)
    mj.deleteFromIndex(c, Seq(102L).toDF("oid"))
    assert(served() == Map(
      100L -> ((None, None)), 101L -> ((Some("iron"), Some(3L)))))
    // == the declarative left join over the post-op sides
    val liveL = facts.filter("oid != 102")
    val liveR = Seq((2L, "iron", 3L)).toDF("cid", "tier", "rank")
    val oracle = liveL.join(liveR, liveL("cust") === liveR("cid"), "left_outer")
      .select(liveL("oid"), liveR("tier"), liveR("rank"))
      .as[(Long, Option[String], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(served() == oracle)
    mj.unpersistIndex()
  }

  test("deleteWhere across the index families: predicate retention equals " +
       "deleteFromIndex on the same victims for inverted/minhash/ivf/dhash/" +
       "cluster/materialized-join (+ dim side); ledgerless sketch refuses") {
    import spark.implicits._
    val c = Ctx(spark)
    // inverted index — ledger (doc_id, doc_len): drop docs under 3 tokens
    val corpus = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "durian elder fig"), (4L, "apple")).toDF("doc_id", "text")
    val queries = Seq((100L, "apple cherry banana")).toDF("query_id", "text")
    def inv() = { val n = new InvertedIndexNode(k = 10, maxDfFrac = 1.0)
      n.fit(c, In.single("corpus" -> corpus)); n }
    val iA = inv(); iA.deleteWhere(c, "coalesce(doc_len, 0) < 3")
    val iB = inv(); iB.deleteFromIndex(c, Seq(2L, 4L).toDF("doc_id"))
    def serveInv(n: InvertedIndexNode) =
      n.transform(c, In.single("queries" -> queries))("result")
        .select("query_id", "doc_id", "score", "rank")
        .as[(Long, Long, Long, Int)].collect().toSet
    assert(serveInv(iA) == serveInv(iB) && serveInv(iA).nonEmpty)
    iA.unpersistIndex(); iB.unpersistIndex()
    // minhash index — ledger (doc_id, n_shingles): composite predicate
    val mhDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words that share nothing at all")).toDF("doc_id", "text")
    val mhDelta = Seq((10L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    def mh() = { val n = new MinHashIndexNode(numHashes = 32, bands = 16)
      n.fit(c, In.single("corpus" -> mhDocs)); n }
    def serveMh(n: MinHashIndexNode) =
      n.transform(c, In.single("delta" -> mhDelta))("result")
        .as[(Long, Long, Double)].collect().toSet
    val mA = mh(); mA.deleteWhere(c, "doc_id % 2 = 0 AND n_shingles >= 2")
    val mB = mh(); mB.deleteFromIndex(c, Seq(2L).toDF("doc_id"))
    assert(serveMh(mA) == serveMh(mB) && serveMh(mA) == Set((10L, 1L, 1.0)))
    mA.unpersistIndex(); mB.unpersistIndex()
    // ivf index — ledger (vec_id, cluster, norm): drop low-norm vectors
    val vecs = (1L to 8L).map(i =>
      (i, Array(i.toFloat, 0f))).toDF("vec_id", "embedding")
    def ivf() = { val n = new IvfIndexNode(k = 3, nClusters = 2, nProbe = 2,
      maxLiteralCentroids = 0)
      n.fit(c, In.single("corpus" -> vecs)); n }
    def serveIvf(n: IvfIndexNode) =
      n.transform(c, In.single("queries" ->
        Seq((1L, Array(2f, 0f))).toDF("query_id", "embedding")))("result")
        .select("query_id", "vec_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    val vA = ivf(); vA.deleteWhere(c, "norm < 3.5")
    val vB = ivf(); vB.deleteFromIndex(c, Seq(1L, 2L, 3L).toDF("vec_id"))
    assert(serveIvf(vA) == serveIvf(vB) && serveIvf(vA).nonEmpty)
    vA.unpersistIndex(); vB.unpersistIndex()
    // dhash index — ledger (doc_id, hash): blocklist a hash value
    val hashes = Seq((1L, 0xF0F0L), (2L, 0xF0F0L), (3L, 0x0A0AL))
      .toDF("doc_id", "dhash")
    def dh() = { val n = new DHashIndexNode(maxHamming = 0)
      n.fit(c, In.single("corpus" -> hashes)); n }
    def serveDh(n: DHashIndexNode) =
      n.transform(c, In.single("delta" ->
        Seq((10L, 0xF0F0L)).toDF("doc_id", "dhash")))("result")
        .as[(Long, Long, Int)].collect().toSet
    val hA = dh(); hA.deleteWhere(c, s"hash = ${0xF0F0L}")
    val hB = dh(); hB.deleteFromIndex(c, Seq(1L, 2L).toDF("doc_id"))
    assert(serveDh(hA) == serveDh(hB) && serveDh(hA).isEmpty)
    hA.unpersistIndex(); hB.unpersistIndex()
    // cluster index — ledger (id, cluster_id): whole-cluster takedown
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    def ci() = { val n = new ClusterIndexNode()
      n.fit(c, In.single("pairs" -> pairs)); n }
    def serveCi(n: ClusterIndexNode) =
      n.transform(c, In.single("queries" ->
        Seq(1L, 2L, 3L, 5L, 6L).toDF("id")))("result")
        .as[(Long, Long)].collect().toSet
    val cA = ci(); cA.deleteWhere(c, "cluster_id = 1")
    val cB = ci(); cB.deleteFromIndex(c, Seq(1L, 2L, 3L).toDF("id"))
    assert(serveCi(cA) == serveCi(cB))
    cA.unpersistIndex(); cB.unpersistIndex()
    // materialized join — fact ledger predicate AND dim-side predicate
    val facts = (1L to 20L).map(i => (i, i % 5, i * 10)).toDF("oid", "cust", "amt")
    val dims = (0L to 4L).map(i => (i, s"t${i % 2}")).toDF("cid", "tier")
    def mj() = { val n = new MaterializedJoinNode(leftOn = Seq("cust"),
      rightOn = Seq("cid"), leftId = "oid", rightId = "cid")
      n.fit(c, In.single("left" -> facts, "right" -> dims)); n }
    def serveMj(n: MaterializedJoinNode) =
      n.transform(c, In.single("probe" -> facts.select("cust").distinct()))(
        "result").select("oid", "cust", "amt", "tier")
        .as[(Long, Long, Long, String)].collect().toSet
    val jA = mj(); jA.deleteWhere(c, "amt > 120")
    jA.rightSide.deleteWhere(c, "tier = 't1'")
    val jB = mj(); jB.deleteFromIndex(c, facts.filter("amt > 120").select("oid"))
    jB.deleteFromRight(c, dims.filter("tier = 't1'").select("cid"))
    assert(serveMj(jA) == serveMj(jB) && serveMj(jA).nonEmpty)
    jA.unpersistIndex(); jB.unpersistIndex()
    // ledgerless sketch: no per-document state to evaluate over
    val sk = new SketchIndexNode(groupCols = Seq("src"), cols = Seq("v"))
    sk.fit(c, In.single("corpus" -> Seq((1L, "a", "x")).toDF("id", "src", "v")))
    val refuse = intercept[GraftException] { sk.deleteWhere(c, "v = 'x'") }
    assert(refuse.getMessage.contains("no per-document ledger"))
    sk.unpersistIndex()
  }

  test("MaterializedJoinNode.chainAggregate: maintained GROUP BY over the " +
       "maintained join — fact waves, dim waves and takedowns on BOTH sides " +
       "flow through the Δview feed; outer NULL group stays exact; equals " +
       "the declarative join+GROUP BY at every step") {
    import spark.implicits._
    val c = Ctx(spark)
    val facts0 = (1L to 60L).map(i => (i, i % 9, i)).toDF("oid", "cust", "amt")
    val dims0 = (0L to 5L).map(i => (i, s"seg${i % 3}")).toDF("cid", "seg")
    def drill(jt: String): Unit = {
      val mj = new MaterializedJoinNode(leftOn = Seq("cust"),
        rightOn = Seq("cid"), leftId = "oid", rightId = "cid", joinType = jt)
      mj.fit(c, In.single("left" -> facts0.filter("oid <= 40"),
        "right" -> dims0.filter("cid <= 3")))
      val agg = new AggIndexNode(groupCols = Seq("seg"), sumCols = Seq("amt"),
        idCol = MaterializedJoinNode.ViewIdCol)
      mj.chainAggregate(c, agg)
      // mirrored live state for the declarative oracle
      var liveL = facts0.filter("oid <= 40")
      var liveR = dims0.filter("cid <= 3")
      def check(stage: String): Unit = {
        val probe = dims0.select("seg").distinct()
          .unionByName(Seq(Option.empty[String]).toDF("seg"))
        val got = agg.transform(c, In.single("probe" -> probe))("result")
          .as[(Option[String], Long, Long)].collect().toSet
        val joined = liveL.join(liveR, liveL("cust") === liveR("cid"), jt)
        val want = joined.groupBy("seg")
          .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n_rows"),
            org.apache.spark.sql.functions.sum("amt").as("sum_amt"))
          .as[(Option[String], Long, Long)].collect().toSet
        assert(got == want, s"[$jt/$stage] chained dashboard diverged: " +
          s"got $got want $want")
      }
      check("seed")
      // fact wave (some match, some dangle under outer)
      mj.updateIndex(c, facts0.filter("oid > 40"))
      liveL = facts0; check("fact-insert")
      // late dim wave retro-matches (and retracts danglers under outer)
      mj.updateRight(c, dims0.filter("cid > 3"))
      liveR = dims0; check("dim-insert")
      // fact takedown
      mj.deleteFromIndex(c, facts0.filter("oid % 4 = 0").select("oid"))
      liveL = liveL.filter("oid % 4 != 0"); check("fact-delete")
      // dim takedown (facts resurface as NULL-group danglers under outer)
      mj.deleteFromRight(c, Seq(1L, 4L).toDF("cid"))
      liveR = liveR.filter("cid != 1 AND cid != 4"); check("dim-delete")
      // wrong idCol refused
      val bad = intercept[GraftException] {
        mj.chainAggregate(c, new AggIndexNode(groupCols = Seq("seg")))
      }
      assert(bad.getMessage.contains("__view_id"))
      agg.unpersistIndex(); mj.unpersistIndex()
    }
    drill("inner")
    drill("left_outer")
  }

  test("MaterializedJoinNode.chainJoin: the three-table star — a maintained " +
       "join chained onto a maintained join chained onto a dashboard; waves " +
       "on all three feeds propagate transitively and NULLs compose like a " +
       "SQL LEFT JOIN chain; equals the declarative two-join GROUP BY at " +
       "every step") {
    import org.apache.spark.sql.functions.{count, lit, sum}
    import spark.implicits._
    val c = Ctx(spark)
    val facts0 = (1L to 60L).map(i => (i, i % 9, i)).toDF("oid", "cust", "amt")
    val dims0 = (0L to 8L).map(i => (i, i % 4)).toDF("cid", "nat")
    val nats0 = (0L to 3L).map(i => (i, s"n$i")).toDF("nid", "nname")
    val mj1 = new MaterializedJoinNode(leftOn = Seq("cust"),
      rightOn = Seq("cid"), leftId = "oid", rightId = "cid",
      joinType = "left_outer")
    mj1.fit(c, In.single("left" -> facts0.filter("oid <= 40"),
      "right" -> dims0.filter("cid <= 5")))
    val mj2 = new MaterializedJoinNode(leftOn = Seq("nat"),
      rightOn = Seq("nid"), leftId = "v1", rightId = "nid",
      joinType = "left_outer")
    mj1.chainJoin(c, mj2, nats0.filter("nid <= 2"))
    val agg = new AggIndexNode(groupCols = Seq("nname"), sumCols = Seq("amt"),
      idCol = MaterializedJoinNode.ViewIdCol)
    mj2.chainAggregate(c, agg)
    var liveL = facts0.filter("oid <= 40")
    var liveD = dims0.filter("cid <= 5")
    var liveN = nats0.filter("nid <= 2")
    def check(stage: String): Unit = {
      val probe = nats0.select("nname").distinct()
        .unionByName(Seq(Option.empty[String]).toDF("nname"))
      val got = agg.transform(c, In.single("probe" -> probe))("result")
        .as[(Option[String], Long, Long)].collect().toSet
      val want = liveL
        .join(liveD, liveL("cust") === liveD("cid"), "left_outer")
        .join(liveN, liveD("nat") === liveN("nid"), "left_outer")
        .groupBy("nname").agg(count(lit(1)).as("n_rows"), sum("amt").as("sum_amt"))
        .as[(Option[String], Long, Long)].collect().toSet
      assert(got == want, s"[$stage] star dashboard diverged: got $got want $want")
    }
    check("seed")
    mj1.updateIndex(c, facts0.filter("oid > 40"))
    liveL = facts0; check("fact-insert")
    mj1.deleteFromIndex(c, facts0.filter("oid % 4 = 0").select("oid"))
    liveL = liveL.filter("oid % 4 != 0"); check("fact-delete")
    mj1.updateRight(c, dims0.filter("cid > 5"))
    liveD = dims0; check("dim1-insert")
    mj1.deleteFromRight(c, Seq(2L, 7L).toDF("cid"))
    liveD = liveD.filter("cid != 2 AND cid != 7"); check("dim1-delete")
    mj2.updateRight(c, nats0.filter("nid > 2"))
    liveN = nats0; check("dim2-insert")
    mj2.deleteFromRight(c, Seq(1L).toDF("nid"))
    liveN = liveN.filter("nid != 1"); check("dim2-delete")
    // predicate retention on the ROOT fact ledger flows through the whole
    // chain (deleteWhere -> deleteFromIndex -> Δview feed -> mj2 -> agg)
    mj1.deleteWhere(c, "amt > 50")
    liveL = liveL.filter("amt <= 50"); check("fact-retention")
    // the chained id must be renamed — a '__view_id' fact id is refused
    val bad = intercept[GraftException] {
      mj1.chainJoin(c, new MaterializedJoinNode(leftOn = Seq("nat"),
        rightOn = Seq("nid"), leftId = MaterializedJoinNode.ViewIdCol,
        rightId = "nid"), nats0)
    }
    assert(bad.getMessage.contains("rename"))
    agg.unpersistIndex(); mj2.unpersistIndex(); mj1.unpersistIndex()
  }

  test("MaterializedJoinNode left_outer serve guard: a dim ledger past " +
       "maxBroadcastDim degrades the dangler derivation to an unhinted " +
       "(shuffle-eligible) anti-join — identical rows either way") {
    import spark.implicits._
    val c = Ctx(spark)
    val facts = (1L to 200L).map(i => (i, i % 13, i * 2)).toDF("oid", "cust", "amount")
    val dims = (0L to 6L).map(i => (i, s"t$i")).toDF("cid", "tier")
    def build(thresh: Long): MaterializedJoinNode = {
      val mj = new MaterializedJoinNode(leftOn = Seq("cust"),
        rightOn = Seq("cid"), leftId = "oid", rightId = "cid",
        joinType = "left_outer", maxBroadcastDim = thresh)
      mj.fit(c, In.single("left" -> facts, "right" -> dims))
      mj
    }
    def serve(mj: MaterializedJoinNode): Set[(Long, Long, Option[String])] =
      mj.transform(c, In.single("probe" -> facts.select("cust").distinct()))(
        "result").select("oid", "cust", "tier")
        .as[(Long, Long, Option[String])].collect().toSet
    val hinted = build(Long.MaxValue)   // dim fits: broadcast path
    val guarded = build(0L)             // "degenerate dim": fallback path
    val a = serve(hinted); val b = serve(guarded)
    assert(a == b, "guarded fallback must serve the identical outer view")
    assert(a.count(_._3.isEmpty) == (1L to 200L).count(_ % 13 > 6),
      "danglers present under both paths")
    hinted.unpersistIndex(); guarded.unpersistIndex()
  }

  test("IVM chain RESTART: save all three star nodes mid-sequence, load " +
       "FRESH instances, re-attach WITHOUT refit (DagJson round-trips the " +
       "chain topology; Dag.reattachChains rewires), continue the wave " +
       "sequence — dashboard stays exact vs the declarative oracle") {
    import org.apache.spark.sql.functions.{count, lit, sum}
    import spark.implicits._
    val c = Ctx(spark)
    val facts0 = (1L to 60L).map(i => (i, i % 9, i)).toDF("oid", "cust", "amt")
    val dims0 = (0L to 8L).map(i => (i, i % 4)).toDF("cid", "nat")
    val nats0 = (0L to 3L).map(i => (i, s"n$i")).toDF("nid", "nname")
    // ---- session 1: build the star, declare the chain topology on a Dag
    val dag1 = new Dag("star")
    val mj1 = dag1.add(new MaterializedJoinNode(leftOn = Seq("cust"),
      rightOn = Seq("cid"), leftId = "oid", rightId = "cid",
      joinType = "left_outer").named("mj1"))
    val mj2 = dag1.add(new MaterializedJoinNode(leftOn = Seq("nat"),
      rightOn = Seq("nid"), leftId = "v1", rightId = "nid",
      joinType = "left_outer").named("mj2"))
    val agg = dag1.add(new AggIndexNode(groupCols = Seq("nname"),
      sumCols = Seq("amt"),
      idCol = MaterializedJoinNode.ViewIdCol).named("dash"))
    dag1.addChain(mj1, "join", mj2)
    dag1.addChain(mj2, "aggregate", agg)
    mj1.fit(c, In.single("left" -> facts0.filter("oid <= 40"),
      "right" -> dims0.filter("cid <= 5")))
    mj1.chainJoin(c, mj2, nats0.filter("nid <= 2"))
    mj2.chainAggregate(c, agg)
    // a few waves BEFORE the restart
    mj1.updateIndex(c, facts0.filter("oid > 40"))
    mj1.deleteFromIndex(c, facts0.filter("oid % 4 = 0").select("oid"))
    var liveL = facts0.filter("oid % 4 != 0")
    var liveD = dims0.filter("cid <= 5")
    var liveN = nats0.filter("nid <= 2")
    // ---- save: topology (with chains) + each node's fitted state
    val root = java.nio.file.Files.createTempDirectory("graft_chain_restart_")
    DagJson.save(dag1, s"$root/dag.json")
    mj1.saveFitted(s"$root/mj1"); mj2.saveFitted(s"$root/mj2")
    agg.saveFitted(s"$root/agg")
    agg.unpersistIndex(); mj2.unpersistIndex(); mj1.unpersistIndex()
    // ---- session 2: fresh instances from the serialized topology, loaded
    // state, chains re-attached with NO refit
    val dag2 = DagJson.load(s"$root/dag.json")
    assert(dag2.chains == Seq(("mj1", "join", "mj2"), ("mj2", "aggregate", "dash")),
      s"chain topology must round-trip, got ${dag2.chains}")
    val mj1b = dag2.node("mj1").asInstanceOf[MaterializedJoinNode]
    val mj2b = dag2.node("mj2").asInstanceOf[MaterializedJoinNode]
    val aggB = dag2.node("dash").asInstanceOf[AggIndexNode]
    // re-attach before load must refuse loudly (state not loaded yet)
    val early = intercept[GraftException] { dag2.reattachChains(c) }
    assert(early.getMessage.contains("not fitted"))
    mj1b.loadFitted(s"$root/mj1", Some(spark))
    mj2b.loadFitted(s"$root/mj2", Some(spark))
    aggB.loadFitted(s"$root/agg", Some(spark))
    dag2.reattachChains(c)
    def check(stage: String): Unit = {
      val probe = nats0.select("nname").distinct()
        .unionByName(Seq(Option.empty[String]).toDF("nname"))
      val got = aggB.transform(c, In.single("probe" -> probe))("result")
        .as[(Option[String], Long, Long)].collect().toSet
      val want = liveL
        .join(liveD, liveL("cust") === liveD("cid"), "left_outer")
        .join(liveN, liveD("nat") === liveN("nid"), "left_outer")
        .groupBy("nname").agg(count(lit(1)).as("n_rows"), sum("amt").as("sum_amt"))
        .as[(Option[String], Long, Long)].collect().toSet
      assert(got == want, s"[restart/$stage] diverged: got $got want $want")
    }
    check("loaded") // the saved state itself serves exactly
    // ---- continue the wave sequence on the RESTORED chain: every feed type
    mj1b.updateIndex(c, facts0.filter("oid % 4 = 0 and oid <= 20"))
    liveL = liveL.unionByName(facts0.filter("oid % 4 = 0 and oid <= 20"))
    check("fact-insert")
    mj1b.updateRight(c, dims0.filter("cid > 5")); liveD = dims0
    check("dim1-insert")
    mj1b.deleteFromRight(c, Seq(2L, 7L).toDF("cid"))
    liveD = liveD.filter("cid != 2 AND cid != 7"); check("dim1-delete")
    mj2b.updateRight(c, nats0.filter("nid > 2")); liveN = nats0
    check("dim2-insert")
    mj2b.deleteFromRight(c, Seq(1L).toDF("nid"))
    liveN = liveN.filter("nid != 1"); check("dim2-delete")
    mj1b.deleteWhere(c, "amt > 50"); liveL = liveL.filter("amt <= 50")
    check("fact-retention")
    aggB.unpersistIndex(); mj2b.unpersistIndex(); mj1b.unpersistIndex()
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
  }

  test("IVM chain re-attach RETRY: Dag.reattachChains after a partial " +
       "failure (the join chain subscribed, the dashboard not loaded yet) " +
       "and again on the whole loaded chain subscribes each target once — " +
       "the next fact and dim waves reach the dashboard exactly once") {
    import org.apache.spark.sql.functions.{count, lit, sum}
    import spark.implicits._
    val c = Ctx(spark)
    val facts0 = (1L to 50L).map(i => (i, i % 7, i)).toDF("oid", "cust", "amt")
    val dims0 = (0L to 6L).map(i => (i, i % 3)).toDF("cid", "nat")
    val nats0 = (0L to 2L).map(i => (i, s"n$i")).toDF("nid", "nname")
    def star(): (Dag, MaterializedJoinNode, MaterializedJoinNode, AggIndexNode) = {
      val d = new Dag("star_retry")
      val j1 = d.add(new MaterializedJoinNode(leftOn = Seq("cust"),
        rightOn = Seq("cid"), leftId = "oid", rightId = "cid",
        joinType = "left_outer").named("mj1"))
      val j2 = d.add(new MaterializedJoinNode(leftOn = Seq("nat"),
        rightOn = Seq("nid"), leftId = "v1", rightId = "nid",
        joinType = "left_outer").named("mj2"))
      val a = d.add(new AggIndexNode(groupCols = Seq("nname"),
        sumCols = Seq("amt"), idCol = MaterializedJoinNode.ViewIdCol).named("dash"))
      d.addChain(j1, "join", j2); d.addChain(j2, "aggregate", a)
      (d, j1, j2, a)
    }
    val (_, mj1, mj2, agg) = star()
    mj1.fit(c, In.single("left" -> facts0.filter("oid <= 40"),
      "right" -> dims0.filter("cid <= 4")))
    mj1.chainJoin(c, mj2, nats0.filter("nid <= 1"))
    mj2.chainAggregate(c, agg)
    val root = java.nio.file.Files.createTempDirectory("graft_chain_retry_")
    mj1.saveFitted(s"$root/mj1"); mj2.saveFitted(s"$root/mj2")
    agg.saveFitted(s"$root/agg")
    agg.unpersistIndex(); mj2.unpersistIndex(); mj1.unpersistIndex()
    val (dag, mj1b, mj2b, aggB) = star()
    mj1b.loadFitted(s"$root/mj1", Some(spark))
    mj2b.loadFitted(s"$root/mj2", Some(spark))
    // the first chain re-attaches, the second refuses: the dashboard is
    // not loaded yet
    val partial = intercept[GraftException] { dag.reattachChains(c) }
    assert(partial.getMessage.contains("dash"), partial.getMessage)
    aggB.loadFitted(s"$root/agg", Some(spark))
    dag.reattachChains(c) // the retry
    dag.reattachChains(c) // and a plain repeat
    var liveL = facts0.filter("oid <= 40")
    var liveD = dims0.filter("cid <= 4")
    var liveN = nats0.filter("nid <= 1")
    def check(stage: String): Unit = {
      val probe = nats0.select("nname")
        .unionByName(Seq(Option.empty[String]).toDF("nname"))
      val got = aggB.transform(c, In.single("probe" -> probe))("result")
        .select("nname", "n_rows", "sum_amt")
        .as[(Option[String], Long, Long)].collect().toSet
      val want = liveL
        .join(liveD, liveL("cust") === liveD("cid"), "left_outer")
        .join(liveN, liveD("nat") === liveN("nid"), "left_outer")
        .groupBy("nname").agg(count(lit(1)).as("n_rows"), sum("amt").as("sum_amt"))
        .as[(Option[String], Long, Long)].collect().toSet
      assert(got == want, s"[retry/$stage] diverged: got $got want $want")
    }
    check("loaded")
    mj1b.updateIndex(c, facts0.filter("oid > 40"))
    mj1b.deleteFromIndex(c, Seq(3L, 14L).toDF("oid"))
    liveL = facts0.filter("oid != 3 AND oid != 14"); check("fact")
    mj1b.updateRight(c, dims0.filter("cid > 4")); liveD = dims0
    mj1b.deleteFromRight(c, Seq(1L).toDF("cid"))
    liveD = liveD.filter("cid != 1"); check("dim1")
    mj2b.updateRight(c, nats0.filter("nid > 1")); liveN = nats0
    mj2b.deleteFromRight(c, Seq(0L).toDF("nid"))
    liveN = liveN.filter("nid != 0"); check("dim2")
    aggB.unpersistIndex(); mj2b.unpersistIndex(); mj1b.unpersistIndex()
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
  }

  test("MaterializedJoinNode Δview feed with maxBroadcastDim = 0: every feed " +
       "derivation (seed, fact insert/delete, dim insert/delete) rides the " +
       "shuffled anti-join fallback — chained dashboard identical to the " +
       "declarative oracle at every step") {
    import org.apache.spark.sql.functions.{count, lit, sum}
    import spark.implicits._
    val c = Ctx(spark)
    val facts0 = (1L to 60L).map(i => (i, i % 9, i)).toDF("oid", "cust", "amt")
    val dims0 = (0L to 5L).map(i => (i, s"seg${i % 3}")).toDF("cid", "seg")
    val mj = new MaterializedJoinNode(leftOn = Seq("cust"),
      rightOn = Seq("cid"), leftId = "oid", rightId = "cid",
      joinType = "left_outer", maxBroadcastDim = 0L) // force fallback everywhere
    mj.fit(c, In.single("left" -> facts0.filter("oid <= 40"),
      "right" -> dims0.filter("cid <= 3")))
    val agg = new AggIndexNode(groupCols = Seq("seg"), sumCols = Seq("amt"),
      idCol = MaterializedJoinNode.ViewIdCol)
    mj.chainAggregate(c, agg)
    var liveL = facts0.filter("oid <= 40")
    var liveR = dims0.filter("cid <= 3")
    def check(stage: String): Unit = {
      val probe = dims0.select("seg").distinct()
        .unionByName(Seq(Option.empty[String]).toDF("seg"))
      val got = agg.transform(c, In.single("probe" -> probe))("result")
        .as[(Option[String], Long, Long)].collect().toSet
      val want = liveL.join(liveR, liveL("cust") === liveR("cid"), "left_outer")
        .groupBy("seg").agg(count(lit(1)).as("n_rows"), sum("amt").as("sum_amt"))
        .as[(Option[String], Long, Long)].collect().toSet
      assert(got == want, s"[guarded/$stage] diverged: got $got want $want")
    }
    check("seed")
    mj.updateIndex(c, facts0.filter("oid > 40")); liveL = facts0
    check("fact-insert")
    mj.deleteFromIndex(c, facts0.filter("oid % 4 = 0").select("oid"))
    liveL = liveL.filter("oid % 4 != 0"); check("fact-delete")
    mj.updateRight(c, dims0.filter("cid > 3")); liveR = dims0
    check("dim-insert")
    mj.deleteFromRight(c, Seq(1L, 4L).toDF("cid"))
    liveR = liveR.filter("cid != 1 AND cid != 4"); check("dim-delete")
    agg.unpersistIndex(); mj.unpersistIndex()
  }

  test("view-row id is injective for adversarial STRING ids (length-prefixed " +
       "encoding): ids embedding the delimiter never cross-collide, so " +
       "vid-keyed deletes through the chain stay exact; NULL fact ids are " +
       "rejected loudly") {
    import org.apache.spark.sql.functions.{count, lit, sum}
    import spark.implicits._
    val c = Ctx(spark)
    // ids deliberately contain ':', '|', 'm:', 'd' and the old -free
    // collision shapes from ADVICE r14 (leftId 'a' + rightId 'bm:c' vs
    // leftId 'am:b' + rightId 'c'; dangler 'qm:r' vs matched ('q','rd'))
    val facts0 = Seq(
      ("a", 1L, 10L), ("am:b", 1L, 20L), ("q", 2L, 30L), ("qm:r", 9L, 40L),
      ("x|7:y", 3L, 50L), ("plain", 4L, 60L)).toDF("oid", "cust", "amt")
    val dims0 = Seq(
      ("bm:c", 1L, "s0"), ("c", 1L, "s0"), ("rd", 2L, "s1"),
      ("d", 3L, "s2"), ("m:", 4L, "s2")).toDF("did", "cid", "seg")
    val mj = new MaterializedJoinNode(leftOn = Seq("cust"),
      rightOn = Seq("cid"), leftId = "oid", rightId = "did",
      joinType = "left_outer")
    mj.fit(c, In.single("left" -> facts0, "right" -> dims0))
    val agg = new AggIndexNode(groupCols = Seq("seg"), sumCols = Seq("amt"),
      idCol = MaterializedJoinNode.ViewIdCol)
    mj.chainAggregate(c, agg)
    // the published feed keys its merge-on-read overlays on the same vids
    val root = java.nio.file.Files.createTempDirectory("graft_vid_")
      .toString + "/view_mor"
    mj.publishViewDelta(c, root)
    var liveL = facts0; var liveR = dims0
    def check(stage: String): Unit = {
      val probe = dims0.select("seg").distinct()
        .unionByName(Seq(Option.empty[String]).toDF("seg"))
      val got = agg.transform(c, In.single("probe" -> probe))("result")
        .as[(Option[String], Long, Long)].collect().toSet
      val outer = liveL.join(liveR, liveL("cust") === liveR("cid"), "left_outer")
      val want = outer
        .groupBy("seg").agg(count(lit(1)).as("n_rows"), sum("amt").as("sum_amt"))
        .as[(Option[String], Long, Long)].collect().toSet
      assert(got == want, s"[vid/$stage] diverged: got $got want $want")
      val cols = Seq("oid", "did", "seg", "amt")
      val published = new MorSourceNode(root,
        keys = Seq(MaterializedJoinNode.ViewIdCol))
        .transform(c, In.empty)("result").select(cols.map(col): _*)
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      val view = outer.select(cols.map(col): _*)
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(published == view, s"[vid/$stage] published feed diverged: " +
        s"got $published want $view")
    }
    check("seed")
    // vid-keyed deletes: removing ONE colliding-shape row must not drag
    // its counterpart out of the chained ledger
    mj.deleteFromIndex(c, Seq("a").toDF("oid")); liveL = liveL.filter("oid != 'a'")
    check("delete-a")
    mj.deleteFromRight(c, Seq("rd").toDF("did")); liveR = liveR.filter("did != 'rd'")
    check("delete-rd")
    mj.deleteFromIndex(c, Seq("qm:r").toDF("oid"))
    liveL = liveL.filter("oid != 'qm:r'"); check("delete-dangler")
    // ONE takedown call mixing a fact that owns two matched view rows
    // ('am:b': dims 'bm:c' and 'c' share cid 1), a dangler ('q' lost its
    // only dim 'rd' above) and an id the index never held
    mj.deleteFromIndex(c, Seq("am:b", "q", "never-held").toDF("oid"))
    liveL = liveL.filter("oid NOT IN ('am:b', 'q')"); check("delete-mixed")
    agg.unpersistIndex(); mj.unpersistIndex()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root).getParentFile)
    // NULL fact id: refused loudly at feed materialization, not silently
    // dropped downstream (ADVICE r14)
    val withNull = Seq((Option.empty[String], 1L, 5L), (Some("k"), 1L, 6L))
      .toDF("oid", "cust", "amt")
    val mjN = new MaterializedJoinNode(leftOn = Seq("cust"),
      rightOn = Seq("cid"), leftId = "oid", rightId = "did")
    mjN.fit(c, In.single("left" -> withNull, "right" -> dims0))
    val err = intercept[Exception] {
      val aggN = new AggIndexNode(groupCols = Seq("seg"),
        sumCols = Seq("amt"), idCol = MaterializedJoinNode.ViewIdCol)
      mjN.chainAggregate(c, aggN)
      // fit is lazy — the first action over the seeded ledger fires the check
      aggN.transform(c,
        In.single("probe" -> dims0.select("seg").distinct()))("result").count()
    }
    def msgs(e: Throwable): Seq[String] =
      if (e == null) Nil else Option(e.getMessage).toSeq ++ msgs(e.getCause)
    assert(msgs(err).exists(_.contains("NULL oid")),
      s"expected a loud NULL-id refusal, got: ${msgs(err).mkString(" | ")}")
    mjN.unpersistIndex()
  }

  test("AggIndexNode NULL group: SQL GROUP BY treats NULL as one real group — " +
       "merges never duplicate it, deletes splice it, a NULL probe key " +
       "serves it (the chained outer-view dangler group rides this)") {
    import spark.implicits._
    val c = Ctx(spark)
    def df(rows: Seq[(Long, Option[String], Long, String)]) =
      rows.toDF("doc_id", "grp", "v", "lang")
    val idx = new AggIndexNode(groupCols = Seq("grp"), sumCols = Seq("v"),
      minCols = Seq("v"), distinctCols = Seq("lang"))
    idx.fit(c, In.single("corpus" -> df(Seq(
      (1L, Some("a"), 10L, "en"), (2L, None, 5L, "en"), (3L, None, 7L, "de")))))
    // insert wave touches the NULL group: the full-outer merge must fold
    // into ONE null-group row, not two
    idx.updateIndex(c, df(Seq((4L, None, 2L, "fr"), (5L, Some("a"), 1L, "en"))))
    val probe = Seq(Option("a"), Option.empty[String]).toDF("grp")
    def served() = idx.transform(c, In.single("probe" -> probe))("result")
      .select("grp", "n_rows", "sum_v", "min_v", "nd_lang")
      .as[(Option[String], Long, Long, Long, Long)].collect().toSet
    assert(served() == Set(
      (Some("a"), 2L, 11L, 1L, 1L), (None, 3L, 14L, 2L, 3L)))
    // a takedown deleting the NULL group's minimum forces the splice path
    // (left_anti/left_semi on the touched NULL key must match it)
    idx.deleteFromIndex(c, Seq(4L).toDF("doc_id"))
    assert(served() == Set(
      (Some("a"), 2L, 11L, 1L, 1L), (None, 2L, 12L, 5L, 2L)))
    // exhausting the group drops it entirely
    idx.deleteFromIndex(c, Seq(2L, 3L).toDF("doc_id"))
    assert(served() == Set((Some("a"), 2L, 11L, 1L, 1L)))
    idx.unpersistIndex()
  }

  test("AggIndexNode.deleteWhere: predicate retention — victims selected by " +
       "a ledger-column condition (no id round-trip), NULL evaluations kept, " +
       "every measure class stays exact, emptied groups drop") {
    import spark.implicits._
    val c = Ctx(spark)
    val rows = Seq(
      (1L, "a", 5L, "en", "old"), (2L, "a", 40L, "de", "new"),
      (3L, "a", 55L, "de", null), (4L, "b", 7L, "fr", "old"),
      (5L, "b", 8L, "fr", "new"), (6L, "cc", 3L, "en", "old"))
      .toDF("doc_id", "src", "v", "lang", "tag")
    val idx = new AggIndexNode(groupCols = Seq("src"), sumCols = Seq("v"),
      minCols = Seq("v"), maxCols = Seq("v"), distinctCols = Seq("lang"),
      histSpecs = Seq(AggIndexNode.HistSpec("v", 0L, 99L, 10)))
    idx.fit(c, In.single("corpus" -> rows))
    // retention: drop v < 8 OR tag = 'old'; row 3's tag is NULL -> the
    // condition evaluates NULL -> survivor (null-safe partition)
    idx.deleteWhere(c, "v < 8 OR tag = 'old'")
    // live: (2,a,40,de,new), (3,a,55,de,null), (5,b,8,fr,new); cc emptied
    val served = idx.transform(c,
      In.single("probe" -> Seq("a", "b", "cc").toDF("src")))("result")
      .select("src", "n_rows", "sum_v", "min_v", "max_v", "nd_lang")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(served == Map(
      "a" -> ((2L, 95L, 40L, 55L, 1L)), "b" -> ((1L, 8L, 8L, 8L, 1L))))
    // hist bins decremented exactly: a has 40 (bin4) and 55 (bin5)
    assert(idx.histogramOf(c, Seq("a").toDF("src"), "v")
      .select("bin", "cnt").as[(Int, Long)].collect().toSeq.sortBy(_._1) ==
      Seq((4, 1L), (5, 1L)))
    // deleteWhere == deleteFromIndex with the same victims (exactness)
    val byId = new AggIndexNode(groupCols = Seq("src"), sumCols = Seq("v"),
      minCols = Seq("v"), maxCols = Seq("v"), distinctCols = Seq("lang"),
      histSpecs = Seq(AggIndexNode.HistSpec("v", 0L, 99L, 10)))
    byId.fit(c, In.single("corpus" -> rows))
    byId.deleteFromIndex(c, Seq(1L, 4L, 6L).toDF("doc_id"))
    val servedById = byId.transform(c,
      In.single("probe" -> Seq("a", "b", "cc").toDF("src")))("result")
      .select("src", "n_rows", "sum_v", "min_v", "max_v", "nd_lang")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(servedById == served)
    // a non-ledger column in the predicate fails loudly at execution
    intercept[Exception] { idx.deleteWhere(c, "missing_col = 1") }
    idx.unpersistIndex(); byId.unpersistIndex()
  }

  test("AggIndexNode sumSqCols: exact sum-of-squares through insert and " +
       "delete waves — (sum, sumsq, n) derive variance with no float drift; " +
       "float square measure refused") {
    import spark.implicits._
    val c = Ctx(spark)
    val idx = new AggIndexNode(groupCols = Seq("src"),
      sumCols = Seq("v"), sumSqCols = Seq("v"))
    idx.fit(c, In.single("corpus" ->
      Seq((1L, "a", 3L), (2L, "a", 4L), (3L, "b", 10L)).toDF("doc_id", "src", "v")))
    idx.updateIndex(c, Seq((4L, "a", 5L)).toDF("doc_id", "src", "v"))
    idx.deleteFromIndex(c, Seq(2L).toDF("doc_id"))
    // a: values {3, 5} -> sum 8, sumsq 9+25=34; b: {10} -> 10, 100
    assert(idx.transform(c, In.single("probe" -> Seq("a", "b").toDF("src")))("result")
      .select("src", "n_rows", "sum_v", "sumsq_v")
      .as[(String, Long, Long, Long)].collect().toSet ==
      Set(("a", 2L, 8L, 34L), ("b", 1L, 10L, 100L)))
    val flt = intercept[GraftException] {
      new AggIndexNode(groupCols = Seq("src"), sumSqCols = Seq("f"))
        .fit(c, In.single("corpus" -> Seq((1L, "a", 0.5)).toDF("doc_id", "src", "f")))
    }
    assert(flt.getMessage.contains("square-sum"))
    idx.unpersistIndex()
  }

  test("SketchIndexNode quantileCols: maintained KLL float quantiles — " +
       "small-n sketches are exact, waves merge, rank error bounded at 50k, " +
       "all-NULL group serves NULL, non-numeric refused, save/load keeps " +
       "the sketches") {
    import spark.implicits._
    val c = Ctx(spark)
    val idx = new SketchIndexNode(groupCols = Seq("src"), cols = Nil,
      quantileCols = Seq("ppl"))
    idx.fit(c, In.single("corpus" -> Seq(
      (1L, "a", Some(1.0)), (2L, "a", Some(2.0)), (3L, "a", Some(3.0)),
      (4L, "b", Option.empty[Double])).toDF("id", "src", "ppl")))
    def q(n: SketchIndexNode, qs: Seq[Double]) =
      n.quantilesOf(c, Seq("a", "b").toDF("src"), "ppl", qs)
        .as[(String, Double, Option[Double])].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    // n below the sketch capacity: exact (inclusive rule — first value
    // whose rank reaches q), and the all-NULL group serves NULL
    assert(q(idx, Seq(0.5, 1.0)) == Map(
      ("a", 0.5) -> Some(2.0), ("a", 1.0) -> Some(3.0),
      ("b", 0.5) -> None, ("b", 1.0) -> None))
    // an insert wave merges; NULLs in a wave are skipped not counted
    idx.updateIndex(c, Seq((5L, "a", Some(4.0)), (6L, "a", Option.empty[Double]),
      (7L, "b", Some(9.0))).toDF("id", "src", "ppl"))
    assert(q(idx, Seq(0.5)) == Map(
      ("a", 0.5) -> Some(2.0), ("b", 0.5) -> Some(9.0)))
    // 50k values, two waves vs exact percentile: served value's true RANK
    // within 5% of the asked q (the KLL contract is rank error, k=200 is
    // ~1.65% — 5% is the engine gate convention)
    val big = new SketchIndexNode(groupCols = Seq("src"), cols = Nil,
      quantileCols = Seq("v"))
    val base = spark.range(50000).selectExpr("id", "'g' as src",
      "cast(pmod(id * 2654435761, 100000) as double) / 100 as v")
    big.fit(c, In.single("corpus" -> base.filter("id % 2 = 0")))
    big.updateIndex(c, base.filter("id % 2 = 1"))
    val got = big.quantilesOf(c, Seq("g").toDF("src"), "v", Seq(0.5, 0.95, 0.99))
      .as[(String, Double, Option[Double])].collect()
    got.foreach { case (_, qq, Some(v)) =>
      val rank = base.filter(s"v <= $v").count().toDouble / 50000.0
      assert(math.abs(rank - qq) <= 0.05,
        s"q=$qq served $v with true rank $rank — outside the 5% gate")
    case other => fail(s"unexpected null quantile row $other")
    }
    // refusals: non-numeric quantile column; deletes (family contract)
    val bad = intercept[GraftException] {
      new SketchIndexNode(groupCols = Seq("src"), cols = Nil,
        quantileCols = Seq("s"))
        .fit(c, In.single("corpus" -> Seq((1L, "a", "txt")).toDF("id", "src", "s")))
    }
    assert(bad.getMessage.contains("numeric measure"))
    // save/load round-trips the KLL column
    val dir = java.nio.file.Files.createTempDirectory("graft_kllidx").toString
    idx.saveFitted(dir)
    val idx2 = new SketchIndexNode(groupCols = Seq("src"), cols = Nil,
      quantileCols = Seq("ppl"))
    idx2.loadFitted(dir, Some(spark))
    assert(q(idx2, Seq(0.5)) == q(idx, Seq(0.5)))
    idx.unpersistIndex(); idx2.unpersistIndex(); big.unpersistIndex()
  }

  test("SketchIndexNode: ledgerless HLL distinct counts — union across " +
       "insert batches is order-independent and exact at small cardinality, " +
       "within 5% at 20k; deletes and float measures refused; save/load " +
       "round-trips the sketches") {
    import spark.implicits._
    val c = Ctx(spark)
    val idx = new SketchIndexNode(groupCols = Seq("src"), cols = Seq("v"))
    idx.fit(c, In.single("corpus" -> Seq(
      (1L, "a", "x"), (2L, "a", "y"), (3L, "b", "x")).toDF("id", "src", "v")))
    def served(n: SketchIndexNode): Map[String, (Long, Long)] =
      n.transform(c, In.single("probe" -> Seq("a", "b", "cc").toDF("src")))("result")
        .select("src", "n_rows", "nd_v")
        .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // small-n sketches are exact (datasketches list/sparse mode)
    assert(served(idx) == Map("a" -> ((2L, 2L)), "b" -> ((1L, 1L))))
    // two update waves: duplicates do not inflate; new values count once
    idx.updateIndex(c, Seq((4L, "a", "x"), (5L, "a", "z")).toDF("id", "src", "v"))
    idx.updateIndex(c, Seq((6L, "b", "w"), (7L, "cc", "q")).toDF("id", "src", "v"))
    assert(served(idx) ==
      Map("a" -> ((4L, 3L)), "b" -> ((2L, 2L)), "cc" -> ((1L, 1L))))
    // day-2 == one-shot: union associativity makes the merged state
    // byte-identical to a single fit over everything
    val oneShot = new SketchIndexNode(groupCols = Seq("src"), cols = Seq("v"))
    oneShot.fit(c, In.single("corpus" -> Seq(
      (1L, "a", "x"), (2L, "a", "y"), (3L, "b", "x"), (4L, "a", "x"),
      (5L, "a", "z"), (6L, "b", "w"), (7L, "cc", "q")).toDF("id", "src", "v")))
    assert(served(idx) == served(oneShot))
    // 20k distinct longs: estimate within 5% of exact
    val big = new SketchIndexNode(groupCols = Seq("src"), cols = Seq("v"))
    big.fit(c, In.single("corpus" ->
      spark.range(20000).selectExpr("id", "'g' as src", "id as v")))
    val est = big.transform(c, In.single("probe" -> Seq("g").toDF("src")))("result")
      .select("nd_v").as[Long].head()
    assert(math.abs(est - 20000L) * 20 <= 20000L, s"estimate $est off >5%")
    // deletes refused — this family cannot decrement
    val del = intercept[GraftException] {
      idx.deleteFromIndex(c, Seq(1L).toDF("id"))
    }
    assert(del.getMessage.contains("deletes refused"))
    // float measure refused at fit
    val flt = intercept[GraftException] {
      new SketchIndexNode(groupCols = Seq("src"), cols = Seq("f"))
        .fit(c, In.single("corpus" -> Seq((1L, "a", 0.5)).toDF("id", "src", "f")))
    }
    assert(flt.getMessage.contains("int/bigint/string/binary"))
    // save/load: estimates identical after round-trip
    val dir = java.nio.file.Files.createTempDirectory("graft_sketchidx").toString
    idx.saveFitted(dir)
    val idx2 = new SketchIndexNode(groupCols = Seq("src"), cols = Seq("v"))
    idx2.loadFitted(dir, Some(spark))
    assert(served(idx2) == served(idx))
    // compactEvery folds the per-batch merge lineage to a parquet scan
    // after every update without changing the sketches
    val cp = new SketchIndexNode(groupCols = Seq("src"), cols = Seq("v"),
      compactEvery = 1,
      compactPath = Some(java.nio.file.Files
        .createTempDirectory("graft_skc").toString))
    cp.fit(c, In.single("corpus" -> Seq(
      (1L, "a", "x"), (2L, "a", "y"), (3L, "b", "x")).toDF("id", "src", "v")))
    cp.updateIndex(c, Seq((4L, "a", "x"), (5L, "a", "z")).toDF("id", "src", "v"))
    cp.updateIndex(c, Seq((6L, "b", "w"), (7L, "cc", "q")).toDF("id", "src", "v"))
    assert(served(cp) == served(idx))
    assert(cp.model.get.queryExecution.analyzed.toString.contains("Relation"),
      "post-fold state must read from the compacted parquet, not the merge lineage")
    Seq(idx, oneShot, big, idx2, cp).foreach(_.unpersistIndex())
  }

  test("MaterializedJoinNode: delta-rule maintenance on BOTH sides — fact " +
       "insert/delete via the IncrementalIndex contract, dim upsert/delete " +
       "via updateRight/deleteFromRight; duplicate join keys fan out; view " +
       "stays bit-identical to the declarative join; payload clash refused") {
    import spark.implicits._
    val c = Ctx(spark)
    val facts = Seq(
      (100L, 1L, 10L), (101L, 1L, 20L), (102L, 2L, 5L), (103L, 9L, 7L)
    ).toDF("oid", "cust", "amount") // cust 9 has no dim row (dangling)
    val dims = Seq((1L, "gold"), (2L, "iron")).toDF("cid", "tier")
    val mj = new MaterializedJoinNode(leftOn = Seq("cust"),
      rightOn = Seq("cid"), leftId = "oid", rightId = "cid")
    mj.fit(c, In.single("left" -> facts, "right" -> dims))
    def served(custs: Seq[Long]): Set[(Long, Long, Long, Long, String)] =
      mj.transform(c, In.single("probe" -> custs.toDF("cust")))("result")
        .select("oid", "cust", "amount", "cid", "tier")
        .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(served(Seq(1L, 2L, 9L)) == Set(
      (100L, 1L, 10L, 1L, "gold"), (101L, 1L, 20L, 1L, "gold"),
      (102L, 2L, 5L, 2L, "iron")))
    // fact insert: joins against the dim ledger (cust 9 still dangling)
    mj.updateIndex(c, Seq((104L, 2L, 50L), (105L, 9L, 1L)).toDF("oid", "cust", "amount"))
    assert(served(Seq(2L, 9L)) == Set(
      (102L, 2L, 5L, 2L, "iron"), (104L, 2L, 50L, 2L, "iron")))
    // DIM insert: the dangling cust-9 facts join in retroactively (L ⋈ ΔR)
    mj.updateRight(c, Seq((9L, "clay")).toDF("cid", "tier"))
    assert(served(Seq(9L)) == Set(
      (103L, 9L, 7L, 9L, "clay"), (105L, 9L, 1L, 9L, "clay")))
    // fact takedown
    mj.deleteFromIndex(c, Seq(101L, 999L).toDF("oid"))
    assert(served(Seq(1L)) == Set((100L, 1L, 10L, 1L, "gold")))
    // dim upsert (delete-then-insert): every cust-2 pair re-tiers
    mj.deleteFromRight(c, Seq(2L).toDF("cid"))
    assert(served(Seq(2L)) == Set.empty)
    mj.updateRight(c, Seq((2L, "steel")).toDF("cid", "tier"))
    assert(served(Seq(2L)) == Set(
      (102L, 2L, 5L, 2L, "steel"), (104L, 2L, 50L, 2L, "steel")))
    // rebuild from the ledgers == the maintained view (exactness pin)
    val before = served(Seq(1L, 2L, 9L))
    mj.rebuildIndex()
    assert(served(Seq(1L, 2L, 9L)) == before)
    // save/load round-trip, then one more dim delete on the loaded copy
    val dir = java.nio.file.Files.createTempDirectory("graft_mjoin").toString
    mj.saveFitted(dir)
    val mj2 = new MaterializedJoinNode(leftOn = Seq("cust"),
      rightOn = Seq("cid"), leftId = "oid", rightId = "cid")
    mj2.loadFitted(dir, Some(spark))
    mj2.deleteFromRight(c, Seq(9L).toDF("cid"))
    assert(mj2.transform(c, In.single("probe" -> Seq(9L).toDF("cust")))("result")
      .count() == 0L)
    // payload clash refused loudly
    val clash = intercept[GraftException] {
      new MaterializedJoinNode(leftOn = Seq("cust"), rightOn = Seq("cid"),
        leftId = "oid", rightId = "cid")
        .fit(c, In.single("left" -> facts,
          "right" -> Seq((1L, 2L)).toDF("cid", "amount")))
    }
    assert(clash.getMessage.contains("both sides"))
    mj.unpersistIndex(); mj2.unpersistIndex()
  }

  test("publishDelta races and replays: a commit that loses to a concurrent " +
       "compaction raises with the stranded overlay removed; a replay of an " +
       "already-FOLDED batch is skipped, not re-applied") {
    import spark.implicits._
    val c = Ctx(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_delta_race").toString
    val root = s"$work/ds"
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    new SinkNode(root, atomicPublish = true).transform(c, In.single("df" -> base))
    def commit(id: Long, rows: Seq[(Long, String, Boolean)]): Unit =
      AtomicPublish.publishDelta(spark, root, id, { t =>
        rows.toDF("id", "v", MorCdc.DeletedCol).coalesce(1).write.parquet(t)
      })
    commit(0L, Seq((2L, "b2", false)))
    MorCdc.compact(c, root, Seq("id"), throughBatch = 0L) // folds wave 0
    // replay of the FOLDED wave 0: its delta dir retired with gen-1 — a
    // naive re-commit would re-apply stale data into gen-2; must skip
    commit(0L, Seq((2L, "b2", false)))
    assert(AtomicPublish.listDeltas(spark, root).isEmpty,
      "a replayed folded batch must not recommit as a fresh overlay")
    // compaction RACE: a fold lands between generation resolution and the
    // overlay rename (simulated inside the write lambda) — the overlay
    // would otherwise strand invisibly in the retired generation
    val lost = intercept[GraftException] {
      AtomicPublish.publishDelta(spark, root, 1L, { t =>
        Seq((9L, "new", false)).toDF("id", "v", MorCdc.DeletedCol)
          .coalesce(1).write.parquet(t)
        MorCdc.compact(c, root, Seq("id"), throughBatch = 0L) // the racer
      })
    }
    assert(lost.getMessage.contains("lost a race against a fold"))
    assert(AtomicPublish.currentGen(spark, root).contains(3L))
    // nothing stranded anywhere; the live view is the fold only
    assert(AtomicPublish.listDeltas(spark, root).isEmpty)
    assert(MorCdc.read(spark, root, Seq("id")).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b2")))
    // the caller's replay against the NEW generation commits cleanly
    commit(1L, Seq((9L, "new", false)))
    assert(AtomicPublish.listDeltas(spark, root).map(_._1) == Seq(1L))
    assert(MorCdc.read(spark, root, Seq("id")).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b2"), (9L, "new")))
  }

  test("AtomicPublish claim-then-verify: a claim taken from a STALE currentGen " +
       "read (the released-token TOCTOU) is detected after the create, " +
       "released, and refused — committed data never overwritten") {
    import spark.implicits._
    val c = Ctx(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_toctou_spec").toString
    val root = s"$work/ds"
    new SinkNode(root, atomicPublish = true).transform(c,
      In.single("df" -> Seq((1L, "a")).toDF("id", "v")))          // gen-1
    val stale = AtomicPublish.currentGen(spark, root)              // reads 1
    new SinkNode(root, atomicPublish = true).transform(c,
      In.single("df" -> Seq((1L, "b")).toDF("id", "v")))          // gen-2; claim released
    // the stale publisher now claims gen-2: the winner RELEASED that very
    // token after its swap, so the create SUCCEEDS — exactly the window
    // ADVICE r13 names. The post-claim verify must catch it before any
    // write into the live gen-2 directory.
    val e = intercept[GraftException] {
      AtomicPublish.acquireClaimFrom(spark, root, stale)
    }
    assert(e.getMessage.contains("generation advanced"))
    // aborting released the claim (nothing was written), so publishing resumes
    val claimP = new org.apache.hadoop.fs.Path(root, "_CLAIM.gen-2")
    val fs = claimP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(claimP), "an aborted stale claim must self-release")
    new SinkNode(root, atomicPublish = true).transform(c,
      In.single("df" -> Seq((1L, "c")).toDF("id", "v")))          // gen-3
    assert(AtomicPublish.currentGen(spark, root).contains(3L))
    // gen-2 (now the rollback generation) was never clobbered
    assert(spark.read.parquet(s"$root/gen-2").as[(Long, String)]
      .collect().toSet == Set((1L, "b")))
  }

  test("publishDelta fold fence: an overlay commit while a publisher holds the " +
       "next-generation claim is refused up front and replays cleanly once " +
       "the fold commits (the listing can no longer miss a committed overlay)") {
    import spark.implicits._
    val c = Ctx(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_fence_spec").toString
    val root = s"$work/ds"
    new SinkNode(root, atomicPublish = true).transform(c,
      In.single("df" -> Seq((1L, "a")).toDF("id", "v")))
    // a fold has taken the gen-2 claim (compact claims BEFORE listing) and
    // is still writing — an overlay committed now might not be in its list
    val (cur, next) = AtomicPublish.acquireClaim(spark, root)
    val e = intercept[GraftException] {
      AtomicPublish.publishDelta(spark, root, 0L, { t =>
        Seq((2L, "b", false)).toDF("id", "v", MorCdc.DeletedCol)
          .coalesce(1).write.parquet(t)
      })
    }
    assert(e.getMessage.contains("claim"))
    assert(AtomicPublish.listDeltas(spark, root).isEmpty,
      "the fenced overlay must not commit")
    // the fold commits; the replayed batch lands on the new generation
    AtomicPublish.commitClaimed(spark, root, cur, next, { t =>
      Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(t)
    })
    AtomicPublish.publishDelta(spark, root, 0L, { t =>
      Seq((2L, "b", false)).toDF("id", "v", MorCdc.DeletedCol)
        .coalesce(1).write.parquet(t)
    })
    assert(AtomicPublish.listDeltas(spark, root).map(_._1) == Seq(0L))
    assert(MorCdc.read(spark, root, Seq("id")).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("MorCdc.applyStream bootstrap: a plain never-published directory takes " +
       "CDC waves — loose base files still schema-gate, no NPE (ADVICE r13)") {
    import spark.implicits._
    val c = Ctx(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_bootstrap_spec").toString
    val root = s"$work/ds"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(root) // plain dir
    val updDir = s"$work/upd"
    Seq((2L, "b2", false), (3L, "c", false)).toDF("id", "v", "is_delete")
      .coalesce(1).write.parquet(updDir)
    val stream = spark.readStream.schema("id LONG, v STRING, is_delete BOOLEAN")
      .option("pathGlobFilter", "*.parquet").parquet(updDir)
    MorCdc.applyStream(c, root, stream,
      new MergeNode(keys = Seq("id"), deleteCol = Some("is_delete")),
      compactEvery = 0, checkpoint = Some(s"$work/ckpt"))
    assert(AtomicPublish.listDeltas(spark, root).map(_._1) == Seq(0L))
    assert(MorCdc.read(spark, root, Seq("id")).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("MoR asOfBatch time travel: the resolved view at each overlay watermark; " +
       "folded history refused toward generation time travel") {
    import spark.implicits._
    val c = Ctx(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_mor_asof").toString
    val root = s"$work/ds"
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    new SinkNode(root, atomicPublish = true).transform(c, In.single("df" -> base))
    AtomicPublish.publishDelta(spark, root, 0L, { t =>
      Seq((2L, "b2", false)).toDF("id", "v", MorCdc.DeletedCol)
        .coalesce(1).write.parquet(t)
    })
    AtomicPublish.publishDelta(spark, root, 1L, { t =>
      Seq((1L, "", true), (9L, "new", false)).toDF("id", "v", MorCdc.DeletedCol)
        .coalesce(1).write.parquet(t)
    })
    def asOf(n: Long): Set[(Long, String)] =
      new MorSourceNode(root, keys = Seq("id"), asOfBatch = Some(n))
        .transform(c, In.empty)("result").as[(Long, String)].collect().toSet
    assert(asOf(0L) == Set((1L, "a"), (2L, "b2"), (3L, "c")),
      "asOf wave 0: update applied, wave 1 invisible")
    assert(asOf(1L) == Set((2L, "b2"), (3L, "c"), (9L, "new")))
    assert(asOf(99L) == asOf(1L), "a future watermark is the live view")
    // a compaction folds 0..1 into the base — that history is gone HERE
    MorCdc.compact(c, root, Seq("id"), throughBatch = 1L)
    val refused = intercept[GraftException] { asOf(0L) }
    assert(refused.getMessage.contains("folded through batch 1"))
    assert(asOf(1L) == Set((2L, "b2"), (3L, "c"), (9L, "new")),
      "the fold watermark itself stays addressable (= the new base)")
  }

  test("CheckpointNode(eager = false) — the lazy plan barrier: rows and schema " +
       "identical, downstream analysis sees a LEAF, streaming frames refused") {
    import spark.implicits._
    val c = Ctx(spark)
    val df = (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v")
      .filter("id % 2 = 0").selectExpr("id", "upper(v) as v")
    val out = new CheckpointNode(eager = false).transform(c, In.single("df" -> df))("result")
    assert(out.schema == df.schema)
    assert(out.as[(Long, String)].collect().toSet ==
      df.as[(Long, String)].collect().toSet)
    // the whole upstream (scan + filter + project) collapses to one leaf:
    // downstream Datasets re-analyze a constant-size tree, which is the
    // entire point (q124: 19.5 -> 7.0 s at sf0.1 from two barriers)
    val analyzed = out.groupBy("v").count().queryExecution.analyzed
    val leaves = analyzed.collectLeaves()
    assert(leaves.size == 1 &&
      leaves.head.getClass.getSimpleName.contains("LogicalRDD"),
      s"barrier output must analyze as a LogicalRDD leaf, got $leaves")
    val stream = spark.readStream.format("rate").load()
    val refused = intercept[GraftException] {
      new CheckpointNode(eager = false).transform(c, In.single("df" -> stream))
    }
    assert(refused.getMessage.contains("streaming"))
  }

  test("MorCdc.compact(statsColumns, layoutBy): the fold re-stamps the _filestats " +
       "manifest and re-lays out by range, so data skipping survives compaction; " +
       "a statless fold keeps the old loud refusal") {
    import spark.implicits._
    val c = Ctx(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_fold_stats").toString
    def publishBase(root: String): Unit = runOne { d =>
      d.add(srcNode((1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v"))) >>
        new RepartitionNode(10, Seq("id"), range = true) >>
        new SinkNode(root, atomicPublish = true, statsColumns = Seq("id"),
          bloomColumns = Seq("id")) >> d.output("result")
    }
    def overlay(root: String): Unit = AtomicPublish.publishDelta(spark, root, 0L, { t =>
      // an update at the FAR END of the key space: without fold re-layout
      // these rows would scatter into whatever file the fold wrote them to
      Seq((995L, "upd", false), (5L, "gone", true))
        .toDF("id", "v", MorCdc.DeletedCol).coalesce(1).write.parquet(t)
    })
    // statless fold: skipping dies with the old loud refusal (the gap)
    val bare = s"$work/bare"
    publishBase(bare); overlay(bare)
    MorCdc.compact(c, bare, Seq("id"), throughBatch = 0L)
    val dead = intercept[GraftException] {
      new StatsPrunedSourceNode(bare, pruneCols = Seq("id"),
        pruneLos = Seq(Some("101")), pruneHis = Seq(Some("200")))
        .transform(c, In.empty)
    }
    assert(dead.getMessage.contains("_filestats"))
    // stats-stamping fold: skipping survives, layout keeps it selective
    val kept = s"$work/kept"
    publishBase(kept); overlay(kept)
    MorCdc.compact(c, kept, Seq("id"), throughBatch = 0L,
      statsColumns = Seq("id"), bloomColumns = Seq("id"),
      layoutBy = Seq("id"), layoutPartitions = Some(10))
    assert(AtomicPublish.listDeltas(spark, kept).isEmpty)
    val pruned = new StatsPrunedSourceNode(kept, pruneCols = Seq("id"),
      pruneLos = Seq(Some("101")), pruneHis = Seq(Some("200")))
      .transform(c, In.empty)("result")
    assert(pruned.count() == 100L)
    assert(pruned.inputFiles.length <= 3,
      s"a 10% range over a re-laid fold must stay file-selective, " +
        s"opened ${pruned.inputFiles.length} of 10")
    // the overlay's content is INSIDE the fold (not lost by the re-layout)
    val far = new StatsPrunedSourceNode(kept, pruneCols = Seq("id"),
      pruneLos = Seq(Some("990")), pruneHis = Seq(Some("1000")))
      .transform(c, In.empty)("result")
      .as[(Long, String)].collect().toMap
    assert(far(995L) == "upd" && far.size == 11)
    // bloom manifest re-stamped too: point lookups skip post-fold
    val probe = Seq(5L, 995L).toDF("id")
    val hits = new BloomPrunedSourceNode(kept, inCol = "id")
      .transform(c, In.single("ids" -> probe))("result")
    assert(hits.as[(Long, String)].collect().toSet == Set((995L, "upd")),
      "tombstone gone, updated row served, from a bloom-pruned fold read")
    assert(hits.inputFiles.length <= 2,
      s"bloom point probe must stay file-selective post-fold, " +
        s"opened ${hits.inputFiles.length}")
  }

  test("MorCdc.compact(layoutZOrder): the fold re-clusters 2-D morton so BOTH " +
       "dimensions' re-stamped stats prune files post-compaction") {
    import spark.implicits._
    val c = Ctx(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_fold_z").toString
    val root = s"$work/ds"
    val grid = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x * 32 + y, x, y))
      .toDF("id", "x", "y")
    runOne { d =>
      d.add(srcNode(grid)) >>
        new ZOrderNode("x", "y", partitions = Some(16), keepKey = false) >>
        new SinkNode(root, atomicPublish = true, statsColumns = Seq("x", "y")) >>
        d.output("result")
    }
    AtomicPublish.publishDelta(spark, root, 0L, { t =>
      Seq((5L * 32 + 5, 5L, 5L, true), (2000L, 6L, 6L, false))
        .toDF("id", "x", "y", MorCdc.DeletedCol).coalesce(1).write.parquet(t)
    })
    MorCdc.compact(c, root, Seq("id"), throughBatch = 0L,
      statsColumns = Seq("x", "y"), layoutBy = Seq("x", "y"),
      layoutPartitions = Some(16), layoutZOrder = true)
    val pruned = new StatsPrunedSourceNode(root, pruneCols = Seq("x", "y"),
      pruneLos = Seq(Some("4"), Some("4")), pruneHis = Seq(Some("7"), Some("7")))
      .transform(c, In.empty)("result")
    // 4x4 box: 16 grid points, minus the tombstoned (5,5), plus the upsert
    // at (6,6) (id 2000 alongside the original id 197)
    assert(pruned.count() == 16L)
    assert(pruned.inputFiles.length <= 4,
      s"2-D box over a z-ordered FOLD must stay file-local, " +
        s"opened ${pruned.inputFiles.length} of 16")
    assert(pruned.filter("id = 2000").count() == 1L &&
      pruned.filter("x = 5 and y = 5").count() == 0L)
    val badDims = intercept[GraftException] {
      MorCdc.compact(c, root, Seq("id"), throughBatch = 0L,
        layoutBy = Seq("x"), layoutZOrder = true)
    }
    assert(badDims.getMessage.contains("morton"))
  }

  test("MoR schema evolution: an overlay ADDING a column is gated on the write " +
       "path, surfaces null-filled on the resolved view, folds into the base at " +
       "compaction; partial and retyped overlays are refused at read") {
    import spark.implicits._
    val c = Ctx(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_mor_evo").toString
    val root = s"$work/ds"
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    new SinkNode(root, atomicPublish = true).transform(c, In.single("df" -> base))
    val updDir = s"$work/upd"
    val fs = new org.apache.hadoop.fs.Path(updDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stamp(f: String, t: Long): Unit = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(f), false)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile) fs.setTimes(st.getPath, t, -1)
      }
    }
    // wave 0: pre-evolution payload
    Seq((2L, "b2", false)).toDF("id", "v", "is_delete")
      .coalesce(1).write.parquet(s"$updDir/b0")
    stamp(s"$updDir/b0", 1700000000000L)
    val merge = new MergeNode(keys = Seq("id"), deleteCol = Some("is_delete"))
    def stream(schema: String) = spark.readStream
      .schema(schema).option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet").option("recursiveFileLookup", "true")
      .parquet(updDir)
    MorCdc.applyStream(c, root, stream("id LONG, v STRING, is_delete BOOLEAN"),
      merge, compactEvery = 0, checkpoint = Some(s"$work/ckpt"))
    // wave 1 ships a NEW column — the feed restarts with the evolved schema
    // against the SAME checkpoint (offsets are schema-independent)
    Seq((3L, "c2", 0.9, false)).toDF("id", "v", "q", "is_delete")
      .coalesce(1).write.parquet(s"$updDir/b1")
    stamp(s"$updDir/b1", 1700000060000L)
    val evolved = "id LONG, v STRING, q DOUBLE, is_delete BOOLEAN"
    // write gate: without the flag the evolved wave is refused
    val refused = intercept[Exception] {
      MorCdc.applyStream(c, root, stream(evolved), merge,
        compactEvery = 0, checkpoint = Some(s"$work/ckpt"))
    }
    assert(refused.getMessage.contains("allowEvolution") ||
      Option(refused.getCause).exists(_.getMessage.contains("allowEvolution")),
      s"evolved wave must be refused without the flag, got: $refused")
    MorCdc.applyStream(c, root, stream(evolved), merge,
      compactEvery = 0, checkpoint = Some(s"$work/ckpt"), allowEvolution = true)
    assert(AtomicPublish.listDeltas(spark, root).map(_._1) == Seq(0L, 1L),
      "failed gate attempt must not have committed; both waves land once")
    // resolved view: new column present, pre-evolution rows null-fill
    def live(): Map[Long, (String, Option[Double])] =
      MorCdc.read(spark, root, Seq("id")).select("id", "v", "q")
        .as[(Long, String, Option[Double])].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
    val expect = Map(1L -> (("a", None)), 2L -> (("b2", None)), 3L -> (("c2", Some(0.9))))
    assert(live() == expect)
    // the tail's reader schema picks up the committed evolution
    val tailSchema = new MorTailNode(root).transform(c, In.empty)("result").schema
    assert(tailSchema.fieldNames.toSeq ==
      Seq("id", "v", "q", MorCdc.DeletedCol))
    // compaction folds the evolved schema into the base generation
    MorCdc.compact(c, root, Seq("id"), throughBatch = 1L)
    assert(new SourceNode(root).transform(c, In.empty)("result")
      .schema.fieldNames.toSet == Set("id", "v", "q"))
    assert(live() == expect, "fold must not change the resolved view")
    // read guards: partial payload / retyped column refused loudly
    AtomicPublish.publishDelta(spark, root, 2L, { t =>
      Seq((9L, false)).toDF("id", MorCdc.DeletedCol).coalesce(1).write.parquet(t)
    })
    val partial = intercept[GraftException] { live() }
    assert(partial.getMessage.contains("missing base column"))
    fs.delete(new org.apache.hadoop.fs.Path(
      s"${AtomicPublish.resolve(spark, root)}/_deltas/delta-2"), true)
    AtomicPublish.publishDelta(spark, root, 3L, { t =>
      Seq((9L, "x", 5, false)).toDF("id", "v", "q", MorCdc.DeletedCol)
        .coalesce(1).write.parquet(t)
    })
    val retyped = intercept[GraftException] { live() }
    assert(retyped.getMessage.contains("retypes"))
  }

  test("MorTailNode(followCompactions): one subscription survives a compaction " +
       "fold — new generation's overlays keep flowing, nothing redelivered; a " +
       "fresh follower skips retired generations' overlay dirs") {
    import spark.implicits._
    val c = Ctx(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_mortail_fc").toString
    val root = s"$work/ds"
    val base = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    new SinkNode(root, atomicPublish = true).transform(c, In.single("df" -> base))
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Set[(Long, String, Boolean)])]()
    def drain(ckpt: String): Unit = {
      val tail = new MorTailNode(root, maxFilesPerTrigger = Some(1),
        followCompactions = true).transform(c, In.empty)("result")
      val q = tail.writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          batches.add((id, b.as[(Long, String, Boolean)].collect().toSet)); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // wave 1 lands in gen-1; the follower drains it
    AtomicPublish.publishDelta(spark, root, 1L, { t =>
      Seq((5L, "upd", false), (7L, "gone", true))
        .toDF("id", "v", MorCdc.DeletedCol).coalesce(1).write.parquet(t)
    })
    drain(s"$work/ckpt")
    assert(batches.size == 1 &&
      batches.peek()._2 == Set((5L, "upd", false), (7L, "gone", true)))
    // a compaction folds gen-1 ⊕ wave 1 into gen-2; wave 2 lands in gen-2.
    // The SAME subscription (same checkpoint) must keep consuming — only the
    // new wave, never a refold or a redelivery
    MorCdc.compact(c, root, Seq("id"), throughBatch = 1L)
    assert(AtomicPublish.currentGen(spark, root).contains(2L))
    AtomicPublish.publishDelta(spark, root, 2L, { t =>
      Seq((500L, "new", false), (5L, "upd2", false))
        .toDF("id", "v", MorCdc.DeletedCol).coalesce(1).write.parquet(t)
    })
    batches.clear()
    drain(s"$work/ckpt")
    val crossed = batches.toArray(Array.empty[(Long, Set[(Long, String, Boolean)])]).toSeq
    assert(crossed.size == 1,
      s"exactly the post-fold wave must arrive across the compaction, got $crossed")
    assert(crossed.head._2 == Set((500L, "new", false), (5L, "upd2", false)))
    // base(start) ⊕ everything delivered == the live resolved view
    val delivered = Set((5L, "upd", false), (7L, "gone", true)) ++ crossed.head._2
    val lastPerKey = delivered.groupBy(_._1).map { case (_, vs) =>
      // upd2 supersedes upd for id 5 — wave order is the delivery order
      vs.maxBy(v => if (v._2 == "upd") 0 else 1) }
    val applied = base.as[(Long, String)].collect().toSet
      .filterNot(r => lastPerKey.exists(_._1 == r._1)) ++
      lastPerKey.filterNot(_._3).map(r => (r._1, r._2))
    val resolved = new MorSourceNode(root, keys = Seq("id"))
      .transform(c, In.empty)("result").as[(Long, String)].collect().toSet
    assert(applied == resolved, "the cross-fold feed must reconstruct the live view")
    // a FRESH follower subscribing now (startGen = 2) must skip gen-1's
    // retired overlay dir — its content is already inside gen-2's base —
    // and deliver exactly gen-2's outstanding overlay
    batches.clear()
    drain(s"$work/ckpt_fresh")
    val fresh = batches.toArray(Array.empty[(Long, Set[(Long, String, Boolean)])]).toSeq
    // the retired gen-1 overlay FILE may surface as an empty batch (the
    // generation filter is row-level); its ROWS must never be delivered
    assert(fresh.flatMap(_._2).toSet == Set((500L, "new", false), (5L, "upd2", false)),
      s"a fresh follower must see only the live generation's overlay rows, got $fresh")
  }

  test("Z-order layout + two-column file stats: a 2-D range prunes files on BOTH " +
       "dimensions (the claim the ZOrderNode doc makes, now closed end-to-end)") {
    import spark.implicits._
    val c = Ctx(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_zstats_spec").toString
    val root = s"$work/ds"
    // 32x32 grid of (x, y) points; morton clustering puts 2-D neighborhoods
    // into the same files, so min/max stats on x AND y are BOTH selective
    val grid = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y, x * 32 + y))
      .toDF("x", "y", "payload")
    runOne { d =>
      d.add(srcNode(grid)) >>
        new ZOrderNode("x", "y", partitions = Some(16), keepKey = false) >>
        new SinkNode(root, atomicPublish = true, statsColumns = Seq("x", "y")) >>
        d.output("result")
    }
    val pruned = new StatsPrunedSourceNode(root,
      pruneCols = Seq("x", "y"),
      pruneLos = Seq(Some("4"), Some("4")),
      pruneHis = Seq(Some("7"), Some("7")))
      .transform(c, In.empty)("result")
    // a 4x4 box (16 of 1024 points) in a morton layout sits in O(1) files
    assert(pruned.count() == 16L)
    assert(pruned.inputFiles.length <= 4,
      s"2-D box over a z-order layout must touch few files, " +
        s"opened ${pruned.inputFiles.length} of 16")
    // content equality with the declarative filter
    assert(pruned.selectExpr("x", "y", "payload").as[(Long, Long, Long)].collect().toSet ==
      grid.filter("x between 4 and 7 and y between 4 and 7")
        .as[(Long, Long, Long)].collect().toSet)
  }

  test("MorCdc on a hive-PARTITIONED base: overlays resolve with the partition " +
       "column intact; compaction stamps numeric profiles") {
    import spark.implicits._
    val c = Ctx(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_mor_part").toString
    val root = s"$work/ds"
    val base = (1L to 60L).map(i => (i, s"v$i", s"g${i % 3}")).toDF("id", "v", "grp")
    new SinkNode(root, atomicPublish = true, partitionBy = Seq("grp"))
      .transform(c, In.single("df" -> base))
    // overlay: upsert id 1 into a different partition value, delete id 2
    AtomicPublish.publishDelta(spark, root, 0L, { t =>
      Seq((1L, "v1x", "g9", false), (2L, "v2", "g2", true))
        .toDF("id", "v", "grp", MorCdc.DeletedCol).write.parquet(t)
    })
    val live = MorCdc.read(spark, root, Seq("id"))
      .select("id", "v", "grp").as[(Long, String, String)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(live.size == 59)
    assert(live(1L) == (("v1x", "g9")), "overlay wins incl. partition column")
    assert(!live.contains(2L), "tombstone must drop the partitioned base row")
    assert(live(3L) == (("v3", "g0")), "untouched base rows keep partition values")
    // compaction folds the partitioned base + overlay and stamps profiles
    MorCdc.compact(c, root, Seq("id"), 0L,
      numericProfiles = Seq(NumericProfileNode.Spec("id", 0.0, 64.0, 8)))
    val gen = AtomicPublish.currentGen(spark, root).get
    val prof = spark.read.parquet(s"$root/gen-$gen/_numprofile")
    assert(prof.selectExpr("cast(sum(n) as long)").collect().head.getLong(0) == 59L)
    assert(MorCdc.read(spark, root, Seq("id")).count() == 59L)
  }

  test("MorCdc.normalizeBatch: upsert outranks tombstone within a batch; last_wins " +
       "recency; duplicate non-tombstone keys fail loudly under error policy") {
    import spark.implicits._
    def norm(df: DataFrame, m: MergeNode): Set[(Long, String, Boolean)] =
      MorCdc.normalizeBatch(df, m)
        .select(col("id"), col("v"), col(MorCdc.DeletedCol))
        .as[(Long, String, Boolean)].collect().toSet
    // upsert + tombstone for the same key in one batch -> the upsert wins
    // (MergeNode's convention: the anti-join removes the base row, the
    // upsert is still inserted)
    val both = Seq((7L, "new", false), (7L, "old", true)).toDF("id", "v", "del")
    assert(norm(both, new MergeNode(Seq("id"), deleteCol = Some("del"))) ==
      Set((7L, "new", false)))
    // last_wins: highest orderCol among non-tombstones survives
    val dups = Seq((7L, "v1", false, 1L), (7L, "v2", false, 5L), (8L, "w", true, 9L))
      .toDF("id", "v", "del", "seq")
    val lw = new MergeNode(Seq("id"), deleteCol = Some("del"),
      onDuplicate = "last_wins", orderCol = Some("seq"))
    assert(norm(dups, lw) == Set((7L, "v2", false), (8L, "w", true)))
    // error policy: duplicate non-tombstone keys break the plan loudly
    val err = intercept[Exception] {
      MorCdc.normalizeBatch(
        Seq((7L, "v1", false), (7L, "v2", false)).toDF("id", "v", "del"),
        new MergeNode(Seq("id"), deleteCol = Some("del"))).collect()
    }
    assert(err.getMessage != null)
  }

  test("SketchProfileNode/SketchMergeNode: adversarial generation splits merge to the " +
       "whole-corpus sketch exactly; merges re-merge; empty generation tolerated") {
    import spark.implicits._
    val rows = (0L until 5000L)
      .map(i => (i, s"v${i % 977}", if (i < 4990) "hot" else s"cold_$i"))
      .toDF("id", "modval", "skewed")
    val cols = Seq("id", "modval", "skewed")
    val c = Ctx(spark)
    def profile(df: DataFrame): DataFrame =
      new SketchProfileNode(cols).transform(c, In.single("df" -> df))("result")
    def ests(df: DataFrame): Map[String, Long] =
      df.select("col_name", "est_distinct").as[(String, Long)].collect().toMap
    val full = profile(rows)
    // adversarial split: tiny head / huge tail / EMPTY generation
    val gens = Seq(rows.filter("id < 10"), rows.filter("id >= 10"), rows.filter("false"))
    val merged = new SketchMergeNode().transform(c,
      In(Map("sketches" -> gens.map(profile))))("result")
    // coupon-exact regime (low cardinality): merged == full == exact
    val exact = Map("id" -> 5000L, "modval" -> 977L, "skewed" -> 11L)
    Seq("modval", "skewed").foreach { k =>
      assert(ests(merged)(k) == exact(k) && ests(full)(k) == exact(k))
    }
    // merge of merges (the generation-tree rollup) == flat merge, exactly —
    // both sides estimate through the same composite path
    val m01 = new SketchMergeNode().transform(c,
      In(Map("sketches" -> gens.take(2).map(profile))))("result")
    val rolled = new SketchMergeNode().transform(c,
      In(Map("sketches" -> Seq(m01, profile(gens(2))))))("result")
    assert(ests(rolled) == ests(merged))
    // past the coupon regime (id: 5000 distinct) streamed-HIP and unioned-
    // composite estimates may differ, but BOTH stay within the HLL bound
    // (5% ≈ 6σ at lgK 14) — the q150 driver-checked contract
    Seq(ests(full), ests(merged)).foreach(_.foreach { case (k, est) =>
      assert(math.abs(est - exact(k)) * 20 <= exact(k), s"$k: est $est vs ${exact(k)}")
    })
  }

  test("IndexMaintenance.maintainFromStream: multi-batch streamed refresh == one-shot build; " +
       "replayed batch ids are skipped; replay watermark round-trips through save/load") {
    import spark.implicits._
    val docs = (0L until 40L)
      .map(i => (i, s"alpha beta w$i gamma delta epsilon")).toDF("doc_id", "text")
    val c = Ctx(spark)
    val streamed = new InvertedIndexNode(k = 3, maxDfFrac = 1.0)
    streamed.fit(c, In.single("corpus" -> docs.filter("doc_id % 2 = 0")))
    val stage = java.nio.file.Files.createTempDirectory("graft_maint_spec").toString
    docs.filter("doc_id % 2 = 1").repartition(3)
      .write.mode("overwrite").parquet(s"$stage/delta")
    def deltaStream = spark.readStream
      .schema(spark.read.parquet(s"$stage/delta").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$stage/delta")
    IndexMaintenance.maintainFromStream(streamed, c, deltaStream,
      checkpoint = Some(s"$stage/ckpt"))
    assert(streamed.lastAppliedBatch == 2L) // 3 staged files -> batches 0, 1, 2
    // exact incremental statistics: streamed refresh == one-shot whole-corpus fit
    val ref = new InvertedIndexNode(k = 3, maxDfFrac = 1.0)
    ref.fit(c, In.single("corpus" -> docs))
    val queries = docs.filter("doc_id < 4").selectExpr("doc_id as query_id", "text")
    def res(n: InvertedIndexNode): Set[(Long, Long, Long, Int)] =
      n.transform(c, In.single("queries" -> queries))("result")
        .select("query_id", "doc_id", "score", "rank")
        .as[(Long, Long, Long, Int)].collect().toSet
    assert(res(streamed) == res(ref))
    // crash-replay drill: a fresh checkpoint redelivers ALL batches with the
    // same ids (0..2) — the lastAppliedBatch guard must skip every one, or
    // df/N would double-count and the scores below would shift
    IndexMaintenance.maintainFromStream(streamed, c, deltaStream,
      checkpoint = Some(s"$stage/ckpt2"))
    assert(streamed.lastAppliedBatch == 2L)
    assert(res(streamed) == res(ref))
    // the replay watermark persists with the index
    streamed.saveFitted(s"$stage/save")
    val loaded = new InvertedIndexNode(k = 3, maxDfFrac = 1.0)
    loaded.loadFitted(s"$stage/save", Some(spark))
    assert(loaded.lastAppliedBatch == 2L)
    assert(res(loaded) == res(ref))
    // a pre-maintenance save (no maintenance dir) loads as -1, not an error
    val bare = new InvertedIndexNode(k = 3, maxDfFrac = 1.0)
    bare.fit(c, In.single("corpus" -> docs))
    val bareDir = s"$stage/bare"
    bare.saveFitted(bareDir)
    val fs = new org.apache.hadoop.fs.Path(bareDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$bareDir/maintenance"), true)
    val legacy = new InvertedIndexNode(k = 3, maxDfFrac = 1.0)
    legacy.loadFitted(bareDir, Some(spark))
    assert(legacy.lastAppliedBatch == -1L)
    Seq(streamed, ref, loaded, bare, legacy).foreach(_.unpersistIndex())
  }

  test("InvertedIndexNode bm25 scoring: incremental fit+update+delete == one-shot " +
       "Bm25TopKNode over the live corpus; streaming bm25 refused; save/load keeps stats") {
    import spark.implicits._
    val c = Ctx(spark)
    val base = Seq(
      (1L, "apple banana apple apple banana cherry"),
      (2L, "banana cherry"),
      (3L, "durian elder fig grape melon peach plum")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "apple cherry cherry melon"),
      (11L, "grape apple banana banana banana")).toDF("doc_id", "text")
    val queries = Seq((100L, "apple cherry"), (101L, "banana grape")).toDF("query_id", "text")
    val idx = new InvertedIndexNode(k = 10, maxDfFrac = 0.9, scoring = "bm25")
    idx.fit(c, In.single("corpus" -> base))
    idx.updateIndex(c, delta)
    idx.deleteFromIndex(c, Seq(2L, 999L).toDF("doc_id"))
    def res(df: DataFrame): Set[(Long, Long, Long, Int)] = df
      .select("query_id", "doc_id", "score", "rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    val got = res(idx.transform(c, In.single("queries" -> queries))("result"))
    // one-shot BM25 over the live corpus must agree bit-for-bit: the
    // incremental (post_docs, len_sum) scalars and the decremented df all
    // feed the same fixed-point arithmetic
    val oneShot = new Bm25TopKNode(k = 10, maxDfFrac = 0.9)
    val ref = res(runOne { d =>
      d.add(srcNode(base.union(delta).filter("doc_id != 2"), "corp")) >> oneShot("corpus")
      d.add(srcNode(queries, "qs")) >> oneShot("queries")
      oneShot >> d.output("result")
    })
    assert(got == ref && got.nonEmpty)
    // save/load round-trips the BM25 scalars
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25idx_spec").toString
    idx.saveFitted(dir)
    val loaded = new InvertedIndexNode(k = 10, maxDfFrac = 0.9, scoring = "bm25")
    loaded.loadFitted(dir, Some(spark))
    assert(res(loaded.transform(c, In.single("queries" -> queries))("result")) == ref)
    // streaming queries refuse bm25 loudly
    val tmp = java.nio.file.Files.createTempDirectory("graft_bm25_stream").toString
    queries.write.mode("overwrite").parquet(s"$tmp/q")
    val sq = spark.readStream.schema(queries.schema).parquet(s"$tmp/q")
    val err = intercept[GraftException](
      idx.transform(c, In.single("queries" -> sq)))
    assert(err.getMessage.contains("batch-only"))
    idx.unpersistIndex(); loaded.unpersistIndex()
  }

  test("InvertedIndexNode.deleteFromIndex: bit-identical to a from-scratch post-delete fit, " +
       "including empty-token docs and unknown-id tombstones") {
    import spark.implicits._
    val c = Ctx(spark)
    val base = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "durian elder fig"),
      (4L, "")). // tokenizes to nothing — counted in N, no postings
      toDF("doc_id", "text")
    val delta = Seq(
      (10L, "apple cherry cherry"),
      (11L, "grape apple banana")).toDF("doc_id", "text")
    // delete a base doc, a delta doc, the empty-token doc, and an unknown id
    val deletes = Seq(2L, 10L, 4L, 999L).toDF("doc_id")
    // maxDfFrac < 1 makes pruning depend on N: a wrong N decrement (e.g.
    // counting the unknown id, or missing the empty-token doc) shifts the
    // df cap and the results diverge
    val idx = new InvertedIndexNode(k = 10, maxDfFrac = 0.5)
    idx.fit(c, In.single("corpus" -> base))
    idx.updateIndex(c, delta)
    idx.deleteFromIndex(c, deletes)
    val scratch = new InvertedIndexNode(k = 10, maxDfFrac = 0.5)
    scratch.fit(c, In.single("corpus" ->
      base.union(delta).filter("doc_id not in (2, 10, 4)")))
    val queries = Seq((100L, "apple cherry"), (101L, "banana fig")).toDF("query_id", "text")
    def res(n: InvertedIndexNode): Set[(Long, Long, Long, Int)] =
      n.transform(c, In.single("queries" -> queries))("result")
        .select("query_id", "doc_id", "score", "rank")
        .as[(Long, Long, Long, Int)].collect().toSet
    assert(res(idx) == res(scratch))
    // internals, not just serving: postings/terms/N all match from-scratch
    def stats(n: InvertedIndexNode) = (
      n.model.get.nDocs,
      n.model.get.postings.as[(String, Long, Long, Long)].collect().toSet,
      n.model.get.terms.as[(String, Long)].collect().toSet)
    assert(stats(idx) == stats(scratch))
    assert(idx.model.get.nDocs == 3L)
    idx.unpersistIndex(); scratch.unpersistIndex()
  }

  test("IvfIndexNode.deleteFromIndex: deleted vectors leave serving; survivors unchanged") {
    import spark.implicits._
    val c = Ctx(spark)
    def vecs(ids: Long*): DataFrame = ids.map(i =>
      (i, Array(i.toDouble, (i % 3).toDouble, 1.0))).toDF("vec_id", "embedding")
    val idx = new IvfIndexNode(k = 10, nClusters = 2, nProbe = 2)
    idx.fit(c, In.single("corpus" -> vecs(1L, 2L, 3L, 4L)))
    idx.updateIndex(c, vecs(10L, 11L))
    idx.deleteFromIndex(c, Seq(2L, 10L, 999L).toDF("vec_id"))
    val q = Seq((100L, Array(1.0, 1.0, 1.0))).toDF("query_id", "embedding")
    val served = idx.transform(c, In.single("queries" -> q))("result")
      .select("vec_id").as[Long].collect().toSet
    assert(served == Set(1L, 3L, 4L, 11L)) // probe-all + k >= corpus: all live, none deleted
    idx.unpersistIndex()
  }

  test("IvfIndexNode quantized mode: full lifecycle (fit/update/delete/rebuild/save-load) " +
       "identical to the float path at a covering rerank; codes survive every op") {
    import spark.implicits._
    val c = Ctx(spark)
    def vecs(ids: Long*): DataFrame = ids.map(i =>
      (i, Array(math.sin(i * 1.7).toFloat, math.cos(i * 0.9).toFloat,
        (i % 5).toFloat, 1.0f))).toDF("vec_id", "embedding")
    def mk(q: Boolean) = new IvfIndexNode(k = 6, nClusters = 3, nProbe = 2,
      quantized = q, rerank = 1000)
    def lifecycle(idx: IvfIndexNode): Set[(Long, Long, Int)] = {
      idx.fit(c, In.single("corpus" -> vecs(1L to 20L: _*)))
      idx.updateIndex(c, vecs(30L to 35L: _*))
      idx.deleteFromIndex(c, Seq(3L, 31L).toDF("vec_id"))
      idx.rebuildIndex(c)
      val q = vecs(101L, 102L).selectExpr("vec_id as query_id", "embedding")
      idx.transform(c, In.single("queries" -> q))("result")
        .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    }
    val fl = mk(q = false); val qz = mk(q = true)
    val (rf, rq) = (lifecycle(fl), lifecycle(qz))
    // at rerank >= every probed candidate the quantized path must agree
    // with the float path exactly (same probe, same exact re-rank)
    assert(rq == rf)
    // the code columns actually exist and survived delete+rebuild
    assert(qz.model.get.assignments.columns.toSet.contains("__cq"))
    assert(qz.model.get.assignments.count() == 24L) // 20 + 6 - 2
    // save/load keeps the quantized schema serving identically
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfq_spec").toString
    qz.saveFitted(dir)
    val loaded = mk(q = true)
    loaded.loadFitted(dir, Some(spark))
    val q2 = vecs(101L, 102L).selectExpr("vec_id as query_id", "embedding")
    assert(loaded.transform(c, In.single("queries" -> q2))("result")
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet == rq)
    Seq(fl, qz, loaded).foreach(_.unpersistIndex())
  }

  test("IvfIndexNode.rebuildIndex: re-fits centroids from index contents, conserves rows, " +
       "keeps probe/assignment argmin agreement, composes with deletes") {
    import spark.implicits._
    val c = Ctx(spark)
    val base = (1L to 20L).map(i =>
      (i, Array((i % 4).toFloat, (i % 5).toFloat, 1.0f))).toDF("vec_id", "embedding")
    // drifted delta: compact far-away cloud — frozen centroids concentrate it
    val drift = (101L to 110L).map(i =>
      (i, Array(-10.0f + 0.01f * i, -10.0f, -10.0f))).toDF("vec_id", "embedding")
    val idx = new IvfIndexNode(k = 50, nClusters = 3, nProbe = 1, maxLiteralCentroids = 0)
    idx.fit(c, In.single("corpus" -> base))
    idx.updateIndex(c, drift)
    idx.deleteFromIndex(c, Seq(105L).toDF("vec_id"))
    val centsBefore = idx.model.get.centroids.collect().toSet
    idx.rebuildIndex(c)
    assert(idx.model.get.centroids.collect().toSet != centsBefore) // actually re-fit
    assert(idx.model.get.assignments.count() == 29L) // 20 + 10 - 1, conserved
    // self-retrieval at nProbe=1 is 100% post-rebuild: probe and
    // re-assignment share the NEW centroids (argmin agreement)
    val q = drift.filter("vec_id != 105").selectExpr("vec_id as query_id", "embedding")
    val hits = idx.transform(c, In.single("queries" -> q))("result")
      .filter("query_id = vec_id").count()
    assert(hits == 9L)
    idx.unpersistIndex()
  }

  test("MinHashIndexNode.deleteFromIndex: deleted base docs stop matching deltas") {
    import spark.implicits._
    val c = Ctx(spark)
    val baseText = (1 to 40).map(i => s"w$i").mkString(" ")
    val base = Seq(
      (1L, baseText),
      (3L, baseText.replace("w7", "zz")),
      (4L, (100 to 140).map(i => s"v$i").mkString(" "))).toDF("doc_id", "text")
    val idx = new MinHashIndexNode(numHashes = 32, bands = 16, jaccardThreshold = 0.5)
    idx.fit(c, In.single("corpus" -> base))
    val probe = Seq((50L, baseText)).toDF("doc_id", "text")
    def hits: Set[Long] = idx.transform(c, In.single("delta" -> probe))("result")
      .select("base_id").as[Long].collect().toSet
    assert(hits == Set(1L, 3L))
    idx.deleteFromIndex(c, Seq(3L, 999L).toDF("doc_id"))
    assert(hits == Set(1L))
    // internals: both frames dropped the doc
    assert(idx.model.get.shingles.filter("base_id = 3").count() == 0)
    assert(idx.model.get.buckets.filter("base_id = 3").count() == 0)
    idx.unpersistIndex()
  }

  test("MinHashIndexNode.rebuildIndex: capped buckets resurrect after deletes; " +
       "rebuilt index == from-scratch fit over live docs bit-for-bit") {
    import spark.implicits._
    val c = Ctx(spark)
    val famText = (1 to 40).map(i => s"w$i").mkString(" ")
    // a 6-member exact-dup family (ids 1-6) plus two unrelated docs
    val family = (1L to 6L).map(i => (i, famText))
    val base = (family ++ Seq(
      (50L, (100 to 140).map(i => s"v$i").mkString(" ")),
      (51L, (200 to 240).map(i => s"u$i").mkString(" ")))).toDF("doc_id", "text")
    val idx = new MinHashIndexNode(numHashes = 32, bands = 16,
      jaccardThreshold = 0.8, maxBucket = 4)
    idx.fit(c, In.single("corpus" -> base))
    val probe = Seq((1000L, famText)).toDF("doc_id", "text")
    def hits: Set[Long] = idx.transform(c, In.single("delta" -> probe))("result")
      .select("base_id").as[Long].collect().toSet
    assert(hits == Set.empty[Long]) // family bucket (6 > 4) dropped whole at fit
    idx.deleteFromIndex(c, Seq(5L, 6L, 50L).toDF("doc_id"))
    assert(hits == Set.empty[Long]) // delete alone cannot resurrect dropped rows
    idx.rebuildIndex()
    assert(hits == Set(1L, 2L, 3L, 4L)) // 4 <= cap: bucket resurrected
    // bit-for-bit vs a from-scratch fit over the live docs
    val scratch = new MinHashIndexNode(numHashes = 32, bands = 16,
      jaccardThreshold = 0.8, maxBucket = 4)
    scratch.fit(c, In.single("corpus" -> base.filter("doc_id not in (5, 6, 50)")))
    def buckets(n: MinHashIndexNode): Set[(Int, Long, Long)] =
      n.model.get.buckets.as[(Int, Long, Long)].collect().toSet
    assert(buckets(idx) == buckets(scratch))
    idx.unpersistIndex(); scratch.unpersistIndex()
  }

  test("ClusterIndexNode.deleteFromIndex: tombstone masks base, survivors keep historical " +
       "labels, re-added ids start fresh, fold preserves state") {
    import spark.implicits._
    val c = Ctx(spark)
    val queries = Seq(1L, 2L, 3L, 50L).toDF("doc_id")
    def mapping(n: ClusterIndexNode): Set[(Long, Long)] =
      n.transform(c, In.single("queries" -> queries))("result")
        .as[(Long, Long)].collect().toSet
    val idx = new ClusterIndexNode()
    idx.fit(c, In.single("pairs" -> Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")))
    assert(mapping(idx) == Set((1L, 1L), (2L, 1L), (3L, 1L), (50L, 50L)))
    idx.deleteFromIndex(c, Seq(2L).toDF("doc_id"))
    // 2 now maps to itself (singleton, like any unknown id); 1 and 3 RETAIN
    // label 1 — connectivity evidence through the deleted doc is kept
    assert(mapping(idx) == Set((1L, 1L), (2L, 2L), (3L, 1L), (50L, 50L)))
    // a delta edge naming the deleted id re-admits it as a NEW node: it
    // joins only the new evidence (2-50), not its old cluster
    idx.updateIndex(c, Seq((2L, 50L)).toDF("id_a", "id_b"))
    assert(mapping(idx) == Set((1L, 1L), (2L, 2L), (3L, 1L), (50L, 2L)))
    // folding the overlays into the base changes nothing observable
    idx.foldOverlay()
    assert(mapping(idx) == Set((1L, 1L), (2L, 2L), (3L, 1L), (50L, 2L)))
    // delete a FRESH id (in the post-fold base now); delete it and re-check
    idx.deleteFromIndex(c, Seq(50L).toDF("doc_id"))
    assert(mapping(idx) == Set((1L, 1L), (2L, 2L), (3L, 1L), (50L, 50L)))
    // broadcast gate (VERDICT r17 #6): bounded overlays serve with the
    // broadcast hints on the tombstone/remap joins; oversized ones (forced
    // via the test hook — organically only reachable inside the fold that
    // clears them) drop the hints so the planner sizes from plan stats
    // instead of force-broadcasting an unbounded frame. Results identical.
    def overlayHints(n: ClusterIndexNode): Int =
      n.transform(c, In.single("queries" -> queries))("result")
        .queryExecution.analyzed.collect {
          case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
        }.size
    // the serve lineage carries upstream hints too — assert the DELTA:
    // exactly the two overlay hints disappear when the counts cross the gate
    val hinted = overlayHints(idx)
    idx.overlayRowsForTest(tomb = 5000001L, remap = 5000001L)
    assert(overlayHints(idx) == hinted - 2,
      "oversized overlays must drop exactly the two overlay broadcast hints")
    assert(mapping(idx) == Set((1L, 1L), (2L, 2L), (3L, 1L), (50L, 50L)))
    idx.overlayRowsForTest(0L, 0L)
    idx.unpersistIndex()
  }

  test("maintainFromStream multi-overlay batching: a micro-batch folding " +
       "overlays that DELETE and RE-INSERT the same key net-resolves to the " +
       "latest version by wave order — equal to sequential per-overlay " +
       "application; refusal without waveCol/deleteCol") {
    import spark.implicits._
    val c = Ctx(spark)
    val root = java.nio.file.Files
      .createTempDirectory("graft_multiov_spec").toString + "/pub"
    // base generation: docs 0-9, payload v0
    AtomicPublish.publish(spark, root, t =>
      (0L until 10L).map(i => (i, s"v0_$i")).toDF("doc_id", "payload")
        .coalesce(1).write.parquet(t))
    // consumer seeds from the base generation BEFORE any overlay commits
    val agg = new AggIndexNode(groupCols = Seq("payload"), idCol = "doc_id")
    agg.fit(c, In.single("corpus" -> new MorSourceNode(root,
      keys = Seq("doc_id")).transform(c, In.empty)("result")))
    // overlay 1: tombstone docs 2,3 + insert doc 20 (v1)
    AtomicPublish.publishDelta(spark, root, 1L, { t =>
      Seq((2L, null: String, true), (3L, null: String, true),
        (20L, "v1_20", false))
        .toDF("doc_id", "payload", MorCdc.DeletedCol)
        .coalesce(1).write.parquet(t)
    })
    // overlay 2: RE-INSERT doc 3 with a NEW payload + tombstone doc 20 —
    // the same keys overlay 1 touched, opposite polarity. Folded into one
    // batch, the pre-netResolve CDC order (upserts first, deletes last)
    // would delete doc 20 correctly but ALSO end doc 3 deleted if the
    // overlay-1 tombstone won — net-resolution by wave order must keep
    // doc 3 (v2) and drop doc 20.
    AtomicPublish.publishDelta(spark, root, 2L, { t =>
      Seq((3L, "v2_3", false), (20L, null: String, true))
        .toDF("doc_id", "payload", MorCdc.DeletedCol)
        .coalesce(1).write.parquet(t)
    })
    // BOTH overlays in one micro-batch (no maxFilesPerTrigger cap)
    val tail = new MorTailNode(root, waveIdCol = Some("__wave"))
      .transform(c, In.empty)("result")
    IndexMaintenance.maintainFromStream(agg, c, tail,
      checkpoint = Some(root + "_ckpt"), deleteCol = Some(MorCdc.DeletedCol),
      netResolveKeys = Seq("doc_id"), waveCol = Some("__wave"))
    assert(agg.lastAppliedBatch == 0L,
      "both overlays must fold into ONE micro-batch for this drill")
    // oracle: sequential application = docs {0,1,4..9} v0 + doc 3 v2
    val expect = ((0L until 10L).filterNot(Set(2L, 3L).contains)
      .map(i => (s"v0_$i", 1L)) :+ (("v2_3", 1L))).toSet
    val probe = (0L until 10L).map(i => s"v0_$i")
      .union(Seq("v1_20", "v2_3")).toDF("payload")
    val got = agg.transform(c, In.single("probe" -> probe))("result")
      .select("payload", "n_rows").as[(String, Long)].collect().toSet
    assert(got == expect, s"got $got want $expect")
    agg.unpersistIndex()
    // refusal: netResolveKeys without waveCol (or deleteCol) is an error
    val err = intercept[GraftException] {
      IndexMaintenance.maintainFromStream(agg, c,
        new MorTailNode(root).transform(c, In.empty)("result"),
        deleteCol = Some(MorCdc.DeletedCol), netResolveKeys = Seq("doc_id"))
    }
    assert(err.getMessage.contains("waveCol"))
  }

  test("maintainFromStream net-resolution: two NULL wave stamps for one key " +
       "in one micro-batch are a duplicate and raise the contract error, as " +
       "is a duplicate in an older wave; a key's single NULL-stamped row " +
       "resolves normally") {
    import spark.implicits._
    val c = Ctx(spark)
    val stage = java.nio.file.Files.createTempDirectory("graft_nullwave_spec").toString
    val schema = "doc_id BIGINT, payload STRING, is_del BOOLEAN, wave BIGINT"
    val probe = Seq("a", "b", "c", "d", "e", "f").toDF("payload")
    // each drill drains ONE micro-batch (batch id 0) into a fresh index
    def drain(dir: String, rows: Seq[(Long, String, Boolean, Option[Long])])
        : (AggIndexNode, () => Set[(String, Long)]) = {
      val agg = new AggIndexNode(groupCols = Seq("payload"), idCol = "doc_id")
      agg.fit(c, In.single("corpus" -> Seq((0L, "a")).toDF("doc_id", "payload")))
      def served(): Set[(String, Long)] =
        agg.transform(c, In.single("probe" -> probe))("result")
          .select("payload", "n_rows").as[(String, Long)].collect().toSet
      rows.toDF("doc_id", "payload", "is_del", "wave")
        .coalesce(1).write.parquet(s"$stage/$dir")
      try IndexMaintenance.maintainFromStream(agg, c,
        spark.readStream.schema(schema).parquet(s"$stage/$dir"),
        checkpoint = Some(s"$stage/${dir}_ckpt"), deleteCol = Some("is_del"),
        netResolveKeys = Seq("doc_id"), waveCol = Some("wave"))
      catch { case e: Throwable =>
        assert(served() == Set(("a", 1L)),
          "a refused micro-batch must leave the index untouched")
        agg.unpersistIndex()
        throw e
      }
      (agg, () => served())
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    def refused(dir: String, rows: Seq[(Long, String, Boolean, Option[Long])]): Unit = {
      val err = intercept[Exception](drain(dir, rows))
      assert(msgs(err).exists(_.contains("net-resolution contract")),
        s"$dir: want the duplicate-key contract error, got: ${msgs(err).mkString(" | ")}")
    }
    // one row per key, one of them NULL-stamped: no duplicate
    val (ok, served) = drain("ok", Seq((2L, "b", false, None), (3L, "c", false, Some(5L))))
    assert(served() == Set(("a", 1L), ("b", 1L), ("c", 1L)))
    ok.unpersistIndex()
    // two NULL-stamped rows for key 1: NULL <=> NULL is one wave
    refused("null_dup", Seq((1L, "d", false, None), (1L, "e", false, None)))
    // a duplicate in an OLDER wave than the key's surviving version
    refused("old_dup", Seq((1L, "d", false, Some(3L)), (1L, "e", false, Some(3L)),
      (1L, "f", false, Some(4L))))
  }

  test("compactIndex without compactPath double-buffers in ONE per-node temp " +
       "root: k > 2 compactions leave at most two generation directories") {
    import spark.implicits._
    val c = Ctx(spark)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def compactDirs: Set[String] = tmp.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("graft_") &&
        f.getName.contains("_compact_"))
      .map(_.getName).toSet
    val before = compactDirs
    val idx = new SketchIndexNode(groupCols = Seq("src"), cols = Seq("v"))
      .named("leak_probe_sketch")
    idx.fit(c, In.single("corpus" ->
      Seq(("x", 1L), ("x", 2L), ("y", 3L)).toDF("src", "v")))
    (1 to 4).foreach { i =>
      idx.updateIndex(c, Seq(("x", 10L + i)).toDF("src", "v"))
      idx.compactIndex()
    }
    val fresh = (compactDirs -- before).toSeq.map(new java.io.File(tmp, _))
    // a generation is a gen-N subdir of a compaction root, or a whole
    // root written by one compaction
    val generations = fresh.map { d =>
      d.listFiles().count(f => f.isDirectory && f.getName.startsWith("gen-")) max 1
    }.sum
    assert(generations <= 2,
      s"4 compactions left $generations index copies in ${fresh.mkString(", ")}")
    val got = idx.transform(c, In.single("probe" -> Seq("x", "y").toDF("src")))("result")
      .select("src", "n_rows", "nd_v").as[(String, Long, Long)].collect().toSet
    assert(got == Set(("x", 6L, 6L), ("y", 1L, 1L)))
    idx.unpersistIndex()
  }

  test("maintainFromStream CDC mode: upserts replace, tombstones delete; " +
       "checkpoint-less re-maintenance refused after applied batches") {
    import spark.implicits._
    val c = Ctx(spark)
    val base = (0L until 10L).map(i => (i, s"alpha beta w$i")).toDF("doc_id", "text")
    val idx = new InvertedIndexNode(k = 5, maxDfFrac = 1.0)
    idx.fit(c, In.single("corpus" -> base))
    val stage = java.nio.file.Files.createTempDirectory("graft_cdc_maint_spec").toString
    // batch rows: upsert doc 3 with CHANGED text (replace, not append),
    // insert doc 20, tombstone doc 5
    val cdc = Seq(
      (3L, "gamma delta replaced", false),
      (20L, "alpha gamma fresh", false),
      (5L, "", true)).toDF("doc_id", "text", "is_delete")
    cdc.coalesce(1).write.mode("overwrite").parquet(s"$stage/cdc")
    val stream = spark.readStream.schema(cdc.schema).parquet(s"$stage/cdc")
    IndexMaintenance.maintainFromStream(idx, c, stream,
      checkpoint = Some(s"$stage/ckpt"), deleteCol = Some("is_delete"))
    // oracle: from-scratch fit over the post-CDC corpus state
    val scratch = new InvertedIndexNode(k = 5, maxDfFrac = 1.0)
    scratch.fit(c, In.single("corpus" -> base.filter("doc_id not in (3, 5)")
      .union(Seq((3L, "gamma delta replaced"), (20L, "alpha gamma fresh"))
        .toDF("doc_id", "text"))))
    val queries = Seq((100L, "alpha gamma"), (101L, "beta delta")).toDF("query_id", "text")
    def res(n: InvertedIndexNode): Set[(Long, Long, Long, Int)] =
      n.transform(c, In.single("queries" -> queries))("result")
        .select("query_id", "doc_id", "score", "rank")
        .as[(Long, Long, Long, Int)].collect().toSet
    assert(res(idx) == res(scratch))
    assert(idx.model.get.nDocs == scratch.model.get.nDocs)
    // the index has folded in streamed batches: a checkpoint-less re-drain
    // would skip by position — refused without the explicit ack
    assert(idx.lastAppliedBatch >= 0)
    val err = intercept[GraftException] {
      IndexMaintenance.maintainFromStream(idx, c,
        spark.readStream.schema(cdc.schema).parquet(s"$stage/cdc"),
        deleteCol = Some("is_delete"))
    }
    assert(err.getMessage.contains("positionalReplaySkipOk"))
    // with the ack (or a checkpoint) it proceeds — and the replay guard
    // still skips the renumbered batch, leaving the index unchanged
    IndexMaintenance.maintainFromStream(idx, c,
      spark.readStream.schema(cdc.schema).parquet(s"$stage/cdc"),
      deleteCol = Some("is_delete"), positionalReplaySkipOk = true)
    assert(res(idx) == res(scratch))
    idx.unpersistIndex(); scratch.unpersistIndex()
  }

  test("GroupEmaNode: null order/tie/value fails loudly instead of sorting first as 0") {
    val rows = Seq((1L, Some(1L), Some(10L), Some(100L)), (1L, Some(2L), None, Some(200L)))
      .toDF("k", "tie", "o", "v")
    val err = intercept[Exception] {
      runOne { d =>
        d.add(srcNode(rows)) >> new GroupEmaNode(Seq("k"), "o", "tie", "v") >>
          d.output("result")
      }.collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(err).exists(m => m != null && m.contains("null order/tie/value")))
  }

  // ---- mergeable numeric profiles (round 11): fixed-grid histograms that
  // merge exactly across generations, quantile extraction, TV drift ----

  private def profSpec(expr: String, lo: Double, hi: Double, bins: Int) =
    NumericProfileNode.Spec(expr, lo, hi, bins)

  private def profile(df: DataFrame, specs: Seq[NumericProfileNode.Spec]): DataFrame =
    runOne { d =>
      d.add(srcNode(df)) >> new NumericProfileNode(specs) >> d.output("result")
    }

  test("NumericProfileNode: fixed grid with null bucket, edge clamping, every bin present") {
    val vals = Seq(Some(-5.0), Some(0.0), Some(15.0), Some(25.0), Some(999.0), None, None)
      .toDF("x")
    val rows = profile(vals, Seq(profSpec("x", 0.0, 30.0, 3)))
      .orderBy("bin").collect()
    // bins: -1 (nulls), 0 [0,10) <- {-5 clamped, 0}, 1 [10,20) <- {15},
    // 2 [20,30) <- {25, 999 clamped}
    assert(rows.map(_.getLong(1)).toSeq == Seq(-1L, 0L, 1L, 2L))
    assert(rows.map(_.getLong(4)).toSeq == Seq(2L, 2L, 1L, 2L))
    assert(rows.head.isNullAt(2)) // null bucket has no bin_lo
    assert(rows(1).getDouble(2) == 0.0 && rows(2).getDouble(2) == 10.0)
    assert(rows.map(_.getLong(4)).sum == 7L) // sum(n) == input rows
  }

  test("ProfileMergeNode: generation-split merge == one-shot profile bit-exact; " +
      "rollup of merges == flat merge; mismatched grids refused") {
    val base = (0 until 90).map(i => (i.toLong, (i * 7 % 100).toDouble))
      .toDF("id", "x")
    val specs = Seq(profSpec("x", 0.0, 100.0, 10))
    def key(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(4))).sortBy(t => (t._1, t._2)).toSeq
    val oneShot = profile(base, specs)
    val gens = (0 until 3).map(g => profile(base.filter(s"id % 3 = $g"), specs))
    val flat = runOne { d =>
      val m = d.add(new ProfileMergeNode())
      gens.zipWithIndex.foreach { case (g, i) => d.add(srcNode(g, s"g$i")) >> m("profiles") }
      m >> d.output("result")
    }
    assert(key(flat) == key(oneShot))
    val rollup = runOne { d =>
      val m01 = d.add(new ProfileMergeNode().named("m01"))
      d.add(srcNode(gens(0), "r0")) >> m01("profiles")
      d.add(srcNode(gens(1), "r1")) >> m01("profiles")
      val m = d.add(new ProfileMergeNode().named("mAll"))
      m01 >> m("profiles")
      d.add(srcNode(gens(2), "r2")) >> m("profiles")
      m >> d.output("result")
    }
    assert(key(rollup) == key(flat))
    val otherGrid = profile(base, Seq(profSpec("x", 0.0, 200.0, 10)))
    val err = intercept[Exception] {
      runOne { d =>
        val m = d.add(new ProfileMergeNode())
        d.add(srcNode(gens(0), "ga")) >> m("profiles")
        d.add(srcNode(otherGrid, "gb")) >> m("profiles")
        m >> d.output("result")
      }.collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(err).exists(_.contains("mismatched grids")))
  }

  test("HistQuantileNode: interpolated quantiles on a uniform grid; " +
      "all-null column emits no rows") {
    val uniform = (0 until 100).map(i => (i.toLong, i.toDouble, None: Option[Double]))
      .toDF("id", "x", "y")
    val prof = profile(uniform, Seq(profSpec("x", 0.0, 100.0, 10),
      profSpec("y", 0.0, 100.0, 10)))
    val out = runOne { d =>
      d.add(srcNode(prof)) >> new HistQuantileNode(Seq(0.25, 0.5, 1.0)) >>
        d.output("result")
    }.orderBy("col_name", "q").collect()
    // x: n=100; r=25 -> bin2 (cum 30), frac (25-20)/10 -> est 25.0; r=50 ->
    // bin4 (cum 50), frac 1.0 -> est 50.0; r=100 -> bin9, est 100.0.
    // y: every value null -> no non-empty bucket -> no rows.
    assert(out.map(_.getString(0)).forall(_ == "x"))
    assert(out.map(r => (r.getDouble(1), r.getDouble(3))).toSeq ==
      Seq((0.25, 25.0), (0.5, 50.0), (1.0, 100.0)))
    assert(out.forall(_.getLong(2) == 100L))
  }

  test("HistDriftNode: identical profiles drift 0, disjoint support drifts 1, " +
      "null-rate shift counts, one-sided column refused") {
    val specs = Seq(profSpec("x", 0.0, 10.0, 2))
    val lowHalf = Seq(1.0, 2.0, 3.0).toDF("x")
    val highHalf = Seq(6.0, 7.0, 8.0, 9.0).toDF("x")
    def drift(a: DataFrame, b: DataFrame): Map[String, Double] =
      runOne { d =>
        val n = d.add(new HistDriftNode())
        d.add(srcNode(a, "pa")) >> n("a"); d.add(srcNode(b, "pb")) >> n("b")
        n >> d.output("result")
      }.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val pl = profile(lowHalf, specs)
    assert(drift(pl, pl) == Map("x" -> 0.0))
    assert(drift(pl, profile(highHalf, specs)) == Map("x" -> 1.0))
    // half the mass moves to the null bucket: TV = 0.5
    val withNulls = Seq(Some(1.0), None).toDF("x")
    val allLow = Seq(Some(1.0), Some(2.0)).toDF("x")
    assert(drift(profile(allLow, specs), profile(withNulls, specs)) == Map("x" -> 0.5))
    val err = intercept[Exception] {
      drift(pl, profile(highHalf.withColumnRenamed("x", "z").selectExpr("z"),
        Seq(profSpec("z", 0.0, 10.0, 2))))
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(err).exists(_.contains("not present in both profiles")))
  }

  test("ProfileMergeNode refuses same-lo-same-width grids with different bin counts") {
    // [0,100)×10 and [0,200)×20 agree on (bin_lo, bin_w) for every SHARED
    // bin — only the per-column grid-size check can catch the mismatch
    val base = (0 until 50).map(i => (i * 3 % 150).toDouble).toDF("x")
    val narrow = profile(base, Seq(profSpec("x", 0.0, 100.0, 10)))
    val wide = profile(base, Seq(profSpec("x", 0.0, 200.0, 20)))
    val err = intercept[Exception] {
      runOne { d =>
        val m = d.add(new ProfileMergeNode())
        d.add(srcNode(narrow, "gn")) >> m("profiles")
        d.add(srcNode(wide, "gw")) >> m("profiles")
        m >> d.output("result")
      }.collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(err).exists(_.contains("mismatched grids")))
  }

  test("NumericProfileNode bins a decimal column with float64 math (engine-exact contract)") {
    // 0.29/0.01 in exact decimal is 29; in float64 it is 28.999… → floor 28.
    // The oracle (and the contract) is float64, so a decimal-typed input
    // must NOT silently switch the engine to exact-decimal arithmetic.
    val dec = Seq("0.29").toDF("s").selectExpr("cast(s as decimal(10,2)) as x")
    val rows = profile(dec, Seq(profSpec("x", 0.0, 1.0, 100)))
      .filter(col("n") > 0).collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(28L))
  }

  test("HistDriftNode refuses an empty profile side instead of emitting NaN") {
    val specs = Seq(profSpec("x", 0.0, 10.0, 2))
    val some = profile(Seq(1.0, 7.0).toDF("x"), specs)
    val empty = profile(Seq.empty[Double].toDF("x"), specs)
    val err = intercept[Exception] {
      runOne { d =>
        val n = d.add(new HistDriftNode())
        d.add(srcNode(some, "pa")) >> n("a"); d.add(srcNode(empty, "pb")) >> n("b")
        n >> d.output("result")
      }.collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(err).exists(_.contains("empty profile side")))
  }

  test("AggIndexNode decSumCols: decimal-exact float sums equal SUM(CAST) " +
       "re-aggregation at every generation — update, exact decrement, " +
       "upsert, SPLICE interaction with minCols, save/load, rebuild; " +
       "decScale and non-numeric refusals") {
    import org.apache.spark.sql.functions.{count, lit, min, sum}
    val c = Ctx(spark)
    // prices chosen with non-terminating binary expansions: a float-sum
    // (double accumulation) path would drift away from the decimal oracle
    var rows = Seq(
      (1L, "a", 0.1, 10L), (2L, "a", 0.2, 20L), (3L, "b", 1.1, 5L),
      (4L, "b", 2.2, 7L), (5L, "c", 3.3, 1L), (6L, "a", 0.3, 2L))
    def live = rows.toDF("doc_id", "src", "price", "v")
    // minCols force needsSplice: the delete leg recomputes touched groups
    // (totalsOf over the spliced ledger) — the decimal measures must ride
    // that recompute, not a decrement shortcut
    val idx = new AggIndexNode(groupCols = Seq("src"),
      decSumCols = Seq("price"), minCols = Seq("v"), decScale = 4)
    idx.fit(c, In.single("corpus" -> live))
    def check(stage: String): Unit = {
      val probe = Seq("a", "b", "c", "d", "zz").toDF("src")
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getLong(1), r.getDecimal(2), r.getLong(3))
      val got = idx.transform(c, In.single("probe" -> probe))("result")
        .collect().map(key).toSet
      val want = live.groupBy("src").agg(count(lit(1)).as("n_rows"),
          sum(col("price").cast("decimal(38,4)")).cast("decimal(38,4)")
            .as("dsum_price"),
          min("v").as("min_v"))
        .collect().map(key).toSet
      assert(got == want, s"[$stage] got $got want $want")
    }
    check("fit")
    // insert wave: new group + growth on an existing one
    idx.updateIndex(c,
      Seq((7L, "d", 0.7, 3L), (8L, "a", 123.456, 1L))
        .toDF("doc_id", "src", "price", "v"))
    rows ++= Seq((7L, "d", 0.7, 3L), (8L, "a", 123.456, 1L))
    check("insert")
    // takedown removing group a's min row: the splice must move min_v AND
    // recompute dsum_price for the touched group exactly
    idx.deleteFromIndex(c, Seq(8L, 999L).toDF("doc_id"))
    rows = rows.filterNot(_._1 == 8L)
    check("splice-delete")
    // re-pricing upsert (delete-then-insert at 2x — exact in binary)
    idx.deleteFromIndex(c, Seq(2L).toDF("doc_id"))
    idx.updateIndex(c, Seq((2L, "a", 0.4, 20L)).toDF("doc_id", "src", "price", "v"))
    rows = rows.filterNot(_._1 == 2L) :+ (2L, "a", 0.4, 20L)
    check("upsert")
    // rebuild from the ledger == the maintained totals (exactness pin)
    idx.rebuildIndex(); check("rebuild")
    // save/load round-trip keeps the DECIMAL(38,4) state bit-exact
    val dir = java.nio.file.Files.createTempDirectory("graft_decsum").toString
    idx.saveFitted(dir)
    val idx2 = new AggIndexNode(groupCols = Seq("src"),
      decSumCols = Seq("price"), minCols = Seq("v"), decScale = 4)
    idx2.loadFitted(dir, Some(spark))
    val reloaded = idx2.transform(c,
      In.single("probe" -> Seq("a").toDF("src")))("result").collect().head
    assert(reloaded.getDecimal(2) ==
      live.filter("src = 'a'")
        .agg(sum(col("price").cast("decimal(38,4)")).cast("decimal(38,4)"))
        .collect().head.getDecimal(0))
    // NON-splice family too: without minCols the delete is merged(-1) —
    // the exact decimal DECREMENT leg
    val dec = new AggIndexNode(groupCols = Seq("src"),
      decSumCols = Seq("price"), decScale = 4)
    dec.fit(c, In.single("corpus" -> live))
    dec.deleteFromIndex(c, Seq(1L, 3L).toDF("doc_id"))
    val afterDec = dec.transform(c,
      In.single("probe" -> Seq("a", "b").toDF("src")))("result")
      .collect().map(r => r.getString(0) -> r.getDecimal(2)).toMap
    val wantDec = live.filter("doc_id NOT IN (1, 3)").groupBy("src")
      .agg(sum(col("price").cast("decimal(38,4)")).cast("decimal(38,4)"))
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    assert(afterDec("a") == wantDec("a") && afterDec("b") == wantDec("b"))
    // refusals: decScale out of range; non-numeric measure; a decSum
    // column doubling as an extremum measure
    intercept[IllegalArgumentException] {
      new AggIndexNode(groupCols = Seq("src"), decSumCols = Seq("price"),
        decScale = 19)
    }
    val nonNum = intercept[GraftException] {
      new AggIndexNode(groupCols = Seq("src"), decSumCols = Seq("txt"))
        .fit(c, In.single("corpus" ->
          Seq((1L, "a", "oops")).toDF("doc_id", "src", "txt")))
    }
    assert(nonNum.getMessage.contains("numeric"))
    intercept[IllegalArgumentException] {
      new AggIndexNode(groupCols = Seq("src"), decSumCols = Seq("price"),
        minCols = Seq("price"))
    }
    idx.unpersistIndex(); idx2.unpersistIndex(); dec.unpersistIndex()
  }

  test("HammingNearDupNode chunk-wrap regression: a pair at distance exactly " +
       "maxHamming with one flip per chunk is found at EVERY budget — the " +
       "former ceil-width layout shifted the last chunk past bit 63, which " +
       "long shifts wrap mod 64, silently duplicating chunk 0 and losing " +
       "one pigeonhole chunk (missed pairs at maxHamming = 8)") {
    val c = Ctx(spark)
    // the PropertySpec-found counterexample, pinned verbatim
    val found = new HammingNearDupNode("id", "h", maxHamming = 8)
      .transform(c, In.single("df" ->
        Seq((0L, -1525311471592598279L), (1L, -6141483428213352743L))
          .toDF("id", "h")))("result").count()
    assert(found == 1L, "distance-8 counterexample pair must be found at mh=8")
    // adversarial sweep: exactly mh flips, one per floor-width chunk —
    // the hardest placement the pigeonhole guarantee allows
    (0 to 11).foreach { mh =>
      val w = 64 / (mh + 1)
      val base = 0x0123456789abcdefL
      val flipped = (0 until mh).foldLeft(base)((h, ci) => h ^ (1L << (ci * w)))
      val n = new HammingNearDupNode("id", "h", maxHamming = mh)
        .transform(c, In.single("df" ->
          Seq((0L, base), (1L, flipped)).toDF("id", "h")))("result").count()
      assert(n == 1L, s"budget $mh: adversarial one-flip-per-chunk pair missed")
    }
  }

  test("SegStore fold boundary: 36 interleaved insert/delete/upsert waves " +
       "cross the 32-wave fold — totals stay bit-identical to re-aggregation " +
       "through the consolidation, and tombstoned ids re-inserted after a " +
       "fold stay live") {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val c = Ctx(spark)
    val idx = new AggIndexNode(groupCols = Seq("src"), sumCols = Seq("v"))
    var rows = Map[Long, (String, Long)](1L -> ("a", 10L), 2L -> ("b", 20L))
    def liveDf = rows.toSeq.map { case (id, (s, v)) => (id, s, v) }
      .toDF("doc_id", "src", "v")
    idx.fit(c, In.single("corpus" -> liveDf))
    // 36 waves (9 x 4 ops): inserts, takedowns, and delete-then-reinsert
    // upserts — enough to cross SegStore's 32-wave fold in the middle of
    // the lifecycle (the consolidation must be invisible to correctness)
    (0 until 9).foreach { i =>
      val nid = 100L + i
      idx.updateIndex(c, Seq((nid, s"s${i % 3}", i.toLong))
        .toDF("doc_id", "src", "v"))
      rows += nid -> (s"s${i % 3}", i.toLong)
      idx.deleteFromIndex(c, Seq(100L + math.max(0, i - 5)).toDF("doc_id"))
      rows -= (100L + math.max(0, i - 5))
      // upsert: kill and re-add id 1 with a new value — the re-insert must
      // survive every tombstone before AND after the fold
      idx.deleteFromIndex(c, Seq(1L).toDF("doc_id"))
      idx.updateIndex(c, Seq((1L, "a", 10L + i)).toDF("doc_id", "src", "v"))
      rows += 1L -> ("a", 10L + i)
    }
    val probe = (rows.values.map(_._1).toSeq :+ "zz").distinct.toDF("src")
    val got = idx.transform(c, In.single("probe" -> probe))("result")
      .as[(String, Long, Long)].collect().toSet
    val want = liveDf.groupBy("src")
      .agg(count(lit(1)).as("n_rows"), sum("v").as("sum_v"))
      .as[(String, Long, Long)].collect().toSet
    assert(got == want, s"fold-boundary divergence: got $got want $want")
    // the save path writes the RESOLVED ledger: reload equals live state
    val dir = java.nio.file.Files.createTempDirectory("graft_fold").toString
    idx.saveFitted(dir)
    val idx2 = new AggIndexNode(groupCols = Seq("src"), sumCols = Seq("v"))
    idx2.loadFitted(dir, Some(spark))
    val got2 = idx2.transform(c, In.single("probe" -> probe))("result")
      .as[(String, Long, Long)].collect().toSet
    assert(got2 == want)
    idx.unpersistIndex(); idx2.unpersistIndex()
  }

  test("SegStore state survives a FULL cache wipe mid-lifecycle (executor-" +
       "loss shape): every piece is parquet-recoverable, so serving and " +
       "further maintenance after clearCache stay exact — the durability " +
       "localCheckpoint block state could never give") {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val c = Ctx(spark)
    val idx = new AggIndexNode(groupCols = Seq("src"), sumCols = Seq("v"))
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 5L))
      .toDF("doc_id", "src", "v")
    idx.fit(c, In.single("corpus" -> base))
    idx.updateIndex(c, Seq((4L, "b", 7L)).toDF("doc_id", "src", "v"))
    idx.deleteFromIndex(c, Seq(3L).toDF("doc_id"))
    // the wipe: all cached blocks gone (totals are lazily-checkpointed
    // group-sized frames — their blocks survive clearCache; the
    // corpus-sized ledger pieces must recompute from their parquet roots)
    spark.catalog.clearCache()
    // maintenance AFTER the wipe reads the ledger (splice/victim legs)
    idx.updateIndex(c, Seq((5L, "c", 1L)).toDF("doc_id", "src", "v"))
    idx.deleteFromIndex(c, Seq(1L).toDF("doc_id"))
    val got = idx.transform(c,
      In.single("probe" -> Seq("a", "b", "c").toDF("src")))("result")
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("b", 2L, 27L), ("c", 1L, 1L)),
      s"post-wipe state diverged: $got")
    idx.unpersistIndex()
  }

  test("reattachAggregate refuses chained state keyed on PRE-length-prefix " +
       "vids (the r15 encoding change): one sampled id gates the restart " +
       "path loudly instead of silently missing deletes") {
    val c = Ctx(spark)
    val mj = new MaterializedJoinNode(leftOn = Seq("cust"),
      rightOn = Seq("cid"), leftId = "oid", rightId = "cid")
    mj.fit(c, In.single(
      "left" -> Seq((1L, 2L, 10L)).toDF("oid", "cust", "amt"),
      "right" -> Seq((2L, "s0")).toDF("cid", "seg")))
    // an aggregate whose loaded ledger carries OLD separator-based vids
    val stale = new AggIndexNode(groupCols = Seq("seg"), sumCols = Seq("amt"),
      idCol = MaterializedJoinNode.ViewIdCol)
    stale.fit(c, In.single("corpus" ->
      Seq(("1|m:2", "s0", 10L))
        .toDF(MaterializedJoinNode.ViewIdCol, "seg", "amt")))
    val err = intercept[GraftException] { mj.reattachAggregate(c, stale) }
    assert(err.getMessage.contains("PRE-length-prefix"))
    // a current-scheme ledger re-attaches fine
    val fresh = new AggIndexNode(groupCols = Seq("seg"), sumCols = Seq("amt"),
      idCol = MaterializedJoinNode.ViewIdCol)
    fresh.fit(c, In.single("corpus" ->
      Seq(("1:1|m:2", "s0", 10L))
        .toDF(MaterializedJoinNode.ViewIdCol, "seg", "amt")))
    mj.reattachAggregate(c, fresh)
    stale.unpersistIndex(); fresh.unpersistIndex(); mj.unpersistIndex()
  }

  test("MaterializedJoinNode.publishViewDelta: ONE data file per overlay, " +
       "typed tombstones resolve the MoR read to the live outer view at " +
       "every wave, the fold-fence claim raises loudly with no stranded " +
       "overlay, and re-publish replaces the subscription (restart path) " +
       "with the two-generation retention honored") {
    val c = Ctx(spark)
    val facts0 = (1L to 40L).map(i => (i, i % 7, i)).toDF("oid", "cust", "amt")
    val dims0 = (0L to 6L).map(i => (i, s"s${i % 3}")).toDF("cid", "seg")
    val mj = new MaterializedJoinNode(leftOn = Seq("cust"),
      rightOn = Seq("cid"), leftId = "oid", rightId = "cid",
      joinType = "left_outer")
    mj.fit(c, In.single("left" -> facts0.filter("oid <= 30"),
      "right" -> dims0.filter("cid <= 4")))
    var liveL = facts0.filter("oid <= 30")
    var liveR = dims0.filter("cid <= 4")
    val root = java.nio.file.Files.createTempDirectory("graft_pvd_")
      .toString + "/view_mor"
    mj.publishViewDelta(c, root)
    def resolvedEqualsLive(stage: String): Unit = {
      val vid = MaterializedJoinNode.ViewIdCol
      val got = new MorSourceNode(root, keys = Seq(vid))
        .transform(c, In.empty)("result")
        .select("oid", "cid", "seg", "amt")
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      val want = liveL.join(liveR, liveL("cust") === liveR("cid"), "left_outer")
        .select("oid", "cid", "seg", "amt")
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(got == want, s"[$stage] resolved feed diverged from live view")
    }
    resolvedEqualsLive("base")
    // four wave classes: fact insert, late dim (retro-match + dangler
    // retraction), fact takedown, dim takedown (dangler re-insert)
    mj.updateIndex(c, facts0.filter("oid > 30")); liveL = facts0
    mj.updateRight(c, dims0.filter("cid > 4")); liveR = dims0
    mj.deleteFromIndex(c, facts0.filter("oid % 4 = 0").select("oid"))
    liveL = liveL.filter("oid % 4 != 0")
    mj.deleteFromRight(c, Seq(1L).toDF("cid"))
    liveR = liveR.filter("cid != 1")
    resolvedEqualsLive("after-waves")
    // the overlay contract: each wave is EXACTLY ONE data file (the r15
    // fan-out lesson — maxFilesPerTrigger=1 must mean one overlay per
    // micro-batch, and cross-wave ordering must not depend on file count)
    val deltas = AtomicPublish.listDeltas(spark, root)
    assert(deltas.map(_._1) == Seq(0L, 1L, 2L, 3L),
      s"expected overlays 0..3, got ${deltas.map(_._1)}")
    deltas.foreach { case (id, p) =>
      val n = new java.io.File(new java.net.URI(p).getPath).listFiles()
        .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      assert(n == 1, s"delta-$id has $n data files — contract is ONE")
    }
    // fold-fence: with a gen claim outstanding a wave must RAISE (not
    // strand an overlay inside a to-be-retired generation)
    val gen = AtomicPublish.currentGen(spark, root).get
    val claim = new java.io.File(s"$root/${AtomicPublish.ClaimPrefix}${gen + 1}")
    assert(claim.createNewFile())
    val fenced = intercept[GraftException] {
      mj.updateRight(c, Seq((99L, "s9")).toDF("cid", "seg"))
    }
    assert(fenced.getMessage.contains("claim"))
    assert(AtomicPublish.listDeltas(spark, root).size == 4,
      "the fenced wave must not leave a stranded overlay")
    assert(claim.delete())
    // the join itself DID absorb the fenced wave (subscriber runs after
    // state commit) — recovery is the restart path: RE-publish the root,
    // which swaps a fresh base generation (the current view) and REPLACES
    // the old subscription, so later waves are written exactly once
    liveR = liveR.unionByName(Seq((99L, "s9")).toDF("cid", "seg"))
    mj.publishViewDelta(c, root)
    val gen2 = AtomicPublish.currentGen(spark, root).get
    assert(gen2 == gen + 1)
    resolvedEqualsLive("re-published")
    mj.deleteFromRight(c, Seq(99L).toDF("cid"))
    liveR = liveR.filter("cid != 99")
    resolvedEqualsLive("post-republish-wave")
    assert(AtomicPublish.listDeltas(spark, root).map(_._1) == Seq(0L),
      "a replaced subscription must write each wave exactly once, ids from 0")
    // retention: gen-(N) survives one re-publish (a consumer one full
    // generation behind can still read), and is reclaimed after two
    assert(new java.io.File(s"$root/gen-$gen").exists(),
      "previous generation must survive one publish (lagging-consumer contract)")
    mj.publishViewDelta(c, root)
    assert(AtomicPublish.currentGen(spark, root).contains(gen2 + 1))
    assert(!new java.io.File(s"$root/gen-$gen").exists(),
      "a generation two behind the head is past retention and reclaimed")
    resolvedEqualsLive("third-generation")
    mj.unpersistIndex()
  }

  private def jobsDuring[A](f: => A): (A, Int) =
    org.apache.spark.TestBus.jobsDuring(spark.sparkContext)(f)

  test("DatasetResolver: a rewritten directory re-infers — an added column, a " +
       "retyped column and a new file each surface on the next SourceNode read") {
    import org.apache.spark.sql.types.{IntegerType, StringType}
    val dir = WorkDir("graft_resolve_rewrite").toString + "/t"
    def read(opts: Map[String, String] = Map.empty): DataFrame =
      new SourceNode(dir, options = opts).transform(ctx, In.empty)("result")
    def write(sel: String*): Unit =
      spark.range(4).selectExpr(sel: _*).coalesce(1).write.mode("overwrite").parquet(dir)
    write("id", "cast(id as int) as v")
    assert(read().schema("v").dataType == IntegerType)
    assert(jobsDuring(read())._2 == 0, "an unchanged directory must not re-infer")
    write("id", "cast(id as int) as v", "'x' as w")
    val (added, j1) = jobsDuring(read())
    assert(j1 >= 1 && added.columns.toSeq == Seq("id", "v", "w"),
      s"added column: ${added.columns.toSeq} after $j1 jobs")
    write("id", "cast(id as string) as v")
    val retyped = read()
    assert(retyped.columns.toSeq == Seq("id", "v") && retyped.schema("v").dataType == StringType,
      s"retyped column: ${retyped.schema}")
    assert(retyped.as[(Long, String)].collect().toSet == (0L to 3L).map(i => (i, i.toString)).toSet)
    // a new file beside the old one: merged under mergeSchema, and its rows read
    val merged = Map("mergeSchema" -> "true")
    assert(read(merged).columns.toSeq == Seq("id", "v"))
    spark.range(4, 6).selectExpr("id", "cast(id as string) as v", "id * 2 as z")
      .coalesce(1).write.mode("append").parquet(dir)
    val (grown, j2) = jobsDuring(read(merged))
    assert(j2 >= 1 && grown.columns.toSeq == Seq("id", "v", "z"), s"new file: ${grown.schema}")
    assert(grown.count() == 6L)
    assert(jobsDuring(read(merged))._2 == 0)
  }

  test("DatasetResolver: a new AtomicPublish generation, a changed mergeSchema " +
       "option and a changed parquet conf each re-infer") {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val root = WorkDir("graft_resolve_pub").toString + "/ds"
    def read(opts: Map[String, String] = Map.empty): DataFrame =
      new SourceNode(root, options = opts).transform(ctx, In.empty)("result")
    def publish(df: DataFrame): Unit =
      new SinkNode(root, atomicPublish = true).transform(ctx, In.single("df" -> df))
    publish(Seq((1L, "a")).toDF("id", "v"))
    assert(read().columns.toSeq == Seq("id", "v"))
    assert(jobsDuring(read())._2 == 0)
    publish(Seq((2L, "b", 7)).toDF("id", "v", "n"))
    val (next, j1) = jobsDuring(read())
    assert(j1 >= 1 && next.columns.toSeq == Seq("id", "v", "n"),
      s"a new generation must re-infer: ${next.schema} after $j1 jobs")
    assert(jobsDuring(read(Map("mergeSchema" -> "true")))._2 >= 1,
      "a changed reader option is a different inference")
    // binaryAsString is read by inference only: the BinaryType cached for one
    // session must not answer a session whose inference yields StringType
    val dir = WorkDir("graft_resolve_conf").toString
    writeParquetMr(s"$dir/b.parquet", "message b { required int64 id; required binary bin; }") {
      (f, w) => w.write(f.newGroup().append("id", 1L).append("bin", "hi"))
    }
    assert(DatasetResolver.load(spark, "parquet", dir).schema("bin").dataType == BinaryType)
    val asString = SessionIsolation.freshClone(spark, "spark.sql.parquet.binaryAsString" -> "true")
    val s = DatasetResolver.load(asString, "parquet", dir)
    assert(s.schema("bin").dataType == StringType)
    assert(s.select("bin").head().getString(0) == "hi")
    assert(DatasetResolver.load(spark, "parquet", dir).schema("bin").dataType == BinaryType)
  }

  /** Writes one parquet file with parquet-mr's example writer — physical
    * types Spark's own writer never produces (no Spark schema in the footer). */
  private def writeParquetMr(path: String, schema: String)(
      rows: (org.apache.parquet.example.data.simple.SimpleGroupFactory,
             org.apache.parquet.hadoop.ParquetWriter[org.apache.parquet.example.data.Group]) => Unit): Unit = {
    val t = org.apache.parquet.schema.MessageTypeParser.parseMessageType(schema)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path)).withType(t).build()
    try rows(new org.apache.parquet.example.data.simple.SimpleGroupFactory(t), w) finally w.close()
  }

  test("DatasetResolver: a nanosTsCols source still yields micros timestamps on a " +
       "cached read, and the plain session still refuses the TIMESTAMP(NANOS) column") {
    import org.apache.spark.sql.types.TimestampType
    val dir = WorkDir("graft_resolve_nanos").toString
    val t0 = 1700000000123456789L
    writeParquetMr(s"$dir/e.parquet",
        "message e { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }") {
      (f, w) => (0 until 5).foreach(i =>
        w.write(f.newGroup().append("event_id", i.toLong).append("ts", t0 + i * 1000001L)))
    }
    def events(): DataFrame =
      new SourceNode(dir, nanosTsCols = Seq("ts")).transform(ctx, In.empty)("result")
    val first = events()
    val (second, jobs) = jobsDuring(events())
    assert(jobs == 0, s"a repeat nanos read ran $jobs jobs")
    val want = (0 until 5).map(i => java.time.Instant.ofEpochSecond(0L, (t0 + i * 1000001L) / 1000 * 1000))
    Seq(first, second).foreach { d =>
      assert(d.schema("ts").dataType == TimestampType)
      assert(d.orderBy("event_id").select("ts").collect().map(_.getTimestamp(0).toInstant).toSeq == want)
    }
    // the epoch-nanos LongType the isolated session inferred stays keyed to
    // its nanosAsLong conf
    intercept[Exception](DatasetResolver.load(spark, "parquet", dir))
  }

  test("DatasetResolver: a repeat MorCdc.read over k overlays runs no schema job") {
    val root = WorkDir("graft_resolve_mor").toString + "/ds"
    new SinkNode(root, atomicPublish = true).transform(ctx,
      In.single("df" -> Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")))
    Seq(Seq((2L, "b1", false)), Seq((3L, "", true)), Seq((4L, "d", false)))
      .zipWithIndex.foreach { case (rows, i) =>
        AtomicPublish.publishDelta(spark, root, i.toLong, { t =>
          rows.toDF("id", "v", MorCdc.DeletedCol).coalesce(1).write.parquet(t)
        })
      }
    val want = Set((1L, "a"), (2L, "b1"), (4L, "d"))
    assert(MorCdc.read(spark, root, Seq("id")).as[(Long, String)].collect().toSet == want)
    val (again, jobs) = jobsDuring(MorCdc.read(spark, root, Seq("id")))
    assert(jobs == 0, s"a repeat read over 3 overlays ran $jobs jobs before its action")
    assert(again.as[(Long, String)].collect().toSet == want)
  }
}

object NodesSpec {
  case class Doc(doc_id: Long, text: String)
  case class Stat(doc_id: Long, len: Int)
}
