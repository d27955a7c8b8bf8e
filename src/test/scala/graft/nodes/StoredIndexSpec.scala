package graft.nodes

import graft.dag.{Ctx, In}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** The shared stored-index lifecycle, table-driven over every family:
  * fit → one updateIndex → one deleteFromIndex (SketchIndexNode refuses
  * loudly instead) → compactIndex() → saveFitted → loadFitted(path,
  * Some(spark)) on a FRESH node. The served output must be unchanged by the
  * compaction and by the save/load round trip, and the replay-guard
  * watermark must carry over. No compactPath is set, so compaction runs
  * through the per-node temp root. */
class StoredIndexSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkFixture.spark

  /** One family's drill: `make` builds an unfitted node (the same config
    * for the fitted node and the fresh load target). */
  private final case class Family(
      name: String,
      make: () => StoredIndex,
      fitIn: () => In,
      delta: () => DataFrame,
      deletes: () => DataFrame,
      serve: (StoredIndex, Ctx) => DataFrame,
      deletesRefused: Boolean = false)

  private def families: Seq[Family] = {
    val s = spark
    import s.implicits._
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "spark engines scale out over many cores"),
      (4L, "a completely different sentence about rivers"))
    val textDelta = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "rivers and lakes and a sentence"))
    val textDeletes = Seq(2L, 11L).toDF("doc_id")
    def vec(i: Long): Array[Float] =
      Array.tabulate(4)(j => ((i % 2) * 10.0 + math.sin(i * 1.7 + j)).toFloat)
    Seq(
      Family("MinHashIndexNode",
        () => new MinHashIndexNode(numHashes = 16, bands = 8, jaccardThreshold = 0.3),
        () => In.single("corpus" -> texts.toDF("doc_id", "text")),
        () => textDelta.toDF("doc_id", "text"), () => textDeletes,
        (n, c) => n.transform(c, In.single("delta" ->
          texts.take(2).map { case (i, t) => (i + 100, t) }.toDF("doc_id", "text")))("result")),
      Family("DHashIndexNode",
        () => new DHashIndexNode(maxHamming = 3),
        () => In.single("corpus" -> Seq((1L, 0xF0F0L), (2L, 0xF0F1L), (3L, 0x0FFFL))
          .toDF("doc_id", "dhash")),
        () => Seq((10L, 0xF0F3L), (11L, 0x7777L)).toDF("doc_id", "dhash"),
        () => Seq(2L, 11L).toDF("doc_id"),
        (n, c) => n.transform(c, In.single("delta" ->
          Seq((100L, 0xF0F0L), (101L, 0x0FFEL)).toDF("doc_id", "dhash")))("result")),
      Family("IvfIndexNode",
        () => new IvfIndexNode(k = 3, nClusters = 2, nProbe = 2),
        () => In.single("corpus" -> (1L to 8L).map(i => (i, vec(i))).toDF("vec_id", "embedding")),
        () => (20L to 22L).map(i => (i, vec(i))).toDF("vec_id", "embedding"),
        () => Seq(2L, 21L).toDF("vec_id"),
        (n, c) => n.transform(c, In.single("queries" ->
          Seq(1L, 4L).map(i => (i, vec(i))).toDF("query_id", "embedding")))("result")),
      Family("InvertedIndexNode",
        () => new InvertedIndexNode(k = 3, maxDfFrac = 1.0, scoring = "bm25"),
        () => In.single("corpus" -> texts.toDF("doc_id", "text")),
        () => textDelta.toDF("doc_id", "text"), () => textDeletes,
        (n, c) => n.transform(c, In.single("queries" ->
          Seq((1L, "quick fox"), (2L, "rivers sentence")).toDF("query_id", "text")))("result")),
      Family("ClusterIndexNode",
        () => new ClusterIndexNode(maxIter = 5),
        () => In.single("pairs" -> Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")),
        () => Seq((3L, 5L), (7L, 8L)).toDF("id_a", "id_b"),
        () => Seq(2L, 8L).toDF("id"),
        (n, c) => n.transform(c, In.single("queries" ->
          (1L to 9L).toDF("id")))("result")),
      Family("AggIndexNode",
        () => new AggIndexNode(groupCols = Seq("g"), sumCols = Seq("v"),
          maxCols = Seq("w"), distinctCols = Seq("w")),
        () => In.single("corpus" -> Seq((1L, "a", 1L, 5L), (2L, "a", 2L, 7L), (3L, "b", 3L, 1L))
          .toDF("doc_id", "g", "v", "w")),
        () => Seq((4L, "b", 4L, 9L), (5L, "c", 5L, 2L)).toDF("doc_id", "g", "v", "w"),
        () => Seq(2L, 5L).toDF("doc_id"),
        (n, c) => n.transform(c, In.single("probe" -> Seq("a", "b", "c").toDF("g")))("result")),
      Family("SketchIndexNode",
        () => new SketchIndexNode(groupCols = Seq("g"), cols = Seq("v")),
        () => In.single("corpus" -> Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "v")),
        () => Seq(("a", 4L), ("c", 5L)).toDF("g", "v"),
        () => Seq(("a", 1L)).toDF("g", "v"),
        (n, c) => n.transform(c, In.single("probe" -> Seq("a", "b", "c").toDF("g")))("result"),
        deletesRefused = true),
      Family("MaterializedJoinNode",
        () => new MaterializedJoinNode(leftOn = Seq("k"), rightOn = Seq("key"),
          leftId = "doc_id", rightId = "key", joinType = "left_outer"),
        () => In.single(
          "left" -> Seq((1L, 10L, "x"), (2L, 20L, "y"), (3L, 30L, "z")).toDF("doc_id", "k", "p"),
          "right" -> Seq((10L, "ten"), (20L, "twenty")).toDF("key", "label")),
        () => Seq((4L, 10L, "w"), (5L, 40L, "v")).toDF("doc_id", "k", "p"),
        () => Seq(2L, 5L).toDF("doc_id"),
        (n, c) => n.transform(c, In.single("probe" ->
          Seq(10L, 20L, 30L, 40L).toDF("k")))("result")))
  }

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  /** The lifecycle drill for one family. */
  private def drill(f: Family): Unit = {
    val c = Ctx(spark)
    val idx = f.make()
    idx.fit(c, f.fitIn())
    idx.updateIndex(c, f.delta())
    if (f.deletesRefused) {
      val err = intercept[graft.dag.GraftException](idx.deleteFromIndex(c, f.deletes()))
      assert(err.getMessage.contains("deletes refused"), f.name)
    } else idx.deleteFromIndex(c, f.deletes())
    val beforeCompact = rows(f.serve(idx, c))
    assert(beforeCompact.nonEmpty, s"${f.name}: the drill must serve rows")
    idx.compactIndex()
    val served = rows(f.serve(idx, c))
    assert(served == beforeCompact, s"${f.name}: compaction changed the served output")
    idx.lastAppliedBatch = 7L
    val dir = java.nio.file.Files.createTempDirectory("graft_stored_spec_").toString
    idx.saveFitted(dir)
    val loaded = f.make()
    loaded.loadFitted(dir, Some(spark))
    assert(rows(f.serve(loaded, c)) == served, s"${f.name}: load changed the served output")
    assert(loaded.lastAppliedBatch == 7L, s"${f.name}: watermark lost")
    idx.unpersistIndex(); loaded.unpersistIndex()
  }

  test("every stored family: fit → update → delete → compact → save → load " +
       "on a fresh node serves the same output and keeps the watermark") {
    // the families share nothing but the session: drill them concurrently
    // (the suite-wall budget), first failure rethrown unwrapped
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try families.map(f => pool.submit(new java.util.concurrent.Callable[Unit] {
      def call(): Unit = drill(f)
    })).foreach { fut =>
      try fut.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    } finally pool.shutdown()
  }
}
