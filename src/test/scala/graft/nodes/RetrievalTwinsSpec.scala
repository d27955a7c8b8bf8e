package graft.nodes

import graft.dag.{Ctx, In}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** Each one-shot retrieval node and its stored-index twin run the same
  * shared kernels (`Retrieval`), so on one corpus, at settings where
  * neither side truncates, their ranked outputs must be equal row for row —
  * scores included. Table-driven: one row per (one-shot, index) pair. */
class RetrievalTwinsSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkFixture.spark

  private final case class Twin(name: String, oneShot: Ctx => DataFrame, index: Ctx => DataFrame)

  private def twins: Seq[Twin] = {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "spark engines scale out over many cores"),
      (4L, "a completely different sentence about rivers"),
      (5L, "rivers and lakes and a quick sentence"),
      (6L, "   "),
      (7L, "brown dog brown dog brown cat")).toDF("doc_id", "text")
    val textQueries = Seq(
      (100L, "quick brown dog"),
      (101L, "rivers sentence"),
      (102L, "cores cat cat")).toDF("query_id", "text")
    // three separated clusters of 4-dim vectors
    val emb = (0L until 24L).map { i =>
      (i, Array.tabulate(4)(j => ((i % 3) * 10.0 + math.sin(i * 1.7 + j)).toFloat))
    }.toDF("vec_id", "embedding")
    val vecQueries = emb.filter("vec_id % 5 = 0")
      .selectExpr("vec_id + 1000 as query_id", "embedding")
    val (k, nClusters, all) = (3, 3, 24)

    def oneShot(n: graft.dag.Node, corpus: DataFrame, queries: DataFrame)(c: Ctx): DataFrame =
      n.fitTransform(c, In.single("corpus" -> corpus, "queries" -> queries))("result")
    def stored(n: StoredIndex, corpus: DataFrame, queries: DataFrame)(c: Ctx): DataFrame = {
      n.fit(c, In.single("corpus" -> corpus))
      n.transform(c, In.single("queries" -> queries))("result")
    }
    Seq(
      Twin("InvertedIndexTopKNode ~ InvertedIndexNode(scoring = tf)",
        oneShot(new InvertedIndexTopKNode(k = k), docs, textQueries),
        stored(new InvertedIndexNode(k = k, scoring = "tf"), docs, textQueries)),
      Twin("IvfKnnNode ~ IvfIndexNode (probe-all)",
        oneShot(new IvfKnnNode(k = k, nClusters = nClusters, nProbe = nClusters), emb, vecQueries),
        stored(new IvfIndexNode(k = k, nClusters = nClusters, nProbe = nClusters), emb, vecQueries)),
      Twin("IvfQuantizedKnnNode ~ IvfIndexNode(quantized = true) (probe-all, rerank-all)",
        oneShot(new IvfQuantizedKnnNode(k = k, nClusters = nClusters, nProbe = nClusters,
          rerank = all), emb, vecQueries),
        stored(new IvfIndexNode(k = k, nClusters = nClusters, nProbe = nClusters,
          quantized = true, rerank = all), emb, vecQueries)))
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.select("query_id", df.columns(1), "score", "rank").collect().toSeq
      .sortBy(r => (r.getLong(0), r.getInt(3)))

  test("one-shot retrieval nodes equal their index twins on one corpus") {
    val c = Ctx(spark)
    twins.foreach { t =>
      val want = rows(t.oneShot(c))
      val got = rows(t.index(c))
      assert(want.nonEmpty, s"${t.name}: empty one-shot result")
      assert(got == want, s"${t.name}:\none-shot $want\nindex    $got")
    }
  }
}
