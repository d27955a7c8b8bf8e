package graft.nodes

import graft.dag._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col, count, expr, lit, sum, when}

/** Link-graph authority scoring for web-corpus curation: documents from
  * high-authority domains get priority in the training mix, low-authority
  * link farms get down-weighted (the reference has no graph operators; this
  * is north-star surface alongside dedup/quality, same family as
  * `ConnectedComponentsNode` — iterative, per-round lineage cuts).
  *
  * PageRank in FIXED-POINT INTEGER arithmetic: ranks are bigint micro-units
  * of a total mass `scale`, every step is integer multiply/divide. Two
  * reasons, both production-grade rather than test conveniences:
  *   - determinism: float PageRank depends on summation order, which varies
  *     with partitioning/retries; integer sums are associative-exact, so a
  *     speculative re-run or a different partition count produces the SAME
  *     ranks bit-for-bit (and any external engine mirroring the formula
  *     reproduces them — that is what the q95 DuckDB oracle does);
  *   - no drift: repeated float normalization accumulates error at 10^9-node
  *     scale; integer mass can only leak via floor-division remainders,
  *     bounded by (#edges + N) units per round out of `scale` = 1e12.
  *
  * Per round (damping d = dampingNum/100, N nodes, base = scale div N):
  *   contrib(u)  = rank(u) div outdeg(u)            — u non-dangling
  *   inflow(v)   = Σ contrib(u) over edges u→v
  *   dangShare   = (Σ rank(u) over dangling u) div N
  *   rank'(v)    = ((100-d)·base) div 100 + (d·(inflow(v)+dangShare)) div 100
  *
  * Scale shape: edges are deduped, hash-partitioned on `src` ONCE and
  * persisted, so each round's contribution join reshuffles only the skinny
  * (id, rank) side; the dangling mass is a one-row aggregate broadcast into
  * the update (no driver round-trip inside the loop). Lineage is cut per
  * round with an EAGER localCheckpoint, which truncates the otherwise-
  * doubling plan (`ConnectedComponentsNode` cuts lazily instead: its
  * per-round convergence count is the action that stores the cut, and the
  * fixed-iteration rounds here have no such count).
  */
class PageRankNode(
    val srcCol: String = "src",
    val dstCol: String = "dst",
    val iterations: Int = 3,
    val scale: Long = 1000000000000L,
    val dampingNum: Int = 85,
    // convergence stop: end early once total absolute rank movement (integer
    // units) falls below this. At 10^9 nodes fixed-iteration is a demo —
    // convergence is the production mode; `iterations` then caps the rounds.
    // Costs one node-set-sized aggregate per round (reads checkpointed
    // frames, no recompute).
    val tolerance: Option[Long] = None)
  extends Node {
  require(iterations >= 1, "iterations must be >= 1")
  require(dampingNum >= 0 && dampingNum <= 100, "dampingNum must be in [0, 100]")
  require(tolerance.forall(_ >= 0), "tolerance must be >= 0")
  override protected def defaultName: String = "pagerank"
  val inputs = Seq(Port("edges"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("pagerank")
  override def jsonParams: Map[String, Any] = Map(
    "srcCol" -> srcCol, "dstCol" -> dstCol, "iterations" -> iterations,
    "scale" -> scale, "dampingNum" -> dampingNum,
    "tolerance" -> tolerance.map(_.toString).orNull)

  /** Rounds actually executed by the last transform (spec diagnostic). */
  @volatile var lastRounds: Int = -1

  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val np = ctx.spark.sessionState.conf.numShufflePartitions
    val edges = ctx.track(
      in("edges")
        .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
        .distinct()
        .repartition(np, col("src")))
    val nodes = ctx.track(
      edges.select(col("src").as("id")).union(edges.select(col("dst").as("id"))).distinct())
    // N and base are driver scalars (one count over the deduped node set —
    // a #nodes-sized aggregate, not a data-sized one)
    val n = nodes.count()
    require(n > 0, s"pagerank '$name': empty edge set")
    val base = scale / n
    val teleport = (100L - dampingNum) * base / 100L
    val outdeg = ctx.track(edges.groupBy("src").agg(count(lit(1)).as("outdeg")))
    var ranks = nodes.select(col("id"), lit(base).as("rank")).localCheckpoint()
    var round = 0
    var converged = false
    while (round < iterations && !converged) {
      // dangling nodes hold rank but emit no edges; their mass is spread
      // uniformly (the standard correction — dropping it deflates totals)
      val dangling = ranks.join(outdeg, ranks("id") === outdeg("src"), "left_anti")
        .agg(expr("coalesce(sum(rank), cast(0 as bigint))").as("dang"))
      val contrib = edges
        .join(ranks.join(outdeg, ranks("id") === outdeg("src"))
                .select(ranks("id").as("cid"), expr("rank div outdeg").as("contrib")),
              edges("src") === col("cid"))
        .groupBy(edges("dst").as("id")).agg(sum(col("contrib")).as("inflow"))
      val prev = ranks
      ranks = nodes.join(contrib, Seq("id"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("id"),
          (lit(teleport) +
            expr(s"($dampingNum * (coalesce(inflow, cast(0 as bigint)) " +
                 s"+ dang div cast($n as bigint))) div 100")).as("rank"))
        .localCheckpoint()
      tolerance.foreach { tol =>
        // both sides are checkpointed node-sized frames — the movement sum
        // is a cached-read join, not a recompute of the round
        val moved = ranks.join(prev.withColumnRenamed("rank", "__prev"), Seq("id"))
          .agg(expr("sum(abs(rank - __prev))").as("m"))
          .collect().head.getAs[Long]("m")
        if (moved < tol) converged = true
      }
      prev.unpersist()
      round += 1
    }
    lastRounds = round
    Map("result" -> ranks)
  }
}

object PageRankNode {
  def apply(srcCol: String, dstCol: String, iterations: Int): PageRankNode =
    new PageRankNode(srcCol, dstCol, iterations)
}

/** Triangle counting over an undirected graph — the standard graph-quality
  * signal for link-corpus curation (clustering coefficient ~ community
  * density vs link-farm spray). Exact integer count via the degree-ordered
  * orientation (the MapReduce classic — Suri & Vassilvitskii WWW'11
  * "Counting Triangles and the Curse of the Last Reducer"):
  *
  *   - canonicalize: (least, greatest), self-loops dropped, distinct;
  *   - orient every edge from its LOWER-ordered endpoint under the total
  *     order (degree, id) — each node's out-degree is then O(sqrt(m)), so
  *     the wedge self-join is bounded even when raw degrees are power-law
  *     (the "last reducer" hot spot this formulation exists to kill);
  *   - wedges at u = ordered pairs of u's out-neighbors; each triangle
  *     closes exactly once, at its lowest-ordered vertex.
  *
  * Output: one row — n_nodes, n_edges, n_triangles (all bigint, exact).
  *
  * Scale shape: two shuffles that matter (degree agg, wedge self-join on
  * src) plus the closing equi-join back against the oriented edge set; no
  * driver state beyond the one-row result, no iteration.
  */
class TriangleCountNode(
    val srcCol: String = "src",
    val dstCol: String = "dst")
  extends Node {
  override protected def defaultName: String = "triangle_count"
  val inputs = Seq(Port("edges"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("triangle_count")
  override def jsonParams: Map[String, Any] = Map("srcCol" -> srcCol, "dstCol" -> dstCol)

  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val canon = ctx.track(in("edges")
      .select(expr(s"least($srcCol, $dstCol)").cast("long").as("a"),
        expr(s"greatest($srcCol, $dstCol)").cast("long").as("b"))
      .filter(col("a") < col("b"))
      .distinct())
    val deg = canon.select(col("a").as("id")).union(canon.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // orient a<->b toward the higher (deg, id); carry the destination's
    // order key so the wedge filter needs no further join
    val withDeg = canon
      .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
    val oriented = ctx.track(withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        expr("struct(a as src, b as dst, db as ddeg)"))
        .otherwise(expr("struct(b as src, a as dst, da as ddeg)")).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.ddeg").as("ddeg")))
    val e1 = oriented.select(col("src"), col("dst").as("v"), col("ddeg").as("dv"))
    val e2 = oriented.select(col("src"), col("dst").as("w"), col("ddeg").as("dw"))
    val wedges = e1.join(e2, Seq("src"))
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("v"), col("w"))
    val closing = oriented.select(col("src").as("v"), col("dst").as("w"))
    val tri = wedges.join(closing, Seq("v", "w"))
      .agg(count(lit(1)).as("n_triangles"))
    val stats = canon.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
    Map("result" -> stats.crossJoin(broadcast(tri))
      .select("n_nodes", "n_edges", "n_triangles"))
  }
}
