package graft.queries

import graft.dag._
import graft.nodes._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Query corpus: every SURVEY.md §2 operator exercised through the DAG API,
  * each with a DuckDB oracle (SparkEntry.oracleSql) where SQL-expressible.
  * Column aliases MUST match between the DAG query and the oracle — the
  * driver sorts columns by name before hashing.
  */
object Queries {

  /** Run a single-output dag built by `build` and return that output. */
  def run(spark: SparkSession)(build: Dag => Unit): DataFrame = {
    val d = new Dag()
    build(d)
    val out = d.transform(Ctx(spark)).outputs
    require(out.size == 1, s"expected one dag output, got ${out.keys}")
    out.head._2
  }

  // --------------------------------------------------------------
  // q1_agg — TPC-H Q1 shape: scan → pushed filter → hash agg.
  // Sums accumulate in decimal (exact, order-independent) and the FINAL
  // value is cast to double on BOTH engines: the exact sum's unscaled
  // value stays below 2^53, so decimal→double is a single correct
  // rounding of the same rational on each side → bit-identical float64.
  // (Leaving the output as decimal fails the driver's hash: Spark parquet
  // decimals keep trailing zeros, DuckDB's pandas path prints float64.)
  // --------------------------------------------------------------
  def q1_agg(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    d.add(SourceNode.table(dir, "lineitem")) >>
      FilterNode("l_shipdate <= timestamp'1998-09-02 00:00:00'") >>
      new AggNode(Seq("l_returnflag", "l_linestatus"), Seq(
        "cast(sum(cast(l_quantity as decimal(18,2))) as double) as sum_qty",
        "cast(sum(cast(l_extendedprice as decimal(18,2))) as double) as sum_base_price",
        "count(*) as count_order")) >>
      SortNode("l_returnflag", "l_linestatus") >>
      d.output("result")
  }
  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty,
      |  cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sum_base_price,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Full registry: (name, query, oracleSql | null = rows-only check). */
  val registry: Seq[(String, (SparkSession, String) => DataFrame, String)] =
    Seq(("q1_agg", q1_agg _, q1Sql)) ++ Relational.entries ++ NorthStar.entries ++
      Extra.entries ++ Analytics.entries ++ Recall.entries ++ Curation.entries ++
      Quality.entries ++ Advanced.entries

  val all: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, f, _) => n -> f }.toMap
  val oracles: Map[String, String] =
    registry.collect { case (n, _, sql) if sql != null => n -> sql }.toMap

  /** Per-query bench gates: aggregate expressions the timing programs
    * evaluate INSTEAD of a bare count() where count() lets Catalyst elide the query's real work
    * (VERDICT r10 wrong-item #3). q137's count() pruned `clean_text`, which
    * eliminated the cardinality-preserving covered-position join AND the
    * reassembly aggregate — the bench read 0.2 s for ~10 s of actual work.
    * Verify always materializes every column, so correctness never needed
    * this; it exists purely so bench numbers mean what they appear to mean.
    */
  val benchGates: Map[String, String] = Map(
    "q137_span_dedup" -> "sum(length(clean_text) + n_tokens_kept)")

  /** The action the timing programs (Bench, Scale10) time for query `name`:
    * its bench gate, evaluated together with the row count, where it has
    * one, else a bare count(). Returns the row count. */
  private[graft] def materialize(name: String, df: DataFrame): Long =
    benchGates.get(name) match {
      case Some(g) => df.selectExpr(g, "count(*)").head().getLong(1)
      case None    => df.count()
    }
}
