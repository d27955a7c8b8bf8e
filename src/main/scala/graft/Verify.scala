package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated query-name filter (fast iteration).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // Decimal→double hash-contract guard: queries compare bit-identically
    // only while each exact decimal aggregate's value has magnitude below
    // 2^53 / 10^scale (scale <= 4 in this corpus) — one correct rounding on
    // both engines. A scale-factor bump that crosses the bound must fail
    // LOUDLY here, not surface as flaky driver hash mismatches.
    val doubleBound = 9.007e11 // 2^53 / 10^4, rounded down
    val violations = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val written = spark.read.parquet(s"$outDir/$name")
        val dCols = written.schema.fields
          .filter(_.dataType == org.apache.spark.sql.types.DoubleType).map(_.name)
        if (dCols.nonEmpty) {
          import org.apache.spark.sql.functions.{abs, col, max}
          written.agg(max(dCols.map(c => abs(col(c))).reduce(
            org.apache.spark.sql.functions.greatest(_, _))).as("m"))
            .collect().headOption.map(_.getAs[Any]("m")).foreach {
              case d: java.lang.Double if d != null && d > doubleBound =>
                violations += s"$name: max |double| = $d exceeds 2^53/10^4 exactness bound"
              case _ =>
            }
        }
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally spark.catalog.clearCache() // node-internal persists must not leak across queries
    }
    if (violations.nonEmpty) {
      violations.foreach(v => System.err.println(s"[verify] DECIMAL-GUARD $v"))
      throw new IllegalStateException(
        s"${violations.size} quer(y/ies) exceed the decimal->double exact-rounding bound; " +
          "raise aggregate scaling (pre-bucket, mod, or widen the oracle contract) before bumping SF")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
