package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the driver programs (Bench, Verify, PlanDump,
  * Scale10), so every program plans and runs on the contract
  * config: `local[SPARK_GRAFT_CPUS]` (default 4) with as many shuffle
  * partitions as cores, UTC session time, no UI, AQE coalescing by
  * advisory size, and graft's kernels registered.
  */
object GraftSession {
  def apply(logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // AQE coalesces small shuffle stages by advisory size, not to full
      // parallelism: ~13% off the flagship's per-job scheduling overhead,
      // and at cluster scale the advisory size is the right target. An A/B
      // over both parallelismFirst values and a smaller 8m advisory found
      // nothing better.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    graft.functions.VecFunctions.register(spark)
    spark
  }
}
