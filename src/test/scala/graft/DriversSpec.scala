package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver harness: query selection, the between-query sweep and the
  * bench warm-up list. */
class DriversSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  test("Drivers.select: registry order, narrowed by the filter") {
    assert(Drivers.select(None) == SparkEntry.queryOrder)
    // the filter's own order does not matter: registry order wins
    val picked = Drivers.select(Some("q6_window_rank, q1_agg"))
    assert(picked == Seq("q1_agg", "q6_window_rank"))
  }

  test("Drivers.select refuses unknown names, naming each of them") {
    val e = intercept[IllegalArgumentException](
      Drivers.select(Some("q1_agg,q1_agh,q9999_nope")))
    assert(e.getMessage.contains("q1_agh") && e.getMessage.contains("q9999_nope"))
    assert(!e.getMessage.contains("q1_agg"))
  }

  test("Drivers.select accepts a caller's extras but returns only registered queries") {
    val picked = Drivers.select(Some("q1_agg,q98_fixed_batch"), extras = Set("q98_fixed_batch"))
    assert(picked == Seq("q1_agg"))
    intercept[IllegalArgumentException](Drivers.select(Some("q98_fixed_batch")))
  }

  test("Drivers.warmList names only registered queries, once each") {
    val registered = SparkEntry.queryOrder.toSet
    assert(Drivers.warmList.filterNot(registered).isEmpty)
    assert(Drivers.warmList.distinct == Drivers.warmList)
  }

  test("Drivers.sweep releases persisted and localCheckpointed frames and state stores") {
    val persisted = spark.range(100).selectExpr("id * 2 as v").persist()
    persisted.count()
    val checkpointed = spark.range(100).selectExpr("id + 1 as v").localCheckpoint()
    checkpointed.count()
    assert(!spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    // a stateful stream loads state-store providers that outlive the query
    val dir = java.nio.file.Files.createTempDirectory("drivers_sweep").toString
    try {
      spark.range(8).selectExpr("id", "id % 2 as k").write.mode("overwrite").parquet(dir)
      val q = spark.readStream.schema("id BIGINT, k BIGINT").parquet(dir)
        .groupBy("k").count()
        .writeStream.format("memory").queryName("drivers_sweep")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination(60000) finally q.stop()
      assert(Drivers.loadedProviderCount() > 0)
      Drivers.sweep(spark)
      assert(spark.sharedState.cacheManager.isEmpty)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
      assert(Drivers.loadedProviderCount() == 0)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
