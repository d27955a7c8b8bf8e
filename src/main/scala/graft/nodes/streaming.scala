package graft.nodes

import graft.dag._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming nodes (SURVEY.md §2.2 "Streaming" — strictly additive;
  * the reference is batch-only). Streaming DataFrames are still DataFrames, so
  * the relational nodes (FilterNode, ProjectNode, …) compose unchanged between
  * a stream source and a stream sink; only source/sink/watermark semantics are
  * streaming-specific.
  *
  * Scale: a file-stream source shards by files; state stores (window aggs,
  * mapGroupsWithState) partition by grouping key — the same shuffle-key
  * reasoning as batch applies to watermarked stateful ops.
  */

/** File-based stream source. Streaming requires an explicit schema, inferred
  * here from a one-off batch read of the same path (cheap: footer-only).
  */
class StreamSourceNode(val path: String, val format: String = "parquet",
                       val nanosTsCols: Seq[String] = Nil,
                       val statePartitions: Option[Int] = None,
                       val options: Map[String, String] = Map.empty) extends Node {
  override protected def defaultName: String = "stream_source"
  override def persistableOutput: Boolean = false // streams cannot persist
  val inputs: Seq[Port] = Nil
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("stream_source")
  override def jsonParams: Map[String, Any] = Map("path" -> path, "format" -> format, "nanosTsCols" -> nanosTsCols, "statePartitions" -> statePartitions.map(_.toString).orNull, "options" -> options)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    // Same session-conf isolation as SourceNode: nanosAsLong is set on an
    // isolated session (runtime confs copied) so the shared session is never
    // mutated and the read still honors the caller's runtime settings.
    // `statePartitions` right-sizes the stateful-operator fan-out for this
    // stream (state-store task count should track STATE size, not the batch
    // default — a bounded local source wants few state tasks; a 100 TB
    // stream wants many). It pins spark.sql.shuffle.partitions on the
    // stream's isolated session, which Structured Streaming locks in at the
    // first batch; aggregate VALUES are partitioning-independent.
    val overrides =
      (if (nanosTsCols.nonEmpty) Seq("spark.sql.legacy.parquet.nanosAsLong" -> "true") else Nil) ++
        statePartitions.map(n => "spark.sql.shuffle.partitions" -> n.toString)
    val readSession =
      if (overrides.isEmpty) ctx.spark
      else SessionIsolation.cloneWith(ctx.spark, overrides: _*)
    val schema = DatasetResolver.load(readSession, format, path).schema
    // File-stream sources require a DIRECTORY; stage single files behind a
    // temp dir with a symlink (no data copy). Staged dirs are cached per
    // target file — repeat transforms in a long-lived session reuse one dir
    // instead of leaking one per invocation — and both dir and link register
    // for exit-deletion (dir first: deleteOnExit runs in reverse order, so
    // the link goes first and the then-empty dir can follow).
    val streamPath = {
      val f = new java.io.File(path)
      if (f.isFile) StreamSourceNode.stagedDir(f) else path
    }
    // reader options: backpressure knobs (maxFilesPerTrigger,
    // maxBytesPerTrigger), latestFirst, pathGlobFilter, ... — a bounded
    // per-trigger intake is what keeps a backlogged 100 TB stream's
    // micro-batches sized to the cluster instead of one giant first batch
    val df0 = readSession.readStream.format(format).schema(schema)
      .options(options).load(streamPath)
    val df = nanosTsCols.foldLeft(df0)(TsNorm.normalize)
    Map("result" -> df)
  }
}
object StreamSourceNode {
  private val staged = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[nodes] def stagedDir(f: java.io.File): String =
    staged.compute(f.getCanonicalPath, { (_, cur) =>
      // revalidate cache hits: a tmp-reaper may have pruned the staging dir,
      // or the target file may have been recreated leaving the link dangling
      // — Files.exists follows the symlink, so either case falls through to
      // a fresh staging dir instead of failing every subsequent read
      val stale = cur == null ||
        !java.nio.file.Files.exists(java.nio.file.Paths.get(cur).resolve(f.getName))
      if (!stale) cur
      else {
        val dir = java.nio.file.Files.createTempDirectory("graft_stream_stage_")
        dir.toFile.deleteOnExit()
        val link = java.nio.file.Files.createSymbolicLink(dir.resolve(f.getName), f.toPath)
        link.toFile.deleteOnExit()
        dir.toString
      }
    })

  /** Testdata layout helper (events.ts is TIMESTAMP(NANOS)); bounded local
    * tables carry little state, so the stateful fan-out is right-sized down. */
  def table(sfDir: String, table: String, statePartitions: Option[Int] = Some(8)): StreamSourceNode =
    new StreamSourceNode(s"$sfDir/$table.parquet", "parquet",
      nanosTsCols = if (table == "events") Seq("ts") else Nil,
      statePartitions = statePartitions).named(s"${table}_stream")
}

/** Event-time watermark: bounds state retention and defines late-data cutoff
  * for downstream windowed aggregations.
  */
class WatermarkNode(val tsCol: String, val delay: String) extends Node {
  override protected def defaultName: String = "watermark"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("watermark")
  override def jsonParams: Map[String, Any] = Map("tsCol" -> tsCol, "delay" -> delay)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] =
    Map("result" -> in("df").withWatermark(tsCol, delay))
}

/** Windowed aggregation over event time: tumbling (no slide), sliding, or
  * session windows (`gap` set). groupBy keys are appended after the window.
  */
class StreamWindowAggNode(
    val tsCol: String,
    val duration: String,
    val slide: Option[String] = None,
    val gap: Option[String] = None,
    val keys: Seq[String] = Nil,
    val aggs: Seq[String]) extends Node {
  override protected def defaultName: String = "stream_window_agg"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("stream_window_agg")
  override def jsonParams: Map[String, Any] = Map("tsCol" -> tsCol, "duration" -> duration, "slide" -> slide, "gap" -> gap, "keys" -> keys, "aggs" -> aggs)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    import org.apache.spark.sql.functions.{session_window, window}
    val w = gap match {
      case Some(g) => session_window(col(tsCol), g)
      case None => slide match {
        case Some(s) => window(col(tsCol), duration, s)
        case None    => window(col(tsCol), duration)
      }
    }
    val grouped = in("df").groupBy(w +: keys.map(col): _*)
    val aggCols = aggs.map(expr)
    Map("result" -> grouped.agg(aggCols.head, aggCols.tail: _*))
  }
}

/** Arbitrary stateful streaming: per-key running count via
  * `mapGroupsWithState` — the custom-state primitive (KeyValueGroupedDataset)
  * for logic windowed aggs can't express. State lives in the state store,
  * partitioned by key: the same shuffle-key scaling as any keyed aggregation.
  * With a bounded source + Trigger.AvailableNow the final counts equal the
  * batch groupBy-count, which is what the oracle checks.
  */
class StreamStatefulCountNode(val keyCol: String) extends Node {
  override protected def defaultName: String = "stream_stateful_count"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("stream_stateful_count")
  override def jsonParams: Map[String, Any] = Map("keyCol" -> keyCol)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val keyed = in("df").select(col(keyCol).cast("long"))
      .as[Long](Encoders.scalaLong)
      .groupByKey(identity)(Encoders.scalaLong)
    val counted = keyed.mapGroupsWithState[Long, (Long, Long)](GroupStateTimeout.NoTimeout) {
      (key, values, state) =>
        val c = state.getOption.getOrElse(0L) + values.size
        state.update(c)
        (key, c)
    }(Encoders.scalaLong, Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    Map("result" -> counted.toDF(keyCol, "cnt"))
  }
}

/** Terminal for a streaming plan: runs the query with Trigger.AvailableNow
  * (process everything currently available, then stop) into an in-memory
  * table and returns that table as a batch DataFrame. This turns a streaming
  * pipeline into something Verify/Bench can consume; production sinks swap
  * the format for kafka/parquet with a real trigger.
  */
/** Production stream terminal: exactly-once FILE sink with a checkpoint.
  * Offsets + sink metadata live under `checkpointPath`, so a killed run
  * restarted with the same checkpoint resumes from the last committed batch —
  * already-committed input is never reprocessed and half-written output files
  * are never visible (the file sink commits atomically via its _spark_metadata
  * log). `Trigger.AvailableNow` drains whatever is available then stops
  * (swap for a continuous trigger in an always-on pipeline); the returned
  * frame is a batch read of the committed output, usable downstream like any
  * other node output.
  *
  * Scale: the sink writes one file per partition per batch — pair with an
  * upstream RepartitionNode to size files, and put checkpointPath on durable
  * shared storage (HDFS/S3), never executor-local disk.
  */
class StreamSinkNode(val path: String, val checkpointPath: String,
                     val format: String = "parquet",
                     val outputMode: String = "append",
                     val partitionBy: Seq[String] = Nil,
                     val timeoutMs: Long = 120000) extends Node {
  override protected def defaultName: String = "stream_sink"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("stream_sink")
  override def jsonParams: Map[String, Any] = Map("path" -> path, "checkpointPath" -> checkpointPath, "format" -> format, "outputMode" -> outputMode, "partitionBy" -> partitionBy, "timeoutMs" -> timeoutMs)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val w0 = in("df").writeStream
      .format(format)
      .option("checkpointLocation", checkpointPath)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
    val w = if (partitionBy.nonEmpty) w0.partitionBy(partitionBy: _*) else w0
    val q = w.start(path)
    val finished = q.awaitTermination(timeoutMs)
    if (!finished) {
      // stopping mid-drain would return a silently PARTIAL batch read —
      // the opposite of the exactly-once contract; fail loudly instead
      // (the checkpoint makes a re-run resume where this one stopped)
      q.stop()
      throw new GraftException(
        s"stream sink '$name' did not drain within ${timeoutMs}ms — output is " +
          "incomplete; raise timeoutMs and re-run (the checkpoint resumes from " +
          "the last committed batch)")
    }
    // read back through the owning session so nanos/shuffle overrides from a
    // cloned stream source stay in effect for the batch read too
    Map("result" -> in("df").sparkSession.read.format(format).load(path))
  }
}

class StreamRunNode(val queryName: String, val outputMode: String = "append",
                    val timeoutMs: Long = 120000) extends Node {
  override protected def defaultName: String = "stream_run"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("stream_run")
  override def jsonParams: Map[String, Any] = Map("queryName" -> queryName, "outputMode" -> outputMode, "timeoutMs" -> timeoutMs)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val q = in("df").writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    val finished = q.awaitTermination(timeoutMs)
    if (!finished) {
      q.stop()
      throw new GraftException(
        s"stream run '$name' did not drain within ${timeoutMs}ms — the memory " +
          "table would be silently partial; raise timeoutMs")
    }
    // the memory sink registers its table in the session that OWNS the
    // streaming frame (which may be a per-source clone — see StreamSourceNode)
    Map("result" -> in("df").sparkSession.table(queryName))
  }
}
