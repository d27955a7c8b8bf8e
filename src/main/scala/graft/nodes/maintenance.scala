package graft.nodes

import graft.dag.{Ctx, GraftException, In, Node}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The common maintenance contract of the eight incremental index
  * families: MinHashIndexNode (near-dup), DHashIndexNode (perceptual-hash
  * near-dup), IvfIndexNode (dense ANN), InvertedIndexNode (sparse lexical),
  * ClusterIndexNode (connected components), AggIndexNode (exact
  * aggregates), SketchIndexNode (HLL/KLL sketches) and MaterializedJoinNode
  * (join IVM, fact side). Fit once over the base corpus, fold deltas in
  * with `updateIndex`, serve queries from the persisted index. The trait is
  * what lets ONE streaming-maintenance driver
  * (`IndexMaintenance.maintainFromStream`) refresh any of them from the
  * same live crawl — the day-2 production deployment where the delta is a
  * stream, not a batch. All eight keep their fitted state as persisted
  * frames and share the stored-state lifecycle of [[StoredIndex]]; the
  * MaterializedJoinNode dim-side handle (`rightSide`) is the one
  * IncrementalIndex that is not itself a StoredIndex.
  */
trait IncrementalIndex { self: Node =>
  /** Fold a delta batch into the fitted index (delta-sized work only).
    *
    * FRAME LIFETIME (all stored families): a DataFrame handed out by a
    * fitted index (a model's bucket/posting/ledger frame, a transform
    * output derived from one) stays readable for at most TWO index folds
    * after it was served — state lives in per-wave parquet segments that
    * a periodic fold consolidates, and the files a fold supersedes are
    * retired one fold later (disk stays bounded at ~2 fold generations;
    * `compactIndex` likewise keeps two index copies per node).
    * A consumer holding a served frame across many `updateIndex`/
    * `deleteFromIndex` waves (≥ 2×`compactEvery`) must materialize it
    * (write/collect/checkpoint) before continuing maintenance; after
    * cache eviction a frame older than two folds fails with
    * FileNotFoundException. Re-reading through the model accessor after
    * each wave always serves the live generation. */
  def updateIndex(ctx: Ctx, delta: DataFrame): Unit

  /** Remove documents from the fitted index — the takedown/GDPR path that
    * CDC tombstones need: `CdcApply` deletes rows from the published CORPUS,
    * and without this the indexes keep serving the deleted documents until
    * a full refit. `deletes` carries the index's id column (extra columns
    * ignored); ids absent from the index are no-ops (tombstones may arrive
    * for never-indexed or already-deleted docs).
    *
    * Exactness contract per family (each documented at its override):
    * InvertedIndexNode is BIT-IDENTICAL to a from-scratch fit over the
    * post-delete corpus (exact df/N decrement); IvfIndexNode is identical
    * given the same frozen centroids; MinHashIndexNode is identical except
    * buckets previously dropped whole by `maxBucket` (they are not
    * resurrected); ClusterIndexNode removes the doc from the mapping while
    * RETAINING historical connectivity for the remaining members.
    *
    * Upsert composition: `updateIndex` is append-only, so re-crawling a
    * changed document must call `deleteFromIndex(ids)` FIRST and then
    * `updateIndex(newRows)` — `IndexMaintenance.maintainFromStream` does
    * exactly that when given a `deleteCol`. */
  def deleteFromIndex(ctx: Ctx, deletes: DataFrame): Unit

  /** Apply ONE CDC wave: `upserts` REPLACE any stored version of their ids
    * (delete-then-insert, the upsert composition above), `deletes` are
    * takedowns applied LAST — an id in BOTH sets nets to the delete (the
    * MergeNode/CdcApply convention, q164's shape). The default three-call
    * sequence is exact for every family and is the MEASURED-FAST path:
    * round 19 overrode it in three families with a combined
    * tombstone-then-insert wave (one driver action per micro-batch instead
    * of three) and the contract-config bench measured that 1.9-13.5x
    * SLOWER (q209 14.98 → 201.97 s) — the combined wave forces BOTH the
    * delete-step Δview derivation and the insert-step join on every
    * micro-batch where pure-upsert/pure-delete batches paid one side, and
    * its anti-join re-evaluates each uncached wave leg 2-3x. Reverted in
    * r20 (A/B in OPTIMIZATION_r20.md); do not re-add an override without
    * a committed 32-core win on q198/q204/q205/q209/q211. */
  def applyCdcWave(ctx: Ctx, upserts: DataFrame, deletes: DataFrame): Unit = {
    deleteFromIndex(ctx, upserts)
    updateIndex(ctx, upserts)
    deleteFromIndex(ctx, deletes)
  }

  /** The family's per-document RETENTION ledger: (frame, id column), where
    * the frame carries the id under the name `deleteFromIndex` consumes
    * plus whatever per-document columns the family keeps (each override
    * documents its schema). None (default) = the family has no
    * per-document state to evaluate a predicate over (e.g. ledgerless
    * sketches) — `deleteWhere` then refuses loudly. */
  protected def retentionLedger: Option[(DataFrame, String)] = None

  /** RETENTION deletes across the family: remove every indexed document
    * matching `condition` — a Spark SQL boolean over the family's ledger
    * columns (see `retentionLedger`). The "drop everything shorter than X /
    * older than Y / in cluster Z" path: at 100 TB the victim set must not
    * round-trip through the driver as an id list — the predicate IS the
    * victim set, evaluated distributed over the ledger and routed straight
    * into `deleteFromIndex` (so `deleteWhere(cond)` ==
    * `deleteFromIndex(ledger WHERE cond)` by construction, which is what
    * the per-family spec pins). NULL-safe: rows where the condition
    * evaluates NULL are KEPT (victims are rows where it is TRUE). */
  def deleteWhere(ctx: Ctx, condition: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit}
    val (ledger, idc) = retentionLedger.getOrElse(throw new GraftException(
      s"deleteWhere: this index family keeps no per-document ledger to " +
        s"evaluate '$condition' over (ledgerless state cannot decrement)"))
    val cond = coalesce(expr(condition).cast("boolean"), lit(false))
    deleteFromIndex(ctx, ledger.filter(cond).select(col(idc)).distinct())
  }

  /** Highest streaming micro-batch id already folded in — the foreachBatch
    * replay guard. Structured Streaming redelivers the last UNCOMMITTED
    * batch after a restart with the SAME batch id, so skipping
    * `batchId <= lastAppliedBatch` upgrades foreachBatch's at-least-once
    * delivery to effective exactly-once index maintenance (updateIndex is
    * an append — replaying it would double-count postings/df/assignments).
    */
  @volatile var lastAppliedBatch: Long = -1L
}

/** The stored-state lifecycle every index family shares, defined once:
  * double-buffered `compactIndex`, the per-wave epilogue (`endWave`: fold
  * the stores that are due, re-resolve the store-backed frames, bump the
  * generation, run the `compactEvery` cadence), `saveFitted` with the
  * replay-guard watermark, both `loadFitted` overloads and
  * `unpersistIndex`. A family supplies only what is its own: which of its
  * frames live in [[SegStore]]s, how its frames are written and read back
  * (including load-time upgrades of older save layouts), and which
  * non-store frames a superseded model releases. It extends (rather than
  * self-types) EstimatorNode because it overrides the fitted-state
  * persistence hooks. */
trait StoredIndex extends graft.dag.EstimatorNode with IncrementalIndex {
  import org.apache.spark.sql.SparkSession

  /** Run `compactIndex` every this many maintenance waves (0 = never). */
  def compactEvery: Int
  /** Durable root for compactions (`gen-0`/`gen-1`) and store segments
    * (`segs/`); a per-node JVM temp dir when unset. */
  def compactPath: Option[String]
  require(compactEvery >= 0, "compactEvery must be >= 0")

  /** Labels of the family's SegStores, in `storeFrames` order. */
  protected def storeLabels: Seq[String] = Nil
  /** The model's store-backed frames, in `storeLabels` order. */
  protected def storeFrames(m: Model): Seq[DataFrame] = Nil
  /** `m` with its store-backed frames replaced by `frames`; `folded` holds,
    * per store, the row count of a fold this wave ran (a family that caches
    * a state cardinality re-derives it there). */
  protected def withStoreFrames(m: Model, frames: Seq[DataFrame],
                                folded: Seq[Option[Long]]): Model = m
  /** Release the persisted frames of `m` that no store owns. */
  protected def releaseFrames(m: Model): Unit = ()
  /** The session the fitted frames are bound to. */
  protected def stateSession(m: Model): SparkSession
  /** Write the fitted frames under `path` (overwrite). */
  protected def writeState(m: Model, path: String): Unit
  /** Read back what `writeState` wrote under `path`, persisted. `prior` is
    * the model a compaction replaces (its driver-side scalars carry over);
    * None on a load, which may meet an older save layout. */
  protected def readState(spark: SparkSession, path: String,
                          prior: Option[Model]): Model

  @volatile private var openStores: Vector[SegStore] = Vector.empty
  /** The family's open SegStores, in `storeLabels` order. */
  private[nodes] final def stores: Seq[SegStore] = openStores

  /** Seed the stores on cached base frames (`storeLabels` order): open them
    * on first use, otherwise re-seed them in place — a refit, reload or
    * compaction retires the old pieces like a fold does. */
  protected final def seedStores(bases: Seq[DataFrame]): Unit =
    if (openStores.isEmpty)
      openStores = storeLabels.zip(bases).map { case (l, b) =>
        new SegStore(s"${name}_$l", compactPath.map(_ + "/segs")).reset(b)
      }.toVector
    else openStores.zip(bases).foreach { case (st, b) => st.reseed(b) }

  private def install(m: Model): Unit = {
    seedStores(storeFrames(m))
    model = Some(m)
  }

  /** Maintenance waves applied since fit (the compaction cadence input). */
  @volatile private var generation: Long = 0L

  /** Close one maintenance wave: fold every store past its fold budget,
    * re-resolve the model's store-backed frames to the stores' live
    * frames, and run the `compactEvery` cadence. */
  protected final def endWave(): Unit = {
    if (openStores.nonEmpty) {
      val folded = openStores.map(st => if (st.needsFold) Some(st.fold()) else None)
      model = model.map(withStoreFrames(_, openStores.map(_.live), folded))
    }
    generation += 1
    if (compactEvery > 0 && generation % compactEvery == 0) compactIndex()
  }

  /** Compactions applied so far (selects the gen-0/gen-1 write buffer). */
  @volatile private var compactGen: Long = 0L
  /** Compaction root when `compactPath` is unset: ONE temp dir per node,
    * swept at JVM exit (File.deleteOnExit cannot remove a non-empty dir). */
  private lazy val compactTempRoot: String = WorkDir(s"graft_${name}_compact_").toString

  /** Truncate the index lineage to parquet scans: write the resolved
    * frames, read them back on the same session and re-seed the stores on
    * the read-back (the durable fold doubles as every store's fold). The
    * parquet copy doubles as a crash-recovery point.
    *
    * The writes DOUBLE-BUFFER between `gen-0/` and `gen-1/` under
    * `compactPath` (or the node's temp root): after the first compaction
    * the live plan IS a scan of the previous compaction's directory, and
    * Spark refuses (correctly) to overwrite a path a plan is reading from —
    * so each compaction writes the subdirectory the current plan does NOT
    * read (ADVICE r7). Disk stays at two index copies; a frame served
    * before the previous compaction is inside the two-fold lifetime
    * documented at [[IncrementalIndex.updateIndex]]. */
  final def compactIndex(): Unit = {
    val m = fitted
    compactGen += 1
    val path = s"${compactPath.getOrElse(compactTempRoot)}/gen-${compactGen % 2}"
    saveFitted(path)
    install(readState(stateSession(m), path, Some(m)))
    releaseFrames(m)
  }

  /** Release the persisted index frames (fit again to rebuild). */
  final def unpersistIndex(): Unit = model.foreach { m =>
    openStores.foreach(_.unpersistAll())
    releaseFrames(m)
  }

  /** The fitted frames as parquet directories under `path` (the production
    * deployment: index on object storage, loaded by refresh jobs), plus the
    * replay-guard watermark so a restart that loads the index also skips
    * the streamed batches it already contains. */
  override def saveFitted(path: String): Unit = {
    val m = fitted
    writeState(m, path)
    val spark = stateSession(m)
    import spark.implicits._
    Seq(lastAppliedBatch).toDF("last_applied_batch")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/maintenance")
  }

  final override def loadFitted(path: String): Unit = loadFitted(path, None)

  /** Load the index onto a specific session. `SparkSession.active` is wrong
    * in multi-session drivers (SessionIsolation clones, per-source streaming
    * sessions): the index frames would bind to whichever session happens to
    * be active, missing the function registry/confs of the session that
    * later runs transform (ADVICE r5). Loaded frames are persisted like
    * fit's — a loaded index serves every later batch, and the superseded-
    * generation release cycle must have a persist to release (ADVICE r10).
    * The watermark is absent in pre-maintenance saves: then no streamed
    * batch was ever folded in. */
  final def loadFitted(path: String, session: Option[SparkSession]): Unit = {
    val spark = session.getOrElse(SparkSession.active)
    install(readState(spark, path, None))
    val p = new org.apache.hadoop.fs.Path(s"$path/maintenance")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    lastAppliedBatch =
      if (fs.exists(p)) spark.read.parquet(p.toString).collect().head.getLong(0)
      else -1L
  }
}

/** The capped banded-bucket state the two LSH-style near-dup families share
  * (MinHashIndexNode: band hashes of shingle sets; DHashIndexNode: pigeonhole
  * chunks of 64-bit hashes). Two SegStores: the per-document LEDGER
  * (`base_id` plus the sketch) and the BUCKET table keyed on `bucketKey`.
  * A bucket holding more than `maxBucket` rows is dropped WHOLE (the
  * boilerplate-family guard fit applies), expressed in the store as a
  * composite-key tombstone on `bucketKey`: every stored row of the bucket
  * dies at the wave's generation, while rows a LATER wave inserts into the
  * same bucket survive (the restart semantics fit/update always had). The
  * cap is order-sensitive across waves; `rebuildIndex` is the exact
  * re-derivation. */
trait BandedBucketIndex extends StoredIndex {
  import org.apache.spark.sql.functions.col

  def idCol: String
  def maxBucket: Int
  /** Key columns of a bucket. */
  protected def bucketKey: Seq[String]
  /** Bucket rows (`bucketKey` columns first, then `base_id`, ...) of
    * ledger rows. */
  protected def bucketRows(ledger: DataFrame): DataFrame
  protected def ledgerFrame(m: Model): DataFrame
  protected def bucketFrame(m: Model): DataFrame
  protected def banded(ledger: DataFrame, buckets: DataFrame): Model

  override protected def storeLabels: Seq[String] = Seq("led", "bk")
  override protected def storeFrames(m: Model): Seq[DataFrame] =
    Seq(ledgerFrame(m), bucketFrame(m))
  override protected def withStoreFrames(m: Model, frames: Seq[DataFrame],
                                         folded: Seq[Option[Long]]): Model =
    banded(frames(0), frames(1))
  override protected def stateSession(m: Model): org.apache.spark.sql.SparkSession =
    ledgerFrame(m).sparkSession

  /** The fitted model of a corpus ledger: the ledger and its capped bucket
    * table, both persisted, seed the two stores. */
  protected final def fitLedger(ledger: DataFrame): Model = {
    import org.apache.spark.storage.StorageLevel
    val led = ledger.persist(StorageLevel.MEMORY_AND_DISK)
    val buckets = cappedBuckets(led).persist(StorageLevel.MEMORY_AND_DISK)
    seedStores(Seq(led, buckets))
    banded(led, buckets)
  }

  /** The bucket table of a ledger with the cap applied (fit, rebuild). */
  protected final def cappedBuckets(ledger: DataFrame): DataFrame = {
    val rows = bucketRows(ledger)
    NearDup.capBuckets(rows, bucketKey, maxBucket).select(rows.columns.map(col): _*)
  }

  /** Fold ledger rows in with O(delta) state writes: the rows land once as
    * a parquet ledger segment and their bucket rows derive from the CACHED
    * segment. Cap re-evaluation is restricted to the TOUCHED buckets
    * (stored buckets are ≤ maxBucket by invariant, so only buckets the
    * delta lands in can cross it): the per-wave count is delta-bucket-
    * sized. No explicit broadcast hint on the touched set (ADVICE r16: a
    * large wave makes it delta-sized — the autoBroadcast threshold decides
    * from the plan's own stats).
    *
    * Cap-crossings are RARE: most waves drop nothing, and an empty
    * tombstone costs a full parquet-commit write job plus a permanent extra
    * channel join in every bucket-live resolution until the next fold — so
    * one delta-bucket-sized count decides first. The count doubles as the
    * wave's materializing action (it fills the ledger segment's cache
    * through the bucket rows); every other frame roots in this wave's
    * parquet (the derived-segment contract), so caches fill lazily on first
    * use with no recompute hazard. */
  protected final def insertLedgerRows(rows: DataFrame): Unit = {
    val m = fitted
    val Seq(led, bk) = stores
    val fresh = bucketRows(led.appendSegment(rows))
    val key = bucketKey.map(col)
    val overCap = bucketFrame(m).select(key: _*)
      .join(fresh.select(key: _*).distinct(), bucketKey, "left_semi")
      .union(fresh.select(key: _*))
      .groupBy(key: _*).count()
      .filter(col("count") > maxBucket).select(key: _*)
      .persist()
    if (overCap.count() == 0L) {
      overCap.unpersist()
      bk.appendDerivedSegment(fresh)
    } else {
      val capTomb = bk.appendTombstones(bucketKey, overCap)
      overCap.unpersist()
      // DERIVED segment — no second write: bucket rows are a pure function
      // of the just-written ledger segment and the written cap tombstones,
      // so the lineage roots in this wave's parquet (depth 1, recoverable)
      bk.appendDerivedSegment(fresh.join(capTomb, bucketKey, "left_anti"))
    }
    endWave()
  }

  /** Remove deleted documents' ledger rows and bucket entries: one
    * generation-stamped id tombstone, written once and adopted by the
    * bucket store, resolved at read (a re-added document later survives by
    * generation). Identical to a from-scratch fit over the post-delete
    * corpus EXCEPT buckets previously dropped whole by `maxBucket`: those
    * rows were never stored, so a deletion that would bring a dropped
    * bucket back under the cap cannot resurrect it (under-recall, never
    * false positives) until `rebuildIndex` re-derives the buckets from the
    * ledger. Kept buckets only shrink, so the cap needs no re-evaluation.
    * Tombstones for unknown ids are no-ops. No materializing action: the
    * tombstone is already durable, and its read-back cache fills on first
    * use. */
  def deleteFromIndex(ctx: Ctx, deletes: DataFrame): Unit = {
    fitted
    val Seq(led, bk) = stores
    val tomb = led.appendTombstones("base_id",
      deletes.select(col(idCol).as("base_id")).distinct())
    bk.adoptTombstones("base_id", tomb) // same ids — one write, one file
    endWave()
  }

  /** Re-derive the bucket table from the LEDGER — the per-document ground
    * truth (bucket rows are a pure function of it) — so the rebuilt table
    * equals a from-scratch fit over the index's current contents
    * BIT-FOR-BIT, including the cap: buckets dropped whole while over
    * `maxBucket` RESURRECT once enough of their members were deleted (the
    * exactness gap deleteFromIndex documents). One corpus pass over the
    * skinny ledger, no data re-read; run after a deletion wave or on the
    * compaction cadence. */
  def rebuildIndex(): Unit = {
    val m = fitted
    val buckets = cappedBuckets(ledgerFrame(m))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    buckets.count() // materialize before releasing the superseded generation
    stores(1).reseed(buckets) // full replacement, clearing its tombstones
    endWave()
  }
}

/** Streaming serving through a node's BATCH plan, one micro-batch at a
  * time — the foreachBatch pattern the in-stream serving plans point at
  * when they refuse: per-query rank windows, broadcast probe selection at
  * production configs (nProbe << nClusters over 10^3+ centroids), and any
  * other batch-only shape all run unchanged against each micro-batch,
  * because foreachBatch hands the batch over as a plain DataFrame.
  *
  * Results land as one parquet directory PER BATCH ID
  * (`<outPath>/batch-N`, overwrite mode) — idempotent under foreachBatch's
  * at-least-once redelivery: a replayed batch rewrites its own directory
  * instead of appending duplicates, so `<outPath>/batch-*` always reads
  * exactly-once output. Correct because a redelivered batch id carries
  * the same rows (the file-source offsets are checkpointed).
  *
  * The contract this trades away vs the in-stream plans: per-query work
  * must be complete WITHIN one micro-batch (a rank over queries split
  * across batches would rank each fragment separately) — file-source
  * micro-batches split on file boundaries, so batch queries by file and
  * this holds by construction.
  */
object StreamServing {
  def serveStream(
      ctx: Ctx,
      queries: DataFrame,
      outPath: String,
      transform: DataFrame => DataFrame,
      checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      await: Boolean = true): StreamingQuery =
    StreamDriver.run("StreamServing.serveStream", queries,
      "a streaming query frame — run the batch plan directly otherwise",
      "serve", checkpoint, trigger, await) { (batch, batchId) =>
      transform(batch).write.mode("overwrite").parquet(s"$outPath/batch-$batchId")
    }
}

/** The one foreachBatch driver every streaming entry point runs on
  * (serving, copy-on-write and merge-on-read CDC apply, index maintenance):
  * the streaming-frame check, a unique query name, trigger, checkpoint,
  * start and await.
  *
  * The optional [[StreamDriver.ReplayGuard]] adds the replay rule the three
  * durable appliers share. Structured Streaming redelivers the last
  * uncommitted batch after a restart under the SAME id, so a batch at or
  * below the durable watermark is skipped, not re-applied. Batch ids are
  * only stable when the source offsets are checkpointed: a checkpoint-less
  * re-invocation renumbers every file from batch 0, and the skip would then
  * drop NEW waves by position. Such a call is refused once the watermark
  * shows applied batches, unless the caller acknowledges positional
  * skipping. */
private[nodes] object StreamDriver {
  /** `holder` names the state that carries the applied batches; `watermark`
    * is re-read for every batch (the apply step advances it). */
  final case class ReplayGuard(holder: String, watermark: () => Long,
                               positionalReplaySkipOk: Boolean)

  /** `who` names the entry point in its refusals; `needs` completes the
    * not-streaming one ("`who` needs `needs`"). */
  def run(who: String, frame: DataFrame, needs: String, queryName: String,
          checkpoint: Option[String], trigger: Trigger, await: Boolean,
          guard: Option[ReplayGuard] = None)(
      apply: (DataFrame, Long) => Unit): StreamingQuery = {
    if (!frame.isStreaming) throw new GraftException(s"$who needs $needs")
    guard.foreach { g =>
      val last = g.watermark()
      if (checkpoint.isEmpty && last >= 0 && !g.positionalReplaySkipOk)
        throw new GraftException(
          s"$who: ${g.holder} already carries applied batches up to id " +
            s"$last but no checkpoint was given — a fresh source renumbers " +
            "batches from 0 and the replay guard would skip new waves by " +
            "POSITION (data loss unless file ordering is stable). Pass the " +
            "original checkpointLocation (exactly-once), or " +
            "acknowledge positional skipping with positionalReplaySkipOk = true")
    }
    val writer = frame.writeStream
      .queryName(s"${queryName}_${System.nanoTime()}")
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (guard.forall(batchId > _.watermark())) apply(batch, batchId)
      }
      .trigger(trigger)
    checkpoint.foreach(writer.option("checkpointLocation", _))
    val q = writer.start()
    if (await) q.awaitTermination()
    q
  }
}

/** Streaming CDC apply — MERGE a change-data stream into a PUBLISHED
  * dataset, one committed generation per micro-batch: the lakehouse
  * "MERGE INTO from a stream" shape. Each micro-batch reads the CURRENT
  * committed generation, runs [[MergeNode]] (keyed upsert + tombstone
  * deletes — base side never shuffles), and commits the merged result
  * through [[AtomicPublish]]: readers always observe a complete
  * generation, a crash mid-merge leaves only a dangling uncommitted dir,
  * and the previous generation stays as rollback.
  *
  * Exactly-once: the applied batch id is written INSIDE the generation
  * directory (`_cdc/`, underscore-prefixed so scans ignore it) BEFORE the
  * manifest swap — the marker commits atomically with the data. On
  * restart, the guard re-reads the committed generation's marker, so a
  * redelivered micro-batch (foreachBatch is at-least-once) is skipped
  * instead of double-applied — double-applying an upsert is idempotent,
  * but double-applying against a base that already absorbed it would
  * still churn a spurious generation, and replaying a batch AFTER later
  * batches landed would resurrect overwritten rows.
  *
  * Scale: per micro-batch cost is the MergeNode shape — a broadcast
  * DISTINCT of delta keys anti-joined into the base scan plus a
  * delta-sized insert union; the base is re-read per batch from parquet
  * (no long-lived cache to invalidate), so batch cadence should track
  * delta size, and `CompactFilesNode` handles the file-count hygiene of a
  * long-running apply loop.
  */
object CdcApply {
  /** Apply a streaming CDC frame to the published dataset at `root`.
    * `merge` supplies the upsert/tombstone semantics (keys, deleteCol,
    * duplicate policy); `format` is the published dataset's storage format
    * (both the per-batch base read and the new generations use it). Blocks
    * until drained under the default AvailableNow trigger with
    * `await = true`.
    *
    * `numericProfiles` (mirrors `SinkNode`): each merged generation also
    * writes a NumericProfileNode fixed-grid histogram under `_numprofile/`
    * BEFORE the manifest swap — every CDC generation then carries a
    * mergeable distribution audit, and a HistDriftNode over consecutive
    * generations' profile tables is the daily "did this CDC wave shift the
    * corpus?" gate, answered without re-reading any generation.
    *
    * Checkpoint contract: the [[StreamDriver]] replay guard over the `_cdc`
    * marker — a checkpoint-less call against a root that already carries
    * applied batches is refused unless `positionalReplaySkipOk = true`. */
  def applyStream(
      ctx: Ctx,
      root: String,
      updates: DataFrame,
      merge: MergeNode,
      checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      await: Boolean = true,
      format: String = "parquet",
      numericProfiles: Seq[NumericProfileNode.Spec] = Nil,
      positionalReplaySkipOk: Boolean = false): StreamingQuery = {
    val spark = ctx.spark
    var last = AtomicPublish.foldedThrough(spark, root)
    StreamDriver.run("CdcApply.applyStream", updates,
      "a streaming updates frame — for a batch delta run MergeNode directly",
      "cdc_apply", checkpoint, trigger, await,
      Some(StreamDriver.ReplayGuard(root, () => last, positionalReplaySkipOk))) {
      (batch, batchId) =>
        val base = DatasetResolver.load(spark, format, AtomicPublish.resolve(spark, root))
        val merged = merge.transform(ctx,
          In.single("base" -> base, "updates" -> batch))("result")
        AtomicPublish.publish(spark, root, { target =>
          merged.write.format(format).save(target)
          // marker inside the generation -> commits with the manifest swap
          AtomicPublish.writeCdcWatermark(spark, target, batchId)
          // profile the just-written files (one scan) rather than
          // re-executing the merge plan a second time
          AtomicPublish.writeNumericProfile(ctx, target, numericProfiles,
            spark.read.format(format).load(target))
        })
        last = batchId
    }
  }
}

/** MERGE-ON-READ streaming CDC — the 100 TB answer to [[CdcApply]]'s one
  * structural cost: copy-on-write re-reads and REWRITES the whole published
  * base per micro-batch, so a daily CDC wave against a 100 TB corpus pays a
  * 100 TB write for a megabyte of change. Merge-on-read inverts the trade
  * (the Iceberg/Delta MoR shape, and the corpus-side twin of
  * ClusterIndexNode's overlay rebase):
  *
  *   - each micro-batch commits ONLY its normalized delta (payload +
  *     `__mor_deleted` tombstone flag) as an overlay inside the live
  *     generation (`gen-N/_deltas/delta-<batchId>`, atomic dir rename —
  *     [[AtomicPublish.publishDelta]]) — O(delta) write, base untouched;
  *   - readers resolve through [[MorCdc.read]] / [[MorSourceNode]]: the
  *     newest overlay version of each key wins over older overlays and the
  *     base (row_number over `__seq` desc), tombstone winners drop the key.
  *     The base side is anti-joined against the BROADCAST distinct overlay
  *     keys — the base never shuffles, exactly MergeNode's scale shape,
  *     evaluated lazily at read instead of materialized at write;
  *   - every `compactEvery` committed overlays, the resolved view is folded
  *     into a full next generation through [[AtomicPublish.publish]] (one
  *     copy-on-write amortized over `compactEvery` waves); the superseded
  *     generation — overlays included — remains the rollback point.
  *
  * Exactly-once: a replayed micro-batch finds its `delta-<batchId>` dir (or
  * a compacted generation whose `_cdc` marker already covers it) and is
  * skipped; the overlay commit is one atomic rename, so a crash mid-write
  * leaves only an invisible `.tmp-` dir.
  *
  * Read contract: a MoR dataset must be read through [[MorSourceNode]] —
  * a plain SourceNode sees the base generation only (a CONSISTENT but stale
  * snapshot; underscore-prefixed overlays are invisible to plain scans).
  * Outstanding overlays are bounded by `compactEvery`, which is what keeps
  * the read-side key broadcast and the per-key window delta-sized.
  *
  * Within-batch semantics match MergeNode exactly: an upsert and a
  * tombstone for the same key in one batch → the upsert wins; duplicate
  * non-tombstone keys follow `onDuplicate` ("error" embeds the loud plan
  * guard, "last_wins" keeps the highest `orderCol`).
  */
object MorCdc {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._

  val DeletedCol = "__mor_deleted"

  /** Overlay-vs-base schema compatibility — the evolution contract.
    *
    * ADDITIVE evolution only: an overlay may CARRY COLUMNS THE BASE LACKS
    * (a CDC feed that starts shipping a new field mid-corpus — readers see
    * the new column, pre-evolution rows null-fill, the next compaction
    * folds it into the base schema), but it must always carry EVERY base
    * column with the base's type. A missing base column is a partial
    * payload — null-filling it would corrupt untouched fields of upserted
    * rows — and a retyped column would make the resolved union ambiguous;
    * both are refused loudly. `allowNew = false` additionally refuses the
    * new columns themselves (the write-path default: evolution must be an
    * explicit operator decision, not a malformed feed slipping through). */
  private[graft] def checkOverlaySchema(
      base: org.apache.spark.sql.types.StructType,
      overlay: org.apache.spark.sql.types.StructType,
      where: String, allowNew: Boolean): Unit = {
    val over = overlay.fields.map(f => f.name -> f.dataType).toMap
    val missing = base.fields.filterNot(f => over.contains(f.name))
    if (missing.nonEmpty)
      throw new GraftException(
        s"$where: CDC overlay is missing base column(s) " +
          s"${missing.map(_.name).mkString(", ")} — a partial payload would " +
          "null-fill untouched fields of upserted rows. Ship the full row " +
          "(schema evolution may only ADD columns)")
    val retyped = base.fields.filter(f =>
      over.contains(f.name) && over(f.name) != f.dataType)
    if (retyped.nonEmpty)
      throw new GraftException(
        s"$where: CDC overlay retypes base column(s) " +
          retyped.map(f => s"${f.name} (${f.dataType.simpleString} -> " +
            s"${over(f.name).simpleString})").mkString(", ") +
          " — type changes are not resolvable merge-on-read; cast in the " +
          "feed or republish the base")
    if (!allowNew) {
      val baseNames = base.fieldNames.toSet
      val extras = overlay.fields.map(_.name)
        .filterNot(n => baseNames.contains(n) || n == DeletedCol)
      if (extras.nonEmpty)
        throw new GraftException(
          s"$where: CDC overlay adds column(s) ${extras.mkString(", ")} the " +
            "base does not have — pass allowEvolution = true to evolve the " +
            "corpus schema additively (readers see the new columns, " +
            "pre-evolution rows null-fill, the next compaction folds them " +
            "into the base)")
    }
  }

  /** One winner per key within a single batch (see class doc). */
  private[graft] def normalizeBatch(batch: DataFrame, merge: MergeNode): DataFrame = {
    val keyCols = merge.keys.map(col)
    val withFlag = merge.deleteCol match {
      case Some(c) => batch.withColumn(DeletedCol,
        coalesce(col(c).cast("boolean"), lit(false))).drop(c)
      case None => batch.withColumn(DeletedCol, lit(false))
    }
    val w = Window.partitionBy(keyCols: _*)
    val guarded = merge.onDuplicate match {
      case "last_wins" => withFlag
      case _ => // loud in-plan guard, evaluated only on a duplicate row
        withFlag
          .withColumn("__kc", sum(when(!col(DeletedCol), 1L).otherwise(0L)).over(w))
          .filter(org.apache.spark.sql.functions.expr(
            "__kc <= 1 or isnotnull(assert_true(false, " +
              "'mor merge: duplicate non-tombstone update keys — one key must " +
              "upsert one row (pass onDuplicate=last_wins with orderCol)'))"))
          .drop("__kc")
    }
    // non-tombstones outrank tombstones (upsert-wins); recency among upserts
    val order = col(DeletedCol).asc +: merge.orderCol.map(c => col(c).desc).toSeq
    guarded.withColumn("__rn", row_number().over(w.orderBy(order: _*)))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** The resolved merge-on-read view: base ⊕ committed overlays. Lazy —
    * this is a plan, not a materialization; MorSourceNode wraps it.
    *
    * `maxDeltas` is the broadcast-safety guard: the read plan broadcasts
    * the overlay keys and unions one frame per overlay, which is only the
    * right plan while outstanding overlays stay delta-sized — a root left
    * uncompacted for hundreds of waves would quietly degrade into a
    * broadcast-OOM risk and an N-deep union. The read fails LOUDLY past
    * the bound instead (compact, or raise the bound deliberately). */
  def read(spark: SparkSession, root: String, keys: Seq[String],
           format: String = "parquet", maxDeltas: Int = 64,
           asOfBatch: Option[Long] = None): DataFrame = {
    // overlay-level time travel: resolve only the overlays committed at or
    // before `asOfBatch` — the audit/debug read ("what did the corpus serve
    // after wave N?"). Only UNFOLDED history is addressable: a compaction
    // folds overlays into the next base generation, so a batch below the
    // generation's `_cdc` watermark no longer has a reconstructible
    // pre-state here — refuse toward generation time travel (the rollback
    // generation keeps one fold of history).
    asOfBatch.foreach { n =>
      val folded = AtomicPublish.foldedThrough(spark, root)
      if (n < folded)
        throw new GraftException(
          s"MorCdc.read: asOfBatch = $n predates the last compaction " +
            s"(folded through batch $folded at $root) — that overlay " +
            "history is inside the base now. Read the rollback generation " +
            "via SourceNode time travel, or compact less eagerly")
    }
    resolveOver(spark, root,
      DatasetResolver.load(spark, format, AtomicPublish.resolve(spark, root)),
      keys, format, maxDeltas, asOfBatch)
  }

  /** Overlay resolution over a CALLER-SUPPLIED base frame — the composition
    * point for data skipping (StatsPrunedSourceNode prunes base FILES, then
    * resolves overlays on top): a row predicate commutes with the resolved
    * view `(base ∖ overlayKeys) ∪ overlayWinners`, so any base subframe
    * that conservatively contains the predicate's base rows yields the
    * exact filtered view once the predicate is re-applied on top. */
  private[graft] def resolveOver(spark: SparkSession, root: String,
                                 base: DataFrame, keys: Seq[String],
                                 format: String, maxDeltas: Int,
                                 asOfBatch: Option[Long] = None): DataFrame = {
    val deltas = asOfBatch.fold(AtomicPublish.listDeltas(spark, root))(n =>
      AtomicPublish.listDeltas(spark, root).filter(_._1 <= n))
    if (deltas.size > maxDeltas)
      throw new GraftException(
        s"MorCdc.read: ${deltas.size} outstanding overlays at $root exceed " +
          s"maxDeltas = $maxDeltas — the broadcast/union read plan degrades " +
          "past delta-sized overlays. Run MorCdc.compact (or applyStream " +
          "with compactEvery > 0), or raise maxDeltas deliberately")
    if (deltas.isEmpty) base
    else {
      val overlay = deltas.map { case (id, path) =>
        val d = DatasetResolver.load(spark, format, path)
        // read side tolerates committed ADDITIVE evolution (extra columns
        // surface on the resolved view, base rows null-fill); partial or
        // retyped overlays are refused — see checkOverlaySchema
        checkOverlaySchema(base.schema, d.schema,
          s"MorCdc.read($root, delta-$id)", allowNew = true)
        d.withColumn("__seq", lit(id))
      }.reduce(_.unionByName(_, allowMissingColumns = true))
      // newest overlay version of each key wins; __seq is distinct across
      // overlays and keys are unique within one (normalizeBatch), so the
      // window is deterministic
      val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__seq").desc)
      val winners = overlay.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
      // the base never shuffles: anti-join against the broadcast overlay keys
      val kept = base.join(broadcast(overlay.select(keys.map(col): _*).distinct()),
        keys, "left_anti")
      kept.unionByName(winners.filter(!col(DeletedCol))
        .drop(DeletedCol, "__seq", "__rn"), allowMissingColumns = true)
    }
  }

  /** Highest batch id already durable at `root` — committed overlays or a
    * compacted generation's `_cdc` marker. */
  private def appliedBatch(spark: SparkSession, root: String): Long =
    (AtomicPublish.foldedThrough(spark, root) +:
      AtomicPublish.listDeltas(spark, root).map(_._1)).max

  /** Apply a streaming CDC frame merge-on-read. Same signature family as
    * [[CdcApply.applyStream]]; `compactEvery` bounds outstanding overlays
    * (fold into a full generation once that many have accumulated).
    * `compactEvery = 0` never auto-compacts (call [[compact]] on a
    * maintenance cadence instead). `numericProfiles` mirrors CdcApply:
    * each COMPACTED generation stamps a `_numprofile/` histogram from the
    * just-written fold (overlay commits stay O(delta) — profiling every
    * overlay would re-read the base per wave, exactly what MoR avoids).
    *
    * Checkpoint contract: [[CdcApply.applyStream]]'s, over the watermark of
    * committed `delta-N` dirs and the `_cdc` marker.
    *
    * Schema evolution (`allowEvolution`): a wave whose schema ADDS columns
    * the base lacks is refused by default and committed when the flag is
    * set — readers then surface the new columns (pre-evolution rows
    * null-fill) and the next compaction folds them into the base schema.
    * Partial payloads (missing base columns) and retyped columns are
    * always refused ([[checkOverlaySchema]]). A Spark file stream carries
    * ONE fixed reader schema, so an evolved feed arrives by restarting
    * `applyStream` with the evolved schema against the SAME checkpoint —
    * offsets are schema-independent, absorbed waves are not redelivered. */
  def applyStream(
      ctx: Ctx,
      root: String,
      updates: DataFrame,
      merge: MergeNode,
      compactEvery: Int = 8,
      checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      await: Boolean = true,
      format: String = "parquet",
      numericProfiles: Seq[NumericProfileNode.Spec] = Nil,
      positionalReplaySkipOk: Boolean = false,
      allowEvolution: Boolean = false,
      // auto-compaction skipping manifest + layout (see [[compact]])
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      layoutBy: Seq[String] = Nil,
      layoutPartitions: Option[Int] = None,
      layoutZOrder: Boolean = false): StreamingQuery = {
    val spark = ctx.spark
    var last = appliedBatch(spark, root)
    // write-side evolution gate state: the base schema is fixed per
    // generation, so cache it and re-read only after a fold (one footer
    // read per generation, not a per-batch listing). The sentinel must not
    // collide with an UNPUBLISHED root's currentGen = -1 (ADVICE r13: the
    // old `-1L` sentinel made the first batch skip the schema read and NPE
    // in checkOverlaySchema); a CDC-bootstrapped root (deltas before any
    // published base) has no base schema to gate against — the first
    // compaction establishes it, and the read side validates per overlay.
    var schemaGen = Long.MinValue
    var baseSchema: Option[org.apache.spark.sql.types.StructType] = None
    StreamDriver.run("MorCdc.applyStream", updates,
      "a streaming updates frame — for a batch delta commit one overlay via AtomicPublish.publishDelta",
      "mor_cdc", checkpoint, trigger, await,
      Some(StreamDriver.ReplayGuard(root, () => last, positionalReplaySkipOk))) {
      (batch, batchId) =>
        val delta = normalizeBatch(batch, merge)
        // compare against the LIVE base schema (a mid-stream compaction
        // may have folded earlier evolution in)
        val g = AtomicPublish.currentGen(spark, root).getOrElse(-1L)
        if (g != schemaGen) {
          baseSchema =
            if (g >= 0) Some(DatasetResolver.load(spark, format,
              AtomicPublish.resolve(spark, root)).schema)
            else // unpublished root: a plain dir's loose files still gate;
                 // a bare CDC-bootstrapped root has no base schema yet
              scala.util.Try(DatasetResolver.load(spark, format, root).schema)
                .toOption
          schemaGen = g
        }
        baseSchema.foreach(checkOverlaySchema(_, delta.schema,
          s"MorCdc.applyStream($root, batch $batchId)",
          allowNew = allowEvolution))
        AtomicPublish.publishDelta(spark, root, batchId, { target =>
          delta.write.format(format).save(target)
        })
        if (compactEvery > 0 &&
            AtomicPublish.listDeltas(spark, root).size >= compactEvery)
          compact(ctx, root, merge.keys, batchId, format, numericProfiles,
            statsColumns, bloomColumns, layoutBy = layoutBy,
            layoutPartitions = layoutPartitions, layoutZOrder = layoutZOrder)
        last = batchId
    }
  }

  /** Fold the resolved view into a full next generation (the amortized
    * copy-on-write): one publish, `_cdc` marker = `throughBatch` so the
    * replay guard survives the fold, overlays retired with the superseded
    * generation (kept as rollback).
    *
    * Data skipping ACROSS folds: `statsColumns`/`bloomColumns` re-stamp the
    * `_filestats` manifest on the just-written generation (the SinkNode
    * machinery — without it a compaction would silently kill file skipping
    * exactly when the corpus churns most), and `layoutBy` range-repartitions
    * the fold on those columns first so the re-stamped min/max stay
    * SELECTIVE — overlay rows land beside their key range instead of
    * scattering every file's span. Both are per-fold costs over data the
    * fold rewrites anyway. */
  def compact(ctx: Ctx, root: String, keys: Seq[String],
              throughBatch: Long, format: String = "parquet",
              numericProfiles: Seq[NumericProfileNode.Spec] = Nil,
              statsColumns: Seq[String] = Nil,
              bloomColumns: Seq[String] = Nil,
              bloomExpectedItems: Long = 1000000L,
              bloomFpp: Double = 0.01,
              layoutBy: Seq[String] = Nil,
              layoutPartitions: Option[Int] = None,
              // multi-dimensional fold layout (the OPTIMIZE ZORDER shape):
              // layoutBy's 2 or 3 columns become morton dimensions instead
              // of a lexicographic range — every dimension's min/max stats
              // stay selective, not just the leading column's
              layoutZOrder: Boolean = false): Long = {
    val spark = ctx.spark
    if (layoutZOrder && layoutBy.size != 2 && layoutBy.size != 3)
      throw new GraftException(
        s"MorCdc.compact: layoutZOrder needs 2 or 3 layoutBy columns " +
          s"(morton dimensions), got ${layoutBy.size}")
    // claim the next generation BEFORE listing the overlays this fold
    // absorbs (read() lists eagerly): an overlay racing to commit after the
    // claim is refused/re-validated away by publishDelta and replays, so a
    // committed-but-unlisted overlay can never strand inside the retired
    // generation (ADVICE r13)
    val (cur, next) = AtomicPublish.acquireClaim(spark, root)
    val merged = read(spark, root, keys, format)
    val resolved =
      if (layoutBy.isEmpty) merged
      else if (layoutZOrder)
        new ZOrderNode(layoutBy(0), layoutBy(1), partitions = layoutPartitions,
          keepKey = false, colC = layoutBy.lift(2))
          .transform(ctx, In.single("df" -> merged))("result")
      else layoutPartitions.fold(
        merged.repartitionByRange(layoutBy.map(col): _*))(n =>
        merged.repartitionByRange(n, layoutBy.map(col): _*))
    AtomicPublish.commitClaimed(spark, root, cur, next, { target =>
      resolved.write.format(format).save(target)
      if (statsColumns.nonEmpty || bloomColumns.nonEmpty)
        FileStatsWriter.write(spark, target, format, Map.empty,
          statsColumns, bloomColumns, bloomExpectedItems, bloomFpp)
      AtomicPublish.writeCdcWatermark(spark, target, throughBatch)
      // profile the just-written fold (one scan of the new generation),
      // the CdcApply convention — commits with the manifest swap
      AtomicPublish.writeNumericProfile(ctx, target, numericProfiles,
        spark.read.format(format).load(target))
    })
  }
}

/** Scan of a merge-on-read published dataset (see [[MorCdc]]): resolves the
  * committed base generation PLUS its outstanding delta overlays into the
  * live view. The MoR-aware counterpart of SourceNode — which, on the same
  * root, reads the consistent-but-stale base snapshot only. */
class MorSourceNode(val path: String, val keys: Seq[String],
                    val format: String = "parquet",
                    val maxDeltas: Int = 64,
                    // overlay-level time travel: resolve only overlays with
                    // id <= asOfBatch (unfolded history only — see
                    // MorCdc.read; generation time travel covers the rest)
                    val asOfBatch: Option[Long] = None) extends Node {
  require(keys.nonEmpty, "mor_source: keys must be non-empty")
  override protected def defaultName: String = "mor_source"
  override def persistableOutput: Boolean = false // scan — never cache raw
  val inputs: Seq[graft.dag.Port] = Nil
  val outputs = Seq(graft.dag.Port("result"))
  override def jsonKind: Option[String] = Some("mor_source")
  override def jsonParams: Map[String, Any] =
    Map("path" -> path, "keys" -> keys, "format" -> format,
      "maxDeltas" -> maxDeltas, "asOfBatch" -> asOfBatch.orNull)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] =
    Map("result" -> MorCdc.read(ctx.spark, path, keys, format, maxDeltas, asOfBatch))
}

/** STREAMING tail of a merge-on-read root — the consumer side MoR was
  * missing: downstream pipelines (index maintenance, replicas, audits)
  * subscribe to a published corpus's CHANGE FEED instead of polling batch
  * reads. The overlay commit protocol already is a durable log — each CDC
  * wave lands as one atomically-renamed `delta-<id>` dir inside the live
  * generation — so the tail is a plain file stream over
  * `<gen>/_deltas/delta-*`: committed overlays surface whole (the rename
  * makes files appear at once, `.tmp-` debris is hidden by dot-prefix
  * rules), offsets checkpoint like any file source (exactly-once), and
  * each change row carries the full payload plus `__mor_deleted` — exactly
  * the CDC shape `IndexMaintenance.maintainFromStream(deleteCol =
  * MorCdc.DeletedCol)` consumes, so every index family can maintain itself
  * straight off a MoR corpus (q187).
  *
  * Contract: by default the tail follows ONE generation's overlay sequence
  * (the one committed when the stream starts). A compaction folds
  * outstanding overlays into a new generation and retires the old dir —
  * restart the tail against the new generation afterwards (consumers that
  * kept their checkpoint simply see an empty new `_deltas`; rows already
  * absorbed are never redelivered because absorbed overlay DIRS never
  * reappear).
  *
  * `followCompactions = true` lifts the restart requirement: the stream
  * globs `gen-*`/_deltas across generations, so when a compaction publishes
  * gen-(N+1) the SAME running query keeps consuming the new generation's
  * overlays with no restart and no redelivery. This is change-feed
  * consistent because the fold introduces nothing new — gen-(N+1)'s base is
  * exactly gen-N's base ⊕ gen-N's overlays, all of which the tail already
  * delivered — so `base(startGen) ⊕ every delivered overlay` remains the
  * live resolved view across any number of folds. Overlay dirs of
  * generations RETIRED before the stream started are filtered out by
  * generation number (their content is already inside the start base);
  * the filter is a plan-level predicate on `input_file_name()`, so the
  * skipped files cost one delta-sized read at most once. Retention bound:
  * `AtomicPublish.publish` deletes gen-(cur-1) when committing gen-(cur+1),
  * so a follower must stay within two generations of the head (the
  * standard retention-vs-subscriber contract; size `compactEvery` × the
  * CDC cadence accordingly).
  *
  * Ordering across overlays follows file modification time (the file-source
  * contract) — commit-time order for any real CDC cadence; keys are unique
  * WITHIN an overlay by construction (normalizeBatch), so intra-overlay
  * file splits cannot reorder a key's versions.
  */
class MorTailNode(val path: String, val format: String = "parquet",
                  val maxFilesPerTrigger: Option[Int] = None,
                  val followCompactions: Boolean = false,
                  // attach each row's overlay id (totally ordered across
                  // generations) under this name — what lets a consumer
                  // fold MANY overlays into one micro-batch and still
                  // apply them in commit order (net-resolution per key in
                  // IndexMaintenance.maintainFromStream)
                  val waveIdCol: Option[String] = None) extends Node {
  override protected def defaultName: String = "mor_tail"
  override def persistableOutput: Boolean = false // streaming source
  val inputs: Seq[graft.dag.Port] = Nil
  val outputs = Seq(graft.dag.Port("result"))
  override def jsonKind: Option[String] = Some("mor_tail")
  override def jsonParams: Map[String, Any] =
    Map("path" -> path, "format" -> format,
      "maxFilesPerTrigger" -> maxFilesPerTrigger.orNull,
      "followCompactions" -> followCompactions,
      "waveIdCol" -> waveIdCol.orNull)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    import org.apache.spark.sql.functions.{col, input_file_name, regexp_extract}
    val spark = ctx.spark
    val startGen = AtomicPublish.currentGen(spark, path).getOrElse(
      throw new GraftException(
        s"mor_tail '$name': $path is not a published dataset — the tail " +
          "follows the committed generation's overlay log"))
    val gen = AtomicPublish.resolve(spark, path)
    // change rows = base payload + the tombstone flag (normalizeBatch
    // shape), widened by any column committed overlays have ADDED (schema
    // evolution — pre-evolution overlay files null-fill by parquet by-name
    // resolution). A column that first appears in a FUTURE wave needs a
    // tail restart: a running file stream's schema is fixed.
    val baseSchema = DatasetResolver.load(spark, format, gen).schema
    val extras = AtomicPublish.listDeltas(spark, path)
      .flatMap { case (_, p) => DatasetResolver.load(spark, format, p).schema.fields }
      .filterNot(f => f.name == MorCdc.DeletedCol ||
        baseSchema.fieldNames.contains(f.name))
      .distinctBy(_.name)
    val schema = extras.foldLeft(baseSchema)(_ add _)
      .add(MorCdc.DeletedCol, org.apache.spark.sql.types.BooleanType)
    // the overlay dir may not exist before the first wave — an empty tail
    // is a valid subscription, not an error
    val deltas = new org.apache.hadoop.fs.Path(s"$gen/_deltas")
    deltas.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(deltas)
    val reader = spark.readStream.schema(schema).format(format)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val feed =
      if (!followCompactions) reader.load(s"$gen/_deltas/delta-*")
      else
        // cross-generation glob; drop overlays of generations retired
        // BEFORE this subscription started (already folded into the start
        // base). The predicate is evaluated in-plan per file, no state.
        reader.load(s"$path/gen-*/_deltas/delta-*").where(
          regexp_extract(input_file_name(), "/gen-(\\d+)/_deltas/", 1)
            .cast("long") >= startGen)
    // overlay-id stamp: (generation << 32) | delta-id — commit order as ONE
    // long, monotone across compaction folds (delta ids continue above any
    // already committed, and a new generation's base absorbs all prior
    // overlays). Derived in-plan from the file path, no extra state.
    val stamped = waveIdCol match {
      case None => feed
      case Some(wc) =>
        import org.apache.spark.sql.functions.coalesce
        import org.apache.spark.sql.functions.lit
        val g = regexp_extract(input_file_name(), "/gen-(\\d+)/_deltas/", 1)
          .cast("long")
        val d = regexp_extract(input_file_name(), "/delta-(\\d+)/", 1)
          .cast("long")
        feed.withColumn(wc,
          org.apache.spark.sql.functions.shiftleft(coalesce(g, lit(0L)), 32) +
            coalesce(d, lit(0L)))
    }
    Map("result" -> stamped)
  }
}

/** Streaming index MAINTENANCE — the live-crawl shape the streaming
  * SERVING twins (q144/q145) deliberately leave out: there the index is
  * refreshed batch-side and the QUERIES stream; here the DELTA streams and
  * the index itself is refreshed per micro-batch via foreachBatch.
  *
  * Why foreachBatch and not a stateful streaming plan: `updateIndex` is
  * already the exact delta-sized merge (bit-identical statistics for the
  * lexical index, frozen-centroid append for ANN, capped bucket union for
  * near-dup), and foreachBatch hands each micro-batch over as a plain
  * batch DataFrame — so the SAME code path serves batch and streaming
  * refresh, with no state store at all. Index state lives in the node
  * (persisted frames + parquet save/compact), not in Spark streaming
  * state, which is what makes it queryable BETWEEN micro-batches.
  *
  * Delivery contract: the [[StreamDriver]] replay guard over
  * `lastAppliedBatch` (see IncrementalIndex), which `saveFitted`/`loadFitted`
  * carry — exactly-once maintenance across restarts when the caller
  * checkpoints (`checkpoint`) and saves the index at or after stream commit
  * points.
  *
  * Ordering contract: micro-batches apply in batch-id order on one driver
  * thread (Structured Streaming serializes foreachBatch invocations), so
  * order-sensitive guards (MinHashIndexNode's bucket cap) behave exactly
  * as the same sequence of batch updateIndex calls would. For the
  * order-INSENSITIVE families (InvertedIndexNode's exact stats,
  * IvfIndexNode's frozen-centroid append) the final index is provably
  * independent of how the stream was split into micro-batches — which is
  * what lets q147/q148 pin streamed maintenance against the one-shot
  * batch oracles.
  *
  * Scale: each micro-batch does delta-sized work (sketch/tokenize/assign
  * the batch, one merge against the persisted index); `compactEvery` on
  * the node bounds lineage growth across a long-running stream exactly as
  * it does across batch generations.
  */
object IndexMaintenance {
  /** Drive `idx.updateIndex` (and, with `deleteCol`, `idx.deleteFromIndex`)
    * from a streaming delta, one micro-batch at a time. Returns the started
    * query; with the default AvailableNow trigger and `await = true` (the
    * bounded-refresh shape) the call blocks until the backlog is drained
    * and the index is fully refreshed.
    *
    * CDC mode (`deleteCol = Some(c)`): each micro-batch splits on the
    * boolean column `c` — upsert rows first (`deleteFromIndex` on their ids
    * to drop any superseded version, then `updateIndex`), tombstone rows
    * last (`deleteFromIndex`), so within one batch a delete for a key also
    * upserted in that batch wins — the MergeNode/CdcApply convention. With
    * `deleteCol = None` every row is a plain append (`updateIndex` only —
    * no per-batch delete pass, the pre-CDC behavior).
    *
    * Pass a `checkpoint` for any maintenance that may re-drain the same
    * source (restarts, periodic AvailableNow re-runs over a growing
    * directory). The [[StreamDriver]] replay guard refuses a checkpoint-less
    * call on an index that has already folded in streamed batches
    * (`lastAppliedBatch >= 0`) unless `positionalReplaySkipOk = true`.
    */
  def maintainFromStream(
      idx: IncrementalIndex,
      ctx: Ctx,
      delta: DataFrame,
      checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      await: Boolean = true,
      deleteCol: Option[String] = None,
      positionalReplaySkipOk: Boolean = false,
      // MULTI-OVERLAY batching (the "one overlay = one micro-batch"
      // amortization): when a micro-batch may contain SEVERAL change
      // waves (e.g. a MorTailNode without maxFilesPerTrigger = 1),
      // `netResolveKeys` + `waveCol` (the tail's `waveIdCol`) resolve
      // each key to its LATEST version by wave order before applying —
      // exactly the merge-on-read latest-wins rule, so the batch's net
      // effect equals sequential per-overlay application (keys are
      // unique WITHIN a wave by the feed contract, so max-wave-per-key
      // is unambiguous). N producer waves then cost the consumer ONE
      // maintenance pass instead of N. Requires `deleteCol` (append-only
      // streams have no superseded versions to resolve). A `waveCol`
      // given WITHOUT netResolveKeys is simply dropped before applying.
      netResolveKeys: Seq[String] = Nil,
      waveCol: Option[String] = None): StreamingQuery = {
    if (netResolveKeys.nonEmpty && (waveCol.isEmpty || deleteCol.isEmpty))
      throw new GraftException(
        "maintainFromStream: netResolveKeys needs BOTH waveCol (the " +
          "within-batch wave order — MorTailNode's waveIdCol) and deleteCol " +
          "(net-resolution only makes sense for CDC feeds, where a later " +
          "wave supersedes a key's earlier versions)")
    StreamDriver.run("maintainFromStream", delta,
      "a streaming delta — for a batch delta call updateIndex directly",
      "maintain", checkpoint, trigger, await, Some(StreamDriver.ReplayGuard(
        "the index", () => idx.lastAppliedBatch, positionalReplaySkipOk))) {
      (batch0, batchId) =>
        import org.apache.spark.sql.functions.{assert_true, col, coalesce,
          concat_ws, lag, lit, max, row_number, when}
        // net-resolve a multi-overlay batch to each key's latest version
        // (wave order), then drop the wave stamp either way
        val batch = (netResolveKeys, waveCol) match {
          case (ks, Some(wc)) if ks.nonEmpty =>
            val byKey = org.apache.spark.sql.expressions.Window
              .partitionBy(ks.map(col): _*)
            val w = byKey.orderBy(col(wc).desc)
            // within-wave duplicate detector (ADVICE r18/r19/r20):
            // net-resolution is only unambiguous while keys are unique
            // WITHIN a wave (the feed contract) — a producer violation
            // would otherwise pick a nondeterministic survivor SILENTLY.
            // In wc-desc order two rows of one (key, wave) are adjacent,
            // so `lag(wc) <=> wc` flags a duplicate in ANY wave, NULL
            // stamps included (the row_number guard keeps a key's first
            // row, whose lag is NULL, from matching a NULL stamp). The
            // flag is spread over the key's partition and asserted on
            // the SURVIVING row: a guard on the discarded rows is dead
            // code — the optimizer propagates `rn = 1` into it and drops
            // it. Both windows share the key partitioning: no exchange.
            batch0.withColumn("__mor_rn", row_number().over(w))
              .withColumn("__mor_dup", when(col("__mor_rn") > 1 &&
                (lag(col(wc), 1).over(w) <=> col(wc)),
                coalesce(col(wc).cast("string"), lit("NULL"))))
              .withColumn("__mor_dup", max(col("__mor_dup")).over(byKey))
              .filter(col("__mor_rn") === 1)
              .filter(col("__mor_dup").isNull || assert_true(lit(false),
                concat_ws("", lit("maintainFromStream: duplicate key " +
                  "within one wave violates the net-resolution contract " +
                  "(keys must be unique per overlay) — offending key: "),
                  concat_ws(",", ks.map(k => col(k).cast("string")): _*),
                  lit(" wave: "), col("__mor_dup"))).isNotNull)
              .drop("__mor_rn", "__mor_dup", wc)
          case (_, Some(wc)) => batch0.drop(wc)
          case _ => batch0
        }
        deleteCol match {
          case None => idx.updateIndex(ctx, batch)
          case Some(c) =>
            val flag = coalesce(col(c).cast("boolean"), lit(false))
            val upserts = batch.filter(!flag).drop(c)
            val deletes = batch.filter(flag).drop(c)
            // upsert = replace (drop any superseded version, then
            // append), tombstones last — as ONE index wave where the
            // family supports it (applyCdcWave doc), the three-call
            // sequence otherwise
            idx.applyCdcWave(ctx, upserts, deletes)
        }
        idx.lastAppliedBatch = batchId
    }
  }
}
