package graft.nodes

import graft.dag._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{broadcast, col, expr, lit}

/** Isolated-session helper: `newSession()` shares the SparkContext but
  * starts from DEFAULT SQLConf — it does not see confs the caller set at
  * runtime (time zone, ANSI mode, rebase modes, ...). A true clone copies
  * every modifiable runtime conf from the parent before applying overrides,
  * so an isolated read behaves exactly like the caller's session plus the
  * override. Conf copy happens at clone CREATION; runtime conf changes made
  * on the parent after the first clone for a given override-set are not
  * re-propagated (re-copying under a cached session could mutate confs mid
  * stream).
  */
object SessionIsolation {
  // one isolated session per (parent, override-set): multiple sources in one
  // dag (e.g. a stream-stream self-join) share a clone instead of spawning
  // a session each; weak keys let parents be collected
  private val cache =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      scala.collection.mutable.Map[Seq[(String, String)], org.apache.spark.sql.SparkSession]]()

  def cloneWith(parent: org.apache.spark.sql.SparkSession,
                overrides: (String, String)*): org.apache.spark.sql.SparkSession = cache.synchronized {
    val perParent = Option(cache.get(parent)).getOrElse {
      val m = scala.collection.mutable.Map[Seq[(String, String)], org.apache.spark.sql.SparkSession]()
      cache.put(parent, m); m
    }
    perParent.getOrElseUpdate(overrides.sorted, freshClone(parent, overrides: _*))
  }

  /** Uncached conf-copied clone: for callers that need PRIVATE session state
    * (e.g. SqlNode's temp views) rather than a shared conf override. */
  def freshClone(parent: org.apache.spark.sql.SparkSession,
                 overrides: (String, String)*): org.apache.spark.sql.SparkSession = {
    val s = parent.newSession()
    parent.conf.getAll.foreach { case (k, v) =>
      if (s.conf.isModifiable(k) && s.conf.getOption(k) != Some(v)) s.conf.set(k, v)
    }
    overrides.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }
}

/** Parse "col [asc|desc] [nulls first|last]" sort strings into Columns —
  * `functions.expr` alone rejects sort-order suffixes.
  */
object SortExprs {
  def sortCol(s: String): Column = {
    val t = s.trim
    val (body, nulls) = t.toLowerCase match {
      case l if l.endsWith(" nulls first") => (t.dropRight(12).trim, Some("first"))
      case l if l.endsWith(" nulls last")  => (t.dropRight(11).trim, Some("last"))
      case _ => (t, None)
    }
    val (e, desc) = body.toLowerCase match {
      case l if l.endsWith(" desc") => (body.dropRight(5).trim, true)
      case l if l.endsWith(" asc")  => (body.dropRight(4).trim, false)
      case _ => (body, false)
    }
    (desc, nulls) match {
      case (false, None | Some("first")) => expr(e).asc_nulls_first
      case (false, _)                    => expr(e).asc_nulls_last
      case (true, None | Some("last"))   => expr(e).desc_nulls_last
      case (true, _)                     => expr(e).desc_nulls_first
    }
  }
}

/** Relational node library (SURVEY.md §2.2): thin, declarative wrappers over
  * org.apache.spark.sql so Catalyst keeps full visibility — predicate
  * pushdown, column pruning, join selection, AQE all apply unchanged. Nodes
  * with string-expression params are JSON-serializable (DagJson registry).
  */

/** Physical-encoding-adaptive timestamp normalization for generator tables.
  * The testdata generator has shipped `events.ts` in two encodings across
  * rounds: parquet TIMESTAMP(NANOS) (unreadable by Spark natively — read as
  * epoch-nanos long via `spark.sql.legacy.parquet.nanosAsLong`) and plain
  * TIMESTAMP_NTZ micros. Both carry the same UTC wall clock. The NTZ branch
  * branch derives the instant ARITHMETICALLY from the UTC wall clock
  * (epoch days + time-of-day micros → timestamp_micros) — no session-zone
  * round-trip anywhere, so the result is the correct instant under ANY
  * session time zone INCLUDING wall clocks that fall inside a DST
  * transition of the session zone (a convert_timezone→cast round-trip is
  * ambiguous in the fall-back overlap hour; ADVICE r10). Keyed on the
  * ACTUAL post-scan type, so either file vintage works; any other type is
  * a misconfiguration and fails loudly.
  */
private[graft] object TsNorm {
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
  // backtick-quote an identifier for safe embedding in a SQL expr string
  private def q(n: String): String = "`" + n.replace("`", "``") + "`"
  def normalize(d: DataFrame, c: String): DataFrame =
    if (!d.columns.contains(c)) d // pruned away by an explicit schema
    else d.schema(c).dataType match {
      // `div` is exact integer division on longs (a double intermediate would
      // lose precision above 2^53 — epoch nanos are ~1.7e18)
      case LongType         => d.withColumn(c, expr(s"timestamp_micros(${q(c)} div 1000)"))
      case TimestampNTZType =>
        // extract(SECOND ...) is decimal(8,6) seconds incl. the fractional
        // part — x1e6 is exact in decimal, so every term is integer math
        d.withColumn(c, expr(
          s"timestamp_micros(unix_date(cast(${q(c)} as date)) * 86400000000L" +
            s" + hour(${q(c)}) * 3600000000L + minute(${q(c)}) * 60000000L" +
            s" + cast(extract(SECOND from ${q(c)}) * 1000000 as bigint))"))
      case TimestampType    => d // already normalized
      case other            => throw new graft.dag.GraftException(
        s"TsNorm: column '$c' has type $other; expected LongType (epoch nanos), TimestampNTZType, or TimestampType")
    }
}

/** Scan: data enters the DAG (reference has none — payloads arrive as
  * in-memory arguments, /root/reference/mldag/mldag.py:523-599). Columns may
  * be pruned at the source for scan efficiency.
  */
class SourceNode(val path: String, val format: String = "parquet", val columns: Seq[String] = Nil,
                 val nanosTsCols: Seq[String] = Nil,
                 val options: Map[String, String] = Map.empty,
                 val schemaDdl: Option[String] = None, // explicit schema (DDL) — text formats
                 // TIME TRAVEL on a published dataset: pin the read to an
                 // explicit generation instead of the manifest-committed one.
                 // AtomicPublish retains the superseded generation as the
                 // rollback point, so `generation = current - 1` is the
                 // audit/rollback read; a pruned generation fails loudly at
                 // load (missing path), never silently falls back.
                 val generation: Option[Long] = None)
  extends Node {
  override protected def defaultName: String = "source"
  override def persistableOutput: Boolean = false // never cache a raw scan
  val inputs: Seq[Port] = Nil
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("source")
  override def jsonParams: Map[String, Any] = Map("path" -> path, "format" -> format, "columns" -> columns, "nanosTsCols" -> nanosTsCols, "options" -> options, "schemaDdl" -> schemaDdl.orNull, "generation" -> generation.map(_.asInstanceOf[Any]).orNull)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    // Parquet TIMESTAMP(NANOS) is unreadable by Spark natively; read as
    // epoch-nanos long, then convert declared columns to micros timestamps.
    // The nanosAsLong flag is a session conf consulted at scan time, so it is
    // set on an isolated session (shared SparkContext, own SQLConf) — the
    // caller's session is never mutated, and concurrent DAGs on the shared
    // session are unaffected.
    val readSession =
      if (nanosTsCols.isEmpty) ctx.spark
      else SessionIsolation.cloneWith(ctx.spark, "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    val reader0 = readSession.read.format(format).options(options)
    val reader = schemaDdl.fold(reader0)(reader0.schema)
    // published datasets (SinkNode atomicPublish) resolve through their
    // manifest to the committed generation — a half-written next generation
    // is invisible until its atomic pointer swap; an explicit `generation`
    // pins a historical read (rollback/audit) instead
    val resolved = generation match {
      case Some(g) => s"$path/gen-$g"
      case None    => AtomicPublish.resolve(readSession, path)
    }
    val df0 = reader.load(resolved)
    val df = nanosTsCols.foldLeft(df0)(TsNorm.normalize)
    Map("result" -> (if (columns.nonEmpty) df.select(columns.map(col): _*) else df))
  }
}
object SourceNode {
  def parquet(path: String, columns: String*): SourceNode =
    new SourceNode(path, "parquet", columns)
  /** Convenience for the testdata layout: table name under an sf dir.
    * `events.ts` is written as TIMESTAMP(NANOS) by the generator.
    */
  def table(sfDir: String, table: String, columns: String*): SourceNode =
    new SourceNode(s"$sfDir/$table.parquet", "parquet", columns,
      nanosTsCols = if (table == "events") Seq("ts") else Nil).named(table)
}

/** Atomic multi-file publish (VERDICT r10 missing #3): a corpus refresh
  * needs an all-or-nothing commit — a killed refresh job must never leave a
  * half-written dataset where a downstream SourceNode can read it. The
  * lakehouse-commit shape, double-buffered through GENERATION directories:
  *
  *   - each publish writes a COMPLETE new generation to `<path>/gen-N`
  *     (never touching the live one), then swaps a one-line `_MANIFEST`
  *     pointer via create-temp + fsync + atomic rename(OVERWRITE) — readers
  *     observe either the old generation or the new one, never a partial;
  *   - a crash before the swap leaves a dangling gen-N dir the manifest
  *     never points at (the next publish overwrites it);
  *   - the PREVIOUS generation is kept as a rollback point; older ones are
  *     deleted after the swap.
  *
  * Readers resolve through [[resolve]] — SourceNode does so automatically,
  * so `SourceNode(path)` over a published dataset reads the committed
  * generation. Rename atomicity holds on HDFS and POSIX filesystems; on
  * object stores without atomic rename, pair with an HDFS/DBFS-style
  * manifest location (the data generations themselves are never renamed).
  */
private[graft] object AtomicPublish {
  import org.apache.hadoop.fs.{FileContext, Options, Path}
  val ManifestName = "_MANIFEST"
  /** Per-generation claim token prefix — the optimistic-concurrency gate. */
  val ClaimPrefix = "_CLAIM.gen-"

  private def conf(spark: org.apache.spark.sql.SparkSession) =
    spark.sparkContext.hadoopConfiguration

  /** Generation currently committed at `root`, if `root` is a published dataset. */
  def currentGen(spark: org.apache.spark.sql.SparkSession, root: String): Option[Long] = {
    val manifest = new Path(root, ManifestName)
    val fs = manifest.getFileSystem(conf(spark))
    if (!fs.exists(manifest)) None
    else {
      val in = fs.open(manifest)
      val line = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      Some(line.stripPrefix("gen-").toLong)
    }
  }

  /** `<root>/gen-N` when a manifest exists, else `root` unchanged. */
  def resolve(spark: org.apache.spark.sql.SparkSession, root: String): String =
    currentGen(spark, root).fold(root)(g => s"$root/gen-$g")

  /** Write `df` as the next generation and atomically commit the pointer.
    *
    * Optimistic concurrency: before any data is written, the publisher
    * CLAIMS generation `cur + 1` by create-no-overwrite of a per-generation
    * token (`_CLAIM.gen-N` — atomic put-if-absent on HDFS/POSIX). Two
    * racing publishers (say a nightly CompactFilesNode against a CdcApply
    * stream) therefore cannot both write into the same `gen-N` dir and
    * silently last-write-win the manifest swap: exactly one claim succeeds;
    * the loser fails LOUDLY before paying the data write and should retry
    * against the new current generation once the winner commits. The token
    * is removed after the swap; a publisher that dies mid-publish leaves
    * its claim + partial generation behind, which keeps the number fenced
    * until `VacuumNode(reclaimNext = true)` releases it (an explicit
    * operator action — vacuum must not yank a generation a LIVE publisher
    * is still writing, ADVICE r12). */
  def publish(spark: org.apache.spark.sql.SparkSession, root: String,
              write: String => Unit): Long = {
    val (cur, next) = acquireClaim(spark, root)
    commitClaimed(spark, root, cur, next, write)
  }

  /** CLAIM generation `cur + 1` at `root` — the first half of [[publish]],
    * exposed so a fold ([[MorCdc.compact]]) can take the claim BEFORE
    * listing the overlays it folds: an overlay that commits after the
    * listing then sees the outstanding claim (or the advanced generation)
    * in [[publishDelta]]'s post-rename re-validation and replays, instead
    * of stranding inside the retired generation (ADVICE r13).
    *
    * Claim-then-verify: a winner that committed gen-`next` between our
    * `currentGen` read and the claim create has already RELEASED this very
    * token, so the create can succeed while `next` names the now-LIVE
    * generation (TOCTOU, ADVICE r13) — writing there would clobber
    * committed data mid-read. Re-reading `currentGen` after the claim is
    * sound because every winner holds its claim until AFTER its manifest
    * swap: if the pointer still reads `cur`, no such winner existed. */
  private[graft] def acquireClaim(spark: org.apache.spark.sql.SparkSession,
                                  root: String): (Option[Long], Long) =
    acquireClaimFrom(spark, root, currentGen(spark, root))

  /** Claim from a caller-supplied `currentGen` read — the test seam that
    * makes the claim-then-verify TOCTOU drill deterministic (a stale `cur`
    * must be detected AFTER the claim succeeds, not trusted). */
  private[graft] def acquireClaimFrom(spark: org.apache.spark.sql.SparkSession,
                                      root: String,
                                      cur: Option[Long]): (Option[Long], Long) = {
    val next = cur.getOrElse(0L) + 1
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(conf(spark))
    fs.mkdirs(rootP)
    val claim = new Path(rootP, s"$ClaimPrefix$next")
    // atomic put-if-absent. Hadoop's FileSystem.createNewFile is
    // exists-then-create on the local filesystem (TOCTOU — two same-instant
    // claimants can BOTH win, observed in the NodesSpec race drill), so the
    // file scheme goes through java.io.File.createNewFile (O_CREAT|O_EXCL,
    // kernel-atomic); other schemes use create-no-overwrite, which HDFS
    // resolves atomically at the namenode
    val claimed =
      if ("file" == fs.getUri.getScheme) {
        val local = new java.io.File(claim.toUri.getPath)
        local.getParentFile.mkdirs()
        try local.createNewFile()
        catch { case _: java.io.IOException => false }
      } else {
        try { fs.create(claim, false).close(); true }
        catch { case _: java.io.IOException => false }
      }
    if (!claimed)
      throw new graft.dag.GraftException(
        s"AtomicPublish: lost the publish race for gen-$next at $root — " +
          "another publisher holds its claim token. Retry against the new " +
          "current generation after it commits; if the holder CRASHED, " +
          "release the number with VacuumNode(reclaimNext = true)")
    if (currentGen(spark, root) != cur) {
      fs.delete(claim, false) // release: we never wrote anything
      throw new graft.dag.GraftException(
        s"AtomicPublish: generation advanced past gen-${cur.getOrElse(0L)} " +
          s"while claiming gen-$next at $root — another publisher committed " +
          "(and released this token) in between. Retry against the new " +
          "current generation")
    }
    (cur, next)
  }

  /** Second half of [[publish]]: write the claimed generation, swap the
    * manifest, release the claim. The caller must hold the gen-`next`
    * claim from [[acquireClaim]]. */
  private[graft] def commitClaimed(spark: org.apache.spark.sql.SparkSession,
                                   root: String, cur: Option[Long], next: Long,
                                   write: String => Unit): Long = {
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(conf(spark))
    val claim = new Path(rootP, s"$ClaimPrefix$next")
    write(s"$root/gen-$next") // complete new generation, live one untouched
    val tmp = new Path(rootP, s"$ManifestName.tmp-$next")
    val out = fs.create(tmp, true)
    try { out.write(s"gen-$next\n".getBytes("UTF-8")); out.hsync() }
    catch { case _: UnsupportedOperationException => /* fs without hsync */ }
    finally out.close()
    // the commit point: atomic pointer swap
    FileContext.getFileContext(rootP.toUri, conf(spark))
      .rename(tmp, new Path(rootP, ManifestName), Options.Rename.OVERWRITE)
    fs.delete(claim, false) // committed: release the fence
    // keep the superseded generation as rollback; drop anything older
    cur.filter(_ >= 2).foreach { c =>
      fs.delete(new Path(rootP, s"gen-${c - 1}"), true)
    }
    next
  }

  // ---- MERGE-ON-READ delta overlays (MorCdc) ----------------------------
  // A delta overlay is an O(delta)-sized directory committed INSIDE the
  // live generation at `<gen>/_deltas/delta-<id>` (underscore-prefixed, so
  // every plain scan of the generation ignores the whole overlay tree).
  // Write-then-rename gives the same all-or-nothing commit as the manifest
  // swap: a crash mid-write leaves only a dot-prefixed tmp dir that both
  // the FS listing below and Spark's hidden-file rules skip.

  private val DeltaName = raw"delta-(\d+)".r

  /** Committed delta overlays of the CURRENT generation, (id, path), id-sorted. */
  def listDeltas(spark: org.apache.spark.sql.SparkSession, root: String): Seq[(Long, String)] = {
    val dir = new Path(s"${resolve(spark, root)}/_deltas")
    val fs = dir.getFileSystem(conf(spark))
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case DeltaName(id) => Some(id.toLong -> st.getPath.toString)
        case _             => None // .tmp-* from a crashed write, or stray files
      }
    }.sortBy(_._1)
  }

  /** Atomically commit a delta overlay against the current generation:
    * `write` fills a hidden tmp dir, then one directory rename publishes it
    * as `delta-<id>`. Idempotent per id — an existing committed delta wins,
    * and an id at or below the generation's `_cdc` fold watermark is
    * already durable INSIDE the base (its delta dir retired with the fold),
    * so both are skipped (foreachBatch replays must not double-apply).
    *
    * Compaction race: a fold that commits between this call's generation
    * resolution and its rename would strand the overlay inside the retired
    * generation — invisible to every reader of the new one (silent data
    * loss). The commit therefore re-validates the generation AFTER the
    * rename; on a lost race the stranded dir is removed and the call
    * raises, so a foreachBatch caller fails the batch and replays it
    * against the new generation (delta commits are idempotent per id). */
  def publishDelta(spark: org.apache.spark.sql.SparkSession, root: String,
                   id: Long, write: String => Unit): Unit = {
    val gen = currentGen(spark, root)
    val genDir = resolve(spark, root)
    val deltas = new Path(s"$genDir/_deltas")
    val fs = deltas.getFileSystem(conf(spark))
    val target = new Path(deltas, s"delta-$id")
    if (fs.exists(target)) return // replayed batch: already committed
    val marker = new Path(s"$genDir/_cdc")
    if (fs.exists(marker) &&
        spark.read.parquet(marker.toString).collect().head.getLong(0) >= id)
      return // replayed batch: already folded into this generation's base
    // a fold takes the gen-(cur+1) claim BEFORE listing deltas (compact →
    // acquireClaim), so "claim outstanding" means an in-flight publisher
    // may already have listed — an overlay committed now could be missed
    // by the fold and stranded when the manifest swaps. Abort early (and
    // re-validate after the rename below): the batch replays idempotently
    // against whatever generation wins.
    val nextClaim = new Path(root, s"$ClaimPrefix${gen.getOrElse(0L) + 1}")
    if (fs.exists(nextClaim))
      throw new graft.dag.GraftException(
        s"AtomicPublish.publishDelta: a publisher holds the " +
          s"gen-${gen.getOrElse(0L) + 1} claim at $root (fold or rewrite in " +
          s"flight) — committing delta-$id now could strand it in the retired " +
          "generation. Retry after the publisher commits (delta commits are " +
          "idempotent per id); if the holder CRASHED, release the claim with " +
          "VacuumNode(reclaimNext = true)")
    val tmp = new Path(deltas, s".tmp-$id")
    fs.delete(tmp, true) // stale partial from a crash
    write(tmp.toString)
    FileContext.getFileContext(deltas.toUri, conf(spark))
      .rename(tmp, target, Options.Rename.OVERWRITE)
    // post-rename re-validation closes the remaining window: EITHER the
    // fold already swapped (generation changed) OR it is still in flight
    // but claimed before we could see it (claim now outstanding — its
    // listing may predate our rename). Both ways the overlay is removed
    // and the batch replays (ADVICE r13: the gen check alone left the
    // claimed-but-not-yet-swapped window open).
    if (currentGen(spark, root) != gen || fs.exists(nextClaim)) {
      fs.delete(target, true) // stranded (or strandable) overlay
      throw new graft.dag.GraftException(
        s"AtomicPublish.publishDelta: lost a race against a fold at " +
          s"$root — gen-${gen.getOrElse(-1L)} was superseded (or its " +
          s"successor claimed) while delta-$id committed into it. The " +
          "overlay was removed; retry the batch against the new current " +
          "generation (delta commits are idempotent per id)")
    }
  }
}

/** Sink: terminal write. The one place order-only dependencies matter under
  * lazy evaluation (sink barriers, SURVEY.md §1.2). With `atomicPublish`
  * the write commits through [[AtomicPublish]] (generation dir + manifest
  * swap — `mode` is ignored; every publish is a fresh generation) and the
  * output port re-reads the COMMITTED generation.
  */
class SinkNode(val path: String, val format: String = "parquet", val mode: String = "overwrite",
               val partitionBy: Seq[String] = Nil,
               val options: Map[String, String] = Map.empty,
               val atomicPublish: Boolean = false,
               // PUBLISH-TIME PROFILING (atomicPublish only): write a
               // SketchProfileNode sketch table into the generation
               // (`_profile/`, underscore-prefixed so scans ignore it)
               // before the manifest swap — the profile commits atomically
               // with the data. Corpus monitoring then reads
               // `<path>/gen-*/_profile` and merges sketches
               // (SketchMergeNode) without ever re-reading the data;
               // generations carry their own audit record forever.
               val profileColumns: Seq[String] = Nil,
               // NUMERIC distribution profiles at publish time (atomicPublish
               // only): a NumericProfileNode fixed-grid histogram table per
               // generation under `_numprofile/` — the EXACT-merge
               // counterpart of the HLL sketches: ProfileMergeNode rolls any
               // set of generations up bit-exactly, HistQuantileNode /
               // HistDriftNode then answer corpus-history quantiles and
               // day-over-day drift gates from profile tables alone.
               val numericProfiles: Seq[NumericProfileNode.Spec] = Nil,
               // FILE-LEVEL min/max stats at publish time (atomicPublish
               // only): a `_filestats/` table (file, min_<c>, max_<c> per
               // stats column) committed with the generation — the
               // data-skipping manifest StatsPrunedSourceNode prunes
               // against, so a range predicate opens only the files whose
               // [min,max] intersect it. One columnar scan of the stats
               // columns of the just-written files; pair with a range
               // (RepartitionNode(range=true)) or Z-order layout to make
               // the stats selective.
               val statsColumns: Seq[String] = Nil,
               // PER-FILE BLOOM FILTERS at publish time (atomicPublish
               // only): a `bloom_<c>` binary column in `_filestats` holding
               // one bloom filter per file over xxhash64(c) — the
               // POINT-LOOKUP skipping manifest min/max ranges cannot
               // provide: "open only the files containing these 10k
               // doc_ids" (takedown audits, GDPR erasure verification)
               // probes the blooms driver-free via BloomPrunedSourceNode
               // instead of scanning every file. False positives only
               // (a kept file may lack the ids — the exact row-side
               // semi-join handles it); never false negatives. Size via
               // `bloomExpectedItems` ≈ max rows per file: serialized
               // bloom is ~1.2 MB per file at 1M items / 1% fpp.
               val bloomColumns: Seq[String] = Nil,
               val bloomExpectedItems: Long = 1000000L,
               val bloomFpp: Double = 0.01) extends Node {
  require(profileColumns.isEmpty || atomicPublish,
    "profileColumns requires atomicPublish (the profile commits with the generation)")
  require(numericProfiles.isEmpty || atomicPublish,
    "numericProfiles requires atomicPublish (the profile commits with the generation)")
  require(statsColumns.isEmpty || atomicPublish,
    "statsColumns requires atomicPublish (the stats commit with the generation)")
  require(bloomColumns.isEmpty || atomicPublish,
    "bloomColumns requires atomicPublish (the stats commit with the generation)")
  require(bloomFpp > 0 && bloomFpp < 1, "bloomFpp must be in (0, 1)")
  override protected def defaultName: String = "sink"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("sink")
  override def jsonParams: Map[String, Any] = Map("path" -> path, "format" -> format, "mode" -> mode, "partitionBy" -> partitionBy, "options" -> options, "atomicPublish" -> atomicPublish, "profileColumns" -> profileColumns,
    "npCols" -> numericProfiles.map(_.expr), "npLos" -> numericProfiles.map(_.lo),
    "npHis" -> numericProfiles.map(_.hi), "npBins" -> numericProfiles.map(_.bins),
    "statsColumns" -> statsColumns, "bloomColumns" -> bloomColumns,
    "bloomExpectedItems" -> bloomExpectedItems, "bloomFpp" -> bloomFpp)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val df = in("df")
    def writeTo(target: String, wmode: String): Unit = {
      val w = df.write.format(format).mode(wmode).options(options)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).save(target)
    }
    if (atomicPublish) {
      val gen = AtomicPublish.publish(df.sparkSession, path, { target =>
        writeTo(target, "overwrite")
        if (profileColumns.nonEmpty)
          new SketchProfileNode(profileColumns)
            .transform(ctx, In.single("df" -> df))("result")
            .coalesce(1).write.mode("overwrite").parquet(s"$target/_profile")
        if (numericProfiles.nonEmpty)
          new NumericProfileNode(numericProfiles)
            .transform(ctx, In.single("df" -> df))("result")
            .coalesce(1).write.mode("overwrite").parquet(s"$target/_numprofile")
        if (statsColumns.nonEmpty || bloomColumns.nonEmpty)
          FileStatsWriter.write(df.sparkSession, target, format, options,
            statsColumns, bloomColumns, bloomExpectedItems, bloomFpp)
      })
      Map("result" -> df.sparkSession.read.format(format).options(options)
        .load(s"$path/gen-$gen"))
    } else {
      writeTo(path, mode)
      Map("result" -> df)
    }
  }
}

/** Vacuum a published root: remove the debris that crashes leave behind —
  * generation directories the manifest never committed (a publish killed
  * before its pointer swap), `_MANIFEST.tmp-*` files (killed mid-swap), and
  * `.tmp-*` overlay dirs inside kept generations (a merge-on-read delta
  * commit killed mid-write). All of it is INVISIBLE to readers already
  * (resolution goes through the manifest; overlay listing skips dot-dirs),
  * so vacuum is pure storage hygiene — but at 100 TB a weekly crash or two
  * accretes dead full-corpus copies, which is real money.
  *
  * Never touches the committed generation, the rollback generation
  * (`keepRollback`, default true — AtomicPublish's documented rollback
  * point), committed `delta-N` overlays, any non-generation file at the
  * root, or — crucially — `gen-(cur+1)`: that is the number a LIVE
  * publisher may be writing right now (AtomicPublish writes the complete
  * next generation BEFORE its manifest swap), and deleting it mid-write
  * would let the publisher commit a manifest pointing at a half-deleted
  * dir. A gen-(cur+1) left by a CRASHED publisher (plus its `_CLAIM`
  * fence, which blocks all further publishes) is released only by the
  * explicit `reclaimNext = true` — an operator action taken after
  * confirming no publisher is live. Claim tokens for generations at or
  * below the committed one are unambiguously stale and always removed.
  *
  * Idempotent; driver-side FS metadata only (one listing per level —
  * the same order of work as any scan's file listing). `dryRun` reports
  * without deleting. Output: one row per removed (or would-remove) entry,
  * (kind, name), deterministic order — auditable and oracle-checkable.
  */
class VacuumNode(val path: String, val keepRollback: Boolean = true,
                 val dryRun: Boolean = false,
                 val reclaimNext: Boolean = false) extends Node {
  override protected def defaultName: String = "vacuum"
  val inputs: Seq[Port] = Nil
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("vacuum")
  override def jsonParams: Map[String, Any] =
    Map("path" -> path, "keepRollback" -> keepRollback, "dryRun" -> dryRun,
      "reclaimNext" -> reclaimNext)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val spark = ctx.spark
    import org.apache.hadoop.fs.Path
    val cur = AtomicPublish.currentGen(spark, path).getOrElse(
      throw new graft.dag.GraftException(
        s"vacuum '$name': $path is not a published dataset (no ${AtomicPublish.ManifestName})"))
    val keep = Set(cur) ++ (if (keepRollback) Set(cur - 1) else Set.empty[Long])
    val rootP = new Path(path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val GenDir = raw"gen-(\d+)".r
    val ClaimFile = (raw"\Q" + AtomicPublish.ClaimPrefix + raw"\E(\d+)").r
    // a possibly-in-flight publish owns gen-(cur+1); untouchable by default
    def fenced(g: Long): Boolean = g == cur + 1 && !reclaimNext
    val removed = scala.collection.mutable.ArrayBuffer[(String, String)]()
    fs.listStatus(rootP).foreach { st =>
      val n = st.getPath.getName
      n match {
        case GenDir(g) if st.isDirectory && !keep.contains(g.toLong) &&
            !fenced(g.toLong) =>
          removed += (("dangling_generation", n))
          if (!dryRun) fs.delete(st.getPath, true)
        case _ if st.isFile && n.startsWith(s"${AtomicPublish.ManifestName}.tmp-") =>
          removed += (("manifest_tmp", n))
          if (!dryRun) fs.delete(st.getPath, false)
        case ClaimFile(g) if st.isFile && (g.toLong <= cur || !fenced(g.toLong)) =>
          removed += (("stale_claim", n))
          if (!dryRun) fs.delete(st.getPath, false)
        case _ => // committed gens, the manifest, foreign files: untouched
      }
    }
    keep.toSeq.sorted.foreach { g =>
      val deltas = new Path(s"$path/gen-$g/_deltas")
      if (fs.exists(deltas)) fs.listStatus(deltas).foreach { st =>
        if (st.isDirectory && st.getPath.getName.startsWith(".tmp-")) {
          removed += (("overlay_tmp", s"gen-$g/${st.getPath.getName}"))
          if (!dryRun) fs.delete(st.getPath, true)
        }
      }
    }
    import spark.implicits._
    Map("result" -> removed.sorted.toSeq.toDF("kind", "name"))
  }
}

/** Data-skipping scan over a stats-published dataset (SinkNode
  * `statsColumns`): prune FILES whose committed [min, max] cannot intersect
  * the declared range predicates, then scan only the survivors — the
  * manifest-level skipping layer ABOVE parquet row-group stats. Row-group
  * stats still require opening every footer; at 100 TB with ~100k files the
  * driver-side prune against one tiny `_filestats` table turns a selective
  * range query from "open every file" into "open the handful whose range
  * overlaps" — provided the layout made the stats selective
  * (RepartitionNode(range = true) or ZOrderNode before the publish).
  *
  * Correctness is pruning-independent: the SAME range predicates are also
  * applied as a row filter on the surviving files, so a file kept
  * conservatively (or stats-less NULL rows) never leak rows in — pruning
  * can only remove files that provably contain no qualifying row (NULL
  * values fail a range predicate, so all-NULL files with NULL min/max are
  * safely skippable). Bounds are string literals cast to the stats column
  * type — never string-compared.
  *
  * Driver state is file-count-sized (the kept file list — ~10 MB at 100k
  * files), the same order as the listing every scan already performs.
  */
class StatsPrunedSourceNode(val path: String,
                            // (column, lo, hi) — null lo/hi = unbounded side
                            val pruneCols: Seq[String],
                            val pruneLos: Seq[Option[String]],
                            val pruneHis: Seq[Option[String]],
                            val format: String = "parquet",
                            // merge-on-read composition: with `morKeys` set,
                            // outstanding overlays are RESOLVED on top of the
                            // pruned base instead of refused — the predicate
                            // commutes with `(base ∖ overlayKeys) ∪ winners`,
                            // so pruning base files stays exact as long as
                            // the row predicate is re-applied to the RESOLVED
                            // view (it is, below). High-churn corpora keep
                            // file skipping BETWEEN compactions this way.
                            val morKeys: Seq[String] = Nil,
                            val morMaxDeltas: Int = 64) extends Node {
  require(pruneCols.nonEmpty, "stats_pruned_source: need at least one prune column")
  require(pruneLos.size == pruneCols.size && pruneHis.size == pruneCols.size,
    "stats_pruned_source: pruneCols/pruneLos/pruneHis must align")
  require(pruneCols.indices.forall(i => pruneLos(i).nonEmpty || pruneHis(i).nonEmpty),
    "stats_pruned_source: each prune column needs at least one bound")
  override protected def defaultName: String = "stats_pruned_source"
  override def persistableOutput: Boolean = false
  val inputs: Seq[Port] = Nil
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("stats_pruned_source")
  override def jsonParams: Map[String, Any] = Map("path" -> path,
    "pruneCols" -> pruneCols, "pruneLos" -> pruneLos.map(_.orNull),
    "pruneHis" -> pruneHis.map(_.orNull), "format" -> format,
    "morKeys" -> morKeys, "morMaxDeltas" -> morMaxDeltas)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val spark = ctx.spark
    val gen = AtomicPublish.resolve(spark, path)
    val statsPath = new org.apache.hadoop.fs.Path(s"$gen/_filestats")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(statsPath))
      throw new graft.dag.GraftException(
        s"stats_pruned_source '$name': no _filestats under $gen — publish with " +
          "SinkNode(atomicPublish = true, statsColumns = ...) first")
    // a merge-on-read root with OUTSTANDING overlays cannot be served from
    // base stats alone — the overlays carry newer/deleted rows the stats
    // know nothing about; silently reading the stale base would be a
    // correctness trap. With `morKeys` the overlays are resolved on top of
    // the pruned base (exact — class doc); without them, refuse loudly.
    val outstanding = AtomicPublish.listDeltas(spark, path)
    if (outstanding.nonEmpty && morKeys.isEmpty)
      throw new graft.dag.GraftException(
        s"stats_pruned_source '$name': ${outstanding.size} outstanding " +
          s"merge-on-read overlays at $path — a stats-pruned read would serve " +
          "the STALE base. Pass morKeys to resolve the overlays on top of " +
          "the pruned base, compact (MorCdc.compact) and re-publish with " +
          "statsColumns, or read the live view via MorSourceNode")
    val stats = spark.read.parquet(statsPath.toString)
    def bound(c: String, side: String): org.apache.spark.sql.Column = {
      val sc = s"${side}_$c"
      require(stats.columns.contains(sc),
        s"stats_pruned_source '$name': no committed stats for column '$c'")
      col(sc)
    }
    // a file survives iff every declared range can intersect its [min, max]
    val keepCond = pruneCols.indices.map { i =>
      val c = pruneCols(i)
      val parts = Seq(
        pruneLos(i).map(lo => bound(c, "max") >= lit(lo).cast(stats.schema(s"max_$c").dataType)),
        pruneHis(i).map(hi => bound(c, "min") <= lit(hi).cast(stats.schema(s"min_$c").dataType))
      ).flatten
      parts.reduce(_ && _)
    }.reduce(_ && _)
    val files = stats.filter(keepCond).select("file")
      .collect().map(_.getString(0)).toSeq
    // the SAME predicates as a row filter — correctness never depends on
    // how aggressively the stats pruned
    def rowCond(df: DataFrame): org.apache.spark.sql.Column =
      pruneCols.indices.map { i =>
        val c = pruneCols(i)
        val t = df.schema(c).dataType
        Seq(pruneLos(i).map(lo => col(c) >= lit(lo).cast(t)),
            pruneHis(i).map(hi => col(c) <= lit(hi).cast(t))).flatten.reduce(_ && _)
      }.reduce(_ && _)
    val reader = spark.read.format(format).option("basePath", gen)
    val prunedBase =
      if (files.isEmpty) { // nothing can match: empty frame, full schema
        val d = spark.read.format(format).load(gen); d.filter(lit(false))
      } else reader.load(files: _*)
    // resolve outstanding overlays over the PRUNED base (delta-sized, never
    // worth pruning), then re-apply the row predicate to the resolved view —
    // overlay winners whose values moved outside the range drop out here
    val df =
      if (outstanding.isEmpty) prunedBase
      else MorCdc.resolveOver(spark, path, prunedBase, morKeys, format, morMaxDeltas)
    Map("result" -> df.filter(rowCond(df)))
  }
}

/** Per-file bloom builder for SinkNode's `bloomColumns`: one
  * `org.apache.spark.util.sketch.BloomFilter` per input_file_name group over
  * the column's xxhash64 values, serialized to bytes for the `_filestats`
  * manifest. Capacity is fixed per file (`expectedItems` ≈ max rows per
  * file): over-full blooms degrade to a higher false-positive rate —
  * conservative keeps, never lost files. */
private[nodes] class FileBloomAgg(expectedItems: Long, fpp: Double)
  extends org.apache.spark.sql.expressions.Aggregator[
    Long, org.apache.spark.util.sketch.BloomFilter, Array[Byte]] {
  import org.apache.spark.util.sketch.BloomFilter
  def zero: BloomFilter = BloomFilter.create(expectedItems, fpp)
  def reduce(b: BloomFilter, x: Long): BloomFilter = { b.putLong(x); b }
  def merge(a: BloomFilter, b: BloomFilter): BloomFilter = { a.mergeInPlace(b); a }
  def finish(b: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    b.writeTo(bos)
    bos.toByteArray
  }
  def bufferEncoder: org.apache.spark.sql.Encoder[BloomFilter] =
    org.apache.spark.sql.Encoders.javaSerialization[BloomFilter]
  def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
    org.apache.spark.sql.Encoders.BINARY
}

/** The `_filestats` manifest writer shared by every publisher of a skippable
  * generation — SinkNode at first publish, MorCdc.compact at each fold (a
  * compaction that dropped the manifest would kill data skipping exactly
  * when the corpus churns most). One columnar scan of the just-written
  * files, pruned to the stats columns; per-file min/max plus optional
  * per-file blooms. */
private[graft] object FileStatsWriter {
  def write(spark: org.apache.spark.sql.SparkSession, target: String,
            format: String, options: Map[String, String],
            statsColumns: Seq[String], bloomColumns: Seq[String],
            bloomExpectedItems: Long = 1000000L,
            bloomFpp: Double = 0.01): Unit = {
    val written = spark.read.format(format).options(options).load(target)
    val bloomAgg = org.apache.spark.sql.functions.udaf(
      new FileBloomAgg(bloomExpectedItems, bloomFpp),
      org.apache.spark.sql.Encoders.scalaLong)
    val aggs = statsColumns.flatMap(c => Seq(
      org.apache.spark.sql.functions.min(col(c)).as(s"min_$c"),
      org.apache.spark.sql.functions.max(col(c)).as(s"max_$c"))) ++
      bloomColumns.map(c =>
        bloomAgg(org.apache.spark.sql.functions.expr(s"xxhash64($c)"))
          .as(s"bloom_$c"))
    written
      .groupBy(org.apache.spark.sql.functions.input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1).write.mode("overwrite").parquet(s"$target/_filestats")
  }
}

/** POINT-LOOKUP data skipping over a bloom-published dataset (SinkNode
  * `bloomColumns`): open only the files whose committed per-file bloom
  * might contain at least one of the probe ids — the takedown/audit shape
  * ("which files hold these 10k doc_ids?") that min/max range stats cannot
  * skip for, because point sets are scattered across every file's [min,
  * max] span unless the layout is id-sorted. The probe set arrives as the
  * `ids` input (first column = the values, matched against `inCol`).
  *
  * Correctness is pruning-independent, exactly the StatsPrunedSourceNode
  * contract: bloom false positives only ever KEEP extra files, and the
  * surviving rows are semi-joined against the broadcast probe set — a
  * kept-but-idless file contributes nothing, and false negatives cannot
  * exist (bloom guarantee). With `morKeys`, outstanding merge-on-read
  * overlays are resolved on top of the pruned base before the semi-join
  * (the q185 composition), so takedown audits stay exact mid-churn.
  *
  * Scale: the bloom probe is one pass over the file-count-sized
  * `_filestats` table (each row deserializes its bloom once and tests the
  * broadcast id hashes with early exit); driver state is the id hashes
  * (bounded by `maxIds`, loud beyond) plus the kept file list — both
  * metadata-sized. The id set must be a POINT set: the exact semi-join is
  * on equality, which is what bloom membership answers.
  */
class BloomPrunedSourceNode(val path: String,
                            val inCol: String,
                            val format: String = "parquet",
                            val morKeys: Seq[String] = Nil,
                            val morMaxDeltas: Int = 64,
                            val maxIds: Long = 1000000L) extends Node {
  require(inCol.nonEmpty, "bloom_pruned_source: need a probe column")
  require(maxIds > 0, "bloom_pruned_source: maxIds must be positive")
  override protected def defaultName: String = "bloom_pruned_source"
  override def persistableOutput: Boolean = false
  val inputs = Seq(Port("ids"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("bloom_pruned_source")
  override def jsonParams: Map[String, Any] = Map("path" -> path,
    "inCol" -> inCol, "format" -> format, "morKeys" -> morKeys,
    "morMaxDeltas" -> morMaxDeltas, "maxIds" -> maxIds)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val spark = ctx.spark
    val gen = AtomicPublish.resolve(spark, path)
    val statsPath = new org.apache.hadoop.fs.Path(s"$gen/_filestats")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(statsPath))
      throw new graft.dag.GraftException(
        s"bloom_pruned_source '$name': no _filestats under $gen — publish with " +
          "SinkNode(atomicPublish = true, bloomColumns = ...) first")
    val outstanding = AtomicPublish.listDeltas(spark, path)
    if (outstanding.nonEmpty && morKeys.isEmpty)
      throw new graft.dag.GraftException(
        s"bloom_pruned_source '$name': ${outstanding.size} outstanding " +
          s"merge-on-read overlays at $path — a bloom-pruned read would serve " +
          "the STALE base. Pass morKeys to resolve the overlays on top of " +
          "the pruned base, or read the live view via MorSourceNode")
    val stats = spark.read.parquet(statsPath.toString)
    require(stats.columns.contains(s"bloom_$inCol"),
      s"bloom_pruned_source '$name': no committed bloom for column '$inCol' — " +
        s"publish with bloomColumns = Seq(\"$inCol\")")
    val ids = in("ids")
    // the per-file blooms hold xxhash64 of the PUBLISHED column's native
    // type, and Spark's xxhash64 is type-sensitive (int, bigint and string
    // hash differently) — a probe frame with a differently-typed id column
    // would silently produce bloom FALSE NEGATIVES (every file skipped,
    // rows lost, masked by the type-coercing semi-join below). Cast the
    // probe ids to the base column's type before hashing (ADVICE r13);
    // values the cast nulls out can't equal any base row anyway and are
    // dropped from the hash set.
    val baseType = spark.read.format(format).load(gen).schema
      .find(_.name == inCol).getOrElse(throw new graft.dag.GraftException(
        s"bloom_pruned_source '$name': column '$inCol' not in the published " +
          s"schema at $gen")).dataType
    val idsNorm = ids
      .select(col(ids.columns.head).cast(baseType).as(inCol))
      .filter(col(inCol).isNotNull).distinct()
    // the driver-side id hashes: bounded, loud beyond maxIds — a takedown
    // set is 10k-1M ids; an unbounded probe set belongs in a plain join
    val idHashes = idsNorm.select(expr(s"xxhash64($inCol)").as("__h"))
      .limit(math.min(maxIds, Int.MaxValue - 2L).toInt + 1)
      .collect().map(_.getLong(0))
    if (idHashes.length > maxIds)
      throw new graft.dag.GraftException(
        s"bloom_pruned_source '$name': probe set exceeds maxIds = $maxIds — " +
          "per-file bloom probing is for bounded point sets (takedown/audit); " +
          "use a plain semi-join for corpus-sized probes")
    val bcHashes = spark.sparkContext.broadcast(idHashes)
    val hit = org.apache.spark.sql.functions.udf { (bytes: Array[Byte]) =>
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes))
      bcHashes.value.exists(bf.mightContainLong)
    }
    val files = stats.filter(hit(col(s"bloom_$inCol"))).select("file")
      .collect().map(_.getString(0)).toSeq
    val prunedBase =
      if (files.isEmpty) {
        val d = spark.read.format(format).load(gen); d.filter(lit(false))
      } else spark.read.format(format).option("basePath", gen).load(files: _*)
    val resolved =
      if (outstanding.isEmpty) prunedBase
      else MorCdc.resolveOver(spark, path, prunedBase, morKeys, format, morMaxDeltas)
    // the exact membership filter — bloom false positives vanish here
    Map("result" -> resolved.join(broadcast(idsNorm), Seq(inCol), "left_semi"))
  }
}

/** Small-file compaction — the petabyte-lake maintenance job every
  * long-lived dataset eventually needs: streaming sinks, incremental
  * publishes, and per-partition writes accrete thousands of KB-sized files,
  * and at 100 TB the scan cost becomes driver listing time + one task per
  * tiny file instead of IO. This rewrites a dataset directory into
  * ~`targetFileBytes`-sized files:
  *
  *   - target file count = max(1, ceil(totalBytes / targetFileBytes)),
  *     computed from a driver-side FS listing (metadata only — the same
  *     listing any scan of the directory performs);
  *   - `shuffle = true` (default) uses round-robin `repartition(n)` — one
  *     shuffle, but evenly-sized output files even when input files are
  *     skewed; `false` uses `coalesce(n)` — shuffle-free, output sizes
  *     track input-split locality (the cheap path when inputs are roughly
  *     uniform);
  *   - the rewrite COMMITS through [[AtomicPublish]] at the same root:
  *     readers (SourceNode) observe either the pre-compaction data or the
  *     complete compacted generation, never a half-written mix, and the
  *     superseded generation stays on disk as the rollback point. A plain
  *     (never-published) directory is converted to the published layout on
  *     first compaction; its original loose files remain as the implicit
  *     rollback generation.
  *   - `skipIfCompact = true` makes the job a no-op when the directory
  *     already has no more than the target file count — the idempotent
  *     nightly-maintenance shape (re-running never rewrites compact data).
  *
  * Output port: the committed (possibly unchanged) dataset — content
  * identical to the input by construction, which is exactly what the q149
  * oracle pins.
  */
class CompactFilesNode(val path: String,
                       val targetFileBytes: Long = 128L * 1024 * 1024,
                       val format: String = "parquet",
                       val shuffle: Boolean = true,
                       val skipIfCompact: Boolean = false,
                       // RE-LAYOUT: rewrite into a Hive-partitioned layout
                       // (e.g. by lang/date) while compacting — partition
                       // values co-locate via a hash repartition on the
                       // partition columns, so each partition directory gets
                       // whole files (skewed partition values get at most
                       // one task each; salt upstream if one value dominates)
                       val partitionBy: Seq[String] = Nil) extends Node {
  require(targetFileBytes > 0, "targetFileBytes must be positive")
  override protected def defaultName: String = "compact_files"
  override def persistableOutput: Boolean = false
  val inputs: Seq[Port] = Nil
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("compact_files")
  override def jsonParams: Map[String, Any] = Map(
    "path" -> path, "targetFileBytes" -> targetFileBytes, "format" -> format,
    "shuffle" -> shuffle, "skipIfCompact" -> skipIfCompact,
    "partitionBy" -> partitionBy)

  /** (data file count, total bytes) under `dir` — hidden/underscore entries
    * (committed-generation dirs, manifests, _SUCCESS) excluded. */
  private def listing(spark: org.apache.spark.sql.SparkSession,
                      dir: String): (Int, Long) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var n = 0; var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (f.isFile && !name.startsWith("_") && !name.startsWith(".")) {
        n += 1; bytes += f.getLen
      }
    }
    (n, bytes)
  }

  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val live = AtomicPublish.resolve(ctx.spark, path)
    val (nFiles, totalBytes) = listing(ctx.spark, live)
    val nOut = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    def read(dir: String) = ctx.spark.read.format(format).load(dir)
    if (skipIfCompact && partitionBy.isEmpty && nFiles <= nOut)
      return Map("result" -> read(live))
    val df = read(live)
    val sized =
      if (partitionBy.nonEmpty) df.repartition(nOut, partitionBy.map(col): _*)
      else if (shuffle) df.repartition(nOut)
      else df.coalesce(nOut)
    val gen = AtomicPublish.publish(ctx.spark, path, { target =>
      val w = sized.write.format(format).mode("overwrite")
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).save(target)
    })
    Map("result" -> read(s"$path/gen-$gen"))
  }
}

/** Bucketed managed-table sink: `saveAsTable` with `bucketBy`/`sortBy`, the
  * cross-JOB co-location primitive (RepartitionNode only helps within one
  * job). Two tables bucketed on their join keys with equal bucket counts
  * equi-join with ZERO Exchange on either side (PlanSpec pins this through
  * the node); at 100 TB, bucketing the fact tables once amortizes the
  * layout shuffle across every downstream join and keyed aggregation.
  * Output port re-reads the saved table, so downstream nodes see the
  * bucketed layout. Bucket count should divide evenly into cluster
  * parallelism; same-schema overwrite re-uses the table identity.
  */
class BucketedSinkNode(val table: String, val bucketCols: Seq[String], val nBuckets: Int,
                       val sortCols: Seq[String] = Nil, val format: String = "parquet",
                       val mode: String = "overwrite") extends Node {
  require(bucketCols.nonEmpty, "BucketedSinkNode needs at least one bucket column")
  override protected def defaultName: String = "bucketed_sink"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("bucketed_sink")
  override def jsonParams: Map[String, Any] = Map("table" -> table, "bucketCols" -> bucketCols,
    "nBuckets" -> nBuckets, "sortCols" -> sortCols, "format" -> format, "mode" -> mode)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    // Orphaned-location guard: an in-memory catalog forgets managed tables
    // across sessions while their warehouse directories survive, and
    // saveAsTable then fails with LOCATION_ALREADY_EXISTS even in overwrite
    // mode (for the catalog it is a CREATE). An existing location with NO
    // catalog entry is stale by definition — remove it. Only the default
    // location of an unqualified table name is handled; qualified names with
    // external locations are the caller's to manage.
    if (mode == "overwrite" && !table.contains(".") && !ctx.spark.catalog.tableExists(table)) {
      // resolve the location in the SAME namespace tableExists just checked
      // (the current database's own location), never the warehouse root —
      // with a non-default current db, <warehouse>/<table> could be a LIVE
      // table of another database and deleting it would destroy data
      val dbLoc = ctx.spark.catalog.getDatabase(ctx.spark.catalog.currentDatabase).locationUri
      val loc = new org.apache.hadoop.fs.Path(dbLoc, table.toLowerCase)
      val fs = loc.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    val w0 = in("df").write.format(format).mode(mode)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    val w = if (sortCols.nonEmpty) w0.sortBy(sortCols.head, sortCols.tail: _*) else w0
    w.saveAsTable(table)
    Map("result" -> ctx.spark.table(table))
  }
}

/** Projection via SQL expressions (`selectExpr`); covers scalar functions and
  * window functions (`... over (partition by ...)`) alike, all codegen'd.
  */
class ProjectNode(val exprs: Seq[String]) extends Node {
  override protected def defaultName: String = "project"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("project")
  override def jsonParams: Map[String, Any] = Map("exprs" -> exprs)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] =
    Map("result" -> in("df").selectExpr(exprs: _*))
}
object ProjectNode { def apply(exprs: String*): ProjectNode = new ProjectNode(exprs) }

/** Add/replace columns, keeping the rest (`withColumn` composition). */
class WithColumnsNode(val cols: Seq[(String, String)]) extends Node {
  override protected def defaultName: String = "with_columns"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("with_columns")
  override def jsonParams: Map[String, Any] = Map("cols" -> cols)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] =
    Map("result" -> cols.foldLeft(in("df")) { case (d, (n, e)) => d.withColumn(n, expr(e)) })
}
object WithColumnsNode { def apply(cols: (String, String)*): WithColumnsNode = new WithColumnsNode(cols) }

/** Filter; predicate is a SQL expression so it reaches the parquet scan as a
  * pushed filter (verify with .explain: PushedFilters).
  */
class FilterNode(val condition: String) extends Node {
  override protected def defaultName: String = "filter"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("filter")
  override def jsonParams: Map[String, Any] = Map("condition" -> condition)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] =
    Map("result" -> in("df").filter(condition))
}
object FilterNode { def apply(c: String): FilterNode = new FilterNode(c) }

/** Join node: equi (using-columns) or theta (arbitrary condition referencing
  * l./r. aliases); all Spark join types (inner/left/right/full/left_semi/
  * left_anti/cross). `broadcastRight` hints the small side — at 100 TB a dim
  * table must broadcast, never shuffle the fact side.
  */
class JoinNode(
    val joinType: String = "inner",
    val using: Seq[String] = Nil,
    val condition: Option[String] = None,
    val broadcastRight: Boolean = false)
  extends Node {
  override protected def defaultName: String = "join"
  val inputs = Seq(Port("left"), Port("right"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("join")
  override def jsonParams: Map[String, Any] = Map("joinType" -> joinType, "using" -> using, "condition" -> condition, "broadcastRight" -> broadcastRight)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val l = in("left").alias("l")
    val r0 = in("right").alias("r")
    val r = if (broadcastRight) broadcast(r0) else r0
    val joined = (using, condition) match {
      case (u, None) if u.nonEmpty => l.join(r, u, joinType)
      case (_, Some(c)) => l.join(r, expr(c), joinType)
      case _ => throw new GraftException("JoinNode needs `using` columns or a `condition`")
    }
    Map("result" -> joined)
  }
}
object JoinNode {
  def using(cols: Seq[String], joinType: String = "inner", broadcastRight: Boolean = false): JoinNode =
    new JoinNode(joinType, using = cols, broadcastRight = broadcastRight)
  def on(condition: String, joinType: String = "inner", broadcastRight: Boolean = false): JoinNode =
    new JoinNode(joinType, condition = Some(condition), broadcastRight = broadcastRight)
}

/** Hash/sort aggregation. Catalyst plans partial (map-side) + final stages
  * automatically; `groupingSets` switches to cube/rollup/GROUPING SETS.
  */
class AggNode(
    val groupBy: Seq[String],
    val aggs: Seq[String],
    val grouping: String = "groupby") // groupby | cube | rollup
  extends Node {
  override protected def defaultName: String = "agg"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("agg")
  override def jsonParams: Map[String, Any] = Map("groupBy" -> groupBy, "aggs" -> aggs, "grouping" -> grouping)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val df = in("df")
    val aggCols = aggs.map(expr)
    val grouped = grouping match {
      case "groupby" => df.groupBy(groupBy.map(col): _*)
      case "cube"    => df.cube(groupBy.map(col): _*)
      case "rollup"  => df.rollup(groupBy.map(col): _*)
      case other     => throw new GraftException(s"unknown grouping kind '$other'")
    }
    val res =
      if (aggCols.isEmpty) throw new GraftException("AggNode needs at least one aggregate")
      else grouped.agg(aggCols.head, aggCols.tail: _*)
    Map("result" -> res)
  }
}
object AggNode {
  def apply(groupBy: Seq[String], aggs: String*): AggNode = new AggNode(groupBy, aggs)
  def cube(groupBy: Seq[String], aggs: String*): AggNode = new AggNode(groupBy, aggs, "cube")
  def rollup(groupBy: Seq[String], aggs: String*): AggNode = new AggNode(groupBy, aggs, "rollup")
}

/** Global sort (range-partitioned exchange — one total order across the
  * cluster). Use TopKNode when only the head is needed.
  */
class SortNode(val exprs: Seq[String]) extends Node {
  override protected def defaultName: String = "sort"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("sort")
  override def jsonParams: Map[String, Any] = Map("exprs" -> exprs)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] =
    Map("result" -> in("df").orderBy(exprs.map(SortExprs.sortCol): _*))
}
object SortNode { def apply(exprs: String*): SortNode = new SortNode(exprs) }

class LimitNode(val n: Int) extends Node {
  override protected def defaultName: String = "limit"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("limit")
  override def jsonParams: Map[String, Any] = Map("n" -> n)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] =
    Map("result" -> in("df").limit(n))
}

/** Top-k: orderBy + limit fuse into TakeOrderedAndProject — per-partition
  * heaps then a k-row merge on the driver; no global sort at any scale.
  */
class TopKNode(val k: Int, val sortExprs: Seq[String]) extends Node {
  override protected def defaultName: String = "top_k"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("top_k")
  override def jsonParams: Map[String, Any] = Map("k" -> k, "sortExprs" -> sortExprs)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] =
    Map("result" -> in("df").orderBy(sortExprs.map(SortExprs.sortCol): _*).limit(k))
}
object TopKNode { def apply(k: Int, sortExprs: String*): TopKNode = new TopKNode(k, sortExprs) }

/** Set operations. Union is variadic fan-in (the relational analogue of the
  * reference's `*args` accumulation, SURVEY.md §2.1 #21); intersect/except
  * take exactly two inputs.
  */
class UnionNode(val byName: Boolean = true, val distinct: Boolean = false,
                val allowMissingColumns: Boolean = false) extends Node {
  override protected def defaultName: String = "union"
  val inputs = Seq(Port("dfs", variadic = true))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("union")
  override def jsonParams: Map[String, Any] = Map("byName" -> byName, "distinct" -> distinct, "allowMissingColumns" -> allowMissingColumns)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val dfs = in.seq("dfs")
    if (dfs.isEmpty) throw new GraftException("UnionNode received no inputs")
    val u = dfs.reduce((a, b) =>
      if (byName) a.unionByName(b, allowMissingColumns) else a.union(b))
    Map("result" -> (if (distinct) u.distinct() else u))
  }
}

/** Keyed variadic fan-in (the relational analogue of the reference's
  * `**kwargs` accumulation, `_handle_var_key`, mldag.py:131-165): every
  * upstream payload arrives keyed by its node name — duplicate keys error at
  * wiring-delivery time — and the union tags each row with its source key in
  * `keyCol` (provenance for merged corpora). Column sets may differ across
  * sources when `allowMissingColumns`.
  */
class TaggedUnionNode(val keyCol: String = "source",
                      val allowMissingColumns: Boolean = false) extends Node {
  override protected def defaultName: String = "tagged_union"
  val inputs = Seq(Port("dfs", variadic = true, keyed = true))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("tagged_union")
  override def jsonParams: Map[String, Any] = Map("keyCol" -> keyCol, "allowMissingColumns" -> allowMissingColumns)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val dfs = in.keyed("dfs")
    if (dfs.isEmpty) throw new GraftException("TaggedUnionNode received no inputs")
    dfs.find(_._2.columns.contains(keyCol)).foreach { case (k, _) =>
      throw new GraftException(
        s"TaggedUnionNode: input '$k' already has a '$keyCol' column — withColumn would " +
          "silently overwrite its provenance; rename the existing column or set a different keyCol")
    }
    val tagged = dfs.map { case (k, df) =>
      df.withColumn(keyCol, org.apache.spark.sql.functions.lit(k))
    }
    Map("result" -> tagged.reduce(_.unionByName(_, allowMissingColumns)))
  }
}

class SetOpNode(val op: String) extends Node { // intersect | intersectAll | except | exceptAll
  override protected def defaultName: String = op.toLowerCase
  val inputs = Seq(Port("left"), Port("right"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("set_op")
  override def jsonParams: Map[String, Any] = Map("op" -> op)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val (l, r) = (in("left"), in("right"))
    val res = op match {
      case "intersect"    => l.intersect(r)
      case "intersectAll" => l.intersectAll(r)
      case "except"       => l.except(r)
      case "exceptAll"    => l.exceptAll(r)
      case other          => throw new GraftException(s"unknown set op '$other'")
    }
    Map("result" -> res)
  }
}

/** Distinct / exact dedup on all or selected columns (`dropDuplicates` =
  * hash-shuffle on the key columns; first-row-per-key is nondeterministic, so
  * oracle-checked dedup queries use group-by-min instead).
  */
class DistinctNode(val cols: Seq[String] = Nil) extends Node {
  override protected def defaultName: String = "distinct"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("distinct")
  override def jsonParams: Map[String, Any] = Map("cols" -> cols)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] =
    Map("result" -> (if (cols.isEmpty) in("df").distinct() else in("df").dropDuplicates(cols)))
}

/** Column profiling — the data-quality audit every pipeline runs first on an
  * unfamiliar table: per column, row count, non-null count, exact distinct
  * count, and min/max (stringified so heterogeneous columns stack into one
  * frame; beware engine-specific float formatting — profile numeric columns
  * through integer/string types when cross-engine comparing). ONE aggregate
  * pass over the data (multiple distinct counts compile to Spark's Expand —
  * an audit query's acceptable cost), then a driver-free explode of the
  * single result row into per-column rows.
  */
class ProfileNode(val columns: Seq[String] = Nil, // Nil = all
                  val exactDistinct: Boolean = true) extends Node {
  override protected def defaultName: String = "profile"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("profile")
  override def jsonParams: Map[String, Any] =
    Map("columns" -> columns, "exactDistinct" -> exactDistinct)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val df = in("df")
    val cols = if (columns.nonEmpty) columns else df.columns.toSeq
    // exactDistinct=false swaps in HLL sketches: no Expand, strictly one
    // map-side-combining pass — the 100 TB profiling mode (±~2% counts)
    val nd = if (exactDistinct) "count(distinct %s)" else "approx_count_distinct(%s)"
    val aggs = Seq("count(*) as __n") ++ cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(s"count($c) as __nn_$i", s"${nd.format(c)} as __nd_$i",
        s"cast(min($c) as string) as __mn_$i", s"cast(max($c) as string) as __mx_$i")
    }
    val structs = cols.zipWithIndex.map { case (c, i) =>
      s"struct('$c' as column_name, __n as n_rows, __nn_$i as n_nonnull, " +
        s"__nd_$i as n_distinct, __mn_$i as min_val, __mx_$i as max_val)"
    }.mkString("array(", ", ", ")")
    Map("result" -> df.selectExpr(aggs: _*)
      .selectExpr(s"inline($structs)"))
  }
}

/** MERGEABLE distinct-count profiling — the monitoring primitive an
  * incrementally-published corpus needs at 100 TB: exact `count(distinct)`
  * over the full history is a full re-scan per audit, but a DataSketches
  * HLL sketch per column per GENERATION is one bounded pass at publish
  * time, and corpus-wide totals thereafter are a sketch-table merge
  * (`SketchMergeNode`) — kilobytes of work, no data touched.
  *
  * Output: one row per profiled column — (col_name, sketch BINARY,
  * est_distinct). The sketch column is the reusable artifact: persist it
  * next to each generation (it is parquet-storable binary), merge across
  * any subset of generations, re-merge merges (union is associative —
  * NodesSpec pins rollup-of-merges == flat merge exactly). Estimator
  * contract: the REGISTER state unions losslessly (per-bucket max), but
  * DataSketches estimates a directly-streamed sketch with the HIP
  * estimator and a unioned one with the composite estimator, so merged
  * estimates equal a one-shot whole-corpus sketch only while sketches are
  * in the exact coupon regime (up to a few thousand distincts at the
  * default lgConfigK); past that both remain within the standard HLL bound
  * (~1.04/sqrt(2^lgConfigK) RSE: ~0.8% at the default lgConfigK = 14),
  * which is what q150's driver-checked gate pins.
  *
  * One aggregate pass, map-side partial merge, one 1-row result exploded to
  * per-column rows — no Expand (unlike exact multi-distinct), no driver
  * state. Unsupported sketch input types (anything but int/long/string/
  * binary) are cast to string first.
  */
class SketchProfileNode(val columns: Seq[String] = Nil, // Nil = all
                        val lgConfigK: Int = 14) extends Node {
  require(lgConfigK >= 4 && lgConfigK <= 21, "lgConfigK must be in [4, 21]")
  override protected def defaultName: String = "sketch_profile"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("sketch_profile")
  override def jsonParams: Map[String, Any] =
    Map("columns" -> columns, "lgConfigK" -> lgConfigK)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    import org.apache.spark.sql.types._
    val df = in("df")
    val cols = if (columns.nonEmpty) columns else df.columns.toSeq
    val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
    def sketchable(c: String): String = fields.get(c) match {
      case Some(IntegerType | LongType | StringType | BinaryType) => c
      case _ => s"cast($c as string)"
    }
    val aggs = cols.zipWithIndex.map { case (c, i) =>
      s"hll_sketch_agg(${sketchable(c)}, $lgConfigK) as __sk_$i"
    }
    val structs = cols.zipWithIndex.map { case (c, i) =>
      s"struct('$c' as col_name, __sk_$i as sketch, " +
        s"hll_sketch_estimate(__sk_$i) as est_distinct)"
    }.mkString("array(", ", ", ")")
    Map("result" -> df.selectExpr(aggs: _*).selectExpr(s"inline($structs)"))
  }
}

/** Merge per-generation sketch tables (SketchProfileNode outputs) into
  * corpus-wide estimates: union the variadic inputs, one `hll_union_agg`
  * per col_name. Output schema matches SketchProfileNode, so merges
  * re-merge — the generation-tree rollup shape. Work is
  * O(generations × columns) sketch bytes; the corpora themselves are never
  * touched.
  */
class SketchMergeNode() extends Node {
  override protected def defaultName: String = "sketch_merge"
  val inputs = Seq(Port("sketches", variadic = true))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("sketch_merge")
  override def jsonParams: Map[String, Any] = Map.empty
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val frames = in.seq("sketches")
    if (frames.isEmpty) throw new GraftException("sketch_merge needs at least one input")
    val all = frames.map(_.select("col_name", "sketch")).reduce(_.unionByName(_))
    Map("result" -> all.groupBy(col("col_name"))
      .agg(expr("hll_union_agg(sketch, true)").as("sketch"))
      .selectExpr("col_name", "sketch", "hll_sketch_estimate(sketch) as est_distinct"))
  }
}

/** Mergeable NUMERIC distribution profiling — the quantile/drift counterpart
  * of SketchProfileNode's distinct-count story. Each generation gets ONE
  * bounded pass that bins every profiled expression onto a FIXED grid
  * declared in the node config (lo/hi/bins per column — the grid must be
  * config-derived, not data-derived, or generations would not merge); the
  * per-generation profile table is then the reusable artifact: integer
  * bucket counts merge EXACTLY across any subset of generations
  * (ProfileMergeNode — element-wise bigint addition, no estimator error,
  * re-mergeable), and quantiles (HistQuantileNode) or distribution drift
  * (HistDriftNode) are computed from profile tables alone — kilobytes of
  * work, the corpora are never re-read.
  *
  * Output: one row per (column, bucket) on the fixed grid, EVERY bucket
  * present (empty buckets n = 0) — (col_name, bin, bin_lo, bin_w, n).
  * Bucket math is the engine-exact q109 contract: identical float64 ops on
  * any engine (`floor((x - lo) / w)` with edge clamping), so a DuckDB
  * replay reproduces counts bit-for-bit. NULLs land in the dedicated
  * bin = -1 bucket (bin_lo NULL) so `sum(n)` = input rows per column and
  * null drift is visible; quantile extraction skips it.
  *
  * One aggregate pass for all columns: values explode to skinny
  * (col_name, bin) rows via `inline` and partial (map-side) aggregation
  * collapses them to at most cols × (bins + 1) groups before any exchange —
  * at 100 TB the shuffle carries only the per-partition partial counts. The
  * fixed grid joins counts FROM the grid side (broadcast of the tiny
  * aggregate), never the data side.
  */
class NumericProfileNode(val specs: Seq[NumericProfileNode.Spec]) extends Node {
  require(specs.nonEmpty, "numeric_profile needs at least one column spec")
  specs.foreach { s =>
    require(s.bins > 0, s"numeric_profile '${s.expr}': bins must be positive")
    require(s.lo < s.hi, s"numeric_profile '${s.expr}': lo must be < hi")
  }
  require(specs.map(_.expr).distinct.size == specs.size,
    "numeric_profile: duplicate column expressions")
  override protected def defaultName: String = "numeric_profile"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("numeric_profile")
  override def jsonParams: Map[String, Any] = Map(
    "cols" -> specs.map(_.expr), "los" -> specs.map(_.lo),
    "his" -> specs.map(_.hi), "bins" -> specs.map(_.bins))

  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    import org.apache.spark.sql.functions.{coalesce, count, lit, when}
    val structs = specs.map { s =>
      // explicit double casts: bare literals parse as DECIMAL, and an
      // integer- or decimal-typed profiled expression would then run
      // exact-decimal bin math (0.05/0.01 floors to 5) while the float64
      // contract (and the DuckDB oracle) expects 4 — cast both operands so
      // the arithmetic is float64 regardless of the column's type
      val clamped = s"least(greatest(cast(floor(((${s.expr}) - cast(${s.lo} as double)) " +
        s"/ cast(${s.w} as double)) as bigint), 0L), ${s.bins - 1}L)"
      s"struct('${SqlLit.esc(s.expr)}' as col_name, " +
        s"case when (${s.expr}) is null then -1L else $clamped end as bin)"
    }.mkString("array(", ", ", ")")
    val counts = in("df").selectExpr(s"inline($structs)")
      .groupBy(col("col_name"), col("bin")).agg(count(lit(1)).as("n"))
    val spark = ctx.spark
    val grid = specs.map { s =>
      spark.range(-1L, s.bins.toLong).select(
        lit(s.expr).as("col_name"), col("id").as("bin"),
        when(col("id") >= 0, lit(s.lo) + col("id") * lit(s.w)).as("bin_lo"),
        lit(s.w).as("bin_w"))
    }.reduce(_.unionByName(_))
    // counts is an aggregate of <= cols x (bins + 1) rows — broadcast it so
    // the fixed-grid completion never shuffles
    Map("result" -> grid.join(broadcast(counts), Seq("col_name", "bin"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L))))
  }
}

object NumericProfileNode {
  /** One profiled column: `expr` binned onto `bins` buckets of width
    * (hi − lo)/bins over [lo, hi); values outside clamp to the edge buckets
    * (the histogram is total), NULLs count under bin −1. */
  case class Spec(expr: String, lo: Double, hi: Double, bins: Int) {
    def w: Double = (hi - lo) / bins
  }
}

/** Merge NumericProfileNode outputs across generations — element-wise
  * bigint addition per (col_name, bin), grid columns carried through. The
  * merge is EXACT (unlike HLL estimates) and the output schema matches the
  * input, so merges re-merge: the generation-tree rollup is associative by
  * integer addition. Work is O(generations × columns × bins) rows; no data
  * is touched. Inputs must share the grid — a col_name whose (bin_lo,
  * bin_w) disagree across inputs means the profiles were built with
  * different configs, and the group-by would silently produce a mixed grid;
  * refused loudly instead.
  */
class ProfileMergeNode() extends Node {
  override protected def defaultName: String = "profile_merge"
  val inputs = Seq(Port("profiles", variadic = true))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("profile_merge")
  override def jsonParams: Map[String, Any] = Map.empty
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    import org.apache.spark.sql.functions.{count_distinct, lit, max, struct, sum}
    val frames = in.seq("profiles")
    if (frames.isEmpty) throw new GraftException("profile_merge needs at least one input")
    val all = frames.zipWithIndex.map { case (f, i) =>
      f.select(col("col_name"), col("bin"), col("bin_lo"), col("bin_w"), col("n"),
        lit(i).as("__src"))
    }.reduce(_.unionByName(_))
    // per-(bin) agreement on (bin_lo, bin_w) catches shifted/rescaled grids,
    // but NOT two grids sharing lo and width with different bin COUNTS
    // ([0,100)×10 vs [0,200)×20 agree on every shared bin) — so also demand
    // every input report the same max(bin) per column (grid size). The size
    // table is profile-sized (inputs × columns rows); broadcast it.
    val sizes = all.groupBy(col("col_name"), col("__src"))
      .agg(max(col("bin")).as("__maxbin"))
      .groupBy(col("col_name"))
      .agg(count_distinct(col("__maxbin")).as("__sizes"))
    val merged = all.groupBy(col("col_name"), col("bin"))
      .agg(expr("max(bin_lo)").as("bin_lo"), expr("max(bin_w)").as("bin_w"),
        sum(col("n")).as("n"),
        // grid agreement: every input must bin this column identically
        count_distinct(struct(col("bin_lo"), col("bin_w"))).as("__grids"))
      .join(broadcast(sizes), Seq("col_name"))
    Map("result" -> merged
      .withColumn("n", expr(
        "case when __grids > 1 or __sizes > 1 then raise_error(concat(" +
          "'profile_merge: column ', col_name, " +
          "' was profiled on mismatched grids')) else n end"))
      .drop("__grids", "__sizes"))
  }
}

/** Quantile extraction from a (possibly merged) numeric profile — the
  * publish-time answer to "p50/p95/p99 of document length across the whole
  * corpus history" without re-reading any generation. Linear interpolation
  * inside the holding bucket: for target rank r = q·n over the non-null
  * buckets, the estimate is bin_lo + bin_w · (r − cum_before)/cnt at the
  * first bucket whose cumulative count reaches r — identical float64 ops on
  * any engine (the q109 contract), so estimates replay exactly; the error
  * bound is the bucket width. Work is O(columns × bins) rows — profile-
  * table-sized, never data-sized. A column whose every value was NULL has
  * no non-empty bucket and emits no rows (nothing to interpolate).
  */
class HistQuantileNode(val quantiles: Seq[Double]) extends Node {
  require(quantiles.nonEmpty, "hist_quantile needs at least one quantile")
  require(quantiles.forall(q => q >= 0.0 && q <= 1.0),
    "hist_quantile: quantiles must be in [0, 1]")
  override protected def defaultName: String = "hist_quantile"
  val inputs = Seq(Port("profile"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("hist_quantile")
  override def jsonParams: Map[String, Any] = Map("quantiles" -> quantiles)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    import org.apache.spark.sql.functions.{row_number, sum, typedlit, explode}
    import org.apache.spark.sql.expressions.Window
    val nonNull = in("profile").filter(col("bin") >= 0)
      .select(col("col_name"), col("bin"), col("bin_lo"), col("bin_w"), col("n"))
    val w = Window.partitionBy(col("col_name")).orderBy(col("bin"))
    val cum = nonNull
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("n_total", sum(col("n")).over(Window.partitionBy(col("col_name"))))
      .filter(col("n") > 0)
    val qs = cum.withColumn("q", explode(typedlit(quantiles)))
      .withColumn("r", col("q") * col("n_total").cast("double"))
      .filter(col("cum").cast("double") >= col("r"))
    val first = Window.partitionBy(col("col_name"), col("q")).orderBy(col("bin"))
    Map("result" -> qs
      .withColumn("__rn", row_number().over(first))
      .filter(col("__rn") === 1)
      .withColumn("est", col("bin_lo") + col("bin_w") *
        ((col("r") - (col("cum") - col("n")).cast("double")) / col("n").cast("double")))
      .select(col("col_name"), col("q"), col("n_total"), col("est")))
  }
}

/** Distribution drift between two numeric profiles (yesterday's generation
  * vs today's, or corpus vs corpus) as TOTAL VARIATION distance — the
  * data-quality gate a daily 100 TB publish runs from profile tables alone.
  * TV = ½ Σ |p_i − q_i| over the shared fixed grid (including the NULL
  * bucket: a null-rate shift IS drift), computed EXACTLY in integer
  * arithmetic: ½ Σ |cnt_a·N_b − cnt_b·N_a| / (N_a·N_b) — the sum is exact
  * decimal(38,0) (no float accumulation order to diverge across engines or
  * partitionings), with ONE correctly-rounded double division at the end.
  * Output per column: (col_name, tv) with tv in [0, 1]; 0 = identical
  * distributions, 1 = disjoint support. Work is O(columns × bins) rows.
  * Columns present in only one side are refused (mismatched profiles),
  * matching ProfileMergeNode's grid contract.
  */
class HistDriftNode() extends Node {
  override protected def defaultName: String = "hist_drift"
  val inputs = Seq(Port("a"), Port("b"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("hist_drift")
  override def jsonParams: Map[String, Any] = Map.empty
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    import org.apache.spark.sql.functions.sum
    def side(p: String, df: DataFrame): DataFrame = {
      val t = df.groupBy(col("col_name"))
        .agg(sum(col("n")).as(s"n_$p"))
      df.select(col("col_name"), col("bin"), col("n").as(s"cnt_$p"))
        .join(broadcast(t), Seq("col_name"))
    }
    val a = side("a", in("a"))
    val b = side("b", in("b"))
    val joined = a.join(b, Seq("col_name", "bin"), "full_outer")
    // a col_name on one side only => its grid rows have nulls on the other
    // side everywhere; the guard lives INSIDE the summed expression (an
    // unreferenced check column would be pruned and never evaluated)
    def guarded(c: String): String =
      s"case when $c is null then raise_error(concat('hist_drift: column ', " +
        s"col_name, ' is not present in both profiles')) else $c end"
    Map("result" -> joined
      .groupBy(col("col_name"))
      .agg(
        sum(expr(s"abs(cast((${guarded("cnt_a")}) as decimal(19,0)) * n_b - " +
          s"cast((${guarded("cnt_b")}) as decimal(19,0)) * n_a)")).as("__tv_num"),
        expr("max(n_a)").as("__na"), expr("max(n_b)").as("__nb"))
      .withColumn("tv", expr(
        // an empty side (zero total rows — e.g. an empty generation) would
        // make tv = 0/0 = NaN, which a `tv > threshold` gate silently
        // neither passes nor fails; refuse the degenerate input loudly
        "case when __na = 0 or __nb = 0 then raise_error(concat(" +
          "'hist_drift: column ', col_name, ' has an empty profile side')) " +
          "else cast(__tv_num as double) / " +
          "(2.0 * cast(__na as double) * cast(__nb as double)) end"))
      .select(col("col_name"), col("tv")))
  }
}

/** Arbitrary SQL over named input ports. The fully general relational node —
  * anything Catalyst can parse.
  *
  * Each port is materialized as a temp view whose PHYSICAL name is suffixed
  * with this node's name + run id, and the user SQL sees the bare port names
  * through an injected CTE prelude (`WITH port AS (SELECT * FROM
  * port__node_runid) ...`). Bare-name views would let two concurrent DAG runs
  * in one session race on `createOrReplaceTempView` and silently rebind a
  * neighbor's SQL to the wrong frame; the suffix makes every invocation's
  * views private. `spark.sql` analyzes eagerly, so the views are dropped
  * again before returning — nothing leaks into the session catalog.
  */
class SqlNode(val sql: String, val ports: Seq[String]) extends Node {
  override protected def defaultName: String = "sql"
  val inputs: Seq[Port] = ports.map(Port(_))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("sql")
  override def jsonParams: Map[String, Any] = Map("sql" -> sql, "ports" -> ports)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    // node names may carry any characters the DSL allows (dashes, dots);
    // view identifiers may not — sanitize the whole suffix, not just the id
    val suffix = s"${name}_${ctx.runId}".replaceAll("[^a-zA-Z0-9_]", "")
    def viewName(p: String) = s"${p}__$suffix"
    ports.foreach(p => in(p).createOrReplaceTempView(viewName(p)))
    try {
      val prelude = ports.map(p => s"$p AS (SELECT * FROM ${viewName(p)})")
        .mkString("WITH ", ", ", " ")
      // merge with a user-level WITH clause: CTE lists are comma-joined
      val trimmed = sql.trim
      val body =
        if (trimmed.length >= 4 && trimmed.substring(0, 4).equalsIgnoreCase("with"))
          prelude.stripSuffix(" ") + ", " + trimmed.substring(4).trim
        else prelude + trimmed
      Map("result" -> ctx.spark.sql(body))
    } finally
      // sql() resolved the plan eagerly; the private views can go right away
      ports.foreach(p => ctx.spark.catalog.dropTempView(viewName(p)))
  }
}
object SqlNode { def apply(sql: String, ports: String*): SqlNode = new SqlNode(sql, ports) }

/** Predicate router — one output PORT per named route: a row lands in the
  * FIRST route whose predicate matches (declaration order), else in the
  * optional `otherwise` port. Routing as TOPOLOGY (per-language sinks,
  * per-source processing branches) instead of a tag column; the multi-output
  * analogue of FilterNode. Null predicates count as non-matches (SQL
  * three-valued logic made deterministic via coalesce). The input is
  * persisted once (Ctx.track) so k branches do not re-execute the upstream
  * lineage k times — EXCEPT when the input is a bare source scan, which is
  * never cached (same reasoning as persistableOutput: re-scanning pruned
  * columnar files beats caching the unpruned full-width frame). Predicates
  * must be DETERMINISTIC: each branch re-evaluates them against the shared
  * input, so a rand()-style predicate would break the disjoint-partition
  * guarantee (a row could land on several ports or none).
  */
class RouterNode(val routes: Seq[(String, String)],
                 val otherwise: Option[String] = Some("otherwise")) extends Node {
  require(routes.nonEmpty, "RouterNode needs at least one route")
  require(routes.map(_._1).distinct.size == routes.size, "route names must be unique")
  require(otherwise.forall(o => !routes.exists(_._1 == o)),
    s"RouterNode: otherwise port '${otherwise.orNull}' collides with a route name — " +
      "the duplicate output would silently swallow that route's rows")
  override protected def defaultName: String = "router"
  val inputs = Seq(Port("df"))
  val outputs: Seq[Port] = routes.map(r => Port(r._1)) ++ otherwise.map(Port(_))
  override def jsonKind: Option[String] = Some("router")
  override def jsonParams: Map[String, Any] = Map(
    "routes" -> routes.map { case (n, p) => Seq[Any](n, p) },
    "otherwise" -> otherwise.orNull)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val raw = in("df")
    val isBareScan = raw.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LeafNode]
    val base = if (isBareScan) raw else ctx.track(raw)
    def notPrior(i: Int): Seq[String] =
      routes.take(i).map { case (_, p) => s"not coalesce(($p), false)" }
    val routed = routes.zipWithIndex.map { case ((nm, pred), i) =>
      nm -> base.filter((s"coalesce(($pred), false)" +: notPrior(i)).mkString(" and "))
    }
    val rest = otherwise.map { nm =>
      nm -> base.filter(notPrior(routes.size).mkString(" and "))
    }
    (routed ++ rest).toMap
  }
}

/** Repartition/coalesce — explicit shuffle control for co-located downstream
  * joins or write sizing.
  */
class RepartitionNode(val n: Int, val byCols: Seq[String] = Nil, val coalesce: Boolean = false,
                      // range = true: repartitionByRange — DISJOINT sorted key
                      // ranges per partition (sampled range boundaries). The
                      // layout that makes per-file min/max stats selective:
                      // a point/range predicate then touches O(1) files
                      // instead of every file (see StatsPrunedSourceNode).
                      val range: Boolean = false) extends Node {
  require(!range || byCols.nonEmpty, "range repartition needs byCols")
  require(!range || !coalesce, "range and coalesce are mutually exclusive")
  override protected def defaultName: String = "repartition"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("repartition")
  override def jsonParams: Map[String, Any] = Map("n" -> n, "byCols" -> byCols, "coalesce" -> coalesce, "range" -> range)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val df = in("df")
    val out =
      if (range) df.repartitionByRange(n, byCols.map(col): _*)
      else if (coalesce) df.coalesce(n)
      else if (byCols.nonEmpty) df.repartition(n, byCols.map(col): _*)
      else df.repartition(n)
    Map("result" -> out)
  }
}

/** Materialization barrier: cut the Catalyst lineage at a pipeline phase
  * boundary. A 50-node curation dag composes into ONE logical plan — ideal
  * for optimization, but past a point planning time grows superlinearly,
  * AQE re-plans the whole history each stage, and any executor loss
  * recomputes from the original scans. Checkpointing at phase boundaries
  * (post-dedup, post-gate) is the standard medicine: downstream plans see
  * a leaf, recovery restarts from the barrier.
  *
  *   - `reliable = false` (default): `localCheckpoint` — executor-stored;
  *     fast, lost on executor death (fine on long-lived clusters).
  *   - `reliable = true`: `checkpoint()` to the SparkContext checkpoint
  *     dir — survives executor loss; requires `setCheckpointDir` on SHARED
  *     storage on a real cluster (same contract as
  *     ConnectedComponentsNode.reliableCheckpoint, enforced the same way).
  *   - `eager = false`: the LAZY analysis barrier — nothing runs at DAG
  *     build; the plan is truncated to a leaf immediately and the
  *     partitions materialize at the first real action. This is the cure
  *     for Catalyst RE-ANALYSIS cost in long composite pipelines: every
  *     derived Dataset re-analyzes its whole logical tree, so an N-stage
  *     chain pays quadratically growing DRIVER time — the q124 flagship
  *     spent more time analyzing plans than executing them (sf0.1 A/B:
  *     19.5 s plain, 7.0 s with two lazy barriers). Place AFTER
  *     expensive multi-operator blocks whose output feeds several more
  *     stages; a barrier blocks pushdown across it, so truncate after
  *     filters, not before.
  *
  * The output is the SAME rows — q110 pins identity against a plain oracle
  * and PlanSpec pins that downstream plans contain no upstream scan.
  * Streaming frames are refused loudly (a streaming plan cannot be
  * checkpointed mid-query — put the barrier inside the per-micro-batch
  * logic instead). The output never re-persists at a fan-out: it IS
  * materialized storage already.
  */
class CheckpointNode(val reliable: Boolean = false,
                     val eager: Boolean = true) extends Node {
  override protected def defaultName: String = "checkpoint"
  override def persistableOutput: Boolean = false
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("checkpoint")
  override def jsonParams: Map[String, Any] =
    Map("reliable" -> reliable, "eager" -> eager)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val df = in("df")
    if (df.isStreaming)
      throw new GraftException(
        s"checkpoint '$name': cannot checkpoint a streaming frame mid-" +
          "query — place the barrier inside the per-micro-batch logic")
    val out =
      if (reliable) {
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) {
          if (!sc.isLocal)
            throw new GraftException(
              s"checkpoint '$name': reliable=true requires sparkContext." +
                "setCheckpointDir on SHARED storage (HDFS/S3) when running " +
                "on a cluster — a driver-local default would not survive " +
                "executor loss")
          sc.setCheckpointDir(
            java.nio.file.Files.createTempDirectory("graft_ckpt_").toString)
        }
        df.checkpoint(eager)
      } else df.localCheckpoint(eager)
    Map("result" -> out)
  }
}

/** Z-order clustering: compute a 2-D Morton key over two integer-ish
  * dimensions (compiled `morton2` expression — 31 bits each, positive
  * 62-bit key) and RANGE-partition + sort the data by it. Rows close in
  * EITHER dimension land in the same files, so min-max statistics prune
  * scans for predicates on either column — the lakehouse multi-dimensional
  * clustering pass a 100 TB corpus runs before writing partitioned parquet
  * (point lookups and range scans touch a few files instead of all).
  *
  * Scale shape: one narrow key computation + one range shuffle (the same
  * cost as any global repartition — this node IS the write-layout pass, it
  * adds nothing on top). `partitions = None` keeps the session shuffle
  * parallelism.
  */
class ZOrderNode(
    val colA: String,
    val colB: String,
    val outCol: String = "zkey",
    val partitions: Option[Int] = None,
    val keepKey: Boolean = true,
    // third clustering dimension (morton3: 21 bits per dim, 63-bit key) —
    // the tenant x time x shard layout; None keeps the 2-D morton2 path
    val colC: Option[String] = None)
  extends Node {
  override protected def defaultName: String = "zorder"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("zorder")
  override def jsonParams: Map[String, Any] = Map("colA" -> colA, "colB" -> colB,
    "outCol" -> outCol, "partitions" -> partitions.map(_.toString).orNull,
    "keepKey" -> keepKey, "colC" -> colC.orNull)

  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    graft.functions.VecFunctions.register(ctx.spark)
    graft.functions.VecFunctions.register(in("df").sparkSession)
    val keyExpr = colC match {
      case Some(c) =>
        s"morton3(cast($colA as bigint), cast($colB as bigint), cast($c as bigint))"
      case None => s"morton2(cast($colA as bigint), cast($colB as bigint))"
    }
    val keyed = in("df").withColumn(outCol, expr(keyExpr))
    val ranged = partitions match {
      case Some(n) => keyed.repartitionByRange(n, col(outCol))
      case None    => keyed.repartitionByRange(col(outCol))
    }
    val sorted = ranged.sortWithinPartitions(outCol)
    Map("result" -> (if (keepKey) sorted else sorted.drop(outCol)))
  }
}
