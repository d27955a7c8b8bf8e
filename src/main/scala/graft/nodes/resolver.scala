package graft.nodes

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Schema resolution for file datasets, once per file set.
  *
  * A plain `read.format(f).load(p)` of parquet (or orc/json/csv/avro/xml)
  * runs a Spark job that only infers the schema: one footer, every footer
  * under `mergeSchema`, a full scan for the text formats. A DAG re-reads
  * its sources on every run, so a long-lived driver pays that job per
  * source per run although the files did not change.
  *
  * The resolver keeps the inferred schema per read, keyed by the paths,
  * the format, the reader options and every session conf inference
  * consults. A cached read loads with that schema as the user schema —
  * Spark's own `DataFrameReader`, which lists the files as always but
  * infers nothing — and then checks the relation's file listing (path,
  * length, mtime of every leaf file, hashed) against the one the schema
  * was inferred from. A changed file set falls back to a plain inferring
  * load and replaces the entry; so a hit returns exactly the schema
  * inference would, and only a changed file set lists twice.
  *
  * The cache is a fixed-size LRU from a hash of the key to (schema,
  * listing hash), so an entry's size does not grow with the file count.
  * Reads that do not build a listing-backed file relation are not cached. */
private[graft] object DatasetResolver {
  private val MaxEntries = 512
  /** Formats whose load infers a schema from the files. */
  private val Inferring = Set("parquet", "orc", "json", "csv", "avro", "xml")
  /** Session confs schema inference (and the partition-column inference
    * beside it) reads. */
  private val ConfPrefixes = Seq("spark.sql.parquet.", "spark.sql.orc.",
    "spark.sql.json.", "spark.sql.csv.", "spark.sql.avro.", "spark.sql.files.",
    "spark.sql.sources.", "spark.sql.legacy.")
  private val ConfKeys = Set("spark.sql.caseSensitive", "spark.sql.session.timeZone",
    "spark.sql.timestampType", "spark.sql.columnNameOfCorruptRecord")

  private final case class Entry(schema: StructType, listing: String)

  private val cache = new java.util.LinkedHashMap[String, Entry](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Entry]): Boolean =
      size() > MaxEntries
  }

  /** `spark.read.format(format).options(options).load(paths: _*)`, with
    * the schema inferred at most once per unchanged file set. */
  def load(spark: SparkSession, format: String, paths: Seq[String],
           options: Map[String, String] = Map.empty): DataFrame = {
    def reader = spark.read.format(format).options(options)
    if (!Inferring(format.toLowerCase(java.util.Locale.ROOT))) return reader.load(paths: _*)
    val confs = spark.conf.getAll.filter { case (k, _) =>
      ConfKeys(k) || ConfPrefixes.exists(k.startsWith) }
    val key = digest(format +: (paths.map("p\u0001" + _) ++
      options.toSeq.sorted.map { case (k, v) => s"o\u0001$k\u0001$v" } ++
      confs.toSeq.sorted.map { case (k, v) => s"c\u0001$k\u0001$v" }))
    val hit = cache.synchronized(Option(cache.get(key))).flatMap { e =>
      val df = reader.schema(e.schema).load(paths: _*)
      if (listing(df).contains(e.listing)) Some(df) else None
    }
    hit.getOrElse {
      val df = reader.load(paths: _*)
      listing(df).foreach(l => cache.synchronized(cache.put(key, Entry(df.schema, l))))
      df
    }
  }

  def load(spark: SparkSession, format: String, path: String): DataFrame =
    load(spark, format, Seq(path))

  /** Hash of the leaf files of the relation `df` was loaded as, taken from
    * the file index Spark built for it (no second listing). */
  private def listing(df: DataFrame): Option[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation
    }.collect {
      case HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _) =>
        digest(index.allFiles().map(f => s"${f.getPath}\u0001${f.getLen}\u0001${f.getModificationTime}").sorted)
    }
  }

  /** SHA-256 of the NUL-terminated strings. */
  private def digest(parts: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update((p + "\u0000").getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    java.util.HexFormat.of().formatHex(md.digest())
  }
}
