package graft.nodes

import graft.dag._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}

/** Text-analysis nodes for LLM-data pipelines (north-star scope, SURVEY.md
  * §2.2). Everything is built from codegen'd `org.apache.spark.sql.functions`
  * expressions — no UDFs — so whole-stage codegen spans the full pipeline and
  * the work distributes embarrassingly (narrow, per-row transforms; zero
  * shuffles at 100 TB).
  */
object TextExprs {
  /** Lowercased whitespace tokens of `c`. */
  def tokensExpr(c: String): String = s"split(lower(trim($c)), '\\\\s+')"
  /** Word n-gram shingles over a token array column. slice() is 1-based. */
  def shinglesExpr(tokens: String, n: Int): String =
    s"transform(sequence(0, greatest(size($tokens) - $n, 0)), i -> concat_ws(' ', slice($tokens, i + 1, $n)))"
}

/** THE engine-portable deterministic hash: first 8 md5 hex chars of the
  * stringified id, as a bigint. Every cross-engine-reproducible contract in
  * the library — splits, samples, quantizer-fit sampling, audit-corpus
  * selection, restart staging — derives from this one expression, and its
  * DuckDB mirror is `cast('0x' || substring(md5(cast(x as varchar)), 1, 8)
  * as ubigint)`. All call sites MUST go through this helper: a byte-level
  * divergence at any site silently breaks a determinism contract somewhere
  * else (seeded samplers are no substitute — they are partition-order-
  * dependent and engine-specific).
  */
object DetHash {
  def expr(col: String): String =
    s"cast(conv(substring(md5(cast($col as string)), 1, 8), 16, 10) as bigint)"
  def modExpr(col: String, mod: Long): String = s"${expr(col)} % $mod"
  /** THE DuckDB mirror of [[modExpr]] (oracle side; `col` must already be a
    * varchar expression there). One definition — queries must not re-derive
    * it, or the two arithmetics can silently diverge.
    */
  def duckExpr(col: String, mod: Long): String =
    s"cast(cast('0x' || substring(md5($col), 1, 8) as ubigint) % $mod as bigint)"
}

/** Spark SQL single-quoted string-literal escaping — shared by every node
  * that bakes user-supplied strings into a generated expression. */
object SqlLit {
  def esc(v: String): String = v.replace("\\", "\\\\").replace("'", "\\'")
}

/** Tokenize + count tokens two ways: whitespace tokens and a BPE-ish regex
  * (word pieces + standalone punctuation), the standard proxy for LLM token
  * budgeting. Pure narrow map — no shuffle.
  */
class TokenCountNode(val textCol: String = "text") extends Node {
  override protected def defaultName: String = "token_count"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("token_count")
  override def jsonParams: Map[String, Any] = Map("textCol" -> textCol)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] =
    // one select, not chained withColumn: every Dataset creation re-analyzes
    // the whole upstream plan, and this node sits deep in long chains
    Map("result" -> in("df").select(col("*"),
      expr(s"size(${TextExprs.tokensExpr(textCol)})").as("ws_tokens"),
      expr(s"size(regexp_extract_all($textCol, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\\\s]', 0))").as("bpe_tokens")))
}

/** Heuristic quality scoring: length, punctuation/digit/whitespace ratios,
  * mean word length, stopword ratio — the cheap filters applied before
  * expensive dedup/model scoring in a training-data pipeline. Narrow map.
  */
class QualityScoreNode(val textCol: String = "text", val stopwords: Seq[String] = QualityScoreNode.enStop)
  extends Node {
  override protected def defaultName: String = "quality_score"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("quality_score")
  override def jsonParams: Map[String, Any] = Map("textCol" -> textCol, "stopwords" -> stopwords)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val toks = TextExprs.tokensExpr(textCol)
    val stopArr = stopwords.map(s => s"'$s'").mkString("array(", ", ", ")")
    // independent columns -> ONE select (each chained withColumn would
    // re-analyze the whole upstream plan; this node sits in long chains)
    Map("result" -> in("df").select(col("*"),
      expr(s"length($textCol)").as("n_chars_m"),
      expr(s"size($toks)").as("n_tokens"),
      expr(
        s"cast(length(regexp_replace($textCol, '\\\\s+', '')) as double) / greatest(size($toks), 1)")
        .as("mean_word_len"),
      expr(
        s"cast(length($textCol) - length(regexp_replace($textCol, '[^a-zA-Z0-9\\\\s]', '')) as double) / greatest(length($textCol), 1)")
        .as("punct_ratio"),
      expr(
        s"cast(length($textCol) - length(regexp_replace($textCol, '[0-9]', '')) as double) / greatest(length($textCol), 1)")
        .as("digit_ratio"),
      expr(
        s"cast(size(filter($toks, t -> array_contains($stopArr, t))) as double) / greatest(size($toks), 1)")
        .as("stopword_ratio")))
  }
}
object QualityScoreNode {
  val enStop = Seq("the", "a", "an", "of", "to", "in", "and", "is", "for", "on", "with", "as", "by", "at")
}

/** The Gopher/C4-style heuristic quality-rule battery — the cheap,
  * full-corpus gate every training-data pipeline runs before anything
  * expensive (dedup, model scoring): word-count bounds, mean-word-length
  * bounds, symbol-to-word ratio (#/ellipsis spam), bullet- and
  * ellipsis-line fractions, alphabetic-word fraction, and a required-
  * stopword hit count (Rae et al. 2021 §A1.1.2; Raffel et al. 2020 §2.2).
  * Emits one boolean per rule plus the conjunction (`keep`) so downstream
  * can either filter (`keepOnly = true`) or audit WHY documents fail —
  * per-rule rejection rates are the first thing a curation run reports.
  * All rules are codegen'd builtin expressions over one tokenization; a
  * pure narrow map, zero shuffle at any scale.
  */
class HeuristicFilterNode(
    val textCol: String = "text",
    val minWords: Int = 50,
    val maxWords: Int = 100000,
    val minMeanWordLen: Double = 3.0,
    val maxMeanWordLen: Double = 10.0,
    val maxSymbolRatio: Double = 0.1,
    val maxBulletFrac: Double = 0.9,
    val maxEllipsisFrac: Double = 0.3,
    val minAlphaWordFrac: Double = 0.8,
    val minStopwordHits: Int = 2,
    val stopwords: Seq[String] = HeuristicFilterNode.gopherStop,
    val keepOnly: Boolean = false)
  extends Node {
  require(minWords <= maxWords, "minWords must be <= maxWords")
  require(minMeanWordLen <= maxMeanWordLen, "minMeanWordLen must be <= maxMeanWordLen")
  override protected def defaultName: String = "heuristic_filter"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("heuristic_filter")
  override def jsonParams: Map[String, Any] = Map("textCol" -> textCol,
    "minWords" -> minWords, "maxWords" -> maxWords,
    "minMeanWordLen" -> minMeanWordLen, "maxMeanWordLen" -> maxMeanWordLen,
    "maxSymbolRatio" -> maxSymbolRatio, "maxBulletFrac" -> maxBulletFrac,
    "maxEllipsisFrac" -> maxEllipsisFrac, "minAlphaWordFrac" -> minAlphaWordFrac,
    "minStopwordHits" -> minStopwordHits, "stopwords" -> stopwords,
    "keepOnly" -> keepOnly)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val stopArr = stopwords.map(s => s"'${SqlLit.esc(s)}'").mkString("array(", ", ", ")")
    // ratios are int/int divisions in double — a single correctly-rounded
    // float64 any engine reproduces bit-exactly (the q78-q82 contract).
    // Three batched selects, not 11 chained withColumns: every Dataset
    // creation re-analyzes the whole upstream plan, and this gate fronts
    // every long curation chain (q89/q124/q132).
    val base = in("df")
    val toksed = base.select(col("*"),
      expr(TextExprs.tokensExpr(textCol)).as("__toks"),
      expr(s"split($textCol, '\\n')").as("__lines"))
    val metrics = toksed.select(col("*"),
      expr("size(__toks)").as("n_words"),
      expr(s"cast(length(regexp_replace($textCol, '\\\\s+', '')) as double) / greatest(size(__toks), 1)")
        .as("mean_word_len"),
      expr(s"cast(size(regexp_extract_all($textCol, '#|\\\\.\\\\.\\\\.|…', 0)) as double) / greatest(size(__toks), 1)")
        .as("symbol_ratio"),
      expr("cast(size(filter(__lines, l -> l rlike '^\\\\s*[-*•]')) as double) / greatest(size(__lines), 1)")
        .as("bullet_frac"),
      expr("cast(size(filter(__lines, l -> l rlike '(\\\\.\\\\.\\\\.|…)\\\\s*$')) as double) / greatest(size(__lines), 1)")
        .as("ellipsis_frac"),
      expr("cast(size(filter(__toks, t -> t rlike '[a-z]')) as double) / greatest(size(__toks), 1)")
        .as("alpha_word_frac"),
      expr(s"size(array_intersect(array_distinct(__toks), $stopArr))").as("stop_hits"))
    val metricNames = Seq("n_words", "mean_word_len", "symbol_ratio", "bullet_frac",
      "ellipsis_frac", "alpha_word_frac", "stop_hits")
    val keepExpr = expr(
      s"""n_words >= $minWords and n_words <= $maxWords
         | and mean_word_len >= ${minMeanWordLen}D and mean_word_len <= ${maxMeanWordLen}D
         | and symbol_ratio <= ${maxSymbolRatio}D
         | and bullet_frac <= ${maxBulletFrac}D
         | and ellipsis_frac <= ${maxEllipsisFrac}D
         | and alpha_word_frac >= ${minAlphaWordFrac}D
         | and stop_hits >= $minStopwordHits""".stripMargin.replace("\n", ""))
    val visible = (base.columns.toSeq ++ metricNames).map(col)
    Map("result" ->
      (if (keepOnly) metrics.filter(keepExpr).select(visible: _*)
       else metrics.select(visible :+ keepExpr.as("keep"): _*)))
  }
}
object HeuristicFilterNode {
  /** Gopher's required-stopword list (Rae et al. 2021 §A1.1.2). */
  val gopherStop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
}

/** Corpus-vocabulary OOV scoring — the frequency-based cousin of a
  * perplexity filter that stays engine-exact: `fit` learns the top
  * `maxVocab` tokens by document frequency (ties broken by token, so the
  * vocabulary is a deterministic function of the corpus), `transform`
  * scores every document by the fraction of its token OCCURRENCES outside
  * that vocabulary. Documents full of rare/garbled tokens score high and
  * get filtered (`maxOovFrac`); the vocabulary itself is reusable fitted
  * state (weight sharing, save/load) like any estimator.
  *
  * Scale shape: the fit is one explode + groupBy + TakeOrdered capped at
  * `maxVocab` rows of driver state (a bounded model, like centroids — NOT
  * corpus-sized); the transform broadcasts the vocabulary against the
  * exploded corpus and groups once on the doc id. One shuffle each side.
  */
class VocabFilterNode(
    val idCol: String = "doc_id",
    val textCol: String = "text",
    val minDf: Long = 2L,
    val maxVocab: Int = 65536,
    val maxOovFrac: Double = 1.0) // 1.0 = annotate only, never drop
  extends EstimatorNode {
  type Model = Seq[String]
  require(maxVocab > 0, "maxVocab must be positive")
  require(maxOovFrac >= 0 && maxOovFrac <= 1, "maxOovFrac must be in [0, 1]")
  override protected def defaultName: String = "vocab_filter"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("vocab_filter")
  override def jsonParams: Map[String, Any] = Map("idCol" -> idCol, "textCol" -> textCol,
    "minDf" -> minDf, "maxVocab" -> maxVocab, "maxOovFrac" -> maxOovFrac)

  /** The vocabulary learned by the last fit (spec/audit diagnostic). */
  @volatile var lastVocab: Seq[String] = Nil

  def fitModel(ctx: Ctx, in: In): Model = {
    import org.apache.spark.sql.functions.{count, lit}
    // one distinct token row per (doc, token) → count(*) IS the doc frequency
    val vocab = in("df")
      .select(expr(s"explode(array_distinct(${TextExprs.tokensExpr(textCol)}))").as("__tok"))
      .groupBy("__tok").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
      .orderBy(col("__df").desc, col("__tok").asc) // total order → deterministic cut
      .limit(maxVocab)
      .select("__tok").collect().map(_.getString(0)).toSeq
    lastVocab = vocab
    vocab
  }

  def applyModel(vocab: Model, ctx: Ctx, in: In): Map[String, DataFrame] = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, count, lit, sum, when}
    val spark = ctx.spark
    import spark.implicits._
    val vdf = vocab.toDF("__tok").withColumn("__in_vocab", lit(1))
    // the input feeds both the explode side and the final join-back: persist
    // unless it is a bare scan (re-reading pruned parquet beats pinning it)
    val raw = in("df")
    val base = if (raw.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LeafNode]) raw
    else ctx.track(raw)
    val occurrences = base
      .select(col(idCol), expr(s"explode(${TextExprs.tokensExpr(textCol)})").as("__tok"))
    val perDoc = occurrences.join(broadcast(vdf), Seq("__tok"), "left")
      .groupBy(idCol).agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
    val scored = base.join(perDoc, Seq(idCol), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
      .withColumn("n_oov", coalesce(col("n_oov"), lit(0L)))
      .withColumn("oov_frac", expr("cast(n_oov as double) / greatest(n_tokens, 1L)"))
    Map("result" ->
      (if (maxOovFrac >= 1.0) scored else scored.filter(col("oov_frac") <= maxOovFrac)))
  }
}

/** Trained byte-pair-encoding tokenizer (Sennrich et al. 2016,
  * arXiv:1508.07909) — the real subword tokenizer of an LLM pipeline, as an
  * estimator: `fit` learns `numMerges` merge rules from corpus word
  * frequencies, `transform` applies them everywhere through the compiled
  * [[graft.functions.BpeEncode]] kernel (a narrow map — zero shuffle at any
  * scale).
  *
  * Scale shape mirrors every real tokenizer trainer: TRAINING is a bounded
  * single-node job — a deterministic md5-mod document sample (`maxFitRows`)
  * feeds one explode + groupBy + TakeOrdered that collects at most
  * `maxWordTypes` (word, count) rows of driver state, and the merge loop
  * runs locally on that table; APPLICATION is the distributed part. The
  * learned merge list is a bounded model (like centroids or the OOV vocab),
  * reusable via weight sharing and save/load.
  */
class BpeTokenizerNode(
    val idCol: String = "doc_id",
    val textCol: String = "text",
    val numMerges: Int = 200,
    val maxFitRows: Long = 10000L,
    val maxWordTypes: Int = 50000,
    val outCol: String = "bpe_tokens",
    // known corpus size (catalog stats / prior listener count) skips the
    // fit-time sizing count() — at 100 TB that count is a full scan before
    // the fit even starts (same pattern as NgramJaccardNode; ADVICE r5)
    val corpusSizeHint: Option[Long] = None)
  extends EstimatorNode {
  type Model = Seq[String]
  require(numMerges >= 0, "numMerges must be >= 0")
  require(maxFitRows > 0 && maxWordTypes > 0, "fit caps must be positive")
  override protected def defaultName: String = "bpe_tokenizer"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("bpe_tokenizer")
  override def jsonParams: Map[String, Any] = Map("idCol" -> idCol, "textCol" -> textCol,
    "numMerges" -> numMerges, "maxFitRows" -> maxFitRows,
    "maxWordTypes" -> maxWordTypes, "outCol" -> outCol,
    "corpusSizeHint" -> corpusSizeHint.map(_.toString).orNull)

  /** Merge rules learned by the last fit (spec/audit diagnostic). */
  @volatile var lastMerges: Seq[String] = Nil

  def fitModel(ctx: Ctx, in: In): Model = {
    import org.apache.spark.sql.functions.{count, lit}
    val docs = in("df")
    val n = corpusSizeHint.getOrElse(docs.count())
    val mod = math.max(1L, (n + maxFitRows - 1L) / maxFitRows)
    val sampled = if (mod <= 1L) docs
      else docs.filter(expr(s"${DetHash.modExpr(idCol, mod)} = 0"))
    // corpus word-OCCURRENCE counts (BPE trains on term frequency), capped
    // to the maxWordTypes most frequent types under a total order
    val wordFreq = sampled
      .select(expr(s"explode(${TextExprs.tokensExpr(textCol)})").as("__w"))
      .filter(s"__w <> '' and length(__w) <= ${graft.functions.BpeEncode.maxWordChars}")
      .groupBy("__w").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__w").asc)
      .limit(maxWordTypes)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val merges = graft.functions.BpeTrain.train(wordFreq, numMerges)
    lastMerges = merges
    merges
  }

  def applyModel(merges: Model, ctx: Ctx, in: In): Map[String, DataFrame] = {
    // merge lines never contain whitespace beyond the single pair separator,
    // so a newline-joined SQL string literal carries the table losslessly
    val lit = merges.mkString("\n").replace("\\", "\\\\").replace("'", "\\'")
    Map("result" -> in("df")
      .withColumn(outCol, expr(s"bpe_encode($textCol, '$lit')"))
      .withColumn("n_bpe_tokens", expr(s"size($outCol)")))
  }

  /** Export the fitted tokenizer in the PUBLIC two-file interchange layout
    * (`vocab.json` token→id map + `merges.txt` ranked pair list — the
    * GPT-2/RoBERTa convention every training stack reads), so the trained
    * artifact leaves the pipeline without a bespoke loader (VERDICT r6).
    * The vocabulary is derived deterministically from the merge table
    * alone: the base alphabet is every pair symbol never produced by a
    * merge (sorted), followed by one merged token per rank — so
    * export → [[importPublic]] round-trips the model byte-exactly.
    * Hadoop FS paths (hdfs:///s3a://) work like local ones.
    */
  def exportPublic(dir: String): Unit = {
    val merges = fitted
    BpeTokenizerNode.writePublic(dir, merges)
  }

  /** Load a public-format tokenizer (the [[exportPublic]] layout) as this
    * node's fitted model. Only `merges.txt` is authoritative — the vocab is
    * a pure function of it (see exportPublic) and is re-derived, not read.
    */
  def importPublic(dir: String): Unit = {
    model = Some(BpeTokenizerNode.readMerges(dir))
    lastMerges = model.get
  }
}

object BpeTokenizerNode {
  /** (alphabet, merged tokens) derived from a merge table: alphabet = pair
    * symbols never produced by an earlier merge, sorted for determinism. */
  def derivedVocab(merges: Seq[String]): Seq[String] = {
    val produced = scala.collection.mutable.Set[String]()
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    merges.foreach { line =>
      val sp = line.indexOf(' ')
      if (sp > 0) {
        val a = line.substring(0, sp); val b = line.substring(sp + 1)
        seen += a; seen += b
        produced += (a + b)
      }
    }
    val alphabet = (seen -- produced).toSeq.sorted
    alphabet ++ merges.collect {
      case line if line.indexOf(' ') > 0 =>
        val sp = line.indexOf(' ')
        line.substring(0, sp) + line.substring(sp + 1)
    }
  }

  private def jsonEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.toString
  }

  private def fs(dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p, p.getFileSystem(new org.apache.hadoop.conf.Configuration()))
  }

  def writePublic(dir: String, merges: Seq[String]): Unit = {
    val (root, hfs) = fs(dir)
    hfs.mkdirs(root)
    def write(name: String, content: String): Unit = {
      val out = hfs.create(new org.apache.hadoop.fs.Path(root, name), true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    write("merges.txt", "#version: 0.2\n" + merges.mkString("\n") + "\n")
    val vocab = derivedVocab(merges)
    write("vocab.json", vocab.zipWithIndex
      .map { case (t, i) => s""""${jsonEscape(t)}": $i""" }
      .mkString("{", ", ", "}"))
  }

  def readMerges(dir: String): Seq[String] = {
    val (root, hfs) = fs(dir)
    val in = hfs.open(new org.apache.hadoop.fs.Path(root, "merges.txt"))
    val content = try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, "UTF-8")
    } finally in.close()
    content.linesIterator
      .filterNot(l => l.startsWith("#") || l.isEmpty)
      .toSeq
  }
}

/** Intra-document repetition scoring (the Gopher-style repetition quality
  * rule): the fraction of duplicate word n-grams inside each document —
  * boilerplate, keyword stuffing, and degenerate generations score high and
  * get filtered before they poison a training mix. Computed on HASHED
  * shingles (compiled `shingle_hashes` kernel — one pass, codegen, identical
  * distinct-counts to string shingles absent xxhash64 collisions); a pure
  * narrow map, zero shuffle at any scale.
  */
class RepetitionScoreNode(
    val textCol: String = "text",
    val ns: Seq[Int] = Seq(2, 3))
  extends Node {
  require(ns.nonEmpty && ns.forall(_ >= 1), "ns must be non-empty positive n-gram sizes")
  override protected def defaultName: String = "repetition_score"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("repetition_score")
  override def jsonParams: Map[String, Any] = Map("textCol" -> textCol, "ns" -> ns)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val base = in("df").withColumn("__toks", expr(TextExprs.tokensExpr(textCol)))
    val out = ns.foldLeft(base) { (d, n) =>
      // dedup=false: the duplicate fraction needs the positional MULTISET
      // (the 2-arg form returns the distinct set and would make it 0)
      d.withColumn(s"__sh$n", expr(s"shingle_hashes(__toks, $n, false)"))
        .withColumn(s"dup${n}gram_frac", expr(
          s"1.0D - cast(size(array_distinct(__sh$n)) as double) / greatest(size(__sh$n), 1)"))
        .drop(s"__sh$n")
    }
    Map("result" -> out.drop("__toks"))
  }
}

/** Benchmark decontamination: for each document, the fraction of its
  * distinct word n-grams that also occur anywhere in a benchmark/eval set —
  * train/test overlap that MUST be caught before training. Scale shape: the
  * benchmark's distinct shingle-hash set is small by definition (eval sets,
  * not corpora) and broadcasts; docs explode their distinct shingles once
  * and equi-join against it — per-doc match counts come back on one groupBy
  * keyed by doc id. No cross product, no driver state; the corpus side is
  * one narrow pass + one shuffle on the doc id.
  */
class ContaminationNode(
    val idCol: String = "doc_id",
    val textCol: String = "text",
    val benchTextCol: String = "text",
    val shingleN: Int = 3,
    val minOverlap: Double = 0.0) // keep only docs at/above this fraction
  extends Node {
  override protected def defaultName: String = "contamination"
  val inputs = Seq(Port("docs"), Port("benchmark"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("contamination")
  override def jsonParams: Map[String, Any] = Map("idCol" -> idCol, "textCol" -> textCol,
    "benchTextCol" -> benchTextCol, "shingleN" -> shingleN, "minOverlap" -> minOverlap)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    import org.apache.spark.sql.functions.broadcast
    // batched selects throughout (each Dataset creation re-analyzes the
    // whole upstream plan; this node sits inside the flagship chains)
    val bench = in("benchmark")
      .select(expr(s"explode(array_distinct(shingle_hashes(${TextExprs.tokensExpr(benchTextCol)}, $shingleN)))").as("__sh"))
      .distinct()
    val docSh = ctx.track(in("docs")
      .select(col(idCol),
        expr(s"array_distinct(shingle_hashes(${TextExprs.tokensExpr(textCol)}, $shingleN))").as("__sh_set"))
      .filter("size(__sh_set) > 0")
      .select(col(idCol), expr("size(__sh_set)").as("n_shingles"), col("__sh_set")))
    val matched = docSh
      .select(col(idCol), expr("explode(__sh_set)").as("__sh"))
      .join(broadcast(bench), Seq("__sh"))
      .groupBy(idCol).agg(expr("count(*) as n_matched"))
    Map("result" -> docSh.select(col(idCol), col("n_shingles"))
      .join(matched, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        expr("coalesce(n_matched, 0L)").as("n_matched"),
        expr("cast(coalesce(n_matched, 0L) as double) / n_shingles").as("overlap_frac"))
      .filter(s"overlap_frac >= $minOverlap"))
  }
}

/** Language identification by stopword-hit scoring: count tokens that appear
  * in each language's marker list, predict the argmax (first-listed language
  * wins ties). A real system would use char n-gram profiles; the structure —
  * narrow map over tokens with a broadcast-size marker table baked into the
  * expression — is identical at any scale.
  */
class LangIdNode(val textCol: String = "text", val markers: Seq[(String, Seq[String])] = LangIdNode.defaultMarkers)
  extends Node {
  override protected def defaultName: String = "lang_id"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("lang_id")
  override def jsonParams: Map[String, Any] =
    Map("textCol" -> textCol, "markers" -> markers.map { case (l, ws) => Seq[Any](l, ws) })
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    // batched selects, not per-language withColumns (plan re-analysis per
    // Dataset creation — this node sits inside the long curation chains)
    val base = in("df")
    val toksed = base.select(col("*"), expr(TextExprs.tokensExpr(textCol)).as("__toks"))
    val scoreCols = markers.map { case (lang, words) =>
      val arr = words.map(w => s"'$w'").mkString("array(", ", ", ")")
      expr(s"size(filter(__toks, t -> array_contains($arr, t)))").as(s"__score_$lang")
    }
    val scored = toksed.select(col("*") +: scoreCols: _*)
    // argmax via greatest + case-when chain (ties resolve in declaration order)
    val best = markers.map { case (lang, _) => s"__score_$lang" }.mkString("greatest(", ", ", ")")
    val pick = markers.map { case (lang, _) => s"when __score_$lang = __best then '$lang'" }
      .mkString("case ", " ", " end")
    Map("result" -> scored
      .select(col("*"), expr(best).as("__best"))
      .select(base.columns.map(col) :+
        expr(s"case when __best = 0 then 'und' else $pick end").as("pred_lang"): _*))
  }
}
object LangIdNode {
  /** Marker stopwords per language (public common function words). */
  val defaultMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "for", "with", "on"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "mit", "für", "von", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "pour", "avec", "dans"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "para", "con"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "他", "这", "中"),
  )
}

/** Deterministic dataset splitting (train/val/test) by HASH, not by random
  * sampler: a row's split is a pure function of its id (md5 hex prefix mod
  * 100 against cumulative percent buckets), so the assignment is stable
  * across runs, engines, partitionings, and scale — the property a 100 TB
  * training-data pipeline actually needs (seeded samplers are partition-
  * order-dependent and irreproducible across engines). Narrow map, zero
  * shuffle; any engine that can md5 reproduces the split exactly.
  */
class SplitNode(
    val idCol: String = "doc_id",
    val splits: Seq[(String, Int)] = Seq("train" -> 90, "val" -> 5, "test" -> 5),
    val outCol: String = "split")
  extends Node {
  require(splits.map(_._2).sum == 100, "split percents must sum to 100")
  override protected def defaultName: String = "split"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("split")
  override def jsonParams: Map[String, Any] = Map("idCol" -> idCol, "outCol" -> outCol,
    "splits" -> splits.map { case (n, p) => Seq[Any](n, p) })
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    // bucket = first 8 md5 hex chars as int mod 100 — identical arithmetic
    // in any engine with md5 + conv
    val bucket = DetHash.modExpr(idCol, 100)
    val cuts = splits.scanLeft(0) { case (acc, (_, p)) => acc + p }.tail
    val cases = splits.zip(cuts).map { case ((nm, _), hi) => s"when __b < $hi then '$nm'" }
      .mkString("case ", " ", " end")
    Map("result" -> in("df")
      .withColumn("__b", expr(bucket))
      .withColumn(outCol, expr(cases))
      .drop("__b"))
  }
}

/** Deterministic (optionally stratified) sampling by id-hash, the sibling of
  * [[SplitNode]]: keep a row iff its md5-prefix mod 1e6 falls under the
  * stratum's threshold. Reproducible across runs, engines, partitionings,
  * and scale (unlike `df.sample`, whose output depends on partition layout);
  * a pure narrow filter — zero shuffle, pushes to the scan. Stratified form:
  * `strataCol` + per-value `fractions` (unlisted values fall back to
  * `fraction`) — the standard way to downsample dominant languages/sources
  * while keeping rare strata whole in a training-data mix.
  */
class SampleNode(
    val idCol: String = "doc_id",
    val fraction: Double = 0.1,
    val strataCol: Option[String] = None,
    val fractions: Seq[(String, Double)] = Nil)
  extends Node {
  require(fraction >= 0 && fraction <= 1, "fraction must be in [0, 1]")
  require(fractions.forall { case (_, f) => f >= 0 && f <= 1 }, "fractions must be in [0, 1]")
  override protected def defaultName: String = "sample"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("sample")
  override def jsonParams: Map[String, Any] = Map("idCol" -> idCol, "fraction" -> fraction,
    "strataCol" -> strataCol.orNull,
    "fractions" -> fractions.map { case (k, f) => Seq[Any](k, f) })
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    // same engine-portable hash as SplitNode, at 1e6 resolution
    val h = DetHash.modExpr(idCol, 1000000)
    def thr(f: Double): Long = math.round(f * 1000000.0)
    val cut = strataCol match {
      case None => thr(fraction).toString
      case Some(c) =>
        fractions.map { case (k, f) => s"when $c = '$k' then ${thr(f)}" }
          .mkString("case ", " ", s" else ${thr(fraction)} end")
    }
    Map("result" -> in("df").filter(s"($h) < ($cut)"))
  }
}

/** Overlapping token-window chunking: split long documents into fixed-size
  * token chunks with `overlap` tokens of context carried between adjacent
  * chunks — the standard preprocessing for context-bounded LLM training.
  * sequence + slice + posexplode: one narrow pass, output rows carry
  * (id, chunk_idx, chunk_text, n_chunk_tokens); no shuffle.
  */
class ChunkNode(
    val idCol: String = "doc_id",
    val textCol: String = "text",
    val chunkTokens: Int = 64,
    val overlap: Int = 8)
  extends Node {
  require(overlap < chunkTokens, "overlap must be smaller than the chunk size")
  override protected def defaultName: String = "chunk"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("chunk")
  override def jsonParams: Map[String, Any] = Map("idCol" -> idCol, "textCol" -> textCol,
    "chunkTokens" -> chunkTokens, "overlap" -> overlap)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val stride = chunkTokens - overlap
    val toks = TextExprs.tokensExpr(textCol)
    // starts: 0, stride, 2*stride, ... while start < size (always >= 1 chunk)
    val starts = s"sequence(0, greatest(cast(ceil((size(__toks) - $chunkTokens) / cast($stride as double)) as int), 0))"
    Map("result" -> in("df")
      .withColumn("__toks", expr(toks))
      .selectExpr(idCol,
        s"posexplode(transform($starts, s -> slice(__toks, s * $stride + 1, $chunkTokens))) as (chunk_idx, __chunk)")
      .selectExpr(idCol, "chunk_idx",
        "array_join(__chunk, ' ') as chunk_text",
        "size(__chunk) as n_chunk_tokens"))
  }
}

/** PII redaction: regexp-replace a configurable pattern list (emails, phone
  * numbers, SSN-shaped ids, IPv4 by default) with typed placeholder tags.
  * Pure narrow map over codegen'd regexp_replace — the shape of every
  * scrubbing pass in a training-data pipeline.
  */
class RedactNode(
    val textCol: String = "text",
    val outCol: String = "redacted",
    val patterns: Seq[(String, String)] = RedactNode.defaultPatterns)
  extends Node {
  override protected def defaultName: String = "redact"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("redact")
  override def jsonParams: Map[String, Any] = Map("textCol" -> textCol, "outCol" -> outCol,
    "patterns" -> patterns.map { case (t, p) => Seq[Any](t, p) })
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val chain = patterns.foldLeft(textCol) { case (acc, (tag, pat)) =>
      s"regexp_replace($acc, '$pat', '<$tag>')"
    }
    Map("result" -> in("df").withColumn(outCol, expr(chain)))
  }
}
object RedactNode {
  /** (tag, regex) — order matters: earlier patterns must not produce text a
    * later pattern re-matches. */
  val defaultPatterns: Seq[(String, String)] = Seq(
    "EMAIL" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\\\.[A-Za-z]{2,}",
    "SSN"   -> "\\\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\\\b",
    "PHONE" -> "\\\\b(\\\\+?1[ .-]?)?(\\\\([0-9]{3}\\\\)|[0-9]{3})[ .-][0-9]{3}[ .-][0-9]{4}\\\\b",
    "IPV4"  -> "\\\\b([0-9]{1,3}\\\\.){3}[0-9]{1,3}\\\\b",
  )
}

/** URL canonicalization — the gate real crawls run BEFORE content hashing:
  * two fetches of the same page differ only in URL surface form (case,
  * default port, tracking params, param order, fragment), so deduping by
  * canonical URL collapses refetches for free before any text ever gets
  * shingled. Canonical form of an absolute http(s) URL:
  *
  *   - scheme and authority lowercased (userinfo is lowercased with the
  *     authority — acceptable for crawl URLs, which do not carry userinfo);
  *   - default port stripped (`:80` for http, `:443` for https);
  *   - optional `www.` strip (off by default — www/apex CAN serve
  *     different content);
  *   - fragment removed (never sent to the server);
  *   - tracking params removed: any name starting `utm_` plus an exact
  *     blocklist (`stripParams`); remaining params sorted byte-wise so
  *     `?b=2&a=1` == `?a=1&b=2`; empty query drops the `?`;
  *   - empty path normalizes to `/`.
  *
  * Rows that are not absolute URLs pass through trimmed-unchanged (a crawl
  * manifest can carry relative or malformed entries; silently mangling them
  * would corrupt the join key). Pure narrow map over codegen'd regexps plus
  * one small HOF filter/sort over the split param list — zero shuffle at
  * any scale; every step is replayable in ANSI-ish SQL (the q139 oracle).
  */
class UrlCanonNode(
    val urlCol: String = "url",
    val outCol: String = "canon_url",
    val stripParams: Seq[String] = UrlCanonNode.defaultTracking,
    val stripFragment: Boolean = true,
    val sortParams: Boolean = true,
    val stripWww: Boolean = false)
  extends Node {
  override protected def defaultName: String = "url_canon"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("url_canon")
  override def jsonParams: Map[String, Any] = Map("urlCol" -> urlCol, "outCol" -> outCol,
    "stripParams" -> stripParams, "stripFragment" -> stripFragment,
    "sortParams" -> sortParams, "stripWww" -> stripWww)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val u = s"trim($urlCol)"
    val nf = if (stripFragment) s"regexp_replace($u, '#.*', '')" else u
    val scheme = s"lower(regexp_extract($nf, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))"
    val auth0 = s"lower(regexp_extract($nf, '^[^:/?#]+://([^/?#]*)', 1))"
    val auth1 = s"""case when $scheme = 'http' then regexp_replace($auth0, ':80$$', '')
                   |     when $scheme = 'https' then regexp_replace($auth0, ':443$$', '')
                   |     else $auth0 end""".stripMargin
    val auth = if (stripWww) s"regexp_replace($auth1, '^www\\\\.', '')" else auth1
    val path = s"coalesce(nullif(regexp_extract($nf, '^[^:/?#]+://[^/?#]*([^?#]*)', 1), ''), '/')"
    // entries are escaped (a quote would break the expr) and lowercased at
    // use (they compare against lower(param-name) — an uppercase blocklist
    // entry would otherwise silently never match; ADVICE r10)
    val blocklist = stripParams.map(p => s"'${SqlLit.esc(p.toLowerCase)}'")
      .mkString("array(", ", ", ")")
    val kept = s"""filter(split(regexp_extract($nf, '\\\\?(.*)', 1), '&'),
                  |  p -> p != '' and not startswith(lower(p), 'utm_')
                  |    and not array_contains($blocklist, lower(element_at(split(p, '='), 1))))""".stripMargin
    val params = if (sortParams) s"array_sort($kept)" else kept
    val qpart = s"case when size($kept) = 0 then '' else concat('?', array_join($params, '&')) end"
    val canon = s"""case when $nf rlike '^[a-zA-Z][a-zA-Z0-9+.-]*://'
                   |  then concat($scheme, '://', $auth, $path, $qpart)
                   |  else $u end""".stripMargin
    Map("result" -> in("df").withColumn(outCol, expr(canon)))
  }
}
object UrlCanonNode {
  /** Exact-name blocklist (prefix `utm_` is always stripped). */
  val defaultTracking: Seq[String] =
    Seq("fbclid", "gclid", "msclkid", "igshid", "mc_eid", "ref", "ref_src")
}

/** Document fingerprinting: whole-document md5 over normalized text (exact
  * dedup key) plus a winnowing rolling fingerprint — min rolling k-gram hash
  * per window (Schleimer et al.), computed by the compiled `winnow_fp`
  * kernel; the pure-SQL formulation re-evaluated the normalization per
  * k-gram (interpreted HOF inlining — see graft.functions.Sketches).
  */
class FingerprintNode(val textCol: String = "text", val k: Int = 8, val window: Int = 16) extends Node {
  override protected def defaultName: String = "fingerprint"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("fingerprint")
  override def jsonParams: Map[String, Any] = Map("textCol" -> textCol, "k" -> k, "window" -> window)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val norm = s"regexp_replace(lower(trim($textCol)), '\\\\s+', ' ')"
    Map("result" -> in("df")
      .withColumn("doc_md5", expr(s"md5(cast($norm as binary))"))
      .withColumn("winnow_fp", expr(s"winnow_fp($textCol, $k, $window)")))
  }
}

/** Collocation mining — the word2vec phrase-detection score (Mikolov et al.
  * 2013, "Distributed Representations of Words and Phrases", §4) over
  * adjacent token bigrams:
  *
  *   scoreF(w1 w2) = ((c12 − discount) · T · S) div (c1 · c2)
  *
  * with c1/c2/c12 the unigram/bigram occurrence counts, T total tokens, S =
  * `scale`. High-scoring bigrams are phrases ("new york") worth fusing into
  * single tokens before BPE/vocab fitting — the standard pre-tokenization
  * pass for a training corpus. FIXED-POINT INTEGER scoring, same contract
  * family as PageRankNode/Bm25TopKNode: the c12·T·S product runs in
  * decimal(38,0) (128-bit; T ~ 1e14 tokens at 100 TB would overflow int64)
  * and the floor-divided score lands back in int64.
  *
  * Scale shape: two narrow explode+count passes (unigrams, bigrams — the
  * bigram side never materializes strings wider than two tokens), the
  * one-row token total broadcast into the plan, two equi-joins of the
  * bigram counts against the (pruned, minCount-filtered) unigram counts,
  * then a global top-k via TakeOrderedAndProject. No cartesian anywhere;
  * the join keys are single words, and the minCount filter prunes the long
  * tail before either join.
  */
class CollocationNode(
    val textCol: String = "text",
    val minCount: Long = 5L,
    val discount: Long = 5L,
    val k: Int = 20,
    val scale: Long = 1000000L)
  extends Node {
  require(minCount >= 1, "minCount must be >= 1")
  require(discount >= 0, "discount must be >= 0")
  require(k > 0, "k must be positive")
  require(scale > 0, "scale must be positive")
  override protected def defaultName: String = "collocation"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("collocation")
  override def jsonParams: Map[String, Any] = Map("textCol" -> textCol,
    "minCount" -> minCount, "discount" -> discount, "k" -> k, "scale" -> scale)

  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    import org.apache.spark.sql.functions.{broadcast, count, lit, sum}
    val toksF = ctx.track(in("df")
      .select(expr(TextExprs.tokensExpr(textCol)).as("__toks")))
    val uni = toksF.select(expr("explode(__toks)").as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
    val stats = toksF.agg(sum(expr("size(__toks)")).as("__t"))
    // adjacent pairs; sequence() is guarded (it DESCENDS when stop < start)
    val bi = toksF.filter("size(__toks) >= 2")
      .select(expr(
        "explode(transform(sequence(1, size(__toks) - 1), " +
          "i -> struct(element_at(__toks, i) as w1, element_at(__toks, i + 1) as w2)))").as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val scored = bi
      .join(uni.select(col("w").as("w1"), col("c").as("__c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("__c2")), Seq("w2"))
      .crossJoin(broadcast(stats))
      .withColumn("score", expr(
        s"cast((cast(n_pair - ${discount}L as decimal(38,0)) * __t * ${scale}L) " +
          "div (cast(__c1 as decimal(38,0)) * __c2) as bigint)"))
      .select("w1", "w2", "n_pair", "score")
    Map("result" -> scored
      .orderBy(col("score").desc, col("w1"), col("w2")).limit(k))
  }
}

/** Deterministic weighted (importance) sampling: keep each row with
  * per-row probability `probExpr` (a SQL expression in [0, 1]), decided by
  * the engine-portable DetHash — NOT a seeded RNG. The DCLM/quality-
  * weighted downsampling shape: high-quality docs keep probability 1,
  * boilerplate keeps 0.1, and the decision for a given id is reproducible
  * across engines, partitionings, retries, and re-runs (a seeded
  * `sample()` is none of those). keep iff
  *
  *   DetHash(idCol) mod scale  <  floor(probExpr · scale)
  *
  * `keepCol = Some(c)` annotates instead of filtering (audit mode — same
  * contract as HeuristicFilterNode's per-rule columns).
  *
  * Scale shape: pure narrow map over the scan — zero shuffle, pushdown
  * survives (the filter is deterministic, so Catalyst pushes it into the
  * scan where the source allows).
  */
class WeightedSampleNode(
    val idCol: String = "doc_id",
    val probExpr: String = "1.0",
    val scale: Long = 1000000L,
    val keepCol: Option[String] = None)
  extends Node {
  require(scale > 0, "scale must be positive")
  override protected def defaultName: String = "weighted_sample"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("weighted_sample")
  override def jsonParams: Map[String, Any] = Map(
    "idCol" -> idCol, "probExpr" -> probExpr, "scale" -> scale,
    "keepCol" -> keepCol.orNull)

  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    val keep =
      s"${DetHash.modExpr(idCol, scale)} < cast(floor(($probExpr) * $scale) as bigint)"
    Map("result" -> (keepCol match {
      case Some(c) => in("df").withColumn(c, expr(keep))
      case None    => in("df").filter(expr(keep))
    }))
  }
}

/** Unigram "surprisal" quality scoring — the perplexity-filter shape
  * (CCNet/Gopher-style LM gating) without libm: a unigram LM is FIT on a
  * reference corpus (token occurrence counts + total), and each scored
  * document gets the mean inverse-frequency surrogate
  *
  *   surprise(w)   = (T · S) div c(w)          (OOV: c = 1, max surprise)
  *   mean_surprise = (Σ_w surprise(w)) div n_tokens
  *
  * — a monotone surrogate of mean negative log-likelihood over the pruned
  * frequency range (1/p instead of −log p), so threshold gating behaves the
  * same while every score is an exact integer: bit-reproducible across
  * engines/partitionings/retries and DuckDB-oracleable (the PageRank/BM25
  * fixed-point reasoning). High mean_surprise ⇒ gibberish/rare text; low ⇒
  * boilerplate. `n_oov` rides along (the classic junk signal).
  *
  * Scale shape: fit = one explode + one groupBy over the REFERENCE corpus
  * (vocabulary-sized distributed model — never collected to the driver;
  * T is the only driver scalar). Apply = one explode + one equi-join on the
  * token (AQE picks broadcast when the vocab is small) + one groupBy on the
  * doc id. Per-doc sums run in decimal(38,0): each term is ≤ T·S (~1e18 at
  * web scale) and a 10^4-token doc overflows int64 before the final div.
  */
class UnigramSurpriseNode(
    val idCol: String = "doc_id",
    val textCol: String = "text",
    val scale: Long = 1000000L)
  extends EstimatorNode {
  require(scale > 0, "scale must be positive")
  type Model = UnigramSurpriseNode.Lm
  override protected def defaultName: String = "unigram_surprise"
  val inputs = Seq(Port("reference"), Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("unigram_surprise")
  override def jsonParams: Map[String, Any] =
    Map("idCol" -> idCol, "textCol" -> textCol, "scale" -> scale)

  private def tokens(df: DataFrame, keep: Seq[String]): DataFrame =
    df.select((keep.map(col) :+
      expr(s"explode(${TextExprs.tokensExpr(textCol)})").as("__tok")): _*)

  def fitModel(ctx: Ctx, in: In): Model = {
    import org.apache.spark.sql.functions.{count, lit}
    import org.apache.spark.storage.StorageLevel
    val toks = tokens(in("reference"), Nil)
    val counts = toks.groupBy("__tok").agg(count(lit(1)).as("__c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // total token occurrences: a one-row aggregate of the counts frame (the
    // only driver scalar — model-sized, like PageRank's node count)
    val total = counts.agg(expr("sum(__c)")).collect().head.getLong(0)
    UnigramSurpriseNode.Lm(counts, total)
  }

  def applyModel(m: Model, ctx: Ctx, in: In): Map[String, DataFrame] = {
    import org.apache.spark.sql.functions.{coalesce, count, lit, sum, when}
    val s = scale
    val toks = tokens(in("df"), Seq(idCol))
    val joined = toks.join(m.counts, Seq("__tok"), "left")
    Map("result" -> joined
      // promote the product to decimal BEFORE multiplying: total*scale is
      // ~1e18 at 100 TB and would silently wrap in int64 (ADVICE r7); the
      // quotient (divided back down by a count >= 1's bucket) fits bigint
      .withColumn("__surprise",
        expr(s"(cast(${m.total} as decimal(38,0)) * ${s}L) div coalesce(__c, 1L)"))
      .groupBy(idCol).agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__c").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(expr("cast(__surprise as decimal(38,0))")).as("__ssum"))
      .withColumn("mean_surprise", expr("cast(__ssum div n_tokens as bigint)"))
      .drop("__ssum"))
  }

  /** Release the persisted counts (fit again to rebuild). */
  def unpersistModel(): Unit = model.foreach(_.counts.unpersist())

  override def saveFitted(path: String): Unit = {
    val m = fitted
    m.counts.write.mode("overwrite").parquet(s"$path/counts")
    val spark = m.counts.sparkSession
    import spark.implicits._
    Seq(m.total).toDF("total").coalesce(1).write.mode("overwrite").parquet(s"$path/total")
  }
  override def loadFitted(path: String): Unit = loadFitted(path, None)
  def loadFitted(path: String, session: Option[org.apache.spark.sql.SparkSession]): Unit = {
    val spark = session.getOrElse(org.apache.spark.sql.SparkSession.active)
    val counts = spark.read.parquet(s"$path/counts")
    val total = spark.read.parquet(s"$path/total").collect().head.getLong(0)
    model = Some(UnigramSurpriseNode.Lm(counts, total))
  }
}

object UnigramSurpriseNode {
  /** Fitted unigram LM: distributed (token, count) frame + total occurrences. */
  case class Lm(counts: DataFrame, total: Long)
}

/** Per-class unigram-LM classifier — the MODEL-BASED filtering/routing
  * stage of a curation pipeline (the DCLM/CCNet shape: fit one LM per
  * labeled slice of a seed corpus, score every incoming document against
  * each, route to the class whose LM finds it least surprising). Reuses
  * UnigramSurpriseNode's FIXED-POINT INTEGER surprise contract —
  * surprise_k(w) = (T_k·S) div c_k(w), OOV c_k = 1 — so the decision
  * (argmin over classes of mean surprise, ties to the lexicographically
  * smallest label) is exact integer arithmetic: bit-reproducible across
  * engines/partitionings/retries and DuckDB-oracleable. Output columns:
  * idCol, n_tokens, predicted, best_surprise (the winning class's mean),
  * margin (runner-up mean minus best; 0 with a single class). Gate
  * downstream with FilterNode("margin >= m") — the classifier-confidence
  * threshold — or route with RouterNode on `predicted`.
  *
  * Scale shape: fit = one explode + one (label, token) groupBy over the
  * SEED corpus only (the model is the distributed counts frame; the sole
  * driver state is the K (label, total) pairs, K = #classes guarded by
  * `maxClasses`). Apply = one explode + ONE equi-join against the
  * token-PIVOTED counts (vocabulary-sized; classes ride as K COLUMNS per
  * token, never a doc×class row blowup; AQE broadcasts the vocab frame
  * when small) + one groupBy on the doc id. Per-class per-doc sums run in
  * decimal(38,0) (T·S ~ 1e20 at 100 TB — the UnigramSurpriseNode overflow
  * reasoning).
  */
class LmClassifierNode(
    val idCol: String = "doc_id",
    val textCol: String = "text",
    val labelCol: String = "label",
    val scale: Long = 1000000L,
    val maxClasses: Int = 64)
  extends EstimatorNode {
  require(scale > 0, "scale must be positive")
  require(maxClasses >= 1, "maxClasses must be >= 1")
  type Model = LmClassifierNode.Cls
  override protected def defaultName: String = "lm_classifier"
  val inputs = Seq(Port("seed"), Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("lm_classifier")
  override def jsonParams: Map[String, Any] = Map("idCol" -> idCol,
    "textCol" -> textCol, "labelCol" -> labelCol, "scale" -> scale,
    "maxClasses" -> maxClasses)

  def fitModel(ctx: Ctx, in: In): Model = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    import org.apache.spark.storage.StorageLevel
    val toks = in("seed").select(
      col(labelCol).cast("string").as("__lab"),
      expr(s"explode(${TextExprs.tokensExpr(textCol)})").as("__tok"))
    val counts = toks.groupBy("__lab", "__tok").agg(count(lit(1)).as("__c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val totals = counts.groupBy("__lab").agg(sum("__c").as("__t"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq.sortBy(_._1)
    if (totals.isEmpty)
      throw new GraftException(s"lm_classifier '$name': seed corpus is empty")
    if (totals.exists(_._1 == null))
      throw new GraftException(s"lm_classifier '$name': null label in seed")
    if (totals.size > maxClasses)
      throw new GraftException(s"lm_classifier '$name': ${totals.size} classes " +
        s"exceed maxClasses=$maxClasses (labels are driver state — keep K small)")
    LmClassifierNode.Cls(counts, totals)
  }

  def applyModel(m: Model, ctx: Ctx, in: In): Map[String, DataFrame] = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val labels = m.totals.map(_._1)
    // classes become COLUMNS: one vocabulary-sized frame, one join
    val piv = m.counts.groupBy("__tok").pivot("__lab", labels).sum("__c")
    val pivN = piv.select(col("__tok") +: labels.zipWithIndex.map { case (l, i) =>
      col("`" + l.replace("`", "``") + "`").as(s"__c$i") }: _*)
    val toks = in("df").select(col(idCol),
      expr(s"explode(${TextExprs.tokensExpr(textCol)})").as("__tok"))
    val joined = toks.join(pivN, Seq("__tok"), "left")
    val sums = m.totals.zipWithIndex.map { case ((_, t), i) =>
      // T·S ~ 1e20 at 100 TB — past Long.MaxValue; promote to decimal
      // BEFORE the multiply so the product never wraps (ADVICE r7)
      sum(expr(s"cast((cast($t as decimal(38,0)) * ${scale}L) div coalesce(__c$i, 1L) as decimal(38,0))"))
        .as(s"__s$i") }
    val agg = joined.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sums: _*)
    // argmin with (mean, label) tie-break via one sorted struct array
    val entries = labels.zipWithIndex.map { case (l, i) =>
      s"struct(cast(__s$i div n_tokens as bigint) as m, '${SqlLit.esc(l)}' as l)"
    }
    val marginExpr =
      if (labels.size >= 2) expr("__a[1].m - __a[0].m") else lit(0L)
    Map("result" -> agg
      .withColumn("__a", expr(s"array_sort(array(${entries.mkString(", ")}))"))
      .select(col(idCol), col("n_tokens"),
        expr("__a[0].l").as("predicted"),
        expr("__a[0].m").as("best_surprise"),
        marginExpr.as("margin")))
  }

  /** Release the persisted counts (fit again to rebuild). */
  def unpersistModel(): Unit = model.foreach(_.counts.unpersist())

  override def saveFitted(path: String): Unit = {
    val m = fitted
    m.counts.write.mode("overwrite").parquet(s"$path/counts")
    val spark = m.counts.sparkSession
    import spark.implicits._
    m.totals.toDF("__lab", "__t").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/totals")
  }
  override def loadFitted(path: String): Unit = loadFitted(path, None)
  def loadFitted(path: String, session: Option[org.apache.spark.sql.SparkSession]): Unit = {
    val spark = session.getOrElse(org.apache.spark.sql.SparkSession.active)
    val counts = spark.read.parquet(s"$path/counts")
    val totals = spark.read.parquet(s"$path/totals")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    model = Some(LmClassifierNode.Cls(counts, totals))
  }
}

object LmClassifierNode {
  /** Fitted per-class LMs: distributed (label, token, count) frame +
    * per-label token totals (K rows of driver state, K = #classes).
    */
  case class Cls(counts: DataFrame, totals: Seq[(String, Long)])
}

/** Gopher-style REPETITION quality rules (Rae et al. 2021 §A1.1.3) — the
  * half of the heuristic battery [[HeuristicFilterNode]] does NOT cover:
  * repetitious documents (boilerplate, scraper loops, keyword stuffing)
  * score fine on length/stopword rules but are poison for LM training.
  * Per document:
  *
  *   - `dup_line_frac`      = (#nonempty-line occurrences − #distinct
  *     nonempty lines) / #occurrences — the fraction of lines that repeat
  *     an earlier line (lines are trim()ed; blank lines excluded),
  *   - `dup_line_char_frac` = characters in the repeated occurrences /
  *     all nonempty-line characters (Σ (c−1)·len / Σ c·len),
  *   - `top_bigram_char_frac` = characters covered by the most frequent
  *     word 2-gram (count · non-space-length) / document non-space chars;
  *     ties break to the lexicographically smallest gram,
  *
  * plus `keep` = all three under their thresholds (`keepOnly = true`
  * filters instead of annotating). Ratios are single int/int double
  * divisions — engine-exact (the q83 contract).
  *
  * Scale shape: explode → two-level partial aggregation, keyed by
  * (id, line) / (id, gram) — fully map-side-combinable, no skew (keys are
  * per-document), and the join back to the document frame is on the id.
  * A 100 TB corpus never materializes per-doc state on the driver.
  */
class RepetitionStatsNode(
    val textCol: String = "text",
    val idCol: String = "doc_id",
    val maxDupLineFrac: Double = 0.3,
    val maxDupLineCharFrac: Double = 0.2,
    val maxTopBigramCharFrac: Double = 0.2,
    val keepOnly: Boolean = false)
  extends Node {
  require(maxDupLineFrac >= 0 && maxDupLineCharFrac >= 0 && maxTopBigramCharFrac >= 0,
    "thresholds must be non-negative")
  override protected def defaultName: String = "repetition_stats"
  val inputs = Seq(Port("df"))
  val outputs = Seq(Port("result"))
  override def jsonKind: Option[String] = Some("repetition_stats")
  override def jsonParams: Map[String, Any] = Map("textCol" -> textCol,
    "idCol" -> idCol, "maxDupLineFrac" -> maxDupLineFrac,
    "maxDupLineCharFrac" -> maxDupLineCharFrac,
    "maxTopBigramCharFrac" -> maxTopBigramCharFrac, "keepOnly" -> keepOnly)

  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    import org.apache.spark.sql.functions.{coalesce, count, lit, min, sum}
    val base = ctx.track(in("df"))
    // ---- line metrics: explode trimmed nonempty lines, count per (id, line)
    val lineOcc = base
      .select(col(idCol), expr(s"explode(split($textCol, '\n'))").as("__l0"))
      .select(col(idCol), expr("trim(__l0)").as("__l"))
      .filter("__l != ''")
      .groupBy(col(idCol), col("__l"))
      .agg(count(lit(1)).as("__c"), expr("length(first(__l))").as("__len"))
    val lineAgg = lineOcc.groupBy(col(idCol)).agg(
      sum("__c").as("__n_lines"),
      count(lit(1)).as("__n_distinct"),
      sum(expr("(__c - 1) * __len")).as("__dup_chars"),
      sum(expr("__c * __len")).as("__tot_chars"))
    // ---- top word-bigram: count per (id, gram), argmin of (-count, gram)
    val grams = base
      .select(col(idCol), expr(TextExprs.tokensExpr(textCol)).as("__toks"))
      .filter("size(__toks) >= 2")
      .select(col(idCol),
        expr(s"explode(${TextExprs.shinglesExpr("__toks", 2)})").as("__g"))
      .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__c"))
    val top = grams.groupBy(col(idCol)).agg(
      min(expr("named_struct('nc', -__c, 'g', __g)")).as("__top"))
      .select(col(idCol),
        expr("-__top.nc").as("top_bigram_count"),
        expr("__top.g").as("top_bigram"),
        expr("(-__top.nc) * length(replace(__top.g, ' ', ''))").as("__top_chars"))
    val out = base
      .withColumn("__nchar_ns", expr(s"length(regexp_replace($textCol, '\\\\s+', ''))"))
      .join(lineAgg, Seq(idCol), "left")
      .join(top, Seq(idCol), "left")
      .withColumn("dup_line_frac", coalesce(
        expr("cast(__n_lines - __n_distinct as double) / __n_lines"), lit(0.0)))
      .withColumn("dup_line_char_frac", coalesce(
        expr("cast(__dup_chars as double) / __tot_chars"), lit(0.0)))
      .withColumn("top_bigram_char_frac", coalesce(
        expr("cast(__top_chars as double) / greatest(__nchar_ns, 1)"), lit(0.0)))
      .withColumn("keep", expr(
        s"dup_line_frac <= $maxDupLineFrac AND " +
          s"dup_line_char_frac <= $maxDupLineCharFrac AND " +
          s"top_bigram_char_frac <= $maxTopBigramCharFrac"))
      .drop("__n_lines", "__n_distinct", "__dup_chars", "__tot_chars",
        "__top", "__top_chars", "__nchar_ns")
    Map("result" -> (if (keepOnly) out.filter(col("keep")).drop("keep") else out))
  }
}
