package graft.queries

import graft.dag._
import graft.nodes._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** North-star operator corpus (training-data pipeline ops over `documents` /
  * `embeddings`). DuckDB-oracle queries use only functions both engines
  * compute identically (md5, regexp, integer arithmetic, single IEEE double
  * ops); hash-seeded ops (xxhash64 minhash/simhash/LSH) are registered
  * without oracle → driver records a rows-only check.
  */
object NorthStar {
  import Queries.run

  // DuckDB needs the 'g' flag for global regexp_replace; Spark is global by default.
  private val sparkNorm = "regexp_replace(lower(trim(text)), '\\s+', ' ')"
  private val duckNorm = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
  // bounded audit sample + normalized-text collapse key for the sketch
  // contracts (same values as Recall.scala — where the baseline is
  // quadratic, the audit is sampled, exactly as it would run at 100 TB)
  private val auditFilter = "doc_id < 400"
  private val sparkCollapseKey =
    "md5(cast(regexp_replace(lower(trim(text)), '\\\\s+', ' ') as binary))"

  // ---- exact dedup on normalized-text fingerprint ----
  def q20_dedup_exact(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    d.add(SourceNode.table(dir, "documents")) >>
      new ExactDedupNode(Seq(s"md5(cast($sparkNorm as binary))"), "doc_id") >>
      d.output("result")
  }
  val q20Sql: String =
    s"""SELECT min(doc_id) AS doc_id, count(*) AS dup_count
       |FROM documents GROUP BY md5($duckNorm)""".stripMargin

  // ---- token counting (whitespace + BPE-ish regex) ----
  def q21_token_count(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    val src = d.add(SourceNode.table(dir, "documents"))
    src >> new TokenCountNode("text") >>
      ProjectNode("doc_id", "ws_tokens", "bpe_tokens") >>
      d.output("result")
  }
  val q21Sql: String =
    """SELECT doc_id,
      |  len(regexp_split_to_array(lower(trim(text)), '\s+')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]')) AS bpe_tokens
      |FROM documents""".stripMargin

  // ---- quality scoring (length / punct / digit / stopword ratios) ----
  def q22_quality(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    d.add(SourceNode.table(dir, "documents")) >>
      new QualityScoreNode("text") >>
      ProjectNode("doc_id", "n_tokens", "mean_word_len", "punct_ratio", "digit_ratio", "stopword_ratio") >>
      d.output("result")
  }
  val q22Sql: String = {
    val toks = "regexp_split_to_array(lower(trim(text)), '\\s+')"
    val stop = QualityScoreNode.enStop.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""SELECT doc_id,
       |  len($toks) AS n_tokens,
       |  cast(length(regexp_replace(text, '\\s+', '', 'g')) as double) / greatest(len($toks), 1) AS mean_word_len,
       |  cast(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) as double) / greatest(length(text), 1) AS punct_ratio,
       |  cast(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) as double) / greatest(length(text), 1) AS digit_ratio,
       |  cast(len(list_filter($toks, t -> list_contains($stop, t))) as double) / greatest(len($toks), 1) AS stopword_ratio
       |FROM documents""".stripMargin
  }

  // ---- language ID (stopword-marker argmax) vs the labeled lang column ----
  def q23_lang_id(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    d.add(SourceNode.table(dir, "documents")) >>
      new LangIdNode("text") >>
      AggNode(Seq("lang", "pred_lang"), "count(*) as n") >>
      SortNode("lang", "pred_lang") >>
      d.output("result")
  }
  // oracle replicates the marker-argmax (first-listed language wins ties,
  // 'und' when no marker hits) with the same tokenization
  val q23Sql: String = {
    val toks = "regexp_split_to_array(lower(trim(text)), '\\s+')"
    val markers = LangIdNode.defaultMarkers
    val scoreCols = markers.map { case (l, ws) =>
      val arr = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(toks, t -> list_contains($arr, t))) AS s_$l"
    }.mkString(",\n    ")
    val best = markers.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
    val pick = markers.map { case (l, _) => s"WHEN s_$l = best THEN '$l'" }.mkString(" ")
    val names = markers.map { case (l, _) => s"s_$l" }.mkString(", ")
    s"""SELECT lang, pred_lang, count(*) AS n FROM (
       |  SELECT lang, CASE WHEN best = 0 THEN 'und' $pick END AS pred_lang FROM (
       |    SELECT lang, $names, $best AS best FROM (
       |      SELECT lang, $scoreCols
       |      FROM (SELECT lang, $toks AS toks FROM documents) t0) s) b)
       |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin
  }

  // ---- document fingerprint (md5 whole-doc; winnowing variant rows-only) ----
  def q24_fingerprint(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    d.add(SourceNode.table(dir, "documents")) >>
      new FingerprintNode("text") >>
      ProjectNode("doc_id", "doc_md5") >>
      d.output("result")
  }
  val q24Sql: String =
    s"SELECT doc_id, md5($duckNorm) AS doc_md5 FROM documents"

  // ---- near-dup: MinHash+LSH, SimHash, n-gram Jaccard — each pinned by an
  // engine-independent contract at a provable parameterization (VERDICT r5
  // #1): the sketch output EQUALS an exact set DuckDB recomputes from the
  // data alone, so any mechanism bug fails the hash gate. Production
  // configs (lower thresholds / DF-capped blocking) stay covered by
  // q44/q57/q101 and NodesSpec. ----

  // q25: the MinHash+LSH near-dup PAIR SET at the saturated operating point
  // (threshold 0.8, 16 bands → rows-per-band 2: per-pair miss probability
  // (1-j^2)^16 < 5e-8 at j >= 0.8 and deterministic given fixed seeds — the
  // q57/q44-verified regime). There the LSH pair set equals the exact
  // string-shingle Jaccard pair set with negligible, seed-deterministic
  // miss probability (NOT a hard proof: a near-threshold pair in new data
  // can in principle be missed — a future hash-gate failure here should be
  // triaged as expected contract noise, not an engine bug). The oracle
  // recomputes the exact set (collapse → all-pairs Jaccard) over the
  // collapsed corpus.
  def q25_minhash_dedup(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    d.add(SourceNode.table(dir, "documents")) >>
      new MinHashDedupNode(numHashes = 32, bands = 16, shingleN = 3,
        jaccardThreshold = 0.8) >>
      ProjectNode("id_a", "id_b") >> SortNode("id_a", "id_b") >> d.output("result")
  }
  val q25Sql: String =
    """WITH c AS (
      |  SELECT doc_id, text FROM (
      |    SELECT doc_id, text, row_number() OVER (
      |      PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
      |      ORDER BY doc_id) AS rn
      |    FROM documents) t WHERE rn = 1),
      |s AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
      |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
      |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM c) t)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |FROM s a JOIN s b ON a.doc_id < b.doc_id
      |WHERE cast(len(list_distinct(list_intersect(a.sh, b.sh))) as double)
      |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
      |ORDER BY id_a, id_b""".stripMargin

  // q26: SimHash blocking-losslessness contract on a bounded audit sample.
  // chunks = maxHamming+1 = 4 makes pigeonhole blocking EXACT (any pair at
  // hamming <= 3 shares an identical 16-bit chunk), so against the
  // in-engine all-pairs hamming truth the node must miss nothing
  // (n_missed = 0) and the verify filter admits nothing false (n_false =
  // 0); every normalized-exact duplicate pair has identical token sequence
  // → identical simhash → hamming 0 and MUST be found, so n_exact_found ==
  // n_exact_pairs — an integer DuckDB derives from the data alone. The
  // sample carries no natural exact duplicates at the gate SFs, so known
  // duplicates are INJECTED deterministically (copies of docs 0..49 at
  // doc_id + 10000 — the q62 injection trick, mirrored in the oracle),
  // keeping the data-derived leg of the contract non-vacuous at every SF.
  def q26_simhash_dedup(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    val src = d.add(SourceNode.table(dir, "documents"))
    val base = src >> FilterNode(auditFilter) >> ProjectNode("doc_id", "text").named("base")
    val inject = src("result") >> FilterNode("doc_id < 50") >>
      ProjectNode("doc_id + 10000 as doc_id", "text").named("inject")
    val sample = d.add(new UnionNode().named("aug"))
    base >> sample("dfs"); inject >> sample("dfs")
    // collapseExact=false: the exact-dup pairs ARE the data-derived part of
    // the contract (bounded: <= 450-row audit sample)
    val pairs = sample >> new SimHashDedupNode(maxHamming = 3, collapseExact = false)
    val cmp = d.add(new FnNode(Seq(Port("docs"), Port("pairs")), Seq(Port("result")),
      (ctx, in) => {
        import org.apache.spark.sql.functions._
        val toks = TextExprs.tokensExpr("text")
        val signed = ctx.track(in("docs")
          .withColumn("__toks", expr(toks))
          .filter("size(__toks) > 0")
          .select(col("doc_id"),
            expr("simhash64(__toks)").as("__sh"),
            expr(sparkCollapseKey).as("__k")))
        // intentional bounded cartesian: the exact hamming baseline every
        // sampled sketch audit needs (guarded by auditFilter)
        val truth = signed.as("a").join(signed.as("b"),
            col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            expr("bit_count(a.__sh ^ b.__sh)").as("__h"),
            (col("a.__k") === col("b.__k")).as("__is_exact"))
        val truePairs = ctx.track(truth.filter(col("__h") <= 3))
        val found = ctx.track(in("pairs").select(col("id_a"), col("id_b")))
        val exact = truePairs.filter(col("__is_exact"))
        Map("result" -> exact.agg(count(lit(1)).as("n_exact_pairs"))
          .crossJoin(exact.join(found, Seq("id_a", "id_b"))
            .agg(count(lit(1)).as("n_exact_found")))
          .crossJoin(truePairs.join(found, Seq("id_a", "id_b"), "left_anti")
            .agg(count(lit(1)).as("n_missed")))
          .crossJoin(found.join(truePairs, Seq("id_a", "id_b"), "left_anti")
            .agg(count(lit(1)).as("n_false"))))
      }, "simhash_contract"))
    sample("result") >> cmp("docs"); pairs >> cmp("pairs")
    cmp >> d.output("result")
  }
  val q26Sql: String =
    """WITH aug AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id < 400
      |  UNION ALL
      |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 50),
      |sm AS (
      |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS k
      |  FROM aug),
      |e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |      FROM sm a JOIN sm b ON a.k = b.k AND a.doc_id < b.doc_id)
      |SELECT (SELECT count(*) FROM e) AS n_exact_pairs,
      |       (SELECT count(*) FROM e) AS n_exact_found,
      |       cast(0 as bigint) AS n_missed, cast(0 as bigint) AS n_false""".stripMargin

  // q27: n-gram Jaccard pair set with provably LOSSLESS blocking on a
  // bounded audit sample: dfCap >= sample size drops no shingle, and any
  // pair with jaccard > 0 shares >= 1 shingle, so blocking finds every
  // pair — the output IS the exact all-pairs bigram-Jaccard pair set,
  // recomputed by DuckDB on string shingles (set-identical to the hashed
  // shingles absent xxhash64 collisions — the q57 equivalence). The
  // production DF-capped recall/cost tradeoff stays covered by NodesSpec.
  // (same injected exact copies as q26 keep the pair set non-vacuous at
  // every SF — at sf0.1 the natural sample window happens to contain none)
  def q27_ngram_jaccard(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    val src = d.add(SourceNode.table(dir, "documents"))
    val base = src >> FilterNode(auditFilter) >> ProjectNode("doc_id", "text").named("base")
    val inject = src("result") >> FilterNode("doc_id < 50") >>
      ProjectNode("doc_id + 10000 as doc_id", "text").named("inject")
    val sample = d.add(new UnionNode().named("aug"))
    base >> sample("dfs"); inject >> sample("dfs")
    sample >>
      new NgramJaccardNode(shingleN = 2, threshold = 0.2,
        maxDocFreq = 450, maxDocFreqFraction = 1.0, corpusSizeHint = Some(450L)) >>
      ProjectNode("id_a", "id_b") >> SortNode("id_a", "id_b") >> d.output("result")
  }
  val q27Sql: String =
    """WITH aug AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id < 400
      |  UNION ALL
      |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 50),
      |s AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
      |      i -> array_to_string(toks[i:i+1], ' '))) AS sh
      |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |        FROM aug) t)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |FROM s a JOIN s b ON a.doc_id < b.doc_id
      |WHERE cast(len(list_distinct(list_intersect(a.sh, b.sh))) as double)
      |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2
      |ORDER BY id_a, id_b""".stripMargin

  // ---- similarity search: brute-force cosine top-k (oracle: same fold order
  // in DuckDB list lambdas) and LSH-bucketed ANN (rows-only) ----
  def q28_knn_brute(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    val emb = d.add(SourceNode.table(dir, "embeddings"))
    val queries = emb >> FilterNode("vec_id < 5") >>
      ProjectNode("vec_id as query_id", "embedding").named("queryset")
    val knn = d.add(new BruteForceKnnNode(k = 10))
    emb("result") >> knn("corpus"); queries >> knn("queries")
    knn >> ProjectNode("query_id", "vec_id", "rank") >> d.output("result")
  }
  val q28Sql: String =
    """SELECT query_id, vec_id, rank FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id,
      |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |      (list_sum(list_transform(range(1, 65), i -> c.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))
      |       / (sqrt(list_sum(list_transform(range(1, 65), i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)))
      |        * sqrt(list_sum(list_transform(range(1, 65), i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))))) DESC,
      |      c.vec_id ASC) AS rank
      |  FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 5) q) t
      |WHERE rank <= 10""".stripMargin

  // q29: LSH ANN at the audit-grade parameterization (1 plane x 16 tables:
  // per-neighbor miss probability (theta/pi)^16 <= 1.5e-5 even for an
  // orthogonal neighbor, deterministic given fixed seeds — the q56-verified
  // robust shape) over the FULL corpus: the LSH top-k equals brute-force
  // top-k under the identical (score desc, id asc) comparator with
  // negligible, seed-deterministic miss probability (not a hard proof — a
  // future hash-gate failure here is expected contract noise, not an
  // engine bug), so the oracle is the same exact-kNN SQL as q28. The
  // leaner production 6x8 config stays covered by q56's sampled recall
  // audit.
  def q29_ann_lsh(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    val emb = d.add(SourceNode.table(dir, "embeddings"))
    val queries = emb >> FilterNode("vec_id < 5") >>
      ProjectNode("vec_id as query_id", "embedding").named("queryset")
    val knn = d.add(new LshKnnNode(k = 10, numPlanes = 1, tables = 16))
    emb("result") >> knn("corpus"); queries >> knn("queries")
    knn >> ProjectNode("query_id", "vec_id", "rank") >> d.output("result")
  }
  val q29Sql: String = q28Sql

  // ---- embedding-cosine near-dup pairs (brute force = exact oracle) ----
  def q30_embedding_neardup(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    d.add(SourceNode.table(dir, "embeddings")) >>
      new EmbeddingNearDupNode(threshold = 0.3, bruteForce = true) >>
      FnNode.map1("rounded") { df =>
        import org.apache.spark.sql.functions._
        df.select(col("id_a"), col("id_b")) // score dropped: float compare risk
      } >>
      d.output("result")
  }
  val q30Sql: String =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE (list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
      |   / (sqrt(list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
      |    * sqrt(list_sum(list_transform(range(1, 65), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))))) >= 0.3""".stripMargin

  // ---- multimodal: REAL PNG roundtrip — synthesize a deterministic image
  // per doc, encode with javax.imageio's PNG writer, decode it back (real
  // zlib/PNG codec on the path), nearest-neighbor resize over decoded
  // pixels, re-encode, decode AGAIN. The decoded-raster channel sums (both
  // original and resized) are pure integer functions of (doc_id, x, y)
  // that DuckDB recomputes from the data alone — any codec/resample bug
  // breaks the hash match. ----
  def q31_multimodal(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    d.add(SourceNode.table(dir, "documents")) >>
      new SyntheticImageNode(
        wExpr = "16 + cast(doc_id % 16 as int)",
        hExpr = "16 + cast((doc_id div 16) % 16 as int)",
        seedExpr = "cast(doc_id % 251 as int)") >>
      new DecodeImageNode() >>
      new ResizeImageNode(8, 8) >>
      new DecodeImageNode("resized", "r") >>
      ProjectNode("doc_id",
        "image_meta.width as w", "image_meta.height as h",
        "image_meta.channels as channels", "image_meta.format as fmt",
        "image_sums[0] as sum_r", "image_sums[1] as sum_g", "image_sums[2] as sum_b",
        "r_meta.width as rw",
        "r_sums[0] as r_sum_r", "r_sums[1] as r_sum_g", "r_sums[2] as r_sum_b") >>
      SortNode("doc_id") >>
      d.output("result")
  }
  val q31Sql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    16 + cast(doc_id % 16 as int) AS w,
      |    16 + cast((doc_id // 16) % 16 as int) AS h,
      |    cast(doc_id % 251 as int) AS s
      |  FROM documents),
      |v AS (
      |  SELECT doc_id, s, cast(i % w as int) AS x, cast(i // w as int) AS y
      |  FROM (SELECT doc_id, w, h, s, unnest(range(0, w * h)) AS i FROM p) u),
      |sums AS (
      |  SELECT doc_id,
      |    sum((x * 31 + y * 17 + s) % 256) AS sum_r,
      |    sum((x * 7 + y * 13 + 3 * s) % 256) AS sum_g,
      |    sum((x + y + 7 * s) % 256) AS sum_b
      |  FROM v GROUP BY doc_id),
      |rv AS (
      |  SELECT doc_id, s,
      |    (cast(i % 8 as int) * w) // 8 AS x, (cast(i // 8 as int) * h) // 8 AS y
      |  FROM (SELECT doc_id, w, h, s, unnest(range(0, 64)) AS i FROM p) u),
      |rsums AS (
      |  SELECT doc_id,
      |    sum((x * 31 + y * 17 + s) % 256) AS r_sum_r,
      |    sum((x * 7 + y * 13 + 3 * s) % 256) AS r_sum_g,
      |    sum((x + y + 7 * s) % 256) AS r_sum_b
      |  FROM rv GROUP BY doc_id)
      |SELECT p.doc_id, p.w, p.h, 3 AS channels, 'png' AS fmt,
      |  cast(sums.sum_r as bigint) AS sum_r, cast(sums.sum_g as bigint) AS sum_g,
      |  cast(sums.sum_b as bigint) AS sum_b, 8 AS rw,
      |  cast(rsums.r_sum_r as bigint) AS r_sum_r, cast(rsums.r_sum_g as bigint) AS r_sum_g,
      |  cast(rsums.r_sum_b as bigint) AS r_sum_b
      |FROM p JOIN sums USING (doc_id) JOIN rsums USING (doc_id)
      |ORDER BY doc_id""".stripMargin
  // ---- q32: REAL AVI roundtrip (round 7 — the last fake compute retired):
  // synthesize a genuine RIFF/AVI container per doc (hdrl/strl headers +
  // movi list of uncompressed 00db frames whose byte j of frame f is the
  // fixed integer formula under the doc seed), then index frames through
  // the real container walk — frame chunks located via the movi list,
  // timestamps from the avih dwMicroSecPerFrame field — sampling every 2nd
  // frame up to 3. Frame counts, container-derived timestamps, chunk byte
  // sizes, and decoded frame-byte sums are pure integer functions of
  // (doc_id, frame, byte index) that DuckDB recomputes from the data
  // alone — any writer/parser bug breaks the hash match. fps=10 →
  // dwMicroSecPerFrame=100000 → ts_ms = frame * 100 exactly. ----
  def q32_frame_sample(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    d.add(SourceNode.table(dir, "documents")) >>
      new SyntheticAviNode(
        nFramesExpr = "cast(2 + doc_id % 5 as int)",
        wExpr = "cast(8 + doc_id % 4 as int)",
        hExpr = "6",
        seedExpr = "cast(doc_id % 199 as int)",
        fps = 10) >>
      new FrameSampleNode(stride = 2, maxFrames = 3) >>
      AggNode(Seq("doc_id"),
        "count(*) as n_frames",
        "max(frame_ts_ms) as last_ts_ms",
        "cast(sum(frame_bytes) as bigint) as total_bytes",
        "cast(sum(frame_sum) as bigint) as total_sum") >>
      SortNode("doc_id") >>
      d.output("result")
  }
  val q32Sql: String =
    """WITH p AS (
      |  SELECT doc_id, cast(2 + doc_id % 5 as int) AS n,
      |         cast(8 + doc_id % 4 as int) AS w, 6 AS h,
      |         cast(doc_id % 199 as int) AS s
      |  FROM documents),
      |keep AS (
      |  SELECT doc_id, w, h, s, fr FROM (
      |    SELECT doc_id, w, h, s, fr,
      |      row_number() OVER (PARTITION BY doc_id ORDER BY fr) AS rn
      |    FROM (SELECT doc_id, w, h, s, unnest(range(0, n)) AS fr FROM p) f
      |    WHERE fr % 2 = 0) t
      |  WHERE rn <= 3),
      |sums AS (
      |  SELECT doc_id, fr, max(w * h * 3) AS fb,
      |    sum((s * 31 + fr * 101 + j * 7) % 256) AS fsum
      |  FROM (SELECT doc_id, w, h, s, fr, unnest(range(0, w * h * 3)) AS j
      |        FROM keep) u
      |  GROUP BY doc_id, fr)
      |SELECT doc_id,
      |  cast(count(*) as bigint) AS n_frames,
      |  cast(max(fr) * 100 as bigint) AS last_ts_ms,
      |  cast(sum(fb) as bigint) AS total_bytes,
      |  cast(sum(fsum) as bigint) AS total_sum
      |FROM sums GROUP BY doc_id ORDER BY doc_id""".stripMargin
  // ---- q54: REAL WAV roundtrip — synthesize a deterministic PCM16 mono
  // RIFF/WAVE payload per doc, then chunk it via the real header walk
  // (fmt/data chunk parse, duration math) and per-chunk decoded-sample
  // energy sums. Sample values are a pure integer function of (doc_id, i)
  // that DuckDB recomputes; 1000 Hz / 100 ms chunks → 100 samples per
  // chunk, capped at 4 chunks. ----
  def q54_audio_chunks(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    d.add(SourceNode.table(dir, "documents")) >>
      new SyntheticAudioNode(
        nSamplesExpr = "cast(100 + doc_id % 400 as int)",
        seedExpr = "cast(doc_id % 199 as int)",
        sampleRate = 1000) >>
      new AudioChunkNode(chunkMs = 100, maxChunks = 4) >>
      AggNode(Seq("doc_id"),
        "count(*) as n_chunks",
        "max(chunk_start_ms) as last_start_ms",
        "cast(sum(n_samples) as bigint) as total_samples",
        "cast(sum(abs_sum) as bigint) as total_abs") >>
      SortNode("doc_id") >>
      d.output("result")
  }
  val q54Sql: String =
    """WITH p AS (
      |  SELECT doc_id, cast(100 + doc_id % 400 as int) AS n, cast(doc_id % 199 as int) AS s
      |  FROM documents),
      |c AS (SELECT doc_id, n, s, least((n + 99) // 100, 4) AS n_chunks FROM p),
      |sm AS (
      |  SELECT doc_id,
      |    count(*) AS total_samples,
      |    sum(abs((s * 31 + i * 7919) % 65536 - 32768)) AS total_abs
      |  FROM (SELECT doc_id, s, unnest(range(0, least(n, 400))) AS i FROM c) u
      |  GROUP BY doc_id)
      |SELECT c.doc_id, cast(c.n_chunks as bigint) AS n_chunks,
      |  cast((c.n_chunks - 1) * 100 as bigint) AS last_start_ms,
      |  cast(sm.total_samples as bigint) AS total_samples,
      |  cast(sm.total_abs as bigint) AS total_abs
      |FROM c JOIN sm USING (doc_id) ORDER BY doc_id""".stripMargin

  // ---- q117: binaryFile ROUNDTRIP THROUGH THE FILESYSTEM — the production
  // media path end to end: synthesize real PNGs, export one FILE per doc
  // via the Hadoop-FS sink, re-ingest the directory with Spark's binaryFile
  // source (path/length/content rows), recover the doc id from the file
  // name, decode, and oracle the channel sums. Exercises listing, file IO,
  // and the id-from-path join a real blob corpus needs. ----
  def q117_binaryfile_roundtrip(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    // deterministic per-SF dir: the sink's overwrite mode reuses it, so
    // repeated Verify/Bench runs do not accumulate /tmp litter
    val tmp = s"/tmp/graft_q117_${math.abs(dir.hashCode)}"
    val sink = d.add(new BinaryFileSinkNode(tmp,
      nameExpr = "concat(cast(doc_id as string), '.png')"))
    d.add(SourceNode.table(dir, "documents")) >>
      FilterNode("doc_id % 17 = 0") >>
      new SyntheticImageNode(
        wExpr = "16 + cast(doc_id % 16 as int)",
        hExpr = "16 + cast((doc_id div 16) % 16 as int)",
        seedExpr = "cast(doc_id % 251 as int)") >>
      sink
    val src = d.add(new BinaryFileSourceNode(tmp, pathGlobFilter = Some("*.png")))
    src.after(sink) // order-only dependency: files must exist before listing
    src >> new DecodeImageNode(payloadCol = "content") >>
      ProjectNode(
        "cast(regexp_extract(path, '([0-9]+)\\\\.png$', 1) as bigint) as doc_id",
        "image_meta.width as w", "image_meta.height as h",
        "image_sums[0] as sum_r", "image_sums[1] as sum_g", "image_sums[2] as sum_b") >>
      SortNode("doc_id") >>
      d.output("result")
  }
  val q117Sql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    16 + cast(doc_id % 16 as int) AS w,
      |    16 + cast((doc_id // 16) % 16 as int) AS h,
      |    cast(doc_id % 251 as int) AS s
      |  FROM documents WHERE doc_id % 17 = 0),
      |v AS (
      |  SELECT doc_id, s, cast(i % w as int) AS x, cast(i // w as int) AS y
      |  FROM (SELECT doc_id, w, h, s, unnest(range(0, w * h)) AS i FROM p) u),
      |sums AS (
      |  SELECT doc_id,
      |    sum((x * 31 + y * 17 + s) % 256) AS sum_r,
      |    sum((x * 7 + y * 13 + 3 * s) % 256) AS sum_g,
      |    sum((x + y + 7 * s) % 256) AS sum_b
      |  FROM v GROUP BY doc_id)
      |SELECT p.doc_id, p.w, p.h,
      |  cast(sums.sum_r as bigint) AS sum_r, cast(sums.sum_g as bigint) AS sum_g,
      |  cast(sums.sum_b as bigint) AS sum_b
      |FROM p JOIN sums USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---- q118: unigram-surprisal quality gate — the perplexity-filter shape
  // in exact integers: LM fit on the English reference subset, ALL docs
  // scored with the mean inverse-frequency surrogate (see
  // UnigramSurpriseNode). DuckDB recomputes counts, total, OOV and the
  // fixed-point mean from the data alone. ----
  def q118_unigram_surprise(spark: SparkSession, dir: String): DataFrame = {
    val d = new Dag("surprise")
    val src = d.add(SourceNode.table(dir, "documents"))
    val en = src >> FilterNode("lang = 'en'")
    val lm = d.add(new UnigramSurpriseNode())
    en >> lm("reference"); src("result") >> lm("df")
    lm >> ProjectNode("doc_id", "n_tokens", "n_oov", "mean_surprise") >>
      SortNode("doc_id") >> d.output("result")
    val ctx = Ctx(spark)
    d.fit(ctx)
    d.transform(ctx).outputs("result")
  }
  val q118Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
      |  FROM documents),
      |t AS (SELECT count(*) AS tt FROM toks WHERE lang = 'en'),
      |fitc AS (SELECT tok, count(*) AS c FROM toks WHERE lang = 'en' GROUP BY tok)
      |SELECT d.doc_id,
      |  count(*) AS n_tokens,
      |  cast(sum(CASE WHEN f.c IS NULL THEN 1 ELSE 0 END) as bigint) AS n_oov,
      |  cast(sum((t.tt * 1000000) // coalesce(f.c, 1)) // count(*) as bigint) AS mean_surprise
      |FROM toks d LEFT JOIN fitc f USING (tok), t
      |GROUP BY d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---- q122: MULTIMODAL curation pipeline end to end (the media analogue
  // of q74): synthesize + decode real PNGs, gate on decoded-raster mean
  // luminance (an exact integer rule over real codec output), count text
  // tokens, deterministic split, per-split doc/token/pixel budget. Every
  // stage is individually oracled (q31, q21, q60); this pins their
  // COMPOSITION through the codec. ----
  def q122_media_curation(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    d.add(SourceNode.table(dir, "documents")) >>
      new SyntheticImageNode(
        wExpr = "16 + cast(doc_id % 16 as int)",
        hExpr = "16 + cast((doc_id div 16) % 16 as int)",
        seedExpr = "cast(doc_id % 251 as int)") >>
      new DecodeImageNode() >>
      WithColumnsNode("mean_lum" ->
        ("(image_sums[0] + image_sums[1] + image_sums[2]) div " +
          "(3L * image_meta.width * image_meta.height)")) >>
      FilterNode("mean_lum >= 125 and mean_lum < 129").named("lum_gate") >>
      new TokenCountNode() >>
      new SplitNode() >>
      AggNode(Seq("split"),
        "count(*) as n_docs",
        "cast(sum(ws_tokens) as bigint) as total_tokens",
        "cast(sum(cast(image_meta.width as bigint) * image_meta.height) as bigint) as total_px") >>
      SortNode("split") >> d.output("result")
  }
  val q122Sql: String =
    """WITH p AS (
      |  SELECT doc_id, text,
      |    16 + cast(doc_id % 16 as int) AS w,
      |    16 + cast((doc_id // 16) % 16 as int) AS h,
      |    cast(doc_id % 251 as int) AS s
      |  FROM documents),
      |v AS (
      |  SELECT doc_id, s, cast(i % w as int) AS x, cast(i // w as int) AS y
      |  FROM (SELECT doc_id, w, h, s, unnest(range(0, w * h)) AS i FROM p) u),
      |sums AS (
      |  SELECT doc_id,
      |    sum((x * 31 + y * 17 + s) % 256) + sum((x * 7 + y * 13 + 3 * s) % 256)
      |      + sum((x + y + 7 * s) % 256) AS lumsum
      |  FROM v GROUP BY doc_id),
      |keep AS (
      |  SELECT p.doc_id, p.w, p.h, p.text
      |  FROM p JOIN sums USING (doc_id)
      |  WHERE lumsum // (3 * p.w * p.h) >= 125 AND lumsum // (3 * p.w * p.h) < 129),
      |s AS (
      |  SELECT doc_id, w, h,
      |    len(regexp_split_to_array(lower(trim(text)), '\s+')) AS t,
      |    CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
      |  FROM (SELECT *,
      |          cast('0x' || substring(md5(cast(doc_id as varchar)), 1, 8) as ubigint) % 100 AS b
      |        FROM keep) k)
      |SELECT split, count(*) AS n_docs,
      |  cast(sum(t) as bigint) AS total_tokens,
      |  cast(sum(w * h) as bigint) AS total_px
      |FROM s GROUP BY split ORDER BY split""".stripMargin

  // ---- q123: training-shard assignment by cumulative token budget — the
  // distributed global prefix sum (order-key-derived buckets, per-bucket
  // window + tiny offset frame; no single-partition ORDER BY stage). The
  // oracle recomputes the same greedy packing with one global window at
  // test scale. ----
  def q123_token_shards(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    d.add(SourceNode.table(dir, "documents")) >>
      new TokenCountNode() >>
      new TokenShardNode(weightExpr = "ws_tokens", budget = 2000L, buckets = 16) >>
      AggNode(Seq("shard_id"),
        "count(*) as n_docs",
        "cast(sum(ws_tokens) as bigint) as total_tokens") >>
      SortNode("shard_id") >> d.output("result")
  }
  val q123Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    len(regexp_split_to_array(lower(trim(text)), '\s+')) AS w,
      |    cast(cast('0x' || substring(md5(cast(doc_id as varchar)), 1, 8) as ubigint) as bigint) AS ord
      |  FROM documents),
      |c AS (SELECT doc_id, w,
      |        sum(w) OVER (ORDER BY ord, doc_id ROWS UNBOUNDED PRECEDING) AS pref
      |      FROM t)
      |SELECT cast((pref - w) // 2000 as bigint) AS shard_id,
      |  count(*) AS n_docs, cast(sum(w) as bigint) AS total_tokens
      |FROM c GROUP BY shard_id ORDER BY shard_id""".stripMargin

  // ---- q60: deterministic hash-mod train/val/test split ----
  def q60_split(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    d.add(SourceNode.table(dir, "documents")) >>
      new SplitNode() >>
      AggNode(Seq("split"), "count(*) as n", "min(doc_id) as first_id") >>
      SortNode("split") >>
      d.output("result")
  }
  val q60Sql: String =
    """SELECT split, count(*) AS n, min(doc_id) AS first_id FROM (
      |  SELECT doc_id,
      |    CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
      |  FROM (SELECT doc_id,
      |          cast('0x' || substring(md5(cast(doc_id as varchar)), 1, 8) as ubigint) % 100 AS b
      |        FROM documents) t) s
      |GROUP BY split ORDER BY split""".stripMargin

  // ---- q70: deterministic stratified sampling (SampleNode) — downsample
  // the dominant order statuses at different rates; hash-exact because the
  // md5-mod keep-set is a pure function of the id on both engines ----
  def q70_stratified_sample(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    d.add(SourceNode.table(dir, "orders")) >>
      new SampleNode(idCol = "o_orderkey", fraction = 0.1,
        strataCol = Some("o_orderstatus"), fractions = Seq("O" -> 0.05, "F" -> 0.2)) >>
      AggNode(Seq("o_orderstatus"), "count(*) as n",
        "cast(sum(cast(o_totalprice as decimal(18,2))) as double) as sum_price") >>
      SortNode("o_orderstatus") >> d.output("result")
  }
  val q70Sql: String =
    """SELECT o_orderstatus, count(*) AS n,
      |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sum_price
      |FROM orders
      |WHERE cast('0x' || substring(md5(cast(o_orderkey as varchar)), 1, 8) as ubigint) % 1000000
      |  < (CASE WHEN o_orderstatus = 'O' THEN 50000
      |          WHEN o_orderstatus = 'F' THEN 200000 ELSE 100000 END)
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---- q72: intra-document repetition scoring (Gopher-style quality rule).
  // Hashed-shingle distinct counts equal string-shingle distinct counts
  // absent xxhash64 collisions (the q57 equivalence), and the duplicate
  // fraction is an IEEE division of the same two integers on both engines —
  // bit-exact doubles. ----
  def q72_repetition(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    d.add(SourceNode.table(dir, "documents")) >>
      new RepetitionScoreNode(ns = Seq(2, 3)) >>
      ProjectNode("doc_id", "dup2gram_frac", "dup3gram_frac") >>
      SortNode("doc_id") >> d.output("result")
  }
  val q72Sql: String =
    """SELECT doc_id,
      |  1.0 - cast(len(list_distinct(s2)) as double) / greatest(len(s2), 1) AS dup2gram_frac,
      |  1.0 - cast(len(list_distinct(s3)) as double) / greatest(len(s3), 1) AS dup3gram_frac
      |FROM (
      |  SELECT doc_id,
      |    list_transform(range(1, greatest(len(t) - 1, 1) + 1),
      |      i -> array_to_string(t[i:i+1], ' ')) AS s2,
      |    list_transform(range(1, greatest(len(t) - 2, 1) + 1),
      |      i -> array_to_string(t[i:i+2], ' ')) AS s3
      |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |        FROM documents) toks) sh
      |ORDER BY doc_id""".stripMargin

  // ---- q73: benchmark decontamination — per-doc fraction of distinct
  // 3-gram shingles that occur anywhere in a small "eval set" (docs < 20
  // stand in for it). The benchmark shingle set broadcasts; the corpus side
  // is one narrow pass + an equi-join + one groupBy on the doc id. ----
  def q73_contamination(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    val src = d.add(SourceNode.table(dir, "documents"))
    val bench = src >> FilterNode("doc_id < 20").named("bench")
    val corpus = src("result") >> FilterNode("doc_id >= 20").named("corpus")
    val cont = d.add(new ContaminationNode(shingleN = 3))
    corpus >> cont("docs"); bench >> cont("benchmark")
    cont >> SortNode("doc_id") >> d.output("result")
  }
  val q73Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
      |    i -> array_to_string(t[i:i+2], ' '))) AS s
      |  FROM toks),
      |bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < 20),
      |docs AS (SELECT doc_id, s FROM sh WHERE doc_id >= 20),
      |m AS (
      |  SELECT d.doc_id, count(*) AS n_matched
      |  FROM (SELECT doc_id, unnest(s) AS g FROM docs) d JOIN bench USING (g)
      |  GROUP BY d.doc_id)
      |SELECT d.doc_id, len(d.s) AS n_shingles, coalesce(m.n_matched, 0) AS n_matched,
      |  cast(coalesce(m.n_matched, 0) as double) / len(d.s) AS overlap_frac
      |FROM docs d LEFT JOIN m ON d.doc_id = m.doc_id ORDER BY d.doc_id""".stripMargin

  // ---- q74: the full curation pipeline, end to end — repetition gate ->
  // benchmark decontamination -> exact dedup -> deterministic split -> token
  // budget per split. Every stage is individually oracled (q72, q73, q20,
  // q60, q21); this entry pins their COMPOSITION: filters feed joins feed
  // dedup feed split, all deterministic, so DuckDB replays the whole
  // pipeline and the per-split document/token budget must match bit-exact.
  def q74_curation(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    val src = d.add(SourceNode.table(dir, "documents"))
    val bench = src >> FilterNode("doc_id < 10").named("bench")
    val corpus = src("result") >> FilterNode("doc_id >= 10").named("corpus0")
    // 1. repetition gate (appends dup3gram_frac, keeps all columns)
    val rep = corpus >> new RepetitionScoreNode(ns = Seq(3)) >>
      FilterNode("dup3gram_frac <= 0.2").named("rep_gate")
    // 2. decontamination: overlap vs the benchmark set; keep clean ids and
    // LEFT SEMI join them back (rep fans out to the scorer and the join —
    // persisted). The id list is O(corpus) rows: a broadcast here would
    // driver-collect the whole corpus at scale (VERDICT r5 #2) — semi join
    // shuffles both sides on doc_id instead, and AQE may still elect a
    // broadcast when the runtime size proves small.
    val cont = d.add(new ContaminationNode(shingleN = 3))
    rep >> cont("docs"); bench >> cont("benchmark")
    val cleanIds = cont >> FilterNode("overlap_frac < 0.5") >>
      ProjectNode("doc_id").named("clean_ids")
    val clean = d.add(JoinNode.using(Seq("doc_id"), joinType = "left_semi").named("clean_join"))
    rep("result") >> clean("left"); cleanIds >> clean("right")
    // 3. exact dedup on normalized text; survivors semi-join back for their
    // text (same corpus-sized-right-side reasoning as clean_join)
    val ded = d.add(new ExactDedupNode(
      Seq("md5(cast(regexp_replace(lower(trim(text)), '\\\\s+', ' ') as binary))"),
      "doc_id").named("exact"))
    clean >> ded
    val surv = d.add(JoinNode.using(Seq("doc_id"), joinType = "left_semi").named("surv_join"))
    clean("result") >> surv("left")
    ded >> ProjectNode("doc_id").named("surv_ids") >> surv("right")
    // 4. split + token budget
    surv >> new TokenCountNode() >> new SplitNode() >>
      AggNode(Seq("split"), "count(*) as n_docs",
        "cast(sum(ws_tokens) as bigint) as total_tokens") >>
      SortNode("split") >> d.output("result")
  }
  val q74Sql: String =
    """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id >= 10),
      |rep AS (
      |  SELECT doc_id, text FROM (
      |    SELECT doc_id, text,
      |      1.0 - cast(len(list_distinct(s3)) as double) / greatest(len(s3), 1) AS f
      |    FROM (SELECT doc_id, text,
      |            list_transform(range(1, greatest(len(t) - 2, 1) + 1),
      |              i -> array_to_string(t[i:i+2], ' ')) AS s3
      |          FROM (SELECT doc_id, text,
      |                  regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |                FROM corpus) a) b) c
      |  WHERE f <= 0.2),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
      |    i -> array_to_string(t[i:i+2], ' '))) AS s
      |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM rep) x),
      |bsh AS (
      |  SELECT DISTINCT unnest(s) AS g FROM (
      |    SELECT list_distinct(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
      |      i -> array_to_string(t[i:i+2], ' '))) AS s
      |    FROM (SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |          FROM documents WHERE doc_id < 10) y) z),
      |m AS (
      |  SELECT d.doc_id, count(*) AS nm
      |  FROM (SELECT doc_id, unnest(s) AS g FROM sh) d JOIN bsh USING (g)
      |  GROUP BY d.doc_id),
      |clean AS (
      |  SELECT r.doc_id, r.text FROM rep r JOIN (
      |    SELECT sh.doc_id FROM sh LEFT JOIN m ON sh.doc_id = m.doc_id
      |    WHERE cast(coalesce(m.nm, 0) as double) / len(sh.s) < 0.5) ok
      |  ON r.doc_id = ok.doc_id),
      |ded AS (
      |  SELECT min(doc_id) AS doc_id FROM clean
      |  GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))),
      |surv AS (SELECT c.doc_id, c.text FROM clean c JOIN ded USING (doc_id))
      |SELECT split, count(*) AS n_docs, cast(sum(toks) as bigint) AS total_tokens
      |FROM (
      |  SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split,
      |    len(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks
      |  FROM (SELECT doc_id, text,
      |          cast('0x' || substring(md5(cast(doc_id as varchar)), 1, 8) as ubigint) % 100 AS b
      |        FROM surv) t) g
      |GROUP BY split ORDER BY split""".stripMargin

  // ---- q124 (round-7 flagship): the ENTIRE pretraining-curation chain as
  // one DAG, every operator family at once — heuristic quality gate →
  // lang-id gate → exact dedup → MinHash near-dup survivors (saturated
  // 0.8/16-band regime, the q25-verified exact-pair contract) → benchmark
  // decontamination → per-source quantile quality gate → domain-mix
  // resampling → sequence packing → budget shard assignment. Each stage is
  // individually oracled (q89, q23, q20, q25/q44, q73, q105, q79, q78,
  // q123); this entry pins their COMPOSITION end to end: DuckDB replays
  // the whole pipeline and the per-shard doc/token/sequence/copy totals
  // must match bit-exact. A regression in ANY stage — a gate rule, the
  // argmax tie-break, a survivor choice, a quantile, a hash band, a
  // cumsum — moves some integer and breaks the hash. ----
  def q124_flagship_pipeline(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    val src = d.add(SourceNode.table(dir, "documents"))
    val bench = src >> FilterNode("doc_id < 10").named("bench")
    val corpus = src("result") >> FilterNode("doc_id >= 10").named("corpus0")
    // 1. heuristic quality gate (the q89 configuration)
    val gated = corpus >> new HeuristicFilterNode(minWords = 40, maxWords = 100000,
      minMeanWordLen = 2.0, maxMeanWordLen = 10.0,
      minAlphaWordFrac = 0.8, minStopwordHits = 1, keepOnly = true)
    // 2. language gate: marker-argmax English only
    val en = gated >> new LangIdNode("text") >>
      FilterNode("pred_lang = 'en'").named("en_gate")
    // 3. exact dedup on normalized text; survivors semi-join their rows back
    // (the id list is corpus-sized: semi join, never a broadcast — q74)
    val ded = d.add(new ExactDedupNode(
      Seq(s"md5(cast($sparkNorm as binary))"), "doc_id").named("exact"))
    en >> ded
    val exact = d.add(JoinNode.using(Seq("doc_id"), joinType = "left_semi").named("exact_join"))
    en("result") >> exact("left")
    ded >> ProjectNode("doc_id").named("exact_ids") >> exact("right")
    // 4. MinHash near-dup pairs (saturated regime) → greedy survivor drop
    val pairs = exact >> new MinHashDedupNode(
      numHashes = 32, bands = 16, shingleN = 3, jaccardThreshold = 0.8)
    val nd0 = d.add(new DedupSurvivorsNode())
    exact("result") >> nd0("docs"); pairs >> nd0("pairs")
    // plan barrier: by this point the logical tree carries the whole
    // gate+dedup block; truncating lineage here (and after the quantile
    // gate below) cut the sf0.1 wall time 19.5 -> 7.0 s — the growth was
    // Catalyst re-analysis, not execution (CheckpointNode eager=false doc)
    val nd = nd0 >> new CheckpointNode(eager = false)
    // 5. benchmark decontamination (docs < 10 stand in for the eval set)
    val cont = d.add(new ContaminationNode(shingleN = 3))
    nd >> cont("docs"); bench >> cont("benchmark")
    val cleanIds = cont >> FilterNode("overlap_frac < 0.5") >>
      ProjectNode("doc_id").named("clean_ids")
    val clean = d.add(JoinNode.using(Seq("doc_id"), joinType = "left_semi").named("clean_join"))
    nd("result") >> clean("left"); cleanIds >> clean("right")
    // 6. per-source median quality gate (exact percentile, q105 parity)
    val qual = clean >> new QuantileFilterNode(scoreExpr = "n_chars",
      keepFrac = 0.5, groupCols = Seq("source")) >> new CheckpointNode(eager = false)
    // 7. domain-mix resampling: upsample src0 2x, halve src1, keep the rest
    val mixed = qual >> new DomainMixNode(Seq("src0" -> 2.0, "src1" -> 0.5)) >>
      new WithColumnsNode(Seq("uid" -> "doc_id * 10 + copy")) // unique per copy
    // 8. token counts → sequence packing → budget shard assignment
    mixed >> new TokenCountNode() >>
      new SequencePackNode(idCol = "uid", tokensCol = Some("ws_tokens"),
        seqLen = 256, shards = 8) >>
      new TokenShardNode(idCol = "uid", weightExpr = "ws_tokens",
        budget = 2000L, buckets = 16) >>
      AggNode(Seq("shard_id"),
        "count(*) as n_docs",
        "cast(sum(ws_tokens) as bigint) as total_tokens",
        "cast(sum(n_seqs) as bigint) as total_seqs",
        "cast(max(copy) as bigint) as max_copy") >>
      SortNode("shard_id") >>
      d.output("result")
  }
  val q124Sql: String = {
    val mixHash = DetHash.duckExpr(
      "coalesce(source, '') || '|' || coalesce(cast(doc_id as varchar), '')", 1000000L)
    val packShard = DetHash.duckExpr("cast(uid as varchar)", 8)
    s"""WITH t AS (
       |  SELECT doc_id, source, n_chars, text,
       |    regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
       |    string_split(text, chr(10)) AS lines,
       |    length(regexp_replace(text, '\\s+', '', 'g')) AS nchar_ns
       |  FROM documents WHERE doc_id >= 10),
       |gated AS (
       |  SELECT doc_id, source, n_chars, text, toks FROM t
       |  WHERE len(toks) >= 40 AND len(toks) <= 100000
       |    AND cast(nchar_ns as double) / greatest(len(toks), 1) BETWEEN 2.0 AND 10.0
       |    AND cast(len(regexp_extract_all(text, '#|\\.\\.\\.|…')) as double)
       |        / greatest(len(toks), 1) <= 0.1
       |    AND cast(len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]'))) as double)
       |        / greatest(len(lines), 1) <= 0.9
       |    AND cast(len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$$'))) as double)
       |        / greatest(len(lines), 1) <= 0.3
       |    AND cast(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) as double)
       |        / greatest(len(toks), 1) >= 0.8
       |    AND len(list_intersect(list_distinct(toks),
       |        ['the','be','to','of','and','that','have','with'])) >= 1),
       |lang AS (
       |  SELECT doc_id, source, n_chars, text, toks FROM (
       |    SELECT *,
       |      len(list_filter(toks, t2 -> list_contains(['the','a','of','and','to','in','is','for','with','on'], t2))) AS s_en,
       |      len(list_filter(toks, t2 -> list_contains(['der','die','das','und','ist','ein','mit','für','von','auf'], t2))) AS s_de,
       |      len(list_filter(toks, t2 -> list_contains(['le','la','les','et','est','un','une','pour','avec','dans'], t2))) AS s_fr,
       |      len(list_filter(toks, t2 -> list_contains(['el','la','los','las','y','es','un','una','para','con'], t2))) AS s_es,
       |      len(list_filter(toks, t2 -> list_contains(['的','是','在','了','和','有','我','他','这','中'], t2))) AS s_zh
       |    FROM gated) sc
       |  WHERE s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh),
       |ded AS (
       |  SELECT min(doc_id) AS doc_id FROM lang
       |  GROUP BY md5($duckNorm)),
       |ex AS (SELECT l.* FROM lang l JOIN ded USING (doc_id)),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
       |    i -> array_to_string(toks[i:i+2], ' '))) AS s3
       |  FROM ex),
       |ndl AS (
       |  SELECT DISTINCT b.doc_id FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE cast(len(list_distinct(list_intersect(a.s3, b.s3))) as double)
       |        / len(list_distinct(list_concat(a.s3, b.s3))) >= 0.8),
       |nd AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM ndl)),
       |bsh AS (
       |  SELECT DISTINCT unnest(s) AS g3 FROM (
       |    SELECT list_distinct(list_transform(range(1, greatest(len(t2) - 2, 1) + 1),
       |      i -> array_to_string(t2[i:i+2], ' '))) AS s
       |    FROM (SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS t2
       |          FROM documents WHERE doc_id < 10) y) z),
       |dsh AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
       |    i -> array_to_string(toks[i:i+2], ' '))) AS s
       |  FROM nd),
       |m AS (
       |  SELECT d2.doc_id, count(*) AS nm
       |  FROM (SELECT doc_id, unnest(s) AS g3 FROM dsh) d2 JOIN bsh USING (g3)
       |  GROUP BY d2.doc_id),
       |clean AS (
       |  SELECT nd.* FROM nd JOIN (
       |    SELECT dsh.doc_id FROM dsh LEFT JOIN m ON dsh.doc_id = m.doc_id
       |    WHERE cast(coalesce(m.nm, 0) as double) / len(dsh.s) < 0.5) ok USING (doc_id)),
       |thr AS (SELECT source, quantile_cont(n_chars, 0.5) AS th FROM clean GROUP BY source),
       |qual AS (SELECT c.* FROM clean c JOIN thr USING (source) WHERE c.n_chars >= thr.th),
       |mixed AS (
       |  SELECT doc_id, source, w, unnest(generate_series(1, copies)) AS copy FROM (
       |    SELECT doc_id, source, len(toks) AS w,
       |      (CASE WHEN source = 'src0' THEN 2 WHEN source = 'src1' THEN 0 ELSE 1 END)
       |      + (CASE WHEN h < (CASE WHEN source = 'src1' THEN 500000 ELSE 0 END)
       |         THEN 1 ELSE 0 END) AS copies
       |    FROM (SELECT doc_id, source, toks, $mixHash AS h FROM qual) a) b
       |  WHERE copies >= 1),
       |u AS (SELECT doc_id * 10 + copy AS uid, w, copy FROM mixed),
       |pk AS (
       |  SELECT uid, w, copy,
       |    cast(coalesce(sum(w) OVER (PARTITION BY shard8 ORDER BY uid
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) as bigint) AS start_tok
       |  FROM (SELECT uid, w, copy, $packShard AS shard8 FROM u) p),
       |sq AS (
       |  SELECT uid, w, copy,
       |    ((start_tok + greatest(w, 1) - 1) // 256) - (start_tok // 256) + 1 AS n_seqs
       |  FROM pk),
       |ts AS (
       |  SELECT uid, w, copy, n_seqs,
       |    sum(w) OVER (ORDER BY ord, uid ROWS UNBOUNDED PRECEDING) AS pref
       |  FROM (SELECT uid, w, copy, n_seqs,
       |          cast(cast('0x' || substring(md5(cast(uid as varchar)), 1, 8) as ubigint) as bigint) AS ord
       |        FROM sq) o)
       |SELECT cast((pref - w) // 2000 as bigint) AS shard_id,
       |  count(*) AS n_docs,
       |  cast(sum(w) as bigint) AS total_tokens,
       |  cast(sum(n_seqs) as bigint) AS total_seqs,
       |  cast(max(copy) as bigint) AS max_copy
       |FROM ts GROUP BY shard_id ORDER BY shard_id""".stripMargin
  }

  // ---- q77: predicate router — first-match routing into per-branch
  // topology (the multi-output analogue of a tag column): English docs,
  // then long non-English docs, then everything else; each branch
  // aggregates independently and the union must reproduce the oracle's
  // CASE-expression partition exactly (order-sensitive: an English doc
  // longer than the threshold must land in 'en', not 'long'). ----
  def q77_router(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    val src = d.add(SourceNode.table(dir, "documents"))
    val r = d.add(new RouterNode(Seq(
      "en" -> "lang = 'en'",
      "long" -> "n_chars > 400")))
    src >> r("df")
    val u = d.add(new UnionNode())
    Seq("en", "long", "otherwise").foreach { nm =>
      val agg = d.add(new AggNode(Nil,
        Seq("count(*) as n", "cast(sum(n_chars) as bigint) as chars")).named(s"agg_$nm"))
      r(nm) >> agg("df")
      val tag = d.add(ProjectNode(s"'$nm' as route", "n", "chars").named(s"tag_$nm"))
      agg >> tag
      tag >> u("dfs")
    }
    // a route with no rows yields a global-agg 0-row in Spark but no group
    // in the oracle's GROUP BY — drop empties on both sides' terms
    u >> FilterNode("n > 0") >> SortNode("route") >> d.output("result")
  }
  val q77Sql: String =
    """SELECT route, count(*) AS n, cast(sum(n_chars) as bigint) AS chars FROM (
      |  SELECT CASE WHEN lang = 'en' THEN 'en'
      |              WHEN n_chars > 400 THEN 'long'
      |              ELSE 'otherwise' END AS route, n_chars
      |  FROM documents) t
      |GROUP BY route HAVING count(*) > 0 ORDER BY route""".stripMargin

  // ---- q61: overlapping token-window chunking ----
  def q61_chunk(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    d.add(SourceNode.table(dir, "documents")) >>
      new ChunkNode(chunkTokens = 32, overlap = 4) >>
      AggNode(Seq("doc_id"),
        "count(*) as n_chunks",
        "sum(cast(n_chunk_tokens as bigint)) as total_tokens",
        "max(length(chunk_text)) as max_chunk_chars") >>
      SortNode("doc_id") >>
      d.output("result")
  }
  val q61Sql: String = {
    // same stride arithmetic: starts 0, 28, 56, ... (chunk 32, overlap 4);
    // DuckDB list slicing t[a:b] is 1-based inclusive like Spark slice().
    // The per-row unnest(range(...)) bound is row-derived — no silent cap on
    // document length.
    val toks = "regexp_split_to_array(lower(trim(text)), '\\s+')"
    s"""SELECT doc_id, count(*) AS n_chunks,
       |  cast(sum(len(chunk)) as bigint) AS total_tokens,
       |  max(length(array_to_string(chunk, ' '))) AS max_chunk_chars
       |FROM (
       |  SELECT doc_id, toks[(s * 28 + 1):(s * 28 + 32)] AS chunk
       |  FROM (
       |    SELECT doc_id, toks,
       |      unnest(range(0, greatest(cast(ceil((len(toks) - 32) / 28.0) as int), 0) + 1)) AS s
       |    FROM (SELECT doc_id, $toks AS toks FROM documents) d) u) c
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- q62: PII redaction — deterministic PII injected per row, scrubbed,
  // tag occurrences counted; oracle replicates the regexp chain in DuckDB ----
  def q62_redact(spark: SparkSession, dir: String): DataFrame = run(spark) { d =>
    val src = d.add(SourceNode.table(dir, "documents"))
    src >> WithColumnsNode(
        "text2" -> ("concat(text, ' contact user', cast(doc_id as string), " +
          "'@example.com or 555-123-', lpad(cast(doc_id % 10000 as string), 4, '0'), " +
          "' ssn 123-45-6789 ip 10.0.0.', cast(doc_id % 256 as string))")) >>
      new RedactNode("text2") >>
      ProjectNode("doc_id",
        "cast((length(redacted) - length(replace(redacted, '<EMAIL>', ''))) / 7 as bigint) as n_email",
        "cast((length(redacted) - length(replace(redacted, '<SSN>', ''))) / 5 as bigint) as n_ssn",
        "cast((length(redacted) - length(replace(redacted, '<PHONE>', ''))) / 7 as bigint) as n_phone",
        "cast((length(redacted) - length(replace(redacted, '<IPV4>', ''))) / 6 as bigint) as n_ipv4") >>
      SortNode("doc_id") >>
      d.output("result")
  }
  val q62Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    text || ' contact user' || cast(doc_id as varchar) || '@example.com or 555-123-'
      |      || lpad(cast(doc_id % 10000 as varchar), 4, '0')
      |      || ' ssn 123-45-6789 ip 10.0.0.' || cast(doc_id % 256 as varchar) AS text2
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(text2,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
      |    '\b(\+?1[ .-]?)?(\([0-9]{3}\)|[0-9]{3})[ .-][0-9]{3}[ .-][0-9]{4}\b', '<PHONE>', 'g'),
      |    '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IPV4>', 'g') AS redacted
      |  FROM t)
      |SELECT doc_id,
      |  cast((length(redacted) - length(replace(redacted, '<EMAIL>', ''))) / 7 as bigint) AS n_email,
      |  cast((length(redacted) - length(replace(redacted, '<SSN>', ''))) / 5 as bigint) AS n_ssn,
      |  cast((length(redacted) - length(replace(redacted, '<PHONE>', ''))) / 7 as bigint) AS n_phone,
      |  cast((length(redacted) - length(replace(redacted, '<IPV4>', ''))) / 6 as bigint) AS n_ipv4
      |FROM r ORDER BY doc_id""".stripMargin

  /** (name, query, oracleSql | null) */
  val entries: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("q20_dedup_exact", q20_dedup_exact _, q20Sql),
    ("q21_token_count", q21_token_count _, q21Sql),
    ("q22_quality", q22_quality _, q22Sql),
    ("q23_lang_id", q23_lang_id _, q23Sql),
    ("q24_fingerprint", q24_fingerprint _, q24Sql),
    ("q25_minhash_dedup", q25_minhash_dedup _, q25Sql),
    ("q26_simhash_dedup", q26_simhash_dedup _, q26Sql),
    ("q27_ngram_jaccard", q27_ngram_jaccard _, q27Sql),
    ("q28_knn_brute", q28_knn_brute _, q28Sql),
    ("q29_ann_lsh", q29_ann_lsh _, q29Sql),
    ("q30_embedding_neardup", q30_embedding_neardup _, q30Sql),
    ("q31_multimodal", q31_multimodal _, q31Sql),
    ("q32_frame_sample", q32_frame_sample _, q32Sql),
    ("q54_audio_chunks", q54_audio_chunks _, q54Sql),
    ("q117_binaryfile_roundtrip", q117_binaryfile_roundtrip _, q117Sql),
    ("q118_unigram_surprise", q118_unigram_surprise _, q118Sql),
    ("q122_media_curation", q122_media_curation _, q122Sql),
    ("q123_token_shards", q123_token_shards _, q123Sql),
    ("q60_split", q60_split _, q60Sql),
    ("q70_stratified_sample", q70_stratified_sample _, q70Sql),
    ("q72_repetition", q72_repetition _, q72Sql),
    ("q73_contamination", q73_contamination _, q73Sql),
    ("q74_curation", q74_curation _, q74Sql),
    ("q124_flagship_pipeline", q124_flagship_pipeline _, q124Sql),
    ("q77_router", q77_router _, q77Sql),
    ("q61_chunk", q61_chunk _, q61Sql),
    ("q62_redact", q62_redact _, q62Sql),
  )
}
