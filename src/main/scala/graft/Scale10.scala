package graft

import graft.dag._
import graft.nodes._
import graft.queries.Queries
import org.apache.spark.sql.functions._

/** 10x scale probe (dev main, not part of the driver contract): clones sf0.1
  * tables 10x into /tmp with shifted ids — documents keep 10-way duplicate
  * families (the realistic web-crawl dedup load) — then times the operators
  * whose cost could scale superlinearly. Run:
  *   SPARK_GRAFT_CPUS=16 sbt "runMain graft.Scale10"
  */
object Scale10 {
  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 10
    val queries = if (args.length > 1) args(1).split(",").toSeq else Nil
    val spark = GraftSession()
    val src = "/root/testdata/sf0.1"
    val out = s"/tmp/scale$factor"

    def cloneK(table: String, idCols: Seq[String]): Unit = {
      val p = s"$out/$table.parquet"
      if (new java.io.File(p).exists()) return
      if (table == "events") spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val base = spark.read.parquet(s"$src/$table.parquet")
      val copies = (0 until factor).map { i =>
        idCols.foldLeft(base)((d, c) => d.withColumn(c, col(c) + lit(i.toLong * 100000000L)))
      }
      copies.reduce(_ unionByName _).repartition(math.max(factor, 8))
        .write.mode("overwrite").parquet(p)
    }
    cloneK("documents", Seq("doc_id"))
    cloneK("embeddings", Seq("vec_id"))
    cloneK("events", Seq("event_id")) // user_id NOT shifted: same user population
    cloneK("orders", Seq("o_orderkey")) // o_custkey NOT shifted: per-key density
    cloneK("lineitem", Seq("l_orderkey")) // q158's profile source
    // dims stay CONSTANT while facts grow k-fold — the realistic star
    // shape (q197/q198/q204's materialized views join k-fold orders
    // against the fixed customer dimension); plain copy, NOT cloned
    Seq("customer", "nation").foreach { t =>
      val p = s"$out/$t.parquet"
      if (!new java.io.File(p).exists())
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(p)
    }
    // grows k-fold on BOTH as-of sides — the expand path's L*R blowup is k^2
    // per key while the merge path stays (L+R)*k; q15 probes exactly this

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[scale10] $label%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
      spark.catalog.clearCache()
    }

    val defaults = Seq("q20_dedup_exact", "q21_token_count", "q22_quality", "q24_fingerprint",
      "q25_minhash_dedup", "q26_simhash_dedup", "q27_ngram_jaccard", "q29_ann_lsh",
      "q50_ivf_knn", "q51_pipeline", "q52_dedup_clusters", "q13_json", "q16_tumbling_window",
      "q15_asof_join",
      "q83_heuristic_filter", "q84_semdedup", "q88_bpe_roundtrip", "q89_pretrain_pipeline",
      // round-5 additions: posting-list retrieval (df-cap pruning is the
      // superlinear hazard), index fit at k-fold corpus with constant delta,
      // window sessionization, bigram mining, per-group calibration,
      // degree-oriented triangles on a k-fold-denser graph
      "q98_sparse_topk", "q100_bm25_topk", "q101_incremental_dedup",
      "q102_sessionize", "q103_collocations", "q105_quantile_gate",
      "q107_triangles", "q95_pagerank",
      "q109_histogram", "q110_checkpoint_pipeline", "q111_merge_intervals",
      "q112_compact_latest", "q113_compact_history",
      // round-6 additions: real PNG codec (per-row decode cost k-fold),
      // two-generation index refresh (update path at k-fold corpus), LM
      // fit+score (vocabulary join is the superlinear hazard)
      "q31_multimodal", "q116_index_refresh", "q118_unigram_surprise",
      // round-7 additions: real AVI synth+parse (per-row container cost
      // k-fold), int8 IVF (quantized coarse pass at k-fold corpus), the
      // full flagship chain (its minhash pair stage is the superlinear
      // hazard; 10-way dup families stress the survivor drop)
      "q32_frame_sample", "q125_ivf_int8", "q124_flagship_pipeline",
      // round-7 session additions: classifier (vocab join at k-fold corpus
      // AND k-fold seed is the hazard), temperature mix (narrow + K-row
      // broadcast — should be flat), incremental flagship (index fit at
      // k-fold base, bounded delta)
      "q126_lm_classifier", "q128_temperature_mix", "q130_incremental_flagship",
      // round-10 additions: span dedup (token-position table is the
      // superlinear hazard), incremental IVF index (bounded fit + delta
      // assignment should stay near-flat), URL canon (flat narrow map),
      // production-df BM25 twin
      "q137_span_dedup", "q138_ivf_index_day2", "q139_url_canon",
      "q136_bm25_production", "q140_best_survivor", "q141_inverted_index_day2",
      "q142_incremental_embedding_neardup",
      // round-11 additions: streamed index maintenance (per-micro-batch
      // merge at k-fold corpus — the union/df-merge legs are the hazard),
      // small-file compaction (k-fold bytes through one repartition),
      // sketch profile (one aggregate pass — should be flat), streaming
      // CDC apply (per-batch base re-read at k-fold base is the hazard)
      "q147_stream_lexical_maintenance", "q148_stream_ann_maintenance",
      "q149_compact_files", "q150_sketch_profile", "q151_stream_cdc_apply",
      "q152_stream_ann_serving_production", "q154_stream_neardup_maintenance",
      "q155_publish_profiles", "q156_incremental_clusters",
      "q157_stream_cluster_maintenance",
      // round-12 additions: numeric profiles (one aggregate pass — flat),
      // index deletes (anti joins at k-fold corpus — linear), streamed CDC
      // maintenance (delete+append per batch at k-fold index), IVF rebuild
      // (k-fold re-assign through the broadcast path), minhash bucket
      // re-derivation (k-fold skinny shingle pass), cluster delete (overlay
      // masking — the base must NOT relayout)
      "q158_numeric_profile_merge", "q159_hist_quantiles", "q160_hist_drift",
      "q161_inverted_index_delete", "q162_ann_index_delete",
      "q163_cluster_index_delete", "q164_stream_cdc_index_maintenance",
      "q165_ivf_rebuild", "q166_publish_numeric_profiles",
      "q167_minhash_rebuild",
      // round-12 capstones: one CDC stream into corpus + index (per-batch
      // base re-read + index delete/append at k-fold are the hazards),
      // drift gate (k-fold publish + one profile-table join)
      "q168_cdc_lakehouse_consistency", "q169_cdc_drift_gate",
      // quantized incremental ANN (k-fold code derivation + coarse pass)
      "q170_ivf_quantized_day2",
      // incremental BM25 (k-fold postings + df decrement; bounded batch)
      "q171_bm25_index_day2", "q172_bm25_index_delete",
      // merge-on-read CDC (per-batch work is O(delta); the compaction fold
      // and the final resolved read are the only corpus-sized legs) and
      // file-stats data skipping (k-fold publish; the pruned read should
      // stay ~flat — it opens only the files intersecting the fixed range)
      "q173_cdc_merge_on_read", "q174_stats_pruned_scan",
      "q175_mor_lakehouse_consistency",
      // vacuum is FS metadata + one publish pipeline — should stay ~flat
      "q176_vacuum",
      // image near-dup: bounded 300-doc batch by design — flat; the banding
      // join is the hazard only when the input set scales (covered by the
      // maxBucket cap drill)
      "q177_image_neardup",
      // incremental image index: k-fold ledger/bucket unions + anti joins;
      // the streamed twin adds per-micro-batch fixed overhead
      "q178_image_index_day2", "q179_stream_image_maintenance",
      // audio/video near-dup: bounded 300-doc batches by design — flat
      "q180_audio_neardup", "q181_video_neardup",
      "q182_multimodal_consensus", "q183_stream_image_serving",
      "q184_simhash_index_day2",
      // round-13 additions: materialized aggregates (ledger unions + the
      // touched-group splice at k-fold ledger are the hazards; totals stay
      // group-count-sized), materialized join (delta-rule appends at
      // k-fold ledgers; the fit join and final serve are the linear legs)
      "q193_agg_index_day2", "q194_agg_index_off_mor_tail",
      "q195_agg_index_minmax", "q196_agg_index_distinct",
      "q197_materialized_join", "q198_materialized_join_off_mor_tail",
      // histogram measures: binned support-frame merges are k-fold at the
      // ledger legs; quantile serving stays (group x bins)-sized
      "q200_agg_index_quantiles", "q201_agg_index_histogram",
      // ledgerless sketch index: groupBy+hll_sketch_agg legs are the
      // linear cost; the merge and serve stay group-count-sized
      "q202_sketch_index_day2",
      // predicate retention: victim selection is a ledger filter (linear
      // scan), totals/support updates stay touched-group-sized
      "q203_agg_index_retention",
      // left-outer view: the serve-time dangler derivation adds one
      // broadcast anti-join against dim keys per serve — probe-bounded
      "q204_materialized_outer",
      // two-feed view: per-wave maintenance is delta-sized on both
      // feeds; the linear legs are publish + the final view serve
      "q205_two_feed_view",
      // streamed sketch maintenance: per-wave sketch-agg is the linear
      // leg; state and folds stay group-count-sized
      "q206_stream_sketch_maintenance",
      // variance: squared sums ride the ordinary ledger/sum machinery
      "q207_agg_index_variance",
      // streamed serving: per-batch lookups stay probe-bounded against
      // group-count-sized totals
      "q208_stream_agg_serving",
      // round-14 additions: the chained dashboard and the three-table star
      // (k-fold fact ledgers flow through barriered per-wave delta-view
      // feeds — the Δ computations and agg splices are the hazards; plan
      // size per op is CONSTANT by the lineage barrier), maintained KLL
      // float quantiles (sketch-agg legs linear, state group-sized),
      // predicate retention on the inverted index (ledger-filter victim
      // selection + df decrement at k-fold postings)
      "q209_chained_dashboard", "q212_star_view",
      "q210_sketch_float_quantiles", "q211_inverted_retention",
      // round-16 additions: the published Δview feed (per-wave overlay
      // publish + consumer micro-batch maintenance — the r15 fan-out
      // regression class; cost must track waves, not files) and the
      // decimal-exact dashboard (ledger-sized ingest cast, group-sized
      // decimal merges)
      "q213_published_view_feed", "q214_agg_index_decimal")
    val requested = if (queries.nonEmpty) queries else defaults

    // Retrieval with a BOUNDED query batch — the production serving shape.
    // q98/q100 in the list above grow ~k^2 in this probe because their
    // query set is a corpus SAMPLE (doc_id % 97), so both sides scale
    // k-fold; here the batch is pinned to the base corpus' sample (ids
    // below the clone shift) and cost should track the corpus ~linearly.
    def retrievalFixedBatch(label: String, mk: () => graft.dag.Node): Unit =
      try time(label) {
        val d = new Dag(label)
        val docs = d.add(SourceNode.table(out, "documents"))
        val qs = docs >> FilterNode("doc_id % 97 = 0 and doc_id < 100000000") >>
          ProjectNode("doc_id as query_id", "text").named("fixed_batch")
        val n = d.add(mk())
        docs("result") >> n("corpus"); qs >> n("queries")
        n >> d.output("result")
        d.fitTransform(Ctx(spark)).outputs("result").count()
      } catch { case e: Throwable => println(s"[scale10] $label FAILED: ${e.getMessage}") }

    // q213/q215 with CORPUS-INDEPENDENT waves (VERDICT r16 next #6, r18
    // next #2): the defaults-list q213 probe conflates machinery cost with
    // wave payload (its CDC waves are corpus filters, so they scale
    // k-fold). Here the k-fold base seeds the published view, but every
    // fact wave is pinned to the UNCLONED id range (ids below the clone
    // shift — exactly the 1x wave), so producer overlay cost and consumer
    // maintenance cost must track the FIXED delta, not the corpus.
    // `batched = true` is the q215 shape — SAME pipeline, but neither tail
    // caps maxFilesPerTrigger and the consumers net-resolve multi-overlay
    // micro-batches by the plan-stamped wave id: the paired run is the
    // scale evidence for the N-waves→one-pass consumer amortization.
    def viewFeedProbe(label: String, batched: Boolean): Unit =
      try time(label) {
        val ctx = Ctx(spark)
        val base = "o_orderkey < 100000000"
        val facts = spark.read.parquet(s"$out/orders.parquet")
          .selectExpr("o_orderkey", "o_custkey",
            "cast(floor(o_totalprice) as bigint) as price_i")
        val dims = spark.read.parquet(s"$out/customer.parquet")
          .select("c_custkey", "c_mktsegment", "c_nationkey")
        val work = WorkDir("graft_s213_")
        val factsRoot = s"$work/facts_mor"; val viewRoot = s"$work/view_mor"
        new SinkNode(factsRoot, atomicPublish = true).transform(ctx,
          In.single("df" -> facts.filter("o_orderkey % 5 != 0")))
        val mj = new MaterializedJoinNode(leftOn = Seq("o_custkey"),
          rightOn = Seq("c_custkey"), leftId = "o_orderkey",
          rightId = "c_custkey", joinType = "left_outer")
        mj.fit(ctx, In.single(
          "left" -> new MorSourceNode(factsRoot, keys = Seq("o_orderkey"))
            .transform(ctx, In.empty)("result"),
          "right" -> dims.filter("c_custkey % 10 != 0")))
        mj.publishViewDelta(ctx, viewRoot)
        val agg = new AggIndexNode(groupCols = Seq("c_mktsegment"),
          sumCols = Seq("price_i"), idCol = MaterializedJoinNode.ViewIdCol)
        agg.fit(ctx, In.single("corpus" ->
          new MorSourceNode(viewRoot,
            keys = Seq(MaterializedJoinNode.ViewIdCol))
            .transform(ctx, In.empty)("result")))
        AtomicPublish.publishDelta(spark, factsRoot, 1L, { t =>
          facts.filter(s"(o_orderkey % 5 = 0 OR o_orderkey % 3 = 0) AND $base")
            .selectExpr("o_orderkey", "o_custkey",
              "CASE WHEN o_orderkey % 3 = 0 THEN price_i + 1000 ELSE price_i END AS price_i",
              s"false as ${MorCdc.DeletedCol}")
            .coalesce(1).write.parquet(t)
        })
        AtomicPublish.publishDelta(spark, factsRoot, 2L, { t =>
          facts.filter(s"o_orderkey % 7 = 0 AND $base")
            .selectExpr("o_orderkey", "cast(null as bigint) as o_custkey",
              "cast(null as bigint) as price_i",
              s"true as ${MorCdc.DeletedCol}")
            .coalesce(1).write.parquet(t)
        })
        val wave = if (batched) Some("__wave") else None
        val cap = if (batched) None else Some(1)
        val ftail = new MorTailNode(factsRoot, maxFilesPerTrigger = cap,
          waveIdCol = wave).transform(ctx, In.empty)("result")
        IndexMaintenance.maintainFromStream(mj, ctx, ftail,
          checkpoint = Some(s"$work/fckpt"), deleteCol = Some(MorCdc.DeletedCol),
          netResolveKeys = if (batched) Seq("o_orderkey") else Nil,
          waveCol = wave)
        mj.updateRight(ctx, dims.filter("c_custkey % 10 = 0"))
        mj.deleteFromRight(ctx, dims.filter("c_nationkey = 3").select("c_custkey"))
        val vtail = new MorTailNode(viewRoot, maxFilesPerTrigger = cap,
          waveIdCol = wave).transform(ctx, In.empty)("result")
        IndexMaintenance.maintainFromStream(agg, ctx, vtail,
          checkpoint = Some(s"$work/vckpt"), deleteCol = Some(MorCdc.DeletedCol),
          netResolveKeys =
            if (batched) Seq(MaterializedJoinNode.ViewIdCol) else Nil,
          waveCol = wave)
        val probe = dims.select("c_mktsegment").distinct()
          .unionByName(dims.selectExpr("cast(null as string) as c_mktsegment").limit(1))
        agg.transform(ctx, In.single("probe" -> probe))("result").count()
      } catch { case e: Throwable =>
        println(s"[scale10] $label FAILED: ${e.getMessage}") }

    // ONE registry drives both the unknown-name warning and the probe
    // gates (ADVICE r18: a probe added below but not to the set would
    // spuriously warn while actually running)
    val customProbes: Seq[(String, () => Unit)] = Seq(
      "q98_fixed_batch" -> (() => retrievalFixedBatch("q98_fixed_batch",
        () => new InvertedIndexTopKNode(
          idCol = "doc_id", textCol = "text", queryIdCol = "query_id",
          queryTextCol = "text", k = 5, maxDfFrac = 0.79))),
      "q100_fixed_batch" -> (() => retrievalFixedBatch("q100_fixed_batch",
        () => new Bm25TopKNode(
          idCol = "doc_id", textCol = "text", queryIdCol = "query_id",
          queryTextCol = "text", k = 5, maxDfFrac = 0.79))),
      "q213_fixed_waves" -> (() => viewFeedProbe("q213_fixed_waves", batched = false)),
      "q215_fixed_waves" -> (() => viewFeedProbe("q215_fixed_waves", batched = true)))
    val customNames = customProbes.map(_._1).toSet
    // surface unknown names instead of silently dropping them (ADVICE r17):
    // a typo'd probe list must not masquerade as a clean run
    requested.filterNot(n => Queries.all.contains(n) || customNames(n))
      .foreach(n => println(s"[scale10] skipping unknown query $n"))
    val names = requested
      .filter(Queries.all.contains) // custom probes have their own gates
    names.foreach { n =>
      try time(n)(Queries.materialize(n, Queries.all(n)(spark, out)))
      catch { case e: Throwable => println(s"[scale10] $n FAILED: ${e.getMessage}") }
    }
    customProbes.foreach { case (label, run) =>
      if (queries.isEmpty || queries.contains(label)) run()
    }
    spark.stop()
  }
}
