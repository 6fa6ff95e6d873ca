package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10×-sf0.1 scale smoke: synthesizes a larger dataset in /tmp by key-shifted
  * replication, then times the heavy operators. Not a correctness gate — a
  * check that the plans HOLD as data grows (no quadratic blowups, no
  * driver-side collapse, shuffle sizes sane). Run:
  * `sbt "runMain graft.ScaleSmoke [replication]"`. */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val rep = if (args.nonEmpty) args(0).toInt else 10
    val spark = SparkEntry.configure(SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    val dst = s"/tmp/graft_scale_x$rep"

    def replicate(table: String, keyCols: Map[String, Long]): Unit = {
      val path = s"$dst/$table.parquet"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) {
        val base = spark.read.parquet(s"$src/$table.parquet")
        val shifted = base
          .crossJoin(spark.range(rep).withColumnRenamed("id", "__rep"))
          .select(base.columns.toSeq.map { c =>
            keyCols.get(c) match {
              case Some(stride) => (col(c) + col("__rep") * stride).as(c)
              case None => col(c)
            }
          }: _*)
        shifted.write.mode("overwrite").parquet(path)
      }
    }
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[scale] $label%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n rows)")
    }

    // max per-task peak execution memory (Spark's memory-consumer high-water
    // mark: aggregation maps, sorts, joins) across everything run inside f —
    // the measured twin of "the aggregation buffer is bounded"
    val peak = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null)
            peak.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
        }
      })
    def peakMemMb(f: => Long): (Long, Double) = {
      Thread.sleep(1000) // drain stragglers from PRIOR queries first
      peak.set(0)
      val n = f
      Thread.sleep(1000) // let this run's task-end events land
      (n, peak.get() / 1e6)
    }

    val M = 10000000L
    replicate("lineitem", Map("l_orderkey" -> M))
    replicate("orders", Map("o_orderkey" -> M, "o_custkey" -> M))
    replicate("customer", Map("c_custkey" -> M))
    replicate("documents", Map("doc_id" -> M))
    replicate("embeddings", Map("vec_id" -> M))
    for (t <- Seq("region", "nation", "supplier", "part", "events"))
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dst/$t.parquet")))
        spark.read.parquet(s"$src/$t.parquet").write.mode("overwrite")
          .parquet(s"$dst/$t.parquet")

    println(s"[scale] dataset at $dst (${rep}x sf0.1)")
    val qs = SparkEntry.queries
    for (q <- Seq("q1_pricing", "q3_topk", "q5_starjoin", "a6_range_slices",
      "c3_dedup_latest", "dd_exact", "dd_minhash", "dd_simhash",
      "dd_incremental", "sim_topk", "sim_ivf", "sim_quantize",
      "llm_corpus_clean", "llm_decontaminate", "llm_hash_sample",
      "llm_pack_sequences", "llm_curate_topk", "llm_chunk_docs",
      "llm_redact", "llm_mix_sources", "text_tfidf", "text_repetition",
      "text_lm_score", "dd_cluster", "mm_decode", "mm_resize",
      "q_salted_agg", "q_approx_percentile", "q_zvalue", "text_quality",
      "evt_sessionize", "e2e_pipeline",
      "q_bloom_join", "q19_discount", "q22_no_urgent", "q_histogram",
      "q_profile", "q_fuzzy", "evt_gapfill", "llm_vocab_encode",
      "q_cms_heavy", "evt_anomaly", "evt_funnel", "evt_retention",
      "evt_funnel_steps", "evt_session_window", "q_array_hof",
      // q_tdigest is NOT in this list on purpose: its plan carries the
      // exact-percentile ORACLE GATE (whole-group buffers) — the banned
      // shape. q_percentile below is the bounded scale path.
      "q_grouping_sets", "q_window_dist", "c5_time_travel",
      "q_winsorize", "q_salted_join", "text_pmi", "sim_pq",
      "llm_temperature_mix", "c6_cdc", "dd_prefix_join",
      "text_bm25", "text_ql", "text_rrf", "text_postings",
      "text_bpe_pairs", "text_entropy", "text_gopher", "llm_cdc_chunks",
      "llm_stratified_sample", "llm_calibrate", "llm_dsir", "dd_semantic",
      "dd_canonical", "dd_dup_spans", "sim_jl", "sim_recall",
      "q_pagerank", "q_kmv_setops", "q_equidepth", "q_dq_checks",
      "evt_transitions", "evt_seq3", "c14_formats",
      "sim_kmeans", "llm_bpe_train", "llm_ks_drift", "text_chi2_drift",
      "text_bigram_nll", "evt_window_distinct", "mm_phash_dedup",
      "text_feature_hash", "evt_group_percentiles", "text_next_token",
      "text_vocab_coverage", "q_triangles", "evt_attribution",
      "llm_weighted_sample", "text_ann", "q_skyline", "evt_trend",
      "q_weighted_median", "q_gini", "text_boilerplate",
      // round-5/6 additions. q_adaptive_join is NOT here: its "skew" leg
      // deliberately sizes the cap as a no-op so the oracle can replay it,
      // which at 10x is a designed 5e8-row blowup — the chooser-at-scale
      // proof below exercises the real capped path instead.
      "llm_strip_boilerplate", "llm_token_budget", "llm_source_caps",
      "q_join_guard", "q_join_profile", "q_cms_join_size",
      "q_communities", "q_rollup_incr", "q_file_prune",
      "dd_strip_spans", "q_topk_heap", "q_kcore", "q_bfs_hops",
      "dd_containment", "mm_scene_cuts", "q_cooccur",
      "dd_incremental_update", "dd_cluster_incr", "q_distinct_rollup",
      // round-7 additions. dd_stream_neardup is NOT here: its state
      // deliberately carries exact-verification shingle-hash sets (the
      // oracle-exactness tradeoff its scaladoc documents — production
      // would keep signatures only), so at 20× the wall is state-store
      // checkpoint I/O (~170 s measured), not plan shape; per-bucket
      // boundedness is capped by construction and spec'd.
      "q_bloom_file_prune", "q_join_view_incr", "llm_lr_quality",
      "evt_stream_cdc_apply", "q_exact_kth", "q_partition_prune",
      "q17_small_qty", "q20_part_suppliers", "q21_sole_late",
      "q_bucketed_join", "c6_evolution", "q_zvalue3", "mm_audio_energy",
      // governance plane (D132-D135): two pure projections/bounded aggs,
      // the Rocchio crossJoin (|labels| broadcast — linear in vectors),
      // and the one-exchange interval merge
      "llm_k_anonymity", "llm_split_leakfree", "sim_centroid_classify",
      "evt_coverage", "sim_triplets", "sim_multiprobe", "evt_scd2_incr",
      "evt_stream_coverage", "q_sorted_neighborhood", "llm_quantile_norm",
      "q_auto_prune", "llm_release_pipeline",
      // mining plane (D144-D146): Apriori-pruned capped pair join; two
      // window passes on one per-key partitioning; |days|-row decompose
      "q_assoc_rules", "evt_cusum", "evt_seasonal",
      // D147-D149: block-capped linkage pairs; one-pass PERMISSIVE
      // ingest split; fixed-size per-group CMS state
      "q_record_linkage", "q_json_quarantine", "evt_stream_heavy",
      // D150: one bounded-cardinality agg + per-group noise projection
      // (stability-thresholded), plus the public-domain pure-ε variant
      "llm_dp_release", "llm_dp_domain",
      // D151: touched-partition-only rewrite with byte-stable others
      "q_partition_overwrite",
      // D152: anchors-only funnel state, two-epoch restart
      "evt_stream_funnel",
      // D153-D154: per-row token projection; stats-flip plan pin
      "llm_pseudonymize", "q_cbo_broadcast",
      // D155: directory-level pruning from raw-ts predicates
      "q_derived_prune",
      // D156: delta-proportional replica maintenance
      "c5_cdc_egress",
      // D157: point-in-time snapshot resolution
      "c5_asof_ts",
      // D158: one-pointer multi-table atomic publish
      "c5_multi_txn",
      // D159: staged-data audit gating the pointer flip
      "c5_wap",
      // D160: per-micro-batch audit-or-quarantine routing
      "evt_stream_gated",
      // D161: cross-scheme generation pruning, no history rewrite
      "q_partition_evolution",
      // D162: sidecar-append deletes, byte-stable data files
      "q_deletion_vectors",
      // D163: string-key targeted merge — O(delta) on natural keys
      "c6_merge_string",
      // D164: MV answers from the rollup (plan pin in-gate); D165:
      // retraction feed aggregates to its key domain, base never rescanned
      "q_mv_rewrite", "q_rollup_cdc",
      // D166: listing-fingerprint keying, result reads are KB-scale;
      // D167: pure codegen'd replace-chain projection
      "q_result_cache", "text_mojibake",
      // D168: codegen'd per-row index + one range shuffle; D169:
      // zero-copy pointer commit — O(1) whatever the table size
      "q_hilbert", "c5_clone",
      // D170: refresh is O(version diff) + rollup-domain merge
      "q_mv_incremental",
      // D171: the eliminated join IS the scale win; D172: one
      // dimension-sized aggregation
      "q_join_elim", "evt_scd2_weighted",
      // D173: per-batch key-domain agg + rollup-domain merge; D174: one
      // count + one key-domain anti-join; D175: pure narrow projection
      "evt_stream_rollup", "q_fk_validate", "q_unpivot",
      // D163+D142: string-dialect sidecar drives the auto-prune rule
      "q_auto_prune_string",
      // D176: distributed per-file hashing; D177: O(dropped dirs) TTL
      "q_portable_bundle", "q_partition_ttl",
      // D178: one key join + one agg, never per-column join loops
      "q_table_diff",
      // D179: root projection + chained semi-joins; D180: one key-sort
      "q_linked_sample", "evt_asof_tolerance",
      // D181: one per-group window; D182: deltas of deltas — each level
      // costs its PARENT's change volume
      "llm_eval_sample", "q_rollup_cascade",
      // D183: one write-time scan; reads skip on every mapped column
      "q_zonemap",
      // D184: recompute bounded by delete-touched-extremum groups
      "q_rollup_minmax",
      // D185: plan-time metadata only — zero jobs either way
      "q_scan_guard",
      // D186: erasure = KB sidecar append + request-sized ledger
      "c5_erasure",
      // D187: rollup-domain join + TakeOrdered top-k
      "q_top_movers",
      // D188/D189: avg and min/max served from rollup-domain scans
      "q_mv_rewrite_avg", "q_mv_rewrite_minmax",
      // D190: every pruning plane fresh after merge+optimize — refresh
      // is one declared-column scan per write, skips proven per plane
      "q_sidecar_fresh",
      // D191: tag views are pure per-row projections over the plain scan
      "c10_tags",
      // D192: footer-metadata reads only — document cost is O(tables)
      "q_schema_export",
      // D193: one predicate filter over the plain scan; D194: one
      // map-side-combinable count+distinct per QI group; D195: pure
      // plan metadata, zero jobs
      "c10_rls", "llm_l_diversity", "q_lineage",
      // D196: one plan walk + a registry write; the governed read is a
      // projection over the plain scan
      "c10_tag_propagation",
      // D197: one columnar read of the staged files per write — the
      // validate-on-write trade Delta makes, bound to the landed bytes
      "q_check_constraints",
      // D198/D199: sidecar reads are metadata-sized; governed reads
      // stay pure projections over the plain (or versioned) scan
      "c10_tags_durable", "c10_tags_versioned",
      // D203: one exchange + in-task sort; manifest is a 2-column
      // read-back of the landed files
      "llm_shuffle_shards",
      // D204: O(batch) landings + O(new files) plane patches; D205:
      // one columnar read of the staged version at the WAP point
      "q_append_incremental", "c5_check_commit",
      // D207: eval side broadcasts, corpus buckets by projection;
      // D208: per-batch append cost + marker probes.
      // sim_knn_graph / sim_knn_graph_incr are NOT here: key-shifted
      // replication makes every vector 20 IDENTICAL copies, and the
      // smallest-id bucket caps (correctly) exclude the high-id clones
      // — the gates' recall floor measures the DATA pathology, not the
      // plan. The D202 boundedness invariant gets its own dedicated
      // proof below instead.
      "llm_embed_decontaminate",
      "evt_stream_append"))
      time(q) { qs(q)(spark, dst).count() }

    // ---- D202 kNN-graph boundedness: the cap bound holds at 20× ----
    // 100k vectors (20 identical copies of each original — skew in
    // anger for LSH buckets) still produce candidate pairs UNDER
    // tables·2^planes·cap·(cap−1): never all-pairs, at any corpus size.
    {
      val knnTables = graft.llm.Dedup.portablePlanes(20, 64)
        .grouped(5).toSeq
      val cap = 64
      val bound = knnTables.size.toLong * 32 * cap * (cap - 1)
      time("knn_cap_bound") {
        val n = graft.llm.Similarity.knnCandidates(
          spark.read.parquet(s"$dst/embeddings.parquet"),
          "vec_id", "embedding", knnTables, bucketCap = cap).count()
        require(n <= bound && n > 0,
          s"kNN candidates $n must stay under the cap bound $bound " +
            "at 20x (uncapped identical-copy cliques would be ~10^10)")
        n
      }
    }

    // ---- D211 NN-Descent round boundedness at 20× ----
    // One refinement round over the capped graph: candidates are
    // neighbor-of-neighbor pairs ∪ current edges — bounded by
    // n·(2k)² + |edges|, never all-pairs, at any corpus size.
    {
      val knnTables = graft.llm.Dedup.portablePlanes(20, 64)
        .grouped(5).toSeq
      time("nn_descent_round") {
        val emb = spark.read.parquet(s"$dst/embeddings.parquet")
        val g = graft.llm.Similarity.knnGraph(emb, "vec_id",
          "embedding", knnTables, k = 5, bucketCap = 64)
          .localCheckpoint()
        val nNodes = emb.count()
        val refined = graft.llm.Similarity.nnDescentRound(g, emb,
          "vec_id", "embedding", k = 5).localCheckpoint()
        val edges = refined.count()
        require(edges <= nNodes * 5,
          s"refined graph must stay <= k edges per node ($edges)")
        edges
      }
    }

    // ---- D213 cluster-balanced sampling at 20× ----
    // The quota caps EVERY cluster regardless of corpus size, the
    // sample never exceeds k·quota rows, and the shuffle carries
    // (id, cid, hash) — vectors only cross the wire inside the
    // broadcast-assignment pass.
    time("cluster_balance") {
      val s = graft.llm.Similarity.clusterBalancedSample(
        spark.read.parquet(s"$dst/embeddings.parquet"),
        "vec_id", "embedding", k = 8, iters = 1, perCluster = 1000)
        .localCheckpoint()
      val n = s.count()
      require(n <= 8L * 1000,
        s"sample must stay under k*quota at ${rep}x, got $n")
      val mx = s.groupBy("cid").count().agg(max("count")).head().getLong(0)
      require(mx <= 1000, s"a cluster exceeded its quota: $mx")
      n
    }

    // ---- D213 quota is TWO-STAGE: the exact window's INPUT is bounded ----
    // Stage 1 (BottomK heap pre-filter, the D112 discipline) must leave
    // ≤ perCluster survivors per cluster, so the final rank window sorts
    // ≤ perCluster × shuffle-partitions rows in total even when one
    // cluster holds most of the corpus — the single-window plan would
    // ship the dominant cluster whole into one task's sort.
    time("cluster_balance_window_input") {
      val emb = spark.read.parquet(s"$dst/embeddings.parquet")
      val assign = graft.llm.Similarity.kmeansAssignments(
        emb, "vec_id", "embedding", k = 8, iters = 1)
      val hashed = assign.withColumn("__h",
        graft.llm.Dedup.portableWordHash(col("id")))
      val surv = graft.llm.Similarity.quotaSurvivors(hashed, 1000).count()
      val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      require(surv <= 1000L * parts,
        s"quota window input must be heap-bounded: $surv survivors > " +
          s"perCluster(1000) x shuffle partitions($parts)")
      require(surv <= 8L * 1000,
        s"complete heap agg leaves <= perCluster per cid: $surv > 8000")
      surv
    }

    // ---- bounded-percentile proof: peak task memory FLAT as data grows ----
    // q_percentile's primary plan is the KmhSample bounded sample; its
    // aggregation state is ≤ 32·k bytes per group no matter the input, so
    // the task-level memory high-water mark must not scale with rep.
    val (_, mem1) = peakMemMb { qs("q_percentile")(spark, src).count() }
    val (_, memN) = peakMemMb { qs("q_percentile")(spark, dst).count() }
    println(f"[scale] q_percentile peak task mem: 1x ${mem1}%.1f MB -> " +
      f"${rep}x ${memN}%.1f MB (bounded sample: must stay flat)")
    assert(memN <= math.max(mem1 * 2, mem1 + 64),
      f"q_percentile peak memory grew ${memN / math.max(mem1, 0.1)}%.1fx " +
        s"at ${rep}x — the sample buffer is supposed to be bounded")

    // ---- LSH skew-in-anger: ONE band hash covering 20% of documents ----
    // A fifth of the corpus becomes the same boilerplate text, so every
    // band of those docs hashes identically — the degenerate hot bucket.
    // cappedBuckets must (a) keep the aggregation buffers bounded (peak
    // memory comparable to the organic corpus) and (b) emit exactly
    // C(maxBucket,2) hot-pair candidates, not C(0.2·N,2).
    val docs = spark.read.parquet(s"$dst/documents.parquet")
    val boiler = "the same boilerplate terms of service text stamped onto " +
      "a fifth of every page in this corpus by the site template"
    val skewed = docs.withColumn("text",
      when(pmod(col("doc_id"), lit(5)) === 0, lit(boiler))
        .otherwise(col("text")))
    val cap = 64
    def lshPairs(d: org.apache.spark.sql.DataFrame) =
      graft.llm.Dedup.minhashLshPairs(d, "doc_id", "text",
        shingleWidth = 3, k = 32, b = 8, threshold = 0.8, maxBucket = cap)
    val (nOrganic, memOrganic) = peakMemMb { lshPairs(docs).count() }
    // persist the mined pairs so the hot-clique check below reuses this
    // run instead of re-mining the whole replicated corpus
    val skewPairs = lshPairs(skewed).persist()
    val t0 = System.nanoTime()
    val (nSkew, memSkew) = peakMemMb { skewPairs.count() }
    println(f"[scale] lsh skew 20%% hot band   ${(System.nanoTime() - t0) / 1e9}%8.2f s  " +
      f"($nSkew pairs; organic $nOrganic; peak mem organic ${memOrganic}%.1f MB " +
      f"-> skewed ${memSkew}%.1f MB)")
    val hotIds = skewed.filter(col("text") === boiler)
      .select(col("doc_id").as("hid"))
    val hotPairs = skewPairs
      .join(hotIds, col("id1") === col("hid")).drop("hid")
      .join(hotIds, col("id2") === col("hid"))
      .count()
    skewPairs.unpersist()
    // every band keeps the SAME `cap` smallest hot ids, so after cross-band
    // dedup the hot clique contributes exactly C(cap,2) pairs — not
    // C(0.2·N,2), which at 10x would be ~2e9
    val expectHot = cap.toLong * (cap - 1) / 2
    assert(hotPairs == expectHot,
      s"hot-clique pairs $hotPairs != C($cap,2)=$expectHot — " +
        "bucket capping failed under 20% skew")
    assert(memSkew <= math.max(memOrganic * 3, memOrganic + 64),
      f"skewed-corpus peak memory ${memSkew}%.1f MB vs organic " +
        f"${memOrganic}%.1f MB — aggregation buffers not bounded under skew")
    println(s"[scale] lsh skew assertions OK: hot pairs $hotPairs <= " +
      s"$expectHot, peak mem bounded")

    // ---- inverted-index cap: posting-head state bounded on hot terms ----
    // The same 20%-boilerplate corpus turns every boilerplate word into a
    // stopword-hot term (df = 0.2·N). The row_number cap inside the single
    // term aggregation keeps per-term collect state <= maxPostings, so the
    // peak task memory on the skewed corpus must stay comparable to the
    // organic one (the window sort spills; the AGGREGATION must not grow).
    val (_, memPostOrg) = peakMemMb {
      graft.llm.TextAnalysis.invertedIndex(docs, "doc_id", "text", 16)
        .count()
    }
    val (_, memPostSkew) = peakMemMb {
      graft.llm.TextAnalysis.invertedIndex(skewed, "doc_id", "text", 16)
        .count()
    }
    println(f"[scale] postings peak task mem: organic ${memPostOrg}%.1f MB" +
      f" -> 20%% hot terms ${memPostSkew}%.1f MB (cap must bound state)")
    assert(memPostSkew <= math.max(memPostOrg * 3, memPostOrg + 64),
      f"inverted-index peak memory ${memPostSkew}%.1f MB vs organic " +
        f"${memPostOrg}%.1f MB — posting cap not bounding state")

    // ---- dup-span de-skew: hot grams shuffle (gram, doc) rows, never ----
    // ---- occurrences (the r15 pre-reduce pin) ----
    // Every doc = one 8-word sentence repeated 12x plus a doc-unique tail
    // word: 90 gram POSITIONS per doc but only 9 DISTINCT grams (the 8
    // sentence rotations + one tail gram), and the rotation grams are hot
    // across the whole corpus (the Zipfian stop-word-shingle shape).
    // dupSpanStats' groupBy(h, id) pre-reduce
    // must collapse the multiplicity map-side, so total shuffle-READ
    // records across the job track distinct (gram, doc) pairs — the r14
    // single-window shape shipped every occurrence to the hot hash's one
    // task and would read ~1x the position count here.
    val shufRead = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null)
            shufRead.addAndGet(m.shuffleReadMetrics.recordsRead)
        }
      })
    val sent = (1 to 8).map(i => s"span$i").mkString(" ")
    val spanDocs = spark.range(4000L * rep).select(
      col("id").as("doc_id"),
      concat(lit((Seq.fill(12)(sent)).mkString(" ") + " uniq"),
        col("id").cast("string")).as("text"))
    val tSpan = System.nanoTime()
    Thread.sleep(1000) // drain prior queries' task-end events
    shufRead.set(0)
    val spanStats = graft.llm.Dedup.dupSpanStats(spanDocs, "doc_id", "text")
      .agg(sum("n_grams"), sum("n_dup"), min("dup_frac"), max("dup_frac"))
      .head()
    Thread.sleep(1000) // let this run's task-end events land
    val spanShuf = shufRead.get()
    val occ = spanStats.getLong(0)
    println(f"[scale] dup-span hot grams  ${(System.nanoTime() - tSpan) / 1e9}%8.2f s  " +
      f"($occ positions, shuffle-read $spanShuf records)")
    // 12x multiplicity collapses before the exchange: all shuffles of the
    // job together (the (h,id) agg, the h window, the per-doc rollup, the
    // final id join) must stay well under ONE pass of the positions
    assert(spanShuf < occ / 2,
      s"dup-span shuffled $spanShuf records for $occ gram positions — " +
        "occurrence multiplicity is reaching the exchange (pre-reduce " +
        "lost); hot grams would straggle at corpus scale")
    // correctness pin: 89 of each doc's 90 positions carry corpus-hot
    // rotation grams; only position 90's gram touches the doc-unique
    // word and occurs nowhere else → dup_frac = round(89/90, 4)
    assert(spanStats.getDouble(2) == spanStats.getDouble(3) &&
      math.abs(spanStats.getDouble(2) - 0.9889) < 1e-9,
      s"dup-span frac ${spanStats.getDouble(2)}..${spanStats.getDouble(3)}" +
        " != 0.9889 — de-skew rewrite changed the metric")

    // ---- JoinGuard hot key in anger: output cap is the invariant ----
    // 20% of ALL lineitem rows get ONE shared join key on both sides: the
    // uncapped join would emit ~|hotL|·|hotR| ≈ 5·10^10 pairs at 10× for
    // that key alone. cappedJoin must emit EXACTLY capEach² pairs for it
    // (deterministic tiebreak), with every other key capped the same way —
    // the join's output state is bounded no matter how hot the key.
    val li10 = spark.read.parquet(s"$dst/lineitem.parquet")
    def guarded(skew: Boolean) = {
      val k =
        if (skew) when(pmod(col("l_orderkey"), lit(5)) === 0, lit(-1L))
          .otherwise(col("l_suppkey"))
        else col("l_suppkey")
      val left = li10.select(k.as("k"), col("l_orderkey").as("lo"),
        col("l_linenumber").as("ll"))
      val right = li10.filter(col("l_quantity") <= 2)
        .select(k.as("k"), col("l_orderkey").as("ro"),
          col("l_linenumber").as("rl"))
      graft.operators.JoinGuard.cappedJoin(left, right, "k",
        maxProduct = 10000L, capEach = 64,
        leftTiebreak = Seq(col("lo"), col("ll")),
        rightTiebreak = Seq(col("ro"), col("rl")))
    }
    val (nJgOrg, memJgOrg) = peakMemMb { guarded(skew = false).count() }
    val tJg = System.nanoTime()
    val (nJgSkew, memJgSkew) = peakMemMb { guarded(skew = true).count() }
    val hotJg = guarded(skew = true).filter(col("k") === -1L).count()
    println(f"[scale] join guard hot key  ${(System.nanoTime() - tJg) / 1e9}%8.2f s  " +
      f"($nJgSkew pairs, hot $hotJg; organic $nJgOrg pairs; peak mem " +
      f"${memJgOrg}%.1f -> ${memJgSkew}%.1f MB)")
    assert(hotJg == 64L * 64L,
      s"hot-key pairs $hotJg != 64²=4096 — JoinGuard cap failed on a " +
        "key holding 20% of both sides")

    // ---- Rollup incremental merge NEVER rescans the base ----
    // Build a 20k-key rollup of the 10× base, land a 1% delta, then meter
    // recordsRead while merging: the merge may read the delta and the
    // rollup, never the 6M-row base.
    val recsRead = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) recsRead.addAndGet(m.inputMetrics.recordsRead)
        }
      })
    val rollKeys = Seq("l_partkey")
    val rollBase = s"$dst/_rollup_base.parquet"
    val rollDelta = s"$dst/_rollup_delta.parquet"
    graft.operators.Rollup.build(
        li10.filter(pmod(col("l_orderkey"), lit(100)) =!= 0),
        rollKeys, "l_extendedprice")
      .write.mode("overwrite").parquet(rollBase)
    li10.filter(pmod(col("l_orderkey"), lit(100)) === 0)
      .select("l_partkey", "l_extendedprice")
      .write.mode("overwrite").parquet(rollDelta)
    val baseRows = li10.count()
    val deltaRows = spark.read.parquet(rollDelta).count()
    val rollupRows = spark.read.parquet(rollBase).count()
    Thread.sleep(1000)
    recsRead.set(0)
    val tRoll = System.nanoTime()
    val mergedRows = graft.operators.Rollup.merge(
      spark.read.parquet(rollBase), spark.read.parquet(rollDelta),
      rollKeys, "l_extendedprice").count()
    Thread.sleep(1000)
    val mergeRead = recsRead.get()
    println(f"[scale] rollup incr merge   ${(System.nanoTime() - tRoll) / 1e9}%8.2f s  " +
      s"($mergedRows keys; read $mergeRead rows for a $deltaRows-row delta " +
      s"+ $rollupRows-row rollup over a $baseRows-row base)")
    assert(mergeRead <= deltaRows + rollupRows * 2 + 10000,
      s"incremental merge read $mergeRead rows — more than delta " +
        s"($deltaRows) + rollup ($rollupRows): the base is being rescanned")

    // ---- SCD2 at a 10× change stream: as-of join cannot blow up ----
    // Replicate the purchase change stream and the click facts 10× by
    // user shift, version the dimension, enrich. The invariants: build
    // emits EXACTLY one interval per resolved change, and pointInTime
    // emits EXACTLY one row per fact — never |facts|·|versions| (the
    // range-join blowup Scd2 exists to avoid).
    val ev1 = spark.read.parquet(s"$src/events.parquet")
    def repUsers(df: DataFrame): DataFrame = df
      .crossJoin(spark.range(rep).withColumnRenamed("id", "__rep"))
      .withColumn("user_id", col("user_id") + col("__rep") * M)
      .drop("__rep")
    val changes10 = repUsers(ev1.filter(col("event_type") === "purchase"))
      .groupBy("user_id", "ts").agg(max("value").as("v"))
      .withColumn("tier", when(col("v") >= 75, "gold")
        .when(col("v") >= 40, "silver").otherwise("bronze"))
      .select("user_id", "ts", "tier")
    val clicks10 = repUsers(ev1.filter(col("event_type") === "click"))
      .select("user_id", "ts")
    val tScd = System.nanoTime()
    val nCh = changes10.count()
    val nIv = graft.operators.Scd2.build(changes10, Seq("user_id"), "ts",
      Seq("tier")).count()
    val nCk = clicks10.count()
    val nEn = graft.operators.Scd2.pointInTime(clicks10, changes10,
      Seq("user_id"), "ts", "ts", Seq("tier")).count()
    println(f"[scale] scd2 ${rep}x stream   ${(System.nanoTime() - tScd) / 1e9}%8.2f s  " +
      s"($nCh changes -> $nIv intervals; $nCk clicks -> $nEn enriched)")
    assert(nIv == nCh, s"scd2 build emitted $nIv intervals for $nCh changes")
    assert(nEn == nCk, s"scd2 pointInTime emitted $nEn rows for $nCk facts" +
      " — the as-of join must be 1:1 with the fact side")

    // ---- stats-manifest pruning still skips at a replicated file count --
    // Z-order the replicated lineitem into 64 files, prune a 10k-wide
    // orderkey band: the manifest must drop most files AND the pruned
    // scan + residual must equal the full-scan filter exactly. The x
    // column is scaled BY THE KEY DOMAIN so the 16-bit interleave never
    // wraps (at 20× a fixed /2048 exceeds 2^16 and the z-curve folds —
    // this proof caught exactly that: pruning degraded to 38/64 files).
    val prunePath = s"$dst/_prune_proof.parquet"
    val okDiv = ((rep.toLong - 1) * M + 700000L) / 60000L + 1L
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(prunePath)))
      graft.sink.Layout.zorderWrite(
        li10.select(col("l_orderkey"), (col("l_orderkey") / okDiv)
            .cast("long").as("ok_s"), col("l_partkey"),
          col("l_extendedprice")),
        prunePath, "ok_s", "l_partkey", bits = 16, numFiles = 64)
    val (lo, hi) = (5L * M + 100000L, 5L * M + 110000L)
    val tPr = System.nanoTime()
    val (prunedDf, kept, total) =
      graft.sink.Layout.prunedRead(spark, prunePath, "l_orderkey", lo, hi)
    val nPruned = prunedDf.filter(col("l_orderkey").between(lo, hi)).count()
    val nFull = spark.read.parquet(prunePath)
      .filter(col("l_orderkey").between(lo, hi)).count()
    println(f"[scale] file prune ${rep}x    ${(System.nanoTime() - tPr) / 1e9}%8.2f s  " +
      s"($nPruned rows from $kept/$total files)")
    assert(nPruned == nFull,
      s"pruned read found $nPruned rows, full scan $nFull — skipping " +
        "dropped data")
    assert(kept <= total / 2,
      s"pruning kept $kept of $total files for a 10k-wide band — " +
        "manifest not skipping")

    // ---- Bloom sidecar point lookups where range stats prune NOTHING --
    // Cluster the replicated lineitem by PARTKEY into 64 files: every
    // file's orderkey [min,max] then straddles any probe, so the D107
    // manifest keeps 64/64 and only the D123 bitset bloom can skip. The
    // filter is sized to the per-file key count (rows/file ≈ li/64 →
    // bits = 2^23 ≈ 8.4M, a FIXED 1 MB bitset per file regardless of row
    // count — the Aggregator state boundedness this stage measures), and
    // the probe read must (a) lose no rows vs the full scan, (b) skip
    // most files for 5 point keys.
    val bloomPath = s"$dst/_bloom_proof.parquet"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(bloomPath)))
      li10.select(col("l_orderkey"), col("l_partkey"), col("l_extendedprice"))
        .repartitionByRange(64, col("l_partkey"))
        .sortWithinPartitions("l_partkey")
        .write.parquet(bloomPath)
    val bloomBits = 1 << 23
    val tBl = System.nanoTime()
    graft.sink.Sidecars.declare(spark, bloomPath,
      Seq(graft.sink.Sidecars.Bloom("l_orderkey", bits = bloomBits)))
    val buildWall = (System.nanoTime() - tBl) / 1e9
    val probeKeys = Seq(100000L, 2 * M + 7L, 5 * M + 123456L,
      (rep - 1L) * M + 900001L, 42L)
    val tBp = System.nanoTime()
    val (bloomDf, bKept, bTotal) = graft.sink.Layout.bloomPrunedRead(
      spark, bloomPath, "l_orderkey", probeKeys, bits = bloomBits)
    val nBloom = bloomDf.filter(col("l_orderkey").isin(probeKeys: _*)).count()
    val probeWall = (System.nanoTime() - tBp) / 1e9
    val nBloomFull = spark.read.parquet(bloomPath)
      .filter(col("l_orderkey").isin(probeKeys: _*)).count()
    val sideBytes = java.nio.file.Files.size(
      java.nio.file.Paths.get(bloomPath + ".__planes__"))
    println(f"[scale] bloom prune ${rep}x   $probeWall%8.2f s  " +
      f"($nBloom rows from $bKept/$bTotal files; build $buildWall%.2f s, " +
      f"sidecar ${sideBytes / 1048576.0}%.1f MB = 1 MB/file)")
    assert(nBloom == nBloomFull,
      s"bloom read found $nBloom rows, full scan $nBloomFull — a false " +
        "NEGATIVE (bloom must never skip a file containing a probe key)")
    assert(bKept <= bTotal / 2,
      s"bloom kept $bKept of $bTotal files for 5 point keys — not skipping")

    // ---- LPA on a 3M-edge graph: state stays one row per node ----
    // Ring-of-100 planted partitions over the replicated orderkeys. The
    // invariant that makes LPA 100 TB-safe: after every synchronous round
    // the label state is EXACTLY one row per node (the rank window
    // collapses the per-neighbor candidates), so round state never grows
    // past the node set however many rounds run.
    val ords10 = spark.read.parquet(s"$dst/orders.parquet")
    val ringEdges = ords10.select(col("o_orderkey").as("src"),
      when(pmod(col("o_orderkey"), lit(100)) === 99,
        col("o_orderkey") - 99).otherwise(col("o_orderkey") + 1).as("dst"),
      lit(1L).as("w"))
    val nNodes = ringEdges.select(col("src").as("n"))
      .unionByName(ringEdges.select(col("dst").as("n")))
      .distinct().count()
    val tLpa = System.nanoTime()
    val nLabels = graft.operators.Communities.lpa(
      ringEdges, "src", "dst", "w", rounds = 3).count()
    println(f"[scale] lpa 3M-edge graph   ${(System.nanoTime() - tLpa) / 1e9}%8.2f s  " +
      s"($nLabels labels for $nNodes nodes, 3 rounds)")
    assert(nLabels == nNodes,
      s"LPA state is $nLabels rows for $nNodes nodes — per-round state " +
        "must stay exactly one label per node")

    // ---- AdaptiveJoin chooser decisions hold at 10× ----
    // The bounded profiling state (two single-row aggs + two 2 KB
    // sketches per side) must still pick the right strategy on 10× data:
    // dimension join → broadcast, well-distributed fact join → shuffle,
    // planted 20%-hot key → capped.
    val cust10 = spark.read.parquet(s"$dst/customer.parquet")
    val tAj = System.nanoTime()
    val pDim = graft.operators.AdaptiveJoin.choose(
      ords10.select(col("o_custkey").as("k")),
      cust10.select(col("c_custkey").as("k")), "k")
    val pFact = graft.operators.AdaptiveJoin.choose(
      ords10.select(col("o_orderkey").as("k")),
      li10.select(col("l_orderkey").as("k")), "k", broadcastRows = 1000)
    val hotK = when(pmod(col("l_orderkey"), lit(5)) === 0, lit(-1L))
      .otherwise(col("l_suppkey"))
    val pSkew = graft.operators.AdaptiveJoin.choose(
      li10.select(hotK.as("k")),
      li10.filter(col("l_quantity") <= 2).select(hotK.as("k")), "k",
      broadcastRows = 100000)
    println(f"[scale] adaptive chooser    ${(System.nanoTime() - tAj) / 1e9}%8.2f s  " +
      s"(dim=${pDim.strategy} fact=${pFact.strategy} " +
      s"skew=${pSkew.strategy}, est ${pSkew.estJoinRows} rows)")
    assert(pDim.strategy == "broadcast", s"dim join chose ${pDim.strategy}")
    assert(pFact.strategy == "shuffle", s"fact join chose ${pFact.strategy}")
    assert(pSkew.strategy == "capped",
      s"20%-hot join chose ${pSkew.strategy} " +
        s"(maxFreq ${pSkew.maxFreqLeft}×${pSkew.maxFreqRight})")

    // ---- file-targeted MERGE: wall scales with the DELTA, not the base ----
    // Two range-disjoint stage tables (constant ~file size, so the rep×
    // table has rep× the FILES — the 100 TB layout), one fixed 5k-key
    // delta confined to the low key band. Delta's matched-file rewrite
    // contract: the big table's merge must touch only the files holding
    // those keys, so its wall stays in the 1× class instead of growing
    // rep× with the base.
    import graft.sink.StageWriter
    val ordsSrc = spark.read.parquet(s"$src/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    val (mb1, mbN) = (s"$dst/_merge_1x", s"$dst/_merge_${rep}x")
    ordsSrc.repartitionByRange(32, col("o_orderkey"))
      .write.mode("overwrite").parquet(mb1)
    ords10.select("o_orderkey", "o_totalprice")
      .repartitionByRange(32 * rep, col("o_orderkey"))
      .write.mode("overwrite").parquet(mbN)
    val deltaLow = ordsSrc.filter(col("o_orderkey") <= 20000)
      .withColumn("o_totalprice", col("o_totalprice") + 1000)
    deltaLow.cache().count()
    def mergeWall(path: String): Double = {
      val t0 = System.nanoTime()
      StageWriter.mergeInto(spark, deltaLow, path, Seq("o_orderkey"))
      (System.nanoTime() - t0) / 1e9
    }
    // first merges pay the one-off stats bootstrap scan; time the
    // steady-state second merge (the sidecar-driven path)
    mergeWall(mb1); mergeWall(mbN)
    val w1 = mergeWall(mb1)
    val filesBeforeN = StageWriter.listDataFiles(
      java.nio.file.Paths.get(mbN)).map(_.getFileName.toString).toSet
    val wN = mergeWall(mbN)
    val filesAfterN = StageWriter.listDataFiles(
      java.nio.file.Paths.get(mbN)).map(_.getFileName.toString).toSet
    val untouchedN = filesBeforeN.intersect(filesAfterN).size
    deltaLow.unpersist()
    println(f"[scale] targeted merge      $wN%8.2f s  (${rep}x base; 1x " +
      f"base $w1%.2f s; ${untouchedN}/${filesBeforeN.size} files untouched)")
    assert(untouchedN >= filesBeforeN.size - 8,
      s"a 5k-key low-band delta rewrote ${filesBeforeN.size - untouchedN} " +
        s"of ${filesBeforeN.size} files — merge is not file-targeted")
    assert(wN <= w1 * 3 + 5.0,
      f"merge wall grew $w1%.2f -> $wN%.2f s on a ${rep}x base with a " +
        "FIXED delta — merge cost is scaling with the table, not the delta")

    // ---- 8-way CAS merge contention into ONE sf0.1-sized stage table ----
    // The SF Map 60-concurrency deployment shape (group_stack.py:375)
    // scaled to the smoke: 8 concurrent mergers land disjoint 15k-row
    // deltas on a 150k-row table. Invariants: every row lands (no lost
    // update), the sequence advances once per commit, no claim is left
    // ahead of the committed head (zero stranded), and the serialized
    // protocol keeps total wall in the writers×single-merge class.
    val casPath = s"$dst/_cas_stage"
    StageWriter.deleteRecursively(java.nio.file.Paths.get(casPath))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(casPath + ".__seq__"))
    StageWriter.deleteRecursively(
      java.nio.file.Paths.get(casPath + ".__claims__"))
    StageWriter.mergeInto(spark, ordsSrc, casPath, Seq("o_orderkey"))
    val baseN = spark.read.parquet(casPath).count()
    val deltas = (1 to 8).map { wtr =>
      ordsSrc.filter(col("o_orderkey") % 10 === wtr)
        .select((col("o_orderkey") + wtr * 100000000L).as("o_orderkey"),
          col("o_totalprice"))
    }
    val casDeltaRows = deltas.map(_.count()).sum
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val tCas = System.nanoTime()
    val fs = deltas.map(d => scala.concurrent.Future {
      StageWriter.mergeInto(spark, d, casPath, Seq("o_orderkey"),
        maxRetries = 500, backoffMs = 100)
    })
    scala.concurrent.Await.result(scala.concurrent.Future.sequence(fs),
      scala.concurrent.duration.Duration.Inf)
    val casWall = (System.nanoTime() - tCas) / 1e9
    pool.shutdown()
    val finalN = spark.read.parquet(casPath).count()
    val seqN = StageWriter.committedSeq(casPath)
    val claims = java.nio.file.Files.list(
        java.nio.file.Paths.get(casPath + ".__claims__"))
      .toArray.map(_.toString.split('/').last.toLong)
    println(f"[scale] 8-way CAS merges    $casWall%8.2f s  " +
      s"($finalN rows = $baseN + $casDeltaRows; seq $seqN; " +
      s"max claim ${claims.max})")
    assert(finalN == baseN + casDeltaRows,
      s"lost update under 8-way contention: $finalN != $baseN + $casDeltaRows")
    assert(seqN == 9L, s"bootstrap + 8 merges must commit sequence 9, got $seqN")
    assert(claims.max == seqN,
      s"stranded claim ${claims.max} ahead of committed $seqN")

    // ---- metadata-only planes (D227/D231/D232) at replicated scale ----
    // Build counts + NDV + KMH sidecars on the replicated orders, then
    // require the ANSWERS come back (a) equal to their scan-side truth
    // and (b) in driver-only time — the planes' whole point is that the
    // serve path never scales with the data.
    val metaPath = s"$dst/_meta_proof.parquet"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(metaPath)))
      spark.read.parquet(s"$dst/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .repartition(64).write.parquet(metaPath)
    val tMb = System.nanoTime()
    graft.sink.Sidecars.declare(spark, metaPath, Seq(
      graft.sink.Sidecars.Stats("o_orderkey"),
      graft.sink.Sidecars.Counts,
      graft.sink.Sidecars.Ndv("o_custkey", k = 256),
      graft.sink.Sidecars.Kmh("o_totalprice", "o_orderkey", "o_custkey",
        k = 1024)))
    val metaBuildWall = (System.nanoTime() - tMb) / 1e9
    val tMa = System.nanoTime()
    val mCount = graft.sink.MetadataAgg.count(metaPath).get
    val mMm = graft.sink.MetadataAgg.minMax(metaPath, "o_orderkey").get
    val mNdv = graft.sink.MetadataAgg.ndvEstimate(metaPath, "o_custkey").get
    val mQ = graft.sink.MetadataAgg.kmhQuantiles(metaPath, "o_totalprice",
      Seq(0.5)).get.head
    val answerWall = (System.nanoTime() - tMa) / 1e9
    val scanN = spark.read.parquet(metaPath).count()
    println(f"[scale] metadata planes ${rep}x  build $metaBuildWall%.2f s, " +
      f"answers $answerWall%.3f s  ($mCount rows, ndv ${mNdv}%.0f, " +
      f"p50 $mQ%.2f)")
    assert(mCount == scanN,
      s"metadata count $mCount != scan count $scanN")
    assert(mMm._1 >= 0 && mMm._2 > mMm._1, s"degenerate min/max $mMm")
    assert(answerWall < 2.0,
      f"metadata answers took $answerWall%.2f s at ${rep}x — the serve " +
        "path must stay driver-only")

    // ---- distributed counts rebuild (r14) ------------------------------
    // The INITIAL footer pass over a multi-million-file table must not
    // serialize on the driver: distributedCounts parallelizes the
    // file list and returns only (file, count) pairs. Pin that (a) it
    // runs as a real Spark job — not a driver loop — and (b) its counts
    // equal the serial footer pass the counts plane holds.
    val serialCounts = graft.sink.MetadataAgg.loadCounts(metaPath).get
    spark.sparkContext.setJobGroup("dist_counts",
      "distributed footer rebuild", false)
    val tDr = System.nanoTime()
    val distCounts =
      try graft.sink.MetadataAgg.distributedCounts(spark,
        graft.sink.MetadataAgg.listRel(java.nio.file.Paths.get(metaPath)))
      finally spark.sparkContext.clearJobGroup()
    val drWall = (System.nanoTime() - tDr) / 1e9
    val drDeadline = System.nanoTime + 30L * 1000 * 1000 * 1000
    while (spark.sparkContext.statusTracker
      .getJobIdsForGroup("dist_counts").isEmpty &&
      System.nanoTime < drDeadline) Thread.sleep(5)
    println(f"[scale] dist counts rebuild $drWall%6.2f s  " +
      s"(${spark.sparkContext.statusTracker
        .getJobIdsForGroup("dist_counts").length} job(s))")
    assert(spark.sparkContext.statusTracker
      .getJobIdsForGroup("dist_counts").nonEmpty,
      "the full counts rebuild must run as a distributed job")
    assert(distCounts == serialCounts,
      "distributed and serial footer passes must agree")

    // ---- incremental compaction (D230) at replicated scale ------------
    // 64 right-sized files + 64 appended stragglers: compactSmall must
    // rewrite ONLY the stragglers (bytesRewritten ≈ straggler bytes,
    // a small fraction of the table), preserve the row count, and keep
    // the planes above fresh.
    val headBytes = graft.sink.StageWriter.listDataFiles(
      java.nio.file.Paths.get(metaPath)).map(java.nio.file.Files.size(_))
    spark.read.parquet(s"$dst/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .filter(col("o_orderkey") % 997 === 0)
      .repartition(64).write.mode("append").parquet(metaPath)
    val tCp = System.nanoTime()
    val repC = graft.sink.StageWriter.compactSmall(spark, metaPath,
      targetFileBytes = 256L * 1024 * 1024, minFileBytes = headBytes.min)
    val cpWall = (System.nanoTime() - tCp) / 1e9
    val afterN = spark.read.parquet(metaPath).count()
    println(f"[scale] compact small ${rep}x   $cpWall%8.2f s  " +
      s"(rewrote ${repC.rewritten} files / ${repC.bytesRewritten} B; " +
      s"${repC.filesBefore} -> ${repC.filesAfter} files)")
    assert(repC.rewritten == 64,
      s"exactly the 64 stragglers must rewrite (got ${repC.rewritten})")
    assert(repC.bytesRewritten * 20 < headBytes.sum,
      "the rewritten tail must be a small fraction of the table")
    assert(afterN > scanN && afterN == mCount +
      spark.read.parquet(s"$dst/orders.parquet")
        .filter(col("o_orderkey") % 997 === 0).count(),
      "compaction must preserve every appended row")
    assert(graft.sink.MetadataAgg.count(metaPath).contains(afterN),
      "the counts plane must stay fresh through append + compaction")
    spark.stop()
  }
}
