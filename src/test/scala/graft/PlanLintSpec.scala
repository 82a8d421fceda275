package graft

import graft.SparkEntry

/** Whole-suite scale-killer lint (VERDICT r5 directive #1).
  *
  * Sweeps EVERY `SparkEntry.queries` plan and denies the node types that do
  * not survive a 100× scale-up — `CartesianProduct` and
  * `BroadcastNestedLoopJoin` — unless the query is on the named allow-list
  * below, where each entry carries the one-line justification for why the
  * shape is by-design (constant-size input or deliberate brute-force
  * baseline). Any future query that lands a quadratic plan fails here
  * instead of waiting for a judge audit.
  *
  * A companion test pins the `.collect()` surface of the main source tree to
  * a recorded per-file budget so a driver-side loop can't creep onto a data
  * path unnoticed.
  */
class PlanLintSpec extends SparkSpec {

  /** Queries allowed to contain CartesianProduct / BroadcastNestedLoopJoin,
    * with the reason each shape is sound at scale. */
  private val allowQuadratic: Map[String, String] = Map(
    "q07_cross_join" ->
      "explicit CROSS JOIN semantics over constant-size dims (region×nation, 125 rows)",
    "s01_ann_bruteforce" ->
      "by-design brute-force ANN baseline: tiny query side broadcast against the corpus scan",
    "s04_ann_quantized" ->
      "int8 brute-force ANN: tiny query side broadcast, corpus-linear scan",
    "s07_ann_pq" ->
      "PQ-ADC scan: tiny query ADC tables broadcast against the codes-only corpus scan (corpus-linear)",
    "q11_scalar_subquery" ->
      "scalar-subquery semantics: single-row aggregate broadcast as a constant (Relational.scala q11)",
    "q51_quantified_compare" ->
      "ALL/ANY rewrite: single-row MAX/MIN aggregate broadcast as a constant (Relational.scala q51)",
    "t13_tfidf_topk" ->
      "corpus N attach: single-row countDistinct broadcast as a constant (TextAnalysis.tfidfTopTerms)",
    "u07_temperature_rebalance" ->
      "budget total attach: per-stratum counts × single-row weight total, both constant-size (Sampling)",
    "t24_bm25_topk" ->
      "corpus-stats attach: single-row (sum dl, N) aggregate broadcast as the avgdl constant (TextAnalysis.bm25TopK)",
    "t28_lm_score" ->
      "vocab-size attach: single-row count_distinct aggregate broadcast as the smoothing constant V (TextAnalysis.lmScore)",
    "s09_ann_recall" ->
      "inherits s01's by-design brute-force baseline as the recall eval's ground-truth side (tiny query side broadcast)",
    "t32_ccnet_buckets" ->
      "inherits t28's single-row vocab-size broadcast (the smoothing constant V)"
  )

  test("no oracle SQL carries an interpolated-null artifact") {
    // a Scala val declared AFTER the query list interpolates as the
    // literal "null" at list-construction time (hit twice this round:
    // lmScoreOracle, permilleBucketSql — both now defs); the artifact
    // always surfaces as "null AS <alias>" in the generated SQL
    val bad = SparkEntry.allQ.flatMap(q =>
      q.oracle.filter(sql => sql.contains("null AS") || sql.trim.isEmpty)
        .map(_ => q.name))
    assert(bad.isEmpty,
      s"oracle SQL with an interpolated-null artifact (a helper val " +
        s"declared after the query list? make it a def): ${bad.mkString(", ")}")
  }

  test("no query plans a CartesianProduct or BroadcastNestedLoopJoin " +
      "outside the named allow-list") {
    val offenders = scala.collection.mutable.ListBuffer[String]()
    val stale = scala.collection.mutable.ListBuffer[String]()
    for (q <- SparkEntry.allQ.sortBy(_.name)) {
      val p = q.fn(spark, sf).queryExecution.executedPlan.toString
      val quad =
        p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")
      if (quad && !allowQuadratic.contains(q.name))
        offenders += s"${q.name}: quadratic join node in plan"
      if (!quad && allowQuadratic.contains(q.name))
        stale += q.name // allow-list entry no longer needed — tighten it
    }
    assert(offenders.isEmpty,
      s"scale-killer plans (add to allowQuadratic ONLY with a sound " +
        s"justification):\n${offenders.mkString("\n")}")
    assert(stale.isEmpty,
      s"stale allow-list entries (query no longer quadratic — remove):\n" +
        stale.mkString("\n"))
  }

  /** Exact recorded count of driver-materialization call sites —
    * `.collect()`/`.collectAsList()`/`.head()`/`.first()` — per
    * main-source file (tools/ excluded — those are operator mains, not
    * library paths). Every allowance is driver-side by design (audited in
    * VERDICT r5; head() sites added to the net in r7 — each is a
    * SINGLE-ROW fetch of a global aggregate or sketch, never a data
    * path). Any change to a count — up OR down — fails here and forces a
    * re-audit + justification in this map. */
  private val collectSites: Map[String, Int] = Map(
    "queries/Pipeline.scala" -> 11, // driver-side ORACLE generators: single-node replay twins (incl. m01's encoded-size inliner + the t38/t39/t40 unigram-LM replay corpus reads), never a data path; p07State's 1-row high-water aggregate at state build; ulmTrainedVocab's vocab-sized memo collect (the bpeTrainedMerges shape)
    "operators/Sampling.scala" -> 1, // per-partition Long count array (size = #partitions)
    "operators/Dedup.scala" -> 4, // longestRepeat per-round length menu (bounded by levels x lengths); head(): longestRepeat 1-row max-count agg + bloomBitsOf's 1-row fixed-size sketch (the materialize-then-embed shape of df.stat.bloomFilter); decontaminateSpans' benchmark-bounded sorted gram array (the decontaminateStream shape)
    "operators/Dml.scala" -> 1, // per-partition count array for ROWNUM/LIMIT semantics
    "operators/TextAnalysis.scala" -> 11, // BPE top-m driver argmax (bounded by merge batch); bm25Idf's per-term df collect (bounded by the literal term universe — the IDF table embeds as plan literals, materialize-then-embed like bloomBitsOf); hashedGramClassCounts' <= dim+1 row model aggregate (weights embed as one double[] plan literal, same shape); dsirSelect's k-row top-k boundary collect (threshold embeds as two plan literals); langIdFit's bounded label-universe distinct + its <= dim+1 row per-class aggregate (models embed as C double[] plan literals); perClassClassifierFit's same bounded pair (label universe + <= dim+1 rows with 2C columns); unigramLmTrain's three vocab-bounded collects (alphabet, capped seed pieces, per-EM piece counts — all dictionary-sized, never corpus-sized)
    "dsl/Model.scala" -> 2, // findList/findOne: the DSL's intentional executors (reference Model.java parity)
    "sqlfront/EngineDdl.scala" -> 3, // 1-row max(_rowid_) agg for identity backfill; VALUES tuples Spark cannot fold, evaluated once (statement-sized); noRows: one Boolean per partition
    "sqlfront/EngineTranslate.scala" -> 1, // valueLiteral: 1-row eval of SET @v = e and SET(@v, e), reference Variable.java parity
    "streaming/StreamDecontaminate.scala" -> 1, // benchmark gram-set materialization, bounded by the benchmark (KBs-MBs), embedded as a sorted reference array — materialize-then-embed like bloomBitsOf
    "core/ModelStore.scala" -> 2, // registry reads: readAll's collect is bounded by MODEL size (dim / C·dim / merges / k·d / m·kc·subdim / mBits÷64 rows — never the corpus); corpusFingerprint's head() is a 1-row global XOR aggregate
    "operators/Eval.scala" -> 1, // rank-sum offset pass: #partitions driver rows (the packSequences shape), never row-scaled
    "operators/Incremental.scala" -> 3, // readPackHighWater + readCfg: 1-row state reads; recordedVersion: 1-row lookup in the #batches-sized scoring log
    "operators/ConnectedComponents.scala" -> 1, // the non-self pair edges, collected only when their count (observed on the cut's own job, before the collect) is at most DriverEdges = 2^18
    "plans/KeyLookup.scala" -> 1 // spansOf: one (min, max, rows) key span per partition of a materialized frame (#partitions rows, the Sampling count-array shape)
  )

  test("driver collect() surface matches the audited per-file record") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val counts = scala.collection.mutable.Map[String, Int]()
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".scala") && !p.toString.contains("/tools/")) {
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        // strip line comments so documentation mentioning collect() is
        // free — but only a // OUTSIDE a string literal starts a comment
        // (an even count of '"' before it on the line), so a URL like
        // "https://..." cannot truncate the code line and hide a real
        // .collect() appearing after it
        val code = text.linesIterator
          .map { l =>
            var i = 0; var quotes = 0; var cut = -1
            while (cut < 0 && i < l.length - 1) {
              if (l.charAt(i) == '"') quotes += 1
              else if (l.charAt(i) == '/' && l.charAt(i + 1) == '/' &&
                quotes % 2 == 0) cut = i
              i += 1
            }
            if (cut < 0) l else l.substring(0, cut)
          }
          .mkString("\n")
        val n = "\\.(collect(AsList)?|head|first)\\(\\)".r.findAllIn(code).size
        if (n > 0) counts(root.relativize(p).toString) = n
      }
    }
    assert(counts.toMap == collectSites,
      s"collect() surface drifted — re-audit and update the record with a " +
        s"justification.\nfound:    ${counts.toSeq.sorted.mkString(", ")}\n" +
        s"recorded: ${collectSites.toSeq.sorted.mkString(", ")}")
  }

  /** `file:line` of every line under `src/main/scala/<dir>` (tools/ aside)
    * that `pattern` matches. */
  private def sourceSites(dir: String, pattern: scala.util.matching.Regex): Seq[String] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    val sites = scala.collection.mutable.ArrayBuffer.empty[String]
    java.nio.file.Files.walk(root.resolve(dir)).forEach { p =>
      if (p.toString.endsWith(".scala") && !p.toString.contains("/tools/")) {
        val lines = new String(java.nio.file.Files.readAllBytes(p), "UTF-8").linesIterator
        lines.zipWithIndex.foreach { case (l, i) =>
          if (pattern.findFirstIn(l).isDefined) sites += s"${root.relativize(p)}:${i + 1}"
        }
      }
    }
    sites.toSeq
  }

  test("no engine code registers a temp view") {
    // the catalog value is the one registry of tables: a statement binds
    // its table names from it (sqlfront/Resolve), so a session view would
    // be a second copy that another engine on the session can read
    val sites = sourceSites("", "\\b(createOrReplaceTempView|createTempView|createGlobalTempView)\\b".r)
    assert(sites.isEmpty, sites.mkString(", "))
  }

  test("no SQL front-door code registers or drops a session function") {
    // aliases and user aggregates bind from the catalog value too
    // (sqlfront/Resolve), so a session function would be a second copy
    // that another engine on the session can call
    val sites = sourceSites("graft/sqlfront", "udf\\.register|(?i)TEMPORARY FUNCTION".r)
    assert(sites.isEmpty, sites.mkString(", "))
  }

  /** Per-query SHUFFLE-exchange budget (hash/range/single-partition
    * Exchanges in the initial plan at sf0.001; BroadcastExchange excluded —
    * broadcasts are the cheap, desirable join side). Regenerate with
    * `graft.tools.ExchangeCensus`. An added exchange — a lost broadcast, a
    * redundant repartition, an unfused window — fails here with the query
    * named; going UNDER budget is always fine (tighten the row when it
    * happens). */
  private val exchangeBudget: Map[String, Int] = Map(
    "d01_dedup_exact" -> 1,
    "d02_minhash_pairs" -> 2,
    "d03_minhash_dedup" -> 4,
    "d04_simhash_pairs" -> 2,
    "d05_ngram_jaccard" -> 2,
    "d06_embedding_neardup" -> 1,
    // d07, d10, d11, d12, d16: small pair graphs come back from connected
    // components as a local frame, which the final join broadcasts
    "d07_minhash_dedup_transitive" -> 0,
    // 7 → 4: no distinct before the victim anti-join or the hash semi-join;
    // 4 → 2: the victims are broadcast into the anti-join
    "d08_cross_dedup" -> 2,
    "d09_segment_dedup" -> 3,
    "d10_semdedup" -> 0,
    "d11_dedup_clusters" -> 0,
    "d12_cluster_stats" -> 1,
    "d13_duplicate_spans" -> 2,
    "d14_remove_dup_spans" -> 3,
    "d15_duplication_profile" -> 5,
    "d16_quality_reps" -> 1,
    "d17_longest_repeat" -> 0, // r7 packed refine: state is checkpointed, the final attach broadcasts
    "d19_semdedup_kmeans" -> 5,
    "m01_media_decode" -> 0,
    "m02_frame_sample" -> 0,
    "m03_media_features" -> 0,
    // r14: 13 → 7 — the representative-survivor subtree is materialized
    // once (Checkpoint.cut) instead of executing 3× inside
    // removeDuplicateSpans' three consumers; the window+join exchanges
    // moved out of the final plan and run once, eagerly. 7 → 4: small pair
    // graphs come back from connected components as a local frame, and
    // the cluster join broadcasts it
    "p01_corpus_prep" -> 4,
    "p02_embedding_prep" -> 1,
    "p03_media_prep" -> 6,
    "q01_pricing_summary" -> 2,
    "q02_filter_project" -> 0,
    "q03_join_revenue_by_nation" -> 1,
    // at test SF the dims broadcast so both q03 forms read 1; the bucketed
    // form's REAL contract (3 exchanges vs plain 5 once facts outgrow
    // broadcast) is pinned in BucketingSpec's no-broadcast regime
    "q03_bucketed_revenue" -> 1,
    "q04_left_join" -> 0,
    "q05_right_join" -> 0,
    "q06_full_outer_join" -> 2,
    "q07_cross_join" -> 0,
    "q08_natural_join" -> 0,
    "q09_semi_join" -> 0,
    "q10_anti_join" -> 0,
    "q11_scalar_subquery" -> 1,
    "q12_union" -> 1,
    "q13_union_all" -> 0,
    "q14_except" -> 1,
    "q15_intersect" -> 1,
    "q16_distinct_multi" -> 1,
    "q17_sort_limit_offset" -> 0,
    "q18_topk" -> 0,
    "q19_nulls_ordering" -> 0,
    "q20_stats_decomposed" -> 2,
    "q21_minmax_countdistinct" -> 5,
    "q22_bool_bit_agg" -> 1,
    "q23_sum_bool" -> 2,
    "q24_group_concat" -> 2,
    "q25_group_concat_distinct" -> 2,
    "q26_histogram" -> 1,
    "q27_selectivity" -> 2,
    "q28_string_funcs" -> 0,
    "q29_math_funcs" -> 0,
    "q30_datetime_funcs" -> 0,
    "q31_conditional" -> 0,
    "q32_like_regexp_in" -> 0,
    "q33_array_funcs" -> 0,
    "q34_window_rank" -> 1,
    "q35_window_running_sum" -> 1,
    "q36_system_range" -> 0,
    "q37_recursive_cte" -> 0,
    "q38_recursive_closure" -> 0,
    "q39_merge_upsert" -> 2,
    "q40_update_rewrite" -> 0,
    "q41_delete_rewrite" -> 0,
    "q42_csv_roundtrip" -> 0,
    "q43_group_concat_udaf" -> 2,
    "q44_selectivity_udaf" -> 1,
    "q45_histogram_udaf" -> 1,
    "q46_events_windowed" -> 1,
    "q47_sessionize" -> 1,
    "q48_unique_validation" -> 2,
    "q49_table_function" -> 0,
    "q50_collation_ignorecase" -> 0,
    "q51_quantified_compare" -> 1,
    "q52_topk_per_user" -> 1,
    "q53_type_casts" -> 0,
    "q54_json_extract" -> 0,
    "q55_explode_embedding" -> 0,
    "q56_intersect_all" -> 1,
    "q57_except_all" -> 1,
    "q58_fk_violations" -> 1,
    "q59_table_literal_join" -> 0,
    "q60_check_violations" -> 0,
    "q61_interval_join_outer" -> 0,
    "q62_events_sliding_window" -> 1,
    "q63_stream_dedup_earliest" -> 1,
    "q64_salted_join" -> 0,
    "q65_asof_join" -> 1,
    "q66_range_join" -> 0,
    "q67_rolling_features" -> 1,
    "q68_rollup" -> 1,
    "q69_pivot" -> 2,
    "q70_cube" -> 1,
    "q71_grouping_sets" -> 1,
    "q72_unpivot" -> 1,
    "q73_lateral" -> 1,
    "q74_percentiles" -> 1,
    "q75_higher_order" -> 0,
    "q76_window_analytics" -> 1,
    "q77_selector_aggregates" -> 1,
    "q78_json_roundtrip" -> 0,
    "q79_orc_roundtrip" -> 0,
    "s01_ann_bruteforce" -> 1,
    "s02_ann_lsh" -> 2,
    "s03_ann_ivf" -> 1,
    "s04_ann_quantized" -> 1,
    // s05 (r14): 2 = pair distinct + TopKPerKey clustering
    // (plans/r14/s05_knn_graph_after.txt). The count gate's aggregate is
    // bucket-space-bounded (≤ tables × 2^bits rows) and lineage-cut, so
    // it runs once eagerly; the gating semi-join and the candidate
    // self-join broadcast at lint SFs. The cap + drop observation of the
    // r13 rewrite are preserved on the count aggregate.
    "s05_knn_graph" -> 2,
    "s06_kmeans_assign" -> 0,
    "s07_ann_pq" -> 1,
    "s08_ann_ivfpq" -> 1,
    "t01_text_stats" -> 0,
    "t02_lang_id" -> 0,
    "t03_fingerprint" -> 0,
    "t04_corpus_stats" -> 1,
    "t05_repetition" -> 0,
    "t06_decontaminate" -> 2,
    // bloom prefilter adds NO exchange: the probe is a joinless filter on
    // the gram scan; the two shuffles are the same confirm-join groupBy +
    // zero-restore join t06 has (bloom build runs as its own tiny job)
    "t22_decontaminate_bloom" -> 2,
    "t23_boolean_search" -> 1,
    // t24: tf groupBy, stats 1-row agg, score groupBy, TopKPerKey's
    // query_id clustering — all keyed or single-row, none corpus-pairwise
    "t24_bm25_topk" -> 4,
    "t25_phrase_search" -> 2, // start-vote groupBy + per-doc match count
    "t26_ngram_lm_counts" -> 2, // ngram counts (lineage-cut) + suffix re-agg
    "t27_decontaminate_stream" -> 0, // pure per-row projection, joinless
    "t07_pii_redact" -> 0,
    "t08_vocab_topk" -> 2,
    "t09_blocklist_filter" -> 0,
    "t10_trigram_quality" -> 2,
    "t11_readability" -> 0,
    "t12_chunk_text" -> 0,
    "t13_tfidf_topk" -> 6,
    "t14_bpe_pairs" -> 2,
    "t15_trigram_quality_lang" -> 2,
    "t16_bpe_train" -> 0,
    "t17_bpe_encode" -> 2,
    "t18_rolling_corpus_stats" -> 1,
    "t19_freq_spectrum" -> 2,
    "t20_kmv_distinct" -> 3,
    "t21_rolling_distinct" -> 1,
    "u01_hash_split" -> 0,
    "u02_stratified_sample" -> 0,
    "u03_priority_sample" -> 0,
    "u04_pack_sequences" -> 0,
    "u05_corpus_shuffle" -> 0,
    "u06_stratified_priority_sample" -> 1,
    "u07_temperature_rebalance" -> 4,
    "u08_token_budget_select" -> 1,
    "u09_domain_mix" -> 1,
    // one keyed agg shuffle; TIME min/max partial-aggregates map-side
    "q80_time_of_day" -> 1,
    // one hash-aggregate keyed on the canonical key (struct-max partial
    // state; no window sort over the group)
    "d20_url_dedup" -> 1,
    // per-frame checksums are map-shaped (flatMap on the scan); the two
    // shuffles are the frame-content groupBy's partial/final split with
    // countDistinct's expand
    "m04_frame_dedup" -> 2,
    // doc-bigram partial agg (lineage cut) + bigram model re-agg +
    // context re-agg + per-doc score fold; model joins shuffle-reuse the
    // bigram key, V is a 1-row broadcast
    "t28_lm_score" -> 4,
    // pure per-row codegen column expressions over one scan
    "t29_gopher_filter" -> 0,
    // per-row array expressions (sorted-run folds + distinct sums) — no
    // shuffle at any corpus size
    "t30_gopher_repetition" -> 0,
    // contains both ANN inputs it evaluates: s02's LSH plan (bucket join +
    // TopKPerKey clusterings) + s01's brute ground truth, then ONE pair-key
    // join + keyed agg on queries×k rows
    "s09_ann_recall" -> 6,
    // pure per-row codegen column expressions over one scan
    "t31_c4_filter" -> 0,
    // t28's 4 (doc-bigram agg, model re-agg, context re-agg, score fold)
    // + the per-source NTILE window sort; the source join broadcasts
    "t32_ccnet_buckets" -> 5,
    // three per-row gates fused into one scan — zero exchanges
    "p04_quality_gate" -> 0,
    // t06's two (per-doc hit groupBy + zero-restore join) — the split
    // attach joins on the same doc_id clustering
    "u10_decontaminated_split" -> 2,
    // map-shaped: decode -> resample -> re-encode -> re-decode per row
    "m05_image_resize" -> 0,
    // one (n_frames, pcm_sum) aggregate over the audio-only decode
    "m06_audio_dedup" -> 1,
    // map-shaped: decode + block fold per row, no shuffle
    "m07_image_phash" -> 0,
    // cross-modal gate: zero-exchange kernel scan (text side) BHJ'd
    // against the map-shaped decode side on doc_id — no shuffle at
    // bench SFs; at corpus scale the join degrades to an SMJ whose two
    // exchanges share the doc_id clustering (bucketed-layout lever)
    "m08_caption_consistency" -> 0,
    // the audio sibling: same kernel-scan-BHJ-decode shape as m08
    "m09_audio_caption_consistency" -> 0,
    // p04's fused gate scan + the m08 kernel column, BHJ'd to the decode
    // side — same shape and scale posture as m08
    "p10_multimodal_export" -> 0,
    // APPLY of the learned classifier: one zero-exchange codegen kernel
    // pass per row (the FIT's single gram-level aggregate runs eagerly at
    // plan-build time and embeds the weights as one double[] literal —
    // it is not part of this plan)
    "t33_quality_classifier" -> 0,
    // DSIR apply: the same zero-exchange kernel scan + a literal Gumbel
    // lookup; the fit aggregate AND the boundary top-k (TakeOrdered, k
    // rows) run eagerly at plan-build time and embed as plan literals —
    // the emitted plan reads the checkpointed scored frame, no shuffle
    "t34_dsir_select" -> 0,
    // multiclass lang-id apply: C kernel columns in one scan (codegen
    // subexpression elimination shares the gram stream); both fit
    // aggregates run at plan-build time and embed as plan literals
    "t35_langid_learned" -> 0,
    // span-level decontamination: one kernel scan, benchmark gram hashes
    // in the task binary (the t27 shape, surgical); the bounded benchmark
    // gram job runs at plan-build time
    "t36_decontaminate_spans" -> 0,
    // p06 export: funnel + span-clean are per-row in one scan; packing's
    // range exchange + per-partition offsets run EAGERLY inside
    // packSequences (the u04 shape), so the emitted plan scans its RDD
    "p06_pretrain_export" -> 0,
    // p04's three rule gates + the t33 classifier kernel fused in the
    // same single scan — still zero exchanges
    "p05_quality_funnel" -> 0,
    // t37 eval: each (model, cls) rank-sum job (one range exchange + a
    // per-partition offset pass, the packSequences shape) runs EAGERLY
    // at plan-build time; the emitted plan unions 1-row literal frames
    "t37_model_eval" -> 0,
    // p08 per-language funnel: 2C kernel columns + rule gates + routing
    // CASE in ONE scan — all three fit aggregates run at plan-build time
    // and embed as plan literals
    "p08_perlang_funnel" -> 0,
    // p07 delta ingest: cross-dedup against persisted state + funnel run
    // EAGERLY inside packSequences' offset jobs (state build is memoized
    // per dir); the emitted plan scans the packed RDD
    "p07_incremental_ingest" -> 0,
    // t38 trainer: seed/EM jobs run at plan-build time over the
    // dictionary; the emitted plan is the vocab-sized literal frame
    "t38_unigram_train" -> 0,
    // t39 encode: distinct-word dictionary aggregate + per-doc aggregate
    // (the dictionary join broadcasts — t17's exact shape and budget)
    "t39_unigram_encode" -> 2,
    // t40 ppl: same dictionary shape with the sorted-fold NLL aggregate
    "t40_unigram_ppl" -> 2,
    // p09 registry apply: the clf+lid kernels ride t40's scan (one
    // zero-exchange column set), so the budget IS t40's dictionary
    // shape — the loaded-model join adds no exchange (broadcast)
    "p09_registry_apply" -> 2,
    // t41 calibration: one hash aggregate over <= buckets rows
    "t41_calibration" -> 1
  )

  /** sf0.01 OVERRIDES on top of [[exchangeBudget]] (VERDICT r6 directive
    * #5): a second recorded scale catches AQE/broadcast-threshold
    * crossings the sf0.001 plans can't see, and survives driver testdata
    * regeneration. As of r7 the two censuses agree on EVERY query
    * (graft.tools.ExchangeCensus at both dirs — 141 rows identical), so
    * the override map is empty; any future scale-divergent plan must add
    * its row here WITH the justification for why the shapes differ. */
  private val exchangeBudget01: Map[String, Int] = exchangeBudget ++ Map()

  private def assertBudgets(dir: String, budget: Map[String, Int]): Unit = {
    val over = scala.collection.mutable.ListBuffer[String]()
    val missing = scala.collection.mutable.ListBuffer[String]()
    for (q <- SparkEntry.allQ.sortBy(_.name)) {
      val p = q.fn(spark, dir).queryExecution.executedPlan.toString
      val n = "(?<!Broadcast)Exchange".r.findAllIn(p).length
      budget.get(q.name) match {
        case Some(b) if n > b => over += s"${q.name}: $n exchanges (budget $b)"
        case None => missing += q.name
        case _ =>
      }
    }
    assert(missing.isEmpty,
      s"queries without a budget row (run graft.tools.ExchangeCensus and " +
        s"add them):\n${missing.mkString("\n")}")
    assert(over.isEmpty,
      s"shuffle-exchange budget exceeded — a lost broadcast or redundant " +
        s"shuffle; fix the plan or justify a bump:\n${over.mkString("\n")}")
  }

  test("cross-dedup broadcasts its victims into the final anti-join and " +
      "never shuffles the batch") {
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // a shuffled anti-join leaves the survivors in shuffle-partition
    // count, so every append of a delta would write that many files
    val plan = SparkEntry.allQ.find(_.name == "d08_cross_dedup").get
      .fn(spark, sf).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    val join = plan.collectFirst { case j: BroadcastHashJoinExec => j }
    assert(join.exists(j => j.joinType == LeftAnti && j.buildSide == BuildRight),
      plan.treeString)
    assert(join.get.right.output.map(_.name) == Seq("__victim"), plan.treeString)
    assert(join.get.left.collectFirst { case e: ShuffleExchangeExec => e }.isEmpty,
      plan.treeString)
  }

  test("no query exceeds its recorded shuffle-exchange budget") {
    assertBudgets(sf, exchangeBudget)
  }

  test("no query exceeds its recorded shuffle-exchange budget at sf0.01") {
    assertBudgets("/root/testdata/sf0.01", exchangeBudget01)
  }
}
