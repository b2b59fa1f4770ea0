package graft

import java.io.PrintWriter
import java.nio.file.Paths
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Plan dumps of registry queries. Nothing here is part of the driver
  * bench contract.
  *
  * With no arguments it regenerates PLANS.md in the working directory:
  * the formatted physical plans of the headline queries, annotated with
  * what to look for in each, plus a plan-shape index row for every
  * registry query. PLANS.md is generated at [[PlansFixtures]] on
  * [[PlansCpus]] cores, whatever the environment says:
  *   sbt "runMain graft.ExplainOne"
  *
  * With query names it dumps each one's `.explain("formatted")` plan to
  * `plans/<tag>/<query>_<suffix>.txt` and optionally times it with the
  * noop sink (computes every column, discards the write):
  *   SPARK_GRAFT_EXPLAIN_OUT=plans/r12 SPARK_GRAFT_EXPLAIN_SUFFIX=before \
  *   SPARK_GRAFT_EXPLAIN_NOOP=3 SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.ExplainOne q0X_cms_join_size q5P_warc_html_pipeline"
  * Fixtures come from `SPARK_GRAFT_SF_DIR` and cores from
  * `SPARK_GRAFT_CPUS` ([[Session.cpus]]).
  *
  * Streaming queries (`_stream`) build a drained-sink batch frame; the
  * dumped plan is that frame's (the live micro-batch plans are asserted
  * in StreamingSpec). Timings print to stderr as `[explain] <q> noop rep
  * N: <sec>`.
  */
object ExplainOne {
  /** Fixtures PLANS.md is generated at: plans are scale-independent, and
    * sf0.01 keeps the run fast. */
  val PlansFixtures: String =
    Paths.get(sys.props("user.home"), "testdata", "sf0.01").toString
  /** Cores (and shuffle partitions) PLANS.md is generated at. */
  val PlansCpus = 8

  def main(args: Array[String]): Unit = {
    val spark = Session.local(if (args.isEmpty) PlansCpus else Session.cpus,
      "graft-explain")
    // keep the state-store maintenance thread out of noop timings, as
    // Bench does
    spark.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "300s")
    spark.sparkContext.setLogLevel("ERROR")
    if (args.isEmpty) writePlans(spark) else explain(spark, args.toSeq)
    spark.stop()
    sys.exit(0)
  }

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def explain(spark: SparkSession, names: Seq[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_OUT", "plans/r12")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_SUFFIX", "before")
    val noopReps = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_NOOP", "0").toInt
    java.nio.file.Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      val df = fn(spark, sfDir)
      val out = new PrintWriter(s"$outDir/${name}_$suffix.txt")
      out.println(formatted(df))
      out.close()
      System.err.println(s"[explain] wrote $outDir/${name}_$suffix.txt")
      if (noopReps > 0) {
        spark.sparkContext.setJobDescription(s"explain-noop: $name")
        (1 to noopReps).foreach { i =>
          val fresh = fn(spark, sfDir) // rebuild: no reuse across reps
          val t0 = System.nanoTime()
          fresh.write.format("noop").mode("overwrite").save()
          System.err.println(
            f"[explain] $name noop rep $i: ${(System.nanoTime() - t0) / 1e9}%.3f")
        }
        spark.sparkContext.setJobDescription(null)
        if (name.contains("_stream")) {
          graft.streaming.StreamRunner.dropRetainedSinks(spark)
          org.apache.spark.sql.GraftBridge.stopStateStores()
        }
      }
    }
  }

  /** Headline queries of PLANS.md and what to look for in each plan. */
  private val Headline: Seq[(String, String)] = Seq(
    ("q01_pricing_summary", "TPC-H Q1-style scan+agg: whole-stage codegen, partial aggregation"),
    ("q10_knn_single", "exact KNN: broadcast query, codegen'd cosine, TakeOrderedAndProject (per-partition heaps)"),
    ("q11_knn_batch", "batched KNN through the custom TopKPerKey physical operator (two-phase heaps)"),
    ("q12_knn_filtered", "metadata filter pushed below scoring into the parquet scan (PushedFilters)"),
    ("q31_jaccard_pairs", "inverted-index shingle join on xxhash64 long keys; only shingle-sharing pairs materialize"),
    ("q46_asof_last_order", "as-of join as union+window: one shuffle, no row fanout"),
    ("q65_contamination", "contamination check: benchmark shingles aggregated then BroadcastHashJoin -- train side streams, no pair blowup"),
    ("q66_sequence_packing", "sequence packing: windowed cumsum partitioned by shard (no global single-partition Window)"),
    ("q2A_hybrid_rrf", "reciprocal rank fusion: two TakeOrderedAndProject pools, ranks from sorted-array index (no WindowExec), full-outer fuse"),
    ("q3A_incremental_dedup", "incremental dedup: incoming-vs-corpus LSH bucket join, jaccard verify, left_anti -- corpus only touched via its bucket table"),
    ("q0I_cumulative_revenue", "running totals: ordered window over pre-aggregated months, partitioned by status (parallel, no single-partition window)"),
    ("q16_ann_lsh", "sign-LSH probe: codegen'd lsh_signature expression (no ScalaUDF), bucket isin filter, TakeOrderedAndProject"),
    ("q35_simhash_pairs", "64-bit simhash blocked pairs: 4x16-bit pigeonhole equi-join, bit_count(xor) distance on half-longs"),
    ("q6A_salted_agg", "skew-salted aggregation: (key, salt) partial phase then key combine -- one hot key spreads over 32 reducers"),
    ("q69_training_pipeline", "composed pipeline: codegen'd filters -> exact-dedup semi-join -> LSH-prune anti-join -> chunk generator, filters before every shuffle"),
    ("q6B_ann_recall", "batched multi-probe ANN + recall eval: query batch explodes into XOR probe masks, ONE broadcast bucket equi-join (corpus never shuffles), TopKPerKey both sides"),
    ("q6C_train_shards", "deterministic training shards: md5 shuffle key, hash shard, per-shard rank window -- no global sort, shards rank in parallel"),
    ("q6D_semantic_pairs", "SemDeDup semantic near-dup: broadcast centroid argmax (max_by partial agg -- the nList expansion never shuffles), cell-size cap as a count window inside the cell exchange, cell equi-join bounds pairs to sum(cell^2). The static plan prints the assignment subtree twice; at RUNTIME AQE folds the second into a ReusedExchange of the first (asserted in DedupSpec) -- the assignment computes once"),
    ("q74_dup_spans", "exact substring-span dedup (ExactSubstr): window-hash groupBy with partial aggregation, duplicated-window dictionary equi-join back (output bounded by window count -- NO pair join anywhere), then a doc-local sort window + island aggregation already co-partitioned. Three keyed exchanges, each linear in corpus size"),
    ("q0D_quantiles", "distributed exact quantiles (round-5 rewrite): value-frequency selection -- one scan explodes the requested columns into a partial-aggregated (group, column, value) -> count table (shuffle carries distinct-value cardinality, not rows), running sum in value order assigns rank ranges, <=2 covering rows per quantile interpolate. NO exact-percentile ObjectHashAggregate buffer anywhere (PlanAuditSpec bans it registry-wide)"),
    ("q78_span_keep_one", "keep-one-copy span dedup: the window-hash dictionary aggregate also elects each duplicated window's canonical min-(doc, s) occurrence; non-canonical hits alone feed the island merge. Same three linear keyed exchanges as q74 -- the election adds one column to the dictionary, not a join"),
    ("q57_pdf_ingest", "PDF ingest round-trip: binaryFile scan -> typed flatMap page explode (object path, NOT a ScalaUDF -- per-file parsing is imperative by nature and parallelizes across files), then pure codegen'd projection. One narrow map, zero shuffles before the final sort"),
    ("q2D_bloom_screen", "Bloom contamination screen: the set-bit table (<= d*w rows by construction) BROADCASTS into the probe join -- the training side never shuffles for membership; the exact-join comparison broadcasts the benchmark shingle set the same way. The training side's one exchange is the doc_id fan-out after its scan; its per-doc aggregate reuses that partitioning"),
    ("q2E_bpe_pairs", "BPE pair statistics: corpus explodes ONCE into the distinct-word frequency table (map-side combine bounds that shuffle to vocab), pairs explode from the word table (vocabulary-sized, not corpus-sized), pair aggregate partial-combines again. TakeOrderedAndProject cuts the top-20"),
    ("q6I_weighted_sample", "DSIR Gumbel-top-k resample: q6G's weight pipeline (broadcast log-ratio table, pool streams through one narrow join) + a narrow key map, then TakeOrderedAndProject -- per-partition k-heaps, partitions*k rows to the merge, NO global sort of the weighted pool"),
    ("q2H_hll_distinct", "from-scratch HyperLogLog: one narrow md5 map per occurrence, register table via (source, j) groupBy MAX (partial-aggregated -- the shuffle carries <= groups*m register rows, never occurrences), integer-exact 2^(33-r) register sum, one closed-form division. The exact countDistinct side it is priced against carries distinct-value state; the sketch side is the 100 TB path"),
    ("q2G_grouped_quantiles", "per-group histogram quantiles: grouped bucket aggregate (state <= groups*nBuckets), cumulative walk windowed PER GROUP (parallel across groups -- no single-partition window), covering-rank equi-joins on the group key with the rank range residual"),
    ("q6J_semantic_contamination", "cross-set semantic contamination: broadcast-centroid argmax assignment per side (narrow, no shuffle), bench side BROADCAST into the cell equi-join -- the train corpus streams; per-train-doc aggregate"),
    ("q4B_pagerank", "PageRank: per-round ONE hash join of the node-sized rank table against edges + a map-side-combinable sum; integer fixed-point recurrence (no float), localCheckpoint truncates lineage per round -- nothing collects, nothing broadcasts the corpus"),
    ("q4C_zorder", "Z-order key: pure codegen'd integer bit-interleave (no UDF, no shuffle before the bucket aggregate) -- the clustering key a 100 TB OPTIMIZE ZORDER layout job computes per row"),
    ("q6K_nb_classifier", "Naive Bayes: model = labels x nBuckets broadcast count table; ONE heavy per-(doc, bucket) corpus pass, then broadcast joins -- the corpus never shuffles on anything but (doc, bucket); fixed-point argmax via two aggregations, no corpus window"),
    ("q3E_fuzzy_pairs", "fuzzy entity matching: trigram inverted-index equi-join on xxhash64 keys (never n^2), distinct candidate pairs, free length prune, ONE levenshtein per pair -- no CartesianProduct anywhere"),
    ("q4D_cdc_chunks", "content-defined chunking: one narrow aggregate() fold per doc (lambdas bind only acc/element -- no per-element re-evaluation of the token split), then posexplode of the finished chunk array; no shuffle until the final sort"),
    ("q0K_expectations", "declarative expectations: every constraint metric inside ONE Aggregate (map-side-combinable 0/1 averages + the single count-distinct Expand for key uniqueness), then a literal-array explode into report rows -- the whole quality gate is one scan"),
    ("q4N_triangles", "triangle census (round-7 rewrite): DEGREE-ORDERED orientation -- each edge points low-degree -> high-degree, so every out-degree is <= sqrt(2m) and the wedge self-join materializes O(m^1.5) candidates on ANY degree distribution (id-orientation put deg^2/2 on one hub key); two keyed equi-joins, no cartesian"),
    ("q0M_sketch_quantiles", "bottom-k quantile sketch: the reservoir aggregate partial-combines (partitions x k entries cross the shuffle, never rows), estimates select IN-ROW from the sorted sample array (no explode, no window), exact-quantile + rank-audit passes broadcast the 1-row estimate table -- corpus passes stay narrow"),
    ("q0O_snapshot_diff", "snapshot diff: ONE full-outer SortMergeJoin co-partitioned on the key, null-safe <=> comparison computed columnar in the projection -- no per-row hashing pass, no second join; at 100 TB bucket both snapshots by key for a shuffle-free diff"),
    ("q0Q_bloom_join", "Bloom-filtered join (round-7 rewrite): the runtime filter is ONE codegen'd bloom_hit expression in the scan's DataFilters -- one md5 per row against an 8 KB plan-literal bitmap, rows drop BEFORE the join/shuffle. The Column-composed probe it replaced re-evaluated the md5 subtree per hex-digit reference (FilterExec does no subexpression elimination): measured 22.4 s -> ~1.5 s on the same 600 K-row probe"),
    ("q4U_interval_join", "point-in-interval range join: each interval explodes to its covered bins and BROADCASTS; points land in exactly ONE bin -- a BroadcastHashJoin on _bin with the exact containment as residual condition. The naive theta-join would be a BroadcastNestedLoopJoin; oversized intervals raise IN-PLAN instead of exploding"),
    ("q4V_scd2", "SCD Type 2 build: same-ts dedup + run collapse + validity intervals as a window CHAIN sharing ONE hashpartitioning(cust_key) exchange (the (key, ts)-partitioned dedup variant would force a second shuffle); the only other exchange is the output ORDER BY"),
    ("q0S_pareto", "2-D Pareto frontier: per-distinct-x max aggregate BELOW the single-partition window (the window input is bounded by the x domain, never the corpus), survivors selected by a broadcast equi-join back on x -- no pairwise self-join, no corpus sort"),
    ("q0T_scd2_pit", "SCD2 point-in-time enrichment: facts pre-aggregate to distinct (key, ts) probes, then the AsOf union-window resolves state current at ship time -- ONE hashpartitioning(cust_key) exchange over both sides together, no row fanout, no per-probe re-scan"),
    ("q4W_components", "HashMin connected components: per round ONE node-table hash join against the static bidirected+self-loop edge set + a map-side-combinable min -- the self-loop trick removes the left-join-back step, so the recurrence references its predecessor exactly once and lineage stays a chain"),
    ("q2L_tfidf_pairs", "TF-IDF cosine pairs: inverted-index self-join on term with the df <= 100 posting-list cap (ubiquitous terms carry ~zero idf AND C(d,2) fanout); dot products and norms are LONG sums of micro-unit weights -- order-independent, partial-aggregated; TakeOrderedAndProject cuts the top-10"),
    ("q5H_image_near_dup", "banded-hamming image near-dup: the decoded aHash signature table cuts ONCE above the codec (localCheckpoint -- both self-join sides read it), 4x16-bit band posexplode, (band, key) equi-join, full bit_count(xor) verify as residual -- pair space bounded by band buckets, no all-pairs, payloads never shuffle"),
    ("q0V_kll_quantiles", "KLL quantile sketch: three mapPartitions stages with bounded fan-in (per-partition sketches -> pid-sorted group merges -> one final merge of ~KB blobs); the rank audit broadcasts the 1-row estimate table into a narrow corpus pass; exact Quantiles path alongside for the flag -- nothing corpus-sized ever sits in one task"),
    ("q0W_grouped_kll", "grouped KLL aggregate: ObjectHashAggregate over KllSketch buffers -- partials ship sketch BYTES per (partition, group), never rows; audit joins broadcast the groups-sized estimate table"),
    ("q3H_containment_capped", "capped containment pairs: the hot-shingle LeftAnti anti-join (the PlanAuditSpec cap witness) sits UNDER both sides of the pair self-join -- one df-d shingle can never mint d^2/2 pairs; sizes and overlap both computed AFTER the cap"),
    ("q6R_domain_cap", "URL -> registrable domain -> per-domain cap: canonicalization + domain extraction are row-local native expressions (regexps + HOF fold, zero added shuffle); the only exchange is the per-domain rank window on the derived key"),
    ("q6S_mojibake_repair", "encoding-repair gate: detection regex + guarded ISO-8859-1 re-encode/UTF-8 re-decode, all row-local in one projection -- a 100 TB scan pays zero shuffle for the hygiene pass"),
    ("q5N_packed_shards", "packed training-shard sink: tokens + salted-md5 shard route, ONE repartition(shard) exchange, executor-side stream-and-digest file write inside mapPartitions (sort before pack => byte-identical re-runs), binaryFile re-read joins the 8-row manifests -- no collect, no per-group buffer"),
    ("q5P_warc_html_pipeline", "crawl-to-text front end: binaryFile WARC scan -> typed flatMap record walk (object path, per-file imperative parse, payloads never shuffle) -> row-local HTML extraction + anchor-ratio gate, all inside one narrow projection before the final sort"),
    ("q4T_hits", "HITS (round-9 fusion): per round ONE edge||score hash join + map-side-combinable sum per direction, CUT once -- the one-row normalizer agg and the div projection both read the cut instead of re-running the join; zero-mass rows elided per round, restored in the output's left joins"),
    ("q6T_curriculum_order", "curriculum ordering (round-11 rewrite): EXACT decile edges (output-visible) + percentile_approx sub-bucket edges (engine-internal, bounded GK summary -- the 136-exact-spec form cost ~10 s of wide-codegen interpolation) broadcast into a row-local assignment over the localCheckpointed (doc_id, quality) projection, then the TWO-PHASE rank -- row_number windows keyed on (decile, bucket) so parallelism is 10 x 128 and per-task sort state corpus/1280 (the round-10 10-key decile window put ~corpus/10 in one task; PlanAuditSpec's bounded-cardinality window audit now bans that shape), cumulative bucket counts rejoin as BROADCAST offsets"),
    ("q5R_image_near_dup_bucketed", "q5L's image near-dup screen on the 100 TB join shape: the corpus band table is NOT broadcast -- a pinned SortMergeJoin on (band, key), so a corpus whose bands exceed executor memory still joins (pre-bucket the stored band table and only the incoming side shuffles); hash-equal to the broadcast twin, MultimodalSpec asserts zero BroadcastExchange"),
    ("q6U_psl_domain", "PSL-backed registrable domain: the suffix table collapses to ONE array row and BROADCASTS (collect_set agg + BroadcastNestedLoopJoin of a single row -- the PSL is ~10k static entries); the longest-suffix match is a row-local fold, so the corpus scan stays narrow with zero added keyed exchange"),
    ("q6W_robots_gate", "robots.txt politeness gate: per-host robots bodies BROADCAST (a KB-per-host fetcher cache), RFC 9309 parse + longest-match decision are row-local HOF folds -- the corpus pays one BroadcastHashJoin on host and zero keyed exchanges for the whole gate"),
    ("q6Y_crawl_frontier", "crawl frontier end-to-end (round-12): sitemap scan UNION parquet scan -> row-local canonicalize -> the frontier's ONLY corpus-side keyed exchanges are the exact dedup's and the domain-cap window's (both linear in the frontier); the Bloom seen-filter is a codegen'd probe against an 8 KB plan-literal bitmap (zero shuffle, rows drop BEFORE the robots join), the robots parse is a host-distinct exchange bounded by HOST count feeding one BroadcastHashJoin. The domain-cap window keys on a data-derived domain (cardinality scales with hosts -- not the bounded-spec shape the window audit bans)"),
    ("q8A_zipf", "Zipf rank-frequency fit: term counts partial-aggregate (shuffle carries vocab, not tokens), the rank row_number window runs ABOVE a GlobalLimit(topN) -- bounded input, the single-partition window never sees the corpus (the shape the window audit requires); regression sums are micro-unit long aggregates, the totals row broadcasts into the 1-row result"),
    ("q8C_pca_project", "PCA projection: the printed plan is ONLY the final row-local literal-array fold (scan -> project -> sort, zero shuffle) -- the moments pass ran at build time as ONE GramAgg ObjectHashAggregate (fixed long[1+d+d^2] buffer, map-side combined, shuffle carries d^2 not rows) feeding a d^2-bounded driver collect; the eigenvector arrives as a plan literal"),
    ("q8D_heavy_hitters", "exact heavy hitters, two-pass: the MG candidate MapPartitions keeps <= k-1 counters per task and emits keys only; the candidate set BROADCASTS as a left_semi filter BEFORE the exact count aggregate, so the keyed shuffle carries <= (k-1)*partitions terms -- the full-vocabulary groupBy this replaces is the thing that cannot run at web scale"),
    ("q8I_jsonl_shards", "gzipped-JSONL shard sink: the JSON line is a plan-side codegen'd projection (replayable escape chain), salted route + ONE repartition(shard) exchange, executor-side stream-through-gzip write inside mapPartitions; the re-read and Spark's own JSON parse join the 8-row manifests -- no collect, no per-group buffer, digest over the uncompressed payload")
  )

  private def writePlans(spark: SparkSession): Unit = {
    val queries = SparkEntry.queries
    val d = PlansFixtures
    val out = new PrintWriter("PLANS.md")
    out.println("# PLANS - formatted physical plans of headline queries")
    out.println()
    out.println("Generated at sf0.01 (plans are scale-independent);")
    out.println("regenerate with `sbt \"runMain graft.ExplainOne\"`. Annotations: what to look for.")
    Headline.foreach { case (name, note) =>
      out.println()
      out.println(s"## $name")
      out.println()
      out.println(s"_${note}_")
      out.println()
      out.println("```")
      out.println(formatted(queries(name)(spark, d)).take(7000))
      out.println("```")
    }
    // ---- registry-wide plan index ------------------------------------
    // One audit line per registry query, so no query can lag the plan
    // audit again (round 10's q6T landed after the regen and shipped
    // with no PLANS.md entry); RegistrySpec fails the build when a
    // registry key is missing from this file.
    out.println()
    out.println("## Registry plan index (auto-generated, every query)")
    out.println()
    out.println("Plan-shape counters per registry query at sf0.01: exch =")
    out.println("keyed/range/single-partition Exchange nodes (incl. the output")
    out.println("sort), bcast = BroadcastExchange, smj/bhj = sort-merge /")
    out.println("broadcast-hash joins, win = Window nodes, gen = Generate")
    out.println("(explode) nodes, rdd = imperative ExistingRDD cores")
    out.println("(mapPartitions/localCheckpoint). Headline queries above carry")
    out.println("the full annotated plan. Streaming (q7x) rows index the")
    out.println("drained sink frame; their live micro-batch plans are asserted")
    out.println("in StreamingSpec/PlanAuditSpec.")
    out.println()
    out.println("| query | exch | bcast | smj | bhj | win | gen | rdd |")
    out.println("|---|---|---|---|---|---|---|---|")
    queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val p = fn(spark, d).queryExecution.executedPlan.toString
      def n(tok: String): Int = tok.r.findAllMatchIn(p).size
      out.println(s"| $name" +
        s" | ${n("Exchange (hash|range|Single)")}" +
        s" | ${n("BroadcastExchange")}" +
        s" | ${n("SortMergeJoin")}" +
        s" | ${n("BroadcastHashJoin")}" +
        s" | ${n("\\bWindow \\[")}" +
        s" | ${n("\\bGenerate ")}" +
        s" | ${n("Scan ExistingRDD")} |")
    }
    out.close()
    System.err.println("[explain] wrote PLANS.md")
  }
}
