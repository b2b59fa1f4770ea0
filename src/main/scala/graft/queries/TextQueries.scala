package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis coverage on the `documents` fixture: token counting,
  * quality scoring, language-ID, fingerprinting, per-source stats.
  * Every operator is a codegen'd column expression mirrored token-for-token
  * in the DuckDB oracle.
  */
object TextQueries {

  // ---- q2O/q5P shared synthetic page template --------------------------
  // Deterministic HTML wrapping of (doc_id, text): head/title/style, a
  // body-level script, nav anchors with a tracking-ish section link,
  // comments, entities; every TENTH doc is a pure link-farm page (nav
  // blocks only, no content paragraph) so the anchor-ratio gate is
  // live. Shared by batch q2O and the q5P WARC→extract pipeline; the
  // oracle template (q2O's CTEs) mirrors it string for string.
  private[queries] def htmlPage(id: org.apache.spark.sql.Column,
                                text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val nav = concat(lit("<div class=\"nav\"><a href=\"/\">Home</a> " +
        "<a href=\"/s"), (id % 5).cast("string"),
      lit("\">Section &amp; "), (id % 5).cast("string"), lit("</a></div>"))
    val body = when(id % 10 === 0, concat(nav, nav, nav))
      .otherwise(concat(nav,
        lit("<h1>Doc "), id.cast("string"), lit("</h1><!-- c"),
        id.cast("string"), lit(" --><p>"), text,
        lit("</p><p>Tail &lt;q&gt; &#39;v"), (id % 7).cast("string"),
        // entity coverage: decimal smart quote, hex (both x cases), a
        // >Latin-1 codepoint, a malformed numeric ref that must stay
        // byte-stable, the common NAMED punctuation/symbol forms, and
        // an unknown name (&bogus;) that must pass through as text
        lit("&#39; r&#8217;s &#x2019;t &#X27;u &#970;v &#xzz w " +
          "&mdash;a &rsquo;b &ldquo;c&rdquo; &hellip;d &middot;e " +
          "&copy;f &bogus; g</p>")))
    concat(
      lit("<html><head><title>Doc "), id.cast("string"),
      lit("</title><style>h1{x:y}</style></head><body>" +
        "<script>if (1 < 2) { nav(\"x\") }</script>"),
      body, lit("</body></html>"))
  }

  // DuckDB fragments mirroring TextFunctions (same regex, same casts).
  private val duckToks   = DuckSql.toks
  private def duckHits(words: Seq[String]): String =
    s"""len(list_filter($duckToks, t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting + char stats per doc.
    "q20_token_stats" -> { (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          tokenCount(col("text")).as("n_tokens"),
          length(col("text")).as("n_chars_actual"),
          round(alphaRatio(col("text")), 6).as("alpha_ratio")
        )
        .orderBy("doc_id")
    },

    // Composite quality score (alpha ratio / length / stopword density).
    "q21_quality_scores" -> { (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          stopwordHits(col("text")).as("stop_hits"),
          round(stopwordRatio(col("text")), 6).as("stop_ratio"),
          round(qualityScore(col("text")), 6).as("quality")
        )
        .orderBy("doc_id")
    },

    // Stopword-profile language ID + agreement with the labeled lang.
    "q22_lang_id" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },

    // Content-defined fingerprint (whitespace/punct-invariant identity).
    "q23_fingerprints" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // A2: source dedup (chain.py:107 `list(set(sources))`).
    "q25_distinct_sources" -> { (s, d) =>
      Tables.documents(s, d).select("source").distinct().orderBy("source")
    },

    // P4/P5: result projection with 200-char truncation (chain.py:113-121).
    "q26_result_truncation" -> { (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          col("source"),
          when(length(col("text")) > 200,
            concat(substring(col("text"), 1, 200), lit("...")))
            .otherwise(col("text")).as("snippet")
        )
        .orderBy("doc_id")
    },

    // BM25 keyword search (the sparse half of hybrid retrieval): top-10
    // docs for a fixed 5-term query.
    "q28_bm25_search" -> { (s, d) =>
      graft.operators.Bm25.scores(Tables.documents(s, d), "doc_id", "text",
          Seq("vector", "query", "merge", "window", "stream"))
        .select(col("doc_id"), round(col("bm25"), 6).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(10)
    },

    // Hybrid retrieval: 0.5 * max-normalized BM25 + 0.5 * embedding
    // cosine, over the docs that carry an embedding (doc_id = vec_id).
    "q29_hybrid_search" -> { (s, d) =>
      import graft.functions.VectorFunctions.cosineSimilarity
      val docs = Tables.documents(s, d)
      val e    = Tables.embeddings(s, d)
      val qv   = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      // materialize once: bm feeds both the max-normalizer aggregate and
      // the join — uncached, the whole tf/df pipeline would run twice
      val bm   = graft.operators.Bm25.scores(docs, "doc_id", "text",
        Seq("vector", "query", "merge", "window", "stream")).localCheckpoint()
      val mx   = bm.agg(max("bm25").as("max_bm25"))
      // exclude the query's own row (vec_id 0 is the designated query
      // vector corpus-wide) — otherwise it self-retrieves at cosine 1.0
      docs.select("doc_id").filter(col("doc_id") =!= 0)
        .join(e.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
        .join(bm, Seq("doc_id"), "left")
        .crossJoin(broadcast(mx))
        .crossJoin(broadcast(qv))
        .select(col("doc_id"),
          round(lit(0.5) * coalesce(col("bm25") / col("max_bm25"), lit(0.0)) +
            lit(0.5) * cosineSimilarity(col("embedding"), col("qvec")), 6).as("hybrid"))
        .orderBy(col("hybrid").desc, col("doc_id"))
        .limit(10)
    },

    // Hybrid retrieval via reciprocal rank fusion — the score-free
    // combiner (rrf = Σ 1/(60+rank)); ranks are computed on ROUNDED
    // scores with id tie-breaks so the two engines rank identically.
    "q2A_hybrid_rrf" -> { (s, d) =>
      import graft.functions.VectorFunctions.cosineSimilarity
      import graft.operators.{Bm25, Fusion}
      val docs = Tables.documents(s, d)
      val e    = Tables.embeddings(s, d)
      val qv   = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      // doc 0 is the designated query row corpus-wide (as in q29): keep
      // it out of BOTH pools, not just the cosine one — otherwise the
      // query can self-retrieve through the lexical side
      val bmRanks = Fusion.rankedPool(
        Bm25.scores(docs, "doc_id", "text",
            Seq("vector", "query", "merge", "window", "stream"))
          .filter(col("doc_id") =!= 0)
          .select(col("doc_id"), round(col("bm25"), 6).as("score")),
        "doc_id", "score", pool = 50)
      val cosRanks = Fusion.rankedPool(
        e.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
          .select(col("vec_id").as("doc_id"),
            round(cosineSimilarity(col("embedding"), col("qvec")), 6).as("score")),
        "doc_id", "score", pool = 50)
      Fusion.rrf(bmRanks, cosRanks, "doc_id", k = 60)
        .select(col("doc_id"),
          col("rank_a").as("bm25_rank"), col("rank_b").as("cos_rank"),
          round(col("rrf"), 6).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)
    },

    // Per-document n-gram novelty (the memorization-risk / boilerplate
    // score): the fraction of a doc's DISTINCT 3-gram shingles that
    // appear in no other document. Shape: distinct (doc, gram) rows →
    // gram document-frequency (vocabulary-sized, map-side combinable)
    // → one join back → per-doc exact counts; never a pair join. Low
    // novelty = template/boilerplate mass; high = unique content.
    "q2I_novelty" -> { (s, d) =>
      import graft.functions.TextFunctions.wordShingles
      val dg = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(array_distinct(wordShingles(col("text"), 3))).as("g"))
      val dfTab = dg.groupBy("g").agg(count(lit(1)).as("gdf"))
      dg.join(dfTab, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("gdf") >= 2, lit(1L)).otherwise(lit(0L))).as("n_shared"))
        .withColumn("novelty",
          round(lit(1.0) - col("n_shared").cast("double") /
            col("n_grams").cast("double"), 6))
        .orderBy("doc_id")
    },

    // Collocation mining: pointwise mutual information between the
    // top-20 head terms, from document co-occurrence. PMI =
    // ln(co·N / (df_a·df_b)) — an integer ratio inside one ln, exact
    // cross-engine. The pair universe is head×head (≤ 190 pairs), so
    // the self-join is broadcast-bounded no matter the corpus size.
    "q2J_pmi_pairs" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val dt = docs.select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("term"))
      val head = dt.groupBy("term").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("term")).limit(20)
      val ht = dt.join(broadcast(head), "term")
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      ht.as("a")
        .join(ht.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("a.term") < col("b.term"))
        .groupBy(col("a.term").as("term_a"), col("b.term").as("term_b"))
        .agg(count(lit(1)).as("co"), min(col("a.df")).as("df_a"),
          min(col("b.df")).as("df_b"))
        .crossJoin(broadcast(nd))
        .select(col("term_a"), col("term_b"), col("co"),
          round(log(col("co").cast("double") * col("n_docs").cast("double") /
            (col("df_a").cast("double") * col("df_b").cast("double"))), 6)
            .as("pmi"))
        .orderBy(col("pmi").desc, col("term_a"), col("term_b"))
        .limit(20)
    },

    // Exact positional phrase search: one NARROW in-row scan per doc —
    // candidate starts via sequence(), the adjacent-token equalities
    // via in-row array HOFs, token array bound once per row — no explode,
    // no postings join, no shuffle before the sort. Two- and
    // three-term phrases in one result; overlap counts included.
    "q2N_phrase_search" -> { (s, d) =>
      import graft.operators.Bm25
      val docs = Tables.documents(s, d)
      def one(ts: Seq[String]) =
        Bm25.phraseMatches(docs, "doc_id", "text", ts)
          .select(lit(ts.mkString(" ")).as("phrase"), col("doc_id"),
            col("n_matches").cast("long").as("n_matches"))
      one(Seq("table", "fast"))
        .unionByName(one(Seq("table", "fast", "batch")))
        .orderBy("phrase", "doc_id")
    },

    // HTML boilerplate removal end-to-end: deterministic page templates
    // wrap each doc (head/title/style, an unclosed-in-some-docs script,
    // nav anchors, comments, entities), every TENTH doc is a pure
    // link-farm page with no content paragraph; Html.extractText /
    // title / anchorRatio run the real chain and the anchor-ratio gate
    // drops the link farms. The oracle replays the full regex chain in
    // RE2 (the patterns live in the Java<->RE2 common subset by
    // construction) — HtmlSpec carries the independent hand-computed
    // expectations.
    "q2O_html_extract" -> { (s, d) =>
      import graft.operators.Html
      // fanOut (r13, guide §2.5): the render + title/extractText/
      // anchorRatio regex chains are all row-local in one projection
      // above the single-row-group scan — without the fan-out the whole
      // extraction ran in ONE task (bench scaling ratio 0.45 at 32
      // cores). Same shape as the q5P/q5E siblings; adaptive, no
      // shuffle at scale.
      graft.util.Scans.fanOut(
          Tables.documents(s, d).select("doc_id", "text"), col("doc_id"))
        .select(col("doc_id"),
          TextQueries.htmlPage(col("doc_id"), col("text")).as("html"))
        .select(col("doc_id"),
          Html.title(col("html")).as("title"),
          md5(Html.extractText(col("html"))).as("text_md5"),
          Html.anchorRatio(col("html")).as("anchor_ratio"))
        .withColumn("kept", col("anchor_ratio") <= 0.2)
        .orderBy("doc_id")
    },

    // RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    // maximal stopword-free token runs (capped at 4 words — the
    // standard RAKE cut, and what bounds the phrase-assembly buffer);
    // word score = degree/frequency over candidate occurrences, phrase
    // score = Σ member scores. Scores are EXACT micro-unit longs
    // ((deg·10⁶) div freq — integer division), so phrase sums are
    // order-independent and the ranking replays bit-identically. All
    // windows partition by doc (parallel, never global).
    "q2M_rake_keywords" -> { (s, d) =>
      import graft.functions.TextFunctions.EN_STOP
      val tok = Tables.documents(s, d).filter(col("lang") === "en")
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("i", "w")))
        .withColumn("is_stop", col("w").isin(EN_STOP: _*))
      val wDoc = Window.partitionBy("doc_id").orderBy("i")
      val mem = tok
        .withColumn("phrase_id",
          sum(when(col("is_stop"), 1L).otherwise(0L)).over(wDoc))
        .filter(!col("is_stop") && length(col("w")) > 0)
      val kept = mem
        .withColumn("plen",
          count(lit(1)).over(Window.partitionBy("doc_id", "phrase_id")))
        .filter(col("plen") <= 4)
      val scored = kept.groupBy("w")
        .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
        .select(col("w"), expr("(deg * 1000000L) div freq").as("wscore"))
      val phrases = kept.join(scored, "w")
        .groupBy("doc_id", "phrase_id")
        .agg(
          array_join(transform(
            array_sort(collect_list(struct(col("i"), col("w")))),
            x => x.getField("w")), " ").as("phrase"),
          sum("wscore").as("score_micro"))
      phrases.groupBy("phrase", "score_micro")
        .agg(count(lit(1)).as("n_occurrences"))
        .orderBy(col("score_micro").desc, col("phrase"))
        .limit(10)
        .select(col("phrase"), col("n_occurrences"), col("score_micro"),
          round(col("score_micro").cast("double") / lit(1e6), 6).as("score"))
    },

    // TF-IDF document similarity: cosine over tf·ln(N/df) weighted term
    // vectors, top pairs — the sparse-lexical dual of q14's dense
    // embedding near-dups. Weights round to EXACT micro-unit longs, so
    // dot products and norms are order-independent long sums (pico
    // units) and the final cosine is one closed-form double. The
    // inverted-index pair join drops terms with df > 100 (the standard
    // frequency-cap on posting-list fanout: a term in d docs yields
    // C(d,2) candidate pairs — ubiquitous terms carry ~zero idf weight
    // AND quadratic cost, so the cap changes little and bounds all).
    "q2L_tfidf_pairs" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val nd = docs.agg(count(lit(1)).as("n"))
      val tf = docs.select(col("doc_id"),
          explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 100)
      val wts = tf.join(dfT, "term").crossJoin(broadcast(nd))
        .select(col("doc_id"), col("term"),
          round(col("tf").cast("double") *
            log(col("n").cast("double") / col("df").cast("double")) *
            lit(1000000.0)).cast("long").as("w"))
      val norms = wts.groupBy("doc_id")
        .agg(sum(col("w") * col("w")).as("norm_pico"))
      val dots = wts.as("a").join(wts.as("b"),
          col("a.term") === col("b.term") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(sum(col("a.w") * col("b.w")).as("dot_pico"))
      dots
        .join(norms.select(col("doc_id").as("doc_a"),
          col("norm_pico").as("na")), "doc_a")
        .join(norms.select(col("doc_id").as("doc_b"),
          col("norm_pico").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("dot_pico"),
          round(col("dot_pico").cast("double") /
            (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))),
            6).as("cos"))
        .orderBy(col("cos").desc, col("doc_a"), col("doc_b"))
        .limit(10)
    },

    // Chi-squared term↔language association: the classic supervised
    // feature-selection screen (Yang & Pedersen, ICML 1997). From the
    // 2×2 contingency of (term present, lang), χ² collapses to
    // N·(a·N − nl·df)² / (nl·(N−nl)·df·(N−df)) — a single closed-form
    // expression over four EXACT integer counts, so the double is
    // bit-identical cross-engine (no float accumulation). Top-5 terms
    // per language, df-floored and capped at 90% presence so every
    // denominator is positive.
    "q2K_chi2_terms" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val dt = docs.select(col("doc_id"), col("lang"),
        explode(array_distinct(tokens(col("text")))).as("term"))
      val nd = docs.agg(count(lit(1)).as("n"))
      val nl = docs.groupBy("lang").agg(count(lit(1)).as("nl"))
      val dfT = dt.groupBy("term").agg(count(lit(1)).as("df"))
      val a = dt.groupBy("lang", "term").agg(count(lit(1)).as("a"))
      val scored = a.join(broadcast(nl), "lang").join(dfT, "term")
        .crossJoin(broadcast(nd))
        .filter(col("df") >= 20 && col("df") * 10 <= col("n") * 9)
        .withColumn("_dd",
          (col("a") * col("n") - col("nl") * col("df")).cast("double"))
        .withColumn("chi2", round(
          col("n").cast("double") * col("_dd") * col("_dd") /
            (col("nl").cast("double") * (col("n") - col("nl")).cast("double") *
              col("df").cast("double") * (col("n") - col("df")).cast("double")),
          4))
      val w = Window.partitionBy("lang")
        .orderBy(col("chi2").desc, col("term"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("lang"), col("rank"), col("term"), col("a"),
          col("df"), col("chi2"))
        .orderBy("lang", "rank")
    },

    // Corpus vocabulary head: exact top-20 terms by frequency — the
    // vocabulary/stopword audit a tokenizer-training pipeline starts
    // with. Map-side combine bounds the shuffle to distinct terms.
    "q2B_top_terms" -> { (s, d) =>
      Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("term"))
        .groupBy("term")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term"))
        .limit(20)
    },

    // Count-Min-Sketch term frequencies vs exact: the fixed-state
    // frequency primitive for web-scale vocabularies (exact counting
    // shuffles vocabulary-sized state; the 4×1024 cell grid is ~4 KB
    // and mergeable). Estimates for the exact top-20 head terms — CMS
    // never undercounts, so `overestimate >= 0` row by row, and head
    // terms (count >> εN) estimate near-exactly.
    "q2C_cms_term_freq" -> { (s, d) =>
      import graft.operators.Sketch
      val terms = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("term"))
      val cms = Sketch.cmsTable(terms, "term", depth = 4, width = 1024)
      val exact = terms.groupBy("term").agg(count(lit(1)).as("exact_count"))
        .orderBy(col("exact_count").desc, col("term")).limit(20)
      // exact_count rides THROUGH the estimate (carried group column) —
      // a re-join here would recompute the whole exact subtree
      Sketch.cmsEstimate(cms, exact, "term", depth = 4, width = 1024)
        .select(col("term"), col("exact_count"), col("cms_count"),
          (col("cms_count") - col("exact_count")).as("overestimate"))
        .orderBy(col("exact_count").desc, col("term"))
    },

    // Bloom-filter contamination screen vs exact: the bounded-bits twin
    // of q65. The benchmark slice's distinct 4-gram shingles populate a
    // 4×32768-bit partitioned Bloom filter (set-bit table ≤ a few
    // thousand rows, broadcast); every training doc's shingles probe it.
    // No false negatives — n_flagged >= n_exact row by row — and the
    // false-positive surplus is priced explicitly against the exact
    // join, which at 100 TB would ship the full benchmark shingle set.
    "q2D_bloom_screen" -> { (s, d) =>
      import graft.operators.Sketch
      val docs = graft.util.Scans.fanOut(Tables.documents(s, d), col("doc_id"))
      val benchSh = docs.filter(col("doc_id") % 50 === 0)
        .select(explode(wordShingles(col("text"), 4)).as("sh")).distinct()
      val bloom = Sketch.bloomBits(benchSh, "sh", depth = 4, width = 32768)
      val trainSh = docs.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"), explode(wordShingles(col("text"), 4)).as("sh"))
        .distinct()
      val probed =
        Sketch.bloomProbe(bloom, trainSh, "sh", depth = 4, width = 32768)
      probed
        .join(broadcast(benchSh.withColumn("_exact", lit(1L))), Seq("sh"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("bloom_hit"), lit(1L)).otherwise(lit(0L))).as("n_flagged"),
          sum(coalesce(col("_exact"), lit(0L))).as("n_exact"))
        .withColumn("n_false_pos", col("n_flagged") - col("n_exact"))
        .orderBy(col("n_flagged").desc, col("doc_id"))
        .limit(20)
    },

    // BPE tokenizer training, the scale-critical step: adjacent-symbol
    // pair statistics for the FIRST merge decision, computed on the
    // distinct-word table weighted by word frequency (vocabulary-sized,
    // not corpus-sized — "the" explodes its pairs once, carrying its
    // count) exactly like real BPE trainers batch. Shuffles bounded by
    // |vocab| + |distinct pairs|; the argmax-and-merge loop above this
    // is a driver-side broadcast of one winning pair per round.
    "q2E_bpe_pairs" -> { (s, d) =>
      import graft.operators.Bpe
      // the ACTUAL trainer kernel (Bpe.wordTable → pairSites), not a
      // re-derivation — a regression in the operator turns this gate red
      Bpe.pairSites(Bpe.wordTable(Tables.documents(s, d), "text"))
        .groupBy("pair")
        .agg(sum("freq").as("pair_count"), countDistinct("w").as("n_words"))
        .orderBy(col("pair_count").desc, col("pair"))
        .limit(20)
    },

    // BPE training END-TO-END, oracle-gated: learn 3 merges on the
    // corpus (per round: one distributed pair-count aggregation + a
    // single-row argmax collect, lexicographic ties), then encode every
    // document under the learned vocabulary — per-doc subword counts
    // via one vocab-table join (the corpus explodes to tokens exactly
    // once; merges applied to DISTINCT words only). The oracle replays
    // the whole trainer — both engines share the literal-replace merge
    // semantics, which is why applyMerge avoids regex lookarounds.
    "q2F_bpe_encode" -> { (s, d) =>
      import graft.operators.Bpe
      val docs = Tables.documents(s, d)
      val (merges, words) = Bpe.train(docs, "text", rounds = 3)
      require(merges.size == 3, s"expected 3 merges, got ${merges.size}")
      val enc = words.withColumn("n_syms", size(split(col("syms"), " ")))
      docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .join(enc.select("w", "n_syms"), "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum("n_syms").cast("long").as("n_subwords"))
        .orderBy("doc_id")
    },

    // Per-GROUP bounded-state quantiles: the per-domain length-drift
    // monitor — a 64-bucket token-count histogram PER SOURCE (state ≤
    // sources × 64 mergeable rows; the cumulative walk windows per
    // group, parallel across groups, no single-partition window) with
    // p50/p90 interpolated per source by the same closed-form double
    // math as q7D's global form.
    "q2G_grouped_quantiles" -> { (s, d) =>
      import graft.operators.Sketch
      val toks = Tables.documents(s, d)
        .select(col("source"), tokenCount(col("text")).as("n_tokens"))
      val hist = Sketch.groupedHistogramTable(toks, Seq("source"),
        "n_tokens", nBuckets = 64, lo = 0.0, hi = 1024.0)
      Sketch.histogramQuantilesBy(hist, Seq("source"), nBuckets = 64,
          lo = 0.0, hi = 1024.0, ps = Seq(0.5, 0.9))
        .orderBy("source", "p")
    },

    // HyperLogLog distinct counting vs exact: THE cardinality sketch —
    // exact countDistinct shuffles every distinct value (unbounded at
    // web-scale vocabularies), the HLL is ≤1024 register rows per
    // source, mergeable by MAX, ~3.2% error at m=1024. Unlike Spark's
    // approx_count_distinct (opaque HLL++ binary), every register here
    // is a plain md5-arithmetic row the oracle reproduces exactly —
    // the register sum is integer-exact, so the estimate is
    // bit-identical cross-engine, not merely close.
    "q2H_hll_distinct" -> { (s, d) =>
      import graft.operators.Sketch
      val terms = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("term"))
      val est = Sketch.hllEstimate(
        Sketch.hllTable(terms, Seq("source"), "term", m = 1024),
        Seq("source"), m = 1024)
      terms.groupBy("source").agg(countDistinct("term").as("exact_distinct"))
        .join(est, "source")
        .withColumn("rel_err",
          round(abs(col("hll_distinct") - col("exact_distinct").cast("double"))
            / col("exact_distinct").cast("double"), 6))
        .orderBy("source")
    },

    // Corpus stats per source (A3/A4-style aggregation).
    "q24_source_stats" -> { (s, d) =>
      Tables.documents(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          round(avg(tokenCount(col("text")).cast("double")), 6).as("avg_tokens"),
          countDistinct("lang").as("n_langs")
        )
        .orderBy("source")
    }
  )

  // DuckDB single-pass entity decode, &amp; last (mirror of
  // Html.decodeEntities — the named table as a replace chain BEFORE
  // the numeric replay composes identically to the engine's one-pass
  // scan because no decoded output contains '&').
  // Numeric-entity replay over a BOUND variable name (cheap to repeat):
  // same grammar as HtmlEntityUtil — 1-7 decimal / 1-6 hex digits
  // terminated by ';', U+FFFD for 0/surrogate/out-of-range, raw
  // otherwise. Split on '&#', transform fragments, stitch back.
  private def duckNum(s: String): String = {
    val dec = s"CAST(regexp_extract(p, '^([0-9]{1,7});', 1) AS BIGINT)"
    val hex = s"CAST('0x' || regexp_extract(p, '^[xX]([0-9a-fA-F]{1,6});', 1) AS BIGINT)"
    def cp(v: String) =
      s"""(CASE WHEN $v = 0 OR $v > 1114111 OR ($v BETWEEN 55296 AND 57343)
         |      THEN chr(65533) ELSE chr(CAST($v AS INT)) END)""".stripMargin
    s"""(CASE WHEN strpos($s, '&#') = 0 THEN $s ELSE
       |  string_split($s, '&#')[1] || array_to_string(
       |    list_transform(string_split($s, '&#')[2:], p ->
       |      CASE WHEN regexp_matches(p, '^[0-9]{1,7};')
       |             THEN ${cp(dec)} || regexp_replace(p, '^[0-9]{1,7};', '')
       |           WHEN regexp_matches(p, '^[xX][0-9a-fA-F]{1,6};')
       |             THEN ${cp(hex)} || regexp_replace(p, '^[xX][0-9a-fA-F]{1,6};', '')
       |           ELSE '&#' || p END), '') END)""".stripMargin
  }

  // Entity replay mirroring Html.decodeEntities: named first, the
  // numeric pass (binds the inner expression ONCE via a one-element
  // list_transform), &amp; last.
  private def duckDec(e: String): String = {
    val named = Seq(
      "&nbsp;" -> "' '", "&lt;" -> "'<'", "&gt;" -> "'>'",
      "&quot;" -> "'\"'", "&apos;" -> "chr(39)",
      "&mdash;" -> "chr(8212)", "&ndash;" -> "chr(8211)",
      "&rsquo;" -> "chr(8217)", "&lsquo;" -> "chr(8216)",
      "&ldquo;" -> "chr(8220)", "&rdquo;" -> "chr(8221)",
      "&hellip;" -> "chr(8230)", "&middot;" -> "chr(183)",
      "&copy;" -> "chr(169)", "&reg;" -> "chr(174)",
      "&trade;" -> "chr(8482)", "&deg;" -> "chr(176)")
      .foldLeft(e) { case (acc, (ent, rep)) =>
        s"replace($acc, '$ent', $rep)"
      }
    s"""replace(list_transform([$named], s -> ${duckNum("s")})[1], '&amp;', '&')"""
  }

  // Shared RE2 replay of Html.extractText/anchorRatio over the q2O
  // page template: CTEs base/h/vis/txt/cln/anch; the final SELECT
  // differs per query (q2O full report, q5P kept-only pipeline).
  private[queries] val duckHtmlCtes: String =
    s"""WITH base AS (
         |  SELECT doc_id, text,
         |    '<div class="nav"><a href="/">Home</a> <a href="/s' ||
         |    (doc_id % 5) || '">Section &amp; ' || (doc_id % 5) ||
         |    '</a></div>' AS nav
         |  FROM documents),
         |h AS (
         |  SELECT doc_id,
         |    '<html><head><title>Doc ' || doc_id ||
         |    '</title><style>h1{x:y}</style></head><body>' ||
         |    '<script>if (1 < 2) { nav("x") }</script>' ||
         |    CASE WHEN doc_id % 10 = 0 THEN nav || nav || nav
         |         ELSE nav || '<h1>Doc ' || doc_id || '</h1><!-- c' ||
         |              doc_id || ' --><p>' || text ||
         |              '</p><p>Tail &lt;q&gt; &#39;v' || (doc_id % 7) ||
         |              '&#39; r&#8217;s &#x2019;t &#X27;u &#970;v &#xzz w ' ||
         |              '&mdash;a &rsquo;b &ldquo;c&rdquo; &hellip;d &middot;e ' ||
         |              '&copy;f &bogus; g</p>' END ||
         |    '</body></html>' AS html
         |  FROM base),
         |vis AS (
         |  SELECT doc_id, html,
         |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |      regexp_replace(html,
         |        '(?s)<!--.*?-->', ' ', 'g'),
         |        '(?is)<head\\b[^>]*>.*?</head>', ' ', 'g'),
         |        '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
         |        '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
         |        '(?is)<(script|style)\\b.*', ' ', 'g') AS v
         |  FROM h),
         |txt AS (
         |  SELECT doc_id, html,
         |    regexp_replace(regexp_replace(
         |      regexp_replace(
         |        ${duckDec(
                    """regexp_replace(regexp_replace(v,
                      |  '(?i)</?(p|div|br|li|h[1-6]|tr|table|ul|ol)\b[^>]*/?>', chr(10), 'g'),
                      |  '<[^>]+>', ' ', 'g')""".stripMargin)},
         |        '[ \\t]+', ' ', 'g'),
         |        ' ?\\n ?', chr(10), 'g'),
         |      '\\n+', chr(10), 'g') AS t0
         |  FROM vis),
         |cln AS (
         |  SELECT doc_id, html,
         |    regexp_replace(regexp_replace(t0, '^\\s+', ''), '\\s+$$', '') AS txt
         |  FROM txt),
         |anch AS (
         |  SELECT doc_id,
         |    coalesce(CAST(list_sum(list_transform(
         |      regexp_extract_all(v, '(?is)<a\\b[^>]*>(.*?)</a>', 1),
         |      a -> len(trim(${duckDec("regexp_replace(a, '<[^>]+>', ' ', 'g')")})))) AS BIGINT), 0)
         |      AS alen
         |  FROM vis)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q20_token_stats" ->
      s"""SELECT doc_id,
         |  len($duckToks) AS n_tokens,
         |  length(text) AS n_chars_actual,
         |  round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
         |        / CAST(length(text) AS DOUBLE), 6) AS alpha_ratio
         |FROM documents
         |ORDER BY doc_id""".stripMargin,

    "q21_quality_scores" ->
      s"""SELECT doc_id,
         |  ${duckHits(EN_STOP)} AS stop_hits,
         |  round(CAST(${duckHits(EN_STOP)} AS DOUBLE) / CAST(len($duckToks) AS DOUBLE), 6) AS stop_ratio,
         |  round(0.4 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
         |               / CAST(length(text) AS DOUBLE))
         |      + 0.3 * least(1.0, CAST(len($duckToks) AS DOUBLE) / 100.0)
         |      + 0.3 * (CAST(${duckHits(EN_STOP)} AS DOUBLE) / CAST(len($duckToks) AS DOUBLE)), 6) AS quality
         |FROM documents
         |ORDER BY doc_id""".stripMargin,

    "q22_lang_id" ->
      s"""WITH scored AS (
         |  SELECT doc_id, lang,
         |    ${duckHits(EN_STOP)} AS en, ${duckHits(DE_STOP)} AS de,
         |    ${duckHits(ES_STOP)} AS es, ${duckHits(FR_STOP)} AS fr
         |  FROM documents)
         |SELECT doc_id, lang,
         |  CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
         |       WHEN en = greatest(en, de, es, fr) THEN 'en'
         |       WHEN de = greatest(en, de, es, fr) THEN 'de'
         |       WHEN es = greatest(en, de, es, fr) THEN 'es'
         |       ELSE 'fr' END AS lang_pred
         |FROM scored
         |ORDER BY doc_id""".stripMargin,

    "q23_fingerprints" ->
      """SELECT doc_id,
        |  substr(md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')), 1, 16) AS fp
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q28_bm25_search" ->
      s"""WITH dl AS (SELECT doc_id, CAST(len($duckToks) AS DOUBLE) AS dl FROM documents),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
         |       FROM (SELECT doc_id, unnest($duckToks) AS term FROM documents)
         |       WHERE term IN ('vector', 'query', 'merge', 'window', 'stream')
         |       GROUP BY doc_id, term),
         |dfr AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term)
         |SELECT tf.doc_id,
         |  round(list_sum(list(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         |            * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
         |            ORDER BY term)), 6) AS bm25
         |FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
         |GROUP BY tf.doc_id
         |ORDER BY bm25 DESC, doc_id
         |LIMIT 10""".stripMargin,

    "q29_hybrid_search" ->
      s"""WITH dl AS (SELECT doc_id, CAST(len($duckToks) AS DOUBLE) AS dl FROM documents),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
         |       FROM (SELECT doc_id, unnest($duckToks) AS term FROM documents)
         |       WHERE term IN ('vector', 'query', 'merge', 'window', 'stream')
         |       GROUP BY doc_id, term),
         |dfr AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term),
         |bm AS (
         |  SELECT tf.doc_id,
         |    list_sum(list(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         |        * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
         |        ORDER BY term)) AS bm25
         |  FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
         |  GROUP BY tf.doc_id),
         |mx AS (SELECT max(bm25) AS max_bm25 FROM bm),
         |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
         |SELECT d.doc_id,
         |  round(0.5 * coalesce(bm.bm25 / mx.max_bm25, 0.0) +
         |        0.5 * ${DuckSql.cosine("e.embedding", "q.qvec")}, 6) AS hybrid
         |FROM documents d
         |JOIN embeddings e ON e.vec_id = d.doc_id
         |LEFT JOIN bm ON bm.doc_id = d.doc_id
         |CROSS JOIN mx CROSS JOIN q
         |WHERE d.doc_id <> 0
         |ORDER BY hybrid DESC, d.doc_id
         |LIMIT 10""".stripMargin,

    "q2A_hybrid_rrf" ->
      s"""WITH dl AS (SELECT doc_id, CAST(len($duckToks) AS DOUBLE) AS dl FROM documents),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
         |       FROM (SELECT doc_id, unnest($duckToks) AS term FROM documents)
         |       WHERE term IN ('vector', 'query', 'merge', 'window', 'stream')
         |       GROUP BY doc_id, term),
         |dfr AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term),
         |bm AS (
         |  SELECT tf.doc_id,
         |    round(list_sum(list(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         |        * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
         |        ORDER BY term)), 6) AS score
         |  FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
         |  GROUP BY tf.doc_id),
         |bmr AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank_a
         |  FROM bm WHERE doc_id <> 0 AND score IS NOT NULL
         |  ORDER BY score DESC, doc_id LIMIT 50),
         |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |cs AS (
         |  SELECT vec_id AS doc_id,
         |         round(${DuckSql.cosine("embedding", "qvec")}, 6) AS score
         |  FROM embeddings, q WHERE vec_id <> 0),
         |csr AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank_b
         |  FROM cs WHERE score IS NOT NULL
         |  ORDER BY score DESC, doc_id LIMIT 50)
         |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         |  a.rank_a AS bm25_rank, b.rank_b AS cos_rank,
         |  round(coalesce(1.0 / (60.0 + a.rank_a), 0.0)
         |      + coalesce(1.0 / (60.0 + b.rank_b), 0.0), 6) AS rrf
         |FROM bmr a FULL OUTER JOIN csr b ON a.doc_id = b.doc_id
         |ORDER BY rrf DESC, doc_id
         |LIMIT 10""".stripMargin,

    "q2B_top_terms" ->
      s"""SELECT term, count(*) AS n
         |FROM (SELECT unnest($duckToks) AS term FROM documents)
         |GROUP BY term
         |ORDER BY n DESC, term
         |LIMIT 20""".stripMargin,

    // PMI mirror: same head-term cut, same doc-co-occurrence pairs,
    // same integer ratio inside one ln.
    "q2J_pmi_pairs" ->
      s"""WITH dt AS (
         |  SELECT DISTINCT doc_id, term FROM (
         |    SELECT doc_id, unnest($duckToks) AS term FROM documents)),
         |head AS (
         |  SELECT term, count(*) AS df FROM dt GROUP BY term
         |  ORDER BY df DESC, term LIMIT 20),
         |ht AS (SELECT dt.doc_id, dt.term, head.df
         |       FROM dt JOIN head USING (term)),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |pairs AS (
         |  SELECT a.term AS term_a, b.term AS term_b, count(*) AS co,
         |    min(a.df) AS df_a, min(b.df) AS df_b
         |  FROM ht a JOIN ht b ON a.doc_id = b.doc_id AND a.term < b.term
         |  GROUP BY 1, 2)
         |SELECT term_a, term_b, co,
         |  round(ln(CAST(co AS DOUBLE) * CAST(n_docs AS DOUBLE)
         |        / (CAST(df_a AS DOUBLE) * CAST(df_b AS DOUBLE))), 6) AS pmi
         |FROM pairs CROSS JOIN nd
         |ORDER BY pmi DESC, term_a, term_b
         |LIMIT 20""".stripMargin,

    // Phrase mirror: the same start-position arithmetic over the same
    // split (1-based list indexing; range() is empty when the doc is
    // shorter than the phrase).
    "q2N_phrase_search" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS toks
        |  FROM documents),
        |m2 AS (
        |  SELECT 'table fast' AS phrase, doc_id,
        |         CAST(count(*) AS BIGINT) AS n_matches
        |  FROM d, LATERAL (SELECT unnest(range(1, len(toks))) AS p) p
        |  WHERE toks[CAST(p.p AS INT)] = 'table'
        |    AND toks[CAST(p.p + 1 AS INT)] = 'fast'
        |  GROUP BY doc_id),
        |m3 AS (
        |  SELECT 'table fast batch' AS phrase, doc_id,
        |         CAST(count(*) AS BIGINT) AS n_matches
        |  FROM d, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS p) p
        |  WHERE toks[CAST(p.p AS INT)] = 'table'
        |    AND toks[CAST(p.p + 1 AS INT)] = 'fast'
        |    AND toks[CAST(p.p + 2 AS INT)] = 'batch'
        |  GROUP BY doc_id)
        |SELECT * FROM m2 UNION ALL SELECT * FROM m3
        |ORDER BY phrase, doc_id""".stripMargin,

    // HTML mirror: same template, same regex chain in RE2 (DuckDB needs
    // the explicit 'g' flag where Spark's regexp_replace is global by
    // default). Entity decode is the same fixed order, &amp; last.
    "q2O_html_extract" ->
      s"""$duckHtmlCtes
         |SELECT c.doc_id,
         |  regexp_extract(c.html, '(?is)<title[^>]*>(.*?)</title>', 1) AS title,
         |  md5(c.txt) AS text_md5,
         |  CASE WHEN len(c.txt) <= 0 THEN 0.0
         |       ELSE round(CAST(a.alen AS DOUBLE) / CAST(len(c.txt) AS DOUBLE), 6)
         |  END AS anchor_ratio,
         |  (CASE WHEN len(c.txt) <= 0 THEN 0.0
         |        ELSE round(CAST(a.alen AS DOUBLE) / CAST(len(c.txt) AS DOUBLE), 6)
         |   END) <= 0.2 AS kept
         |FROM cln c JOIN anch a USING (doc_id)
         |ORDER BY doc_id""".stripMargin,


    // RAKE mirror: same stopword fence-posting (cumulative stop count
    // as the phrase id), same 4-word cap, same integer micro scores,
    // phrase text assembled in token order.
    "q2M_rake_keywords" -> {
      import graft.functions.TextFunctions.EN_STOP
      val stops = EN_STOP.map(w => s"'$w'").mkString(", ")
      s"""WITH tok AS (
         |  SELECT doc_id, i, w, w IN ($stops) AS is_stop
         |  FROM (SELECT doc_id, unnest($duckToks) AS w,
         |          generate_subscripts($duckToks, 1) AS i
         |        FROM documents WHERE lang = 'en')),
         |ph AS (
         |  SELECT doc_id, i, w, is_stop,
         |    sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY i) AS phrase_id
         |  FROM tok),
         |mem AS (SELECT doc_id, phrase_id, i, w FROM ph
         |        WHERE NOT is_stop AND len(w) > 0),
         |kept AS (
         |  SELECT * FROM (
         |    SELECT doc_id, phrase_id, i, w,
         |      count(*) OVER (PARTITION BY doc_id, phrase_id) AS plen
         |    FROM mem) WHERE plen <= 4),
         |scored AS (
         |  SELECT w, (CAST(sum(plen) AS BIGINT) * 1000000) // count(*)
         |    AS wscore
         |  FROM kept GROUP BY w),
         |phr AS (
         |  SELECT k.doc_id, k.phrase_id,
         |    string_agg(k.w, ' ' ORDER BY k.i) AS phrase,
         |    CAST(sum(s.wscore) AS BIGINT) AS score_micro
         |  FROM kept k JOIN scored s USING (w)
         |  GROUP BY 1, 2)
         |SELECT phrase, count(*) AS n_occurrences, score_micro,
         |  round(CAST(score_micro AS DOUBLE) / 1000000.0, 6) AS score
         |FROM phr GROUP BY phrase, score_micro
         |ORDER BY score_micro DESC, phrase
         |LIMIT 10""".stripMargin
    },

    // TF-IDF mirror: identical tf / capped-df tables, identical
    // micro-long weight rounding, long dot/norm sums, one closed-form
    // cosine double.
    "q2L_tfidf_pairs" ->
      s"""WITH nd AS (SELECT count(*) AS n FROM documents),
         |tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest($duckToks) AS term FROM documents)
         |  GROUP BY doc_id, term),
         |dfq AS (
         |  SELECT term, count(*) AS df FROM tf GROUP BY term
         |  HAVING count(*) <= 100),
         |wts AS (
         |  SELECT doc_id, term,
         |    CAST(round(CAST(tf AS DOUBLE)
         |      * ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE))
         |      * 1000000.0) AS BIGINT) AS w
         |  FROM tf JOIN dfq USING (term) CROSS JOIN nd),
         |norms AS (
         |  SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS norm_pico
         |  FROM wts GROUP BY doc_id),
         |dots AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(sum(a.w * b.w) AS BIGINT) AS dot_pico
         |  FROM wts a JOIN wts b
         |    ON a.term = b.term AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, dot_pico,
         |  round(CAST(dot_pico AS DOUBLE)
         |    / (sqrt(CAST(na.norm_pico AS DOUBLE))
         |       * sqrt(CAST(nb.norm_pico AS DOUBLE))), 6) AS cos
         |FROM dots
         |JOIN norms na ON na.doc_id = doc_a
         |JOIN norms nb ON nb.doc_id = doc_b
         |ORDER BY cos DESC, doc_a, doc_b
         |LIMIT 10""".stripMargin,

    // χ² mirror: identical distinct (doc, lang, term) universe,
    // identical integer counts, the identical closed-form double
    // (numerator difference spelled once per factor, same
    // left-to-right association).
    "q2K_chi2_terms" ->
      s"""WITH dt AS (
         |  SELECT DISTINCT doc_id, lang, term FROM (
         |    SELECT doc_id, lang, unnest($duckToks) AS term FROM documents)),
         |nd AS (SELECT count(*) AS n FROM documents),
         |nlt AS (SELECT lang, count(*) AS nl FROM documents GROUP BY lang),
         |dfq AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
         |ac AS (SELECT lang, term, count(*) AS a FROM dt GROUP BY lang, term),
         |scored AS (
         |  SELECT ac.lang, ac.term, ac.a, dfq.df,
         |    round(CAST(n AS DOUBLE)
         |      * CAST(ac.a * n - nlt.nl * dfq.df AS DOUBLE)
         |      * CAST(ac.a * n - nlt.nl * dfq.df AS DOUBLE)
         |      / (CAST(nlt.nl AS DOUBLE) * CAST(n - nlt.nl AS DOUBLE)
         |         * CAST(dfq.df AS DOUBLE) * CAST(n - dfq.df AS DOUBLE)), 4)
         |      AS chi2
         |  FROM ac JOIN nlt USING (lang) JOIN dfq USING (term) CROSS JOIN nd
         |  WHERE dfq.df >= 20 AND dfq.df * 10 <= n * 9),
         |r AS (
         |  SELECT lang, term, a, df, chi2,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY chi2 DESC, term) AS INTEGER) AS "rank"
         |  FROM scored)
         |SELECT lang, "rank", term, a, df, chi2
         |FROM r WHERE "rank" <= 5
         |ORDER BY lang, "rank"""".stripMargin,

    // Novelty mirror: identical distinct-shingle universe, identical
    // document-frequency join and exact counts.
    "q2I_novelty" ->
      s"""WITH dg AS (
         |  SELECT DISTINCT doc_id, g FROM (
         |    SELECT doc_id, unnest(${DuckSql.grams(3)}) AS g FROM documents)),
         |dfq AS (SELECT g, count(*) AS gdf FROM dg GROUP BY g)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         |  round(1.0 - CAST(sum(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |        / CAST(count(*) AS DOUBLE), 6) AS novelty
         |FROM dg JOIN dfq USING (g)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    // CMS mirror: same one-digest-per-occurrence sliced hashing (row j =
    // j-th 4-hex-char window of md5(term || ':cms')), same d x w grid,
    // same min-over-rows estimate.
    "q2C_cms_term_freq" ->
      s"""WITH t AS (SELECT unnest($duckToks) AS term FROM documents),
         |exact AS (
         |  SELECT term, count(*) AS exact_count FROM t
         |  GROUP BY term ORDER BY exact_count DESC, term LIMIT 20),
         |occ AS (SELECT term, md5(term || ':cms') AS h,
         |               unnest(range(0, 4)) AS j FROM t),
         |cells AS (
         |  SELECT j, ${DuckSql.bucketSlice("h", "j", 1024)} AS b,
         |         count(*) AS c
         |  FROM occ GROUP BY 1, 2),
         |qp AS (
         |  SELECT term, exact_count, j, ${DuckSql.bucketSlice("h", "j", 1024)} AS b
         |  FROM (SELECT term, exact_count, md5(term || ':cms') AS h,
         |               unnest(range(0, 4)) AS j FROM exact)),
         |est AS (
         |  SELECT qp.term, qp.exact_count,
         |         min(coalesce(cells.c, 0)) AS cms_count
         |  FROM qp LEFT JOIN cells ON qp.j = cells.j AND qp.b = cells.b
         |  GROUP BY 1, 2)
         |SELECT term, exact_count, cms_count,
         |       cms_count - exact_count AS overestimate
         |FROM est
         |ORDER BY exact_count DESC, term""".stripMargin,

    // Bloom mirror: same one-digest sliced hashing (row j = j-th
    // 4-hex-char window of md5(sh || ':bloom') mod 32768), same
    // all-d-bits-set membership rule, same exact-join comparison.
    "q2D_bloom_screen" ->
      s"""WITH be AS (
         |  SELECT DISTINCT sh FROM (
         |    SELECT unnest(${DuckSql.grams(4)}) AS sh
         |    FROM documents WHERE doc_id % 50 = 0)),
         |bloom AS (
         |  SELECT DISTINCT j, ${DuckSql.bucketSlice("h", "j", 32768)} AS b
         |  FROM (SELECT md5(sh || ':bloom') AS h, unnest(range(0, 4)) AS j FROM be)),
         |tr AS (
         |  SELECT DISTINCT doc_id, sh FROM (
         |    SELECT doc_id, unnest(${DuckSql.grams(4)}) AS sh
         |    FROM documents WHERE doc_id % 50 <> 0)),
         |probe AS (
         |  SELECT doc_id, sh, j, ${DuckSql.bucketSlice("h", "j", 32768)} AS b
         |  FROM (SELECT doc_id, sh, md5(sh || ':bloom') AS h,
         |               unnest(range(0, 4)) AS j FROM tr)),
         |hit AS (
         |  SELECT probe.doc_id, probe.sh,
         |         min(CASE WHEN bloom.b IS NOT NULL THEN 1 ELSE 0 END) = 1 AS bloom_hit
         |  FROM probe LEFT JOIN bloom ON probe.j = bloom.j AND probe.b = bloom.b
         |  GROUP BY probe.doc_id, probe.sh)
         |SELECT doc_id,
         |  count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
         |  CAST(sum(CASE WHEN be.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
         |  CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END)
         |     - sum(CASE WHEN be.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
         |FROM hit LEFT JOIN be ON hit.sh = be.sh
         |GROUP BY doc_id
         |ORDER BY n_flagged DESC, doc_id
         |LIMIT 20""".stripMargin,

    // BPE pair mirror: same distinct-word frequency table, same
    // character-pair explode (substr is character-based in both
    // engines), same frequency-weighted counts.
    "q2E_bpe_pairs" ->
      s"""WITH wf AS (
         |  SELECT w, count(*) AS freq
         |  FROM (SELECT unnest($duckToks) AS w FROM documents)
         |  GROUP BY w),
         |p AS (
         |  SELECT w, freq,
         |         substr(w, i, 1) || ' ' || substr(w, i + 1, 1) AS pair
         |  FROM (SELECT w, freq, unnest(range(1, length(w))) AS i
         |        FROM wf WHERE length(w) >= 2))
         |SELECT pair,
         |  CAST(sum(freq) AS BIGINT) AS pair_count,
         |  count(DISTINCT w) AS n_words
         |FROM p
         |GROUP BY pair
         |ORDER BY pair_count DESC, pair
         |LIMIT 20""".stripMargin,

    // BPE trainer mirror: the full 3-round loop unrolled — per round a
    // weighted pair count over the current symbol table, the argmax
    // (n DESC, pair — UTF-8 byte order on both engines), and the SAME
    // pad-and-double literal-replace merge application; then the encode
    // join. Lookaround-free by design: RE2 (DuckDB) has none, so the
    // engine's merge semantics are plain string replaces both sides.
    "q2F_bpe_encode" -> {
      def round(i: Int, src: String): String =
        s"""pc$i AS (
           |  SELECT s[i] || ' ' || s[i+1] AS pair, sum(freq) AS n
           |  FROM (SELECT freq, unnest(range(1, len(s))) AS i, s
           |        FROM (SELECT freq, string_split(syms, ' ') AS s FROM $src))
           |  GROUP BY 1),
           |m$i AS (SELECT pair FROM pc$i ORDER BY n DESC, pair LIMIT 1),
           |a$i AS (
           |  SELECT w, freq,
           |    trim(replace(replace(
           |      ' ' || replace(syms, ' ', '  ') || ' ',
           |      ' ' || replace(m$i.pair, ' ', '  ') || ' ',
           |      ' ' || replace(m$i.pair, ' ', '') || ' '),
           |      '  ', ' ')) AS syms
           |  FROM $src CROSS JOIN m$i)""".stripMargin
      s"""WITH wf AS (
         |  SELECT w, count(*) AS freq
         |  FROM (SELECT unnest($duckToks) AS w FROM documents)
         |  GROUP BY w),
         |s0 AS (
         |  SELECT w, freq,
         |    array_to_string([w[i] for i in range(1, length(w)+1)], ' ') AS syms
         |  FROM wf),
         |${round(1, "s0")},
         |${round(2, "a1")},
         |${round(3, "a2")},
         |enc AS (SELECT w, len(string_split(syms, ' ')) AS n_syms FROM a3),
         |tok AS (SELECT doc_id, unnest($duckToks) AS w FROM documents)
         |SELECT doc_id, count(*) AS n_tokens,
         |       CAST(sum(n_syms) AS BIGINT) AS n_subwords
         |FROM tok JOIN enc USING (w)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    },

    // Grouped-histogram mirror: q7D's bucket walk and interpolation,
    // partitioned by source.
    "q2G_grouped_quantiles" ->
      s"""WITH v AS (
         |  SELECT source, CAST(len($duckToks) AS DOUBLE) AS nt FROM documents),
         |hist AS (
         |  SELECT source, greatest(0, least(63,
         |           CAST(floor((nt - 0.0) / 16.0) AS INT))) AS b,
         |         count(*) AS c
         |  FROM v
         |  WHERE nt IS NOT NULL AND NOT isnan(nt)
         |  GROUP BY 1, 2),
         |cum AS (
         |  SELECT source, b, c,
         |    CAST(coalesce(sum(c) OVER (PARTITION BY source ORDER BY b
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS cb
         |  FROM hist),
         |n AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_rows
         |      FROM hist GROUP BY source),
         |pq AS (
         |  SELECT source, n_rows, p,
         |    p * CAST(n_rows - 1 AS DOUBLE) + 1.0 AS t
         |  FROM n CROSS JOIN (SELECT unnest([0.5, 0.9]) AS p)),
         |ks AS (
         |  SELECT source, n_rows, p, t,
         |    CAST(floor(t) AS BIGINT) AS k_lo, CAST(ceil(t) AS BIGINT) AS k_hi
         |  FROM pq),
         |vlo AS (
         |  SELECT ks.*, 0.0 + 16.0 * (CAST(cum.b AS DOUBLE)
         |    + CAST(ks.k_lo - cum.cb AS DOUBLE) / CAST(cum.c AS DOUBLE)) AS v_lo
         |  FROM ks JOIN cum ON ks.source = cum.source
         |    AND ks.k_lo > cum.cb AND ks.k_lo <= cum.cb + cum.c),
         |vhi AS (
         |  SELECT vlo.*, 0.0 + 16.0 * (CAST(cum.b AS DOUBLE)
         |    + CAST(vlo.k_hi - cum.cb AS DOUBLE) / CAST(cum.c AS DOUBLE)) AS v_hi
         |  FROM vlo JOIN cum ON vlo.source = cum.source
         |    AND vlo.k_hi > cum.cb AND vlo.k_hi <= cum.cb + cum.c)
         |SELECT source, p, n_rows,
         |  round(v_lo + (t - CAST(k_lo AS DOUBLE)) * (v_hi - v_lo), 6) AS estimate
         |FROM vhi
         |ORDER BY source, p""".stripMargin,

    // HLL mirror: same 16-bit bucket slice, same 32-bit rank window
    // with an integer CASE chain for leading zeros (no float log2),
    // same integer-exact register sum and closed-form estimate with the
    // identical α·m²·2^33 literal.
    "q2H_hll_distinct" ->
      s"""WITH t AS (SELECT source, unnest($duckToks) AS term FROM documents),
         |${DuckSql.hll(1024, "t", Seq("source"))},
         |exact AS (
         |  SELECT source, count(DISTINCT term) AS exact_distinct FROM t
         |  GROUP BY source)
         |SELECT source, exact_distinct, hll_distinct,
         |  round(abs(hll_distinct - CAST(exact_distinct AS DOUBLE))
         |        / CAST(exact_distinct AS DOUBLE), 6) AS rel_err
         |FROM exact JOIN est USING (source)
         |ORDER BY source""".stripMargin,

    "q24_source_stats" ->
      s"""SELECT source,
         |  count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  round(avg(CAST(len($duckToks) AS DOUBLE)), 6) AS avg_tokens,
         |  count(DISTINCT lang) AS n_langs
         |FROM documents
         |GROUP BY source
         |ORDER BY source""".stripMargin,

    "q25_distinct_sources" ->
      """SELECT DISTINCT source FROM documents ORDER BY source""",

    "q26_result_truncation" ->
      """SELECT doc_id, source,
        |  CASE WHEN length(text) > 200 THEN substr(text, 1, 200) || '...'
        |       ELSE text END AS snippet
        |FROM documents
        |ORDER BY doc_id""".stripMargin
  )
}
