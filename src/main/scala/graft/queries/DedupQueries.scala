package graft.queries

import graft.Tables
import graft.operators.Dedup
import graft.streaming.{StreamRunner, StreamingIngest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Deduplication coverage on the `documents` fixture: exact hash groups,
  * n-gram Jaccard pairs, MinHash signatures, LSH candidate pairs, SimHash
  * signatures. All md5-based so the DuckDB oracle is bit-identical.
  */
object DedupQueries {

  private val duckToks = DuckSql.toks
  // word-3-gram shingles, distinct, as in TextFunctions.wordShingles(n=3)
  private val duckShingles = DuckSql.distinctGrams(3)

  // ONE definition of the minhash/LSH shape shared by the Spark lambdas
  // and the oracle CTEs below — a change to either constant reaches both
  // engines, so they can never silently drift apart.
  // shared with PipelineQueries' q69 composed-pipeline oracle
  private[queries] val NumHashes   = 8
  private[queries] val RowsPerBand = 2
  // Cap parameters, chosen so the guards actually drop something at
  // sf0.01 (max shingle df there is 7, max bucket size 3). MaxShingleDf
  // feeds q3B; MaxBucketSize feeds q3C AND the flagship q36/q37 cluster
  // pipeline (the production entry point exercises its own guard).
  private val MaxShingleDf  = 5
  // shared with PipelineQueries' q69 LSH-prune stage (and its oracle)
  private[queries] val MaxBucketSize = 2
  // q3I's hot-trigram cap: sf0.01's part-name trigram dfs reach 16
  // ("old"/"ld " at df 16 over 64 distinct names), so 10 drops two
  // grams — live, not decorative.
  private val MaxGramDf     = 10
  // Verify thresholds, interpolated into BOTH the Spark call and the
  // oracle SQL so the two engines cannot silently fork: VerifyMinJaccard
  // gates the q36/q37 cluster verify and the q3A incremental verify;
  // RecallMinJaccard is q3D's deliberately-lower ground-truth cut (it
  // must sit BELOW the banding's reliable-hit region to measure recall).
  private val VerifyMinJaccard = 0.5
  private val RecallMinJaccard = 0.35

  // Affine-minhash mirror of Dedup.minhashWide. EVERY constant
  // interpolates from Dedup (multiplier/modulus components of
  // minhashA/minhashB plus the prime), so the two engines can never
  // silently drift apart: h = first 8 md5 hex chars as a 32-bit int,
  // mh_s = (a_s*h + b_s) mod P. Expects a CTE `sh(doc_id, sh)` in scope.
  private[queries] val duckMinhashMh: String =
    s"""mh AS (
      |  SELECT doc_id, seed,
      |    min((((${Dedup.MinhashAMul} * (seed + 1)) % ${Dedup.MinhashAMod} + 1)
      |           * (('0x' || substr(md5(sh), 1, 8))::BIGINT)
      |         + (${Dedup.MinhashBMul} * (seed + 1)) % ${Dedup.MinhashPrime}) % ${Dedup.MinhashPrime}) AS mh
      |  FROM sh, (SELECT unnest(range(0, $NumHashes)) AS seed) seeds
      |  GROUP BY doc_id, seed)""".stripMargin

  // DuckDB mirror of one Dedup.simhash64 projection: bit `pos` (1..64)
  // of a token's md5 — top bit (>= '8') of nibble pos for the first 32,
  // second bit (chars 4-7/c-f) of nibble pos-32 for the rest. `t` and
  // `pos` must be in scope at the splice site.
  private val duckSimhashBit: String =
    """CASE WHEN pos <= 32 THEN substr(md5(t), pos, 1) >= '8'
      |         ELSE substr(md5(t), pos - 32, 1) IN ('4','5','6','7','c','d','e','f') END"""
      .stripMargin

  // The full 64-bit majority-vote signature as a select expression over
  // a `documents`-shaped row (uses `$duckToks`).
  private val duckSimhash: String =
    s"""array_to_string([
       |    CASE WHEN 2 * len(list_filter($duckToks, t -> $duckSimhashBit))
       |              >= len($duckToks)
       |         THEN '1' ELSE '0' END
       |    for pos in range(1, 65)], '')""".stripMargin

  // LSH band buckets over [[duckMinhashMh]] (band = seed / rowsPerBand,
  // decimal string join mirroring the Spark side's cast-to-string concat).
  private[queries] val duckLshBuckets: String =
    s"""buckets AS (
      |  SELECT doc_id, seed // $RowsPerBand AS band,
      |         md5(string_agg(mh::VARCHAR, '|' ORDER BY seed)) AS bucket
      |  FROM mh GROUP BY doc_id, seed // $RowsPerBand)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: content-hash groups, min-id survivor.
    "q30_exact_dedup" -> { (s, d) =>
      Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text").orderBy("h")
    },

    // n-gram Jaccard: top-20 most similar doc pairs.
    "q31_jaccard_pairs" -> { (s, d) =>
      Dedup.jaccardPairs(Tables.documents(s, d), "doc_id", "text",
        shingleN = 3, topPairs = 20)
    },

    // LSH band-parameter planner: every (bands, rows) factorization of
    // a 24-hash signature budget priced against the corpus's MEASURED
    // pair-similarity histogram (the capped q3B universe) — expected
    // candidates, recall at the q36 verify threshold, and the min-cost
    // geometry flagged. The parameter-picking step before q32/q33's
    // banding is trusted; q3D then measures the chosen geometry's
    // recall after the fact.
    "q8K_lsh_plan" -> { (s, d) =>
      Dedup.lshPlan(Tables.documents(s, d), "doc_id", "text",
          shingleN = 3, budget = 24, threshold = 0.5,
          missPenalty = 10L, maxShingleDf = 100)
        .orderBy("bands")
    },

    // MinHash signatures (8 hash functions over 3-gram shingles).
    "q32_minhash_signatures" -> { (s, d) =>
      Dedup.minhashSignatures(Tables.documents(s, d), "doc_id", "text",
          numHashes = NumHashes, shingleN = 3)
        .select(col("doc").as("doc_id"), col("seed"), col("mh"))
        .orderBy("doc_id", "seed")
    },

    // LSH banding (4 bands x 2 rows) → candidate pairs. Wide signature
    // path: one shuffle for the 8 mins, bands derived by column concat.
    "q33_lsh_candidates" -> { (s, d) =>
      val wide = Dedup.minhashWide(Tables.documents(s, d), "doc_id", "text",
        numHashes = NumHashes, shingleN = 3)
      Dedup.lshCandidatePairs(Dedup.lshBucketsWide(wide, numHashes = NumHashes, rowsPerBand = RowsPerBand))
        .orderBy(col("n_bands").desc, col("doc_a"), col("doc_b"))
    },

    // q31 with the hot-shingle cap exercised: shingles with df >
    // MaxShingleDf are removed from the similarity universe BEFORE the
    // pair self-join — the guard that stops one ubiquitous phrase from
    // generating O(df^2) pairs at corpus scale (the 100 TB scale-killer;
    // sf0.01 has 29 shingles over this threshold, so the cap is live).
    "q3B_jaccard_capped" -> { (s, d) =>
      Dedup.jaccardPairs(Tables.documents(s, d), "doc_id", "text",
        shingleN = 3, topPairs = 20, maxShingleDf = MaxShingleDf)
    },

    // q33 with the bucket-size cap exercised: band buckets with more than
    // MaxBucketSize members are dropped wholesale before the candidate
    // self-join — the guard that stops a degenerate boilerplate bucket
    // from generating O(size^2) candidate pairs (sf0.01 has 4 buckets
    // over this threshold, so the cap is live: 29 → 25 candidates).
    "q3C_lsh_capped" -> { (s, d) =>
      val wide = Dedup.minhashWide(Tables.documents(s, d), "doc_id", "text",
        numHashes = NumHashes, shingleN = 3)
      Dedup.lshCandidatePairs(
          Dedup.lshBucketsWide(wide, numHashes = NumHashes, rowsPerBand = RowsPerBand),
          maxBucketSize = MaxBucketSize)
        .orderBy(col("n_bands").desc, col("doc_a"), col("doc_b"))
    },

    // LSH RECALL evaluation — "measure, don't guess" for the banding
    // parameters: every TRUE near-dup pair (exact jaccard >= 0.35 over
    // the uncapped shingle universe) flagged with whether the 4x2
    // banding surfaced it as a candidate. The hit rate with 4 bands of
    // 2 rows is 1-(1-j^2)^4 — ~0.99 at j=0.9, only ~0.44 at j=0.36 —
    // and the flag column is what tells an operator to add bands before
    // trusting the dedup. (This fixture's pair distribution is bimodal —
    // dups sit at j~1.0 where the hit rate is ~1 — so `found` is
    // expectedly all-true here; the oracle still pins the full
    // truth-vs-candidate join logic, and borderline-j corpora are where
    // the false rows appear.)
    "q3D_lsh_recall" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val truth = Dedup.jaccardPairsAbove(docs, "doc_id", "text",
        shingleN = 3, minJaccard = RecallMinJaccard)
      val wide = Dedup.minhashWide(docs, "doc_id", "text",
        numHashes = NumHashes, shingleN = 3)
      val cand = Dedup
        .lshCandidatePairs(Dedup.lshBucketsWide(wide,
          numHashes = NumHashes, rowsPerBand = RowsPerBand))
        .select(col("doc_a"), col("doc_b"), lit(true).as("found"))
      truth.join(cand, Seq("doc_a", "doc_b"), "left")
        .select(col("doc_a"), col("doc_b"), col("jaccard"),
          coalesce(col("found"), lit(false)).as("found"))
        .orderBy("doc_a", "doc_b")
    },

    // Fuzzy entity matching: distinct part names within 3 Levenshtein
    // edits, blocked by shared character trigrams (q-gram blocking) so
    // candidate generation is an inverted-index join, never n² — the
    // entity-resolution pass a metadata-dedup pipeline runs on
    // titles/names. Levenshtein is exact integer arithmetic in both
    // engines; the oracle mirrors the same blocking.
    "q3E_fuzzy_pairs" -> { (s, d) =>
      val names = Tables.part(s, d).select(col("p_name").as("name")).distinct()
      Dedup.fuzzyPairs(names, "name", "name", maxDist = 3)
        .select(col("id_a").as("name_a"), col("id_b").as("name_b"),
          col("dist"))
        .orderBy("name_a", "name_b")
    },

    // Containment similarity (Broder's asymmetric resemblance): pairs
    // where either doc's distinct-shingle set is >= 60% contained in
    // the other — the quote/excerpt/subset near-dup signal symmetric
    // Jaccard misses. Same inverted-index shape as q31. EXACT oracle
    // form (uncapped, like q31); the production-scale capped form is
    // its twin q3H, and PlanAuditSpec's shingle-self-join audit pins
    // this pairing (exact forms are allowlisted only because a capped
    // twin exists).
    "q3G_containment_pairs" -> { (s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
          shingleN = 3, minContainment = 0.6)
        .orderBy("doc_a", "doc_b")
    },

    // q3G with the hot-shingle df cap live (the q31/q3B pairing applied
    // to containment): shingles with df > MaxShingleDf leave the
    // universe BEFORE the pair self-join, so one boilerplate 3-gram can
    // never generate O(df^2) pairs — at sf0.01 the cap drops 29
    // shingles, so the guard is exercised, not decorative. Containment
    // denominators shrink with the universe (stop-word-removal
    // semantics, same as q3B), mirrored exactly in the oracle.
    "q3H_containment_capped" -> { (s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
          shingleN = 3, minContainment = 0.6, maxShingleDf = MaxShingleDf)
        .orderBy("doc_a", "doc_b")
    },

    // q3E with the hot-trigram df cap live (the q31/q3B pairing applied
    // to q-gram blocking): trigrams shared by more than MaxGramDf
    // strings leave the blocking index BEFORE the candidate self-join —
    // at name-catalog scale a ubiquitous gram ("ing", "the") is the
    // same O(df^2) pair mint as a hot shingle. Candidates whose ONLY
    // shared gram is hot are forfeited (stop-gram semantics, mirrored
    // in the oracle); sf0.01 has 2 grams over the cap, so it's live.
    "q3I_fuzzy_capped" -> { (s, d) =>
      val names = Tables.part(s, d).select(col("p_name").as("name")).distinct()
      Dedup.fuzzyPairs(names, "name", "name", maxDist = 3, maxGramDf = MaxGramDf)
        .select(col("id_a").as("name_a"), col("id_b").as("name_b"),
          col("dist"))
        .orderBy("name_a", "name_b")
    },

    // Entity resolution end-to-end: block (q3E's trigram inverted
    // index) → verify (levenshtein ≤ 2) → cluster (connected
    // components, min-label canonical) → every name mapped to its
    // canonical entity; singletons stay their own entity. The
    // metadata-normalization pass a catalog/dedup pipeline runs over
    // titles/authors/products.
    "q3F_entity_clusters" -> { (s, d) =>
      val names = Tables.part(s, d).select(col("p_name").as("name")).distinct()
      val pairs = Dedup.fuzzyPairs(names, "name", "name", maxDist = 2)
      val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
      names.join(labels.withColumnRenamed("node", "name"), Seq("name"), "left")
        .select(col("name"), coalesce(col("root"), col("name")).as("entity"))
        .orderBy("name")
    },

    // SimHash 64-bit signatures (repartition: 64 interpreted md5 votes
    // per token on a 1-file scan would otherwise run on one core).
    "q34_simhash" -> { (s, d) =>
      Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), Dedup.simhash64(col("text")).as("simhash"))
        .orderBy("doc_id")
    },

    // SimHash near-dup pairs (hamming <= 2) via exhaustive 4x16-bit-block
    // pigeonhole join — the scale path that avoids the quadratic scan.
    "q35_simhash_pairs" -> { (s, d) =>
      Dedup.simhashPairsBlocked(
        Tables.documents(s, d).repartition(s.sparkContext.defaultParallelism),
        "doc_id", "text", maxDist = 2)
        .orderBy("dist", "doc_a", "doc_b")
    },

    // The production dedup pipeline end-to-end: LSH candidates → exact
    // Jaccard verification (per-candidate array intersect, no re-blowup)
    // → connected-components clustering (min-label propagation). Output:
    // every clustered doc with its cluster id (= min doc_id in cluster).
    "q36_dedup_clusters" -> { (s, d) =>
      clusterLabels(s, d)
        .select(col("node").as("doc_id"), col("root").as("cluster"))
        .orderBy("doc_id")
    },

    // Sketch calibration: MinHash-estimated jaccard (fraction of
    // agreeing signature slots) vs the exact value, per LSH candidate
    // pair — the accuracy check a pipeline runs before trusting a
    // sketch-only dedup threshold at full scale.
    "q38_minhash_estimate" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      // wide feeds the LSH banding AND both signature-join sides, and
      // cands feeds both est and the exact verify — cut each once
      val wide = Dedup.minhashWide(docs, "doc_id", "text",
        numHashes = NumHashes, shingleN = 3).localCheckpoint()
      val cands = Dedup.lshCandidatePairs(
          Dedup.lshBucketsWide(wide, numHashes = NumHashes, rowsPerBand = RowsPerBand))
        .select("doc_a", "doc_b").localCheckpoint()
      val sideA = wide.select(col("doc").as("doc_a") +:
        (0 until NumHashes).map(i => col(s"mh$i").as(s"a$i")): _*)
      val sideB = wide.select(col("doc").as("doc_b") +:
        (0 until NumHashes).map(i => col(s"mh$i").as(s"b$i")): _*)
      val est = cands
        .join(sideA, "doc_a")
        .join(sideB, "doc_b")
        .select(col("doc_a"), col("doc_b"),
          ((0 until NumHashes).map(i =>
            when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
            .reduce(_ + _).cast("double") / NumHashes.toDouble).as("est"))
      val exact = Dedup.verifyJaccard(docs, cands, "doc_id", "text", shingleN = 3)
      est.join(exact, Seq("doc_a", "doc_b"))
        .select(col("doc_a"), col("doc_b"),
          round(col("est"), 6).as("est"),
          col("jaccard").as("exact"),
          round(abs(col("est") - col("jaccard")), 6).as("abs_err"))
        .orderBy("doc_a", "doc_b")
    },

    // Incremental (new-batch-vs-corpus) dedup: docs 400+ are "incoming",
    // docs <400 the existing corpus; incoming docs near-duplicating the
    // corpus (LSH candidates, jaccard >= 0.5 verify) are dropped. The
    // daily-ingest pattern — nothing recomputes over the old corpus
    // except the bucket join.
    "q3A_incremental_dedup" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.newDocSurvivors(
          docs.filter(col("doc_id") >= 400), docs.filter(col("doc_id") < 400),
          "doc_id", "text", numHashes = NumHashes, shingleN = 3,
          rowsPerBand = RowsPerBand, minJaccard = VerifyMinJaccard)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    },

    // The materialized dedup result: the corpus minus every clustered
    // non-root doc (cluster root = min id survives) — what a training-
    // data pipeline actually writes out. left_anti keeps the scan-side
    // streaming; the drop list is the small side.
    "q37_dedup_survivors" -> { (s, d) =>
      val drop = clusterLabels(s, d)
        .filter(col("node") =!= col("root"))
        .select(col("node").as("doc_id"))
      Tables.documents(s, d).join(drop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },

    // Exact substring-span dedup (Lee et al. ExactSubstr, Spark-native):
    // maximal spans of >= SpanK consecutive tokens shared verbatim with
    // another doc. No pair join anywhere — linear window hashing.
    "q74_dup_spans" -> { (s, d) =>
      Dedup.duplicatedSpans(Tables.documents(s, d), "doc_id", "text",
          k = SpanK, minDocs = 2)
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id", "span_start")
    },

    // The scrub accounting over the same spans: what fraction of each
    // doc is corpus-duplicated text (the cut-or-drop policy input).
    "q75_span_scrub" -> { (s, d) =>
      Dedup.spanScrubStats(Tables.documents(s, d), "doc_id", "text",
          k = SpanK, minDocs = 2)
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id")
    },

    // The materialized scrub: corpus text with every duplicated span cut
    // (index-aware HOF filter over the token array — no token explode).
    "q76_span_clean" -> { (s, d) =>
      Dedup.scrubSpans(Tables.documents(s, d), "doc_id", "text",
          k = SpanK, minDocs = 2)
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id")
    },

    // Streaming near-dup gate as a REAL stream: incoming docs (id >= 400)
    // flow through the stateless per-row band column and are dropped on
    // any bucket collision with the precomputed corpus (< 400) bucket
    // table — the stream-side of q3A's incremental dedup, recall-biased
    // (collision drops without a jaccard verify). Short docs pass.
    "q77_stream_lsh_dedup" -> { (s, d) =>
      val docs   = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") < 400)
      val corpusBuckets = Dedup.lshBucketsWide(
        Dedup.minhashWide(corpus, "doc_id", "text",
          numHashes = NumHashes, shingleN = 3),
        numHashes = NumHashes, rowsPerBand = RowsPerBand)
      val incoming = s.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
        .filter(col("doc_id") >= 400)
      StreamRunner
        .runToBatch(
          StreamingIngest.lshDedupStream(incoming, corpusBuckets, "text",
            numHashes = NumHashes, shingleN = 3, rowsPerBand = RowsPerBand),
          OutputMode.Append)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    },

    // Keep-ONE-copy span dedup (Lee et al.'s actual cut policy, vs
    // q74's remove-all form — the choice is documented on both): each
    // duplicated window elects its canonical min-(doc_id, s) occurrence
    // via one aggregate on the window-hash dictionary; only NON-canonical
    // occurrences merge into cut spans, so exactly one copy of every
    // duplicated window survives the cut.
    "q78_span_keep_one" -> { (s, d) =>
      Dedup.duplicatedSpansKeepOne(Tables.documents(s, d), "doc_id", "text",
          k = SpanK, minDocs = 2)
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id", "span_start")
    },

    // Streaming span-dedup twin (the last dedup capability without a
    // streaming gate): incoming docs (id >= 400) arrive on a REAL file
    // stream and their duplicated spans vs the batch-maintained
    // duplicated-window dictionary are flagged per micro-batch — the
    // q77 stream-static shape applied to the q74 ExactSubstr family.
    // The dictionary covers the WHOLE corpus view (as the incremental
    // batch path maintains it — including windows two stream docs
    // share), so the flagged spans are hash-equal to batch q74
    // restricted to the incoming half: exactness per arrival, not an
    // approximation (docs are single rows, spans are per-doc-local
    // given the dictionary; see StreamingIngest.runSpanFlagStreamOnce).
    "q7B_stream_span_flag" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val dict = Dedup.duplicatedWindows(
        Dedup.tokenWindows(docs, "doc_id", "text", SpanK), minDocs = 2)
      // the parquet OUTPUT stays on disk: writing real files is part of
      // the op (the drain's checkpoint is tmpfs, see StreamRunner.drain)
      val outDir = graft.util.TempDirs.scratch("graft-span-out-")
      val incoming = s.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
        .filter(col("doc_id") >= 400)
      StreamingIngest.runSpanFlagStreamOnce(incoming, dict,
        "doc_id", "text", k = SpanK, outDir = outDir)
      // read back with the operator's OWN schema (derived from a
      // zero-row plan — no action): a corpus whose incoming half shares
      // no window writes no parquet data files, and a schema-inferring
      // read would throw instead of returning the correct empty result
      val outSchema = graft.operators.Dedup
        .spansAgainstDictionary(docs.limit(0), "doc_id", "text",
          dict.limit(0), SpanK).schema
      s.read.schema(outSchema).parquet(outDir)
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id", "span_start")
    }
  )

  // Window width for the q74/q75 substring-span family — small enough
  // that the sf0.01 fixture's near-dup docs share windows, large enough
  // that stop-phrases alone don't mark spans.
  private val SpanK = 6

  /** DuckDB mirror of [[Dedup.tokenWindows]]' per-doc window list:
    * md5 of each k-token window, zipped with `range` for the 1-based
    * start positions (both comprehensions are empty for docs shorter
    * than k, so the zipped unnests always align).
    */
  private def duckWindowMd5(k: Int): String = {
    val parts = (0 until k)
      .map(j => if (j == 0) "toks[i]" else s"toks[i+$j]").mkString(", ")
    s"[md5(concat_ws(' ', $parts)) for i in range(1, len(toks) - ${k - 2})]"
  }

  /** Shared q74/q75 CTE chain: tokens → zipped (position, window-md5)
    * unnest → duplicated-window dictionary (distinct-doc df >= 2) →
    * gaps-and-islands span merge (new island when the start gap
    * exceeds k).
    */
  private def duckSpanIslands(k: Int): String =
    s"""tok AS (SELECT doc_id, ${DuckSql.toks} AS toks FROM documents),
       |wins AS (
       |  SELECT doc_id,
       |    unnest(range(1, len(toks) - ${k - 2})) AS s,
       |    unnest(${duckWindowMd5(k)}) AS wh
       |  FROM tok),
       |dup AS (SELECT wh FROM wins GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
       |hits AS (SELECT doc_id, s FROM wins JOIN dup USING (wh)),
       |flagged AS (
       |  SELECT doc_id, s,
       |    CASE WHEN s - lag(s) OVER (PARTITION BY doc_id ORDER BY s) <= $k
       |         THEN 0 ELSE 1 END AS new_span
       |  FROM hits),
       |isl AS (
       |  SELECT doc_id, s,
       |    sum(new_span) OVER (PARTITION BY doc_id ORDER BY s
       |                        ROWS UNBOUNDED PRECEDING) AS span_id
       |  FROM flagged)""".stripMargin

  /** q78 CTE chain: same windows/dictionary as [[duckSpanIslands]], but
    * each duplicated window's canonical occurrence — rank 1 by (doc_id,
    * s), the mirror of Spark's min(struct(doc, s)) election — is
    * EXCLUDED from the hits before the island merge: keep-one-copy
    * semantics. Remove-all (q74) vs keep-one (q78) is the documented
    * policy fork; see Dedup.duplicatedSpansKeepOne for the overlap
    * caveat shared by both engines.
    */
  private def duckSpanIslandsKeepOne(k: Int): String =
    s"""tok AS (SELECT doc_id, ${DuckSql.toks} AS toks FROM documents),
       |wins AS (
       |  SELECT doc_id,
       |    unnest(range(1, len(toks) - ${k - 2})) AS s,
       |    unnest(${duckWindowMd5(k)}) AS wh
       |  FROM tok),
       |dup AS (SELECT wh FROM wins GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
       |hits AS (
       |  SELECT doc_id, s FROM (
       |    SELECT w.doc_id, w.s,
       |      row_number() OVER (PARTITION BY w.wh ORDER BY w.doc_id, w.s) AS rn
       |    FROM wins w JOIN dup USING (wh)) ranked
       |  WHERE rn > 1),
       |flagged AS (
       |  SELECT doc_id, s,
       |    CASE WHEN s - lag(s) OVER (PARTITION BY doc_id ORDER BY s) <= $k
       |         THEN 0 ELSE 1 END AS new_span
       |  FROM hits),
       |isl AS (
       |  SELECT doc_id, s,
       |    sum(new_span) OVER (PARTITION BY doc_id ORDER BY s
       |                        ROWS UNBOUNDED PRECEDING) AS span_id
       |  FROM flagged)""".stripMargin

  // Shared q36/q37 pipeline (ONE set of parameters — the survivor set
  // must stay consistent with the cluster set): exact-dup collapse →
  // minhash(8 seeds, 3-shingles) over representatives → LSH bands(4x2)
  // with the MaxBucketSize degenerate-bucket guard live → candidates →
  // jaccard >= 0.5 verify → connected components → re-expand. The cap
  // operates at REPRESENTATIVE level (a boilerplate bucket is counted
  // after exact-dup mass collapses to one rep), so the oracle mirrors
  // the collapse/cap/re-expand shape explicitly — see [[clusterWalkCte]].
  private def clusterLabels(s: SparkSession, d: String): DataFrame =
    Dedup.dedupClusters(Tables.documents(s, d), "doc_id", "text",
      numHashes = NumHashes, shingleN = 3, rowsPerBand = RowsPerBand,
      minJaccard = VerifyMinJaccard, maxBucketSize = MaxBucketSize)

  val oracles: Map[String, String] = Map(
    "q30_exact_dedup" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents
        |GROUP BY 1
        |ORDER BY h""".stripMargin,

    "q31_jaccard_pairs" ->
      s"""WITH sh AS (
         |  SELECT doc_id AS doc, unnest($duckShingles) AS sh FROM documents),
         |sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
         |common AS (
         |  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  round(CAST(common AS DOUBLE)
         |        / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE), 6) AS jaccard
         |FROM common
         |JOIN sizes sa ON sa.doc = doc_a
         |JOIN sizes sb ON sb.doc = doc_b
         |ORDER BY jaccard DESC, doc_a, doc_b
         |LIMIT 20""".stripMargin,

    // Same pair pipeline as q31, over the df-capped shingle universe
    // (sizes and common counts both computed AFTER the hot filter —
    // stop-word-removal semantics, exactly as the Spark side).
    // Planner mirror: the q3B capped pair universe (df <= 100) → 2%
    // similarity cells, the (bands, rows) divisors of 24 as VALUES, the
    // same per-step-rounded folds via list_reduce (no engine pow()),
    // micro-unit long sums, min-(cost, bands) chosen flag.
    "q8K_lsh_plan" ->
      s"""WITH sh0 AS (
         |  SELECT doc_id AS doc, unnest($duckShingles) AS sh FROM documents),
         |hot AS (
         |  SELECT sh FROM sh0 GROUP BY sh HAVING count(*) > 100),
         |sh AS (
         |  SELECT doc, sh FROM sh0 WHERE sh NOT IN (SELECT sh FROM hot)),
         |sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
         |common AS (
         |  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc
         |  GROUP BY 1, 2),
         |jac AS (
         |  SELECT round(CAST(common AS DOUBLE)
         |               / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE), 6) AS j
         |  FROM common
         |  JOIN sizes sa ON sa.doc = doc_a
         |  JOIN sizes sb ON sb.doc = doc_b),
         |cells AS (
         |  SELECT CAST(least(floor(j * 50), 49) AS INTEGER) AS k,
         |         count(*) AS n_pairs,
         |         round((least(floor(j * 50), 49) + 0.5) / 50.0, 6) AS s
         |  FROM jac GROUP BY 1, 3),
         |combos AS (
         |  SELECT * FROM (VALUES (1, 24), (2, 12), (3, 8), (4, 6), (6, 4),
         |                        (8, 3), (12, 2), (24, 1))
         |    AS t(bands, rows_per_band)),
         |scored AS (
         |  SELECT bands, rows_per_band, n_pairs, s,
         |    list_reduce([s for i in range(rows_per_band)],
         |                (x, y) -> round(x * y, 6)) AS sr
         |  FROM combos, cells),
         |scored2 AS (
         |  SELECT bands, rows_per_band, n_pairs, s,
         |    1.0 - list_reduce([1.0 - sr for i in range(bands)],
         |                      (x, y) -> round(x * y, 6)) AS p_cand
         |  FROM scored),
         |terms AS (
         |  SELECT bands, rows_per_band, s >= 0.5 AS is_true, n_pairs,
         |    CAST(round(n_pairs * p_cand * 1000000) AS BIGINT) AS term_micro
         |  FROM scored2),
         |agg AS (
         |  SELECT bands, rows_per_band,
         |    CAST(sum(term_micro) AS BIGINT) AS cand_micro,
         |    CAST(sum(CASE WHEN is_true THEN term_micro ELSE 0 END) AS BIGINT)
         |      AS found_micro,
         |    CAST(sum(CASE WHEN is_true THEN n_pairs ELSE 0 END) AS BIGINT)
         |      AS n_true
         |  FROM terms GROUP BY 1, 2),
         |costed AS (
         |  SELECT bands, rows_per_band,
         |    round(CAST(cand_micro AS DOUBLE) / 1000000, 6) AS exp_candidates,
         |    round(CAST(found_micro AS DOUBLE) / 1000000, 6) AS exp_true_found,
         |    n_true,
         |    CASE WHEN n_true > 0
         |         THEN round(CAST(found_micro AS DOUBLE) / 1000000
         |                    / CAST(n_true AS DOUBLE), 6) END AS recall_at_t,
         |    round(CAST(cand_micro - found_micro AS DOUBLE) / 1000000, 6)
         |      AS exp_false,
         |    (cand_micro - found_micro)
         |      + 10 * (n_true * 1000000 - found_micro) AS cost_micro
         |  FROM agg),
         |best AS (
         |  SELECT cost_micro AS bc, bands AS bb FROM costed
         |  ORDER BY cost_micro, bands LIMIT 1)
         |SELECT c.bands, c.rows_per_band, c.exp_candidates,
         |  c.exp_true_found, c.n_true, c.recall_at_t, c.exp_false,
         |  round(CAST(c.cost_micro AS DOUBLE) / 1000000, 6) AS cost,
         |  (c.cost_micro = b.bc AND c.bands = b.bb) AS chosen
         |FROM costed c, best b
         |ORDER BY c.bands""".stripMargin,

    "q3B_jaccard_capped" ->
      s"""WITH sh0 AS (
         |  SELECT doc_id AS doc, unnest($duckShingles) AS sh FROM documents),
         |hot AS (
         |  SELECT sh FROM sh0 GROUP BY sh HAVING count(*) > $MaxShingleDf),
         |sh AS (
         |  SELECT doc, sh FROM sh0 WHERE sh NOT IN (SELECT sh FROM hot)),
         |sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
         |common AS (
         |  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  round(CAST(common AS DOUBLE)
         |        / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE), 6) AS jaccard
         |FROM common
         |JOIN sizes sa ON sa.doc = doc_a
         |JOIN sizes sb ON sb.doc = doc_b
         |ORDER BY jaccard DESC, doc_a, doc_b
         |LIMIT 20""".stripMargin,

    // Same candidate join as q33, restricted to buckets at or under the
    // size cap.
    "q3C_lsh_capped" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($duckShingles) AS sh FROM documents),
         |$duckMinhashMh,
         |$duckLshBuckets,
         |keep AS (
         |  SELECT band, bucket FROM buckets
         |  GROUP BY band, bucket HAVING count(*) <= $MaxBucketSize),
         |kb AS (
         |  SELECT b.doc_id, b.band, b.bucket
         |  FROM buckets b JOIN keep USING (band, bucket))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
         |FROM kb a
         |JOIN kb b ON a.band = b.band AND a.bucket = b.bucket
         |         AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |ORDER BY n_bands DESC, doc_a, doc_b""".stripMargin,

    "q32_minhash_signatures" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($duckShingles) AS sh FROM documents),
         |$duckMinhashMh
         |SELECT doc_id, seed, mh FROM mh
         |ORDER BY doc_id, seed""".stripMargin,

    "q33_lsh_candidates" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($duckShingles) AS sh FROM documents),
         |$duckMinhashMh,
         |$duckLshBuckets
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
         |FROM buckets a
         |JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
         |              AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |ORDER BY n_bands DESC, doc_a, doc_b""".stripMargin,

    // Ground truth = q31's uncapped exact-jaccard pipeline thresholded;
    // candidates = q33's band-bucket join, distinct pairs.
    "q3D_lsh_recall" ->
      s"""WITH sh0 AS (
         |  SELECT doc_id AS doc, unnest($duckShingles) AS sh FROM documents),
         |sizes AS (SELECT doc, count(*) AS n_sh FROM sh0 GROUP BY doc),
         |common AS (
         |  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS common
         |  FROM sh0 a JOIN sh0 b ON a.sh = b.sh AND a.doc < b.doc
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT doc_a, doc_b,
         |    round(CAST(common AS DOUBLE)
         |          / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE), 6) AS jaccard
         |  FROM common
         |  JOIN sizes sa ON sa.doc = doc_a
         |  JOIN sizes sb ON sb.doc = doc_b
         |  WHERE round(CAST(common AS DOUBLE)
         |          / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE), 6) >= $RecallMinJaccard),
         |sh AS (
         |  SELECT doc_id, unnest($duckShingles) AS sh FROM documents),
         |$duckMinhashMh,
         |$duckLshBuckets,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM buckets a
         |  JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
         |                AND a.doc_id < b.doc_id)
         |SELECT t.doc_a, t.doc_b, t.jaccard,
         |       (c.doc_a IS NOT NULL) AS found
         |FROM truth t
         |LEFT JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
         |ORDER BY t.doc_a, t.doc_b""".stripMargin,

    // Fuzzy-pairs mirror: identical trigram blocking (shared char
    // 3-gram, short strings use the whole string), identical length
    // prune + exact levenshtein verify. dist CAST to INT to match
    // Spark's levenshtein type.
    "q3E_fuzzy_pairs" ->
      """WITH nm AS (SELECT DISTINCT p_name AS s FROM part),
        |gd AS (
        |  SELECT DISTINCT s, g FROM (
        |    SELECT s, unnest(CASE WHEN len(s) < 3 THEN [s]
        |      ELSE [substr(s, i, 3) for i in range(1, len(s) - 1)] END) AS g
        |    FROM nm)),
        |cand AS (
        |  SELECT DISTINCT a.s AS s_a, b.s AS s_b
        |  FROM gd a JOIN gd b ON a.g = b.g AND a.s < b.s)
        |SELECT s_a AS name_a, s_b AS name_b,
        |  CAST(levenshtein(s_a, s_b) AS INT) AS dist
        |FROM cand
        |WHERE abs(len(s_a) - len(s_b)) <= 3
        |  AND levenshtein(s_a, s_b) <= 3
        |ORDER BY name_a, name_b""".stripMargin,

    // Containment mirror: q31's overlap core with the per-side ratios.
    "q3G_containment_pairs" ->
      s"""WITH sh AS (
         |  SELECT doc_id AS doc, unnest($duckShingles) AS sh FROM documents),
         |sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
         |common AS (
         |  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  round(CAST(common AS DOUBLE) / CAST(sa.n_sh AS DOUBLE), 6) AS c_a_in_b,
         |  round(CAST(common AS DOUBLE) / CAST(sb.n_sh AS DOUBLE), 6) AS c_b_in_a
         |FROM common
         |JOIN sizes sa ON sa.doc = doc_a
         |JOIN sizes sb ON sb.doc = doc_b
         |WHERE greatest(round(CAST(common AS DOUBLE) / CAST(sa.n_sh AS DOUBLE), 6),
         |               round(CAST(common AS DOUBLE) / CAST(sb.n_sh AS DOUBLE), 6)) >= 0.6
         |ORDER BY doc_a, doc_b""".stripMargin,

    // q3G over the df-capped shingle universe (sizes and overlap both
    // computed AFTER the hot filter, exactly as the Spark side).
    "q3H_containment_capped" ->
      s"""WITH sh0 AS (
         |  SELECT doc_id AS doc, unnest($duckShingles) AS sh FROM documents),
         |hot AS (
         |  SELECT sh FROM sh0 GROUP BY sh HAVING count(*) > $MaxShingleDf),
         |sh AS (
         |  SELECT doc, sh FROM sh0 WHERE sh NOT IN (SELECT sh FROM hot)),
         |sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
         |common AS (
         |  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  round(CAST(common AS DOUBLE) / CAST(sa.n_sh AS DOUBLE), 6) AS c_a_in_b,
         |  round(CAST(common AS DOUBLE) / CAST(sb.n_sh AS DOUBLE), 6) AS c_b_in_a
         |FROM common
         |JOIN sizes sa ON sa.doc = doc_a
         |JOIN sizes sb ON sb.doc = doc_b
         |WHERE greatest(round(CAST(common AS DOUBLE) / CAST(sa.n_sh AS DOUBLE), 6),
         |               round(CAST(common AS DOUBLE) / CAST(sb.n_sh AS DOUBLE), 6)) >= 0.6
         |ORDER BY doc_a, doc_b""".stripMargin,

    // q3E over the df-capped gram index (hot grams leave the blocking
    // index before candidate generation, exactly as the Spark side).
    "q3I_fuzzy_capped" ->
      s"""WITH nm AS (SELECT DISTINCT p_name AS s FROM part),
        |gd AS (
        |  SELECT DISTINCT s, g FROM (
        |    SELECT s, unnest(CASE WHEN len(s) < 3 THEN [s]
        |      ELSE [substr(s, i, 3) for i in range(1, len(s) - 1)] END) AS g
        |    FROM nm)),
        |hot AS (
        |  SELECT g FROM gd GROUP BY g HAVING count(*) > $MaxGramDf),
        |gk AS (
        |  SELECT s, g FROM gd WHERE g NOT IN (SELECT g FROM hot)),
        |cand AS (
        |  SELECT DISTINCT a.s AS s_a, b.s AS s_b
        |  FROM gk a JOIN gk b ON a.g = b.g AND a.s < b.s)
        |SELECT s_a AS name_a, s_b AS name_b,
        |  CAST(levenshtein(s_a, s_b) AS INT) AS dist
        |FROM cand
        |WHERE abs(len(s_a) - len(s_b)) <= 3
        |  AND levenshtein(s_a, s_b) <= 3
        |ORDER BY name_a, name_b""".stripMargin,

    // Entity-cluster mirror: q3E's blocking at dist <= 2, then the q36
    // recursive transitive-closure walk with min-label roots;
    // singletons coalesce to themselves. Lexicographic min matches
    // Spark's binary string ordering on these ASCII names.
    "q3F_entity_clusters" ->
      """WITH RECURSIVE nm AS (SELECT DISTINCT p_name AS s FROM part),
        |gd AS (
        |  SELECT DISTINCT s, g FROM (
        |    SELECT s, unnest(CASE WHEN len(s) < 3 THEN [s]
        |      ELSE [substr(s, i, 3) for i in range(1, len(s) - 1)] END) AS g
        |    FROM nm)),
        |cand AS (
        |  SELECT DISTINCT a.s AS s_a, b.s AS s_b
        |  FROM gd a JOIN gd b ON a.g = b.g AND a.s < b.s),
        |e2 AS (
        |  SELECT s_a, s_b FROM cand
        |  WHERE abs(len(s_a) - len(s_b)) <= 2
        |    AND levenshtein(s_a, s_b) <= 2),
        |sym AS (SELECT s_a AS a, s_b AS b FROM e2
        |        UNION SELECT s_b, s_a FROM e2),
        |walk(doc, reach) AS (
        |  SELECT a, a FROM sym
        |  UNION
        |  SELECT w.doc, e.b FROM walk w JOIN sym e ON w.reach = e.a),
        |rep AS (SELECT doc, min(reach) AS root FROM walk GROUP BY doc)
        |SELECT nm.s AS name, coalesce(rep.root, nm.s) AS entity
        |FROM nm LEFT JOIN rep ON rep.doc = nm.s
        |ORDER BY name""".stripMargin,

    "q34_simhash" ->
      s"""SELECT doc_id,
         |  $duckSimhash AS simhash
         |FROM documents
         |ORDER BY doc_id""".stripMargin,

    // Oracle uses the plain quadratic form — blocking is a plan choice,
    // not a semantics change (exhaustive for dist <= 3 by pigeonhole).
    "q35_simhash_pairs" ->
      s"""WITH s AS (
         |  SELECT doc_id,
         |    $duckSimhash AS simhash
         |  FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(CAST(a.simhash AS BIT), CAST(b.simhash AS BIT))) AS dist
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(CAST(a.simhash AS BIT), CAST(b.simhash AS BIT))) <= 2
         |ORDER BY dist, doc_a, doc_b""".stripMargin,

    "q38_minhash_estimate" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($duckShingles) AS sh FROM documents),
         |$duckMinhashMh,
         |$duckLshBuckets,
         |cand AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM buckets a
         |  JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
         |                AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id AS doc, count(*) AS n_sh FROM sh GROUP BY doc),
         |common AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS common
         |  FROM cand c
         |  JOIN sh a ON a.doc_id = c.doc_a
         |  JOIN sh b ON b.doc_id = c.doc_b AND a.sh = b.sh
         |  GROUP BY 1, 2),
         |exact AS (
         |  SELECT c.doc_a, c.doc_b,
         |    round(CAST(common AS DOUBLE)
         |          / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE), 6) AS exact
         |  FROM common c
         |  JOIN sizes sa ON sa.doc = c.doc_a
         |  JOIN sizes sb ON sb.doc = c.doc_b),
         |est AS (
         |  SELECT c.doc_a, c.doc_b,
         |    CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS DOUBLE) / $NumHashes.0 AS est
         |  FROM cand c
         |  JOIN mh a ON a.doc_id = c.doc_a
         |  JOIN mh b ON b.doc_id = c.doc_b AND b.seed = a.seed
         |  GROUP BY 1, 2)
         |SELECT e.doc_a, e.doc_b, round(e.est, 6) AS est, x.exact AS exact,
         |  round(abs(e.est - x.exact), 6) AS abs_err
         |FROM est e JOIN exact x USING (doc_a, doc_b)
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Minhash per doc is independent of other docs, so bucketing ALL
    // documents once and splitting by side afterwards is identical to
    // the Spark side's per-side bucketing.
    "q3A_incremental_dedup" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($duckShingles) AS sh FROM documents),
         |$duckMinhashMh,
         |$duckLshBuckets,
         |cand AS (
         |  SELECT i.doc_id AS doc_new, c.doc_id AS doc_old
         |  FROM buckets i
         |  JOIN buckets c ON i.band = c.band AND i.bucket = c.bucket
         |  WHERE i.doc_id >= 400 AND c.doc_id < 400
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id AS doc, count(*) AS n_sh FROM sh GROUP BY doc),
         |common AS (
         |  SELECT c.doc_new, c.doc_old, count(*) AS common
         |  FROM cand c
         |  JOIN sh a ON a.doc_id = c.doc_new
         |  JOIN sh b ON b.doc_id = c.doc_old AND a.sh = b.sh
         |  GROUP BY 1, 2),
         |dup AS (
         |  SELECT DISTINCT c.doc_new
         |  FROM common c
         |  JOIN sizes sn ON sn.doc = c.doc_new
         |  JOIN sizes so ON so.doc = c.doc_old
         |  WHERE round(CAST(common AS DOUBLE)
         |              / CAST(sn.n_sh + so.n_sh - common AS DOUBLE), 6) >= $VerifyMinJaccard)
         |SELECT doc_id, source, n_chars
         |FROM documents
         |WHERE doc_id >= 400
         |  AND NOT EXISTS (SELECT 1 FROM dup WHERE doc_new = doc_id)
         |ORDER BY doc_id""".stripMargin,

    // Clustering oracle: exact-dup collapse → rep-level LSH candidates
    // (bucket cap live) → jaccard verify → component min-labels via a
    // recursive transitive-closure CTE (UNION dedups, so the walk
    // terminates) → re-expand members. Shared prefix: [[clusterWalkCte]];
    // a member's cluster is its rep's component root, falling back to the
    // rep itself for edge-less exact groups of size >= 2.
    "q36_dedup_clusters" ->
      s"""$clusterWalkCte
         |SELECT m.doc AS doc_id,
         |  coalesce(r.root, CASE WHEN m.n >= 2 THEN m.rep END) AS cluster
         |FROM member m LEFT JOIN replabel r ON r.doc = m.rep
         |WHERE coalesce(r.root, CASE WHEN m.n >= 2 THEN m.rep END) IS NOT NULL
         |ORDER BY doc_id""".stripMargin,

    "q37_dedup_survivors" ->
      s"""$clusterWalkCte,
         |drop_ids AS (
         |  SELECT m.doc
         |  FROM member m LEFT JOIN replabel r ON r.doc = m.rep
         |  WHERE coalesce(r.root, CASE WHEN m.n >= 2 THEN m.rep END) IS NOT NULL
         |    AND m.doc <> coalesce(r.root, CASE WHEN m.n >= 2 THEN m.rep END))
         |SELECT d.doc_id, d.source, d.n_chars
         |FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM drop_ids x WHERE x.doc = d.doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "q74_dup_spans" ->
      s"""WITH ${duckSpanIslands(SpanK)}
         |SELECT doc_id, min(s) AS span_start,
         |  max(s) + ${SpanK - 1} AS span_end,
         |  count(*) AS n_windows
         |FROM isl GROUP BY doc_id, span_id
         |ORDER BY doc_id, span_start""".stripMargin,

    "q75_span_scrub" ->
      s"""WITH ${duckSpanIslands(SpanK)},
         |spans AS (
         |  SELECT doc_id, min(s) AS ss, max(s) + ${SpanK - 1} AS se
         |  FROM isl GROUP BY doc_id, span_id),
         |per AS (
         |  SELECT doc_id, count(*) AS n_spans,
         |    CAST(sum(se - ss + 1) AS BIGINT) AS dup_tokens
         |  FROM spans GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS total_tokens,
         |  coalesce(dup_tokens, 0) AS dup_tokens,
         |  coalesce(n_spans, 0) AS n_spans,
         |  round(CAST(coalesce(dup_tokens, 0) AS DOUBLE) / len(toks), 6) AS dup_frac
         |FROM tok t LEFT JOIN per USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,

    // the comprehension's `i` is captured inside the list_filter lambda —
    // a span covers position i iff ss <= i <= se
    "q76_span_clean" ->
      s"""WITH ${duckSpanIslands(SpanK)},
         |spans AS (
         |  SELECT doc_id, min(s) AS ss, max(s) + ${SpanK - 1} AS se
         |  FROM isl GROUP BY doc_id, span_id),
         |sps AS (SELECT doc_id, list({'ss': ss, 'se': se}) AS sps
         |        FROM spans GROUP BY doc_id)
         |SELECT t.doc_id,
         |  -- array_to_string([]) is NULL in DuckDB; Spark's array_join
         |  -- of an empty array is '' (a fully-scrubbed doc)
         |  coalesce(array_to_string(
         |    [toks[i] for i in range(1, len(toks) + 1)
         |     if len(list_filter(coalesce(sps, []),
         |            sp -> i >= sp.ss AND i <= sp.se)) = 0],
         |    ' '), '') AS clean_text
         |FROM tok t LEFT JOIN sps USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,

    // batch mirror of the streaming gate: an incoming doc survives iff
    // none of its band buckets appears among the corpus docs' buckets
    "q77_stream_lsh_dedup" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($duckShingles) AS sh FROM documents),
         |$duckMinhashMh,
         |$duckLshBuckets,
         |coll AS (
         |  SELECT DISTINCT a.doc_id
         |  FROM buckets a JOIN buckets b
         |    ON a.band = b.band AND a.bucket = b.bucket
         |   AND a.doc_id >= 400 AND b.doc_id < 400)
         |SELECT doc_id, source, n_chars
         |FROM documents
         |WHERE doc_id >= 400
         |  AND doc_id NOT IN (SELECT doc_id FROM coll)
         |ORDER BY doc_id""".stripMargin,

    "q78_span_keep_one" ->
      s"""WITH ${duckSpanIslandsKeepOne(SpanK)}
         |SELECT doc_id, min(s) AS span_start,
         |  max(s) + ${SpanK - 1} AS span_end,
         |  count(*) AS n_windows
         |FROM isl GROUP BY doc_id, span_id
         |ORDER BY doc_id, span_start""".stripMargin,

    // batch mirror of the streaming span flagger: exactly q74's spans
    // restricted to the incoming (doc_id >= 400) half — the dictionary
    // the stream joins is the full-corpus one, so the isl CTE is shared
    // verbatim and only the final filter differs
    "q7B_stream_span_flag" ->
      s"""WITH ${duckSpanIslands(SpanK)}
         |SELECT doc_id, min(s) AS span_start,
         |  max(s) + ${SpanK - 1} AS span_end,
         |  count(*) AS n_windows
         |FROM isl
         |WHERE doc_id >= 400
         |GROUP BY doc_id, span_id
         |ORDER BY doc_id, span_start""".stripMargin
  )

  /** Oracle CTE prefix shared by q36/q37 — the DuckDB mirror of
    * `clusterLabels` (parameters appear exactly once per engine),
    * including the exact-dup collapse: shingling/banding/capping run
    * over group REPRESENTATIVES only (`member` carries the re-expansion
    * map), because the MaxBucketSize cap counts rep-level bucket
    * membership — a member-level mirror would cap differently.
    */
  private lazy val clusterWalkCte: String =
    s"""WITH RECURSIVE grp AS (
       |  SELECT md5(text) AS h, min(doc_id) AS rep, count(*) AS n
       |  FROM documents GROUP BY 1),
       |member AS (
       |  SELECT d.doc_id AS doc, g.rep, g.n
       |  FROM documents d JOIN grp g ON md5(d.text) = g.h),
       |sh AS (
       |  SELECT doc_id, unnest($duckShingles) AS sh FROM documents
       |  WHERE doc_id IN (SELECT rep FROM grp)),
       |$duckMinhashMh,
       |$duckLshBuckets,
       |keep AS (
       |  SELECT band, bucket FROM buckets
       |  GROUP BY band, bucket HAVING count(*) <= $MaxBucketSize),
       |kb AS (
       |  SELECT b.doc_id, b.band, b.bucket
       |  FROM buckets b JOIN keep USING (band, bucket)),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM kb a
       |  JOIN kb b ON a.band = b.band AND a.bucket = b.bucket
       |           AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id AS doc, count(*) AS n_sh FROM sh GROUP BY doc),
       |common AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS common
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND a.sh = b.sh
       |  GROUP BY 1, 2),
       |verified AS (
       |  SELECT c.doc_a, c.doc_b
       |  FROM common c
       |  JOIN sizes sa ON sa.doc = c.doc_a
       |  JOIN sizes sb ON sb.doc = c.doc_b
       |  WHERE round(CAST(common AS DOUBLE)
       |              / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE), 6) >= $VerifyMinJaccard),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM verified
       |  UNION ALL
       |  SELECT doc_b AS a, doc_a AS b FROM verified),
       |walk(doc, reach) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT w.doc, e.b FROM walk w JOIN edges e ON w.reach = e.a),
       |replabel AS (
       |  SELECT doc, min(reach) AS root FROM walk GROUP BY doc)""".stripMargin
}
