package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Deduplication operators for LLM training-data pipelines: exact
  * (content-hash), MinHash + LSH banding, SimHash, and n-gram Jaccard.
  *
  * All hashing goes through `md5` (a Spark built-in with a bit-identical
  * DuckDB counterpart) so every stage is oracle-checkable; at production
  * scale `xxhash64` is a drop-in faster substitute.
  *
  * Scale design: every stage is groupBy/join on a key (shingle, band
  * bucket) — map-side combinable and AQE-skew-splittable. Nothing here
  * collects to the driver. The quadratic candidate space is only ever
  * materialized for rows sharing a bucket/shingle (the point of LSH).
  */
object Dedup {

  /** Exact dedup groups: content hash → surviving (min) id + group size.
    * "Last-wins"/"first-wins" policy is just the choice of min/max.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Distinct word-n-gram shingles per doc: `(doc, sh)`.
    *
    * Repartitions the input by doc id first: shingling is a row-expanding
    * generator, and a small-file corpus otherwise leaves the whole
    * expansion on one partition (a 1-file scan = 1 task). Hash-partitioned
    * by id the output is deterministic and every downstream groupBy on
    * doc is already co-partitioned.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    graft.util.Scans.fanOut(df, col(idCol))
      .select(
        col(idCol).as("doc"),
        explode(array_distinct(TextFunctions.wordShingles(col(textCol), n))).as("sh")
      )

  /** Affine minhash family over a single 32-bit base hash: `mh_s(x) =
    * (a_s * h(x) + b_s) mod P` with `h` = first 8 hex chars of md5 and
    * `P` the smallest prime above 2^32 — the classic one-hash + k
    * affine-transform scheme. One md5 per shingle (not one per seed):
    * at a production 64-seed config that is 64x less hashing, and the
    * multiply-mod stays in whole-stage codegen. Bounds keep every
    * intermediate in a signed 64-bit lane on both engines:
    * a < 2^30, h < 2^32 ⇒ a*h + b < 2^62 + 2^33.
    */
  val MinhashPrime: Long = 4294967311L
  // component constants exposed (not inlined) so oracle SQL interpolates
  // the SAME values — see DedupQueries.duckMinhashMh
  val MinhashAMul: Long  = 2654435761L
  val MinhashAMod: Long  = 1073741789L
  val MinhashBMul: Long  = 40503L
  def minhashA(seed: Int): Long = (MinhashAMul * (seed + 1)) % MinhashAMod + 1
  def minhashB(seed: Int): Long = (MinhashBMul * (seed + 1)) % MinhashPrime

  /** Wide MinHash: one row per doc with columns `mh0..mh{n-1}`, where
    * `mh_s = min over shingles of (a_s * h(shingle) + b_s) mod P`
    * (see [[minhashA]]).
    *
    * Single aggregation pass: the `numHashes` mins are computed as
    * parallel aggregates over the shingle rows — one shuffle keyed by
    * doc, no seed-explode row blowup, and partial aggregation reduces
    * each partition to one row per (doc) before the exchange.
    */
  def minhashWide(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleN: Int
  ): DataFrame = {
    val sh = shingles(df, idCol, textCol, shingleN)
      .select(col("doc"),
        conv(substring(md5(col("sh")), 1, 8), 16, 10).cast("long").as("h"))
    val aggs = (0 until numHashes).map(s =>
      min((lit(minhashA(s)) * col("h") + lit(minhashB(s))) % lit(MinhashPrime))
        .as(s"mh$s"))
    sh.groupBy(col("doc")).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash signatures in narrow form `(doc, seed, mh)` — the wide
    * row unpivoted; output identical to computing each seed separately.
    */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleN: Int
  ): DataFrame = {
    val wide = minhashWide(df, idCol, textCol, numHashes, shingleN)
    wide.select(col("doc"),
      posexplode(array((0 until numHashes).map(s => col(s"mh$s")): _*))
        .as(Seq("seed", "mh")))
  }

    /** LSH band buckets from a wide signature row: `(doc, band, bucket)`,
    * `bucket = md5(mh_{b*r} | ... | mh_{b*r+r-1})`. Pure column math on
    * the wide row — no extra shuffle.
    */
  def lshBucketsWide(wide: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    // ceil, matching the narrow path: a remainder band is built from the
    // leftover signature rows rather than silently dropped
    val nBands = (numHashes + rowsPerBand - 1) / rowsPerBand
    val bands = (0 until nBands).map { b =>
      val hi = math.min((b + 1) * rowsPerBand, numHashes)
      md5(concat_ws("|",
        (b * rowsPerBand until hi).map(r => col(s"mh$r").cast("string")): _*))
    }
    wide.select(col("doc"),
      posexplode(array(bands: _*)).as(Seq("band", "bucket")))
  }

  /** LSH band buckets from narrow minhash signatures: `(doc, band,
    * bucket)` with `rowsPerBand` signature rows hashed together per band.
    * Docs sharing any (band, bucket) are near-dup candidates. (Prefer
    * [[lshBucketsWide]] when the wide form is already at hand — it skips
    * this extra shuffle.)
    */
  def lshBuckets(signatures: DataFrame, rowsPerBand: Int): DataFrame =
    signatures
      .withColumn("band", floor(col("seed") / rowsPerBand).cast("int"))
      .groupBy(col("doc"), col("band"))
      .agg(
        md5(concat_ws("|",
          transform(
            array_sort(collect_list(struct(col("seed"), col("mh")))),
            s => s.getField("mh").cast("string")
          )
        )).as("bucket")
      )

  /** (band, bucket, sz) of LSH buckets whose membership exceeds
    * `maxBucketSize` — the accounting side of the [[lshCandidatePairs]]
    * cap: a pipeline logs/audits this table to see what the guard
    * dropped (in web data these are boilerplate clusters).
    */
  def oversizedBuckets(buckets: DataFrame, maxBucketSize: Int): DataFrame =
    buckets.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("sz"))
      .filter(col("sz") > maxBucketSize)

  /** Candidate near-dup pairs (a < b) from LSH buckets, with the number
    * of colliding bands as the signal strength.
    *
    * `maxBucketSize` caps the self-join's per-key blowup: a degenerate
    * band bucket with m members yields m*(m-1)/2 candidate pairs — 100 K
    * boilerplate near-identical pages (guaranteed in web data) would
    * produce ~5e9 pairs from ONE bucket, and AQE skew-split only
    * rebalances those pairs, it does not stop them from existing. Buckets
    * larger than the cap are dropped wholesale BEFORE the join (pair cost
    * becomes <= |buckets| * maxBucketSize instead of sum of sz^2);
    * audit what was dropped with [[oversizedBuckets]]. Production
    * pipelines combine this with exact-dup collapse (band one
    * representative per identical-content group) so the cap only ever
    * hits genuine boilerplate, not exact-dup mass.
    */
  /** THE hot-key cap, shared by every posting-table pair self-join in
    * the engine (shingle df, q-gram df, LSH band buckets, image-hash
    * band buckets): rows of key groups larger than `maxSize` drop
    * WHOLESALE before the join, so one degenerate key can never mint
    * O(size²) pairs. The dropped-group list has one row per DROPPED
    * group — the tail of the size distribution by construction — so
    * AQE broadcasts the anti-join build side. One definition: a fix or
    * policy change (e.g. logging what was dropped) lands everywhere at
    * once, and PlanAuditSpec's LeftAnti cap witness stays one shape.
    */
  def dropOversizedGroups(df: DataFrame, keyCols: Seq[String],
                          maxSize: Int): DataFrame =
    if (maxSize == Int.MaxValue) df
    else df.join(
      df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("_sz"))
        .filter(col("_sz") > maxSize)
        .select(keyCols.map(col): _*),
      keyCols, "left_anti")

  def lshCandidatePairs(
      buckets: DataFrame, maxBucketSize: Int = Int.MaxValue
  ): DataFrame = {
    val kept = dropOversizedGroups(buckets, Seq("band", "bucket"), maxBucketSize)
    val a = kept.select(col("doc").as("doc_a"), col("band"), col("bucket"))
    val b = kept.select(col("doc").as("doc_b"), col("band").as("band_b"), col("bucket").as("bucket_b"))
    a.join(b,
        col("band") === col("band_b") && col("bucket") === col("bucket_b") &&
          col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_bands"))
  }

  /** (sh, shingle, df) of hashed shingles whose document frequency
    * exceeds `maxShingleDf` — the accounting side of the [[jaccardPairs]]
    * cap: a pipeline logs/audits this table to see which stop-shingles
    * the guard removed from the similarity universe. `sh` is the 64-bit
    * join key the cap actually operates on; `shingle` carries the minimum
    * colliding shingle string so the audit names the actual dropped
    * phrase (a hash alone is not human-auditable, and distinct shingles
    * colliding into one hash would otherwise merge invisibly).
    */
  def hotShingles(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, maxShingleDf: Int
  ): DataFrame =
    shingles(df, idCol, textCol, shingleN)
      .select(col("sh").as("shingle"), xxhash64(col("sh")).as("sh"))
      .groupBy("sh")
      .agg(min(col("shingle")).as("shingle"), count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf)

  /** Top near-dup pairs by word-n-gram Jaccard similarity. The shingle
    * equi-join only materializes pairs that share at least one shingle.
    *
    * `maxShingleDf` caps the join's per-key blowup: a stop-shingle
    * appearing in m docs contributes m*(m-1)/2 pairs — one ubiquitous
    * phrase in 1 M docs is ~5e11 pairs from a single key, and AQE
    * skew-split only rebalances those pairs, it does not stop them from
    * existing. Shingles with df > maxShingleDf are removed from the
    * similarity universe entirely (numerator AND denominator — the
    * stop-word-removal semantics), so jaccard is computed over the
    * retained vocabulary; audit what was dropped with [[hotShingles]].
    * Docs left with zero retained shingles drop out of the pair list,
    * like docs shorter than the shingle width always have.
    */
  def jaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, topPairs: Int, maxShingleDf: Int = Int.MaxValue
  ): DataFrame =
    jaccardAll(df, idCol, textCol, shingleN, maxShingleDf)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(topPairs)

  /** LSH band-parameter planner — the "measure, don't guess" step
    * BEFORE q32/q33's banding geometry is trusted (q3D measures recall
    * of one chosen geometry after the fact; this prices every
    * geometry first). For each (bands, rowsPerBand) factorization of
    * the signature `budget`, the S-curve P(candidate | s) =
    * 1 − (1 − s^r)^b is integrated against the corpus's MEASURED
    * pair-similarity histogram (2%-wide cells over the exact Jaccard
    * of all shingle-sharing pairs, the same capped universe the
    * production dedup runs), yielding per geometry: expected candidate
    * pairs (the verify-stage work), expected true pairs found
    * (s ≥ threshold), recall, expected false candidates, and a cost =
    * false + missPenalty × missed. The min-cost row (ties → fewer
    * bands) is flagged `chosen`.
    *
    * Scale shape: the heavy work is the one exact-pair pass
    * ([[jaccardPairsAbove]] at 0.0 — the inverted-index join, hot
    * shingles capped); everything after reduces to a ≤50-row histogram
    * crossed with ≤|divisors(budget)| geometry rows. DETERMINISM: the
    * S-curve powers evaluate as per-step 6-dp-rounded folds (the q6G
    * list_reduce idiom — replayable, no engine pow()), and all
    * expectation sums accumulate as micro-unit longs (order-free).
    * On a corpus slice with zero true pairs at the threshold, recall
    * is NULL (no honest number exists), never a div-0.
    */
  def lshPlan(df: DataFrame, idCol: String, textCol: String,
              shingleN: Int, budget: Int, threshold: Double,
              missPenalty: Long = 10L,
              maxShingleDf: Int = Int.MaxValue): DataFrame = {
    require(budget >= 1, "signature budget must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = jaccardPairsAbove(df, idCol, textCol, shingleN, 0.0,
      maxShingleDf)
    // 2%-wide similarity cells; jaccard == 1.0 clamps into the top cell
    val hist = pairs
      .select(least(floor(col("jaccard") * 50), lit(49L)).cast("int").as("k"))
      .groupBy("k").agg(count(lit(1)).as("n_pairs"))
      .select(col("k"), col("n_pairs"),
        round((col("k").cast("double") + 0.5) / 50.0, 6).as("s"))
    val combos = (1 to budget).filter(budget % _ == 0)
      .map(b => (b, budget / b)).toDF("bands", "rows_per_band")
    // let-bind each fold result before the next references it (HOF
    // lambdas re-evaluate referenced subtrees per element — the
    // canonicalizeUrl lesson)
    val scored = combos.crossJoin(hist)
      .withColumn("sr",
        aggregate(sequence(lit(1), col("rows_per_band")), lit(1.0),
          (acc, _) => round(acc * col("s"), 6)))
      .withColumn("p_cand",
        lit(1.0) - aggregate(sequence(lit(1), col("bands")), lit(1.0),
          (acc, _) => round(acc * (lit(1.0) - col("sr")), 6)))
      .withColumn("is_true", col("s") >= lit(threshold))
      .withColumn("term_micro",
        round(col("n_pairs") * col("p_cand") * 1e6).cast("long"))
    val agg = scored.groupBy("bands", "rows_per_band").agg(
      sum(col("term_micro")).as("cand_micro"),
      sum(when(col("is_true"), col("term_micro")).otherwise(0L))
        .as("found_micro"),
      sum(when(col("is_true"), col("n_pairs")).otherwise(0L)).as("n_true"))
    val costed = agg.select(col("bands"), col("rows_per_band"),
      round(col("cand_micro").cast("double") / 1e6, 6).as("exp_candidates"),
      round(col("found_micro").cast("double") / 1e6, 6).as("exp_true_found"),
      col("n_true"),
      when(col("n_true") > 0,
        round(col("found_micro").cast("double") / 1e6
          / col("n_true").cast("double"), 6)).as("recall_at_t"),
      round((col("cand_micro") - col("found_micro")).cast("double") / 1e6, 6)
        .as("exp_false"),
      ((col("cand_micro") - col("found_micro"))
        + lit(missPenalty) * (col("n_true") * lit(1000000L)
          - col("found_micro"))).as("cost_micro"))
    // cut the ≤|divisors| costed table ONCE (the q5H/q4T idiom): both
    // the argmin row and the output read the cut, so the heavy
    // pair-histogram lineage under it executes once, not twice
    val costedCut = costed.localCheckpoint()
    val best = costedCut.agg(
      min(struct(col("cost_micro"), col("bands"))).as("best"))
    costedCut.crossJoin(broadcast(best))
      .select(col("bands"), col("rows_per_band"), col("exp_candidates"),
        col("exp_true_found"), col("n_true"), col("recall_at_t"),
        col("exp_false"),
        round(col("cost_micro").cast("double") / 1e6, 6).as("cost"),
        (col("cost_micro") === col("best.cost_micro") &&
          col("bands") === col("best.bands")).as("chosen"))
  }

  /** Every pair at or above `minJaccard` — the THRESHOLD form of
    * [[jaccardPairs]] (no global sort, no top-k cut): the ground-truth
    * side of recall evaluation, and the "give me all real near-dups"
    * query a dedup policy actually executes. Same shingle universe,
    * same capping semantics.
    */
  def jaccardPairsAbove(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, minJaccard: Double, maxShingleDf: Int = Int.MaxValue
  ): DataFrame =
    jaccardAll(df, idCol, textCol, shingleN, maxShingleDf)
      .filter(col("jaccard") >= minJaccard)

  /** Character trigrams of a short string — the blocking unit for fuzzy
    * entity matching. Strings shorter than 3 chars use the whole string
    * as their single gram (so they still block against themselves).
    */
  def charTrigrams(s: Column): Column =
    when(length(s) < 3, array(s))
      .otherwise(transform(sequence(lit(1), length(s) - 2),
        i => s.substr(i, lit(3))))

  /** Fuzzy entity matching: id pairs whose strings are within `maxDist`
    * Levenshtein edits — the entity-resolution / metadata-dedup join
    * (near-identical titles, author names, product strings), found
    * WITHOUT an n² comparison. Candidate generation is q-gram blocking
    * (Gravano et al. 2001): only pairs sharing at least one character
    * trigram meet, via the same inverted-index self-join shape as
    * [[jaccardPairs]] (xxhash64 long keys; `maxGramDf` drops stop-grams
    * so one ubiquitous trigram can't mint O(df²) pairs). Each candidate
    * pair is verified once: a free length prune (|len_a − len_b| must
    * be ≤ maxDist) then one exact `levenshtein`.
    *
    * Completeness: blocking requires a shared trigram. Strings within
    * `maxDist` sharing none (only possible when edits can break every
    * gram, i.e. length ≲ 3·maxDist) are not candidates — the standard
    * q-gram trade; the oracle mirrors the same blocking so the gate
    * checks exactly these semantics. Scale: shuffles are bounded by
    * (string, gram) rows and candidate pairs — never n².
    *
    * Output: `id_a`, `id_b` (id_a < id_b), `dist`.
    */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String,
                 maxDist: Int, maxGramDf: Int = Int.MaxValue): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    val strs = df.select(col(idCol).as("id"), col(strCol).as("s"))
    val gAll = strs
      .select(col("id"), col("s"),
        explode(array_distinct(charTrigrams(col("s")))).as("g"))
      .select(col("id"), col("s"), xxhash64(col("g")).as("gh"))
    val grams = dropOversizedGroups(gAll, Seq("gh"), maxGramDf)
    grams.as("a")
      .join(grams.as("b"),
        col("a.gh") === col("b.gh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.s").as("s_a"), col("b.s").as("s_b"))
      .distinct()
      .filter(abs(length(col("s_a")) - length(col("s_b"))) <= maxDist)
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  private def jaccardAll(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, maxShingleDf: Int
  ): DataFrame =
    shingleOverlap(df, idCol, textCol, shingleN, maxShingleDf)
      .select(
        col("doc_a"), col("doc_b"),
        round(col("common").cast("double") /
          (col("sh_a") + col("sh_b") - col("common")).cast("double"), 6).as("jaccard")
      )

  /** Containment similarity (Broder 1997's other resemblance measure):
    * `C(A ⊆ B) = |A ∩ B| / |A|` — the ASYMMETRIC near-dup signal
    * Jaccard misses. A short doc fully quoted inside a long one scores
    * containment ≈ 1 while its Jaccard stays tiny (the union is
    * dominated by the long side), so quote/subset/excerpt dedup keys on
    * containment, not resemblance. Emits both directions per pair and
    * keeps pairs where EITHER reaches `minContainment`; same inverted-
    * index shape and `maxShingleDf` capping as [[jaccardPairs]].
    */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, minContainment: Double,
      maxShingleDf: Int = Int.MaxValue
  ): DataFrame =
    shingleOverlap(df, idCol, textCol, shingleN, maxShingleDf)
      .select(col("doc_a"), col("doc_b"),
        round(col("common").cast("double") / col("sh_a").cast("double"), 6)
          .as("c_a_in_b"),
        round(col("common").cast("double") / col("sh_b").cast("double"), 6)
          .as("c_b_in_a"))
      .filter(greatest(col("c_a_in_b"), col("c_b_in_a")) >= minContainment)

  /** Shared pair core for [[jaccardAll]]/[[containmentPairs]]: distinct-
    * shingle overlap counts with per-doc sizes —
    * `(doc_a, doc_b, common, sh_a, sh_b)` for every shingle-sharing
    * pair.
    */
  private def shingleOverlap(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, maxShingleDf: Int
  ): DataFrame = {
    // Join on a 64-bit shingle hash, not the shingle string: the self-join
    // shuffles every (doc, shingle) row, and a fixed-width long key is
    // ~5x fewer shuffle bytes + long-compare sort-merge instead of string
    // compare. Distinct-shingle counts are hash-collision-exact in
    // expectation (~n^2/2^65); the oracle gate would catch a collision.
    val shAll = shingles(df, idCol, textCol, shingleN)
      .select(col("doc"), xxhash64(col("sh")).as("sh"))
    val sh = dropOversizedGroups(shAll, Seq("sh"), maxShingleDf)
    val sizes = sh.groupBy("doc").agg(count(lit(1)).as("n_sh"))
    val common = sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc").as("doc_a"), col("n_sh").as("sh_a")), "doc_a")
      .join(sizes.select(col("doc").as("doc_b"), col("n_sh").as("sh_b")), "doc_b")
  }

  /** Exact Jaccard for an explicit candidate-pair list: each doc's
    * distinct shingle hashes travel as ONE array row, so the join cost is
    * |candidates| + |docs| rows — not the all-sharing-pairs blowup of
    * [[jaccardPairs]]. This is the verification stage after LSH pruning.
    */
  def verifyJaccard(
      df: DataFrame, candidates: DataFrame,
      idCol: String, textCol: String, shingleN: Int
  ): DataFrame =
    verifyJaccardSided(df, df, candidates, idCol, textCol, shingleN,
      "doc_a", "doc_b")

  /** [[verifyJaccard]] with the pair sides drawn from two different
    * frames (e.g. incoming batch vs existing corpus): `candidates` must
    * carry `leftKey`/`rightKey` columns of `left`/`right` ids. Returns
    * `(leftKey, rightKey, jaccard)` — one shared jaccard formula for
    * every verification path.
    */
  def verifyJaccardSided(
      left: DataFrame, right: DataFrame, candidates: DataFrame,
      idCol: String, textCol: String, shingleN: Int,
      leftKey: String, rightKey: String
  ): DataFrame = {
    def arrs(df: DataFrame, keyAs: String, shsAs: String) = df.select(
      col(idCol).as(keyAs),
      array_distinct(transform(
        TextFunctions.wordShingles(col(textCol), shingleN), s => xxhash64(s)
      )).as(shsAs))
    candidates
      .join(arrs(left, leftKey, "_shs_l"), leftKey)
      .join(arrs(right, rightKey, "_shs_r"), rightKey)
      .select(col(leftKey), col(rightKey),
        size(array_intersect(col("_shs_l"), col("_shs_r"))).as("common"),
        size(col("_shs_l")).as("n_a"), size(col("_shs_r")).as("n_b"))
      .select(col(leftKey), col(rightKey),
        round(col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")).cast("double"), 6).as("jaccard"))
  }

  /** Per-row LSH band buckets as a single Column — bit-identical to the
    * [[minhashWide]]→[[lshBucketsWide]] pipeline but computed without any
    * aggregation, so it works on a STREAMING DataFrame (no groupBy state)
    * and as a plain derived column at ingest. NULL when the text has no
    * shingles (shorter than `shingleN` words — such docs have no
    * signature in the batch path either).
    *
    * One md5 per shingle: the base hash is bound as a lambda variable
    * (see [[simhash64]] for why a free subexpression would re-hash per
    * seed); the per-seed mins accumulate via one zip_with(least) pass.
    */
  def minhashBandsCol(
      text: Column, numHashes: Int, shingleN: Int, rowsPerBand: Int
  ): Column = {
    val nBands = (numHashes + rowsPerBand - 1) / rowsPerBand
    val shs = array_distinct(TextFunctions.wordShingles(text, shingleN))
    // per shingle: the numHashes affine values, base hash bound once;
    // constants come from minhashA/minhashB so the band values can never
    // drift from the batch minhashWide path
    val perShingle = flatten(transform(shs, sh =>
      transform(array(conv(substring(md5(sh), 1, 8), 16, 10).cast("long")), h =>
        array((0 until numHashes).map(s =>
          (lit(minhashA(s)) * h + lit(minhashB(s))) % lit(MinhashPrime)): _*))))
    val mins = aggregate(perShingle,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, sv) => zip_with(acc, sv, (a, b) => least(a, b)))
    // bind mins as a lambda variable as well — every band references it,
    // and a free reference would re-run the whole signature aggregate
    // once per band
    val bandsFrom = (m: Column) => array((0 until nBands).map { b =>
      val hi = math.min((b + 1) * rowsPerBand, numHashes)
      md5(concat_ws("|",
        (b * rowsPerBand until hi).map(r => element_at(m, r + 1).cast("string")): _*))
    }: _*)
    when(size(shs) > 0,
      element_at(transform(array(mins), m => bandsFrom(m)), 1))
  }

  /** Incremental dedup: drop incoming docs that are near-duplicates of
    * the EXISTING corpus — the daily-ingest pattern (new batch vs a
    * 100 TB corpus) where re-clustering everything is not an option.
    * Candidates come from an LSH band-bucket join of the incoming side
    * against the corpus side (at scale the corpus buckets are a
    * partitioned table written once at ingest; the join prunes to the
    * incoming batch's buckets), verified with exact shingle Jaccard
    * >= `minJaccard`. Returns the surviving incoming rows unchanged.
    *
    * `maxBucketSize` is the same degenerate-bucket guard as
    * [[lshCandidatePairs]]: the bucket population is counted over BOTH
    * sides combined (a boilerplate bucket is degenerate regardless of
    * which side its members arrive on; at scale the corpus side's counts
    * are part of the precomputed bucket table and the incoming side's
    * increment is one small aggregate), and oversized buckets drop out
    * of the candidate join wholesale. Docs that only matched through a
    * dropped bucket then SURVIVE — the conservative direction for a
    * dedup filter (keep, never silently delete, on guard overflow).
    */
  def newDocSurvivors(
      incoming: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      numHashes: Int, shingleN: Int, rowsPerBand: Int,
      minJaccard: Double, maxBucketSize: Int = Int.MaxValue
  ): DataFrame = {
    def rawBuckets(df: DataFrame) = lshBucketsWide(
      minhashWide(df, idCol, textCol, numHashes, shingleN),
      numHashes, rowsPerBand)
    var bIn = rawBuckets(incoming)
    var bCorp = rawBuckets(corpus)
    if (maxBucketSize != Int.MaxValue) {
      val over = oversizedBuckets(bIn.unionByName(bCorp), maxBucketSize)
        .select("band", "bucket")
      bIn = bIn.join(over, Seq("band", "bucket"), "left_anti")
      bCorp = bCorp.join(over, Seq("band", "bucket"), "left_anti")
    }
    val cands = bIn.as("i")
      .join(bCorp.as("c"), Seq("band", "bucket"))
      .select(col("i.doc").as("doc_new"), col("c.doc").as("doc_old"))
      .distinct()
    val dupNew = verifyJaccardSided(incoming, corpus, cands,
        idCol, textCol, shingleN, "doc_new", "doc_old")
      .filter(col("jaccard") >= minJaccard)
      .select("doc_new").distinct()
    incoming.join(dupNew, incoming(idCol) === dupNew("doc_new"), "left_anti")
  }

  /** The end-to-end near-dup clustering pipeline with exact-dup collapse:
    * every doc's cluster label is the minimum id among its exact+near
    * duplicates, or no row if it has neither.
    *
    * Stage order is the 100 TB-safe shape:
    *  1. Exact-dup collapse — group by content hash, elect the min-id
    *     representative. Identical docs have identical minhash signatures,
    *     so banding all of them is pure per-bucket blowup; banding ONE rep
    *     per group removes the most common degenerate bucket (exact-dup
    *     mass) entirely, and is label-equivalent because an exact group is
    *     already fully connected at jaccard 1.0.
    *  2. MinHash → LSH bands → candidate pairs over representatives only
    *     (`maxBucketSize` guards what boilerplate remains).
    *  3. Exact shingle-Jaccard verify >= `minJaccard` (no pair re-blowup).
    *  4. Connected components over rep-level edges.
    *  5. Re-expand: each member takes its rep's component root; an exact
    *     group of size >= 2 whose rep has no near-dup edge is a cluster by
    *     itself (root = rep), exactly as its intra-group jaccard-1.0 edges
    *     would have made it.
    */
  def dedupClusters(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleN: Int, rowsPerBand: Int, minJaccard: Double,
      maxBucketSize: Int = Int.MaxValue
  ): DataFrame = {
    val groups = df.groupBy(md5(col(textCol)).as("_h"))
      .agg(min(col(idCol)).as("_rep"), count(lit(1)).as("_n"))
    val members = df.select(col(idCol).as("_doc"), md5(col(textCol)).as("_h"))
      .join(groups, "_h")
    val reps = df.join(groups.select(col("_rep").as(idCol)), Seq(idCol),
      "left_semi")
    val cands = lshCandidatePairs(
        lshBucketsWide(minhashWide(reps, idCol, textCol, numHashes, shingleN),
          numHashes, rowsPerBand),
        maxBucketSize)
      .select("doc_a", "doc_b")
    val edges = verifyJaccard(reps, cands, idCol, textCol, shingleN)
      .filter(col("jaccard") >= minJaccard)
    val repLabels = connectedComponents(edges, "doc_a", "doc_b")
    members
      .join(repLabels.withColumnRenamed("node", "_rep"), Seq("_rep"), "left")
      .select(col("_doc").as("node"),
        coalesce(col("root"), when(col("_n") >= 2, col("_rep"))).as("root"))
      .filter(col("root").isNotNull)
  }

  /** Connected components over an undirected edge list: every node's
    * label is the minimum id in its component.
    *
    * Size-adaptive plan (the shape production graph libraries use): at
    * or below `driverMaxEdges` the deduped edge list is collected and
    * solved with union-find — one action instead of a multi-round job
    * storm, right whenever the candidate graph fits comfortably on the
    * driver. Above it, iterative min-label propagation: each round is
    * one join + one min-aggregate (shuffles sized by |edges| + |nodes|,
    * never by component count) with `localCheckpoint` truncating the
    * lineage; rounds needed = component diameter. Convergence is derived
    * from the SAME aggregate that computes the next labels (each node's
    * previous root rides along and the changed-label count is read off
    * the materializing action), so every round is exactly ONE Spark
    * action — no separate compare join. Both paths produce identical
    * labels (asserted in DedupSpec).
    */
  def connectedComponents(
      edges: DataFrame, aCol: String, bCol: String, maxIter: Int = 20,
      driverMaxEdges: Long = 100000L
  ): DataFrame = {
    val und = edges
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .localCheckpoint()
    // und is symmetrized (both directions), so the undirected edge count
    // is half its row count. One capped collect in ascending order both
    // decides the path and hands the driver path its rows; a negative
    // cap collects nothing (limit 0, no job) and always propagates
    val cap  = 2L * driverMaxEdges
    val rows = und.orderBy("src", "dst")
      .limit((cap + 1L).max(0L).min(Int.MaxValue.toLong).toInt).collect()
    if (rows.length <= cap) return ccDriver(und, rows)
    val idType = und.schema("src").dataType
    var labels = und.select(col("src").as("node")).distinct()
      .withColumn("root", col("node"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // each node's single current-labels row carries its previous root
      // in `_prev`; neighbor propagations carry NULL, so after the
      // min/max aggregate every node has (new root, old root) in one row
      val prop = und
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .select(col("src").as("node"), col("root"),
          lit(null).cast(idType).as("_prev"))
      val next = labels
        .select(col("node"), col("root"), col("root").as("_prev"))
        .unionByName(prop)
        .groupBy("node")
        .agg(min("root").as("root"), max("_prev").as("_prev"))
        .localCheckpoint(eager = false)
      // the count materializes the lazy checkpoint AND yields the
      // changed-label total: one Spark action per round
      converged = next.filter(col("root") =!= col("_prev")).count() == 0L
      labels = next.select("node", "root")
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — a " +
          s"component has diameter > $maxIter; raise maxIter (rounds are " +
          "cheap: one join + one min-aggregate each)")
    labels
  }

  /** Driver-side union-find for small graphs over `und`'s rows, sorted
    * by `src`. Min-root labels without needing an Ordering on the
    * (generic) id type: nodes are scanned in the engine's ascending sort
    * order, and the first node seen in each component names it.
    */
  private def ccDriver(und: DataFrame, sorted: Array[org.apache.spark.sql.Row]): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    sorted.foreach { row =>
      val (ra, rb) = (find(row.get(0)), find(row.get(1)))
      if (ra != rb) parent(rb) = ra
    }
    // und is symmetric, so its src values are all its nodes
    val nodesAsc = sorted.iterator.map(_.get(0)).distinct
    val rootLabel = scala.collection.mutable.HashMap.empty[Any, Any]
    val rows: java.util.List[org.apache.spark.sql.Row] =
      new java.util.ArrayList(nodesAsc.map { n =>
        org.apache.spark.sql.Row(n, rootLabel.getOrElseUpdate(find(n), n))
      }.toSeq.asJava)
    val idType = und.schema("src").dataType
    und.sparkSession.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", idType),
        org.apache.spark.sql.types.StructField("root", idType))))
  }

  /** 64-bit SimHash over whitespace tokens, as a '0'/'1' bitstring.
    * Bit i is the majority vote across tokens of a pseudo-random
    * projection derived from md5(token)'s 32 hex nibbles: the top bit
    * (value 8) of nibble i for i in 1..32, and the second bit (value 4)
    * of nibble i-32 — the chars 4-7/c-f — for i in 33..64. Two
    * independent bits per nibble = 64 projections from ONE digest, and
    * both tests are plain hex-char comparisons the DuckDB oracle can
    * replay exactly.
    *
    * 64 bits (vs the previous 32) is the web-scale requirement: with
    * 4-block pigeonhole pairing ([[simhashPairsBlocked]]) the band key
    * is 16 bits (65,536 values) instead of 8 (256), so the candidate
    * space at n docs is Θ(n²/65536) rather than Θ(n²/256) — the
    * difference between a usable and a degenerate blocking at 10⁹ docs.
    *
    * Computed by the codegen'd [[graft.functions.SimHash64Expr]] — one
    * compiled MD5-and-count pass per document. [[simhash64Hof]] keeps
    * the original interpreted HOF formulation as the independently-
    * derived reference; DedupSpec asserts bit equality between the two
    * on fixture documents.
    */
  def simhash64(text: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.SimHash64Expr(
        org.apache.spark.sql.GraftBridge.expression(text)))

  /** Interpreted HOF reference form of [[simhash64]] (pre-round-5 hot
    * path; ~10× the compiled cost — kept ONLY as the parity oracle).
    *
    * One md5 per token: the digest is BOUND as a lambda variable (the
    * inner `transform(array(md5(t)), h => ...)`) — a free `md5(t)`
    * subexpression inside the 64-way bit expansion would be re-evaluated
    * per bit (interpreted HOFs get no subexpression elimination), turning
    * the hash cost x64. All 64 bit-counts then accumulate in a single
    * pass over the per-token bit vectors.
    */
  def simhash64Hof(text: Column): Column = {
    def body(ts: Column): Column = {
      val tokenBits = flatten(transform(ts, t =>
        transform(array(md5(t)), h =>
          transform(sequence(lit(1), lit(64)), pos =>
            when(pos <= 32,
              when(h.substr(pos, lit(1)) >= "8", 1).otherwise(0))
            .otherwise(
              when(h.substr(pos - 32, lit(1))
                .isin("4", "5", "6", "7", "c", "d", "e", "f"), 1)
                .otherwise(0))))))
      val counts = aggregate(tokenBits, array_repeat(lit(0), 64),
        (acc, tb) => zip_with(acc, tb, (a, b) => a + b))
      // the majority threshold (token count) is bound too — a free
      // size(tokens(...)) in the 64-way bit lambda would re-tokenize
      // the document once per bit
      element_at(transform(array(size(ts)), n =>
        concat_ws("", transform(counts, c =>
          when(c * 2 >= n, lit("1")).otherwise(lit("0"))))), 1)
    }
    // tokens(text) itself is bound so the row is tokenized exactly once
    element_at(transform(array(TextFunctions.tokens(text)), ts => body(ts)), 1)
  }

  /** Hamming distance between two equal-length bitstrings. */
  def hammingDistance(a: Column, b: Column): Column =
    size(filter(
      sequence(lit(1), length(a)),
      i => a.substr(i, lit(1)) =!= b.substr(i, lit(1))
    ))

  /** SimHash near-dup pairs within hamming distance `maxDist`, blocked:
    * the 64-bit signature splits into 4 16-bit blocks, and by pigeonhole
    * a pair within distance 3 agrees exactly on at least one block — so
    * the per-block equi-join is exhaustive for maxDist <= 3 with no
    * quadratic scan. 16-bit blocks give each band 65,536 distinct bucket
    * values (vs 256 for byte blocks), keeping the candidate space
    * Θ(n²/65536) at web scale. Distance itself is bit_count(xor) on the
    * signature as two 32-bit half-longs (codegen'd integer ops, not
    * per-character comparison).
    */
  def simhashPairsBlocked(
      df: DataFrame, idCol: String, textCol: String, maxDist: Int
  ): DataFrame = {
    require(maxDist <= 3,
      s"4x16-bit blocking is only exhaustive for maxDist <= 3, got $maxDist")
    // Materialize the signature table once: it feeds BOTH sides of the
    // self-join, and without the cut Spark re-evaluates the interpreted
    // simhash expression per join subtree (and project collapse can pull
    // it past the join — per OUTPUT row). One row per doc, so this is
    // exactly the signature table a production pipeline would persist.
    // The 64-bit signature travels as two 32-bit halves: conv(_,2,10) of
    // the full 64-char string can exceed Long.MaxValue, while each half
    // always fits, and bit_count(xor) distributes over the halves.
    val sigs = df.select(col(idCol).as("doc"), simhash64(col(textCol)).as("sig"))
      .withColumn("sig_hi", conv(substring(col("sig"), 1, 32), 2, 10).cast("long"))
      .withColumn("sig_lo", conv(substring(col("sig"), 33, 32), 2, 10).cast("long"))
      .localCheckpoint()
    val blocks = sigs.select(col("doc"), col("sig_hi"), col("sig_lo"),
      posexplode(array((0 until 4).map(b =>
        substring(col("sig"), 16 * b + 1, 16)): _*)).as(Seq("b", "blk")))
    val a = blocks.select(
      col("doc").as("doc_a"), col("sig_hi").as("hi_a"), col("sig_lo").as("lo_a"),
      col("b"), col("blk"))
    val bb = blocks.select(
      col("doc").as("doc_b"), col("sig_hi").as("hi_b"), col("sig_lo").as("lo_b"),
      col("b").as("b_b"), col("blk").as("blk_b"))
    a.join(bb, col("b") === col("b_b") && col("blk") === col("blk_b") &&
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
      // a near pair can agree on several blocks; collapse the duplicates
      .groupBy("doc_a", "doc_b")
      .agg(min("dist").as("dist"))
  }

  /** SimHash near-dup pairs with hamming distance <= maxDist. Quadratic
    * reference form for small corpora / arbitrary maxDist; prefer
    * [[simhashPairsBlocked]] when maxDist <= 3.
    */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String, maxDist: Int
  ): DataFrame = {
    val sigs = df.select(col(idCol).as("doc"), simhash64(col(textCol)).as("sig"))
    val a = sigs.select(col("doc").as("doc_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("doc").as("doc_b"), col("sig").as("sig_b"))
    a.crossJoin(b)
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        hammingDistance(col("sig_a"), col("sig_b")).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  // ---- semantic (embedding-space) dedup --------------------------------

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the embedding space into `nCells` cells
    * (deterministic IVF assignment, [[AnnIvf.assign]]), then score
    * cosine similarity ONLY within a cell. The cell equi-join bounds
    * the pair space to Σ cell² instead of n² — the same
    * candidates-then-verify shape as the LSH text path, but driven by
    * the embedding geometry, so it catches paraphrase-level duplicates
    * that share no shingles. Returns `(cell, id_a, id_b, score)` with
    * `id_a < id_b` and rounded `score >= minScore`.
    *
    * At 100 TB: cells are the storage partition key (the IVF layout
    * already materialized for ANN serves double duty), each cell's
    * self-join runs cell-local, and a skewed mega-cell is handled the
    * same way as an LSH mega-bucket — raise `nCells` or cap the cell.
    */
  def semanticPairs(
      emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int, minScore: Double, scale: Int = 6,
      maxCellSize: Int = Int.MaxValue
  ): DataFrame = {
    import graft.functions.VectorFunctions.cosineSimilarity
    import org.apache.spark.sql.expressions.Window
    val cents = AnnIvf.centroids(emb, idCol, vecCol, nCells)
    val base  = AnnIvf.assign(emb, idCol, vecCol, cents)
      .select(col("cell"), col(idCol), col(vecCol))
    // skew guard, same conservative stance as the LSH bucket caps: an
    // over-dense cell (web boilerplate collapsing to one centroid) is
    // excluded from the PAIR universe — its docs are all kept, never
    // silently deleted; audit with [[oversizedCells]], mitigate by
    // raising nCells. The size is a count window INSIDE the cell
    // exchange, not a separate counts-join — no extra pass over the
    // corpus.
    val assigned =
      if (maxCellSize == Int.MaxValue) base
      else base
        .withColumn("_csz", count(lit(1)).over(Window.partitionBy("cell")))
        .filter(col("_csz") <= maxCellSize)
        .drop("_csz")
    // self-join via aliases of the SAME plan: both sides canonicalize
    // identically, so the cell exchange (and everything under it — the
    // broadcast argmax assignment) is planned ONCE and reused
    // (ReusedExchange), instead of computing the assignment twice as a
    // per-side projection rename would
    assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col("a.cell").as("cell"),
        col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        round(cosineSimilarity(col(s"a.$vecCol"), col(s"b.$vecCol")), scale)
          .as("score"))
      .filter(col("score") >= minScore)
  }

  /** Audit for [[semanticPairs]]'s `maxCellSize` guard: the cells the
    * cap excluded from the pair universe, with their populations.
    */
  def oversizedCells(
      emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int, maxCellSize: Int
  ): DataFrame = {
    val cents = AnnIvf.centroids(emb, idCol, vecCol, nCells)
    AnnIvf.assign(emb, idCol, vecCol, cents)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > maxCellSize)
  }

  /** Cross-set SEMANTIC contamination (the embedding-space
    * decontamination pass: q65 checks exact n-gram overlap, this
    * catches paraphrased benchmark leakage sharing no shingles): each
    * TRAIN vector's near matches among BENCH vectors at `minScore`
    * cosine, with the train×bench pair space bounded by the shared IVF
    * cell structure — only same-cell cross-set pairs score, exactly
    * [[semanticPairs]]' SemDeDup argument applied across two sets.
    *
    * Scale shape: the cell assignment is a narrow broadcast-centroid
    * argmax (no shuffle), so evaluating it once per side costs less
    * than materializing the assignment table; the bench side is the
    * small one at 100 TB (a benchmark suite, not a corpus) and
    * broadcast-joins by cell into the streaming train side. Returns one
    * row per contaminated train id: `(train_id, n_bench_hits,
    * max_score)`.
    */
  def semanticContamination(
      emb: DataFrame, idCol: String, vecCol: String, isBench: Column,
      nCells: Int, minScore: Double, scale: Int = 6
  ): DataFrame = {
    import graft.functions.VectorFunctions.cosineSimilarity
    require(!emb.columns.exists(Set("_bench", "cell")),
      "input already has a _bench/cell column (would be clobbered)")
    val cents = AnnIvf.centroids(emb, idCol, vecCol, nCells)
    val assigned = AnnIvf.assign(emb, idCol, vecCol, cents)
      .select(col("cell"), col(idCol), col(vecCol), isBench.as("_bench"))
    val t = assigned.filter(!col("_bench"))
    val b = assigned.filter(col("_bench"))
    t.as("t").join(broadcast(b.as("b")), col("t.cell") === col("b.cell"))
      .select(col(s"t.$idCol").as("train_id"),
        col(s"b.$idCol").as("bench_id"),
        round(cosineSimilarity(col(s"t.$vecCol"), col(s"b.$vecCol")), scale)
          .as("score"))
      .filter(col("score") >= minScore)
      .groupBy("train_id")
      .agg(count(lit(1)).as("n_bench_hits"), max("score").as("max_score"))
  }

  /** Semantic-dedup survivors: a row is dropped iff some SAME-CELL row
    * with a smaller id is at least `minScore` cosine-similar to it
    * (the deterministic "keep the lowest-id exemplar" rule; one
    * left_anti against the [[semanticPairs]] `id_b` side). Dropping is
    * deterministic and the smallest id of every similar group always
    * survives. (Re-running on the survivor set is NOT guaranteed to be
    * a fixed point: the deterministic centroid pick shifts with the
    * id set, which can re-cell borderline pairs.)
    */
  def semanticSurvivors(
      emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int, minScore: Double,
      maxCellSize: Int = Int.MaxValue
  ): DataFrame = {
    val dropIds = semanticPairs(emb, idCol, vecCol, nCells, minScore,
        maxCellSize = maxCellSize)
      .select(col("id_b").as(idCol)).distinct()
    emb.join(dropIds, Seq(idCol), "left_anti")
  }

  // ---- exact substring-span dedup (ExactSubstr, Spark-native) ---------

  /** Every k-token window of every doc with its 1-based start position:
    * `(doc, s, wh)`, `wh` = md5 of the space-joined window. The string
    * itself is dropped BEFORE any shuffle — md5 is a fixed 32-char key
    * (collision-free in practice), so the window-frequency exchange moves
    * bounded-width keys instead of arbitrary-length text. Windows keep
    * duplicates and positions (unlike [[shingles]], which is a distinct
    * SET per doc): position is what span reconstruction needs.
    */
  def tokenWindows(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 2, s"window width must be >= 2 tokens, got $k")
    val toks = TextFunctions.tokens(col(textCol))
    // sequence(1, n) is DESCENDING for n < 1 — guard short docs to an
    // empty window list instead
    val wins = when(size(toks) < k, array().cast("array<struct<s:int,w:string>>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - k + 1),
        i => struct(i.as("s"), array_join(slice(toks, i, lit(k)), " ").as("w"))))
    graft.util.Scans.fanOut(df, col(idCol))
      .select(col(idCol).as("doc"), explode(wins).as("win"))
      // r13 (guide §4 cheap expressions): the window key is xxhash64
      // (one codegen'd long) instead of md5 (a 32-char hex string
      // allocation per window) — `wh` is INTERNAL to the span family
      // (grouping/join key only, never output; the oracle mirrors
      // derive spans from their own window dictionary, and span sets
      // are invariant under any injective window hash), so the cheaper
      // hash narrows the heaviest per-row stage ~4x AND shrinks every
      // window shuffle row from 32+ bytes to 8.
      .select(col("doc"), col("win.s").cast("long").as("s"),
        xxhash64(col("win.w")).as("wh"))
  }

  /** Window hashes appearing in at least `minDocs` DISTINCT docs:
    * `(wh, n_docs)`. Map-side-combinable two-phase distinct-count on the
    * window key; the output is the (small) duplicated-window dictionary,
    * never the corpus.
    */
  def duplicatedWindows(wins: DataFrame, minDocs: Int): DataFrame =
    wins.groupBy("wh")
      .agg(countDistinct(col("doc")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Maximal duplicated token spans per doc — the exact-substring dedup
    * of Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (arXiv:2107.06499), re-expressed for Spark. Their suffix
    * array is a single-machine structure; the Spark-native equivalent is
    * windowed hashing: a k-token window shared by >= `minDocs` docs marks
    * its tokens duplicated, and overlapping-or-adjacent duplicated
    * windows (start gap <= k) merge into one maximal span via
    * gaps-and-islands. Returns `(doc, span_start, span_end, n_windows)`,
    * token positions 1-based inclusive.
    *
    * Scale shape: three keyed exchanges and NO pair join — window-hash
    * groupBy (partial-agg combinable), hash-dictionary equi-join back
    * (output <= window count: each window matches at most one dictionary
    * row — a boilerplate window in 10^8 docs is ONE dictionary row, so
    * there is no hot-key pair blowup to cap, unlike [[jaccardPairs]]),
    * then a per-doc sort window already co-partitioned with the island
    * aggregation. Every stage is linear in corpus size.
    */
  def duplicatedSpans(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, minDocs: Int = 2
  ): DataFrame = {
    val wins = tokenWindows(df, idCol, textCol, k)
    val dup  = duplicatedWindows(wins, minDocs).select("wh")
    spanIslands(wins.join(dup, "wh").select("doc", "s"), k)
  }

  /** Span flagging against a PRECOMPUTED duplicated-window dictionary
    * (`wh` column): the incremental form of [[duplicatedSpans]] — the
    * dictionary is the batch-maintained corpus artifact (exactly
    * [[duplicatedWindows]]' output), and the docs in `df` are checked
    * against it without re-deriving it. Per-doc-LOCAL given the
    * dictionary: one doc's spans depend only on its own windows plus the
    * static dictionary, which is what makes this the streaming-safe
    * shape ([[graft.streaming.StreamingIngest.runSpanFlagStreamOnce]]
    * runs it per micro-batch with exact, not approximate, semantics).
    * Returns the same `(doc, span_start, span_end, n_windows)` schema.
    */
  def spansAgainstDictionary(
      df: DataFrame, idCol: String, textCol: String,
      dictionary: DataFrame, k: Int
  ): DataFrame = {
    val wins = tokenWindows(df, idCol, textCol, k)
    spanIslands(wins.join(dictionary.select("wh"), "wh").select("doc", "s"), k)
  }

  /** Gaps-and-islands merge of duplicated-window hits `(doc, s)` into
    * maximal spans: overlapping-or-adjacent starts (gap <= k) fuse. The
    * per-doc sort window is co-partitioned with the island aggregation
    * (both keyed on doc) — one exchange serves both.
    */
  private def spanIslands(hits: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc").orderBy("s")
    hits
      .withColumn("new_span",
        when(col("s") - lag("s", 1).over(byDoc) <= k, lit(0)).otherwise(lit(1)))
      .withColumn("span_id", sum("new_span").over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc"), col("span_id"))
      .agg(min(col("s")).as("span_start"),
        (max(col("s")) + (k - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select("doc", "span_start", "span_end", "n_windows")
  }

  /** Keep-ONE-copy variant of [[duplicatedSpans]] — Lee et al.'s actual
    * dedup policy (arXiv:2107.06499 §4: of each duplicated substring,
    * one occurrence is kept). Every duplicated window ELECTS its
    * canonical occurrence — the lexicographic min (doc, s) pair, one
    * tiny aggregate on the window-hash key — and only the NON-canonical
    * occurrences feed the span merge, so cutting the returned spans
    * leaves exactly one copy of each duplicated window in the corpus.
    *
    * The remove-all form ([[duplicatedSpans]]) needs no election and
    * stays fully per-doc-local after the dictionary join; this form adds
    * ONE column (the canonical occurrence) to the same dictionary — the
    * join shape, and therefore the scale story, is unchanged: no pair
    * join, dictionary rows <= distinct duplicated windows.
    *
    * Overlap caveat (documented on the oracle too): the canonical
    * occurrence of window W is never itself a cut trigger, but a
    * DIFFERENT duplicated window overlapping W in the same doc can still
    * cut tokens the two share — the same interaction byte-range cutting
    * has in the reference implementation.
    */
  def duplicatedSpansKeepOne(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, minDocs: Int = 2
  ): DataFrame = {
    val wins = tokenWindows(df, idCol, textCol, k)
    val dupCanon = wins.groupBy("wh")
      .agg(countDistinct(col("doc")).as("n_docs"),
        min(struct(col("doc"), col("s"))).as("canon"))
      .filter(col("n_docs") >= minDocs)
      .select(col("wh"), col("canon.doc").as("c_doc"), col("canon.s").as("c_s"))
    val hits = wins.join(dupCanon, "wh")
      .filter(!(col("doc") === col("c_doc") && col("s") === col("c_s")))
      .select("doc", "s")
    spanIslands(hits, k)
  }

  /** Per-doc scrub accounting over [[duplicatedSpans]]: how much of each
    * doc is corpus-duplicated text. `(doc, total_tokens, dup_tokens,
    * n_spans, dup_frac)`; docs with no duplicated span report zeros, docs
    * shorter than k tokens can never have one. The downstream decision —
    * cut the spans out vs drop high-`dup_frac` docs wholesale — is the
    * pipeline's policy choice; this is the measurement.
    */
  /** The scrubbed corpus: each doc's text with every duplicated span cut
    * out (tokens re-joined on single spaces — the tokenizer's whitespace
    * normalization is already lossy, and the k>=minDocs window guarantee
    * means nothing under k tokens is ever removed). Removes ALL
    * occurrences of a duplicated span, not all-but-one: keeping exactly
    * one copy would need a global "who keeps it" election across docs,
    * while remove-everywhere is per-doc-local (embarrassingly parallel)
    * and deterministic — the doc-level survivor operators (q37) are the
    * path that preserves one canonical copy of shared content.
    *
    * Shape: [[duplicatedSpans]] collapsed to one small span array per
    * doc, one doc-keyed join back, then a codegen'd index-aware HOF
    * filter over the token array — no token-level explode.
    */
  def scrubSpans(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, minDocs: Int = 2
  ): DataFrame = {
    val perDoc = duplicatedSpans(df, idCol, textCol, k, minDocs)
      .groupBy("doc")
      .agg(collect_list(struct(col("span_start").as("ss"),
        col("span_end").as("se"))).as("sps"))
    val toks = TextFunctions.tokens(col(textCol))
    val sps  = coalesce(col("sps"), array().cast("array<struct<ss:long,se:long>>"))
    df.select(col(idCol).as("doc"), col(textCol))
      .join(perDoc, Seq("doc"), "left")
      .select(col("doc"),
        array_join(
          filter(toks, (t, i) => !exists(sps, sp =>
            (i + 1) >= sp.getField("ss") && (i + 1) <= sp.getField("se"))),
          " ").as("clean_text"))
  }

  def spanScrubStats(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, minDocs: Int = 2
  ): DataFrame = {
    val per = duplicatedSpans(df, idCol, textCol, k, minDocs)
      .groupBy("doc")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_end") - col("span_start") + 1).as("dup_tokens"))
    val totals = df.select(col(idCol).as("doc"),
      size(TextFunctions.tokens(col(textCol))).cast("long").as("total_tokens"))
    totals.join(per, Seq("doc"), "left")
      .select(col("doc"), col("total_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double")
          / col("total_tokens"), 6).as("dup_frac"))
  }
}
