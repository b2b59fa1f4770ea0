package graft.queries

import graft.Tables
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ingestion-pipeline + orchestration coverage (SURVEY.md §2 P1/P2, S5,
  * X2, plus events-stream analytics): fixed-stride chunking, reference id
  * generation, upsert-by-id last-wins, retrieval context formatting,
  * sessionization, JSON extraction.
  */
object PipelineQueries {

  private def duckCosine(a: String, b: String): String = DuckSql.cosine(a, b)

  /** `doc_id` of the first `n` documents, fanned out: the keys the
    * synthetic media generators expand into images, clips and videos. */
  private[queries] def mediaIds(s: SparkSession, d: String, n: Int): DataFrame =
    graft.util.Scans.fanOut(
      Tables.documents(s, d).filter(col("doc_id") < n).select("doc_id"), col("doc_id"))

  /** Sparse part↔supplier bipartite graph for q4W/q4X: rare
    * (quantity ≥ 49) lineitems as edges, suppliers offset by 10^6 into
    * an id space disjoint from parts.
    */
  private def rareBipartite(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 49)
      .select(col("l_partkey").as("src"),
        (col("l_suppkey") + lit(1000000L)).as("dst"))

  /** The q4V/q0T oracles' shared SCD2 dimension CTEs (same-ts dedup by
    * highest orderkey, null-safe run collapse) — emits
    * `dim(cust_key, priority, valid_from)`.
    */
  private[queries] val duckScd2Dim: String =
    """ch AS (
      |  SELECT o_custkey AS cust_key, epoch_us(o_orderdate) AS ts_us,
      |    o_orderpriority AS priority,
      |    row_number() OVER (PARTITION BY o_custkey, o_orderdate
      |                       ORDER BY o_orderkey DESC) AS rn
      |  FROM orders),
      |u AS (SELECT cust_key, ts_us, priority FROM ch WHERE rn = 1),
      |c AS (
      |  SELECT cust_key, ts_us, priority,
      |    (priority IS DISTINCT FROM lag(priority) OVER
      |      (PARTITION BY cust_key ORDER BY ts_us)) OR
      |    row_number() OVER (PARTITION BY cust_key ORDER BY ts_us) = 1
      |      AS chg
      |  FROM u),
      |dim AS (SELECT cust_key, priority, ts_us AS valid_from
      |        FROM c WHERE chg)""".stripMargin

  /** The q4W/q4X oracle's shared graph CTEs: undirected simple edges,
    * node set, and the bidirected-with-self-loops table that makes each
    * HashMin/BFS round ONE join+aggregate referencing its predecessor
    * exactly once (multiply-referenced recurrent CTEs inline
    * exponentially in DuckDB — see the q4T comment).
    * `bi0` is the plain bidirected table (label propagation votes over
    * neighbors only); `bi` adds the self-loops (HashMin/BFS combine
    * self with neighbors).
    */
  private val duckBipartiteGraph: String =
    """e0 AS (
      |  SELECT DISTINCT least(l_partkey, l_suppkey + 1000000) AS a,
      |    greatest(l_partkey, l_suppkey + 1000000) AS b
      |  FROM lineitem WHERE l_quantity >= 49),
      |und AS (SELECT a, b FROM e0 WHERE a < b),
      |nodes AS (SELECT a AS node FROM und UNION SELECT b FROM und),
      |bi0 AS (SELECT a AS src, b AS dst FROM und
      |        UNION ALL SELECT b, a FROM und),
      |bi AS (SELECT src, dst FROM bi0
      |       UNION ALL SELECT node, node FROM nodes)""".stripMargin

  /** CDC chunk CTEs shared by the q4D and q4E oracles: boundary
    * positions by the gear predicate, final-token close, chunk
    * assembly; emits `x(doc_id, chunk_idx, chunk_text)`.
    */
  private val duckCdcChunkCtes: String =
    s"""base AS (SELECT doc_id, ${DuckSql.toks} AS t FROM documents),
       |b AS (SELECT doc_id, t,
       |  [i for i in range(1, len(t)+1)
       |   if (${DuckSql.hexValue("md5(t[i])", 1, 8)}) % 16 = 0] AS bp
       |  FROM base),
       |e AS (SELECT doc_id, t,
       |  CASE WHEN len(bp) > 0 AND bp[-1] = len(t) THEN bp
       |       ELSE list_append(bp, len(t)) END AS ends
       |  FROM b),
       |ch AS (SELECT doc_id,
       |  [array_to_string(t[(CASE WHEN j = 1 THEN 1 ELSE ends[j-1]+1 END):ends[j]], ' ')
       |   for j in range(1, len(ends)+1)] AS chunks
       |  FROM e),
       |x AS (SELECT doc_id,
       |  CAST(generate_subscripts(chunks, 1) - 1 AS INT) AS chunk_idx,
       |  unnest(chunks) AS chunk_text
       |  FROM ch)""".stripMargin

  /** Recursive-chunker CTE fragment shared by the q50 and q52 oracles:
    * word prefix-sum offsets, then a recursion over CHUNK boundaries
    * (see the q50 oracle comment for why this is exact on these
    * fixtures). Emits `tok`, `words`, `ends`, `walk(doc_id, ck,
    * jstart_s, jend, jend_s)`; wrap in WITH RECURSIVE.
    */
  private[queries] val duckChunkWalk: String =
    """tok AS (
      |  SELECT doc_id, t.i AS i,
      |         len(t.w) + CASE WHEN t.i = 1 THEN 0 ELSE 1 END AS l
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |               generate_subscripts(string_split(text, ' '), 1) AS i
      |        FROM documents) t),
      |words AS (
      |  SELECT doc_id, i, sum(l) OVER (PARTITION BY doc_id ORDER BY i) AS s
      |  FROM tok),
      |ends AS (SELECT doc_id, max(i) AS n FROM words GROUP BY doc_id),
      |walk(doc_id, ck, jstart_s, jend, jend_s) AS (
      |  SELECT doc_id, 1, 0, max(i), max(s)
      |  FROM words WHERE s <= 500 GROUP BY doc_id
      |  UNION ALL
      |  SELECT t.doc_id, t.ck + 1, t.ns, max(y.i), max(y.s)
      |  FROM (
      |    SELECT w.doc_id, w.ck, min(x.s) AS ns
      |    FROM walk w
      |    JOIN ends e ON e.doc_id = w.doc_id AND w.jend < e.n
      |    JOIN words x ON x.doc_id = w.doc_id AND x.s >= w.jend_s - 50
      |    GROUP BY w.doc_id, w.ck) t
      |  JOIN words y ON y.doc_id = t.doc_id AND y.s - t.ns <= 500
      |  GROUP BY t.doc_id, t.ck, t.ns)""".stripMargin

  /** DuckDB mirror of `DeterministicEmbedder(64, seed = 42)` (see
    * `graft/embed/Embedder.scala:31`): for each trigram of the
    * already-wrapped `etext` ('^'+lower(text)+'$'), the scala
    * `MurmurHash3.stringHash` of a 3-char string is
    * `finalizeHash(mixLast(mix(seed, (c0<<16)+c1), c2), 3)`; component
    * bucket = `h & 63` (floorMod == unsigned mask because 64 divides
    * 2^32), sign = top bit clear ? +1 : -1; bucket sums (exact small
    * integers) are L2-normalized with float32 rounding at the end,
    * exactly like the Scala loop. Emits `<pfx>vecs(keys..., vec)` from
    * `src(keys..., etext)`.
    */
  private[queries] def duckTrigramEmbed(pfx: String, src: String, keys: Seq[String]): String = {
    val k  = keys.mkString(", ")
    val gk = keys.map("g." + _).mkString(", ")
    val mj = keys.map(c => s"m.$c = g.$c").mkString(" AND ")
    val xj = keys.map(c => s"x.$c = g.$c").mkString(" AND ")
    s"""${pfx}tri AS (
       |  SELECT $k, CAST(unnest(range(1, len(etext) - 1)) AS INT) AS i,
       |         etext AS t
       |  FROM $src),
       |${pfx}ch AS (
       |  SELECT $k, i, ascii(substr(t, i, 1)) AS c0,
       |         ascii(substr(t, i + 1, 1)) AS c1,
       |         ascii(substr(t, i + 2, 1)) AS c2
       |  FROM ${pfx}tri),
       |${pfx}mh AS (SELECT $k, i,
       |  ${DuckSql.murmurMixLast(DuckSql.murmurMix("42::BIGINT", "((c0 << 16) + c1)"), "c2")} AS h
       |  FROM ${pfx}ch),
       |${DuckSql.murmurFinalizeCtes(s"${pfx}fin", s"${pfx}mh", "h", 3, s"$k, i", "f")},
       |${pfx}sums AS (
       |  SELECT $k, f & 63 AS b,
       |         sum(CASE WHEN ((f >> 31) & 1) = 0 THEN 1 ELSE -1 END) AS s
       |  FROM ${pfx}fin GROUP BY ALL),
       |${pfx}ss AS (
       |  SELECT $k, sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) AS ss
       |  FROM ${pfx}sums GROUP BY ALL),
       |${pfx}grid AS (
       |  SELECT ${keys.map("x." + _).mkString(", ")}, b.b AS b
       |  FROM (SELECT DISTINCT $k FROM $src) x, range(0, 64) b(b)),
       |${pfx}vecs AS (
       |  SELECT $gk,
       |         list(CASE WHEN x.ss > 0
       |              THEN CAST(CAST(coalesce(m.s, 0) AS DOUBLE)
       |                        * (1.0 / sqrt(x.ss)) AS REAL)
       |              ELSE CAST(0.0 AS REAL) END ORDER BY g.b) AS vec
       |  FROM ${pfx}grid g
       |  LEFT JOIN ${pfx}sums m ON $mj AND m.b = g.b
       |  LEFT JOIN ${pfx}ss x ON $xj
       |  GROUP BY ALL)""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P1 (SQL-expressible form): fixed-size/stride chunking as a 1→N
    // generator — stride 80, window 100 (recursive-splitter parity lives
    // in graft.ingest.Chunker with its own golden tests).
    "q40_chunk_fixed" -> { (s, d) =>
      // empty texts are excluded on BOTH sides: Spark's sequence(0,-1)
      // counts DOWN ([0,-1]) while DuckDB's range(0,0) is empty, so an
      // empty doc would otherwise diverge (and emit a bogus chunk)
      Tables.documents(s, d)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0),
            floor((length(col("text")) - 1) / lit(80)).cast("int"))).as("chunk_index"))
        .select(
          col("doc_id"), col("chunk_index"),
          col("text").substr(col("chunk_index") * 80 + 1, lit(100)).as("chunk_text")
        )
        .withColumn("chunk_len", length(col("chunk_text")))
        .orderBy("doc_id", "chunk_index")
    },

    // P2: deterministic reference id scheme doc_{i}_{md5[:8]}
    // (scripts/ingest_documents.py:93-105).
    "q41_doc_ids" -> { (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          concat(lit("doc_"), col("doc_id"), lit("_"),
            substring(md5(col("text")), 1, 8)).as("id")
        )
        .orderBy("doc_id")
    },

    // S5: upsert-by-id last-wins (Pinecone upsert semantics,
    // app/services/pinecone_service.py:108-146) as union + window dedup.
    "q42_upsert_last_wins" -> { (s, d) =>
      val v0 = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), lit(0).as("version"))
      val v1 = Tables.documents(s, d)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), upper(col("text")).as("text"), lit(1).as("version"))
      val w = Window.partitionBy("doc_id").orderBy(col("version").desc)
      v0.unionByName(v1)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("version"),
          substring(col("text"), 1, 40).as("head"))
        .orderBy("doc_id")
    },

    // X2: retrieval-context formatting — top-5 matches for query vec 0
    // rendered "[Document i] (Source: vec_{id}, Relevance: {bp})" and
    // joined with newlines in pinned rank order.
    "q43_context_format" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      // reduce FIRST via orderBy+limit (TakeOrderedAndProject: per-
      // partition heaps, no global sort/shuffle of the corpus); the rank
      // of each surviving row is its index in the sorted collected array,
      // so no WindowExec (a windowless global row_number would drag the
      // plan onto a single partition) — the ≤5 survivors are one agg row.
      val top = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          round(cosineSimilarity(col("embedding"), col("qvec")), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(5)
      top
        .agg(concat_ws("\n",
          transform(
            array_sort(collect_list(struct(
              (-col("score")).as("neg_score"), col("vec_id"), col("score")))),
            (t, i) => concat(
              lit("[Document "), (i + 1).cast("string"),
              lit("] (Source: vec_"), t.getField("vec_id"),
              lit(", Relevance: "),
              floor(t.getField("score") * 10000).cast("long"), lit(")")
            ))).as("context"))
    },

    // Sliding (overlapping) time windows — each event lands in four
    // 1-hour windows sliding by 15 min; the batch twin of the streaming
    // windowed aggregation, oracle-mirrored by explicit window-start
    // arithmetic.
    "q48_sliding_windows" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
        .select(col("window.start").as("win_start"),
          col("window.end").as("win_end"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("win_start", "event_type")
    },

    // Sessionization over the events stream (gap > 10 min ⇒ new session)
    // — the batch form of stateful streaming session windows.
    "q44_sessionize" -> { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("gap_us",
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_s",
          when(col("gap_us") > 600L * 1000000L, 1).otherwise(0))
        .groupBy("user_id")
        .agg((sum("new_s") + 1).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },

    // Bounded rolling frame: 4-hour moving average of hourly totals per
    // event type (ROWS BETWEEN 3 PRECEDING AND CURRENT ROW — the frame
    // kind q0I's unbounded cumsum doesn't cover). Hourly values rounded
    // BEFORE the frame average so both engines aggregate identical
    // doubles in identical frame order.
    "q4A_rolling_avg" -> { (s, d) =>
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(round(sum("value"), 2).as("v"))
      val w = Window.partitionBy("event_type").orderBy("hour")
        .rowsBetween(-3, Window.currentRow)
      hourly
        .withColumn("avg4h", round(avg("v").over(w), 4))
        .orderBy("event_type", "hour")
    },

    // Lead/lag analytics: inter-event gap per user (lag over a per-user
    // ordered window), aggregated into per-type gap statistics. Gap math
    // stays in integer microseconds; the average divides an exact integer
    // sum so both engines round the same double.
    "q49_event_gaps" -> { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("gap_us",
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("gap_us").isNotNull)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_gaps"),
          round(sum("gap_us").cast("double") / count(lit(1)) / lit(1000000.0), 6)
            .as("avg_gap_s"),
          max("gap_us").as("max_gap_us"))
        .orderBy("event_type")
    },

    // O2 + X3 oracle-checked: batch chat-history contextualization —
    // histories synthesized per source from the documents table (turn
    // order pinned by doc_id), last-3 turns flattened and prefixed to the
    // current question exactly like the reference (chain.py:144-151).
    // The last-3 cut happens BEFORE the collect (row_number window, one
    // exchange shared with the groupBy): the per-source buffer really
    // holds <= 3 turns, so a 10M-turn conversation costs 3 structs, not
    // a post-collect slice over 10M — the cap PlanAuditSpec asserts
    // structurally (the _rn <= 3 filter must sit under the collect).
    "q55_chat_contextualize" -> { (s, d) =>
      import graft.rag.ChatHistory
      import org.apache.spark.sql.expressions.Window
      val turns = Tables.documents(s, d)
        .filter(col("doc_id") < 100)
        .select(col("source"), col("doc_id"),
          concat(lit("What is in doc "), col("doc_id").cast("string"), lit("?"))
            .as("question"),
          substring(col("text"), 1, 30).as("answer"))
      val wLast = Window.partitionBy("source").orderBy(col("doc_id").desc)
      val last3 = turns
        .withColumn("_rn", row_number().over(wLast))
        .filter(col("_rn") <= 3)
        .drop("_rn")
      val hist = last3.groupBy("source")
        .agg(transform(
          array_sort(collect_list(struct(col("doc_id"), col("question"), col("answer")))),
          t => struct(t.getField("question").as("question"),
            t.getField("answer").as("answer"))).as("history"))
      hist.select(col("source"),
          ChatHistory.contextualize(lit("What changed?"), col("history")).as("prompt"))
        .orderBy("source")
    },

    // P1 (real form, rows-only oracle): the recursive character splitter
    // with the reference's 500/50 config — not SQL-expressible; parity is
    // covered by ChunkerSpec goldens.
    "q50_chunk_recursive" -> { (s, d) =>
      val docs = graft.util.Scans.fanOut(Tables.documents(s, d), col("doc_id"))
      val chunked = new graft.ingest.Chunker(500, 50).chunk(docs, "text")
      chunked.select(col("doc_id"), col("chunk_index"),
          col("chunk_text"), length(col("chunk_text")).as("chunk_len"))
        .orderBy("doc_id", "chunk_index")
    },

    // E1 (rows-only oracle): distributed deterministic embedding via
    // mapPartitions with batch-32 grouping.
    "q51_embed_documents" -> { (s, d) =>
      val embedded = graft.embed.EmbedOps.embedText(
        graft.util.Scans.fanOut(
          Tables.documents(s, d).select("doc_id", "text"), col("doc_id")),
        "text", new graft.embed.DeterministicEmbedder(64))
      // c0 (first component) pins the murmur-trigram hash math in the
      // oracle — norm alone is ~1.0 for every non-empty doc
      embedded.select(col("doc_id"), size(col("embedding")).as("dim"),
          round(graft.functions.VectorFunctions.l2Norm(col("embedding")), 4).as("norm"),
          round(element_at(col("embedding"), 1).cast("double"), 6).as("c0"))
        .orderBy("doc_id")
    },

    // L3 (rows-only oracle): end-to-end RAG retrieval — chunk, embed,
    // score against a question embedding, top-5.
    "q52_rag_retrieve" -> { (s, d) =>
      graft.rag.RagChain.flagship(s, d)
    },

    // Multimodal pipeline in the registry (rows-only): text bytes stand
    // in for media payloads; the binary column flows through the
    // partition-batched decode/featurize kernel (STUB codec — the Spark
    // plumbing is what's under test) into per-source feature stats.
    "q54_media_features" -> { (s, d) =>
      import graft.multimodal.Multimodal
      val media = graft.util.Scans.fanOut(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"), col("source"),
          encode(col("text"), "UTF-8").as("content"))
      val feat = Multimodal.decodeAndFeaturize(media,
        new Multimodal.StubImageDecoder(16))
      feat.groupBy("source")
        .agg(
          count(lit(1)).as("n_media"),
          sum(when(col("decode_ok"), 1).otherwise(0)).as("n_decoded"),
          round(avg(col("meta.width").cast("double")), 2).as("avg_width"),
          round(avg(element_at(col("features"), 1).cast("double")), 6).as("avg_f0"))
        .orderBy("source")
    },

    // REAL image decode, oracle-gated: deterministic PNG test patterns
    // (geometry and pixels closed-form in doc_id — see
    // Multimodal.syntheticPngs) are ENCODED with ImageIO, then DECODED
    // back by the real ImageIoDecoder; the oracle replays the formula
    // without ever touching a codec. PNG is lossless, so decoded channel
    // sums are integer-exact — any decoder regression (geometry, channel
    // order, color management) breaks the hash. 50 images cover all 9x9
    // (width, height) classes.
    "q56_image_decode" -> { (s, d) =>
      import graft.multimodal.Multimodal
      val ids = mediaIds(s, d, 50)
      val decoded = Multimodal.decodeAndFeaturize(
        Multimodal.syntheticPngs(ids, "doc_id"), new Multimodal.ImageIoDecoder)
      decoded.select(
          col("doc_id"),
          col("meta.width").as("width"),
          col("meta.height").as("height"),
          col("meta.channels").as("channels"),
          col("meta.format").as("format"),
          col("decode_ok"),
          element_at(col("features"), 1).cast("long").as("sum_r"),
          element_at(col("features"), 2).cast("long").as("sum_g"),
          element_at(col("features"), 3).cast("long").as("sum_b"),
          element_at(col("features"), 4).cast("long").as("n_px"))
        .orderBy("doc_id")
    },

    // Perceptual-hash image dedup, oracle-gated end to end: the q56
    // PNG patterns are gradient images, so every doc_id in the same
    // (width, height) class thresholds to the IDENTICAL 64-bit aHash
    // (adding a constant to all cells never crosses the integer
    // v·64 > Σv mean test when no mod-256 wrap occurs — doc_id < 50
    // keeps every pixel < 82). Exact groupBy on (hi, lo) collapses 50
    // real decoded images into the 9 dimension classes; the oracle
    // recomputes every bit from the pixel formula without a codec.
    "q5G_image_phash" -> { (s, d) =>
      import graft.multimodal.Multimodal
      val ids = mediaIds(s, d, 50)
      Multimodal.aHash(Multimodal.syntheticPngs(ids, "doc_id"))
        .filter(col("ahash_ok"))
        .groupBy("phash_hi", "phash_lo")
        .agg(count(lit(1)).as("n_images"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("min_doc")
    },

    // Image NEAR-duplicate detection, oracle-gated end to end: spiked
    // 16×16 PNG families (closed-form aHash = the spike mask — see
    // syntheticSpikedPngs) are decoded and hashed by the REAL
    // ImageIO→aHash path, then paired by the 4×16-bit pigeonhole band
    // join + full-hamming verify. Variants 1–2 bits from their group's
    // base collide (distances 1 and 2); the 8-bit-flipped variant and
    // every cross-group image (hamming ≈ 32) must NOT. The oracle
    // replays mask, banding-free quadratic distance, and threshold
    // arithmetically — blocking is a plan choice, not semantics.
    "q5H_image_near_dup" -> { (s, d) =>
      import graft.multimodal.Multimodal
      val ids = mediaIds(s, d, 200)
      val hashed = Multimodal.aHash(Multimodal.syntheticSpikedPngs(ids, "doc_id"))
        .filter(col("ahash_ok"))
      Multimodal.imageNearDupPairs(hashed, "doc_id", maxDist = 3)
        .orderBy("doc_a", "doc_b")
    },

    // q5H with the hot-bucket cap live (the q33/q3C pairing applied to
    // image banding): (band, key) buckets over 3 members drop wholesale
    // before the pair self-join — the guard against flat-color
    // boilerplate images minting O(size²) candidates at corpus scale.
    // The 200-image fixture has a size-4 bucket (a spiked family plus a
    // 16-bit collision), so the cap drops real candidates here; the
    // oracle replays banding + cap from the closed-form masks instead
    // of q5H's banding-free quadratic distance — with a cap, blocking
    // IS semantics, not just a plan choice.
    "q5M_image_near_dup_capped" -> { (s, d) =>
      import graft.multimodal.Multimodal
      val ids = mediaIds(s, d, 200)
      val hashed = Multimodal.aHash(Multimodal.syntheticSpikedPngs(ids, "doc_id"))
        .filter(col("ahash_ok"))
      Multimodal.imageNearDupPairs(hashed, "doc_id", maxDist = 3,
          maxBucketSize = 3)
        .orderBy("doc_a", "doc_b")
    },

    // Packed training-shard sink end-to-end: the corpus tokenizes,
    // routes to 8 shards in the q6C deterministic order, and PACKS to
    // real binary files (int32-LE length-prefixed token records) under
    // a scratch dir; the query re-reads the REAL bytes, rebuilds the
    // manifest from them, and emits manifest + roundtrip flag — so the
    // hash gate proves byte-deterministic round-trip, and the oracle
    // rebuilds the same manifest arithmetically (hex-encoded records
    // string-aggregated in pos order, md5'd) with roundtrip pinned
    // true. Executor-side streaming write: no collect, no per-group
    // buffer, parallelism = shard count.
    "q5N_packed_shards" -> { (s, d) =>
      import graft.pipeline.ShardSink
      val dir = graft.util.TempDirs.scratch("graft-shards-")
      val written = ShardSink.writeShards(Tables.documents(s, d),
          "doc_id", "text", nShards = 8, seed = 11, outDir = dir)
        .toDF().localCheckpoint() // EXECUTES the pack before the re-read lists files
      val reread = ShardSink.readManifests(s, dir).toDF()
        .select(col("shard"), col("n_docs").as("r_docs"),
          col("n_tokens").as("r_tokens"), col("byte_size").as("r_bytes"),
          col("content_md5").as("r_md5"))
      written.join(reread, Seq("shard"), "full")
        .select(col("shard"), col("n_docs"), col("n_tokens"),
          col("byte_size"), col("content_md5"),
          (col("n_docs") === col("r_docs") &&
            col("n_tokens") === col("r_tokens") &&
            col("byte_size") === col("r_bytes") &&
            col("content_md5") === col("r_md5")).as("roundtrip"))
        .orderBy("shard")
    },

    // Image near-dup CLUSTERS: the q36 dedup-pipeline end-game for
    // images — q5H's verified pairs feed HashMin connected components
    // (3 synchronous rounds; the spiked families are triangles, so any
    // round count >= 1 converges, and the fixed-round replay is exact
    // either way) and every clustered image gets its component's min
    // doc_id as the canonical representative: "keep cluster, drop the
    // rest" is then one filter. Singletons (never paired) are absent,
    // exactly like q36's clustered-docs contract.
    "q5I_image_near_dup_clusters" -> { (s, d) =>
      import graft.multimodal.Multimodal
      import graft.operators.Graph
      val ids = mediaIds(s, d, 200)
      val hashed = Multimodal.aHash(Multimodal.syntheticSpikedPngs(ids, "doc_id"))
        .filter(col("ahash_ok"))
      val pairs = Multimodal.imageNearDupPairs(hashed, "doc_id", maxDist = 3)
      Graph.hashMinComponents(pairs, "doc_a", "doc_b", iters = 3)
        .select(col("node").as("doc_id"), col("comp").as("cluster"))
        .orderBy("doc_id")
    },

    // VIDEO perceptual-fingerprint dedup, oracle-gated through the REAL
    // pipeline: RIFF/AVI demux → every-2nd-frame DIB decode → per-frame
    // aHash → the video's fingerprint is its frame-hash list in frame
    // order → exact groupBy = video dedup classes (the q5G shape
    // lifted to containers). The sampler's (stride 2, maxFrames 3)
    // makes the sampled indices the CONSTANTS {0, 2, 4}, so the
    // fingerprint assembles from three max(when(frame_index = i))
    // slots — per-group state is three strings by construction (no
    // collect buffer; concat_ws skips the missing-frame NULLs).
    // 50 real videos collapse to the 10 classes the closed-form frame
    // formula predicts; fingerprints are metadata-sized, frames never
    // shuffle.
    "q5J_video_fingerprint" -> { (s, d) =>
      import graft.multimodal.{Avi, Multimodal}
      val ids = mediaIds(s, d, 50)
      val frames = Avi.sampleFrames(
        Avi.syntheticAvis(ids, "doc_id"), stride = 2, maxFrames = 3)
      val hashed = Multimodal.aHash(frames.drop("content"),
          contentCol = "frame")
        .filter(col("ahash_ok"))
      def slot(i: Int) = max(when(col("frame_index") === i,
        format_string("%d:%d:%d",
          col("frame_index"), col("phash_hi"), col("phash_lo"))))
      val fp = hashed.groupBy("doc_id")
        .agg(concat_ws("|", slot(0), slot(2), slot(4)).as("fp"))
      fp.groupBy("fp")
        .agg(count(lit(1)).as("n_videos"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("min_doc")
        .select("fp", "n_videos", "min_doc", "max_doc")
    },

    // INCREMENTAL image near-dup (the q3A shape for pixels): a 40-image
    // incoming batch — re-renders of existing families under NEW ids —
    // against the 200-image corpus. The incoming side's bands
    // broadcast; the corpus streams and never shuffles. Each incoming
    // image surfaces its family's 1-2-bit corpus variants; 8-bit
    // variants and foreign families stay out. Oracle replays both
    // sides' masks (incoming content keyed by doc_id % 200) and the
    // quadratic cross-set distance.
    "q5L_incremental_image_dedup" -> { (s, d) =>
      import graft.multimodal.Multimodal
      val corpusIds = mediaIds(s, d, 200)
      val incomingIds = Tables.documents(s, d)
        .filter(col("doc_id") >= 200 && col("doc_id") < 240)
        .select(col("doc_id"), (col("doc_id") % 200).as("content_id"))
        .transform(graft.util.Scans.fanOut(_, col("doc_id")))
      val corpus = Multimodal.aHash(
          Multimodal.syntheticSpikedPngs(corpusIds, "doc_id"))
        .filter(col("ahash_ok"))
      val incoming = Multimodal.aHash(
          Multimodal.syntheticSpikedPngs(incomingIds, "content_id"))
        .filter(col("ahash_ok"))
      Multimodal.imageNearDupAgainstCorpus(corpus, incoming, "doc_id",
          maxDist = 3)
        .orderBy("inc_id", "corpus_id")
    },

    // q5L's near-dup screen on the BUCKETED join path (hash-equal twin):
    // same corpus, same incoming batch, but the corpus band table is
    // NOT broadcast — imageNearDupFlags(broadcastCorpus = false) pins a
    // sort-merge join on (band, key), the only shape that survives a
    // corpus whose band table exceeds executor memory (the advisor's
    // round-10 OOM finding — at 100 TB of images the 4-row-per-image
    // band table is itself TBs; pre-bucket it by (band, key) and only
    // the incoming side shuffles). MultimodalSpec asserts the plan:
    // SortMergeJoin present, zero BroadcastExchange. Output rows equal
    // q5L (flags emit each pair once from its smallest agreeing band;
    // dist is band-independent), so the oracle is q5L's verbatim.
    "q5R_image_near_dup_bucketed" -> { (s, d) =>
      import graft.multimodal.Multimodal
      val corpusIds = mediaIds(s, d, 200)
      val incomingIds = Tables.documents(s, d)
        .filter(col("doc_id") >= 200 && col("doc_id") < 240)
        .select(col("doc_id"), (col("doc_id") % 200).as("content_id"))
        .transform(graft.util.Scans.fanOut(_, col("doc_id")))
      val corpus = Multimodal.aHash(
          Multimodal.syntheticSpikedPngs(corpusIds, "doc_id"))
        .filter(col("ahash_ok"))
      val incoming = Multimodal.aHash(
          Multimodal.syntheticSpikedPngs(incomingIds, "content_id"))
        .filter(col("ahash_ok"))
      Multimodal.imageNearDupFlags(corpus, incoming, "doc_id",
          maxDist = 3, broadcastCorpus = false)
        .orderBy("inc_id", "corpus_id")
    },

    // sitemap.xml ingest (sitemaps.org core — the crawl-discovery input
    // robots.txt points at): the corpus's canonical URLs render into
    // real per-partition <urlset> files DISTRIBUTED (loc XML-escaped —
    // sitemap URLs MUST escape '&' — lastmod omitted for a quarter of
    // the groups, like real sitemaps), then the production scan reads
    // them back: wholetext → row-local regex entry explode → entity
    // decode. Output is the distinct discovered frontier; the oracle's
    // expectation is the CLOSED-FORM canonical set + lastmod from g —
    // the escape/unescape round-trip must be exact or the hash breaks.
    "q5S_sitemap_ingest" -> { (s, d) =>
      import graft.operators.{Sitemap, Url}
      val dir = graft.util.TempDirs.scratch("graft-sitemap-")
      val g = col("doc_id") % CurationQueries.UrlGroups
      // fanOut BEFORE the canonicalize projection (r12, the q6Y/q5P
      // writer fix): the old repartition sat above it, single-tasking
      // the per-row URL work
      graft.util.Scans.fanOut(
          Tables.documents(s, d).select("doc_id"), col("doc_id"))
        .select(col("doc_id"),
          Sitemap.escapeXml(Url.canonicalizeUrl(
            CurationQueries.messyUrl(col("doc_id")))).as("loc"),
          when(g % 4 === 0, lit(""))
            .otherwise(concat(lit("2024-01-"),
              lpad(((g % 28) + 1).cast("string"), 2, "0"))).as("lastmod"))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          Sitemap.writeSitemap(
            rows.map(r => (r.getString(1), r.getString(2))), dir)
        }
      Sitemap.sitemapDirectory(s, dir)
        .select("loc", "lastmod").distinct()
        .orderBy("loc")
    },

    // SITEMAP INDEX recursion over GZIPPED members — the shape real
    // sites ship at exactly the scale this engine targets: a
    // `<sitemapindex>` pointing at ≤50k-URL .xml.gz members. Same
    // corpus payload as q5S, but the members are gzipped urlsets, a
    // driver-written index references them BY URL (resolved by
    // basename against the scan — the fetch cache shape), a DECOY
    // urlset no index references must be ignored (its bogus URL would
    // break the hash), and one dangling reference to a missing member
    // must be tolerated. Oracle: q5S's verbatim closed form — the
    // index hop + gzip codec must be invisible in the output.
    "q5U_sitemap_index" -> { (s, d) =>
      import graft.operators.{Sitemap, Url}
      val dir = graft.util.TempDirs.scratch("graft-sitemap-idx-")
      val g = col("doc_id") % CurationQueries.UrlGroups
      // fanOut BEFORE the canonicalize projection (r12, the q5S note)
      graft.util.Scans.fanOut(
          Tables.documents(s, d).select("doc_id"), col("doc_id"))
        .select(col("doc_id"),
          Sitemap.escapeXml(Url.canonicalizeUrl(
            CurationQueries.messyUrl(col("doc_id")))).as("loc"),
          when(g % 4 === 0, lit(""))
            .otherwise(concat(lit("2024-01-"),
              lpad(((g % 28) + 1).cast("string"), 2, "0"))).as("lastmod"))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          Sitemap.writeSitemap(
            rows.map(r => (r.getString(1), r.getString(2))), dir,
            gzip = true)
        }
      // the decoy: a valid urlset NO index references — a crawler only
      // fetches what the index lists, so its URL must not surface
      Sitemap.writeSitemap(
        Iterator(("http://decoy.local/never-fetched", "")), dir)
      val members = {
        val s2 = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        try {
          val it = s2.iterator()
          val b = Seq.newBuilder[String]
          while (it.hasNext) {
            val n = it.next().getFileName.toString
            if (n.endsWith(".xml.gz"))
              b += s"http://corpus.local/sitemaps/$n"
          }
          b.result().sorted
        } finally s2.close()
      }
      Sitemap.writeSitemapIndex(
        members :+ "http://corpus.local/sitemaps/missing.xml.gz", dir)
      Sitemap.sitemapForest(s, dir)
        .select("loc", "lastmod").distinct()
        .orderBy("loc")
    },

    // AUDIO loudness-envelope dedup, oracle-gated through the REAL
    // RIFF/PCM16 walk: 8-window square-wave clips whose per-window
    // amplitude is closed-form in the id's family (syntheticToneWavs),
    // fingerprinted by exact windowed |sample| sums quantized against
    // the loudest window (audioEnergyFingerprint), then exact groupBy —
    // the q5J shape for audio. 50 real clips collapse to the 10
    // family envelopes; the oracle replays amplitude, quantization,
    // and grouping without parsing a byte.
    "q5K_audio_fingerprint" -> { (s, d) =>
      import graft.multimodal.Multimodal
      val ids = mediaIds(s, d, 50)
      Multimodal.audioEnergyFingerprint(
          Multimodal.syntheticToneWavs(ids, "doc_id"), windows = 8)
        .filter(col("afp_ok"))
        .groupBy("afp")
        .agg(count(lit(1)).as("n_clips"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("min_doc")
        .select("afp", "n_clips", "min_doc", "max_doc")
    },

    // REAL image resize, oracle-gated: the q56 PNG test patterns are
    // nearest-neighbor-resized to 8x8 by the real kernel (decode →
    // explicit integer-mapped pixel loop → lossless PNG re-encode),
    // the resized bytes are decoded BACK by the real decoder, and the
    // channel sums must equal the oracle's arithmetic replay of
    // v(floor(x·w/8), floor(y·h/8)) — any drift in the decode, the
    // sampling map, or the re-encode breaks the hash.
    "q5B_image_resize" -> { (s, d) =>
      import graft.multimodal.Multimodal
      val ids = mediaIds(s, d, 50)
      val resized = Multimodal.resizeNearest(
        Multimodal.syntheticPngs(ids, "doc_id"), outW = 8, outH = 8)
      val decoded = Multimodal.decodeAndFeaturize(
        resized.drop("content").withColumnRenamed("resized", "content"),
        new Multimodal.ImageIoDecoder)
      decoded.select(
          col("doc_id"),
          col("resize_ok"),
          col("meta.width").as("width"),
          col("meta.height").as("height"),
          element_at(col("features"), 1).cast("long").as("sum_r"),
          element_at(col("features"), 4).cast("long").as("n_px"))
        .orderBy("doc_id")
    },

    // REAL video frame sampling, oracle-gated: closed-form RIFF/AVI
    // containers of uncompressed DIB frames (Avi.syntheticAvis) are
    // demuxed by the real chunk-tree walker, every 2nd frame (max 3)
    // decoded from its bottom-up padded BGR bitmap into a lossless PNG,
    // and THAT is decoded back by the real ImageIO path — demux, bitmap
    // math, row padding, channel order, re-encode and decode all gated
    // by an oracle that replays the pixel formula arithmetically.
    "q5C_video_frames" -> { (s, d) =>
      import graft.multimodal.{Avi, Multimodal}
      val ids = mediaIds(s, d, 50)
      val frames = Avi.sampleFrames(
        Avi.syntheticAvis(ids, "doc_id"), stride = 2, maxFrames = 3)
      // drop the full container payload before the frame decode: every
      // exploded frame row would otherwise carry the whole AVI binary
      val decoded = Multimodal.decodeAndFeaturize(
        frames.drop("content"), new Multimodal.ImageIoDecoder,
        contentCol = "frame")
      decoded.select(
          col("doc_id"), col("frame_index"),
          col("meta.width").as("width"),
          col("meta.height").as("height"),
          col("decode_ok"),
          element_at(col("features"), 1).cast("long").as("sum_r"),
          element_at(col("features"), 4).cast("long").as("n_px"))
        .orderBy("doc_id", "frame_index")
    },

    // MJPEG AVI frame sampling, oracle-gated on geometry: synthetic
    // RIFF/AVI containers whose 'MJPG' frame chunks are REAL in-JDK-
    // encoded JPEGs (constant-gray frames, closed-form geometry) are
    // demuxed by the same chunk-tree walker as q5C, each sampled frame
    // decoded by the ImageIO JPEG reader, re-encoded PNG, and decoded
    // AGAIN by the image path — geometry and pixel-count survive the
    // lossy codec exactly, so the oracle replays them arithmetically
    // (pixel VALUES are lossy and asserted with tolerance in
    // MultimodalSpec instead).
    "q5F_mjpeg_frames" -> { (s, d) =>
      import graft.multimodal.{Avi, Multimodal}
      val ids = mediaIds(s, d, 40)
      val frames = Avi.sampleFrames(
        Avi.syntheticMjpegAvis(ids, "doc_id"), stride = 2, maxFrames = 3)
      val decoded = Multimodal.decodeAndFeaturize(
        frames.drop("content"), new Multimodal.ImageIoDecoder,
        contentCol = "frame")
      decoded.select(
          col("doc_id"), col("frame_index"),
          col("meta.width").as("width"),
          col("meta.height").as("height"),
          col("decode_ok"),
          element_at(col("features"), 4).cast("long").as("n_px"))
        .orderBy("doc_id", "frame_index")
    },

    // REAL audio decode, oracle-gated — the q56 playbook for sound:
    // deterministic PCM16 WAV clips (geometry and every sample
    // closed-form in doc_id — see Multimodal.syntheticWavs) are built as
    // real RIFF containers, then decoded back by the from-scratch
    // WavPcmDecoder (chunk walk, fmt validation, one sample scan). PCM
    // is lossless and the sums are < 2^24, so the float-carried integer
    // features are exact — the oracle replays the formula without
    // parsing a byte of RIFF; any decoder regression (endianness, chunk
    // alignment, channel interleave, sign handling) breaks the hash.
    "q58_audio_decode" -> { (s, d) =>
      import graft.multimodal.Multimodal
      val ids = mediaIds(s, d, 50)
      val decoded = Multimodal.decodeAndFeaturize(
        Multimodal.syntheticWavs(ids, "doc_id"), new Multimodal.WavPcmDecoder)
      decoded.select(
          col("doc_id"),
          col("meta.width").as("sample_rate"),
          col("meta.height").as("n_frames"),
          col("meta.channels").as("channels"),
          col("meta.format").as("format"),
          col("decode_ok"),
          element_at(col("features"), 1).cast("long").as("sum_abs"),
          element_at(col("features"), 2).cast("long").as("sum_signed"),
          element_at(col("features"), 3).cast("long").as("peak_abs"),
          element_at(col("features"), 4).cast("long").as("n_samples"))
        .orderBy("doc_id")
    },

    // Mixed-corpus directory scan, oracle-gated (graduates SURVEY S1
    // text-scan AND S3 union — previously spec-only): even doc_ids land
    // as *.txt files, odd ones as real PDFs, written DISTRIBUTED into
    // one directory; `Readers.documents` (the S3 production union of the
    // S1 wholetext scan and the S2 binaryFile+parse scan) reads the
    // whole corpus back, and every byte must hash-match the table.
    "q5A_dir_scan_union" -> { (s, d) =>
      import java.nio.file.{Files, Paths}
      import java.nio.charset.StandardCharsets.UTF_8
      val dir = graft.util.TempDirs.scratch("graft-mixed-corpus-")
      graft.util.Scans.fanOut(
          Tables.documents(s, d).select(col("doc_id"), col("text")), col("doc_id"))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          rows.foreach { r =>
            val id = r.getLong(0); val t = r.getString(1)
            if (id % 2 == 0)
              Files.write(Paths.get(dir, f"doc_$id%07d.txt"), t.getBytes(UTF_8))
            else
              Files.write(Paths.get(dir, f"doc_$id%07d.pdf"),
                graft.ingest.PdfWriter.typ0Pdf(Seq(t)))
          }
        }
      graft.ingest.Readers.documents(s, dir)
        .select(
          regexp_extract(col("source"), "doc_(\\d+)\\.(txt|pdf)$", 1)
            .cast("long").as("doc_id"),
          regexp_extract(col("source"), "doc_(\\d+)\\.(txt|pdf)$", 2).as("fmt"),
          trim(col("text")).as("page_text"))
        // r13: a localCheckpoint cut before the orderBy (the WARC-family
        // fix) was TRIED here and measured SLOWER (2.1 → 3.0 s): the
        // many-tiny-file scan yields 157 partitions whose block
        // materialization costs more than the page-cached second pass
        // the sort sampler runs. Left uncut deliberately.
        .orderBy("doc_id")
    },

    // HTML boilerplate removal, oracle-gated with GROUND TRUTH: each
    // doc is wrapped in deterministic crawl-shaped HTML (head with
    // style+script blocks whose content must vanish, attributes,
    // entities in the chrome, the text inside <p>), stripped by the
    // pure-codegen Curation.stripHtml chain, and compared against the
    // CLOSED-FORM expected string — the oracle never runs a regex, so
    // regex-dialect parity is not what's being tested; correct
    // boilerplate removal is.
    "q5E_html_strip" -> { (s, d) =>
      val wrapped = Tables.documents(s, d)
        .select(col("doc_id"),
          concat(
            lit("<html><head><title>t</title><style>p{color:red}</style>" +
              "<script>if(1&lt;2){alert(\"x\")}</script></head>" +
              "<body class=\"main\"><h1>Doc "),
            col("doc_id"),
            lit("</h1><p>"), col("text"),
            // entity coverage for the strip path: &amp; one-level,
            // nbsp, the named punctuation/symbol forms, an unknown
            // name that must survive as text
            lit("</p><div>&amp;&nbsp;footer &mdash; &copy;2024 " +
              "&hellip; &bogus;</div></body></html>")
          ).as("html"))
      wrapped.select(col("doc_id"),
          graft.operators.Curation.stripHtml(col("html")).as("clean_text"))
        .orderBy("doc_id")
    },

    // Compression-transparent text ingest, oracle-gated: the corpus is
    // written DISTRIBUTED as real gzipped one-doc-per-file *.txt.gz
    // (JDK GZIPOutputStream), read back through Readers.textGzDirectory
    // (Hadoop codec-by-extension inside the wholetext source), and
    // every byte must hash-match the table — gzipped corpora are the
    // 100 TB shipping format for raw text.
    "q5D_gzip_ingest" -> { (s, d) =>
      import java.nio.file.{Files, Paths}
      import java.nio.charset.StandardCharsets.UTF_8
      val dir = graft.util.TempDirs.scratch("graft-gz-corpus-")
      graft.util.Scans.fanOut(
          Tables.documents(s, d).select(col("doc_id"), col("text")), col("doc_id"))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          rows.foreach { r =>
            val out = new java.util.zip.GZIPOutputStream(
              Files.newOutputStream(
                Paths.get(dir, f"doc_${r.getLong(0)}%07d.txt.gz")))
            try out.write(r.getString(1).getBytes(UTF_8))
            finally out.close()
          }
        }
      graft.ingest.Readers.textGzDirectory(s, dir)
        .select(
          regexp_extract(col("source"), "doc_(\\d+)\\.txt\\.gz$", 1)
            .cast("long").as("doc_id"),
          col("text").as("doc_text"))
        // r13: a localCheckpoint cut before the orderBy (the WARC-family
        // fix) was TRIED here and measured SLOWER (2.9 → 3.4 s median):
        // with 5 000 tiny page-cached .gz files across 157 scan
        // partitions, block materialization costs more than the sort
        // sampler's second decompress pass. Left uncut deliberately.
        .orderBy("doc_id")
    },

    // WARC corpus ingest round-trip: the corpus renders DISTRIBUTED as
    // real multi-record .warc files (ISO 28500 — a warcinfo preamble
    // plus one HTTP-enveloped response record per doc, exactly the
    // Common Crawl shipping shape), then reads back through the
    // from-scratch byte-walk parser (strict Content-Length records,
    // envelope stripped, non-response records skipped). Oracle: the
    // documents table — the round-trip must be byte-exact. Like .gz
    // (q5D), WARC is non-splittable, so parallelism = file count,
    // which is how crawls ship (thousands of segments).
    "q5O_warc_ingest" -> { (s, d) =>
      import graft.ingest.Warc
      val dir = graft.util.TempDirs.scratch("graft-warc-corpus-")
      graft.util.Scans.fanOut(
          Tables.documents(s, d).select(col("doc_id"), col("text")), col("doc_id"))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          Warc.writeSegment(rows.map(r => (r.getLong(0), r.getString(1))),
            dir, "http://corpus.local/doc/", gzip = false)
        }
      Warc.warcDirectory(s, dir)
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("text").as("doc_text"))
        // r13: cut before the global orderBy (the q5D note) — the
        // range-sampler otherwise re-parses every WARC segment
        .localCheckpoint(eager = false)
        .orderBy("doc_id")
    },

    // q5O over GZIPPED segments — the format crawls ACTUALLY ship
    // (Common Crawl is .warc.gz): the writer gzips each rendered
    // segment, the reader sniffs the 1f 8b magic and gunzips the whole
    // member before the byte walk. Non-splittable like q5D's .gz —
    // parallelism = segment count, which the per-partition layout
    // already implies.
    "q5Q_warc_gz_ingest" -> { (s, d) =>
      import graft.ingest.Warc
      val dir = graft.util.TempDirs.scratch("graft-warcgz-corpus-")
      graft.util.Scans.fanOut(
          Tables.documents(s, d).select(col("doc_id"), col("text")), col("doc_id"))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          Warc.writeSegment(rows.map(r => (r.getLong(0), r.getString(1))),
            dir, "http://corpus.local/doc/", gzip = true)
        }
      Warc.warcDirectory(s, dir)
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("text").as("doc_text"))
        // r13: cut before the global orderBy (the q5D note) — the
        // range-sampler otherwise re-parses every WARC segment
        .localCheckpoint(eager = false)
        .orderBy("doc_id")
    },

    // CHARSET-AWARE WARC ingest: real crawl segments are full of
    // ISO-8859-1 / windows-1252 responses whose charset is declared in
    // the HTTP envelope's Content-Type — hard-decoding UTF-8 at the
    // ingest boundary would mojibake every one of them BEFORE any
    // downstream repair gate could see clean bytes. Four declaration
    // classes per doc_id: utf-8 declared; iso-8859-1 declared with
    // true latin-1 bytes (é/ü); iso-8859-1 declared (QUOTED, mixed
    // case) with a windows-1252-only byte (€ at 0x80 — the WHATWG
    // alias rule: browsers and honest crawls decode latin-1 labels as
    // windows-1252); and NO charset parameter (UTF-8 fallback). The
    // oracle's expectation is the CLOSED-FORM marker text per class —
    // the decode must invert each encode byte-exactly.
    "q5T_warc_charset" -> { (s, d) =>
      import graft.ingest.Warc
      val dir = graft.util.TempDirs.scratch("graft-warc-charset-")
      graft.util.Scans.fanOut(
          Tables.documents(s, d).select(col("doc_id"), col("text")), col("doc_id"))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          val date = "2024-01-01T00:00:00Z"
          Warc.writeRecords(rows.map { r =>
            val id = r.getLong(0)
            val (marker, enc, declared) = (id % 4) match {
              case 0 => (" café", "UTF-8",
                "text/plain; charset=utf-8")
              case 1 => (" café über", "ISO-8859-1",
                "text/html; charset=iso-8859-1")
              case 2 => (" €9", "windows-1252",
                "text/plain; charset=\"ISO-8859-1\"")
              case _ => (" plain", "US-ASCII", "text/plain")
            }
            Warc.renderResponse(s"http://corpus.local/cs/$id", date,
              (r.getString(1) + marker).getBytes(enc), declared)
          }, dir, gzip = false, date = date)
        }
      Warc.warcDirectory(s, dir)
        .select(
          regexp_extract(col("target_uri"), "/cs/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("charset"), md5(col("text")).as("text_md5"))
        // r13: cut before the global orderBy (the q5D note) — one WARC
        // parse pass; the cut row is (id, charset, md5), never the text
        .localCheckpoint(eager = false)
        .orderBy("doc_id")
    },

    // Crawl-to-text END TO END: the corpus renders as HTML pages (the
    // q2O template — nav boilerplate, scripts, entities, link-farm
    // pages every 10th doc) INSIDE real WARC response records, then
    // the pipeline a web-pretraining job actually runs: WARC byte-walk
    // ingest → HTML boilerplate removal → anchor-ratio gate → kept
    // docs with title + extracted-text hash. Composes q5O's source
    // with q2O's extractor; the oracle replays the regex chain over
    // the same closed-form template and keeps the same gate.
    "q5P_warc_html_pipeline" -> { (s, d) =>
      import graft.ingest.Warc
      import graft.operators.Html
      val dir = graft.util.TempDirs.scratch("graft-warc-html-")
      // fanOut BEFORE the page-render projection (r12): the old
      // repartition sat above it, so the HTML render ran in the single
      // scan task and only the WRITE spread out
      graft.util.Scans.fanOut(
          Tables.documents(s, d).select("doc_id", "text"), col("doc_id"))
        .select(col("doc_id"),
          TextQueries.htmlPage(col("doc_id"), col("text")).as("html"))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          Warc.writeSegment(rows.map(r => (r.getLong(0), r.getString(1))),
            dir, "http://corpus.local/page/", gzip = false)
        }
      // r12 (guide §1.2/§7.2): the extracted columns localCheckpoint
      // BEFORE the gate — PushPredicateThroughNonJoin otherwise inlines
      // anchorRatio's full expression tree (≈30 regexp passes incl. a
      // second extractText) into a Filter below the Project, and
      // Filter/Project don't share subexpressions across operators, so
      // every row paid the whole extraction twice. Measured at sf0.1:
      // read+extract 1.3 s, with the pushed filter 5.0 s, with the cut
      // 1.6 s. The materialized frame is the doc-count-sized metadata
      // row (id, title, md5, ratio) — bytes per doc, never the HTML.
      Warc.warcDirectory(s, dir)
        .select(
          regexp_extract(col("target_uri"), "/page/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("text").as("html"))
        .select(col("doc_id"),
          Html.title(col("html")).as("title"),
          md5(Html.extractText(col("html"))).as("text_md5"),
          Html.anchorRatio(col("html")).as("anchor_ratio"))
        // lazy (eager = false) like the other lineage cuts: still blocks
        // the predicate pushdown, but skips the extra eager job and, at
        // cluster scale, doesn't force unreplicated executor blocks to
        // materialize before they're needed (ADVICE r12)
        .localCheckpoint(eager = false)
        .filter(col("anchor_ratio") <= 0.2)
        .select("doc_id", "title", "text_md5")
        .orderBy("doc_id")
    },

    // JSONL corpus ingest, oracle-gated (graduates the one spec-only
    // source row with an oracle shape): the corpus is rendered to
    // real *.jsonl landing files DISTRIBUTED (one JSON doc per line,
    // minimal escaping — mirrors what an upstream crawler emits), with
    // every doc_id % 97 == 0 line deliberately CORRUPTED (truncated
    // JSON). `Readers.jsonlDirectory` reads it back under an explicit
    // schema (no inference double-scan — the 100 TB contract) in
    // PERMISSIVE mode: good lines parse, corrupt lines land in
    // `_corrupt` as DATA with null fields instead of failing the job.
    // The oracle replays both populations from the documents table.
    "q59_jsonl_ingest" -> { (s, d) =>
      import java.nio.file.{Files, Paths}
      import java.nio.charset.StandardCharsets.UTF_8
      val dir = graft.util.TempDirs.scratch("graft-jsonl-")
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .repartition(8)
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          // full JSON string escaping (specials + ALL control chars):
          // a raw newline in a doc would split one JSON line in two and
          // silently fork the engine from the oracle's closed-form
          // corruption rule
          def esc(s: String): String = s.flatMap {
            case '\\'           => "\\\\"
            case '"'            => "\\\""
            case c if c < ' '   => f"\\u${c.toInt}%04x"
            case c              => c.toString
          }
          val lines = rows.map { r =>
            val id = r.getLong(0)
            val t  = esc(r.getString(1))
            if (id % 97 == 0) s"""{"doc_id": $id, "text": "$t"""  // truncated
            else s"""{"doc_id": $id, "text": "$t"}"""
          }.toSeq
          if (lines.nonEmpty) {
            // DETERMINISTIC per-partition name: a task retry or
            // speculative duplicate overwrites its own file instead of
            // adding a second copy of the partition's docs
            val pid = org.apache.spark.TaskContext.getPartitionId()
            Files.write(Paths.get(dir, f"part-$pid%05d.jsonl"),
              lines.mkString("\n").getBytes(UTF_8))
            ()
          }
        }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      graft.ingest.Readers.jsonlDirectory(s, dir, schema)
        .select(col("doc_id"), length(col("text")).as("text_len"),
          col("_corrupt").isNotNull.as("corrupt"))
        .orderBy(col("corrupt"), col("doc_id"))
    },

    // CSV corpus ingest, oracle-gated (the q59 shape on RFC 4180): the
    // corpus renders to real *.csv landing files DISTRIBUTED — fields
    // containing comma/quote wrap in quotes with `""` doubling — and
    // every doc_id % 89 == 0 row carries a deliberately NON-NUMERIC id
    // cell ('x' prefix). `Readers.csvDirectory` reads it back under an
    // explicit schema in PERMISSIVE mode: the bad cell nulls only
    // doc_id, the raw line lands in `_corrupt` as data, and the text
    // cell SURVIVES (CSV's cell-local failure model, vs JSONL's whole-
    // line loss in q59 — both populations replayed from the table).
    "q8M_csv_ingest" -> { (s, d) =>
      import java.nio.file.{Files, Paths}
      import java.nio.charset.StandardCharsets.UTF_8
      val dir = graft.util.TempDirs.scratch("graft-csv-")
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .repartition(8)
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          // RFC 4180 field quoting; embedded newlines are out of the
          // line-splittable scope (csvDirectory doc) — fail loudly
          def esc(sv: String): String = {
            require(!sv.exists(c => c == '\n' || c == '\r'),
              "embedded newline outside the line-splittable CSV scope")
            if (sv.contains(",") || sv.contains("\""))
              "\"" + sv.replace("\"", "\"\"") + "\""
            else sv
          }
          val lines = rows.map { r =>
            val id = r.getLong(0)
            val t  = esc(r.getString(1))
            if (id % 89 == 0) s"x$id,$t" else s"$id,$t"
          }.toSeq
          if (lines.nonEmpty) {
            val pid = org.apache.spark.TaskContext.getPartitionId()
            Files.write(Paths.get(dir, f"part-$pid%05d.csv"),
              lines.mkString("\n").getBytes(UTF_8))
            ()
          }
        }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      graft.ingest.Readers.csvDirectory(s, dir, schema)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("_corrupt").isNotNull.as("corrupt"))
        .orderBy(col("corrupt"), col("doc_id"), col("text_md5"))
    },

    // ORC corpus round-trip: the corpus writes through Spark's NATIVE
    // ORC datasource (the other columnar interchange format a
    // warehouse-adjacent corpus drop arrives in) and reads back via
    // the production scan path. The oracle never touches ORC — the
    // hash gate proves write+read inverted each other exactly, typed
    // columns included.
    "q8T_orc_ingest" -> { (s, d) =>
      val dir = graft.util.TempDirs.scratch("graft-orc-")
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .repartition(4)
        .write.mode("overwrite").orc(dir)
      s.read.orc(dir)
        .select(col("doc_id"),
          md5(coalesce(col("text"), lit(""))).as("text_md5"),
          col("lang"), col("source"))
        .orderBy("doc_id")
    },

    // PDF ingest round-trip, oracle-gated (SURVEY S2 — the one row that
    // was spec-only): render every document to a REAL PDF file
    // (PdfWriter: Type0/Identity-H font, UTF-16BE hex strings, identity
    // ToUnicode CMap, FlateDecode streams), then read the directory back
    // through the production `Readers.pdfDirectory` scan. The extracted
    // text must hash-match the source table — which gates the whole
    // object-scan → page-tree → Inflater → CID/CMap decode → Tj
    // pipeline against an oracle that never touches a PDF. Rendering is
    // DISTRIBUTED (foreachPartition writes each task's files; local[*]
    // shares one filesystem — on a cluster the landing dir would be
    // shared storage), so no driver-side collect of the corpus.
    "q57_pdf_ingest" -> { (s, d) =>
      import java.nio.file.{Files, Paths}
      val dir = graft.util.TempDirs.scratch("graft-pdfcorpus-")
      graft.util.Scans.fanOut(
          Tables.documents(s, d).select(col("doc_id"), col("text")), col("doc_id"))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          rows.foreach { r =>
            Files.write(
              Paths.get(dir, f"doc_${r.getLong(0)}%07d.pdf"),
              graft.ingest.PdfWriter.typ0Pdf(Seq(r.getString(1))))
          }
        }
      graft.ingest.Readers.pdfDirectory(s, dir)
        .select(
          regexp_extract(col("source"), "doc_(\\d+)\\.pdf$", 1)
            .cast("long").as("doc_id"),
          col("text").as("page_text"))
        .withColumn("page_len", length(col("page_text")))
        .orderBy("doc_id")
    },

    // MMR-diversified retrieval: exact top-50 pool, lambda=0.5 rerank
    // to 5 (oracle: recursive-CTE greedy).
    "q53_mmr_rerank" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val qvec = e.filter(col("vec_id") === 0).head()
        .getAs[scala.collection.Seq[Float]]("embedding").toSeq
      graft.operators.Knn.mmrRerank(e.filter(col("vec_id") =!= 0),
        "vec_id", "embedding", qvec, k = 5, poolSize = 50, lambda = 0.5)
    },

    // As-of (point-in-time) join: each event picks up the price of the
    // customer's most recent order at event time (union+window
    // formulation — one shuffle, no fanout; oracle uses DuckDB's native
    // ASOF JOIN). Right side pre-aggregated per (key, ts) so tie
    // resolution matches across engines.
    "q46_asof_last_order" -> { (s, d) =>
      val ev = Tables.events(s, d).select("event_id", "user_id", "ts")
      val ord = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
        .agg(round(max("o_totalprice"), 2).as("last_order_price"))
      graft.operators.AsOf.lastValueBefore(ev, ord,
          keyCol = "user_id", leftTsCol = "ts",
          rightTsCol = "o_orderdate", valueCol = "last_order_price")
        .select("event_id", "user_id", "last_order_price")
        .orderBy("event_id")
    },

    // Range (interval) self-join via bucketization: events of the same
    // user within 60s of each other — per-user pair counts + min gap.
    "q47_event_pairs_60s" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"))
      graft.operators.RangeJoin.pairsWithinTolerance(
          ev, "user_id", "event_id", "ts_us", toleranceUs = 60L * 1000000L)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"), min("gap_us").as("min_gap_us"))
        .orderBy("user_id")
    },

    // Semi-structured extraction: JSON props → typed column + agg.
    "q45_json_extract" -> { (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("event_type")
        .agg(round(avg(col("k").cast("double")), 6).as("avg_k"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // PageRank over the session-transition graph (the web-corpus quality
    // prior): nodes are `props.k` page ids, edges the per-user
    // consecutive-event transitions, 5 fixed rounds of the exact
    // integer-fixed-point recurrence in Graph.pageRank — rank table
    // node-sized and never collected, each round one hash join + one
    // map-side-combinable sum. Bit-identical cross-engine because no
    // float enters the recurrence.
    "q4B_pagerank" -> { (s, d) =>
      import graft.operators.Graph
      val ev = Tables.events(s, d).select(col("user_id"), col("ts"),
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val edges = ev.withColumn("dst_k", lead("k", 1).over(w))
        .filter(col("dst_k").isNotNull)
        .groupBy(col("k").as("src"), col("dst_k").as("dst"))
        .agg(count(lit(1)).as("w"))
      Graph.pageRank(edges, "src", "dst", "w", iters = 5)
        .orderBy("node")
    },

    // Personalized PageRank from a trusted seed set (TrustRank-style
    // whitelist scoring): teleport mass lands only on pages 0-9, so
    // rank measures link-proximity to the seeds. Same integer
    // fixed-point recurrence as q4B.
    "q4F_personalized_pagerank" -> { (s, d) =>
      import graft.operators.Graph
      val ev = Tables.events(s, d).select(col("user_id"), col("ts"),
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val edges = ev.withColumn("dst_k", lead("k", 1).over(w))
        .filter(col("dst_k").isNotNull)
        .groupBy(col("k").as("src"), col("dst_k").as("dst"))
        .agg(count(lit(1)).as("w"))
      val seeds = s.range(0, 10).select(col("id").as("k"))
      Graph.personalizedPageRank(edges, "src", "dst", "w", seeds, "k",
          iters = 5)
        .orderBy("node")
    },

    // Triangle census of the session-transition graph: exact triangle
    // count + global clustering coefficient via the oriented two-join
    // (work bounded by wedges, never n³) — the cohesion measurement
    // next to q4B's ranking and q36's components.
    "q4N_triangles" -> { (s, d) =>
      import graft.operators.Graph
      val ev = Tables.events(s, d).select(col("user_id"), col("ts"),
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val edges = ev.withColumn("dst_k", lead("k", 1).over(w))
        .filter(col("dst_k").isNotNull)
        .select(col("k").as("src"), col("dst_k").as("dst"))
      Graph.triangleStats(edges, "src", "dst")
    },

    // Degree assortativity over the same link graph as q4B/q4N: are
    // hub pages linking to hubs (assortative) or to leaves
    // (disassortative, the typical crawl-graph shape)? Exact long
    // moment sums, one closed-form double — bit-replayable.
    "q4O_assortativity" -> { (s, d) =>
      import graft.operators.Graph
      val ev = Tables.events(s, d).select(col("user_id"), col("ts"),
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val edges = ev.withColumn("dst_k", lead("k", 1).over(w))
        .filter(col("dst_k").isNotNull)
        .select(col("k").as("src"), col("dst_k").as("dst"))
      Graph.assortativity(edges, "src", "dst")
    },

    // HITS hubs & authorities over the same session-transition graph
    // as q4B — the two-score dual of PageRank: directory-style pages
    // (link out to good content) surface as hubs, destination content
    // as authorities. Same exact pico fixed-point recurrence family;
    // L1 renorm per round is a truncating div by max(1, Σ div 10¹²).
    "q4T_hits" -> { (s, d) =>
      import graft.operators.Graph
      val ev = Tables.events(s, d).select(col("user_id"), col("ts"),
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val edges = ev.withColumn("dst_k", lead("k", 1).over(w))
        .filter(col("dst_k").isNotNull)
        .select(col("k").as("src"), col("dst_k").as("dst"))
      Graph.hits(edges, "src", "dst", iters = 5).orderBy("node")
    },

    // Point-in-interval (range) join, bin-reshaped: promo windows
    // (7 days from every 97th order) × lineitem ship dates. The naive
    // θ-join is a nested-loop; RangeJoin.pointInInterval explodes each
    // interval to its covered 7-day bins and meets points on ONE
    // equi-key — hash shuffle, AQE-splittable, no candidate dedup.
    "q4U_interval_join" -> { (s, d) =>
      import graft.operators.RangeJoin
      val promos = Tables.orders(s, d)
        .filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey").as("promo_key"),
          unix_micros(col("o_orderdate")).as("lo_us"),
          (unix_micros(col("o_orderdate")) + lit(7L * 86400L * 1000000L))
            .as("hi_us"))
      val pts = Tables.lineitem(s, d)
        .select(col("l_quantity"), unix_micros(col("l_shipdate")).as("ship_us"))
      RangeJoin.pointInInterval(pts, "ship_us", promos, "lo_us", "hi_us",
          binWidth = 7L * 86400L * 1000000L)
        .groupBy("promo_key", "lo_us")
        .agg(count(lit(1)).as("n_shipped"),
          round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("promo_key")
    },

    // SCD Type 2 dimension build: the orders log as a change feed on
    // (customer → order priority). Same-day duplicate observations
    // collapse to the highest orderkey; unchanged-priority runs
    // collapse; validity is [valid_from, valid_to) with NULL-open
    // current rows. One hash shuffle on the key, window chain reuses it.
    "q4V_scd2" -> { (s, d) =>
      import graft.operators.Scd
      val ch = Tables.orders(s, d).select(
        col("o_custkey").as("cust_key"),
        unix_micros(col("o_orderdate")).as("ts_us"),
        col("o_orderpriority").as("priority"),
        col("o_orderkey"))
      Scd.scd2(ch, "cust_key", "ts_us", Seq("priority"), "o_orderkey")
        .select(col("cust_key"), col("priority"),
          col("valid_from").as("valid_from_us"),
          col("valid_to").as("valid_to_us"),
          col("version"), col("is_current"))
        .orderBy("cust_key", "version")
    },

    // Point-in-time (as-of) enrichment against the q4V SCD2 dimension:
    // each shipped lineitem gets the customer's priority state CURRENT
    // AT SHIP TIME (not order time — the retro-correct feature-backfill
    // semantics that a plain join leaks the future on). Facts are
    // pre-aggregated to distinct (customer, ship-ts) probes, then ONE
    // AsOf union-window resolves the state — the formulation with
    // exactly one key shuffle on both 100 TB sides.
    "q0T_scd2_pit" -> { (s, d) =>
      import graft.operators.{AsOf, Scd}
      val ch = Tables.orders(s, d).select(
        col("o_custkey").as("cust_key"),
        unix_micros(col("o_orderdate")).as("ts_us"),
        col("o_orderpriority").as("priority"),
        col("o_orderkey"))
      val dim = Scd.scd2(ch, "cust_key", "ts_us", Seq("priority"),
        "o_orderkey").select("cust_key", "valid_from", "priority")
      val fct = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("cust_key"),
          unix_micros(col("l_shipdate")).as("ship_us"))
        .agg(count(lit(1)).as("n"))
      // the fixture ships ~half the lineitems BEFORE their order date
      // (dates are independent draws), so probes earlier than the
      // customer's first observation resolve to NULL state — kept as
      // its own "no state known yet" group, null order pinned
      AsOf.lastValueBefore(fct, dim, "cust_key", "ship_us",
          "valid_from", "priority")
        .groupBy(col("priority").as("priority_at_ship"))
        .agg(sum("n").as("n_items"))
        .orderBy(col("priority_at_ship").asc_nulls_first)
    },

    // HashMin connected components on a sparse part↔supplier bipartite
    // graph (rare qty-49+ lineitems as edges; suppliers offset by 10^6
    // into a disjoint id space). 10 synchronous rounds — deterministic
    // whether or not the diameter is covered, which is what the
    // fixed-round DuckDB replay checks.
    "q4W_components" -> { (s, d) =>
      import graft.operators.Graph
      Graph.hashMinComponents(rareBipartite(s, d), "src", "dst", iters = 10)
        .orderBy("node")
    },

    // Multi-source BFS over the same bipartite graph: hop distance to
    // the nearest seed supplier (ids divisible by 10), 6-round budget.
    // Unreached nodes are absent, not infinite — the frontier table
    // stays reached-sized.
    "q4X_bfs_hops" -> { (s, d) =>
      import graft.operators.Graph
      val g = rareBipartite(s, d)
      val seeds = g.select(col("dst").as("node"))
        .filter(col("node") >= 1000000L && col("node") % 10 === 0)
        .distinct()
      Graph.bfsHops(g, "src", "dst", seeds, "node", maxHops = 6)
        .orderBy("node")
    },

    // Synchronous label propagation on the same graph: most-frequent
    // neighbor label, smallest-label tie, 5 rounds — communities, not
    // components (voting stops at sparse boundaries where HashMin
    // floods through).
    "q4Y_label_prop" -> { (s, d) =>
      import graft.operators.Graph
      Graph.labelPropagation(rareBipartite(s, d), "src", "dst", iters = 5)
        .orderBy("node")
    },

    // Z-order (Morton) clustering key — the multi-dimensional layout
    // behind OPTIMIZE ZORDER: interleave (user_id % 1024, props.k) bits
    // and bucket by z ranges; each bucket's (x, y) bounding box is the
    // locality that makes parquet min/max stats prune scans on EITHER
    // column (ScaleSpec measures the actual per-file pruning win). Pure
    // integer bit arithmetic, bit-identical cross-engine.
    "q4C_zorder" -> { (s, d) =>
      import graft.operators.Scale
      Tables.events(s, d)
        .select((col("user_id") % 1024).as("x"),
          get_json_object(col("props"), "$.k").cast("long").as("y"))
        .withColumn("z", Scale.zValue(col("x"), col("y"), bits = 10))
        .withColumn("zbucket", expr("z div 4096"))
        .groupBy("zbucket")
        .agg(count(lit(1)).as("n"),
          min("x").as("x_min"), max("x").as("x_max"),
          min("y").as("y_min"), max("y").as("y_max"))
        .orderBy("zbucket")
    },

    // Hilbert-curve clustering key — the locality upgrade over q4C's
    // Morton interleave: consecutive indices are ALWAYS grid
    // neighbors, so same-size buckets get tighter (x, y) bounding
    // boxes and better min/max pruning (ScaleSpec measures both
    // properties). Same bucket/bbox report shape as q4C for an
    // apples-to-apples read.
    "q4Z_hilbert" -> { (s, d) =>
      import graft.operators.Scale
      val base = Tables.events(s, d)
        .select((col("user_id") % 1024).as("x"),
          get_json_object(col("props"), "$.k").cast("long").as("y"))
      Scale.withHilbert(base, "x", "y", "h", bits = 10)
        .withColumn("hbucket", expr("h div 4096"))
        .groupBy("hbucket")
        .agg(count(lit(1)).as("n"),
          min("x").as("x_min"), max("x").as("x_max"),
          min("y").as("y_min"), max("y").as("y_max"))
        .orderBy("hbucket")
    },

    // Content-defined chunking (the CDC/rolling-hash family): chunk
    // boundaries fall after tokens whose md5 gear value ≡ 0 mod 16, so
    // an edit re-chunks only the span it touches and every downstream
    // chunk stays byte-identical — the shift resistance fixed-stride
    // chunking lacks, and the basis of chunk-store dedup
    // (ChunkerSpec measures it against q40's fixed stride). One narrow
    // array-HOF map per doc: no explode before the chunk array exists,
    // no window, no UDF.
    "q4D_cdc_chunks" -> { (s, d) =>
      import graft.ingest.Chunker
      // fanOut (r12): the rolling-hash fold + per-chunk md5 are the
      // heavy per-row stage; on the single-row-group fixture scan they
      // ran in ONE task (guide §2.5 unsplittable input)
      graft.util.Scans.fanOut(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"),
          posexplode(Chunker.cdcChunksCol(col("text"), divisor = 16))
            .as(Seq("chunk_idx", "chunk_text")))
        .select(col("doc_id"), col("chunk_idx"),
          size(split(col("chunk_text"), " ")).as("n_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    },

    // Ordered funnel conversion (view → click → purchase, each step
    // STRICTLY after the previous one's first occurrence): three
    // per-user min aggregations chained by equi-joins — each pass is
    // one keyed groupBy, no window over the corpus, no self-join
    // blowup. The product-analytics staple.
    "q4G_funnel" -> { (s, d) =>
      val ev = Tables.events(s, d)
      def firstAfter(step: String, prev: DataFrame, prevCol: String,
                     outCol: String): DataFrame =
        ev.filter(col("event_type") === step)
          .join(prev, "user_id")
          .filter(col("ts") > col(prevCol))
          .groupBy("user_id").agg(min("ts").as(outCol))
      val t1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val t2 = firstAfter("click", t1, "t1", "t2")
      val t3 = firstAfter("purchase", t2, "t2", "t3")
      val n1 = t1.agg(count(lit(1)).as("step_view"))
      val n2 = t2.agg(count(lit(1)).as("step_click"))
      val n3 = t3.agg(count(lit(1)).as("step_purchase"))
      n1.crossJoin(n2).crossJoin(n3)
        .withColumn("conv_click",
          round(col("step_click").cast("double") /
            col("step_view").cast("double"), 6))
        .withColumn("conv_purchase",
          round(col("step_purchase").cast("double") /
            col("step_click").cast("double"), 6))
    },

    // Corpus health report — the one-look dashboard a data owner reads
    // before training: doc count, exact-duplicate rate, mean token
    // length, language mix, and the CDC chunk-store dedup savings, as
    // (metric, value) rows. Every metric is a verified operator's
    // formula (q30's md5 dedup, q20's token counts, q22's lang labels,
    // q4E's chunk dictionary) composed into one result.
    "q0L_corpus_report" -> { (s, d) =>
      import graft.functions.TextFunctions.tokenCount
      import graft.ingest.Chunker
      val docs = Tables.documents(s, d)
      val base = docs.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        round(avg(tokenCount(col("text")).cast("double")), 6).as("mean_tokens"),
        round(avg(when(col("lang") === "en", 1.0d).otherwise(0.0d)), 6)
          .as("en_rate"))
      val sized = docs
        .select(explode(Chunker.cdcChunksCol(col("text"), 16)).as("chunk"))
        .select(md5(col("chunk")).as("h"),
          size(split(col("chunk"), " ")).cast("long").as("nt"))
      val cdc = sized.groupBy("h")
        .agg(count(lit(1)).as("n"), min("nt").as("nt"))
        .agg(round(sum((col("n") - 1) * col("nt")).cast("double") /
          sum(col("n") * col("nt")).cast("double"), 6).as("cdc_savings"))
      base.crossJoin(broadcast(cdc))
        .select(explode(array(
          struct(lit("n_docs").as("metric"),
            col("n_docs").cast("double").as("value")),
          struct(lit("dup_doc_rate").as("metric"),
            round(lit(1.0) - col("n_distinct").cast("double") /
              col("n_docs").cast("double"), 6).as("value")),
          struct(lit("mean_tokens").as("metric"), col("mean_tokens").as("value")),
          struct(lit("en_rate").as("metric"), col("en_rate").as("value")),
          struct(lit("cdc_savings").as("metric"), col("cdc_savings").as("value"))
        )).as("r"))
        .select(col("r.metric").as("metric"), col("r.value").as("value"))
        .orderBy("metric")
    },

    // Behavioral transition matrix (first-order Markov model of the
    // event stream): P(next event type | current) from per-user
    // consecutive pairs — the q4B edge shape reduced over types. One
    // window per user + a types²-sized aggregate.
    "q4J_transitions" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val tr = ev.withColumn("next_type", lead("event_type", 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("cur"), col("next_type").as("nxt"))
        .agg(count(lit(1)).as("n"))
      val tot = tr.groupBy("cur").agg(sum("n").as("row_n"))
      tr.join(tot, "cur")
        .select(col("cur"), col("nxt"), col("n"),
          round(col("n").cast("double") / col("row_n").cast("double"), 6)
            .as("p"))
        .orderBy("cur", "nxt")
    },

    // Markov next-event prediction with a REAL train/test split: fit
    // q4J's transition matrix on even users, predict each odd-user
    // transition with the argmax next type (ties to the
    // lexicographically smallest), score top-1 accuracy per current
    // type. The model is a types²-sized frame (broadcast); the only
    // corpus-shaped work is the per-user lead window both q4B/q4J
    // already pay. The eval that says whether the transition matrix
    // carries signal before anyone ships it.
    "q4R_markov_eval" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pairs = ev.withColumn("nxt", lead("event_type", 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("user_id"), col("event_type").as("cur"), col("nxt"))
      val train = pairs.filter(col("user_id") % 2 === 0)
        .groupBy("cur", "nxt").agg(count(lit(1)).as("n"))
      val wbest = Window.partitionBy("cur").orderBy(col("n").desc, col("nxt"))
      val model = train.withColumn("rn", row_number().over(wbest))
        .filter(col("rn") === 1).select(col("cur"), col("nxt").as("pred"))
      pairs.filter(col("user_id") % 2 =!= 0)
        .join(broadcast(model), "cur")
        .groupBy("cur")
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("nxt") === col("pred"), 1L).otherwise(0L))
            .as("n_correct"))
        .withColumn("accuracy", round(col("n_correct") / col("n_test"), 6))
        .orderBy("cur")
    },

    // OLS trend line over daily volume (growth analytics): slope,
    // intercept and R² of events/day against the day index, from the
    // FIVE integer moment sums (n, Σx, Σy, Σx², Σxy, Σy²) — day
    // indexes and counts are integers, so every moment is an EXACT
    // long (order-independent, map-side combinable) and the only
    // floating point is the closed-form division at the very end.
    // One days-sized aggregate; nothing corpus-shaped beyond the
    // daily groupBy.
    "q4S_trend" -> { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("y"))
      val d0 = daily.agg(min("day").as("d0"))
      val pts = daily.crossJoin(broadcast(d0))
        .select(datediff(col("day"), col("d0")).cast("long").as("x"),
          col("y"))
      val m = pts.agg(count(lit(1)).as("nd"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      m.select(col("nd").as("n_days"),
          ((col("nd") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("nd") * col("sxx") - col("sx") * col("sx")).cast("double"))
            .as("slope"),
          col("nd"), col("sx"), col("sy"), col("sxy"), col("sxx"), col("syy"))
        .select(col("n_days"), round(col("slope"), 6).as("slope"),
          round((col("sy").cast("double") - col("slope") * col("sx"))
            / col("nd"), 6).as("intercept"),
          round(((col("nd") * col("sxy") - col("sx") * col("sy")).cast("double")
              * (col("nd") * col("sxy") - col("sx") * col("sy")).cast("double"))
            / ((col("nd") * col("sxx") - col("sx") * col("sx")).cast("double")
              * (col("nd") * col("syy") - col("sy") * col("sy")).cast("double")),
            6).as("r2"))
    },

    // CUSUM control chart over daily volume: the running sum of
    // deviations from the series mean — the change-POINT view q4K's
    // pointwise z-scores can't give (a level shift shows as a sustained
    // slope). The running window orders a days-sized AGGREGATE, not the
    // corpus (the q0I cumulative pattern).
    "q4L_cusum" -> { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val mu = daily.agg(avg(col("n").cast("double")).as("mu"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.crossJoin(broadcast(mu))
        .withColumn("cusum",
          // + 0.0 folds IEEE negative zero to +0.0 (a zero-sum final
          // row otherwise hash-mismatches on the sign of nothing)
          round(sum(col("n").cast("double") - col("mu")).over(w), 4) + lit(0.0))
        .select(col("day"), col("n"), col("cusum"))
        .orderBy("day")
    },

    // Seasonality profile: activity by (day-of-week, hour-of-day) —
    // the traffic fingerprint load forecasting starts from. One
    // groupBy; DOW pinned to Spark's 1=Sunday numbering on both sides.
    "q4M_seasonality" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))
        .orderBy("dow", "hr")
    },

    // Daily-volume anomaly flags: per-day event counts z-scored against
    // the corpus mean/stddev (one tiny second-pass aggregate, broadcast
    // back) — the ops-monitoring pass that catches ingest gaps and
    // bot spikes.
    "q4K_anomaly_days" -> { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val stats = daily.agg(avg(col("n").cast("double")).as("mu"),
        stddev_samp(col("n").cast("double")).as("sd"))
      daily.crossJoin(broadcast(stats))
        .select(col("day"), col("n"),
          round((col("n").cast("double") - col("mu")) / col("sd"), 4).as("z"))
        .withColumn("anomaly", (abs(col("z")) > 2.0).cast("int"))
        .orderBy("day")
    },

    // A/B experiment analysis: Welch's two-sample t statistic on event
    // value between the user_id-parity arms — closed-form from per-arm
    // (n, mean, variance) aggregates, one scan, no per-row state. The
    // rounding tolerances follow q0E's established stats-aggregate
    // contract (stddev-family at 4 dp).
    "q4I_ab_test" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select((col("user_id") % 2).as("arm"), col("value"))
      val stats = ev.groupBy("arm")
        .agg(count(lit(1)).as("n"), avg("value").as("m"),
          var_samp(col("value")).as("v"))
      val a = stats.filter(col("arm") === 0)
        .select(col("n").as("n_a"), col("m").as("m_a"), col("v").as("v_a"))
      val b = stats.filter(col("arm") === 1)
        .select(col("n").as("n_b"), col("m").as("m_b"), col("v").as("v_b"))
      a.crossJoin(b)
        .withColumn("se2",
          col("v_a") / col("n_a") + col("v_b") / col("n_b"))
        .select(col("n_a"), col("n_b"),
          round(col("m_a"), 4).as("mean_a"),
          round(col("m_b"), 4).as("mean_b"),
          round((col("m_a") - col("m_b")) / sqrt(col("se2")), 4).as("t_welch"),
          round(pow(col("se2"), 2) /
            (pow(col("v_a") / col("n_a"), 2) / (col("n_a") - 1) +
             pow(col("v_b") / col("n_b"), 2) / (col("n_b") - 1)), 2).as("df_welch"))
    },

    // Cohort retention: users grouped by first-seen day, activity
    // counted per (cohort, day-offset) — two keyed aggregations and one
    // join; the matrix every growth dashboard draws.
    "q4H_cohorts" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val first = ev.groupBy("user_id")
        .agg(date_trunc("day", min("ts")).as("cohort"))
      ev.join(first, "user_id")
        .select(col("cohort"),
          datediff(date_trunc("day", col("ts")), col("cohort")).as("day_off"),
          col("user_id"))
        .distinct()
        .groupBy("cohort", "day_off")
        .agg(count(lit(1)).as("n_active"))
        .orderBy("cohort", "day_off")
    },

    // The point of CDC made measurable: chunk-store dedup accounting.
    // The md5 chunk dictionary (distinct-chunk-sized, map-side
    // combinable) prices exactly how many tokens a content-addressed
    // store would NOT re-store — the cross-document savings that
    // fixed-stride chunking forfeits under shifts. Exact integer mass
    // arithmetic end to end.
    "q4E_cdc_dedup" -> { (s, d) =>
      import graft.ingest.Chunker
      val sized = Tables.documents(s, d)
        .select(explode(Chunker.cdcChunksCol(col("text"), 16)).as("chunk"))
        .select(md5(col("chunk")).as("h"),
          size(split(col("chunk"), " ")).cast("long").as("nt"))
      val dict = sized.groupBy("h")
        .agg(count(lit(1)).as("n"), min("nt").as("nt"))
      dict.agg(
          sum("n").as("total_chunks"),
          count(lit(1)).as("distinct_chunks"),
          sum(when(col("n") > 1, lit(1L)).otherwise(lit(0L))).as("dup_chunks"),
          sum(col("n") * col("nt")).as("total_tokens"),
          sum((col("n") - 1) * col("nt")).as("dup_token_mass"))
        .withColumn("savings",
          round(col("dup_token_mass").cast("double") /
            col("total_tokens").cast("double"), 6))
    },

    // The composed training-data pipeline end-to-end, every stage the
    // SAME operator the per-stage queries verify: normalize + PII scrub
    // (q60) → token/lang/quality filters (q20-q22) → exact dedup with
    // min-id survivor (q30) → LSH near-dup prune, dropping the later doc
    // of any pair agreeing on >= half the bands (q33) → fixed chunking
    // (q40). The filters and the LSH prune are live at sf0.01
    // (500 → 363 docs → 17 near-dup losers dropped → 346 → 1737 chunks);
    // the fixture has no byte-identical docs, so the exact-dedup stage
    // passes everything through here (its semantics are pinned by q30).
    // Stage order is the 100 TB shape: narrow rewrites and codegen'd
    // filters prune before the keyed dedup shuffles, dedup prunes before
    // the row-expanding chunker.
    "q69_training_pipeline" -> { (s, d) =>
      import graft.functions.TextFunctions._
      import graft.operators.Dedup
      // Materialize the normalized/redacted text BEFORE the filter
      // chain. Catalyst's predicate pushdown substitutes the projected
      // alias into every filter, and each of tokenCount/langId/
      // qualityScore expands to many text_stats refs — without the
      // barrier, every one of the ~25 predicate refs re-runs the
      // 4-regex redact+normalize chain per row (~100 regex passes/doc).
      // Checkpointed, the predicates see a plain column: the fused
      // kernel's last-document memo then collapses them to ONE stats
      // pass + 24 memcmps per row.
      val curated = graft.util.Scans.fanOut(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"), redactPii(normalizeText(col("text"))).as("text"))
        .localCheckpoint()
      // post-barrier the predicates are one memo'd kernel pass per row;
      // the checkpoint here is for the two consumers (the exact-dedup
      // aggregate and the survivor semi-join), not for the filter cost
      val filtered = curated
        .filter(trim(col("text")) =!= "")
        .filter(tokenCount(col("text")) >= 20)
        .filter(langId(col("text")) === "en")
        .filter(qualityScore(col("text")) >= 0.45)
        .localCheckpoint()
      val exact = filtered.join(
        Dedup.exactGroups(filtered, "doc_id", "text")
          .select(col("keep_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
        .localCheckpoint()
      // maxBucketSize: the PRODUCTION pipeline exercises its own
      // hot-bucket guard (the q36/q37 contract) — an uncapped band
      // self-join here is exactly the O(size²) pair mint the registry's
      // PlanAuditSpec rule makes un-writable
      val losers = Dedup.lshCandidatePairs(
          Dedup.lshBucketsWide(
            Dedup.minhashWide(exact, "doc_id", "text",
              DedupQueries.NumHashes, shingleN = 3),
            DedupQueries.NumHashes, DedupQueries.RowsPerBand),
          maxBucketSize = DedupQueries.MaxBucketSize)
        .filter(col("n_bands") >= 2)
        .select(col("doc_b").as("doc_id")).distinct()
      val deduped = exact.join(losers, Seq("doc_id"), "left_anti")
      deduped
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0),
            floor((length(col("text")) - 1) / lit(80)).cast("int"))).as("chunk_index"))
        .select(col("doc_id"), col("chunk_index"),
          col("text").substr(col("chunk_index") * 80 + 1, lit(100)).as("chunk_text"))
        .withColumn("chunk_len", length(col("chunk_text")))
        .orderBy("doc_id", "chunk_index")
    },

    // Deterministic shuffle-and-shard (Scale.deterministicShards): the
    // last step before a training run — reproducible pseudo-random
    // order, balanced shards, per-shard parallel rank (no global sort).
    "q6C_train_shards" -> { (s, d) =>
      graft.operators.Scale.deterministicShards(
          Tables.documents(s, d).select("doc_id"),
          "doc_id", nShards = 8, seed = 7)
        .select(col("doc_id"), col("shard"), col("pos_in_shard"))
        .orderBy("shard", "pos_in_shard")
    },

    // Market-basket association rules over order contents: which part
    // brands co-occur in one order more than chance predicts
    // (support / confidence / lift — the retail-analytics staple)?
    // Baskets are per-order DISTINCT brand sets, so the okey-keyed pair
    // self-join is LINEAR in orders (≤ C(25,2) combos per order, never
    // n² across orders); the 25-row brand-support table and the one-row
    // order total broadcast. Exact long counts; one double division per
    // ratio at the very end.
    "q4P_basket_rules" -> { (s, d) =>
      val basket = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("okey"), col("p_brand").as("brand"))
        .distinct()
      val total   = basket.agg(countDistinct("okey").as("n_orders"))
      val singles = basket.groupBy("brand").agg(count(lit(1)).as("nb"))
      val pairs = basket.as("x")
        .join(basket.as("y"),
          col("x.okey") === col("y.okey") && col("x.brand") < col("y.brand"))
        .groupBy(col("x.brand").as("brand_a"), col("y.brand").as("brand_b"))
        .agg(count(lit(1)).as("pair_n"))
      pairs
        .join(broadcast(singles.select(col("brand").as("brand_a"),
          col("nb").as("na"))), "brand_a")
        .join(broadcast(singles.select(col("brand").as("brand_b"),
          col("nb").as("nbb"))), "brand_b")
        .crossJoin(broadcast(total))
        .select(col("brand_a"), col("brand_b"), col("pair_n"),
          round(col("pair_n") / col("n_orders"), 6).as("support"),
          round(col("pair_n") / col("na"), 6).as("conf_ab"),
          round(col("pair_n") / col("nbb"), 6).as("conf_ba"),
          round(col("pair_n") * col("n_orders") / (col("na") * col("nbb")), 6)
            .as("lift"))
        .orderBy("brand_a", "brand_b")
    },

    // RFM segmentation (recency / frequency / monetary quintiles) —
    // the CRM scoring classic, built scale-first: per-customer metrics
    // are ONE distributed aggregate; quintile cutoffs come from the
    // VALUE-frequency table (bounded by distinct metric values — days
    // since last order, order counts, $1k monetary bands — not by
    // customers), so the customer table is never globally sorted the
    // way ntile() would; the 12 cutoffs broadcast back for the bucket
    // assignment. All-integer metrics: no float enters anywhere.
    // Buckets are value-based (ties share a bucket — the statistically
    // honest quintile, unlike ntile's arbitrary tie splits).
    "q4Q_rfm" -> { (s, d) =>
      val o      = Tables.orders(s, d)
      val anchor = o.agg(max(to_date(col("o_orderdate"))).as("mxd"))
      val cust = o.crossJoin(broadcast(anchor))
        .groupBy(col("o_custkey"))
        .agg(
          min(datediff(col("mxd"), to_date(col("o_orderdate"))))
            .cast("long").as("r"),
          count(lit(1)).as("f"),
          expr("sum(cast(round(o_totalprice * 100) as bigint)) div 100000")
            .as("m"))
      val nCust = cust.agg(count(lit(1)).as("n"))
      val metrics = cust.select(col("o_custkey"),
        explode(map(lit("r"), col("r"), lit("f"), col("f"),
          lit("m"), col("m"))).as(Seq("metric", "v")))
      val wcum = Window.partitionBy("metric").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cuts = metrics.groupBy("metric", "v").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(wcum))
        .crossJoin(broadcast(nCust))
        .select(col("metric"), col("v"), col("cum"),
          explode(sequence(lit(1L), lit(4L))).as("i"))
        .filter(col("cum") >= expr("(i * n + 4) div 5"))
        .groupBy("metric", "i").agg(min("v").as("cut"))
      val buckets = metrics.join(broadcast(cuts), "metric")
        .groupBy("o_custkey", "metric")
        .agg((lit(1L) + sum(when(col("v") > col("cut"), 1L).otherwise(0L)))
          .as("q"))
      buckets.groupBy("o_custkey")
        .agg((lit(6L) - max(when(col("metric") === "r", col("q")))).as("r_score"),
          max(when(col("metric") === "f", col("q"))).as("f_score"),
          max(when(col("metric") === "m", col("q"))).as("m_score"))
        .select(col("o_custkey"), col("r_score"), col("f_score"),
          col("m_score"),
          concat(col("r_score").cast("string"), col("f_score").cast("string"),
            col("m_score").cast("string")).as("rfm"))
        .orderBy("o_custkey")
    }
  )

  val oracles: Map[String, String] = Map(
    "q40_chunk_fixed" ->
      """WITH idx AS (
        |  SELECT doc_id, text,
        |         unnest(range(0, (length(text) - 1) // 80 + 1)) AS chunk_index
        |  FROM documents
        |  WHERE length(text) > 0)
        |SELECT doc_id, chunk_index,
        |  substr(text, 80 * chunk_index + 1, 100) AS chunk_text,
        |  length(substr(text, 80 * chunk_index + 1, 100)) AS chunk_len
        |FROM idx
        |ORDER BY doc_id, chunk_index""".stripMargin,

    // Recursive-chunker mirror. On these fixtures (no newlines, single
    // spaces, words far below chunkSize — asserted shape at every SF) the
    // splitter reduces exactly to its " "-separator level: fragments are
    // words with the separator attached as a prefix, greedily merged to
    // <= 500 chars with a <= 50-char fragment-suffix carry. Chunk spans
    // are therefore substrings of the original text, and the sequential
    // merge becomes a recursive CTE over CHUNK boundaries on the word
    // prefix-sum table: each chunk starts at the earliest word offset
    // within `overlap` of the previous chunk's end and extends to the
    // last word within `chunkSize` of that start. The general algorithm
    // (separator recursion, long-fragment handling) is covered by
    // ChunkerSpec goldens.
    "q50_chunk_recursive" ->
      s"""WITH RECURSIVE $duckChunkWalk
         |SELECT w.doc_id, CAST(w.ck - 1 AS INT) AS chunk_index,
         |       trim(substr(d.text, CAST(w.jstart_s AS INT) + 1,
         |                   CAST(w.jend_s - w.jstart_s AS INT))) AS chunk_text,
         |       CAST(len(trim(substr(d.text, CAST(w.jstart_s AS INT) + 1,
         |                   CAST(w.jend_s - w.jstart_s AS INT)))) AS INT) AS chunk_len
         |FROM walk w JOIN documents d USING (doc_id)
         |ORDER BY doc_id, chunk_index""".stripMargin,

    // Trigram-murmur embedder mirror over whole documents; c0 (the first
    // vector component) pins the hash math, norm the normalization.
    "q51_embed_documents" ->
      s"""WITH esrc AS (
         |  SELECT doc_id, '^' || lower(text) || '$$' AS etext FROM documents),
         |${duckTrigramEmbed("e", "esrc", Seq("doc_id"))}
         |SELECT doc_id, 64 AS dim,
         |       round(sqrt(list_sum([CAST(vec[i] AS DOUBLE) * CAST(vec[i] AS DOUBLE)
         |                            for i in range(1, len(vec)+1)])), 4) AS norm,
         |       round(CAST(vec[1] AS DOUBLE), 6) AS c0
         |FROM evecs ORDER BY doc_id""".stripMargin,

    // Stub-decoder mirror: the deterministic fake codec is byte math —
    // width = floor(sqrt(byte length)), feature 0 = fraction of bytes
    // with code % 16 == 0 (float32 division like the Scala kernel). The
    // fixture text is pure ASCII (asserted: 0 multi-byte docs), so char
    // positions ARE byte positions.
    "q54_media_features" ->
      """WITH m AS (
        |  SELECT doc_id, source, len(text) AS n,
        |    CASE WHEN len(text) > 0
        |         THEN greatest(1, CAST(floor(sqrt(len(text))) AS INT)) END AS w,
        |    CASE WHEN len(text) > 0 THEN
        |      CAST(CAST(len(list_filter(range(1, len(text) + 1),
        |                                i -> ascii(text[i]) % 16 = 0)) AS REAL)
        |           / CAST(len(text) AS REAL) AS REAL) END AS f0
        |  FROM documents)
        |SELECT source, count(*) AS n_media,
        |       CAST(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_decoded,
        |       round(avg(CAST(w AS DOUBLE)), 2) AS avg_width,
        |       round(avg(CAST(f0 AS DOUBLE)), 6) AS avg_f0
        |FROM m GROUP BY source ORDER BY source""".stripMargin,

    // Real-codec mirror WITHOUT a codec: the PNG test patterns are
    // closed-form (syntheticPngs' formula), so the oracle replays
    // geometry and exact integer channel sums arithmetically — if
    // ImageIO's decode disagrees anywhere (size, channel order, color
    // management, lossy round-trip), the hash breaks.
    "q56_image_decode" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 50),
        |dims AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS width, 8 + (3*doc_id) % 9 AS height
        |  FROM ids),
        |px AS (
        |  SELECT d.doc_id, d.width, d.height, (d.doc_id + x.x + y.y) % 256 AS v
        |  FROM dims d,
        |       LATERAL (SELECT unnest(range(0, d.width)) AS x) x,
        |       LATERAL (SELECT unnest(range(0, d.height)) AS y) y)
        |SELECT doc_id, width, height, 3 AS channels, 'png' AS format,
        |       true AS decode_ok,
        |       CAST(sum(v) AS BIGINT) AS sum_r, CAST(sum(v) AS BIGINT) AS sum_g,
        |       CAST(sum(v) AS BIGINT) AS sum_b, CAST(count(*) AS BIGINT) AS n_px
        |FROM px GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin,

    // aHash mirror: the identical 8×8 nearest map, integer mean test,
    // and row-major bit packing, replayed from the pixel formula.
    "q5G_image_phash" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 50),
        |dims AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (3*doc_id) % 9 AS h
        |  FROM ids),
        |grid AS (
        |  SELECT d.doc_id, x.x, y.y,
        |    (d.doc_id + (x.x * d.w) // 8 + (y.y * d.h) // 8) % 256 AS v
        |  FROM dims d,
        |       LATERAL (SELECT unnest(range(0, 8)) AS x) x,
        |       LATERAL (SELECT unnest(range(0, 8)) AS y) y),
        |tot AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS total
        |        FROM grid GROUP BY 1),
        |bits AS (
        |  SELECT g.doc_id,
        |    CAST(sum(CASE WHEN g.v * 64 > t.total AND g.y*8 + g.x >= 32
        |      THEN CAST(1 AS BIGINT) << (g.y*8 + g.x - 32)
        |      ELSE 0 END) AS BIGINT) AS phash_hi,
        |    CAST(sum(CASE WHEN g.v * 64 > t.total AND g.y*8 + g.x < 32
        |      THEN CAST(1 AS BIGINT) << (g.y*8 + g.x)
        |      ELSE 0 END) AS BIGINT) AS phash_lo
        |  FROM grid g JOIN tot t USING (doc_id)
        |  GROUP BY g.doc_id)
        |SELECT phash_hi, phash_lo, count(*) AS n_images,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM bits GROUP BY 1, 2 ORDER BY min_doc""".stripMargin,

    // Near-dup mirror WITHOUT a codec or banding: the spiked-PNG aHash
    // is its closed-form spike mask (base md5 bit XOR the variant
    // flips), and the oracle takes the plain quadratic hamming form —
    // the pigeonhole band join is a plan choice, exhaustive for
    // dist <= 3 by construction.
    "q5H_image_near_dup" ->
      """WITH ids AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v
        |             FROM documents WHERE doc_id < 200),
        |bits AS (
        |  SELECT doc_id, i.i AS i,
        |    CASE WHEN
        |      (strpos('13579bdf', substr(md5(g || ':' || i.i), 1, 1)) > 0)
        |      <> (CASE v
        |            WHEN 1 THEN i.i = g % 64
        |            WHEN 2 THEN i.i = g % 64 OR i.i = (g + 32) % 64
        |            WHEN 3 THEN i.i % 8 = g % 8
        |            ELSE false END)
        |      THEN 1 ELSE 0 END AS bit
        |  FROM ids, LATERAL (SELECT unnest(range(0, 64)) AS i) i),
        |dist AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS BIGINT)
        |      AS dist
        |  FROM bits a JOIN bits b ON a.i = b.i AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, dist FROM dist
        |WHERE dist <= 3 ORDER BY doc_a, doc_b""".stripMargin,

    // Shard-sink mirror: tokenize + route + rank exactly as the Spark
    // side, rebuild each record's int32-LE bytes as lowercase hex
    // (printf per byte), string_agg per shard in pos order, md5 —
    // roundtrip pinned true (the Spark side proved it against the real
    // files; an oracle can only replay the arithmetic).
    "q5N_packed_shards" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    [('0x' || substr(md5(tok), 1, 8))::BIGINT % 2147483648
        |     for tok in list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                            x -> x <> '')] AS toks,
        |    md5(CAST(doc_id AS VARCHAR) || ':11') AS k
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, toks,
        |    CAST(('0x' || substr(k, 1, 8))::BIGINT % 8 AS INTEGER) AS shard,
        |    row_number() OVER (
        |      PARTITION BY CAST(('0x' || substr(k, 1, 8))::BIGINT % 8 AS INTEGER)
        |      ORDER BY k, doc_id) AS pos
        |  FROM t),
        |hx AS (
        |  SELECT shard, pos, len(toks) AS nt,
        |    printf('%02x%02x%02x%02x',
        |      len(toks) & 255, (len(toks) >> 8) & 255,
        |      (len(toks) >> 16) & 255, (len(toks) >> 24) & 255) ||
        |    array_to_string(list_transform(toks, v ->
        |      printf('%02x%02x%02x%02x',
        |        v & 255, (v >> 8) & 255, (v >> 16) & 255, (v >> 24) & 255)), '')
        |      AS dochex
        |  FROM sh)
        |SELECT shard,
        |  count(*) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  CAST(4 * (count(*) + sum(nt)) AS BIGINT) AS byte_size,
        |  md5(string_agg(dochex, '' ORDER BY pos)) AS content_md5,
        |  true AS roundtrip
        |FROM hx
        |GROUP BY shard
        |ORDER BY shard""".stripMargin,

    // Capped mirror: the closed-form masks REBUILT into the 4×16-bit
    // band keys (bit i → band i//16, key bit i%16 — exactly aHash's
    // row-major lo/hi packing), buckets kept at or under the cap,
    // candidates from kept-band agreement only, then the full hamming
    // verify.
    "q5M_image_near_dup_capped" ->
      """WITH ids AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v
        |             FROM documents WHERE doc_id < 200),
        |bits AS (
        |  SELECT doc_id, i.i AS i,
        |    CASE WHEN
        |      (strpos('13579bdf', substr(md5(g || ':' || i.i), 1, 1)) > 0)
        |      <> (CASE v
        |            WHEN 1 THEN i.i = g % 64
        |            WHEN 2 THEN i.i = g % 64 OR i.i = (g + 32) % 64
        |            WHEN 3 THEN i.i % 8 = g % 8
        |            ELSE false END)
        |      THEN 1 ELSE 0 END AS bit
        |  FROM ids, LATERAL (SELECT unnest(range(0, 64)) AS i) i),
        |bk AS (
        |  SELECT doc_id, i // 16 AS band,
        |         sum(CAST(bit AS BIGINT) << (i % 16)) AS bkey
        |  FROM bits GROUP BY doc_id, i // 16),
        |keep AS (
        |  SELECT band, bkey FROM bk
        |  GROUP BY band, bkey HAVING count(*) <= 3),
        |kb AS (
        |  SELECT b.doc_id, b.band, b.bkey
        |  FROM bk b JOIN keep USING (band, bkey)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM kb a JOIN kb b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |dist AS (
        |  SELECT c.doc_a, c.doc_b,
        |    CAST(sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS BIGINT)
        |      AS dist
        |  FROM cand c
        |  JOIN bits a ON a.doc_id = c.doc_a
        |  JOIN bits b ON b.doc_id = c.doc_b AND b.i = a.i
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, dist FROM dist
        |WHERE dist <= 3 ORDER BY doc_a, doc_b""".stripMargin,

    // Cluster mirror: the q5H pair derivation (closed-form masks,
    // quadratic hamming) feeding three unrolled HashMin rounds over the
    // bidirected pair graph with self-loops — the q4W replay idiom.
    "q5I_image_near_dup_clusters" -> {
      val rounds = (1 to 3).map { i =>
        val prev = if (i == 1) "l0" else s"l${i - 1}"
        s"""l$i AS (
           |  SELECT e.dst AS node, min(l.comp) AS comp
           |  FROM bi e JOIN $prev l ON l.node = e.src GROUP BY e.dst)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH ids AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v
         |             FROM documents WHERE doc_id < 200),
         |bits AS (
         |  SELECT doc_id, i.i AS i,
         |    CASE WHEN
         |      (strpos('13579bdf', substr(md5(g || ':' || i.i), 1, 1)) > 0)
         |      <> (CASE v
         |            WHEN 1 THEN i.i = g % 64
         |            WHEN 2 THEN i.i = g % 64 OR i.i = (g + 32) % 64
         |            WHEN 3 THEN i.i % 8 = g % 8
         |            ELSE false END)
         |      THEN 1 ELSE 0 END AS bit
         |  FROM ids, LATERAL (SELECT unnest(range(0, 64)) AS i) i),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bits a JOIN bits b ON a.i = b.i AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |  HAVING sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) <= 3),
         |und AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |        UNION ALL SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS node FROM und),
         |bi AS (SELECT src, dst FROM und
         |       UNION ALL SELECT node, node FROM nodes),
         |l0 AS (SELECT node, node AS comp FROM nodes),
         |$rounds
         |SELECT node AS doc_id, comp AS cluster FROM l3
         |ORDER BY doc_id""".stripMargin
    },

    // Video-fingerprint mirror WITHOUT a container or codec: per
    // sampled frame, the q5G aHash bit arithmetic over the closed-form
    // pixel formula v = (id + 3f + (x·w)//8 + (y·h)//8) % 256, then the
    // same sorted frame-hash fingerprint and exact grouping.
    "q5J_video_fingerprint" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 50),
        |geo AS (
        |  SELECT doc_id, 8 + doc_id % 5 AS w, 8 + (2*doc_id) % 5 AS h,
        |         4 + doc_id % 3 AS n
        |  FROM ids),
        |fr AS (
        |  SELECT g.*, f.f AS fi
        |  FROM geo g, LATERAL (SELECT unnest([0, 2, 4]) AS f) f
        |  WHERE f.f < g.n),
        |grid AS (
        |  SELECT r.doc_id, r.fi, x.x, y.y,
        |    (r.doc_id + 3*r.fi + (x.x*r.w)//8 + (y.y*r.h)//8) % 256 AS v
        |  FROM fr r,
        |       LATERAL (SELECT unnest(range(0, 8)) AS x) x,
        |       LATERAL (SELECT unnest(range(0, 8)) AS y) y),
        |tot AS (SELECT doc_id, fi, CAST(sum(v) AS BIGINT) AS total
        |        FROM grid GROUP BY 1, 2),
        |bits AS (
        |  SELECT g.doc_id, g.fi,
        |    CAST(sum(CASE WHEN g.v*64 > t.total AND g.y*8 + g.x >= 32
        |      THEN CAST(1 AS BIGINT) << (g.y*8 + g.x - 32)
        |      ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(sum(CASE WHEN g.v*64 > t.total AND g.y*8 + g.x < 32
        |      THEN CAST(1 AS BIGINT) << (g.y*8 + g.x)
        |      ELSE 0 END) AS BIGINT) AS lo
        |  FROM grid g JOIN tot t USING (doc_id, fi) GROUP BY 1, 2),
        |vfp AS (
        |  SELECT doc_id,
        |    string_agg(fi || ':' || hi || ':' || lo, '|'
        |      ORDER BY fi || ':' || hi || ':' || lo) AS fp
        |  FROM bits GROUP BY doc_id)
        |SELECT fp, count(*) AS n_videos,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM vfp GROUP BY fp ORDER BY min_doc""".stripMargin,

    // Incremental mirror: the q5H mask arithmetic on both sides — the
    // corpus masks keyed by doc_id, the incoming masks by doc_id % 200
    // — and the plain quadratic cross-set hamming (banding and the
    // broadcast direction are plan choices).
    "q5L_incremental_image_dedup" ->
      """WITH mask AS (
        |  SELECT cid, i.i AS i,
        |    CASE WHEN
        |      (strpos('13579bdf',
        |        substr(md5((cid // 4) || ':' || i.i), 1, 1)) > 0)
        |      <> (CASE cid % 4
        |            WHEN 1 THEN i.i = (cid // 4) % 64
        |            WHEN 2 THEN i.i = (cid // 4) % 64
        |                     OR i.i = ((cid // 4) + 32) % 64
        |            WHEN 3 THEN i.i % 8 = (cid // 4) % 8
        |            ELSE false END)
        |      THEN 1 ELSE 0 END AS bit
        |  FROM (SELECT DISTINCT doc_id % 200 AS cid FROM documents
        |        WHERE doc_id < 240) c,
        |       LATERAL (SELECT unnest(range(0, 64)) AS i) i),
        |corp AS (SELECT doc_id, doc_id AS cid FROM documents
        |         WHERE doc_id < 200),
        |inc AS (SELECT doc_id, doc_id % 200 AS cid FROM documents
        |        WHERE doc_id >= 200 AND doc_id < 240),
        |dist AS (
        |  SELECT i.doc_id AS inc_id, c.doc_id AS corpus_id,
        |    CAST(sum(CASE WHEN mi.bit <> mc.bit THEN 1 ELSE 0 END)
        |      AS BIGINT) AS dist
        |  FROM inc i JOIN mask mi ON mi.cid = i.cid
        |       JOIN corp c ON true
        |       JOIN mask mc ON mc.cid = c.cid AND mc.i = mi.i
        |  GROUP BY 1, 2)
        |SELECT inc_id, corpus_id, dist FROM dist
        |WHERE dist <= 3 ORDER BY inc_id, corpus_id""".stripMargin,

    // identical output contract to q5L — same pairs, same distances
    // (the twin changes the JOIN SHAPE, not the math)
    "q5R_image_near_dup_bucketed" ->
      """WITH mask AS (
        |  SELECT cid, i.i AS i,
        |    CASE WHEN
        |      (strpos('13579bdf',
        |        substr(md5((cid // 4) || ':' || i.i), 1, 1)) > 0)
        |      <> (CASE cid % 4
        |            WHEN 1 THEN i.i = (cid // 4) % 64
        |            WHEN 2 THEN i.i = (cid // 4) % 64
        |                     OR i.i = ((cid // 4) + 32) % 64
        |            WHEN 3 THEN i.i % 8 = (cid // 4) % 8
        |            ELSE false END)
        |      THEN 1 ELSE 0 END AS bit
        |  FROM (SELECT DISTINCT doc_id % 200 AS cid FROM documents
        |        WHERE doc_id < 240) c,
        |       LATERAL (SELECT unnest(range(0, 64)) AS i) i),
        |corp AS (SELECT doc_id, doc_id AS cid FROM documents
        |         WHERE doc_id < 200),
        |inc AS (SELECT doc_id, doc_id % 200 AS cid FROM documents
        |        WHERE doc_id >= 200 AND doc_id < 240),
        |dist AS (
        |  SELECT i.doc_id AS inc_id, c.doc_id AS corpus_id,
        |    CAST(sum(CASE WHEN mi.bit <> mc.bit THEN 1 ELSE 0 END)
        |      AS BIGINT) AS dist
        |  FROM inc i JOIN mask mi ON mi.cid = i.cid
        |       JOIN corp c ON true
        |       JOIN mask mc ON mc.cid = c.cid AND mc.i = mi.i
        |  GROUP BY 1, 2)
        |SELECT inc_id, corpus_id, dist FROM dist
        |WHERE dist <= 3 ORDER BY inc_id, corpus_id""".stripMargin,

    // Sitemap mirror: the distinct closed-form canonical URLs + the
    // g-derived lastmod — never a replay of the XML writer or parser.
    "q5S_sitemap_ingest" ->
      s"""WITH ${CurationQueries.duckUrlBase}
         |SELECT DISTINCT ${CurationQueries.duckCanonClosedForm} AS loc,
         |  CASE WHEN g % 4 = 0 THEN ''
         |       ELSE '2024-01-' || lpad(CAST((g % 28) + 1 AS VARCHAR), 2, '0')
         |  END AS lastmod
         |FROM mb
         |ORDER BY loc""".stripMargin,

    // Index-recursion mirror: q5S's closed form verbatim — the
    // sitemapindex hop, the gzip codec, the ignored decoy, and the
    // dangling reference must all be invisible in the output.
    "q5U_sitemap_index" ->
      s"""WITH ${CurationQueries.duckUrlBase}
         |SELECT DISTINCT ${CurationQueries.duckCanonClosedForm} AS loc,
         |  CASE WHEN g % 4 = 0 THEN ''
         |       ELSE '2024-01-' || lpad(CAST((g % 28) + 1 AS VARCHAR), 2, '0')
         |  END AS lastmod
         |FROM mb
         |ORDER BY loc""".stripMargin,

    // Audio-envelope mirror WITHOUT a RIFF parser: window w's |sample|
    // sum is exactly 64·A(g, w) (constant-amplitude square wave), and
    // the 64s cancel exactly in the integer quantization, so the level
    // replays as (A·31) // maxA straight from the amplitude formula.
    "q5K_audio_fingerprint" ->
      """WITH ids AS (SELECT doc_id, doc_id // 5 AS g
        |             FROM documents WHERE doc_id < 50),
        |amp AS (
        |  SELECT doc_id, w.w AS w,
        |    200 + 150 * ((strpos('0123456789abcdef',
        |      substr(md5(g || ':' || w.w), 1, 1)) - 1) % 8) AS a
        |  FROM ids, LATERAL (SELECT unnest(range(0, 8)) AS w) w),
        |mx AS (SELECT doc_id, max(a) AS ma FROM amp GROUP BY 1),
        |lv AS (SELECT a.doc_id, a.w, (a.a * 31) // m.ma AS level
        |       FROM amp a JOIN mx m USING (doc_id)),
        |afp AS (
        |  SELECT doc_id,
        |    string_agg(CAST(level AS VARCHAR), '-' ORDER BY w) AS afp
        |  FROM lv GROUP BY doc_id)
        |SELECT afp, count(*) AS n_clips,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM afp GROUP BY afp ORDER BY min_doc""".stripMargin,

    // Mixed-corpus mirror: the txt half is byte-identity, the pdf half
    // is the lossless q57 round-trip — so the whole scan reduces to the
    // table plus the closed-form fmt rule.
    "q5A_dir_scan_union" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 2 = 0 THEN 'txt' ELSE 'pdf' END AS fmt,
        |       trim(text) AS page_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // HTML-strip mirror: the correct output of stripping the known
    // wrapper is stated literally — headline text survives, script/
    // style content vanishes, the footer entities decode (named forms
    // as chr() literals; the unknown &bogus; survives as text).
    "q5E_html_strip" ->
      """SELECT doc_id,
        |       'Doc ' || doc_id || ' ' || trim(text) || ' & footer ' ||
        |         chr(8212) || ' ' || chr(169) || '2024 ' || chr(8230) ||
        |         ' &bogus;' AS clean_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Gzip mirror: the codec round-trip is byte-lossless, so the scan
    // reduces to the table.
    "q5D_gzip_ingest" ->
      """SELECT doc_id, text AS doc_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // WARC mirror: byte-exact round-trip, so the oracle is the table
    "q5O_warc_ingest" ->
      """SELECT doc_id, text AS doc_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q5Q_warc_gz_ingest" ->
      """SELECT doc_id, text AS doc_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Charset mirror: the parsed charset token and the decoded text
    // are CLOSED FORMS of doc_id (é = chr(233), ü = chr(252),
    // € = chr(8364)) — the decode must invert each class's encode
    // byte-exactly, including the windows-1252 € that a strict
    // ISO-8859-1 decode cannot produce.
    "q5T_warc_charset" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 4 IN (1, 2) THEN 'iso-8859-1'
        |       WHEN doc_id % 4 = 0 THEN 'utf-8' ELSE '' END AS charset,
        |  md5(text || CASE doc_id % 4
        |        WHEN 0 THEN ' caf' || chr(233)
        |        WHEN 1 THEN ' caf' || chr(233) || ' ' || chr(252) || 'ber'
        |        WHEN 2 THEN ' ' || chr(8364) || '9'
        |        ELSE ' plain' END) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Crawl-to-text mirror: q2O's CTE chain (the WARC leg is byte-exact
    // per q5O, so the oracle's job is the extraction + gate)
    "q5P_warc_html_pipeline" ->
      s"""${TextQueries.duckHtmlCtes}
         |SELECT c.doc_id,
         |  regexp_extract(c.html, '(?is)<title[^>]*>(.*?)</title>', 1) AS title,
         |  md5(c.txt) AS text_md5
         |FROM cln c JOIN anch a USING (doc_id)
         |WHERE (CASE WHEN len(c.txt) <= 0 THEN 0.0
         |            ELSE round(CAST(a.alen AS DOUBLE) / CAST(len(c.txt) AS DOUBLE), 6)
         |       END) <= 0.2
         |ORDER BY c.doc_id""".stripMargin,

    // JSONL mirror WITHOUT parsing a line: the corruption rule is
    // closed-form (doc_id % 97 == 0 → truncated line → null fields +
    // corrupt flag), so both populations replay from the table.
    "q59_jsonl_ingest" ->
      """WITH good AS (
        |  SELECT doc_id, CAST(len(text) AS INT) AS text_len, false AS corrupt
        |  FROM documents WHERE doc_id % 97 <> 0),
        |bad AS (
        |  SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INT) AS text_len,
        |         true AS corrupt
        |  FROM documents WHERE doc_id % 97 = 0)
        |SELECT * FROM good UNION ALL SELECT * FROM bad
        |ORDER BY corrupt, doc_id""".stripMargin,

    // ORC mirror: the closed form over the source table — the Spark
    // side proved the bytes round-tripped through the real files.
    "q8T_orc_ingest" ->
      """SELECT doc_id, md5(coalesce(text, '')) AS text_md5, lang, source
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // CSV mirror: good rows keep their id, corrupt rows null ONLY the
    // id — the text cell parses either way (CSV's cell-local failure
    // model), so both populations carry the real text md5.
    "q8M_csv_ingest" ->
      """WITH good AS (
        |  SELECT doc_id, md5(text) AS text_md5, false AS corrupt
        |  FROM documents WHERE doc_id % 89 <> 0),
        |bad AS (
        |  SELECT CAST(NULL AS BIGINT) AS doc_id, md5(text) AS text_md5,
        |         true AS corrupt
        |  FROM documents WHERE doc_id % 89 = 0)
        |SELECT * FROM good UNION ALL SELECT * FROM bad
        |ORDER BY corrupt, doc_id, text_md5""".stripMargin,

    // Video mirror WITHOUT a container: geometry, sampled frame indices
    // (0, 2, 4 capped by the frame count) and every pixel replay from
    // the closed-form v(f, x, y) = (id + 3f + x + y) % 256.
    "q5C_video_frames" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 50),
        |geo AS (
        |  SELECT doc_id, 8 + doc_id % 5 AS w, 8 + (2*doc_id) % 5 AS h,
        |         4 + doc_id % 3 AS n
        |  FROM ids),
        |fr AS (
        |  SELECT g.*, f.f AS frame_index
        |  FROM geo g, LATERAL (SELECT unnest([0, 2, 4]) AS f) f
        |  WHERE f.f < g.n),
        |px AS (
        |  SELECT r.doc_id, r.frame_index, r.w, r.h,
        |         (r.doc_id + 3*r.frame_index + x.x + y.y) % 256 AS v
        |  FROM fr r,
        |       LATERAL (SELECT unnest(range(0, r.w)) AS x) x,
        |       LATERAL (SELECT unnest(range(0, r.h)) AS y) y)
        |SELECT doc_id, CAST(frame_index AS INT) AS frame_index,
        |       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       true AS decode_ok,
        |       CAST(sum(v) AS BIGINT) AS sum_r,
        |       CAST(count(*) AS BIGINT) AS n_px
        |FROM px GROUP BY 1, 2, 3, 4 ORDER BY doc_id, frame_index""".stripMargin,

    // MJPEG mirror WITHOUT a codec: geometry, sampled frame indices and
    // pixel COUNTS replay from the closed forms; pixel values are lossy
    // by construction and stay out of the oracle.
    "q5F_mjpeg_frames" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 40),
        |geo AS (
        |  SELECT doc_id, 16 + 8*(doc_id % 3) AS w,
        |         16 + 8*((doc_id + 1) % 3) AS h,
        |         4 + doc_id % 3 AS n
        |  FROM ids),
        |fr AS (
        |  SELECT g.*, f.f AS frame_index
        |  FROM geo g, LATERAL (SELECT unnest([0, 2, 4]) AS f) f
        |  WHERE f.f < g.n)
        |SELECT doc_id, CAST(frame_index AS INT) AS frame_index,
        |       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       true AS decode_ok,
        |       CAST(w * h AS BIGINT) AS n_px
        |FROM fr ORDER BY doc_id, frame_index""".stripMargin,

    // Resize mirror WITHOUT a pixel: replay the synthetic pattern
    // v(x,y) = (id + x + y) % 256 through the nearest-neighbor map
    // src = floor(out · srcDim / 8) in exact integer arithmetic.
    "q5B_image_resize" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 50),
        |dims AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (3*doc_id) % 9 AS h
        |  FROM ids),
        |px AS (
        |  SELECT d.doc_id,
        |         (d.doc_id + (x.x * d.w) // 8 + (y.y * d.h) // 8) % 256 AS v
        |  FROM dims d,
        |       LATERAL (SELECT unnest(range(0, 8)) AS x) x,
        |       LATERAL (SELECT unnest(range(0, 8)) AS y) y)
        |SELECT doc_id, true AS resize_ok, 8 AS width, 8 AS height,
        |       CAST(sum(v) AS BIGINT) AS sum_r,
        |       CAST(count(*) AS BIGINT) AS n_px
        |FROM px GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // WAV mirror WITHOUT a decoder: replays syntheticWavs' closed-form
    // sample formula s(k) = (id*31 + k*7919) % 4001 - 2000 over the
    // interleaved sample index range in exact BIGINT arithmetic.
    "q58_audio_decode" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 50),
        |geo AS (
        |  SELECT doc_id,
        |         8000 + (doc_id % 4) * 4000 AS sample_rate,
        |         256 + (doc_id % 16) * 16 AS n_frames,
        |         1 + doc_id % 2 AS channels
        |  FROM ids),
        |smp AS (
        |  SELECT g.doc_id,
        |         (g.doc_id * 31 + k.k * 7919) % 4001 - 2000 AS s
        |  FROM geo g,
        |       LATERAL (SELECT unnest(range(0, g.n_frames * g.channels)) AS k) k)
        |SELECT g.doc_id,
        |       CAST(g.sample_rate AS INT) AS sample_rate,
        |       CAST(g.n_frames AS INT) AS n_frames,
        |       CAST(g.channels AS INT) AS channels,
        |       'wav' AS format, true AS decode_ok,
        |       CAST(sum(abs(t.s)) AS BIGINT) AS sum_abs,
        |       CAST(sum(t.s) AS BIGINT) AS sum_signed,
        |       CAST(max(abs(t.s)) AS BIGINT) AS peak_abs,
        |       CAST(count(*) AS BIGINT) AS n_samples
        |FROM geo g JOIN smp t USING (doc_id)
        |GROUP BY 1, 2, 3, 4 ORDER BY doc_id""".stripMargin,

    // PDF round-trip mirror WITHOUT a PDF: the writer/extractor pair is
    // lossless (Identity-H + identity ToUnicode), so the oracle is just
    // the source text — any divergence anywhere in the PDF pipeline
    // (xref, page tree, Flate, CMap, hex strings, Tj) breaks the hash.
    // trim() mirrors the extractor's final trim (identity on this
    // fixture: no doc has leading/trailing whitespace).
    "q57_pdf_ingest" ->
      """SELECT doc_id, trim(text) AS page_text,
        |       CAST(len(trim(text)) AS INT) AS page_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    // The flagship RAG retrieval end-to-end in SQL: recursive chunker →
    // per-chunk trigram-murmur embedding → question embedding from the
    // same mirror over the literal → rounded cosine top-5. Every stage
    // reuses the exact fragments verified by q50/q51.
    "q52_rag_retrieve" ->
      s"""WITH RECURSIVE $duckChunkWalk,
         |chunks AS (
         |  SELECT w.doc_id, d.source,
         |         trim(substr(d.text, CAST(w.jstart_s AS INT) + 1,
         |                     CAST(w.jend_s - w.jstart_s AS INT))) AS chunk_text
         |  FROM walk w JOIN documents d USING (doc_id)),
         |csrc AS (
         |  SELECT doc_id, source, chunk_text,
         |         '^' || lower(chunk_text) || '$$' AS etext
         |  FROM chunks),
         |qsrc AS (
         |  SELECT 1 AS qk,
         |         '^' || lower('${graft.rag.RagChain.DefaultQuestion}') || '$$' AS etext),
         |${duckTrigramEmbed("e", "csrc", Seq("doc_id", "source", "chunk_text"))},
         |${duckTrigramEmbed("q", "qsrc", Seq("qk"))}
         |SELECT concat('doc_', c.doc_id, '_', substr(md5(c.chunk_text), 1, 8)) AS id,
         |       c.source, c.chunk_text,
         |       round(${duckCosine("c.vec", "qv.vec")}, 6) AS score
         |FROM evecs c, qvecs qv
         |ORDER BY score DESC, id
         |LIMIT 5""".stripMargin,

    // MMR greedy mirror: pool = exact top-50 by (rounded) query cosine;
    // each recursive step picks the remaining candidate maximizing
    // 0.5*score - 0.5*max(cosine to picked), ties resolving to the
    // earlier pool entry via the lexicographic (mmr, -rank) max — the
    // exact strict-> first-seen-wins semantics of Knn.mmrRerank.
    "q53_mmr_rerank" ->
      s"""WITH RECURSIVE q AS (
         |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |pool AS (
         |  SELECT vec_id, embedding,
         |         round(${duckCosine("embedding", "qv")}, 6) AS score,
         |         row_number() OVER (
         |           ORDER BY round(${duckCosine("embedding", "qv")}, 6) DESC,
         |                    vec_id) AS rnk
         |  FROM embeddings, q
         |  WHERE vec_id <> 0 AND ${duckCosine("embedding", "qv")} IS NOT NULL
         |  ORDER BY score DESC, vec_id
         |  LIMIT 50),
         |pc AS (
         |  SELECT a.vec_id AS a, b.vec_id AS b,
         |         ${duckCosine("a.embedding", "b.embedding")} AS c
         |  FROM pool a, pool b),
         |walk(iter, vec_id, score, mmr, picked) AS (
         |  SELECT 1, vec_id, score, 0.5 * score, [vec_id]
         |  FROM pool WHERE rnk = 1
         |  UNION ALL
         |  SELECT iter + 1,
         |         struct_extract(ms, 3), struct_extract(ms, 4),
         |         struct_extract(ms, 1), list_append(picked, struct_extract(ms, 3))
         |  FROM (
         |    SELECT w.iter AS iter, w.picked AS picked,
         |           max(ROW(c.mmr, -c.rnk, c.vec_id, c.score)) AS ms
         |    FROM walk w, (
         |      SELECT w2.iter AS it2, p.vec_id, p.score, p.rnk,
         |             0.5 * p.score - 0.5 * (
         |               SELECT max(pc.c) FROM pc
         |               WHERE pc.a = p.vec_id AND list_contains(w2.picked, pc.b)) AS mmr
         |      FROM walk w2, pool p
         |      WHERE NOT list_contains(w2.picked, p.vec_id) AND w2.iter < 5) c
         |    WHERE c.it2 = w.iter AND NOT list_contains(w.picked, c.vec_id)
         |      AND w.iter < 5
         |    GROUP BY w.iter, w.picked))
         |SELECT vec_id, score, round(mmr, 6) AS mmr, CAST(iter AS INT) AS rank
         |FROM walk ORDER BY rank""".stripMargin,

    "q41_doc_ids" ->
      """SELECT doc_id,
        |  concat('doc_', doc_id, '_', substr(md5(text), 1, 8)) AS id
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q42_upsert_last_wins" ->
      """WITH v0 AS (SELECT doc_id, text, 0 AS version FROM documents),
        |v1 AS (SELECT doc_id, upper(text) AS text, 1 AS version
        |       FROM documents WHERE doc_id < 50),
        |u AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                                   ORDER BY version DESC) AS rn FROM u)
        |SELECT doc_id, version, substr(text, 1, 40) AS head
        |FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    "q43_context_format" ->
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |scored AS (
         |  SELECT vec_id, round(${duckCosine("embedding", "qvec")}, 6) AS score
         |  FROM embeddings, q WHERE vec_id <> 0),
         |top AS (
         |  SELECT vec_id, score,
         |         row_number() OVER (ORDER BY score DESC, vec_id) AS rn
         |  FROM scored QUALIFY rn <= 5)
         |SELECT string_agg(
         |  concat('[Document ', rn, '] (Source: vec_', vec_id,
         |         ', Relevance: ', CAST(floor(score * 10000) AS BIGINT), ')'),
         |  chr(10) ORDER BY rn) AS context
         |FROM top""".stripMargin,

    // Window membership: starts s aligned to 15 min with s <= ts < s+1h
    // == floor15(ts) - j*15min for j in 0..3. epoch_us truncates the
    // nanos exactly like the Spark-side `ts div 1000` load path.
    "q48_sliding_windows" ->
      """WITH w AS (
        |  SELECT event_type, value,
        |    (epoch_us(ts) // 900000000) * 900000000 - j * 900000000 AS start_us
        |  FROM events, (SELECT unnest(range(0, 4)) AS j) js)
        |SELECT make_timestamp(start_us) AS win_start,
        |  make_timestamp(start_us + 3600000000) AS win_end,
        |  event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM w
        |GROUP BY start_us, event_type
        |ORDER BY win_start, event_type""".stripMargin,

    "q44_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                                           ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN gap_us > 600 * 1000000 THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM g
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q4A_rolling_avg" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |         round(sum(value), 2) AS v
        |  FROM events
        |  GROUP BY 1, 2)
        |SELECT event_type, hour, v,
        |  round(avg(v) OVER (PARTITION BY event_type ORDER BY hour
        |                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4)
        |    AS avg4h
        |FROM hourly
        |ORDER BY event_type, hour""".stripMargin,

    "q49_event_gaps" ->
      """WITH g AS (
        |  SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                                           ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |SELECT event_type, count(*) AS n_gaps,
        |  round(CAST(sum(gap_us) AS DOUBLE) / count(*) / 1000000.0, 6) AS avg_gap_s,
        |  max(gap_us) AS max_gap_us
        |FROM g
        |WHERE gap_us IS NOT NULL
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q55_chat_contextualize" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    'What is in doc ' || doc_id || '?' AS question,
        |    substr(text, 1, 30) AS answer
        |  FROM documents WHERE doc_id < 100),
        |h AS (
        |  SELECT source,
        |    list(struct_pack(question := question, answer := answer)
        |         ORDER BY doc_id) AS history
        |  FROM t GROUP BY source)
        |SELECT source,
        |  CASE WHEN len(history) = 0 THEN 'What changed?'
        |  ELSE 'Previous conversation:' || chr(10) ||
        |    array_to_string(
        |      ['Q: ' || x.question || chr(10) || 'A: ' || x.answer
        |       for x in history[greatest(len(history) - 2, 1):len(history)]],
        |      chr(10)) ||
        |    chr(10) || chr(10) || 'Current question: What changed?' END AS prompt
        |FROM h
        |ORDER BY source""".stripMargin,

    "q47_event_pairs_60s" ->
      """SELECT a.user_id, count(*) AS n_pairs,
        |  min(abs(epoch_us(a.ts) - epoch_us(b.ts))) AS min_gap_us
        |FROM events a
        |JOIN events b ON a.user_id = b.user_id
        |             AND a.event_id < b.event_id
        |             AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 60 * 1000000
        |GROUP BY a.user_id
        |ORDER BY a.user_id""".stripMargin,

    "q46_asof_last_order" ->
      """WITH ord AS (
        |  SELECT o_custkey AS user_id, o_orderdate,
        |         round(max(o_totalprice), 2) AS last_order_price
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, o.last_order_price
        |FROM events e
        |ASOF LEFT JOIN ord o
        |  ON e.user_id = o.user_id AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,

    "q45_json_extract" ->
      """SELECT event_type,
        |  round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6) AS avg_k,
        |  count(*) AS n
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // PageRank mirror: the identical integer fixed-point recurrence,
    // unrolled 5 rounds. `//` is DuckDB floor division == Scala long
    // `div` truncation on the all-non-negative operands here; sums CAST
    // back to BIGINT (DuckDB integer sums widen to HUGEINT) so schema
    // and values match Spark's longs exactly.
    "q4B_pagerank" -> {
      def iterCte(prev: String, cur: String): String =
        s"""$cur AS (
           |  SELECT n.node,
           |    CAST((SELECT t FROM consts) + coalesce(s.contrib, 0) AS BIGINT) AS r
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node,
           |      CAST(sum((((r.r * 85) // 100) * e.w) // o.outw) AS BIGINT) AS contrib
           |    FROM edges e
           |    JOIN $prev r ON r.node = e.src
           |    JOIN outw o ON o.node = e.src
           |    GROUP BY e.dst) s ON s.node = n.node)""".stripMargin
      val iters = List("r0" -> "it1", "it1" -> "it2", "it2" -> "it3",
        "it3" -> "it4", "it4" -> "it5")
        .map { case (p, c) => iterCte(p, c) }.mkString(",\n")
      s"""WITH seq AS (
         |  SELECT user_id, ts, event_id,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |  FROM events),
         |tr AS (
         |  SELECT k AS src,
         |    lead(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
         |  FROM seq),
         |edges AS (
         |  SELECT src, dst, count(*) AS w FROM tr
         |  WHERE dst IS NOT NULL GROUP BY 1, 2),
         |nodes AS (SELECT src AS node FROM edges
         |          UNION SELECT dst FROM edges),
         |outw AS (SELECT src AS node, CAST(sum(w) AS BIGINT) AS outw
         |         FROM edges GROUP BY 1),
         |consts AS (SELECT count(*) AS n,
         |    1000000000000 // count(*) AS base,
         |    ((1000000000000 // count(*)) * 15) // 100 AS t FROM nodes),
         |r0 AS (SELECT node, (SELECT base FROM consts) AS r FROM nodes),
         |$iters
         |SELECT node, r AS rank_pico,
         |  round(CAST(r AS DOUBLE) / 1000000000000.0, 6) AS rank
         |FROM it5 ORDER BY node""".stripMargin
    },

    // Personalized-PageRank mirror: q4B's recurrence with the teleport
    // restricted to the seed flag; consts derive from the SEED count.
    "q4F_personalized_pagerank" -> {
      def iterCte(prev: String, cur: String): String =
        s"""$cur AS (
           |  SELECT n.node,
           |    CAST((CASE WHEN n.seed THEN (SELECT t FROM consts) ELSE 0 END)
           |         + coalesce(s.contrib, 0) AS BIGINT) AS r
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node,
           |      CAST(sum((((r.r * 85) // 100) * e.w) // o.outw) AS BIGINT) AS contrib
           |    FROM edges e
           |    JOIN $prev r ON r.node = e.src
           |    JOIN outw o ON o.node = e.src
           |    GROUP BY e.dst) s ON s.node = n.node)""".stripMargin
      val iters = List("r0" -> "it1", "it1" -> "it2", "it2" -> "it3",
        "it3" -> "it4", "it4" -> "it5")
        .map { case (p, c) => iterCte(p, c) }.mkString(",\n")
      s"""WITH seq AS (
         |  SELECT user_id, ts, event_id,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |  FROM events),
         |tr AS (
         |  SELECT k AS src,
         |    lead(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
         |  FROM seq),
         |edges AS (
         |  SELECT src, dst, count(*) AS w FROM tr
         |  WHERE dst IS NOT NULL GROUP BY 1, 2),
         |seeds AS (SELECT CAST(unnest(range(0, 10)) AS BIGINT) AS node),
         |n0 AS (SELECT src AS node FROM edges
         |       UNION SELECT dst FROM edges
         |       UNION SELECT node FROM seeds),
         |nodes AS (
         |  SELECT n0.node, (s.node IS NOT NULL) AS seed
         |  FROM n0 LEFT JOIN seeds s ON s.node = n0.node),
         |outw AS (SELECT src AS node, CAST(sum(w) AS BIGINT) AS outw
         |         FROM edges GROUP BY 1),
         |consts AS (SELECT count(*) AS s,
         |    1000000000000 // count(*) AS base,
         |    ((1000000000000 // count(*)) * 15) // 100 AS t FROM seeds),
         |r0 AS (SELECT node,
         |  CASE WHEN seed THEN (SELECT base FROM consts) ELSE 0 END AS r
         |  FROM nodes),
         |$iters
         |SELECT node, r AS rank_pico,
         |  round(CAST(r AS DOUBLE) / 1000000000000.0, 6) AS rank
         |FROM it5 ORDER BY node""".stripMargin
    },

    // Triangle mirror: identical orientation, wedge join, and closure.
    "q4N_triangles" ->
      """WITH seq AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events),
        |tr AS (
        |  SELECT k AS src,
        |    lead(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM seq),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM tr WHERE dst IS NOT NULL AND least(src, dst) < greatest(src, dst)),
        |deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        |  GROUP BY node),
        |wd AS (SELECT CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS wedges,
        |              count(*) AS n_nodes FROM deg),
        |tri AS (
        |  SELECT count(*) AS triangles
        |  FROM und e1
        |  JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b)
        |SELECT n_nodes, wedges, CAST(triangles AS BIGINT) AS triangles,
        |  round(3.0 * CAST(triangles AS DOUBLE) / CAST(wedges AS DOUBLE), 6)
        |    AS clustering_coeff
        |FROM tri CROSS JOIN wd""".stripMargin,

    // Assortativity mirror: same undirected simple graph, exact BIGINT
    // moment sums, identical double-space Pearson formula.
    "q4O_assortativity" ->
      """WITH seq AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events),
        |tr AS (
        |  SELECT k AS src,
        |    lead(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM seq),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM tr WHERE dst IS NOT NULL AND least(src, dst) < greatest(src, dst)),
        |deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        |  GROUP BY node),
        |pairs AS (
        |  SELECT da.deg AS x, db.deg AS y
        |  FROM und
        |  JOIN deg da ON da.node = und.a
        |  JOIN deg db ON db.node = und.b),
        |sym AS (SELECT x, y FROM pairs UNION ALL SELECT y AS x, x AS y FROM pairs),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m2,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM sym),
        |nn AS (SELECT count(*) AS n_nodes FROM deg)
        |SELECT n_nodes, m2 // 2 AS n_edges,
        |  round(CASE
        |    WHEN CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0
        |      OR CAST(m2 AS DOUBLE) * CAST(syy AS DOUBLE)
        |         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) = 0.0
        |    THEN NULL
        |    ELSE (CAST(m2 AS DOUBLE) * CAST(sxy AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / sqrt((CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE)
        |              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |           * (CAST(m2 AS DOUBLE) * CAST(syy AS DOUBLE)
        |              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    END, 6) AS assortativity
        |FROM m CROSS JOIN nn""".stripMargin,

    // Z-order mirror: identical clamp + bit-interleave integer
    // arithmetic ((v >> i) % 2 with long power-of-two weights), same
    // bucket floor-division.
    "q4C_zorder" -> {
      val terms = (0 until 10).map { i =>
        s"((cx >> $i) % 2) * ${1L << (2 * i)} + ((cy >> $i) % 2) * ${1L << (2 * i + 1)}"
      }.mkString(" + ")
      s"""WITH base AS (
         |  SELECT user_id % 1024 AS x,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS y
         |  FROM events),
         |cl AS (
         |  SELECT x, y, least(greatest(x, 0), 1023) AS cx,
         |         least(greatest(y, 0), 1023) AS cy
         |  FROM base),
         |z AS (SELECT x, y, ($terms) // 4096 AS zbucket FROM cl)
         |SELECT zbucket, count(*) AS n,
         |  min(x) AS x_min, max(x) AS x_max,
         |  min(y) AS y_min, max(y) AS y_max
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // Hilbert mirror: the identical per-bit-level rotation chain as
    // CTEs (each referencing only its predecessor), identical clamp,
    // identical CASE quadrant table.
    "q4Z_hilbert" -> {
      val bits = 10
      val max = (1L << bits) - 1
      val levels = (bits - 1 to 0 by -1).map { i =>
        val s = 1L << i
        val s2 = s * s
        val prev = if (i == bits - 1) "h_in" else s"lv${i + 1}"
        s"""lv$i AS (
           |  SELECT x, y,
           |    CASE WHEN hry = 0 THEN (CASE WHEN hrx = 1
           |      THEN $max - hy ELSE hy END) ELSE hx END AS hx,
           |    CASE WHEN hry = 0 THEN (CASE WHEN hrx = 1
           |      THEN $max - hx ELSE hx END) ELSE hy END AS hy,
           |    hd + $s2 * (CASE WHEN hrx = 0 THEN hry
           |      WHEN hry = 0 THEN 3 ELSE 2 END) AS hd
           |  FROM (SELECT x, y, hx, hy, hd,
           |      CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS hrx,
           |      CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS hry
           |    FROM $prev))""".stripMargin
      }.mkString(",\n")
      s"""WITH base AS (
         |  SELECT user_id % 1024 AS x,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS y
         |  FROM events),
         |h_in AS (
         |  SELECT x, y,
         |    least(greatest(x, 0), $max) AS hx,
         |    least(greatest(y, 0), $max) AS hy,
         |    CAST(0 AS BIGINT) AS hd
         |  FROM base),
         |$levels
         |SELECT hd // 4096 AS hbucket, count(*) AS n,
         |  min(x) AS x_min, max(x) AS x_max,
         |  min(y) AS y_min, max(y) AS y_max
         |FROM lv0 GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // CDC mirror: identical gear predicate (leading-8-hex md5 value mod
    // 16 over the shared hexValue arithmetic), identical final-token
    // close, identical slice-and-join chunk assembly via list
    // comprehensions. The chunk CTEs are shared with q4E.
    "q4D_cdc_chunks" ->
      s"""WITH $duckCdcChunkCtes
         |SELECT doc_id, chunk_idx,
         |  CAST(len(string_split(chunk_text, ' ')) AS INT) AS n_tokens,
         |  md5(chunk_text) AS chunk_md5
         |FROM x ORDER BY doc_id, chunk_idx""".stripMargin,

    // Funnel mirror: identical chained first-occurrence semantics.
    "q4G_funnel" ->
      """WITH t1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN t1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1),
        |t3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN t2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1)
        |SELECT
        |  (SELECT count(*) FROM t1) AS step_view,
        |  (SELECT count(*) FROM t2) AS step_click,
        |  (SELECT count(*) FROM t3) AS step_purchase,
        |  round(CAST((SELECT count(*) FROM t2) AS DOUBLE)
        |        / CAST((SELECT count(*) FROM t1) AS DOUBLE), 6) AS conv_click,
        |  round(CAST((SELECT count(*) FROM t3) AS DOUBLE)
        |        / CAST((SELECT count(*) FROM t2) AS DOUBLE), 6) AS conv_purchase""".stripMargin,

    // Health-report mirror: each metric is its verified oracle fragment
    // (q30 md5 dedup, q20 token counts, q22 lang labels, q4E chunk
    // CTEs) unioned into (metric, value) rows.
    "q0L_corpus_report" ->
      s"""WITH $duckCdcChunkCtes,
         |sized AS (SELECT md5(chunk_text) AS h,
         |  CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS nt FROM x),
         |dict AS (SELECT h, CAST(count(*) AS BIGINT) AS n, min(nt) AS nt
         |         FROM sized GROUP BY h),
         |cdc AS (SELECT round(CAST(sum((n - 1) * nt) AS DOUBLE)
         |          / CAST(sum(n * nt) AS DOUBLE), 6) AS v FROM dict),
         |bs AS (SELECT
         |  count(*) AS n_docs,
         |  count(DISTINCT md5(text)) AS n_distinct,
         |  round(avg(CAST(len(${DuckSql.toks}) AS DOUBLE)), 6) AS mean_tokens,
         |  round(avg(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END), 6) AS en_rate
         |  FROM documents)
         |SELECT metric, value FROM (
         |  SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM bs
         |  UNION ALL
         |  SELECT 'dup_doc_rate',
         |    round(1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
         |  FROM bs
         |  UNION ALL
         |  SELECT 'mean_tokens', mean_tokens FROM bs
         |  UNION ALL
         |  SELECT 'en_rate', en_rate FROM bs
         |  UNION ALL
         |  SELECT 'cdc_savings', v FROM cdc)
         |ORDER BY metric""".stripMargin,

    // Transition-matrix mirror: same per-user lead pairs and row
    // normalization.
    "q4J_transitions" ->
      """WITH tr AS (
        |  SELECT event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |cnt AS (
        |  SELECT cur, nxt, count(*) AS n FROM tr
        |  WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT cur, CAST(sum(n) AS BIGINT) AS row_n
        |        FROM cnt GROUP BY 1)
        |SELECT c.cur, c.nxt, c.n,
        |  round(CAST(c.n AS DOUBLE) / CAST(t.row_n AS DOUBLE), 6) AS p
        |FROM cnt c JOIN tot t USING (cur)
        |ORDER BY cur, nxt""".stripMargin,

    // CUSUM mirror: identical day-ordered running deviation sum (both
    // engines fold the same doubles left-to-right over the same order).
    "q4L_cusum" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', ts) AS day, count(*) AS n
        |  FROM events GROUP BY 1),
        |m AS (SELECT avg(CAST(n AS DOUBLE)) AS mu FROM daily)
        |SELECT day, n,
        |  round(sum(CAST(n AS DOUBLE) - mu) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) + 0.0 AS cusum
        |FROM daily CROSS JOIN m
        |ORDER BY day""".stripMargin,

    // Seasonality mirror: DuckDB dayofweek is 0=Sunday; +1 matches
    // Spark's 1=Sunday.
    "q4M_seasonality" ->
      """SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
        |  CAST(hour(ts) AS INT) AS hr,
        |  count(*) AS n, round(avg(value), 4) AS avg_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY dow, hr""".stripMargin,

    // Anomaly mirror: identical daily counts and z-scores.
    "q4K_anomaly_days" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', ts) AS day, count(*) AS n
        |  FROM events GROUP BY 1),
        |s AS (SELECT avg(CAST(n AS DOUBLE)) AS mu,
        |             stddev_samp(CAST(n AS DOUBLE)) AS sd FROM daily)
        |SELECT day, n, round((CAST(n AS DOUBLE) - mu) / sd, 4) AS z,
        |  CAST(abs(round((CAST(n AS DOUBLE) - mu) / sd, 4)) > 2.0 AS INT)
        |    AS anomaly
        |FROM daily CROSS JOIN s
        |ORDER BY day""".stripMargin,

    // Welch mirror: identical closed-form arithmetic from the same
    // per-arm aggregates.
    "q4I_ab_test" ->
      """WITH s AS (
        |  SELECT user_id % 2 AS arm, count(*) AS n,
        |    avg(value) AS m, var_samp(value) AS v
        |  FROM events GROUP BY 1),
        |a AS (SELECT n AS n_a, m AS m_a, v AS v_a FROM s WHERE arm = 0),
        |b AS (SELECT n AS n_b, m AS m_b, v AS v_b FROM s WHERE arm = 1)
        |SELECT n_a, n_b,
        |  round(m_a, 4) AS mean_a, round(m_b, 4) AS mean_b,
        |  round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 4) AS t_welch,
        |  round(pow(v_a / n_a + v_b / n_b, 2)
        |        / (pow(v_a / n_a, 2) / (n_a - 1)
        |           + pow(v_b / n_b, 2) / (n_b - 1)), 2) AS df_welch
        |FROM a CROSS JOIN b""".stripMargin,

    // Cohort mirror: same first-day cohorts and day offsets.
    "q4H_cohorts" ->
      """WITH f AS (
        |  SELECT user_id, date_trunc('day', min(ts)) AS cohort
        |  FROM events GROUP BY 1),
        |act AS (
        |  SELECT DISTINCT f.cohort,
        |    datediff('day', f.cohort, date_trunc('day', e.ts)) AS day_off,
        |    e.user_id
        |  FROM events e JOIN f USING (user_id))
        |SELECT cohort, CAST(day_off AS INT) AS day_off,
        |  count(*) AS n_active
        |FROM act GROUP BY 1, 2
        |ORDER BY cohort, day_off""".stripMargin,

    // CDC dedup-ratio mirror: same chunk CTEs, then exact integer
    // chunk/token accounting over the md5 chunk dictionary.
    "q4E_cdc_dedup" ->
      s"""WITH $duckCdcChunkCtes,
         |sized AS (SELECT md5(chunk_text) AS h,
         |  CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS nt FROM x),
         |dict AS (SELECT h, CAST(count(*) AS BIGINT) AS n, min(nt) AS nt
         |         FROM sized GROUP BY h)
         |SELECT CAST(sum(n) AS BIGINT) AS total_chunks,
         |  CAST(count(*) AS BIGINT) AS distinct_chunks,
         |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
         |  CAST(sum(n * nt) AS BIGINT) AS total_tokens,
         |  CAST(sum((n - 1) * nt) AS BIGINT) AS dup_token_mass,
         |  round(CAST(sum((n - 1) * nt) AS DOUBLE)
         |        / CAST(sum(n * nt) AS DOUBLE), 6) AS savings
         |FROM dict""".stripMargin,

    // Composed-pipeline mirror: each CTE is the verified fragment of the
    // corresponding per-stage oracle (q60 scrub, q20-q22 filter formulas,
    // q30 dedup, q33 minhash/banding via DedupQueries' shared CTEs, q40
    // chunking). Quality/lang filters run UNROUNDED on both engines —
    // identical double arithmetic, so the boundary can't flip.
    "q69_training_pipeline" -> {
      import graft.functions.TextFunctions.{EMAIL_RE, SSN_RE, PHONE_RE,
        EN_STOP, DE_STOP, ES_STOP, FR_STOP}
      val toks = DuckSql.toks
      def hits(ws: Seq[String]) =
        s"len(list_filter($toks, t -> t IN (${ws.map(w => s"'$w'").mkString(", ")})))"
      s"""WITH cur AS (
         |  SELECT doc_id,
         |    regexp_replace(regexp_replace(regexp_replace(
         |      trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
         |      '$EMAIL_RE', '<EMAIL>', 'g'),
         |      '$SSN_RE', '<SSN>', 'g'),
         |      '$PHONE_RE', '<PHONE>', 'g') AS text
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, text,
         |    len($toks) AS nt,
         |    ${hits(EN_STOP)} AS en, ${hits(DE_STOP)} AS de,
         |    ${hits(ES_STOP)} AS es, ${hits(FR_STOP)} AS fr,
         |    0.4 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
         |           / CAST(length(text) AS DOUBLE))
         |    + 0.3 * least(1.0, CAST(len($toks) AS DOUBLE) / 100.0)
         |    + 0.3 * (CAST(${hits(EN_STOP)} AS DOUBLE) / CAST(len($toks) AS DOUBLE)) AS q
         |  FROM cur
         |  WHERE trim(text) <> ''),
         |filt AS (
         |  SELECT doc_id, text FROM scored
         |  WHERE nt >= 20
         |    AND greatest(en, de, es, fr) > 0 AND en = greatest(en, de, es, fr)
         |    AND q >= 0.45),
         |grp AS (SELECT md5(text) AS h, min(doc_id) AS keep FROM filt GROUP BY 1),
         |ex AS (SELECT f.doc_id, f.text FROM filt f JOIN grp g ON f.doc_id = g.keep),
         |sh AS (SELECT doc_id, unnest(${DuckSql.distinctGrams(3)}) AS sh FROM ex),
         |${DedupQueries.duckMinhashMh},
         |${DedupQueries.duckLshBuckets},
         |keep AS (
         |  SELECT band, bucket FROM buckets
         |  GROUP BY band, bucket HAVING count(*) <= ${DedupQueries.MaxBucketSize}),
         |kb AS (
         |  SELECT b.doc_id, b.band, b.bucket
         |  FROM buckets b JOIN keep USING (band, bucket)),
         |cand AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS nb
         |  FROM kb a
         |  JOIN kb b ON a.band = b.band AND a.bucket = b.bucket
         |               AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |losers AS (SELECT DISTINCT db AS doc_id FROM cand WHERE nb >= 2),
         |ded AS (
         |  SELECT e.doc_id, e.text FROM ex e
         |  WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = e.doc_id)),
         |idx AS (
         |  SELECT doc_id, text,
         |         unnest(range(0, (length(text) - 1) // 80 + 1)) AS chunk_index
         |  FROM ded WHERE length(text) > 0)
         |SELECT doc_id, chunk_index,
         |  substr(text, 80 * chunk_index + 1, 100) AS chunk_text,
         |  length(substr(text, 80 * chunk_index + 1, 100)) AS chunk_len
         |FROM idx
         |ORDER BY doc_id, chunk_index""".stripMargin
    },

    // Deterministic shards: md5("id:seed") is the shuffle key on both
    // engines; the shard is the key's leading 32 bits mod nShards
    // (DuckDB hex-parse, Spark conv(…,16,10)); rank is per-shard.
    "q6C_train_shards" ->
      """WITH keyed AS (
        |  SELECT doc_id,
        |         md5(CAST(doc_id AS VARCHAR) || ':7') AS k
        |  FROM documents),
        |sharded AS (
        |  SELECT doc_id, k,
        |         CAST(('0x' || substr(k, 1, 8))::BIGINT % 8 AS INTEGER) AS shard
        |  FROM keyed)
        |SELECT doc_id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard
        |              ORDER BY k, doc_id) AS INTEGER) AS pos_in_shard
        |FROM sharded
        |ORDER BY shard, pos_in_shard""".stripMargin,

    // HITS mirror: q4B's edge CTEs (DISTINCT edges — multi-edges
    // collapse, standard HITS), five unrolled a/h rounds with the same
    // truncating-div L1 renorm. Each half-round is ONE CTE referencing
    // its predecessor exactly once (normalizer via sum() OVER ()):
    // a multiply-referenced CTE chain gets INLINED by DuckDB and
    // re-evaluates the whole prefix per reference — 2^rounds blowup
    // (measured: the _raw/_q/join formulation never finished sf0.001).
    "q4T_hits" -> {
      def half(prev: String, out: String, joinKey: String,
               groupKey: String): String =
        s"""$out AS (
           |  SELECT node, raw // greatest(1,
           |      coalesce(CAST(sum(raw) OVER () AS BIGINT), 0)
           |      // 1000000000000) AS v
           |  FROM (
           |    SELECT n.node, coalesce(r.raw, 0) AS raw
           |    FROM nodes n LEFT JOIN (
           |      SELECT e.$groupKey AS node, CAST(sum(p.v) AS BIGINT) AS raw
           |      FROM edges e JOIN $prev p ON p.node = e.$joinKey
           |      GROUP BY e.$groupKey) r ON r.node = n.node))""".stripMargin
      val rounds = (1 to 5).map { i =>
        val hin = if (i == 1) "h0" else s"h${i - 1}"
        half(hin, s"a$i", "src", "dst") + ",\n" +
          half(s"a$i", s"h$i", "dst", "src")
      }.mkString(",\n")
      s"""WITH seq AS (
         |  SELECT user_id, ts, event_id,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |  FROM events),
         |tr AS (
         |  SELECT k AS src,
         |    lead(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
         |  FROM seq),
         |edges AS (
         |  SELECT DISTINCT src, dst FROM tr WHERE dst IS NOT NULL),
         |nodes AS (SELECT src AS node FROM edges
         |          UNION SELECT dst FROM edges),
         |consts AS (SELECT CASE WHEN count(*) = 0 THEN 0
         |    ELSE 1000000000000 // count(*) END AS base FROM nodes),
         |h0 AS (SELECT node, (SELECT base FROM consts) AS v FROM nodes),
         |$rounds
         |SELECT n.node, a5.v AS auth_pico, h5.v AS hub_pico,
         |  round(CAST(a5.v AS DOUBLE) / 1000000000000.0, 6) AS auth,
         |  round(CAST(h5.v AS DOUBLE) / 1000000000000.0, 6) AS hub
         |FROM nodes n
         |JOIN a5 ON a5.node = n.node
         |JOIN h5 ON h5.node = n.node
         |ORDER BY n.node""".stripMargin
    },

    // Interval-join mirror: the plain θ-join (DuckDB's IEJoin handles
    // it natively at oracle scale; the bin reshaping is Spark-side
    // physical-plan strategy, invisible in the result).
    "q4U_interval_join" ->
      """WITH promos AS (
        |  SELECT o_orderkey AS promo_key,
        |    epoch_us(o_orderdate) AS lo_us,
        |    epoch_us(o_orderdate) + 604800000000 AS hi_us
        |  FROM orders WHERE o_orderkey % 97 = 0)
        |SELECT promo_key, lo_us, count(*) AS n_shipped,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM promos JOIN lineitem
        |  ON epoch_us(l_shipdate) >= lo_us AND epoch_us(l_shipdate) < hi_us
        |GROUP BY promo_key, lo_us
        |ORDER BY promo_key""".stripMargin,

    // SCD2 mirror: identical three-step window chain — same-ts dedup by
    // highest orderkey, run collapse via lag (null-safe: IS DISTINCT
    // FROM), intervals via lead over survivors (the shared dim CTEs).
    "q4V_scd2" ->
      s"""WITH $duckScd2Dim
         |SELECT cust_key, priority, valid_from AS valid_from_us,
         |  lead(valid_from) OVER w AS valid_to_us,
         |  CAST(row_number() OVER w AS INTEGER) AS version,
         |  lead(valid_from) OVER w IS NULL AS is_current
         |FROM dim
         |WINDOW w AS (PARTITION BY cust_key ORDER BY valid_from)
         |ORDER BY cust_key, version""".stripMargin,

    // PIT mirror: the shared SCD2 dim probed by distinct (customer,
    // ship-ts) facts — argmax valid_from <= ship via one ranked
    // non-equi join (quadratic only within a customer's history at
    // oracle scale; the Spark side is the single-shuffle AsOf union
    // window).
    "q0T_scd2_pit" ->
      s"""WITH $duckScd2Dim,
         |fct AS (
         |  SELECT o_custkey AS cust_key, epoch_us(l_shipdate) AS ship_us,
         |    count(*) AS n
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2),
         |cand AS (
         |  SELECT f.cust_key, f.ship_us, f.n, d.priority,
         |    row_number() OVER (PARTITION BY f.cust_key, f.ship_us
         |                       ORDER BY d.valid_from DESC) AS rn
         |  FROM fct f LEFT JOIN dim d
         |    ON d.cust_key = f.cust_key AND d.valid_from <= f.ship_us)
         |SELECT priority AS priority_at_ship, CAST(sum(n) AS BIGINT) AS n_items
         |FROM cand WHERE rn = 1
         |GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin,

    // HashMin mirror: 10 unrolled min-label rounds over the shared
    // bidirected+self-loop graph; each round references only its
    // predecessor (linear under CTE inlining).
    "q4W_components" -> {
      val rounds = (1 to 10).map { i =>
        val prev = if (i == 1) "l0" else s"l${i - 1}"
        s"""l$i AS (
           |  SELECT e.dst AS node, min(l.comp) AS comp
           |  FROM bi e JOIN $prev l ON l.node = e.src GROUP BY e.dst)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH $duckBipartiteGraph,
         |l0 AS (SELECT node, node AS comp FROM nodes),
         |$rounds
         |SELECT node, comp FROM l10 ORDER BY node""".stripMargin
    },

    // BFS mirror: 6 unrolled min-plus rounds; the self-loop carries a
    // node's own distance (increment 0), neighbors add 1.
    "q4X_bfs_hops" -> {
      val rounds = (1 to 6).map { i =>
        val prev = if (i == 1) "d0" else s"d${i - 1}"
        s"""d$i AS (
           |  SELECT e.dst AS node,
           |    min(d.dist + CASE WHEN e.src = e.dst THEN 0 ELSE 1 END) AS dist
           |  FROM bi e JOIN $prev d ON d.node = e.src GROUP BY e.dst)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH $duckBipartiteGraph,
         |d0 AS (SELECT node, CAST(0 AS INTEGER) AS dist FROM nodes
         |       WHERE node >= 1000000 AND node % 10 = 0),
         |$rounds
         |SELECT node, CAST(dist AS INTEGER) AS dist
         |FROM d6 ORDER BY node""".stripMargin
    },

    // Label-propagation mirror: five unrolled vote rounds — per round
    // ONE aggregate+window subquery referencing only its predecessor
    // (count votes per (node, label), rank by count desc / label asc,
    // keep rank 1). Votes run over bi0 (no self-loops).
    "q4Y_label_prop" -> {
      val rounds = (1 to 5).map { i =>
        val prev = if (i == 1) "l0" else s"l${i - 1}"
        s"""l$i AS (
           |  SELECT node, comm FROM (
           |    SELECT e.dst AS node, l.comm AS comm,
           |      row_number() OVER (PARTITION BY e.dst
           |        ORDER BY count(*) DESC, l.comm) AS rn
           |    FROM bi0 e JOIN $prev l ON l.node = e.src
           |    GROUP BY e.dst, l.comm) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH $duckBipartiteGraph,
         |l0 AS (SELECT node, node AS comm FROM nodes),
         |$rounds
         |SELECT node, comm FROM l5 ORDER BY node""".stripMargin
    },

    // Trend mirror: the same exact integer moments and closed-form
    // divisions (slope reconstructed inline for the intercept, exactly
    // as the Spark expression tree does).
    "q4S_trend" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', ts) AS day, count(*) AS y
        |  FROM events GROUP BY 1),
        |d0 AS (SELECT min(day) AS d0 FROM daily),
        |pts AS (
        |  SELECT CAST(date_diff('day', CAST(d0 AS DATE), CAST(day AS DATE))
        |           AS BIGINT) AS x, y
        |  FROM daily CROSS JOIN d0),
        |m AS (
        |  SELECT count(*) AS nd,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(x * x) AS BIGINT) AS sxx,
        |         CAST(sum(x * y) AS BIGINT) AS sxy,
        |         CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM pts)
        |SELECT nd AS n_days,
        |  round(CAST(nd * sxy - sx * sy AS DOUBLE)
        |    / CAST(nd * sxx - sx * sx AS DOUBLE), 6) AS slope,
        |  round((CAST(sy AS DOUBLE)
        |      - (CAST(nd * sxy - sx * sy AS DOUBLE)
        |         / CAST(nd * sxx - sx * sx AS DOUBLE)) * sx)
        |    / nd, 6) AS intercept,
        |  round((CAST(nd * sxy - sx * sy AS DOUBLE)
        |      * CAST(nd * sxy - sx * sy AS DOUBLE))
        |    / (CAST(nd * sxx - sx * sx AS DOUBLE)
        |      * CAST(nd * syy - sy * sy AS DOUBLE)), 6) AS r2
        |FROM m""".stripMargin,

    // Markov-eval mirror: even-user transition counts, argmax with the
    // same (count desc, type asc) tie rule, odd-user top-1 scoring.
    "q4R_markov_eval" ->
      """WITH pairs AS (
        |  SELECT user_id, event_type AS cur,
        |         lead(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |p AS (SELECT * FROM pairs WHERE nxt IS NOT NULL),
        |train AS (
        |  SELECT cur, nxt, count(*) AS n FROM p
        |  WHERE user_id % 2 = 0 GROUP BY cur, nxt),
        |model AS (
        |  SELECT cur, nxt AS pred FROM (
        |    SELECT cur, nxt,
        |           row_number() OVER (PARTITION BY cur
        |             ORDER BY n DESC, nxt) AS rn
        |    FROM train) t
        |  WHERE rn = 1)
        |SELECT p.cur, count(*) AS n_test,
        |       CAST(sum(CASE WHEN p.nxt = m.pred THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_correct,
        |       round(CAST(sum(CASE WHEN p.nxt = m.pred THEN 1 ELSE 0 END)
        |         AS BIGINT) / count(*), 6) AS accuracy
        |FROM p JOIN model m USING (cur)
        |WHERE p.user_id % 2 <> 0
        |GROUP BY p.cur
        |ORDER BY p.cur""".stripMargin,

    // Basket mirror: distinct (order, brand) rows, okey-keyed pair
    // self-join, exact counts, the same double division per ratio
    // (BIGINT '/' is true division in both engines).
    "q4P_basket_rules" ->
      """WITH basket AS (
        |  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
        |total AS (SELECT count(DISTINCT okey) AS n_orders FROM basket),
        |singles AS (SELECT brand, count(*) AS nb FROM basket GROUP BY brand),
        |pairs AS (
        |  SELECT x.brand AS brand_a, y.brand AS brand_b,
        |         count(*) AS pair_n
        |  FROM basket x JOIN basket y
        |    ON x.okey = y.okey AND x.brand < y.brand
        |  GROUP BY 1, 2)
        |SELECT brand_a, brand_b, pair_n,
        |       round(pair_n / n_orders, 6) AS support,
        |       round(pair_n / a.nb, 6) AS conf_ab,
        |       round(pair_n / b.nb, 6) AS conf_ba,
        |       round(pair_n * n_orders / (a.nb * b.nb), 6) AS lift
        |FROM pairs
        |JOIN singles a ON a.brand = pairs.brand_a
        |JOIN singles b ON b.brand = pairs.brand_b
        |CROSS JOIN total
        |ORDER BY brand_a, brand_b""".stripMargin,

    // RFM mirror: same integer metrics (days via date_diff, exact cent
    // sums banded by // 100000), value-frequency cumulative counts,
    // cutoff_i = min value whose running count reaches ceil(i*n/5),
    // bucket = 1 + cutoffs strictly below the value.
    "q4Q_rfm" ->
      """WITH anchor AS (SELECT CAST(max(o_orderdate) AS DATE) AS mxd FROM orders),
        |cust AS (
        |  SELECT o_custkey,
        |    CAST(min(date_diff('day', CAST(o_orderdate AS DATE), mxd)) AS BIGINT) AS r,
        |    count(*) AS f,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100000 AS m
        |  FROM orders CROSS JOIN anchor
        |  GROUP BY o_custkey),
        |nc AS (SELECT count(*) AS n FROM cust),
        |me AS (
        |  SELECT o_custkey, 'r' AS metric, r AS v FROM cust
        |  UNION ALL SELECT o_custkey, 'f', CAST(f AS BIGINT) FROM cust
        |  UNION ALL SELECT o_custkey, 'm', m FROM cust),
        |ranked AS (
        |  SELECT metric, v, sum(c) OVER (PARTITION BY metric ORDER BY v) AS cum
        |  FROM (SELECT metric, v, count(*) AS c FROM me GROUP BY 1, 2) f),
        |cuts AS (
        |  SELECT metric, i, min(v) AS cut
        |  FROM ranked
        |  CROSS JOIN nc
        |  CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS i) ii
        |  WHERE cum >= (i * nc.n + 4) // 5
        |  GROUP BY metric, i),
        |b AS (
        |  SELECT me.o_custkey, me.metric,
        |         1 + sum(CASE WHEN me.v > c.cut THEN 1 ELSE 0 END) AS q
        |  FROM me JOIN cuts c USING (metric)
        |  GROUP BY 1, 2)
        |SELECT o_custkey,
        |  CAST(6 - max(CASE WHEN metric = 'r' THEN q END) AS BIGINT) AS r_score,
        |  CAST(max(CASE WHEN metric = 'f' THEN q END) AS BIGINT) AS f_score,
        |  CAST(max(CASE WHEN metric = 'm' THEN q END) AS BIGINT) AS m_score,
        |  CAST(6 - max(CASE WHEN metric = 'r' THEN q END) AS VARCHAR)
        |    || CAST(max(CASE WHEN metric = 'f' THEN q END) AS VARCHAR)
        |    || CAST(max(CASE WHEN metric = 'm' THEN q END) AS VARCHAR) AS rfm
        |FROM b GROUP BY o_custkey ORDER BY o_custkey""".stripMargin
  )
}
