package graft

import graft.operators.{Dedup, Knn}
import org.apache.spark.sql.functions._

class DedupSpec extends GraftSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),      // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"),    // near dup
    (4L, "completely different content about spark engines"),
    (5L, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG")       // case-variant
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, min-id survives") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(groups.length == 4) // 1==2; 3,4,5 distinct (md5 is case-sensitive)
    val dup = groups.find(_.getAs[Long]("n_dups") == 2).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("jaccard: identical texts score 1.0; near-dups rank above unrelated") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 10).collect()
    val top   = pairs.head
    // (1,2) and case-folded (1,5)/(2,5) are identical after lowering: jaccard 1.0
    assert(top.getAs[Double]("jaccard") == 1.0)
    val oneTwo = pairs.find(r =>
      r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L).get
    assert(oneTwo.getAs[Double]("jaccard") == 1.0)
    val near = pairs.find(r =>
      r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 3L).get
    assert(near.getAs[Double]("jaccard") > 0.4 && near.getAs[Double]("jaccard") < 1.0)
    assert(!pairs.exists(r => r.getAs[Long]("doc_b") == 4L))
  }

  test("minhash: identical (case-folded) docs share full signatures") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 8, 3)
    val byDoc = sigs.collect()
      .groupBy(_.getAs[Long]("doc"))
      .view.mapValues(_.sortBy(_.getAs[Int]("seed")).map(_.getAs[Long]("mh")).toSeq)
      .toMap
    assert(byDoc(1L) == byDoc(2L))
    assert(byDoc(1L) == byDoc(5L)) // tokens are lowercased
    assert(byDoc(1L) != byDoc(4L))
    assert(byDoc.values.forall(_.size == 8))
  }

  test("wide and narrow LSH bucket paths agree (incl. remainder band)") {
    for ((nh, rpb) <- Seq((8, 2), (9, 2), (7, 3))) {
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", nh, 3)
      val wide = Dedup.minhashWide(docs, "doc_id", "text", nh, 3)
      val narrow = Dedup.lshBuckets(sigs, rpb).collect()
        .map(r => (r.getAs[Long]("doc"), r.getAs[Int]("band")) -> r.getAs[String]("bucket")).toMap
      val wideB = Dedup.lshBucketsWide(wide, nh, rpb).collect()
        .map(r => (r.getAs[Long]("doc"), r.getAs[Int]("band")) -> r.getAs[String]("bucket")).toMap
      assert(narrow == wideB, s"numHashes=$nh rowsPerBand=$rpb")
    }
  }

  test("LSH candidates include the duplicate pair with all bands matching") {
    val sigs  = Dedup.minhashSignatures(docs, "doc_id", "text", 8, 3)
    val pairs = Dedup.lshCandidatePairs(Dedup.lshBuckets(sigs, 2)).collect()
    val p12 = pairs.find(r =>
      r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L).get
    assert(p12.getAs[Long]("n_bands") == 4)
    assert(!pairs.exists(r =>
      Set(r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")).contains(4L)))
  }

  test("per-row band column matches the aggregated wide-path buckets") {
    val wide = Dedup.lshBucketsWide(
        Dedup.minhashWide(docs, "doc_id", "text", 8, 3), 8, 2)
      .collect()
      .map(r => (r.getAs[Long]("doc"), r.getAs[Int]("band")) -> r.getAs[String]("bucket"))
      .toMap
    val perRow = docs
      .select(col("doc_id"), Dedup.minhashBandsCol(col("text"), 8, 3, 2).as("bands"))
      .collect()
      .flatMap { r =>
        val id = r.getAs[Long]("doc_id")
        r.getAs[scala.collection.Seq[String]]("bands").zipWithIndex
          .map { case (bk, b) => (id, b) -> bk }
      }.toMap
    assert(perRow == wide)
    // too short to shingle -> NULL band column (no signature, like batch)
    val short = Seq((9L, "two words")).toDF("doc_id", "text")
      .select(Dedup.minhashBandsCol(col("text"), 8, 3, 2).as("bands"))
      .head()
    assert(short.isNullAt(0))
  }

  test("incremental dedup: incoming dups of the corpus drop, fresh docs survive") {
    val corpus   = docs.filter(col("doc_id") === 1L)
    val incoming = docs.filter(col("doc_id") =!= 1L)
    val survivors = Dedup.newDocSurvivors(incoming, corpus, "doc_id", "text",
        numHashes = 8, shingleN = 3, rowsPerBand = 2, minJaccard = 0.9)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // 2 (exact dup) and 5 (case-folded dup) match doc 1 at jaccard 1.0;
    // 3 (one-word edit) and 4 (unrelated) are not >= 0.9 against it
    assert(survivors == Set(3L, 4L))
    // empty corpus: everything survives
    val all = Dedup.newDocSurvivors(incoming, corpus.limit(0), "doc_id", "text",
      8, 3, 2, 0.5).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(all == Set(2L, 3L, 4L, 5L))
  }

  test("simhash: identical docs distance 0, near-dups close, unrelated far") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 64).collect()
    def dist(a: Long, b: Long): Int = pairs.find(r =>
      r.getAs[Long]("doc_a") == a && r.getAs[Long]("doc_b") == b)
      .get.getAs[Int]("dist")
    assert(dist(1L, 2L) == 0)
    assert(dist(1L, 5L) == 0)
    assert(dist(1L, 3L) < dist(1L, 4L))
  }

  test("keep-one span dedup spares exactly the canonical occurrence") {
    val boiler = "alpha bravo charlie delta echo foxtrot golf"
    val spanDocs = Seq(
      (1L, s"intro one two $boiler tail words here"),
      (2L, s"different opening text $boiler other ending"),
      (3L, s"third copy here $boiler closing remark now"),
      (4L, "nothing shared with anything else at all")
    ).toDF("doc_id", "text")
    val removeAll = Dedup.duplicatedSpans(spanDocs, "doc_id", "text", k = 6)
      .collect().map(_.getAs[Long]("doc")).toSet
    val keepOne = Dedup.duplicatedSpansKeepOne(spanDocs, "doc_id", "text", k = 6)
      .collect().map(_.getAs[Long]("doc")).toSet
    // remove-all marks every doc carrying the shared span; keep-one
    // spares doc 1, the lexicographic-min canonical occurrence
    assert(removeAll == Set(1L, 2L, 3L))
    assert(keepOne == Set(2L, 3L))
  }

  test("codegen'd simhash64 is bit-identical to the interpreted HOF form") {
    // fixture docs + adversarial edges: empty doc (split("") == [""] —
    // md5("") still votes), whitespace-only, single token, non-ASCII
    val edge = Seq((9001L, ""), (9002L, "   "), (9003L, "x"),
      (9004L, "Ümlaut STRASSE 你好 mixed CASE")).toDF("doc_id", "text")
    val fixture = Tables.documents(spark, sfDir).limit(300)
      .select(col("doc_id"), col("text")).union(edge)
    val bad = fixture.select(col("doc_id"),
        Dedup.simhash64(col("text")).as("native"),
        Dedup.simhash64Hof(col("text")).as("hof"))
      .filter(col("native") =!= col("hof") || length(col("native")) =!= 64)
      .collect()
    assert(bad.isEmpty, s"simhash parity broken on ${bad.take(3).mkString("; ")}")
    // and the production path actually plans the native expression
    val plan = fixture.select(Dedup.simhash64(col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("simhash64"), plan)
    assert(!plan.contains("ArrayTransform"), s"HOF leaked into the hot path:\n$plan")
  }

  test("blocked simhash pairs match the quadratic reference form") {
    // real fixture docs: enough near-pairs to exercise multi-block
    // collisions and the pair-dedup groupBy
    val fixture = Tables.documents(spark, sfDir).limit(200)
    for (maxDist <- Seq(0, 2, 3)) {
      val quad = Dedup.simhashPairs(fixture, "doc_id", "text", maxDist)
        .collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Int]("dist").toLong)).toSet
      val blocked = Dedup.simhashPairsBlocked(fixture, "doc_id", "text", maxDist)
        .collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Long]("dist"))).toSet
      assert(blocked == quad, s"maxDist=$maxDist")
    }
    // blocking is only exhaustive to distance 3
    intercept[IllegalArgumentException] {
      Dedup.simhashPairsBlocked(fixture, "doc_id", "text", maxDist = 4)
    }
  }

  test("connected components: min-label over chains and disjoint pairs") {
    // 4-chain (needs > 1 propagation round), triangle, disjoint pair
    val edges = Seq(
      (7L, 8L), (8L, 9L), (9L, 10L),       // chain -> root 7
      (1L, 2L), (2L, 3L), (1L, 3L),        // triangle -> root 1
      (20L, 15L)                           // pair -> root 15
    ).toDF("a", "b")
    val expected = Map(
      7L -> 7L, 8L -> 7L, 9L -> 7L, 10L -> 7L,
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      15L -> 15L, 20L -> 15L)
    // driver union-find path (default threshold) and distributed
    // min-label propagation (threshold 0) must agree exactly
    val viaDriver = Dedup.connectedComponents(edges, "a", "b").collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("root")).toMap
    val viaSpark = Dedup.connectedComponents(edges, "a", "b",
        driverMaxEdges = 0L).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("root")).toMap
    assert(viaDriver == expected)
    assert(viaSpark == expected)
  }

  test("distributed CC: one SQL action per propagation round") {
    // 8-node chain: diameter 7 -> 7 changing rounds + 1 zero-change
    // round = 8 rounds. Actions counted via QueryExecutionListener:
    // 1 (the capped collect that picks the path: limit 0 here, no job)
    // + 8 (one changed-count per round, which also
    // materializes the lazy checkpoint) + 1 (final collect) = 10. The
    // pre-round-3 loop ran an EXTRA compare join + isEmpty action per
    // round (18 total), so the bound below fails on that shape.
    val edges = (1L to 7L).map(i => (i, i + 1)).toDF("a", "b")
    // count JOB-RUNNING actions by name: lazy localCheckpoint calls also
    // fire this listener but run no job, so they don't count against the
    // one-action-per-round claim
    val counted = Set("count", "isEmpty", "collect")
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (counted(funcName)) actions.add(funcName)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val labels = Dedup.connectedComponents(edges, "a", "b",
          driverMaxEdges = -1L) // force the distributed path
        .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("root")).toMap
      assert(labels == (1L to 8L).map(_ -> 1L).toMap)
      // listener delivery is async; give the bus a moment to drain
      val deadline = System.nanoTime() + 10e9.toLong
      while (actions.size() < 10 && System.nanoTime() < deadline)
        Thread.sleep(100)
      val n = actions.size()
      assert(n == 10,
        s"expected 10 counted actions (1 capped collect + 8 per-round counts " +
          s"+ 1 collect), saw $n (${actions.toString}) — a second action " +
          "per CC round has crept back in")
    } finally spark.listenerManager.unregister(listener)
  }

  test("driver CC: a small graph is solved from one sorted collect") {
    // the dedup cut is its shuffle-map job and its checkpoint job; the
    // collect that picks the path also carries the rows in node order
    val edges = Seq((7L, 8L), (8L, 9L), (1L, 2L), (2L, 3L), (20L, 15L)).toDF("a", "b")
    var labels = Map.empty[Long, Long]
    val (jobs, _) = jobsOf("driver cc") {
      labels = Dedup.connectedComponents(edges, "a", "b").collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("root")).toMap
    }
    assert(labels == Map(7L -> 7L, 8L -> 7L, 9L -> 7L, 1L -> 1L, 2L -> 1L, 3L -> 1L,
      15L -> 15L, 20L -> 15L))
    assert(jobs <= 3, s"driver-path connected components ran $jobs jobs, expected <= 3")
  }

  test("connected components on an empty edge list is empty (both paths)") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponents(empty, "a", "b").isEmpty)
    // -1 forces the distributed path even for the 0-edge list
    assert(Dedup.connectedComponents(empty, "a", "b", driverMaxEdges = -1L).isEmpty)
  }

  test("verifyJaccard matches jaccardPairs for the same pairs") {
    val all = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 100).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    val cands = all.keys.toSeq.toDF("doc_a", "doc_b")
    val verified = Dedup.verifyJaccard(docs, cands, "doc_id", "text", 3).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(verified == all)
  }

  test("native shingle kernel matches the HOF reference on real docs") {
    import graft.functions.TextFunctions
    val docs = Tables.documents(spark, sfDir)
    val both = docs.select(
      TextFunctions.wordShingles(col("text"), 3).as("fast"),
      TextFunctions.wordShinglesHof(col("text"), 3).as("ref")
    ).collect()
    both.foreach { r =>
      assert(r.getAs[scala.collection.Seq[String]]("fast") ==
        r.getAs[scala.collection.Seq[String]]("ref"))
    }
    // edge cases: empty, underful, multi-space
    val edge = Seq("", "one two", "a  b \t c  d").toDF("text")
    edge.select(
      TextFunctions.wordShingles(col("text"), 3).as("fast"),
      TextFunctions.wordShinglesHof(col("text"), 3).as("ref")
    ).collect().foreach { r =>
      assert(r.getAs[scala.collection.Seq[String]]("fast") ==
        r.getAs[scala.collection.Seq[String]]("ref"))
    }
  }

  test("maxShingleDf cap: one hot phrase cannot generate quadratic pairs") {
    // 60 docs, unique except for one shared phrase: the two boilerplate
    // shingles ("common shared phrase", "shared phrase here") have df=60
    // and link every doc to every other — the 100 TB stop-shingle blowup
    // in miniature (60*59/2 = 1770 pairs from two keys).
    val boiler = (1 to 60).map(i =>
      (i.toLong, s"u${i}a u${i}b u${i}c common shared phrase here"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.jaccardPairs(boiler, "doc_id", "text", 3, 5000)
    assert(uncapped.count() == 1770L)
    // capped: both hot shingles leave the similarity universe, no doc
    // pair shares anything -> zero pairs materialized
    val capped = Dedup.jaccardPairs(boiler, "doc_id", "text", 3, 5000,
      maxShingleDf = 10)
    assert(capped.count() == 0L)
    // accounting: exactly the two boilerplate shingles, each df=60
    val hot = Dedup.hotShingles(boiler, "doc_id", "text", 3, maxShingleDf = 10)
      .collect()
    assert(hot.length == 2 && hot.forall(_.getAs[Long]("df") == 60L))
    // genuine near-dups NOT sharing the hot phrase still pair up under
    // the cap
    val mixed = boiler.unionByName(Seq(
      (100L, "alpha beta gamma delta epsilon"),
      (101L, "alpha beta gamma delta zeta")).toDF("doc_id", "text"))
    val pairs = Dedup.jaccardPairs(mixed, "doc_id", "text", 3, 5000,
        maxShingleDf = 10).collect()
    assert(pairs.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .toSeq == Seq((100L, 101L)))
  }

  test("maxBucketSize cap: a degenerate identical-content bucket is dropped") {
    // 1000 identical boilerplate docs: every band puts all 1000 in one
    // bucket (999*1000/2 * 4 bands of candidate pairs uncapped); plus one
    // clean exact pair that must survive the cap.
    val df = ((1 to 1000).map(i =>
        (i.toLong, "same boilerplate page content every time")) ++ Seq(
        (2001L, "alpha beta gamma delta epsilon zeta"),
        (2002L, "alpha beta gamma delta epsilon zeta")))
      .toDF("doc_id", "text")
    val buckets = Dedup.lshBucketsWide(
      Dedup.minhashWide(df, "doc_id", "text", 8, 3), 8, 2).localCheckpoint()
    val capped = Dedup.lshCandidatePairs(buckets, maxBucketSize = 100).collect()
    // boilerplate bucket dropped wholesale; the identical clean pair
    // (all 4 bands agree) is the only candidate
    assert(capped.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
      r.getAs[Long]("n_bands"))).toSeq == Seq((2001L, 2002L, 4L)))
    // accounting: the boilerplate bucket in each of the 4 bands, size 1000
    val over = Dedup.oversizedBuckets(buckets, 100).collect()
    assert(over.length == 4 && over.forall(_.getAs[Long]("sz") == 1000L))
  }

  test("incremental dedup bucket cap: boilerplate matches drop, exact ones stay") {
    // corpus: 500 identical boilerplate docs; incoming: one more copy of
    // the boilerplate plus one fresh doc. Uncapped, the boilerplate
    // incoming doc matches the corpus (dropped). With a cap the
    // 501-member bucket is dropped -> conservative direction: the
    // incoming boilerplate SURVIVES rather than being silently deleted
    // through an overflowing bucket.
    val corpus = (1 to 500).map(i =>
      (i.toLong, "same boilerplate page content every time")).toDF("doc_id", "text")
    val incoming = Seq(
      (9001L, "same boilerplate page content every time"),
      (9002L, "completely fresh document about other things")).toDF("doc_id", "text")
    val uncapped = Dedup.newDocSurvivors(incoming, corpus, "doc_id", "text",
        8, 3, 2, minJaccard = 0.5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(uncapped == Set(9002L))
    val capped = Dedup.newDocSurvivors(incoming, corpus, "doc_id", "text",
        8, 3, 2, minJaccard = 0.5, maxBucketSize = 100)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(capped == Set(9001L, 9002L))
  }

  test("dedupClusters matches the member-level pipeline on fixture docs") {
    // reference pipeline WITHOUT exact-dup collapse: band every member
    val fixture = Tables.documents(spark, sfDir)
    val cands = Dedup.lshCandidatePairs(
        Dedup.lshBucketsWide(Dedup.minhashWide(fixture, "doc_id", "text", 8, 3), 8, 2))
      .select("doc_a", "doc_b")
    val edges = Dedup.verifyJaccard(fixture, cands, "doc_id", "text", 3)
      .filter(col("jaccard") >= 0.5)
    val memberLevel = Dedup.connectedComponents(edges, "doc_a", "doc_b")
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("root")).toMap
    val collapsed = Dedup.dedupClusters(fixture, "doc_id", "text", 8, 3, 2, 0.5)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("root")).toMap
    assert(collapsed == memberLevel)
  }

  test("dedupClusters: 1000 identical docs band one representative") {
    // exact-dup collapse means LSH sees ONE rep for the boilerplate mass
    // (no 999*1000/2-pair degenerate bucket), yet all 1000 members label
    // into the rep's cluster; the isolated exact pair clusters on the
    // n>=2 fallback without needing any near-dup edge.
    val df = ((1 to 1000).map(i =>
        (i.toLong, "same boilerplate page content every time")) ++ Seq(
        (2001L, "alpha beta gamma delta epsilon zeta"),
        (2002L, "alpha beta gamma delta epsilon zeta"),
        (3001L, "totally unrelated singleton document here")))
      .toDF("doc_id", "text")
    val labels = Dedup.dedupClusters(df, "doc_id", "text", 8, 3, 2, 0.5)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("root")).toMap
    assert(labels.size == 1002) // singleton 3001 has no row
    assert((1 to 1000).forall(i => labels(i.toLong) == 1L))
    assert(labels(2001L) == 2001L && labels(2002L) == 2001L)
  }

  test("embedding near-dup pairs are symmetric-deduped and sorted") {
    val pairs = Knn.nearestPairs(
      Tables.embeddings(spark, sfDir), "vec_id", "embedding", 10).collect()
    assert(pairs.length == 10)
    assert(pairs.forall(r => r.getAs[Long]("id_a") < r.getAs[Long]("id_b")))
    val scores = pairs.map(_.getAs[Double]("score")).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("semantic dedup: cell-bounded pairs match brute force; survivors " +
      "drop exactly the larger ids") {
    val emb   = Tables.embeddings(spark, sfDir)
    val cells = graft.operators.AnnIvf
      .assign(emb, "vec_id", "embedding",
        graft.operators.AnnIvf.centroids(emb, "vec_id", "embedding", 8))
      .select("vec_id", "cell").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq).toMap
    // driver-side reference: double accumulation left-to-right, the
    // engine's documented cosine semantics
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val ids = vecs.keys.toSeq.sorted
    val expected = (for {
      i <- ids; j <- ids if i < j && cells(i) == cells(j)
      s = BigDecimal(cos(vecs(i), vecs(j)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if s >= 0.3
    } yield (i, j)).toSet
    val got = Dedup.semanticPairs(emb, "vec_id", "embedding", 8, 0.3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(got == expected,
      s"extra=${got -- expected} missing=${expected -- got}")
    assert(expected.nonEmpty, "fixture should produce at least one pair")

    val survivors = Dedup.semanticSurvivors(emb, "vec_id", "embedding", 8, 0.3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors == ids.toSet -- expected.map(_._2),
      "survivors must be exactly the non-larger-id set")
    // the smallest id of every pair always survives
    assert(expected.map(_._1).forall(a =>
      survivors.contains(a) || expected.exists(_._2 == a)))

    // cell cap: capping just below the largest cell removes exactly that
    // cell's pairs from the universe (docs kept, never deleted), and the
    // audit table names it
    val sizes  = cells.groupBy(_._2).view.mapValues(_.size).toMap
    val maxSz  = sizes.values.max
    val bigCells = sizes.filter(_._2 == maxSz).keySet
    val capped = Dedup.semanticPairs(emb, "vec_id", "embedding", 8, 0.3,
        maxCellSize = maxSz - 1)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val expectedCapped = expected.filterNot { case (a, _) => bigCells(cells(a)) }
    assert(capped == expectedCapped,
      s"extra=${capped -- expectedCapped} missing=${expectedCapped -- capped}")
    val audited = Dedup.oversizedCells(emb, "vec_id", "embedding", 8, maxSz - 1)
      .collect().map(r => r.getAs[Long]("cell") -> r.getAs[Long]("n_rows")).toMap
    assert(audited.keySet == bigCells && audited.values.forall(_ == maxSz))
  }

  test("semantic pairs self-join reuses the assignment exchange at runtime") {
    // the alias-based self-join canonicalizes both sides identically, so
    // AQE materializes the cell shuffle (and the whole broadcast-argmax
    // assignment under it) ONCE — a per-side projection rename would
    // compute the assignment twice
    val emb = Tables.embeddings(spark, sfDir)
    val df  = Dedup.semanticPairs(emb, "vec_id", "embedding", 8, 0.3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"assignment computed twice — no ReusedExchange in:\n$plan")
  }

  test("duplicated spans: shared windows merge into maximal spans, " +
      "overlap and adjacency both merge, short/unique docs emit nothing") {
    import spark.implicits._
    val docs = Seq(
      // d1/d2 share "one two three" and "two three four" (overlapping
      // k=3 windows -> ONE span each)
      (1L, "one two three four five six"),
      (2L, "zero one two three four seven"),
      // d5/d6 share "p q r" and "s t u"; in d5 the hits are ADJACENT
      // (starts 1 and 4, gap == k) -> one merged span; in d6 a gap of
      // 4 > k splits them into two spans
      (5L, "p q r s t u"),
      (6L, "m p q r n s t u"),
      (3L, "one two"),                              // shorter than k
      (4L, "totally unique content nothing shared") // no duplicated window
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(docs, "doc_id", "text", k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(spans == Set(
      (1L, 1L, 4L, 2L),  // windows at s=1,2 -> tokens 1..4
      (2L, 2L, 5L, 2L),
      (5L, 1L, 6L, 2L),  // adjacent windows at s=1,4 merge -> whole doc
      (6L, 2L, 4L, 1L), (6L, 6L, 8L, 1L)
    ), s"got $spans")

    val stats = Dedup.spanScrubStats(docs, "doc_id", "text", k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
      .toSet
    assert(stats == Set(
      (1L, 6L, 4L, 1L, 0.666667),
      (2L, 6L, 4L, 1L, 0.666667),
      (5L, 6L, 6L, 1L, 1.0),
      (6L, 8L, 6L, 2L, 0.75),
      (3L, 2L, 0L, 0L, 0.0),
      (4L, 5L, 0L, 0L, 0.0)
    ), s"got $stats")
  }

  test("scrubSpans cuts every duplicated span, leaves clean docs intact") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three four five six"),
      (2L, "zero one two three four seven"),
      (5L, "p q r s t u"),
      (6L, "m p q r n s t u"),
      (3L, "one two"),
      (4L, "totally unique content nothing shared")
    ).toDF("doc_id", "text")
    val got = Dedup.scrubSpans(docs, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(
      1L -> "five six",
      2L -> "zero seven",
      5L -> "",           // the whole doc was one duplicated span
      6L -> "m n",
      3L -> "one two",    // shorter than k: untouchable by construction
      4L -> "totally unique content nothing shared"
    ), s"got $got")
  }

  test("duplicated spans plan: no pair join — output is linear in windows") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val plan = Dedup.duplicatedSpans(docs, "doc_id", "text", k = 3)
      .queryExecution.executedPlan.toString
    // the dictionary join is an equi-join on the window hash; a
    // CartesianProduct or a theta-join would mean the shape regressed
    // to pairwise
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("fuzzyPairs: hand distances, blocking recall vs brute force, stop-gram cap") {
    import spark.implicits._
    val rows = Seq((1L, "kitten"), (2L, "sitting"), (3L, "kitchen"),
      (4L, "mitten"), (5L, "zzzqqq")).toDF("id", "s")
    val got = graft.operators.Dedup.fuzzyPairs(rows, "id", "s", maxDist = 3)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // kitten-sitting = 3 (classic), kitten-kitchen = 2, kitten-mitten = 1,
    // sitting-mitten share "itt" -> dist 3 kept
    assert(got.contains((1L, 2L, 3)) && got.contains((1L, 3L, 2)) &&
      got.contains((1L, 4L, 1)) && got.contains((2L, 4L, 3)))
    assert(!got.exists(p => p._1 == 5L || p._2 == 5L),
      "no shared trigram with zzzqqq")
    assert(!got.contains((2L, 3L, 4)), "dist 4 must be filtered")
    // the documented q-gram trade: kitchen/mitten are within dist 3 but
    // share NO trigram (every gram broken by the edits) -> not a candidate
    assert(levenshteinDist("kitchen", "mitten") == 3 &&
      !got.exists(p => p._1 == 3L && p._2 == 4L))

    // blocking recall on the fixture's part names: every brute-force
    // pair within dist 3 must be found by the trigram blocking
    val names = Tables.part(spark, sfDir)
      .select(col("p_name").as("name")).distinct()
    val blocked = graft.operators.Dedup
      .fuzzyPairs(names, "name", "name", maxDist = 3)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val all = names.as[String].collect()
    val brute = (for {
      a <- all; b <- all if a < b
      if levenshteinDist(a, b) <= 3
    } yield (a, b)).toSet
    assert(blocked == brute,
      s"missed ${brute -- blocked}, extra ${blocked -- brute}")

    // the stop-gram cap drops candidates blocked ONLY by a hot gram
    val capped = graft.operators.Dedup
      .fuzzyPairs(rows, "id", "s", maxDist = 3, maxGramDf = 1)
      .collect()
    assert(capped.isEmpty, "every shared gram has df >= 2, so cap=1 drops all")
  }

  test("containmentPairs: a quoted excerpt scores ~1 where jaccard stays low") {
    import spark.implicits._
    val long = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon")
    val excerpt = "alpha beta gamma delta epsilon zeta"
    val docs = Seq((1L, excerpt), (2L, long), (3L, "unrelated words here now"))
      .toDF("doc_id", "text")
    val pairs = graft.operators.Dedup
      .containmentPairs(docs, "doc_id", "text", shingleN = 3,
        minContainment = 0.9)
      .collect()
    assert(pairs.length == 1)
    val p = pairs.head
    // every excerpt shingle is inside the long doc: containment = 1.0
    assert(p.getLong(0) == 1L && p.getLong(1) == 2L)
    assert(p.getDouble(2) == 1.0, "excerpt fully contained")
    assert(p.getDouble(3) < 0.3, "long side is NOT contained in the excerpt")
    // while symmetric jaccard on the same pair stays small
    val j = graft.operators.Dedup
      .jaccardPairs(docs, "doc_id", "text", shingleN = 3, topPairs = 1)
      .head().getDouble(2)
    assert(j < 0.3, s"jaccard $j should miss this near-dup")
  }

  test("entity clusters: transitive closure, min-label canonical, singleton identity") {
    import spark.implicits._
    // chain: aaaa ~ aaab ~ aabb (dist 1 links) -> one entity labeled by
    // the min member even though aaaa-aabb are dist 2 apart only via
    // the chain; zzz is a singleton
    val names = Seq("aaaa", "aaab", "aabb", "zzz").toDF("name")
    val pairs = graft.operators.Dedup.fuzzyPairs(names, "name", "name", maxDist = 1)
    val labels = graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
    val got = names
      .join(labels.withColumnRenamed("node", "name"), Seq("name"), "left")
      .select(col("name"), coalesce(col("root"), col("name")).as("entity"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("aaaa") == "aaaa" && got("aaab") == "aaaa" && got("aabb") == "aaaa")
    assert(got("zzz") == "zzz")
  }

  private def levenshteinDist(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("lshPlan: closed-form S-curve on a one-pair corpus, monotone in bands, one chosen") {
    // exactly one overlapping pair, jaccard 1.0 → the clamped top cell
    // (k = 49, s = 0.99); every geometry's expected-candidate count is
    // the hand-computable per-step-rounded S-curve at s = 0.99
    val two = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "zq wq xq yq vq")) // shares no shingle with 1/2
      .toDF("doc_id", "text")
    val plan = Dedup.lshPlan(two, "doc_id", "text", shingleN = 3,
        budget = 24, threshold = 0.5)
      .collect().sortBy(_.getAs[Int]("bands"))
    assert(plan.length == 8) // divisors of 24
    def fold(x0: Double, x: Double, n: Int): Double =
      (1 to n).foldLeft(x0)((a, _) =>
        BigDecimal(a * x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
    plan.foreach { r =>
      val b = r.getAs[Int]("bands"); val rr = r.getAs[Int]("rows_per_band")
      val sr = fold(1.0, 0.99, rr)
      val p = 1.0 - fold(1.0, 1.0 - sr, b)
      val expMicro = math.round(1L * p * 1e6)
      assert(r.getAs[Double]("exp_candidates") == expMicro / 1e6,
        s"($b,$rr): got ${r.getAs[Double]("exp_candidates")} want ${expMicro / 1e6}")
      assert(r.getAs[Long]("n_true") == 1L)
    }
    // the S-curve is monotone in bands at fixed budget: more, narrower
    // bands can only raise collision probability at every s
    val cands = plan.map(_.getAs[Double]("exp_candidates")).toSeq
    assert(cands == cands.sorted, s"not monotone in bands: $cands")
    assert(plan.count(_.getAs[Boolean]("chosen")) == 1)
  }
}
