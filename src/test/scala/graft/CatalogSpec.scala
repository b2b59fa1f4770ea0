package graft

import graft.catalog.{IndexMeta, VectorCatalog, VectorIndex}
import graft.functions.VectorFunctions
import graft.query.FilterDict
import graft.util.TempDirs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._
import scala.util.Random

class CatalogSpec extends GraftSpec {
  import spark.implicits._

  private lazy val root = TempDirs.scratch("graft-catalog")
  private lazy val cat  = new VectorCatalog(spark, root)

  test("create is idempotent; exists/dimension/list/delete roundtrip") {
    val m = cat.create(IndexMeta("idx-a", 4))
    assert(cat.create(IndexMeta("idx-a", 4)) == m)
    assert(cat.exists("idx-a"))
    assert(cat.dimensionOf("idx-a").contains(4))
    assert(cat.list().map(_.name).contains("idx-a"))
    intercept[IllegalArgumentException](cat.create(IndexMeta("idx-a", 8)))
    cat.delete("idx-a")
    assert(!cat.exists("idx-a"))
  }

  test("dimension-suffix resolution mirrors the reference") {
    cat.create(IndexMeta("idx-b", 4))
    assert(cat.resolveForDimension("idx-b", 4) == "idx-b")
    assert(cat.resolveForDimension("idx-b", 8) == "idx-b-8")
    assert(cat.resolveForDimension("idx-new", 8) == "idx-new")
  }

  test("upsert enforces dimension; last write wins per id; stats count") {
    val idx = VectorIndex.createOrConnect(spark, cat, IndexMeta("idx-c", 3))
    val v1 = Seq(
      ("a", Seq(1f, 0f, 0f), "t1"),
      ("b", Seq(0f, 1f, 0f), "t2")
    ).toDF("id", "embedding", "text")
    idx.upsert(v1)
    assert(idx.read.count() == 2)

    // re-upsert id "a" with new vector → count unchanged, value replaced
    val v2 = Seq(("a", Seq(0f, 0f, 1f), "t1-new")).toDF("id", "embedding", "text")
    idx.upsert(v2)
    val rows = idx.read.collect()
    assert(rows.length == 2)
    val a = rows.find(_.getString(0) == "a").get
    assert(a.getAs[scala.collection.Seq[Float]]("embedding").toSeq == Seq(0f, 0f, 1f))
    assert(a.getAs[String]("text") == "t1-new")
    assert(idx.stats.totalVectorCount == 2)
    assert(idx.stats.dimension == 3)

    // wrong-dimension and null embeddings are rejected, and a rejected
    // batch leaves the log as it was, with no staging dir behind. A local
    // batch is rejected when its rows are folded, before any job
    val versions = idx.versions
    Seq(
      Seq(("c", Seq(1f, 2f), "t")).toDF("id", "embedding", "text"),
      Seq(("c", Option.empty[Seq[Float]], "t")).toDF("id", "embedding", "text")
    ).foreach { bad =>
      val (badJobs, _) = jobsOf("rejected upsert") {
        intercept[IllegalArgumentException](idx.upsert(bad))
      }
      assert(badJobs == 0, s"a rejected local batch ran $badJobs jobs, expected 0")
      assert(idx.versions == versions)
      assert(idx.read.count() == 2)
      assert(idx.stats.totalVectorCount == 2)
      assert(!new java.io.File(cat.dataPath("idx-c")).list().exists(_.startsWith(".staged_v")))
    }

    // knn over the live view
    val hits = idx.knn(Seq(0f, 0f, 1f), 1).collect()
    assert(hits.head.getAs[String]("id") == "a")
    assert(hits.head.getAs[Double]("score") == 1.0)

    // compact preserves the live view
    idx.compact()
    assert(idx.read.count() == 2)
    assert(idx.knn(Seq(0f, 1f, 0f), 1).collect().head.getAs[String]("id") == "b")
  }

  test("concurrent upserts: optimistic commit yields distinct ordered versions, no lost update") {
    val meta = IndexMeta("idx-conc", 2)
    VectorIndex.createOrConnect(spark, cat, meta)
    // two INDEPENDENT index handles (separate in-memory version state —
    // the two-JVM shape), each racing 8 interleaved single-id batches
    val writers = Seq(
      VectorIndex.createOrConnect(spark, cat, meta),
      VectorIndex.createOrConnect(spark, cat, meta))
    val perWriter = 8
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = writers.zipWithIndex.map { case (w, wi) =>
      new Thread(() => {
        try {
          for (b <- 0 until perWriter) {
            val batch = Seq((s"k$b", Seq(wi.toFloat, b.toFloat), s"w$wi-b$b"))
              .toDF("id", "embedding", "text")
            assert(w.upsert(batch) == 1L)
          }
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek()).map(_.toString)}")
    // no lost update: every one of the 16 committed batches is present,
    // under 16 DISTINCT, strictly increasing versions
    val vs = writers.head.versions
    assert(vs.size == 2 * perWriter, s"expected 16 versions, got ${vs.size}")
    assert(vs == vs.sorted && vs.distinct.size == vs.size)
    val raw = spark.read.parquet(s"$root/idx-conc")
    assert(raw.count() == 2L * perWriter)
    // last-wins per id matches the raw log's max-version row exactly
    val expected = raw.orderBy(col("_version").desc).collect()
      .groupBy(_.getAs[String]("id"))
      .map { case (id, rows) => id -> rows.head.getAs[String]("text") }
    val got = writers.head.read.collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("text")).toMap
    assert(got == expected)
    assert(got.size == perWriter) // k0..k7, each from SOME writer's last batch
  }

  test("commit-marker claim: exactly one of two racing creators wins") {
    // Hadoop's local createNewFile (exists-then-create) lets both win on
    // nearly every round of this race; both writers would then stage
    // and publish under the same version
    val dir = new org.apache.hadoop.fs.Path(TempDirs.scratch("graft-claim"))
    val fs  = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val doubleWins = (0 until 200).count { i =>
      val marker  = new org.apache.hadoop.fs.Path(dir, s"_v$i.commit")
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val wins    = new java.util.concurrent.atomic.AtomicInteger(0)
      val racers  = (0 until 2).map(_ => new Thread(() => {
        barrier.await()
        if (VectorIndex.createExclusive(fs, marker)) { wins.incrementAndGet(); () }
      }))
      racers.foreach(_.start()); racers.foreach(_.join())
      assert(wins.get() >= 1, s"round $i: nobody claimed the marker")
      wins.get() > 1
    }
    assert(doubleWins == 0, s"$doubleWins of 200 rounds had two winners")
  }

  test("readAt time-travels the merge-on-read log; compact truncates history") {
    val idx = VectorIndex.createOrConnect(spark, cat, IndexMeta("idx-tt", 2))
    idx.upsert(Seq(("a", Seq(1f, 0f)), ("b", Seq(0f, 1f))).toDF("id", "embedding"))
    idx.upsert(Seq(("b", Seq(1f, 1f)), ("c", Seq(2f, 0f))).toDF("id", "embedding"))
    val vs = idx.versions
    assert(vs.size == 2 && vs == vs.sorted)
    def snap(v: Long) = idx.readAt(v)
      .select("id", "embedding").as[(String, Seq[Float])].collect().toMap
    // as of batch 1: b is still its first value, c absent
    val s1 = snap(vs.head)
    assert(s1.keySet == Set("a", "b") && s1("b") == Seq(0f, 1f))
    // as of batch 2 == live view: b replaced, c present
    val s2 = snap(vs.last)
    assert(s2.keySet == Set("a", "b", "c") && s2("b") == Seq(1f, 1f))
    assert(idx.read.select("id", "embedding").as[(String, Seq[Float])]
      .collect().toMap == s2)
    // an as-of BEFORE the first batch is an empty index, not an error
    assert(idx.readAt(vs.head - 1).isEmpty)
    // compact rewrites to one version: live view unchanged, history gone.
    // Its jobs are the deduping rewrite's alone; versions come off the
    // markers, so no max(_version) aggregate runs before it
    val (compactJobs, _) = jobsOf("compact") { idx.compact() }
    assert(compactJobs == 3, s"compact ran $compactJobs jobs, expected 3")
    assert(idx.versions == Seq(0L))
    assert(idx.read.select("id", "embedding").as[(String, Seq[Float])]
      .collect().toMap == s2)
    // the _commits marker history SURVIVES compaction: without it a
    // fresh JVM's claimVersion would fall back to wall clock alone, and
    // a clock-skewed writer could re-claim a burnt version
    val markers = new java.io.File(s"$root/idx-tt/_commits")
    assert(markers.isDirectory, "compact dropped the _commits dir")
    assert(vs.forall(v => new java.io.File(markers, s"_v$v.commit").exists()),
      s"compact lost markers: kept ${markers.list().toSeq.sorted}, expected $vs")
  }

  test("dimension probe falls back to measuring the stored data") {
    val idx = VectorIndex.createOrConnect(spark, cat, IndexMeta("probe-data", 3))
    assert(cat.dimensionFromData("probe-data").isEmpty) // no data yet
    idx.upsert(Seq(("p1", Seq(1f, 2f, 3f))).toDF("id", "embedding"))
    assert(cat.dimensionFromData("probe-data").contains(3))
    assert(cat.dimensionFromData("never-created").isEmpty)
  }

  test("bestIndex picks the candidate with most vectors") {
    val small = VectorIndex.createOrConnect(spark, cat, IndexMeta("probe-384", 2))
    small.upsert(Seq(("x", Seq(1f, 0f))).toDF("id", "embedding"))
    val big = VectorIndex.createOrConnect(spark, cat, IndexMeta("probe-768", 2))
    big.upsert(Seq(("y", Seq(1f, 0f)), ("z", Seq(0f, 1f))).toDF("id", "embedding"))
    assert(cat.bestIndex("probe").map(_.name).contains("probe-768"))
  }

  test("live snapshot: writes through another handle and compact() reach read, knn and stats") {
    val meta   = IndexMeta("snap-handles", 2)
    val reader = VectorIndex.createOrConnect(spark, cat, meta)
    val writer = VectorIndex.createOrConnect(spark, cat, meta)
    def ids   = reader.read.select("id").as[String].collect().toSet
    def top2(q: Seq[Float]) = reader.knn(q, 2).select("id").as[String].collect().toSeq
    assert(ids.isEmpty && reader.stats.totalVectorCount == 0L)

    reader.upsert(Seq(("a", Seq(1f, 0f)), ("b", Seq(0f, 1f))).toDF("id", "embedding"))
    assert(ids == Set("a", "b") && reader.stats.totalVectorCount == 2L)
    assert(top2(Seq(1f, 0.1f)) == Seq("a", "b"))

    // another handle (the shape of an API upload or a streaming batch)
    // adds c and moves b onto the first axis
    writer.upsert(Seq(("b", Seq(1f, 0.1f)), ("c", Seq(-1f, 0f))).toDF("id", "embedding"))
    assert(ids == Set("a", "b", "c"))
    assert(reader.stats.totalVectorCount == 3L)
    assert(top2(Seq(1f, 0.1f)) == Seq("b", "a"))
    assert(top2(Seq(-1f, 0f)).head == "c")

    // compaction through the other handle replaces every part file; the
    // live view survives it and later writes still show up
    writer.compact()
    assert(writer.versions == Seq(0L))
    assert(ids == Set("a", "b", "c") && reader.stats.totalVectorCount == 3L)
    writer.upsert(Seq(("d", Seq(0f, -1f))).toDF("id", "embedding"))
    assert(ids == Set("a", "b", "c", "d") && reader.stats.totalVectorCount == 4L)
    assert(top2(Seq(0f, -1f)).head == "d")
    val bRow = reader.read.filter(col("id") === "b")
      .select("embedding").as[Seq[Float]].head()
    assert(bRow == Seq(1f, 0.1f))
  }

  test("live snapshot: a repeated knn on an unchanged log is one job with no shuffle") {
    val idx = VectorIndex.createOrConnect(spark, cat, IndexMeta("snap-jobs", 3))
    // two versions, so the log's own read would need the dedup window
    idx.upsert(Seq(("a", Seq(1f, 0f, 0f), 0), ("b", Seq(0f, 1f, 0f), 1))
      .toDF("id", "embedding", "chunk_index"))
    idx.upsert(Seq(("b", Seq(0f, 0f, 1f), 2), ("c", Seq(1f, 1f, 0f), 3))
      .toDF("id", "embedding", "chunk_index"))
    val q = Seq(1f, 0.5f, 0f)
    assert(idx.knn(q, 2).select("id").as[String].collect().toSeq == Seq("c", "a"))

    val (knnJobs, knnShuffle) = jobsOf("repeated knn") {
      val hits = idx.knn(q, 2).collect()
      assert(hits.map(_.getAs[String]("id")).toSeq == Seq("c", "a"))
    }
    assert(knnJobs == 1, s"repeated knn ran $knnJobs jobs, expected 1")
    assert(knnShuffle == 0L, s"repeated knn shuffled $knnShuffle bytes")

    // a filtered knn is the same one job: the filter is analyzed, never
    // planned, and evaluated inside the top-k task
    def below(n: Int) = Some(col("chunk_index") < n)
    assert(idx.knn(q, 2, below(100)).select("id").as[String].collect().toSeq == Seq("c", "a"))
    val (filteredJobs, filteredShuffle) = jobsOf("filtered knn") {
      val hits = idx.knn(q, 2, below(3)).collect()
      assert(hits.map(_.getAs[String]("id")).toSeq == Seq("a", "b"))
    }
    assert(filteredJobs == 1, s"filtered knn ran $filteredJobs jobs, expected 1")
    assert(filteredShuffle == 0L, s"filtered knn shuffled $filteredShuffle bytes")
    // an operand that cannot be cast to its column's type is the caller's
    // error before any job: the cast is folded when the filter is bound
    val uncastable = Some(FilterDict.toColumn(Map("chunk_index" -> Map("$lt" -> "abc"))))
    val (uncastableJobs, _) = jobsOf("uncastable filter") {
      intercept[IllegalArgumentException](idx.knn(q, 2, uncastable))
    }
    assert(uncastableJobs == 0, s"an uncastable filter ran $uncastableJobs jobs, expected 0")
    // ... and so is a filter that casts a column with a cast that can
    // fail row by row: under ANSI `id > 1` casts the string column `id`
    // to a number, which "a" is not
    val castsColumn = Some(FilterDict.toColumn(Map("id" -> Map("$gt" -> 1))))
    val (castJobs, _) = jobsOf("column-casting filter") {
      val e = intercept[IllegalArgumentException](idx.knn(q, 2, castsColumn))
      assert(e.getMessage.contains("can fail row by row"), e.getMessage)
    }
    assert(castJobs == 0, s"a column-casting filter ran $castJobs jobs, expected 0")
    // an up-cast of a column cannot fail, and still filters
    val upCast = Some(FilterDict.toColumn(Map("chunk_index" -> Map("$lt" -> 2.5))))
    assert(idx.knn(q, 2, upCast).select("id").as[String].collect().toSeq == Seq("a", "b"))
    // ... and compiles nothing: a planned filter is whole-stage code with
    // its operand inlined, so each distinct operand would compile anew
    val compiled = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before   = compiled.getCount
    val hits     = (1 to 5).map(n => idx.knn(q, 2, below(n)).select("id").as[String].collect().toSeq)
    assert(hits == Seq(Seq("a"), Seq("a"), Seq("a", "b"), Seq("c", "a"), Seq("c", "a")))
    assert(compiled.getCount - before == 0L,
      s"five filtered knn calls compiled ${compiled.getCount - before} classes")

    // the upsert of a local frame runs no job: its rows are checked as
    // the optimizer folds them and written on the driver
    val (upsertJobs, _) = jobsOf("upsert") {
      assert(idx.upsert(Seq(("d", Seq(0f, 1f, 1f), 4)).toDF("id", "embedding", "chunk_index")) == 1L)
    }
    assert(upsertJobs == 0, s"upsert of a local frame ran $upsertJobs jobs, expected 0")
  }

  test("upsert: a second batch of the same shape compiles no new classes") {
    // an upload's local frame, written on the driver, and the same rows
    // behind an exchange, written by a job
    for ((name, shape) <- Seq[(String, DataFrame => DataFrame)](
        "upsert-codegen-local" -> identity, "upsert-codegen-dist" -> (_.repartition(1)))) {
      val idx = VectorIndex.createOrConnect(spark, cat, IndexMeta(name, 2))
      def batch(i: Int) = shape(Seq((s"u$i", Seq(1f, i.toFloat), i))
        .toDF("id", "embedding", "chunk_index"))
      idx.upsert(batch(0))
      val compiled = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      val before   = compiled.getCount
      assert(idx.upsert(batch(1)) == 1L)
      assert(compiled.getCount - before == 0L,
        s"$name: a warm upsert compiled ${compiled.getCount - before} classes")
      val vs = idx.versions
      assert(vs.size == 2 && vs == vs.sorted)
      assert(idx.read.select("id").as[String].collect().toSet == Set("u0", "u1"))
    }
  }

  test("upsert: a local batch written on the driver is the file a distributed write makes") {
    val rows = (0 until 50).map(i => (f"id$i%02d", Seq.fill(3)(i * 0.5f), s"text $i",
      if (i % 7 == 0) None else Some(s"s${i % 3}.txt"), i))
    val local = rows.toDF("id", "embedding", "text", "source", "chunk_index")
    /** Each part file's parquet schema, footer key-value metadata and
      * column codecs. */
    def footers(idx: VectorIndex): Seq[(String, Map[String, String], Set[String])] =
      new java.io.File(cat.dataPath(idx.meta.name)).listFiles()
        .filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
          val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.toURI), spark.sparkContext.hadoopConfiguration))
          try {
            val meta = footer.getFooter
            (meta.getFileMetaData.getSchema.toString,
              meta.getFileMetaData.getKeyValueMetaData.asScala.toMap,
              meta.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet)
          } finally footer.close()
        }
    val key = "spark.sql.parquet.compression.codec"
    for (codec <- Seq(None, Some("zstd"))) {
      val was = spark.conf.getOption(key)
      codec.foreach(spark.conf.set(key, _))
      try {
        val suffix = codec.getOrElse("default")
        val onDriver = VectorIndex.createOrConnect(spark, cat, IndexMeta(s"driver-$suffix", 3))
        val byJob    = VectorIndex.createOrConnect(spark, cat, IndexMeta(s"job-$suffix", 3))
        val (driverJobs, _) = jobsOf("local upsert") { assert(onDriver.upsert(local) == 50L) }
        val (writeJobs, _)  = jobsOf("distributed upsert") {
          assert(byJob.upsert(local.repartition(1)) == 50L)
        }
        assert(driverJobs == 0 && writeJobs >= 1, s"$driverJobs and $writeJobs jobs")
        def logged(idx: VectorIndex) =
          spark.read.parquet(cat.dataPath(idx.meta.name)).drop("_version")
        assert(logged(onDriver).exceptAll(logged(byJob)).isEmpty &&
          logged(byJob).exceptAll(logged(onDriver)).isEmpty)
        val (driverFile, jobFile) = (footers(onDriver), footers(byJob))
        assert(driverFile.size == 1 && jobFile.size == 1)
        assert(driverFile == jobFile, s"codec $suffix")
        codec.foreach(c => assert(driverFile.head._3 == Set(c.toUpperCase)))
      } finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("live snapshot: concurrent knn during another handle's upsert answers old or new top-k") {
    val dim  = 8
    val meta = IndexMeta("snap-conc", dim)
    val rnd  = new Random(42)
    def vec(): Seq[Float] = Seq.fill(dim)(rnd.nextGaussian().toFloat)
    val old     = (0 until 200).map(i => f"v$i%03d" -> vec())
    val queries = Seq.fill(12)(vec())
    // the new batch overwrites 20 old ids and puts a near-duplicate of
    // every query in, so each query's new top-k differs from its old one
    val fresh = (0 until 20).map(i => f"v$i%03d" -> vec()) ++
      queries.zipWithIndex.map { case (q, i) => f"n$i%02d" -> q.map(_ + 0.01f) }
    val reader = VectorIndex.createOrConnect(spark, cat, meta)
    val writer = VectorIndex.createOrConnect(spark, cat, meta)
    reader.upsert(old.toDF("id", "embedding"))

    val k = 5
    def cosine(a: Seq[Float], b: Seq[Float]): Double = {
      val d  = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      d / (na * nb)
    }
    def bruteForce(rows: Map[String, Seq[Float]], q: Seq[Float]): Seq[String] =
      rows.toSeq.map { case (id, v) => id -> cosine(q, v) }
        .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
    val oldRows = old.toMap
    val newRows = oldRows ++ fresh
    val expected = queries.map(q => (bruteForce(oldRows, q), bruteForce(newRows, q)))
    assert(expected.forall { case (o, n) => o != n })

    // one partition → one part file: a multi-file batch is published
    // file by file, a window `upsert` documents, so only a single-file
    // batch lands in one step for the readers racing it
    val batch = fresh.toDF("id", "embedding").coalesce(1)
    val done  = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errs  = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sawNew = new java.util.concurrent.atomic.AtomicInteger(0)
    val readers = (0 until 4).map { t =>
      new Thread(() => {
        var round = 0
        // keep querying until the upsert is done, then one more round
        var last = false
        while (!last) {
          last = done.get()
          queries.indices.foreach { i =>
            try {
              val got = reader.knn(queries(i), k).select("id").as[String].collect().toSeq
              val (o, n) = expected(i)
              if (got == n) sawNew.incrementAndGet()
              else if (got != o) errs.add(s"thread $t round $round query $i: $got is neither $o nor $n")
            } catch { case e: Throwable => errs.add(s"thread $t query $i threw $e") }
          }
          round += 1
        }
      })
    }
    readers.foreach(_.start())
    try {
      Thread.sleep(200L)
      writer.upsert(batch)
    } finally done.set(true)
    readers.foreach(_.join(120000))
    assert(errs.isEmpty, errs.asScala.take(3).mkString("; "))
    // every thread's last round started after the upsert returned
    assert(sawNew.get() >= 4 * queries.size)
  }

  /** The Catalyst formulation `knn` ran before its fused operator: the
    * oracle the fused scorer must match row for row.
    */
  private def catalystTopK(live: DataFrame, q: Seq[Float], k: Int,
      filter: Option[Column]): DataFrame =
    filter.fold(live)(live.filter)
      .withColumn("score",
        round(VectorFunctions.cosineSimilarity(col("embedding"), typedlit(q)), 6))
      .orderBy(col("score").desc, col("id")).limit(k)

  /** A seeded 8-dim index whose snapshot has several partitions, with
    * zero vectors (NULL score), a NaN vector, exact duplicates (score
    * ties broken by id) and near-duplicates (ties after rounding).
    */
  private lazy val topKIndex: VectorIndex = {
    val dim = 8
    val rnd = new Random(11)
    def vec(): Seq[Float] = Seq.fill(dim)(rnd.nextGaussian().toFloat)
    val random  = (0 until 400).map(i => f"r$i%03d" -> vec())
    val twin    = random(7)._2
    val special = Seq("z0" -> Seq.fill(dim)(0f), "z1" -> Seq.fill(dim)(0f),
      "nan" -> (Float.NaN +: Seq.fill(dim - 1)(1f))) ++
      (0 until 4).map(i => s"d$i" -> twin) ++
      (0 until 3).map(i => s"e$i" -> twin.map(_ + 1e-7f * (i + 1)))
    val rows = (random ++ special).zipWithIndex.map { case ((id, v), i) =>
      (id, v, s"text $i", if (i % 3 == 0) "a.txt" else "b.txt", i,
        if (i % 5 == 0) None else Some(s"t${i % 4}"))
    }
    val idx = VectorIndex.createOrConnect(spark, cat, IndexMeta("topk-eq", dim))
    idx.upsert(rows.toDF("id", "embedding", "text", "source", "chunk_index", "tag")
      .repartition(4))
    // build the snapshot with one partition per shuffle partition, so the
    // driver-side merge of several partitions' heaps runs
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try idx.read
    finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    idx
  }

  private lazy val topKQueries: Seq[Seq[Float]] = {
    val rnd = new Random(5)
    val twin = topKIndex.read.filter(col("id") === "d0").select("embedding")
      .as[Seq[Float]].head()
    Seq.fill(4)(Seq.fill(8)(rnd.nextGaussian().toFloat)) ++
      Seq(twin, Seq.fill(8)(0f)) // exact ties at 1.0; every score NULL
  }

  // rows as text: a NaN inside an embedding never equals itself under ==
  private def shown(rows: Seq[org.apache.spark.sql.Row]): Seq[String] = rows.map(_.toString)

  // every FilterDict shape, a NULL operand and a column holding NULLs
  // (`tag`), where a row is kept only when the filter is true
  private val topKFilters: Seq[Option[Column]] = Seq(None,
    Some(col("source") === "a.txt"), Some(col("chunk_index") < 50)) ++
    Seq[Map[String, Any]](
      Map("source" -> Map("$ne" -> "a.txt")),
      Map("chunk_index" -> Map("$in" -> Seq(3, 7, 100, 250, 407))),
      Map("chunk_index" -> Map("$nin" -> (0 until 400 by 2))),
      Map("chunk_index" -> Map("$gte" -> 100, "$lte" -> 180)),
      Map("$or" -> Seq(Map("source" -> "a.txt"), Map("chunk_index" -> Map("$gt" -> 300)))),
      Map("source" -> null),
      Map("tag" -> Map("$ne" -> "t1")),
      Map("tag" -> Map("$nin" -> Seq("t1", "t2"))),
      Map("tag" -> Map("$in" -> Seq("t3", null)))
    ).map(f => Some(FilterDict.toColumn(f))) ++
    // functions the analyzer leaves for the optimizer to replace
    Seq(Some(col("text").ilike("TEXT 1%")), Some(nvl(col("tag"), lit("none")) === "none")) :+
    // an int column up-cast to its double operand
    Some(FilterDict.toColumn(Map("chunk_index" -> Map("$lt" -> 2.5))))

  test("fused knn matches the Catalyst top-k: rows, scores, column order and schema") {
    val idx  = topKIndex
    val live = idx.read
    assert(live.queryExecution.toRdd.getNumPartitions > 1,
      "the snapshot must span several partitions")
    val n = live.count().toInt
    for (q <- topKQueries; k <- Seq(0, 1, 5, 17, n + 10); f <- topKFilters) {
      val want = catalystTopK(live, q, k, f)
      val got  = idx.knn(q, k, f)
      val what = s"k=$k filter=$f query=${q.take(2)}"
      assert(got.schema == want.schema, what)
      assert(shown(got.collect().toSeq) == shown(want.collect().toSeq), what)
      assert(shown(idx.knnRows(q, k, f)) == shown(got.collect().toSeq), what)
    }
    // the NULL scores sort last, the NaN score first (Spark's ordering)
    val all = idx.knn(topKQueries.head, n).collect()
    assert(all.head.getAs[String]("id") == "nan")
    assert(all.takeRight(2).map(_.getAs[String]("id")).toSeq == Seq("z0", "z1"))
    assert(all.takeRight(2).forall(_.isNullAt(all.head.fieldIndex("score"))))
  }

  test("fused knn: an empty index, and a metadata column named score") {
    val empty = VectorIndex.createOrConnect(spark, cat, IndexMeta("topk-empty", 3))
    val q = Seq(1f, 0f, 0f)
    val want = catalystTopK(empty.read, q, 5, None)
    val got  = empty.knn(q, 5)
    assert(got.schema == want.schema && got.columns.toSeq == Seq("id", "embedding", "score"))
    assert(got.collect().isEmpty && empty.knnRows(q, 5).isEmpty)
    intercept[IllegalArgumentException](empty.knn(q, 5, Some(col("source") === "x")))

    // withColumn replaces a same-named column in place; so does knn
    val scored = VectorIndex.createOrConnect(spark, cat, IndexMeta("topk-score-col", 3))
    scored.upsert(Seq(("a", Seq(1f, 0f, 0f), "x", "t1"), ("b", Seq(0f, 1f, 0f), "y", "t2"),
      ("c", Seq(1f, 1f, 0f), "z", "t3")).toDF("id", "embedding", "score", "text"))
    for (k <- Seq(1, 2, 5)) {
      val w = catalystTopK(scored.read, q, k, None)
      val g = scored.knn(q, k)
      assert(g.schema == w.schema && shown(g.collect().toSeq) == shown(w.collect().toSeq))
    }
    assert(scored.knn(q, 1).columns.toSeq == Seq("id", "embedding", "score", "text"))
    // the top-k task evaluates a filter row by row, which a subquery is not
    intercept[IllegalArgumentException](
      scored.knn(q, 1, Some(col("text") === spark.range(1).select(lit("t1")).scalar())))
  }

  test("fused knn: concurrent calls on an unchanged index answer as a single thread does") {
    val idx = topKIndex
    val ks  = Seq(1, 3, 10, 20)
    val calls = for (q <- topKQueries; k <- ks; f <- topKFilters) yield (q, k, f)
    val expected = calls.map { case (q, k, f) => shown(idx.knn(q, k, f).collect().toSeq) }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        val order = new Random(t).shuffle(calls.indices.toList).take(30)
        order.foreach { i =>
          val (q, k, f) = calls(i)
          try {
            val got = shown(idx.knn(q, k, f).collect().toSeq)
            if (got != expected(i)) errs.add(s"thread $t call $i (k=$k filter=$f): $got")
          } catch { case e: Throwable => errs.add(s"thread $t call $i threw $e") }
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, errs.asScala.take(3).mkString("; "))
  }
}
