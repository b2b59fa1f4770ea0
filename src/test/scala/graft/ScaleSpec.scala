package graft

import graft.functions.VectorMeanAgg
import graft.operators.Scale
import graft.util.TempDirs
import org.apache.spark.sql.functions._

class ScaleSpec extends GraftSpec {

  test("vector_mean aggregate matches the posexplode formulation") {
    val emb = Tables.embeddings(spark, sfDir)
    val native = emb.groupBy("label")
      .agg(VectorMeanAgg.vectorMean(col("embedding")).as("centroid"))
      .collect()
      .map(r => r.getAs[Int]("label") ->
        r.getAs[scala.collection.Seq[Double]]("centroid").toSeq)
      .toMap
    val reference = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos").agg(avg(col("v").cast("double")).as("m"))
      .collect()
      .groupBy(_.getAs[Int]("label"))
      .view.mapValues(_.sortBy(_.getAs[Int]("pos")).map(_.getAs[Double]("m")).toSeq)
      .toMap
    assert(native.keySet == reference.keySet)
    for (k <- native.keySet) {
      native(k).zip(reference(k)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-12, s"label $k")
      }
    }
  }

  test("vector_mean works via SQL registration and handles empty input") {
    VectorMeanAgg.register(spark)
    Tables.embeddings(spark, sfDir).createOrReplaceTempView("emb_vm")
    val r = spark.sql(
      "SELECT label, vector_mean(embedding) AS c FROM emb_vm GROUP BY label ORDER BY label")
    assert(r.count() == 10)
    assert(r.head().getAs[scala.collection.Seq[Double]]("c").length == 64)
    val empty = spark.sql(
      "SELECT vector_mean(embedding) AS c FROM emb_vm WHERE vec_id < 0")
    assert(empty.head().isNullAt(0))
  }

  test("salted aggregation equals direct groupBy on skewed keys") {
    val ev = Tables.events(spark, sfDir)
    val direct = ev.groupBy("event_type")
      .agg(sum("value").as("total"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val salted = Scale.saltedSumCount(ev, "event_type", "value", 8)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(salted.keySet == direct.keySet)
    salted.foreach { case (k, (s, n)) =>
      assert(n == direct(k)._2)
      assert(math.abs(s - direct(k)._1) < 1e-6)
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Scale.writeBucketed(
        Tables.orders(spark, sfDir).select("o_orderkey", "o_totalprice")
          .withColumnRenamed("o_orderkey", "k"), "t_orders_b", "k", 8)
      Scale.writeBucketed(
        Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
          .withColumnRenamed("l_orderkey", "k"), "t_lineitem_b", "k", 8)
      val joined = Scale.bucketedJoin(spark, "t_orders_b", "t_lineitem_b", "k")
      val plan   = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS t_orders_b")
      spark.sql("DROP TABLE IF EXISTS t_lineitem_b")
      ()
    }
  }

  test("HLL sketch: approx distinct within 5% of exact at 100k cardinality") {
    // the cardinality-estimation primitive a dedup pipeline runs before
    // committing to an exact distinct shuffle: sketch is fixed-size per
    // group, merges associatively across partitions
    val df = spark.range(0, 300000).select((col("id") % 100000).as("k"))
      .withColumn("grp", col("k") % 2)
    val rows = df.groupBy("grp")
      .agg(approx_count_distinct("k", 0.02).as("est"),
        countDistinct("k").as("exact"))
      .collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      val est = r.getAs[Long]("est").toDouble
      val exact = r.getAs[Long]("exact").toDouble
      assert(math.abs(est - exact) / exact < 0.05,
        s"HLL estimate $est vs exact $exact")
    }
  }

  test("date-partitioned layout prunes partitions on a date filter") {
    import java.nio.file.Files
    val dir = TempDirs.scratch("graft-part")
    val events = Tables.events(spark, sfDir).limit(2000)
      .withColumn("day", to_date(col("ts")))
    Scale.writePartitioned(events, dir, "day")
    val days = events.select("day").distinct().count()
    assert(days > 1, "fixture slice spans a single day; widen the limit")
    val firstDay = events.agg(min("day")).head().getDate(0)
    val pruned = Scale.readPartitioned(spark, dir)
      .filter(col("day") === lit(firstDay))
    val plan = pruned.queryExecution.executedPlan.toString
    val partLine = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(partLine.contains("day"), s"no partition pruning:\n$plan")
    // pruned read returns exactly the first day's rows
    assert(pruned.count() == events.filter(col("day") === lit(firstDay)).count())
  }

  test("pq training cost is bounded by sampleLimit, not corpus size") {
    import graft.operators.Quantize
    val emb = Tables.embeddings(spark, sfDir)
    // identical codebooks from the full corpus and from just its first
    // sampleLimit rows by id: the driver-side collect in pqTrain reads
    // exactly the sample, so training is corpus-size independent (the
    // plan is TakeOrderedAndProject — per-partition heaps, no full sort)
    val limit = 256
    val full   = Quantize.pqTrain(emb, "vec_id", "embedding",
      m = 8, k = 16, sampleLimit = limit)
    val prefix = Quantize.pqTrain(
      emb.orderBy(col("vec_id")).limit(limit), "vec_id", "embedding",
      m = 8, k = 16, sampleLimit = limit)
    assert(full.codebooks.map(_.toSeq.map(_.toSeq)).toSeq ==
      prefix.codebooks.map(_.toSeq.map(_.toSeq)).toSeq)
    val plan = emb.orderBy(col("vec_id")).limit(limit)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the documented driver-sample bounds hold
    intercept[IllegalArgumentException](
      Quantize.pqTrain(emb, "vec_id", "embedding", m = 8, k = 16,
        sampleLimit = 8))
    intercept[IllegalArgumentException](
      Quantize.pqTrain(emb, "vec_id", "embedding", m = 8, k = 16,
        sampleLimit = (1 << 20) + 1))
  }

  test("compaction collapses a small-file explosion and preserves the data") {
    val dir = TempDirs.scratch("graft-compact") + "/t"
    val li  = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    li.repartition(64).write.parquet(dir)
    val before = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(before >= 32, s"fixture should start fragmented, got $before files")
    val expected = li.collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy(identity).toSeq

    val n = Scale.compact(spark, dir, targetBytesPerFile = 512L * 1024,
      sortCols = Seq("l_orderkey"))
    val after = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(after == n && after < before / 4,
      s"compaction left $after files (was $before)")
    val got = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[Long]("l_orderkey"), r.getAs[Double]("l_quantity")))
      .sortBy(identity).toSeq
    assert(got == expected, "compaction must not change the data")

    // sortCols clustering: within every output file rows are ordered by
    // the key, so row-group min/max stats are selective for later scans
    import org.apache.spark.sql.functions.input_file_name
    spark.read.parquet(dir)
      .select(col("l_orderkey"), input_file_name().as("f")).collect()
      .groupBy(_.getAs[String]("f")).foreach { case (f, rows) =>
        val keys = rows.map(_.getAs[Long]("l_orderkey")).toSeq
        assert(keys == keys.sorted, s"file $f not sorted")
      }
  }

  test("deterministic shards: reproducible, balanced, densely ranked") {
    val docs = Tables.documents(spark, sfDir).select("doc_id")
    val n    = docs.count()
    val s1 = Scale.deterministicShards(docs, "doc_id", nShards = 4, seed = 7)
      .select("doc_id", "shard", "pos_in_shard").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1).toSeq
    val s2 = Scale.deterministicShards(docs, "doc_id", nShards = 4, seed = 7)
      .select("doc_id", "shard", "pos_in_shard").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1).toSeq
    assert(s1 == s2, "same seed must reproduce the exact order")
    assert(s1.size == n)
    // every shard's positions are dense 1..size (the data-loader contract)
    s1.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted == (1 to rows.size),
        s"shard $shard positions not dense")
    }
    // md5 keys balance shards: no shard dominates (within 2x of even)
    val sizes = s1.groupBy(_._2).view.mapValues(_.size).values.toSeq
    assert(sizes.size == 4 && sizes.max <= 2 * (n / 4),
      s"unbalanced shards: $sizes")
    // a different seed is a genuinely different permutation
    val s3 = Scale.deterministicShards(docs, "doc_id", nShards = 4, seed = 8)
      .select("doc_id", "shard", "pos_in_shard").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1).toSeq
    assert(s1 != s3, "different seed must reshuffle")
  }

  test("registry q6A plans the salted two-phase aggregate") {
    val df = SparkEntry.queries("q6A_salted_agg")(spark, sfDir)
    // phase 1 groups by (key, _salt), phase 2 by key — the salt key must
    // survive into the optimized plan, or the query silently degraded to
    // a plain single-phase groupBy
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("_salt"), plan)
    val rows = df.collect()
    assert(rows.length == 3 && rows.map(_.getAs[Long]("n")).sum ==
      Tables.lineitem(spark, sfDir).count())
  }

  test("zValue hand-trace and range") {
    import spark.implicits._
    // x=3 (011), y=5 (101), bits=3: z-bits x0..x2 at 0,2,4 and y0..y2 at
    // 1,3,5 -> 1 + 2 + 4 + 0 + 0 + 32 = 39
    val z = Seq((3L, 5L)).toDF("x", "y")
      .select(Scale.zValue(col("x"), col("y"), bits = 3).as("z"))
      .head().getLong(0)
    assert(z == 39L)
    // clamp: negatives floor to 0, overflow caps at 2^bits - 1
    val edge = Seq((-7L, 9999L)).toDF("x", "y")
      .select(Scale.zValue(col("x"), col("y"), bits = 3).as("z"))
      .head().getLong(0)
    assert(edge == Seq((0L, 7L)).toDF("x", "y")
      .select(Scale.zValue(col("x"), col("y"), bits = 3).as("z"))
      .head().getLong(0))
    // z is a bijection on the grid: 16x16 at bits=4 -> 256 distinct z
    val grid = (0L until 16L).flatMap(x => (0L until 16L).map(y => (x, y)))
      .toDF("x", "y")
      .select(Scale.zValue(col("x"), col("y"), bits = 4).as("z"))
    assert(grid.distinct().count() == 256)
    assert(grid.agg(min("z"), max("z")).head() ==
      org.apache.spark.sql.Row(0L, 255L))
  }

  test("registry q0U joins bucket-local: no exchange on the join key") {
    val df = SparkEntry.queries("q0U_bucketed_join")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
    // the only exchanges must be the aggregate/orderBy ones above the
    // join; bucketing supplies the k-partitioning to both scan sides
    assert(!plan.contains("Exchange hashpartitioning(k#"),
      s"bucketed join re-shuffled on the join key:\n$plan")
    assert(df.count() == 3)
  }

  test("withHilbert: bijection, unit-step adjacency, tighter buckets than Morton") {
    import spark.implicits._
    val n = 8 // bits = 3
    val grid = (0L until n).flatMap(x => (0L until n).map(y => (x, y)))
      .toDF("x", "y")
    val h = Scale.withHilbert(grid, "x", "y", "h", bits = 3)
      .collect().map(r => r.getAs[Long]("h") ->
        (r.getAs[Long]("x"), r.getAs[Long]("y"))).toMap
    // bijection onto [0, 64)
    assert(h.keySet == (0L until 64L).toSet)
    // THE Hilbert property z-order lacks: consecutive indices are grid
    // neighbors (Manhattan distance exactly 1), for every step
    (0L until 63L).foreach { d =>
      val (x1, y1) = h(d); val (x2, y2) = h(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"d=$d jumps from ($x1,$y1) to ($x2,$y2)")
    }
    // clamp matches zValue's convention
    val c = Scale.withHilbert(Seq((-7L, 9999L)).toDF("x", "y"),
      "x", "y", "h", bits = 3).head().getAs[Long]("h")
    val c2 = Scale.withHilbert(Seq((0L, 7L)).toDF("x", "y"),
      "x", "y", "h", bits = 3).head().getAs[Long]("h")
    assert(c == c2)
    // locality: average per-bucket bbox semi-perimeter at the same
    // bucket count is no worse than Morton's on a full grid
    def avgBbox(df: org.apache.spark.sql.DataFrame, keyCol: String): Double =
      df.withColumn("b", expr(s"$keyCol div 16"))
        .groupBy("b")
        .agg((max("x") - min("x") + max("y") - min("y")).as("sp"))
        .agg(avg("sp")).head().getDouble(0)
    val big = (0L until 32L).flatMap(x => (0L until 32L).map(y => (x, y)))
      .toDF("x", "y")
    val hb = avgBbox(Scale.withHilbert(big, "x", "y", "h", bits = 5), "h")
    val zb = avgBbox(big.withColumn("z",
      Scale.zValue(col("x"), col("y"), bits = 5)), "z")
    assert(hb <= zb, s"hilbert avg bbox $hb must not exceed morton $zb")
  }

  test("zOrderWrite shrinks per-file bounding boxes vs row-order layout") {
    import org.apache.spark.sql.functions.input_file_name
    val dir = graft.util.TempDirs.scratch("graft-zorder-")
    val ev = Tables.events(spark, sfDir)
      .select((col("user_id") % 256).as("x"),
        get_json_object(col("props"), "$.k").cast("long").as("y"))
    ev.repartition(8).write.mode("overwrite").parquet(s"$dir/plain")
    Scale.zOrderWrite(ev, s"$dir/zorder", "x", "y", bits = 8, nFiles = 8)

    // per-file (x, y) bounding-box area = what parquet min/max stats
    // can prune against; z-ordering must shrink the average box
    def avgArea(path: String): Double = {
      val rows = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(((max("x") - min("x") + 1) * (max("y") - min("y") + 1))
          .as("area"))
        .agg(avg("area")).head()
      rows.getDouble(0)
    }
    val plain = avgArea(s"$dir/plain")
    val z     = avgArea(s"$dir/zorder")
    assert(z < plain / 2.0,
      s"z-order avg bounding box $z not < half of row-order $plain")
  }
}
