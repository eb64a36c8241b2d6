package graft

import java.sql.Timestamp

import graft.operators.{AsOfJoin, Sessionize, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("Stats.corrMatrix matches closed-form Pearson on a small frame") {
    val df = Seq((1.0, 2.0, 5.0), (2.0, 4.0, 4.0), (3.0, 6.0, 3.0),
      (4.0, 8.0, 2.0)).toDF("x", "y", "z")
    val got = graft.operators.Stats.corrMatrix(df, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(math.abs(got(("x", "y")) - 1.0) < 1e-12)   // y = 2x
    assert(math.abs(got(("x", "z")) + 1.0) < 1e-12)   // z = 6 - x
    assert(math.abs(got(("y", "z")) + 1.0) < 1e-12)
    // one aggregation pass: a single scan feeds all pairs
    val p = graft.operators.Stats.corrMatrix(df, Seq("x", "y", "z"))
      .queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("LocalTableScan")) <= 1)
    // fast mode agrees with exact mode to double tolerance
    val fast = graft.operators.Stats.corrMatrix(df, Seq("x", "y", "z"),
        exact = false)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    got.foreach { case (k, v) => assert(math.abs(fast(k) - v) < 1e-9) }
  }

  test("Interpolate.linear fills interior nulls, ffills trailing, keeps leading null") {
    val df = Seq[(Long, Int, Option[Double])](
      (1L, 0, None),            // leading null -> stays null
      (1L, 1, Some(1.0)),
      (1L, 2, None),            // interior -> 2.0
      (1L, 3, Some(3.0)),
      (1L, 5, None),            // trailing -> ffill 3.0
      (2L, 1, Some(10.0)),
      (2L, 4, None),            // interior, uneven axis: 10 + 20*(3/8) = 17.5
      (2L, 9, Some(30.0))
    ).toDF("g", "x", "v")
    val got = graft.operators.Interpolate.linear(df, "v", "x", Seq("g"))
      .orderBy($"g", $"x").collect()
      .map(r => (r.getLong(0), r.getInt(1), Option(r.get(3)).map(_.asInstanceOf[Double])))
    assert(got.toSeq == Seq(
      (1L, 0, None), (1L, 1, Some(1.0)), (1L, 2, Some(2.0)),
      (1L, 3, Some(3.0)), (1L, 5, Some(3.0)),
      (2L, 1, Some(10.0)), (2L, 4, Some(17.5)), (2L, 9, Some(30.0))))
  }

  test("asofPrev attaches latest prior right row, inclusive at equality") {
    val trades = Seq(
      (1L, ts("2024-01-01 10:00:00"), "t1"),
      (1L, ts("2024-01-01 10:05:00"), "t2"),
      (2L, ts("2024-01-01 09:00:00"), "t3")
    ).toDF("key", "t", "trade")
    val quotes = Seq(
      (1L, ts("2024-01-01 09:59:00"), 100.0),
      (1L, ts("2024-01-01 10:05:00"), 101.0), // equal ts -> matches t2
      (2L, ts("2024-01-01 09:30:00"), 50.0)   // after t3 -> no match
    ).toDF("key", "qt", "px")

    val got = AsOfJoin.asofPrev(trades, quotes, "key", "t", "qt", Seq("px"))
      .select($"trade", $"asof_px").collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(got("t1").contains(100.0))
    assert(got("t2").contains(101.0))   // inclusive <=
    assert(got("t3").isEmpty)           // quote is after the trade
  }

  test("asofPrev carries the matched row ATOMICALLY when fields are null") {
    val trades = Seq((1L, ts("2024-01-01 10:00:00"), "t1"))
      .toDF("key", "t", "trade")
    val quotes = Seq(
      (1L, ts("2024-01-01 09:00:00"), Some(100.0), Some(2.0)),
      (1L, ts("2024-01-01 09:30:00"), Option.empty[Double], Some(5.0))
    ).toDF("key", "qt", "px", "qty")
    // the matched row is the 09:30 one: px must be NULL (that row's
    // value), not 100.0 leaked from the earlier row
    val r = AsOfJoin.asofPrev(trades, quotes, "key", "t", "qt",
      Seq("px", "qty")).select($"asof_px", $"asof_qty").head
    assert(r.isNullAt(0), s"px must be the matched row's null, got $r")
    assert(r.getDouble(1) == 5.0)
    // tolerance applies to the matched ROW: 09:30 within 45 min -> kept
    val tol = AsOfJoin.asofPrev(trades, quotes, "key", "t", "qt",
      Seq("px", "qty"), toleranceMicros = 45L * 60 * 1000000)
      .select($"asof_qty").head
    assert(tol.getDouble(0) == 5.0)
  }

  test("asofPrev tolerance nulls stale matches; asofNext matches forward") {
    val trades = Seq((1L, ts("2024-01-01 10:00:00"), "t1")).toDF("key", "t", "trade")
    val quotes = Seq((1L, ts("2024-01-01 08:00:00"), 99.0),
      (1L, ts("2024-01-01 10:30:00"), 101.0)).toDF("key", "qt", "px")
    // prior quote is 2h old; 30-minute tolerance nulls it
    val tol = AsOfJoin.asofPrev(trades, quotes, "key", "t", "qt", Seq("px"),
      toleranceMicros = 30L * 60 * 1000000)
    assert(tol.select("asof_px").head().isNullAt(0))
    // forward direction finds the 10:30 quote
    val fwd = AsOfJoin.asofNext(trades, quotes, "key", "t", "qt", Seq("px"))
    assert(fwd.select("asof_px").head().getDouble(0) == 101.0)
  }

  test("nearDupClusters finds connected components of pair graph") {
    import graft.operators.Dedup
    // components: {1,2,3} via 1-2, 2-3; {10,11}; singleton edges only
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("nearDupClusters converges on a path longer than maxIter (pointer jumping)") {
    import graft.operators.Dedup
    // Path graph 0-1-2-...-40: diameter 40 >> maxIter 8. Plain one-hop
    // min-label propagation would need 40 rounds; pointer jumping needs
    // ~log2(40).
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, converged, _) = Dedup.nearDupClustersWithStatus(pairs, maxIter = 8)
    assert(converged, "pointer jumping must converge in ~log2(diameter) rounds")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 41 && got.values.forall(_ == 0L))
  }

  test("nearDupClusters surfaces non-convergence instead of mis-clustering") {
    import graft.operators.Dedup
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (_, converged, _) = Dedup.nearDupClustersWithStatus(pairs, maxIter = 1)
    assert(!converged)
    intercept[IllegalArgumentException] {
      Dedup.nearDupClusters(pairs, maxIter = 1)
    }
  }

  test("sessionize splits on gap and aggregates sessions") {
    val ev = Seq(
      (7L, ts("2024-01-01 00:00:00"), 1.0),
      (7L, ts("2024-01-01 00:10:00"), 2.0),
      (7L, ts("2024-01-01 01:10:00"), 3.0), // 60 min gap -> new session
      (8L, ts("2024-01-01 05:00:00"), 4.0)
    ).toDF("user_id", "ts", "value")
    val got = Sessionize.summarize(ev, "user_id", "ts", "value", gapSeconds = 1800)
      .orderBy("user_id", "session_idx").collect()
    assert(got.length == 3)
    assert(got(0).getAs[Long]("n_events") == 2)
    assert(got(0).getAs[Double]("sum_value") == 3.0)
    assert(got(1).getAs[Long]("session_idx") == 1)
    assert(got(1).getAs[Long]("duration_us") == 0L)
  }

  test("cosine: identical vectors 1.0, orthogonal 0.0") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
      (Seq(1.0f, 0.0f), Seq(0.0f, 2.0f))
    ).toDF("a", "b")
    val sims = df.select(Similarity.cosine($"a", $"b")).as[Double].collect()
    assert(sims(0) == 1.0)
    assert(sims(1) == 0.0)
  }

  test("knnBrute ranks by similarity and excludes self") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.knnBrute(emb, emb.filter($"vec_id" === 0), k = 2)
      .orderBy("rank").collect()
    assert(got.map(_.getAs[Long]("n_id")).toSeq == Seq(1L, 2L))
    assert(got(0).getAs[Int]("rank") == 1)
  }

  test("joinKeyProfile surfaces the skew signature") {
    import graft.operators.Validate
    // one hot key (1000 rows) over a uniform background (10 each)
    val d = ((0L until 1000L).map(_ => 7L) ++
      (1L to 50L).flatMap(k => Seq.fill(10)(k * 100))).toDF("k")
    val got = Validate.joinKeyProfile(d, "k", topK = 3).collect()
    assert(got.length == 3)
    val top = got.map(r => r.getAs[String]("heavy_key") ->
      r.getAs[Long]("heavy_cnt")).toMap
    assert(top("7") == 1000L)
    val r0 = got.head
    assert(r0.getAs[Long]("n_keys") == 51)
    assert(r0.getAs[Long]("max_cnt") == 1000L)
    // the signature: the bulk quantile stays at the background size,
    // max explodes (with 51 keys p99 interpolates INTO the outlier —
    // 505 here — which is itself informative; p50 is the bulk)
    assert(r0.getAs[Double]("p50") == 10.0 &&
      r0.getAs[Long]("max_cnt") > 50 * r0.getAs[Double]("p50"))
  }

  test("hardNegatives caps similarity below the near-dup ceiling") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(1.0f, 0.001f)),   // near-dup of 0: cos > 0.999
      (2L, Seq(0.9f, 0.4f)),     // similar but under the ceiling
      (3L, Seq(0.0f, 1.0f)),     // orthogonal
      (4L, Seq(-1.0f, 0.0f))     // opposite
    ).toDF("vec_id", "embedding")
    val got = Similarity
      .hardNegatives(emb, emb.filter($"vec_id" === 0), k = 3, maxSim = 0.95)
      .orderBy("rank").collect()
    val ids = got.map(_.getAs[Long]("n_id")).toSeq
    assert(!ids.contains(1L), "near-duplicate leaked into negatives")
    assert(ids == Seq(2L, 3L, 4L), s"wrong hard-negative order: $ids")
    assert(got.forall(_.getAs[Double]("sim") < 0.95))
    // the plain knn WOULD have returned the near-dup first
    val knn = Similarity.knnBrute(emb, emb.filter($"vec_id" === 0), k = 1)
      .head.getAs[Long]("n_id")
    assert(knn == 1L)
  }

  test("knnIvf equals the former crossJoin+window assignment formulation") {
    import org.apache.spark.sql.expressions.Window
    assume(TestData.available("0.001"),
      s"testdata absent at ${TestData.sf("0.001")}")
    val emb = Tables.embeddings(spark, TestData.sf("0.001"))
    val queries = emb.filter($"vec_id" < 10)
    val got = Similarity.knnIvf(emb, queries, k = 5, nCells = 8, nprobe = 3)
      .orderBy("q_id", "rank").collect().toSeq
    // the pre-round-5 formulation, inline: crossJoin vs centroids +
    // row_number window for both assignment and probes — the broadcast-
    // model map must be EXACTLY equal (same doubles, same tie-breaks)
    val c = emb.select($"vec_id".as("n_id"), $"embedding".as("n_vec"))
    val q = queries.select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val centroids = emb
      .orderBy(graft.operators.Curation.hashUnit($"vec_id",
        Similarity.SeedTag), $"vec_id").limit(8)
      .select($"vec_id".as("cell_id"), $"embedding".as("c_vec"))
    val assignW = Window.partitionBy($"n_id")
      .orderBy($"c_sim".desc, $"cell_id")
    val assigned = c.crossJoin(broadcast(centroids))
      .withColumn("c_sim", Similarity.cosine($"n_vec", $"c_vec"))
      .withColumn("r", row_number().over(assignW)).filter($"r" === 1)
      .select($"cell_id", $"n_id", $"n_vec")
    val probeW = Window.partitionBy($"q_id")
      .orderBy($"c_sim".desc, $"cell_id")
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("c_sim", Similarity.cosine($"q_vec", $"c_vec"))
      .withColumn("r", row_number().over(probeW)).filter($"r" <= 3)
      .select($"cell_id", $"q_id", $"q_vec")
    val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"n_id")
    val want = assigned.join(probes, "cell_id")
      .filter($"q_id" =!= $"n_id")
      .withColumn("sim", Similarity.cosine($"q_vec", $"n_vec"))
      .withColumn("rank", row_number().over(w)).filter($"rank" <= 5)
      .select($"q_id", $"rank", $"n_id", $"sim")
      .orderBy("q_id", "rank").collect().toSeq
    assert(got == want)
  }

  test("knnIvf edge contracts: empty corpus, null vectors, named centroid cols") {
    val schema = "vec_id LONG, embedding ARRAY<FLOAT>"
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(schema))
    // empty corpus -> empty result with the knn schema, not an exception
    val r0 = Similarity.knnIvf(empty, empty, k = 3, nCells = 4)
    assert(r0.collect().isEmpty)
    assert(r0.columns.toSeq == Seq("q_id", "rank", "n_id", "sim"))
    // rows whose vector is NULL or has a null element get no cell —
    // they are invisible to probes instead of crashing the job
    val rows = Seq(
      org.apache.spark.sql.Row(0L, Seq(1.0f, 0.0f)),
      org.apache.spark.sql.Row(1L, Seq(0.9f, 0.1f)),
      org.apache.spark.sql.Row(2L, null),
      org.apache.spark.sql.Row(3L, Seq(0.5f, null))
    )
    val emb = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      org.apache.spark.sql.types.StructType.fromDDL(schema))
    val res = Similarity.knnIvf(emb, emb.filter($"vec_id" === 0L), k = 5,
      nCells = 2, nprobe = 2)
    assert(res.collect().map(_.getAs[Long]("n_id")).toSet == Set(1L))
    // centroids0 columns resolve BY NAME regardless of order
    val csSwapped = Seq((Seq(1.0f, 0.0f), 7L), (Seq(0.0f, 1.0f), 8L))
      .toDF("c_vec", "cell_id")
    val r2 = Similarity.knnIvf(emb, emb.filter($"vec_id" === 0L), k = 5,
      nCells = 2, nprobe = 2, centroids0 = Some(csSwapped))
    assert(r2.collect().map(_.getAs[Long]("n_id")).toSet == Set(1L))
  }

  test("knnIvf assignment ties break to the smallest cell id") {
    // two IDENTICAL centroid candidates (vec_ids 0 and 1 share a
    // vector): every corpus row is equidistant to both cells, so the
    // argmax must always pick the lower cell id — observable as cell 1
    // receiving no members beyond its own seed row's twin
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.8f, 0.2f))
    ).toDF("vec_id", "embedding")
    val centroids = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.0f)))
      .toDF("cell_id", "c_vec")
    val res = Similarity.knnIvf(emb, emb.filter($"vec_id" === 2L), k = 3,
      nCells = 2, nprobe = 1, centroids0 = Some(centroids))
    // probe goes to cell 0 (tie -> smallest id); all corpus rows were
    // also assigned to cell 0, so every other vector is reachable
    assert(res.collect().map(_.getAs[Long]("n_id")).toSet == Set(0L, 1L, 3L))
  }

  test("knnIvf recall vs brute force on real embeddings") {
    assume(TestData.available("0.001"),
      s"testdata absent at ${TestData.sf("0.001")}")
    val emb = Tables.embeddings(spark, TestData.sf("0.001"))
    val queries = emb.filter($"vec_id" < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val exact = pairs(Similarity.knnBrute(emb, queries, k = 5))
    val ivf = pairs(Similarity.knnIvf(emb, queries, k = 5, nCells = 4, nprobe = 2))
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
    assert(ivf.subsetOf(ivf ++ exact))
    // trained quantizer: k-means centroids should not hurt recall
    val trained = Similarity.kmeansCentroids(emb, nCells = 4, iters = 2)
    val ivfK = pairs(Similarity.knnIvf(emb, queries, k = 5, nCells = 4,
      nprobe = 2, centroids0 = Some(trained)))
    val recallK = (exact intersect ivfK).size.toDouble / exact.size
    assert(recallK >= 0.5, s"kmeans-IVF recall too low: $recallK")
  }

  test("cosineNearDupPairs recall vs exact all-pairs (multi-table LSH)") {
    assume(TestData.available("0.001"),
      s"testdata absent at ${TestData.sf("0.001")}")
    val emb = Tables.embeddings(spark, TestData.sf("0.001"))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val exact = pairs(Similarity.cosineNearDupPairsExact(
      emb, "vec_id", "embedding", threshold = 0.4))
    val lsh = pairs(Similarity.cosineNearDupPairs(
      emb, "vec_id", "embedding", threshold = 0.4))
    assert(exact.nonEmpty, "fixture must contain near-dup pairs")
    // precision 1.0 by construction (exact cosine verify) ...
    assert(lsh.subsetOf(exact), s"false positives: ${lsh.diff(exact)}")
    // ... recall bounded by OR-amplified collision probability; at this
    // corpus's sim range the 12-table/3-bit default clears 0.5 —
    // deterministic (hash-derived hyperplanes), so no flake
    val recall = (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH near-dup recall too low: $recall")
  }

  test("kmeansCentroids recovers two well-separated clusters") {
    import graft.operators.Similarity
    // 2-D points: cluster A around (1, 0), cluster B around (0, 1)
    val pts = ((0 until 20).map(i => (i.toLong, Seq(1.0, 0.02 * i))) ++
               (20 until 40).map(i => (i.toLong, Seq(0.02 * (i - 20), 1.0))))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(pts, nCells = 2, iters = 4)
      .collect().map(_.getSeq[Double](1))
    assert(cents.length == 2)
    // one centroid dominated by x, the other by y (cosine clusters)
    val xDom = cents.count(c => c(0) > c(1))
    assert(xDom == 1, cents.map(_.mkString("(", ",", ")")).mkString(" "))
  }

  test("SortCheck.isSorted folds per-partition summaries correctly") {
    import graft.operators.SortCheck
    val sorted = spark.range(0, 1000).toDF("x").repartitionByRange(4, $"x")
    assert(SortCheck.isSorted(sorted, "x"))
    val unsorted = spark.range(0, 1000)
      .select((col("id") * 37 % 1000).as("x")).repartitionByRange(4, $"x")
    // range partitions are ordered but rows inside each are not
    assert(!SortCheck.isSorted(unsorted, "x"))
    // locally sorted but boundaries out of order: descending range parts
    val revBounds = spark.range(0, 100).toDF("x")
      .repartitionByRange(2, col("x").desc).sortWithinPartitions("x")
    assert(!SortCheck.isSorted(revBounds, "x"))
  }

  test("SortCheck: empty partitions don't break the boundary chain; non-numeric rejected") {
    import graft.operators.SortCheck
    // partitions [[10], [], [5]]: the empty middle partition must not
    // hide the 10 > 5 boundary violation
    val rdd = spark.sparkContext.makeRDD(
      Seq(Seq(10L), Seq.empty[Long], Seq(5L)), 3)
      .mapPartitions(_.flatten)
    val bad = spark.createDataFrame(rdd.map(org.apache.spark.sql.Row(_)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.LongType))))
    assert(!SortCheck.isSorted(bad, "x"))
    // same shape but ordered -> sorted
    val okRdd = spark.sparkContext.makeRDD(
      Seq(Seq(5L), Seq.empty[Long], Seq(10L)), 3).mapPartitions(_.flatten)
    val ok = spark.createDataFrame(okRdd.map(org.apache.spark.sql.Row(_)),
      bad.schema)
    assert(SortCheck.isSorted(ok, "x"))
    // a null in a later partition after values violates nulls-first
    val nullRdd = spark.sparkContext.makeRDD(
      Seq(Seq[Any](1L, 2L), Seq[Any](null, 3L)), 2).mapPartitions(_.flatten)
    val withNull = spark.createDataFrame(
      nullRdd.map(org.apache.spark.sql.Row(_)), bad.schema)
    assert(!SortCheck.isSorted(withNull, "x"))
    intercept[IllegalArgumentException] {
      SortCheck.isSorted(Seq("a", "b").toDF("s"), "s")
    }
  }

  test("ANSI mode surfaces integer SUM overflow instead of wrapping (SUM_OVERFLOW)") {
    val df = Seq(Long.MaxValue, 1L).toDF("x")
    val ansi = "spark.sql.ansi.enabled"
    val prior = spark.conf.get(ansi)
    try {
      spark.conf.set(ansi, "true")
      val ex = intercept[Exception] { df.agg(sum($"x")).collect() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(m =>
        m.toLowerCase.contains("overflow") || m.contains("ARITHMETIC")),
        ex.toString)
      // non-ANSI mode: Spark wraps like the reference's plain SUM
      spark.conf.set(ansi, "false")
      val wrapped = df.agg(sum($"x")).as[Long].head()
      assert(wrapped == Long.MinValue)
    } finally spark.conf.set(ansi, prior)
  }

  test("HLL sketch rollup (union of binary sketches) tracks exact distinct counts") {
    // 3 fine groups over overlapping key ranges; union must dedup
    // across groups, not add the per-group cardinalities
    val df = (1 to 30000).map(i => (s"g${i % 3}", i % 5000)).toDF("g", "k")
    val sketches = df.groupBy($"g").agg(hll_sketch_agg($"k").as("hll"))
    val est = sketches.agg(
      hll_sketch_estimate(hll_union_agg($"hll")).as("est"))
      .as[Long].head()
    assert(math.abs(est - 5000) / 5000.0 < 0.05,
      s"union estimate $est too far from exact 5000")
    // naive sum of per-group estimates would be ~3x — prove the union dedups
    val perGroup = sketches
      .select(hll_sketch_estimate($"hll").as("e")).as[Long].collect().sum
    assert(perGroup > 2 * est)
  }

  test("count-min sketch estimates are >= exact and within eps*N") {
    val df = (1 to 20000).map(i => i % 100).toDF("k")
    val cms = df.stat.countMinSketch($"k", eps = 0.001, confidence = 0.99,
      seed = 42)
    // every key appears exactly 200 times; CMS only ever OVER-counts
    (0L to 99L).foreach { k =>
      val est = cms.estimateCount(k)
      assert(est >= 200, s"CMS must never undercount, got $est for $k")
      assert(est <= 200 + (0.001 * 20000).toLong + 1,
        s"estimate $est exceeds the eps*N bound for $k")
    }
  }

  test("bloomScreenBatch: no false negatives, bounded false positives") {
    import graft.operators.Dedup
    val corpus = (1 to 10000).map(i => s"doc-$i").toDF("key").cache()
    val screen = Dedup.bloomScreenBatch(corpus, "key",
      expectedItems = 10000, fpp = 0.01)
    try {
      // every corpus key must be rejected (Bloom has no false negatives)
      val leaked = screen(corpus).count()
      assert(leaked == 0, s"$leaked already-ingested keys passed the screen")
      // novel keys are admitted at >= 1 - ~fpp
      val novel = (1 to 10000).map(i => s"new-$i").toDF("key")
      val admitted = screen(novel).count()
      assert(admitted >= 10000 - 500,
        s"only $admitted/10000 novel keys admitted (fpp blowout)")
      // the probe is a native codegen expression — a ScalaUDF here would
      // break WholeStageCodegen on the map-only hot path. Probe over a
      // Range scan: a local Seq would be folded away by
      // ConvertToLocalRelation and leave no Filter node to inspect.
      val ranged = spark.range(100).selectExpr("concat('new-', id) AS key")
      val plan = screen(ranged).queryExecution.executedPlan.toString
      assert(!plan.contains("ScalaUDF"),
        s"bloom screen plan contains a ScalaUDF:\n$plan")
      assert(plan.toLowerCase.contains("bloommightcontain"),
        s"expected the native BloomMightContain probe in the plan:\n$plan")
    } finally screen.close()
  }

  test("Validate: planted violations, null rules, orphans, profile metrics") {
    import graft.operators.Validate
    val df = Seq(
      (1L, 10.0, "a"), (2L, -5.0, "b"), (3L, 0.0, null),
      (4L, 3.0, "a")).toDF("id", "v", "s")
    val rules = Validate.checkRows(df, Seq(
      "v_nonneg" -> ($"v" >= 0),
      "s_not_null" -> $"s".isNotNull,
      // null predicate (null >= comparison) counts as a violation
      "s_in_set" -> $"s".isin("a", "b")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rules == Map("v_nonneg" -> 1L, "s_not_null" -> 1L, "s_in_set" -> 1L))
    val orphans = Validate.orphanKeys(
        Seq(1L, 2L, 9L).toDF("fk"), "fk",
        Seq(1L, 2L, 3L).toDF("pk"), "pk")
      .as[Long].collect()
    assert(orphans.toSeq == Seq(9L))
    val prof = Validate.profile(df, Seq("s"), exact = true).head()
    assert(prof.getString(0) == "s" && prof.getLong(1) == 4L &&
      prof.getLong(2) == 1L && prof.getLong(3) == 2L &&
      prof.getString(4) == "a" && prof.getString(5) == "b")
    // approx mode: same shape, estimate close on tiny input
    val approx = Validate.profile(df, Seq("id")).head()
    assert(approx.getLong(3) == 4L)
  }

  test("Cdc: log compaction latest-wins; merge upserts, deletes, passes through") {
    import graft.operators.Cdc
    val snapshot = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val log = Seq(
      (1L, "a", 11.0, "U", 1L), (1L, "a", 12.0, "U", 2L), // latest wins
      (2L, "b", 20.0, "D", 1L),                           // delete
      (4L, "d", 40.0, "I", 1L),                           // insert
      (4L, "d", 41.0, "U", 2L)                            // then update
    ).toDF("k", "name", "bal", "op", "seq")
    val compact = Cdc.compactLog(log, "k", "seq", "op")
    assert(compact.count() == 3)
    val merged = Cdc.merge(snapshot, compact, "k", "op")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(merged.toSeq == Seq(
      (1L, "a", 12.0),  // updated to the latest change
      (3L, "c", 30.0),  // untouched passes through; 2 deleted
      (4L, "d", 41.0))) // inserted then updated
  }

  test("entry flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("query names are unique across packs (toMap would silently drop dups)") {
    val all = SparkEntry.packs.flatMap(_.gates).map(_.name)
    val dups = all.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(",")}")
    assert(all.size == SparkEntry.queries.size)
  }

  test("Stats.weightedPercentiles matches the brute-force type-1 definition") {
    // values with repeats + skewed integer weights across two groups
    val rows = Seq(
      ("a", 1.0, 1L), ("a", 2.0, 3L), ("a", 2.0, 2L), ("a", 5.0, 1L),
      ("a", 9.0, 7L),
      ("b", -3.0, 2L), ("b", 0.0, 2L), ("b", 4.0, 1L))
    val df = rows.toDF("g", "v", "w")
    def brute(g: String, num: Long, den: Long): Double = {
      val byV = rows.filter(_._1 == g).groupBy(_._2).view
        .mapValues(_.map(_._3).sum).toSeq.sortBy(_._1)
      val tot = byV.map(_._2).sum
      var cum = 0L
      byV.collectFirst {
        case (v, w) if { cum += w; cum * den >= tot * num } => v
      }.get
    }
    val ps = Seq(("p0", 0L, 1L), ("p25", 1L, 4L), ("p50", 1L, 2L),
      ("p90", 9L, 10L), ("p100", 1L, 1L))
    val got = graft.operators.Stats
      .weightedPercentiles(df, "g", "v", "w", ps)
      .orderBy("g").collect()
    for ((row, g) <- got.zip(Seq("a", "b")); ((name, num, den), i) <- ps.zipWithIndex)
      assert(row.getDouble(i + 1) == brute(g, num, den), s"$g.$name")
    // p0 = min, p100 = max (threshold edge cases)
    assert(got(0).getDouble(1) == 1.0 && got(0).getDouble(5) == 9.0)
    // partition-invariance: same result after a physical reshuffle
    val re = graft.operators.Stats
      .weightedPercentiles(df.repartition(5), "g", "v", "w", ps)
      .orderBy("g").collect()
    assert(re.toSeq == got.toSeq)
    // null values / null weights are excluded, not counted as zeros
    val withNulls = df.union(Seq(("a", Option.empty[Double], Option(100L)),
      ("a", Option(2.5), Option.empty[Long])).toDF("g", "v", "w"))
    val n = graft.operators.Stats
      .weightedPercentiles(withNulls, "g", "v", "w", Seq(("p50", 1L, 2L)))
      .orderBy("g").collect()
    assert(n(0).getDouble(1) == brute("a", 1L, 2L))
  }

  test("Stats.rowsAtQuantiles gathers the kernel's LOWER/HIGHER/NEAREST rows") {
    import spark.implicits._
    // n = 8 values 10..80: q = 1/2 → val = 3.5, an exact tie —
    // LOWER picks idx 3 (40), HIGHER idx 4 (50), NEAREST rounds
    // half-to-EVEN → idx 4 (50), matching nearbyint(3.5) = 4
    val df = (1 to 8).map(i => (i * 10, s"r$i")).toDF("v", "tag")
    def got(interp: String, num: Long, den: Long): (Int, String) = {
      val r = graft.operators.Stats
        .rowsAtQuantiles(df, Seq($"v"), Seq((num, den)), interp)
        .select($"v", $"tag").head()
      (r.getInt(0), r.getString(1))
    }
    assert(got("lower", 1, 2) == ((40, "r4")))
    assert(got("higher", 1, 2) == ((50, "r5")))
    assert(got("nearest", 1, 2) == ((50, "r5")))
    // val = 7·7/8 = 6.125 → lower 6, higher 7, nearest 6
    assert(got("lower", 7, 8)._1 == 70)
    assert(got("higher", 7, 8)._1 == 80)
    assert(got("nearest", 7, 8)._1 == 70)
    // q = 0 and q = 1 pin first/last; whole rows ride along
    assert(got("nearest", 0, 1) == ((10, "r1")))
    assert(got("nearest", 1, 1) == ((80, "r8")))
    // tie at val = 0.5 (n = 2): half-to-even → idx 0, like nearbyint(0.5)
    val two = Seq((1, "a"), (2, "b")).toDF("v", "tag")
    val t = graft.operators.Stats
      .rowsAtQuantiles(two, Seq($"v"), Seq((1L, 2L)), "nearest").head()
    assert(t.getAs[Int]("v") == 1)
    // brute-force referee across every q/interp on random data
    val rnd = new scala.util.Random(11)
    val vals = Seq.fill(37)(rnd.nextInt(1000)).distinct
    val rdf = vals.map(v => (v, s"t$v")).toDF("v", "tag")
    val sortedVals = vals.sorted
    val m = sortedVals.length
    for ((num, den) <- Seq((1L, 4L), (1L, 2L), (3L, 4L), (2L, 3L));
         interp <- Seq("lower", "higher", "nearest")) {
      val a = num * (m - 1); val lo = a / den; val rem = a % den
      val expectIdx = interp match {
        case "lower" => lo
        case "higher" => if (rem > 0) lo + 1 else lo
        case "nearest" =>
          if (2 * rem < den) lo else if (2 * rem > den) lo + 1
          else lo + (lo % 2)
      }
      val r = graft.operators.Stats
        .rowsAtQuantiles(rdf, Seq($"v"), Seq((num, den)), interp).head()
      assert(r.getAs[Int]("v") == sortedVals(expectIdx.toInt),
        s"q=$num/$den $interp")
    }
  }

  test("Stats.rowsAtQuantiles: empty input yields an empty gather " +
      "(reference parity), reserved-name clashes fail loudly") {
    import spark.implicits._
    // cudf::quantiles of an empty table is an empty table, not an error
    val empty = Seq.empty[(Int, String)].toDF("v", "tag")
    val out = graft.operators.Stats
      .rowsAtQuantiles(empty, Seq($"v"), Seq((1L, 2L)), "nearest")
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("q_num", "q_den", "interp", "v", "tag"))
    // an input column named like an internal/output column would make
    // the gather's join ambiguous — rejected up front
    val clash = Seq((1, 0L)).toDF("v", "q_num")
    intercept[IllegalArgumentException] {
      graft.operators.Stats
        .rowsAtQuantiles(clash, Seq($"v"), Seq((1L, 2L)), "lower")
    }
  }
}
