package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards (the 100 TB checklist from SCALING.md):
  * pushdown must reach the scans, dimension joins must broadcast, top-k
  * must avoid a global sort. These lock the *physical* properties the
  * correctness gate can't see.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = TestData.sf("0.001")

  // every test here reads the gate corpus — cancel the suite (not
  // fail) on machines without the testdata layout
  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    if (TestData.available("0.001")) super.withFixture(test)
    else org.scalatest.Canceled(s"testdata absent at $dir")

  private def plan(name: String): String = {
    import org.apache.spark.sql.execution.ExplainMode
    SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
  }

  test("q6: filters are pushed to the parquet scan") {
    val p = plan("q6_revenue_change")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate range not pushed")
    assert(p.contains("LessThan(l_quantity,24.0)"), "quantity filter not pushed")
  }

  test("band join plans a bucketed EQUI-join — no nested loop, no " +
    "cartesian product, no broadcast requirement") {
    val p = plan("join_band_bucketed")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "band bucketing must remove the nested-loop join")
    assert(!p.contains("CartesianProduct"), "no cartesian product")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      "band buckets must join as a HASH equi-join")
    assert(p.contains("Generate"), "left-side ±1 bucket fan-out is a map stage")
  }

  test("interval-grid join plans a hash EQUI-join — no nested loop, " +
    "no cartesian product") {
    val p = plan("join_interval_grid")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "grid blocking must remove the nested-loop join")
    assert(!p.contains("CartesianProduct"), "no cartesian product")
    assert(p.contains("Generate"), "interval cell expansion is a map stage")
  }

  test("resample plans exactly one source scan (gap-run form, no grid join)") {
    val p = plan("events_resample_ffill")
    val scans = p.linesIterator.count(_.contains("Location: InMemoryFileIndex"))
    assert(scans == 1, s"expected 1 scan, got $scans")
    assert(!p.contains("Join"), "the gap-run rewrite eliminates the join")
  }

  test("q6: scan reads only the referenced columns") {
    val p = plan("q6_revenue_change")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey"), "unpruned column in scan")
  }

  test("q3: dimension joins broadcast") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("BroadcastHashJoin"), "expected broadcast join")
  }

  test("topk plans TakeOrderedAndProject, not a global sort") {
    val p = plan("topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("join_semi and join_anti plan semi/anti hash joins") {
    assert(plan("join_semi").contains("LeftSemi"))
    assert(plan("join_anti").contains("LeftAnti"))
  }

  test("q21 window form scans lineitem exactly once") {
    val p = plan("q21_suppliers_waiting")
    // formatted mode: each scan's detail block has one Location line
    val lineitemScans = p.linesIterator
      .count(l => l.contains("Location") && l.contains("lineitem.parquet"))
    assert(lineitemScans == 1,
      s"EXISTS/NOT-EXISTS must come from one window pass, got $lineitemScans scans:\n$p")
  }

  test("q21 windows reuse the join exchange (no extra shuffle for wOS)") {
    val p = plan("q21_suppliers_waiting")
    // exchanges: lineitem->join, orders->join, supplier broadcast,
    // groupBy s_name, final sort. The (orderkey, suppkey) window must NOT
    // add a sixth.
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 5, s"unexpected extra exchange:\n$p")
  }

  test("q17 decorrelates the per-part avg into one windowed lineitem scan") {
    val p = plan("q17_small_qty_revenue")
    val lineitemScans = p.linesIterator
      .count(l => l.contains("Location") && l.contains("lineitem.parquet"))
    assert(lineitemScans == 1,
      s"per-part avg must be a window over the one scan, got $lineitemScans:\n$p")
  }

  test("ds_exists_chain fuses EXISTS + NOT EXISTS into per-order flags") {
    val p = plan("ds_exists_chain")
    def scans(t: String) = p.linesIterator
      .count(l => l.contains("Location") && l.contains(s"$t.parquet"))
    assert(scans("lineitem") == 1 && scans("orders") == 1,
      s"expected one scan each, got lineitem=${scans("lineitem")} " +
        s"orders=${scans("orders")}:\n$p")
  }

  test("q20 fuses availqty and the 1997 shipped sum into one lineitem scan") {
    val p = plan("q20_potential_promotion")
    val lineitemScans = p.linesIterator
      .count(l => l.contains("Location") && l.contains("lineitem.parquet"))
    assert(lineitemScans == 1,
      s"partsupp + shipped must share one pair-keyed aggregation, " +
        s"got $lineitemScans scans:\n$p")
  }

  test("doc_token_ids resolves ids in one map stage; no map-literal lookup") {
    // the vocabulary is collected while the query is built and resolved
    // per document through VocabIds: no explode, no vocab join and no
    // per-document regroup ahead of the final sort
    val p = plan("doc_token_ids")
    val nodes = p.linesIterator.filter(_.matches("""\(\d+\) .*""")).toSeq
    for (op <- Seq("Generate", "Join", "HashAggregate"))
      assert(!nodes.exists(_.contains(op)), s"doc_token_ids plans $op:\n$p")
    assert(p.contains("vocabids("), s"ids must resolve through VocabIds:\n$p")
    // doc_bert_encode's ids resolve through the broadcast VocabIds too,
    // not element_at over a MapType literal (a scan of every key per token)
    import org.apache.spark.sql.catalyst.expressions.{ElementAt, Literal}
    import org.apache.spark.sql.types.MapType
    val bert = SparkEntry.queries("doc_bert_encode")(spark, dir)
      .queryExecution.optimizedPlan
    val mapLookups = bert.flatMap(_.expressions.flatMap(_.collect {
      case e @ ElementAt(Literal(_, _: MapType), _, _, _) => e }))
    assert(mapLookups.isEmpty, s"doc_bert_encode plans a map-literal lookup:\n$bert")
    assert(bert.toString.contains("vocabids("), bert.toString)
  }

  test("io_avro_dsv2_roundtrip: pruning reaches the DSv2 scan (gate query)") {
    // The gate query writes 4 columns through the graft-avro BatchWrite
    // but aggregates only (c_mktsegment, c_acctbal) — the ScanBuilder's
    // pruneColumns must shrink the DSv2 read schema to exactly those.
    val p = plan("io_avro_dsv2_roundtrip")
    assert(p.contains("ReadSchema: struct<c_acctbal:double,c_mktsegment:string>")
        || p.contains("ReadSchema: struct<c_mktsegment:string,c_acctbal:double>"),
      s"DSv2 scan must read only the two referenced columns:\n$p")
    assert(!p.contains("c_name"), "pruned column c_name must not reach the scan")
  }

  test("q2 decorrelates the per-part min into one window, dims broadcast") {
    val p = plan("q2_min_cost_supplier")
    val lineitemScans = p.linesIterator
      .count(l => l.contains("Location") && l.contains("lineitem.parquet"))
    assert(lineitemScans == 1,
      s"correlated-min must be one window pass, got $lineitemScans scans:\n$p")
    assert(p.contains("BroadcastHashJoin"), "dimension joins must broadcast")
  }

  test("q11 threshold branch reuses the per-part aggregate exchange") {
    // both the detail rows and the global-threshold scalar fold the SAME
    // per-part aggregate subtree; the static plan shows two lineitem
    // scans, but AQE's stage cache dedups the identical exchanges at
    // runtime — so assert on the FINAL adaptive plan, post-execution
    val df = SparkEntry.queries("q11_important_stock")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"))
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"threshold must reuse the per-part agg exchange, not re-scan:\n$p")
  }

  test("q20 plans the supplier filter as a left-semi join") {
    val p = plan("q20_potential_promotion")
    assert(p.contains("LeftSemi"), "supplier EXISTS must be a semi join")
  }

  test("ds_no_returns plans NOT EXISTS as a left-anti join") {
    val p = plan("ds_no_returns")
    assert(p.contains("LeftAnti"), "returned-order exclusion must be anti join")
  }

  test("ds_resale_chain pre-aggregates BOTH sides before the fact-fact join") {
    val p = plan("ds_resale_chain")
    // Q64 discipline: the resale self-join's inputs are partkey
    // aggregates, never raw fact rows — each branch must finish its
    // HashAggregate before any non-broadcast join, and the year range
    // + priority filters must reach the orders scans as pushed filters.
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      "year range not pushed to the orders scan")
    assert(p.contains("In(o_orderpriority"),
      "priority filter not pushed to the orders scan")
    // exactly ONE non-broadcast join may exist (the resale join over
    // the two aggregates); everything else must be broadcast
    val tree = p.split("\\(1\\) Scan")(0)
    val smjLines = tree.linesIterator.zipWithIndex.filter { case (l, _) =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")
    }.toSeq
    assert(smjLines.size == 1,
      s"expected exactly the one resale join, got ${smjLines.size}")
    // both of its input branches must aggregate: 4 HashAggregates
    // (2 partial + 2 final) sit BELOW the join line in the tree
    val below = tree.linesIterator.drop(smjLines.head._2 + 1).toSeq
    val aggsBelow = below.count(_.contains("HashAggregate"))
    assert(aggsBelow >= 4,
      s"expected >=4 HashAggregates under the resale join, got $aggsBelow")
  }

  test("ds_week_matrix: one orders scan, pushed date range, no self-join") {
    val p = plan("ds_week_matrix")
    val ordersScans = p.linesIterator
      .count(l => l.contains("Location") && l.contains("orders.parquet"))
    assert(ordersScans == 1,
      s"the aligned-week conditional agg must scan orders ONCE, " +
        s"got $ordersScans:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      "week range must reach the orders scan as a pushed date bound")
    // the only join left is the broadcastable customer dimension
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the week self-join must be gone (conditional agg), dims broadcast:\n$p")
  }

  test("packSequences windows across pack groups, not one global partition") {
    val df = graft.operators.TextPipeline.packSequences(
      graft.Tables.documents(spark, dir), "doc_id", "text", 200, groups = 8)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("pack_group"), "window must partition by pack_group")
  }

  test("assignSplit and mixCorpora are zero-shuffle map stages") {
    import graft.operators.Curation
    val docs = graft.Tables.documents(spark, dir)
    val split = Curation.assignSplit(docs, "doc_id", "s",
      Seq("train" -> 0.8, "test" -> 1.0))
    assert(!split.queryExecution.executedPlan.toString.contains("Exchange"),
      "hash split must not shuffle")
    val mix = Curation.mixCorpora(docs, "lang", "doc_id",
      Map("en" -> 0.5), seed = "m")
    assert(!mix.queryExecution.executedPlan.toString.contains("Exchange"),
      "mixture filter must not shuffle")
  }

  test("sampleWeighted plans partial top-k: TakeOrdered, no exchange") {
    import graft.operators.Curation
    val s = Curation.sampleWeighted(graft.Tables.orders(spark, dir),
      "o_orderkey", "o_totalprice", k = 50, seed = "p")
    val p = s.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      "weighted sample must merge per-partition top-k, not sort globally")
    assert(!p.contains("Exchange"),
      "priority sampling is scan + local top-k; a shuffle means the " +
        "mergeability property was lost")
  }

  test("bucketed join: co-located scans, no join-side exchange") {
    val df = SparkEntry.queries("io_bucketed_join")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"merge hint ignored:\n$p")
    assert(p.contains("SelectedBucketsCount"), s"scan not bucket-aware:\n$p")
    // exchanges above the join (5-row groupBy + final sort) are fine;
    // the join subtree itself (printed below the SortMergeJoin line)
    // must consume the persisted bucket partitioning directly
    val belowJoin = p.substring(p.indexOf("SortMergeJoin"))
    assert(!belowJoin.contains("Exchange"),
      s"bucketed join must not shuffle its inputs:\n$p")
  }

  test("partitioned layout: predicate prunes directories at the driver") {
    val df = SparkEntry.queries("io_partition_prune")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters"), s"no partition pruning:\n$p")
    assert(p.replaceAll("\\s+", " ").matches(
      ".*PartitionFilters: \\[[^\\]]*event_type[^\\]]*\\].*"),
      s"event_type filter must land in PartitionFilters:\n$p")
    assert(!p.contains("PushedFilters: [IsNotNull(event_type)"),
      "partition predicate must not fall through to data filters")
  }

  test("sampleByGroup shuffles once, keyed on the group column") {
    val df = graft.operators.Curation.sampleByGroup(
      graft.Tables.documents(spark, dir), "source", "doc_id", 5, "q")
    val p = df.queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.count(_.trim.startsWith("+- Exchange"))
    assert(p.contains("hashpartitioning(source"),
      s"window must partition by the group column:\n$p")
    assert(exchanges <= 1, s"expected a single group-keyed shuffle:\n$p")
  }

  test("embedding map ops are shuffle-free up to the final order-by") {
    import graft.operators.Embeddings
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, dir)
    val composed = Embeddings.quantizeU8(
      emb.withColumn("unit", Embeddings.l2Normalize(col("embedding")))
        .withColumn("proj",
          Embeddings.randomProject(col("embedding"), 64, 16)), "embedding")
    assert(!composed.queryExecution.executedPlan.toString.contains("Exchange"),
      "normalize/quantize/project must stay a pure map stage")
  }

  test("semanticDedupPairs cell assignment is a zero-shuffle map stage") {
    val df = graft.operators.Similarity.semanticDedupPairs(
      graft.Tables.embeddings(spark, dir), "vec_id", "embedding",
      threshold = 0.4, nCells = 4, iters = 1)
    val p = df.queryExecution.executedPlan.toString
    // the former assignment (crossJoin vs centroids + per-vector
    // window) exchanged nCells × corpus rows carrying vectors; it is
    // now a row-local MapPartitions over the broadcast centroid model —
    // no nested-loop join may appear anywhere in the plan
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"assignment must not cross-join centroids:\n$p")
    assert(p.contains("MapPartitions"),
      s"assignment must be a broadcast-model map stage:\n$p")
  }

  test("knnBrute pre-reduces the per-query top-k before the shuffle") {
    val emb = graft.Tables.embeddings(spark, dir)
    val df = graft.operators.Similarity.knnBrute(
      emb, emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5), k = 4)
    // Spark's InsertWindowGroupLimit must fire on the row_number +
    // rank-filter pattern: a Partial WindowGroupLimit ahead of the
    // exchange caps shuffled rows at k per query per partition — the
    // scored corpus×queries set itself is never exchanged
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l =>
        l.contains("WindowGroupLimit") && l.contains("Partial")),
      s"expected a Partial (pre-shuffle) WindowGroupLimit:\n$p")
  }

  test("knnIvf assigns cells without exchanging the corpus") {
    val emb = graft.Tables.embeddings(spark, dir)
    val df = graft.operators.Similarity.knnIvf(
      emb, emb.filter(org.apache.spark.sql.functions.col("vec_id") < 10),
      k = 3, nCells = 8, nprobe = 2)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"cell assignment must not cross-join centroids:\n$p")
    // the only shuffles left are the cell-keyed probe join and the
    // final per-query top-k — never an assignment exchange
    assert(p.contains("MapPartitions"),
      s"assignment must be a broadcast-model map stage:\n$p")
  }

  test("minhashPairs computes the signature kernel exactly once") {
    val df = graft.operators.Dedup.minhashPairs(
      graft.Tables.documents(spark, dir), "doc_id", "text",
      numHashes = 16, bands = 4, threshold = 0.8)
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("minhashbandkeys")) == 1,
      s"fused minhash kernel must be planned once:\n$p")
  }

  test("doc_minhash_pairs verifies Jaccard with the sorted-set merge kernel") {
    val p = SparkEntry.queries("doc_minhash_pairs")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("sortedjaccard("), s"merge kernel missing:\n$p")
    assert(!p.contains("array_intersect"), s"hash-set verify planned:\n$p")
  }

  test("doc_minhash_pairs and doc_jaccard_pairs sort without array_sort's lambda") {
    // array_sort's default comparator is an interpreted lambda
    // (CodegenFallback); their null-free token sets and id lists sort
    // with sort_array instead
    import org.apache.spark.sql.catalyst.expressions.ArraySort
    for (q <- Seq("doc_minhash_pairs", "doc_jaccard_pairs")) {
      val p = SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
      val sorts = p.flatMap(_.expressions.flatMap(_.collect {
        case a: ArraySort => a }))
      assert(sorts.isEmpty, s"$q plans ArraySort:\n$p")
    }
  }

  test("no gated query scans a full fact-table schema (column pruning sweep)") {
    // every parquet scan in every query must prune: reading l_comment
    // AND l_shipmode (or o_comment AND o_clerk, or all five event
    // columns) means the whole table went through the reader
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val p = fn(spark, dir).queryExecution
          .explainString(org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        val wide = p.linesIterator.filter(_.contains("ReadSchema")).exists { l =>
          (l.contains("l_comment") && l.contains("l_shipmode")) ||
          (l.contains("o_comment") && l.contains("o_clerk")) ||
          (l.contains("props") && l.contains("event_type") &&
            l.contains("value") && l.contains("user_id") && l.contains("ts"))
        }
        if (wide) Some(name) else None
    }
    assert(offenders.isEmpty, s"unpruned scans in: $offenders")
  }

  test("ds_basket_pairs shuffles twice: basket groupBy + pair groupBy") {
    // distinctIds folds the (orderkey, partkey) dedup into the posting
    // list itself — a separate .distinct() would add a third full
    // exchange of the fact table ahead of the basket groupBy
    val df = SparkEntry.queries("ds_basket_pairs")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(exchanges == 2, s"expected 2 shuffles, got $exchanges:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"limit 20 must plan as top-k, not a global sort:\n$p")
  }

  test("doc_df_prune: totals are a map-stage column, not a third explode") {
    // the reassembly spine computes n_segs via size(split(...)) — only
    // the frequency branch and the kept branch may explode the corpus
    val p = plan("doc_df_prune")
    // count detail-header lines "(n) Generate" — formatted mode prints
    // every node twice (tree line + detail block)
    val generates = p.linesIterator.count(_.trim.matches("^\\(\\d+\\) Generate$"))
    assert(generates == 2,
      s"expected exactly 2 Generates (freq + kept), got $generates:\n$p")
    // corpus size rides a broadcast 1-row aggregate, never a driver count
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"n_docs must join as a broadcast literal:\n$p")
  }

  test("doc_seg_dedup: keep-first is an aggregation, never a hot-key window") {
    // boilerplate segments are anti-uniform; a partitionBy(seg) window
    // would co-locate + sort the hottest segment in one unsplittable
    // partition (the skew defect fixed in round 6)
    val p = plan("doc_seg_dedup")
    assert(!p.contains("Window"),
      s"first-occurrence must come from min-struct aggregation:\n$p")
  }

  test("str_record_linkage: resolution is an argmax aggregation, never a per-key window") {
    // a window would co-locate + sort every candidate of the hottest
    // block key in one unsplittable partition; min_by partial-aggregates
    val p = plan("str_record_linkage")
    assert(!p.contains("Window"),
      s"best-match must resolve via min_by aggregation:\n$p")
  }

  test("io_zorder_prune: the dimension predicate reaches the z-ordered scan") {
    // the whole point of the layout is that the read prunes on l_suppkey
    // via file/row-group stats — the filter must be pushed, not residual
    val p = plan("io_zorder_prune")
    val pushed = p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("l_suppkey"))
    assert(pushed, s"l_suppkey filter not pushed to the z-ordered scan:\n$p")
  }

  test("runtime bloom-filter join pruning injects might_contain on the probe side") {
    // SURVEY §2.10: cudf_streaming's shuffle bloom filter maps to
    // Spark's runtime filter injection — a selective dim filter becomes
    // a bloom probe on the fact scan, cutting shuffle input before the
    // join. Thresholds lowered because testdata is tiny; at cluster
    // scale the defaults (10GB probe side) gate the same rewrite.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      // force a shuffle join — broadcast joins skip runtime filters
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = graft.Tables.lineitem(spark, dir)
      val ord = graft.Tables.orders(spark, dir)
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val p = li.join(ord,
          li("l_orderkey") === ord("o_orderkey"))
        .groupBy(li("l_returnflag"))
        .count()
        .queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        s"no runtime bloom filter injected:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("quotaPerKeyWindow pre-reduces to k per group before the shuffle") {
    val ev = graft.Tables.events(spark, dir)
    val df = graft.operators.Throttle.quotaPerKeyWindow(
      ev, "user_id", "ts", "1 day", k = 3, tieBreakCol = "event_id")
    // the rate-limit must survive a key flood: WindowGroupLimit's
    // Partial mode caps shuffled rows at k per (key, window) per
    // partition — the flood never reaches the exchange
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l =>
        l.contains("WindowGroupLimit") && l.contains("Partial")),
      s"expected a Partial (pre-shuffle) WindowGroupLimit:\n$p")
  }

  test("quotaPerKeyHoppingWindow keeps the partial top-k and a local Expand") {
    val ev = graft.Tables.events(spark, dir)
    val df = graft.operators.Throttle.quotaPerKeyHoppingWindow(
      ev, "user_id", "ts", "1 day", "12 hours", k = 3,
      tieBreakCol = "event_id")
    val p = df.queryExecution.executedPlan.toString
    // same guarantee as tumbling: flood cut to k per (key, window
    // start) on the map side, before the exchange
    assert(p.linesIterator.exists(l =>
        l.contains("WindowGroupLimit") && l.contains("Partial")),
      s"expected a Partial (pre-shuffle) WindowGroupLimit:\n$p")
    // the window fan-out (2 windows/event) is an Expand, and exactly
    // ONE exchange follows it — the fan-out itself must not shuffle
    assert(p.contains("Expand"), s"expected window Expand:\n$p")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"hopping quota should shuffle exactly once:\n$p")
  }

  test("bm25 broadcasts the 1-row corpus aggregate and the term df join") {
    val docs = graft.Tables.documents(spark, dir)
    val df = graft.operators.TextPipeline.bm25(docs, "doc_id", "text")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"(N, avgdl) must ride a broadcast, not a shuffle:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("temperatureMixture rates ride a broadcast into a map-stage filter") {
    val docs = graft.Tables.documents(spark, dir)
    val df = graft.operators.Curation.temperatureMixture(
      docs, "lang", "doc_id", alpha = 0.5, budget = 100, seed = "p")
    val p = df.queryExecution.executedPlan.toString
    // the corpus side must join the tiny rate table via broadcast —
    // a shuffle join here would exchange the whole corpus
    assert(p.contains("BroadcastHashJoin"),
      s"rate table must broadcast-join the corpus:\n$p")
  }

  test("triangleStats and associationRules plan equi-joins — no nested loop") {
    val tri = plan("graph_triangles")
    assert(!tri.contains("CartesianProduct") &&
      !tri.contains("BroadcastNestedLoopJoin"),
      "wedge close must be an equi-join on (x, y)")
    val assoc = plan("events_assoc")
    assert(!assoc.contains("CartesianProduct"),
      "pair mining must equi-join on the basket key")
    // the margins/totals ride broadcasts into the rule assembly
    assert(assoc.contains("BroadcastExchange") ||
      assoc.contains("BroadcastNestedLoopJoin"),
      "item counts and n_baskets must broadcast")
  }

  test("driftReport and contingency reduce to summary-sized plans after one count") {
    val drift = plan("corpus_drift")
    // exactly one aggregation reads the corpus; the value grid rides a
    // broadcast cross of the summary, never a corpus-sized shuffle
    assert(drift.contains("BroadcastExchange"),
      "value grid / ref counts must broadcast")
    val cont = plan("stats_contingency")
    assert(cont.contains("BroadcastExchange"),
      "contingency margins must broadcast into the cell join")
    assert(!cont.contains("CartesianProduct"),
      "only the 1-row total may cross-join (as a broadcast NLJ)")
  }

  test("ds_frequent_best qualifier sets enter as broadcast semi joins") {
    val p = plan("ds_frequent_best")
    // the frequent-parts and best-customers sets are aggregate-sized;
    // they must semi-join the fact scan via broadcast, never shuffle it
    assert(p.contains("LeftSemi"), "qualifier joins must be semi joins")
    assert(p.contains("BroadcastHashJoin"),
      "qualifier sets must broadcast into the fact scan")
    assert(!p.contains("SortMergeJoin") ||
      p.split("SortMergeJoin").length - 1 <=
        p.split("BroadcastHashJoin").length - 1,
      s"fact must not shuffle on the qualifier keys:\n$p")
  }

  test("ds_band_distincts: four distinct-counts fuse into one scan via Expand") {
    val p = plan("ds_band_distincts")
    assert(p.contains("Expand"),
      "multi-distinct must rewrite through Expand, not multiple scans")
    val scans = p.split("\\(1\\) Scan parquet").length - 1
    assert(scans == 1, s"expected exactly one lineitem scan:\n$p")
  }

  test("ds_two_ended_rank: both top-k ends are partial (TakeOrdered), one fact scan") {
    val df = SparkEntry.queries("ds_two_ended_rank")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      "each end must be a partial top-k, not a global sort")
    // the two ends' per-part aggregates are identical subtrees; AQE
    // must reuse the exchange so the fact is scanned once at runtime
    assert(p.contains("ReusedExchange"),
      s"the two ends must share one lineitem scan:\n$p")
  }

  test("doc_substring_dups: built without a job, one hash aggregation " +
    "on the gram key") {
    import org.apache.spark.sql.execution.LogicalRDD
    val sc = spark.sparkContext
    graft.Tables.documents(spark, dir) // the first load resolves the relation
    sc.setJobGroup("substring-build", "build doc_substring_dups")
    val df = try SparkEntry.queries("doc_substring_dups")(spark, dir)
      finally sc.clearJobGroup()
    // the TablesSpec control: once a later job is visible, every job
    // started before it is visible too
    sc.setJobGroup("substring-control", "plain read")
    try spark.read.parquet(s"$dir/documents.parquet")
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup("substring-control").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup("substring-control").nonEmpty)
    val built = sc.statusTracker.getJobIdsForGroup("substring-build")
    assert(built.isEmpty, s"building launched ${built.length} jobs")
    // no lineage cut, no text join, no sort-based aggregation: the grams
    // are counted by one partial/final hash aggregate on their key
    assert(df.queryExecution.optimizedPlan.collect { case r: LogicalRDD => r }
      .isEmpty, "a lineage cut feeds the plan")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), s"no join expected:\n$p")
    assert(!p.contains("SortAggregate"), s"no sort aggregate expected:\n$p")
    val aggs = p.linesIterator.filter(_.contains("HashAggregate(")).toSeq
    assert(aggs.size == 2 && aggs.forall(_.contains("HashAggregate(keys=[__g#")),
      s"expected one partial/final pair keyed on __g:\n$p")
    assert(aggs.exists(_.contains("partial_count")),
      s"the gram count must combine map-side:\n$p")
  }

  test("ngramLmScore joins the doc stream against model tables, no cartesian blowup") {
    val docs = graft.Tables.documents(spark, dir)
    val scored = graft.operators.TextPipeline.ngramLmScore(
      docs, "doc_id", "text", docs, "text")
    val p = scored.queryExecution.executedPlan.toString
    // the 1-row vocab aggregate must broadcast, not shuffle-join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"vocab size must ride a broadcast:\n$p")
  }
}
