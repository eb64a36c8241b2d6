package graft

/** Writes PLANS.md: formatted physical plans of representative queries,
  * the plan-shape evidence behind SCALING.md's claims (pushdown reaches
  * the scan, dims broadcast, top-k avoids global sort, bucketed join
  * has zero join-side exchanges, posting-list pair generation plans the
  * banding kernel once). Regenerate after plan-affecting changes:
  * `sbt "runMain graft.PlanDump"`. */
object PlanDump {
  /** Expression ids (`#123`) and exchange ids (`plan_id=45`) come from
    * JVM-wide counters, so they shift with everything that ran before;
    * number each kind in order of first appearance within one plan.
    * Lambda class names and the per-process scratch root (IoPack's
    * `graft_io_<pid>`) change every run too and are masked. A second
    * run then rewrites PLANS.md byte for byte, so its diff shows only
    * real plan changes. */
  private def stableIds(plan: String): String = {
    val masked = plan
      .replaceAll("\\$Lambda\\$\\d+/0x\\p{XDigit}+@\\p{XDigit}+", "\\$Lambda")
      .replaceAll("graft_io_\\d+", "graft_io_<pid>")
    Seq("#", "plan_id=").foldLeft(masked) { (p, prefix) =>
      val seen = scala.collection.mutable.Map.empty[String, Int]
      s"$prefix(\\d+)".r.replaceAllIn(p,
        m => prefix + seen.getOrElseUpdate(m.group(1), seen.size + 1))
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = Session.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.execution.ExplainMode
    val picks = Seq(
      "q6_revenue_change" ->
        "Filter pushdown + column pruning: PushedFilters carries the date/quantity/discount range; ReadSchema lists only the four referenced columns.",
      "q3_shipping_priority" ->
        "Dimension broadcast: customer broadcasts, the lineitem-orders fact join shuffles once on the key.",
      "topk" ->
        "Global top-k plans TakeOrderedAndProject (per-partition heaps + driver merge of k rows), never a full sort.",
      "io_bucketed_join" ->
        "Bucketed co-located join: both scans show the persisted bucketing (SelectedBucketsCount) and the SortMergeJoin subtree has no Exchange.",
      "doc_minhash_pairs" ->
        "Posting-list pair generation: exactly one minhashbandkeys Generate feeds the band groupBy; the former self-join planned it twice.",
      "q21_suppliers_waiting" ->
        "Window reformulation: one lineitem scan serves EXISTS and NOT EXISTS via per-order window counts.",
      "embed_knn_ivf" ->
        "IVF cell assignment: a row-local MapPartitions over the broadcast centroid model — no Exchange and no BroadcastNestedLoopJoin between the corpus scan and the assignment; the only shuffles are the cell-keyed probe join and the final per-query top-k.",
      "embed_semdedup" ->
        "SemDeDup cell assignment: same broadcast-model MapPartitions (zero shuffle); pair generation shuffles ids only via the cell posting lists.",
      "ds_basket_pairs" ->
        "Market-basket pairs: two shuffles total (basket groupBy + pair groupBy) — the (order, part) dedup rides inside the posting list (array_distinct), not a third full exchange; the LIMIT plans as TakeOrderedAndProject.",
      "doc_df_prune" ->
        "Segment boilerplate removal: exactly two Generates explode the corpus (frequency branch + kept branch); per-doc totals are a size(split(...)) map-stage column, and the corpus size joins in as a broadcast 1-row aggregate — no driver count action.",
      "str_fuzzy_join" ->
        "Edit-distance similarity join: deletion-neighborhood variants explode as a map stage, candidates equi-join on xxhash64(variant) (8-byte shuffle keys), pairs dedup before ONE exact levenshtein verify each — no CartesianProduct or nested-loop join anywhere in the plan.",
      "str_record_linkage" ->
        "Record-linkage resolution: block equi-join + codegen Jaro-Winkler compare, then the per-key best match resolves through a min_by HashAggregate (partial-aggregatable argmax) — no Window node, so a hot blocking key combines map-side instead of sorting in one task.",
      "io_zorder_prune" ->
        "Z-ordered layout read: the l_suppkey predicate appears in PushedFilters on the scan of the Morton-clustered files, where every file's min/max footer stats are tight in BOTH clustered dimensions — the filter prunes row groups on the non-leading dimension, which a linear sort cannot serve.",
      "cdc_merge" ->
        "CDC merge: snapshot ∪ compacted changes feeds ONE keyed HashAggregate (max_by priority argmax) — no join and no window between union and result; log compaction upstream is the same argmax shape.",
      "agg_theta_setops" ->
        "Sketch set algebra: both KMV sketches build in ONE map-side-combinable ObjectHashAggregate pass over orders (each partial is <= k longs); union/intersect/A-not-B evaluate as scalar expressions over the two final buffers — the base data is never re-scanned or re-shuffled per set operation.",
      "win_count_distinct" ->
        "Windowed COUNT(DISTINCT) reformulation: a row_number first-occurrence flag plus a RANGE running sum — two Window nodes with O(1) per-row state; the collect_set alternative Spark would otherwise need carries the entire running distinct set in every row.",
      "events_resample_ffill" ->
        "Grid resample + ffill in ONE scan, ONE shuffle, NO join: events collapse to per-(user,hour) last values in a single partial-aggregatable aggregation; each observation then explodes into its gap-run [bucket, next-1] after a lead window sharing the aggregation's partitioning — the forward fill IS the run generation, so the naive grid-join (which would plan the source twice) never exists.",
      "ds_regression" ->
        "Per-group OLS: ONE decimal-exact moment HashAggregate (n, Sx, Sy, Sxx, Syy, Sxy) with map-side partials; slope/intercept/r2 are scalar projections of the six moments — no second pass over the data, no window.",
      "events_quota" ->
        "Per-key rate quota: the row_number <= k predicate rewrites to a Partial WindowGroupLimit ahead of the exchange — a flooding key's surplus is cut per-partition BEFORE it can shuffle, so the limiter itself can't be flooded.",
      "doc_bm25" ->
        "BM25 scoring: tokenize once; (doc, dl, term) HashAggregate with map-side partials, term-df join, and the 1-row (N, avgdl) corpus aggregate rides a broadcast into the scalar score projection — no cartesian, no second corpus scan.",
      "corpus_temperature_mix" ->
        "Temperature mixture: group counts fold to group-cardinality rows, the decimal-exact sum-of-weights broadcasts back over them, and the rate table broadcast-joins the corpus into a codegen hashUnit filter — the corpus is scanned once and never exchanged.",
      "q11_important_stock" ->
        "Scalar-threshold vs per-group aggregate: the threshold branch's ReusedExchange picks up the per-part value exchange at runtime (AQE stage reuse), so lineitem is scanned and pair-aggregated ONCE even though the frame is consumed twice; the 1-row threshold rides an IdentityBroadcast. (Executed adaptive plan — static explain shows the pre-reuse doubled tree.)",
      "q20_potential_promotion" ->
        "Correlated-EXISTS chain in one fact pass: availqty and the 1997 shipped quantity are two sums of ONE (part,supp) HashAggregate over a single lineitem scan (BIGINT fixed-point, map-side partial); the threshold filter then semi-joins supplier — no second scan, no window.",
      "join_band_bucketed" ->
        "Band join at fact×fact scale: the |l−r| < width predicate plans as a hash EQUI-join on floor(value/width) buckets (left side fans out ±1 bucket via one Generate), the exact band check is a post-join Filter — no BroadcastNestedLoopJoin, no CartesianProduct, neither side needs to fit in a broadcast.",
      "graph_triangles" ->
        "Degree-oriented triangle counting: the wedge close is an equi-SortMergeJoin on (x, y) against the undirected edge set — no CartesianProduct or nested loop; orientation bounds each pivot's fan-out by its oriented out-degree, so a hot node cannot explode the wedge join.",
      "corpus_drift" ->
        "Distribution drift: ONE map-side-combinable (source, value) HashAggregate reads the corpus; the value grid and reference counts ride BroadcastExchanges over that histogram-sized summary, and the KS/TVD folds are windows/aggregates of the summary — the corpus is never exchanged.",
      "events_assoc" ->
        "Association rules: presence established by one (basket, item) HashAggregate-distinct; the pair self-join is key-equi on the basket key (fan-out bounded by basket width); item margins and the 1-row basket total broadcast into the final rational-metric projection.",
      "ds_frequent_best" ->
        "Frequent-items x best-customers (Q23 shape): both qualifier sets reduce to aggregate-sized (key) tables and enter the final pass as BroadcastHashJoin LeftSemi — the fact scan is filtered in place, never shuffled on a qualifier key; the two 1-row thresholds ride broadcasts into integer-exact cross-multiplied predicates.",
      "ds_two_ended_rank" ->
        "Two-ended leaderboard (Q44 shape): each end is a TakeOrderedAndProject partial top-k over the per-part aggregate; at runtime AQE's ReusedExchange dedupes the two identical aggregates, so the fact is scanned and aggregated ONCE. (Executed adaptive plan.)",
      "ds_or_exists" ->
        "OR-of-EXISTS decorrelation (Q35/Q69 shape): the conjunctive EXISTS plans as a LeftSemi hash join on o_custkey and the two disjunctive EXISTS become ExistenceJoin mark-joins whose boolean marks OR in a post-join Filter — three equi-joins, each probe side pre-filtered before its exchange, no CartesianProduct anywhere.",
      "ds_week_matrix" ->
        "Week matrix (Q59 shape), r12 single-scan form: the two week ranges are disjoint, so ONE (nation, aligned-week) conditional aggregation computes BOTH years' weekday pivots from a single orders scan (date range pushed to the scan, customer broadcast) and the 52-week alignment self-join is gone entirely — zero joins after the pivot shuffle.",
      "agg_winsorize" ->
        "Per-group winsorize: the type-1 cut selection windows over per-(group, value) COUNTS (HashAggregate feeds the rank window — never a raw-row sort), and the |groups|-row cuts frame re-enters via BroadcastHashJoin; the clamp is a codegen projection over the fact scan.",
      "ds_resale_chain" ->
        "Resale chain (Q64 shape): BOTH channel-year slices HashAggregate to |parts|-row frames BEFORE the fact-fact resale join — each side's year/priority filter is pushed into its orders scan, lineitem reduces map-side per partkey, and the resale join + part-dimension lookup run over aggregate-sized inputs; raw fact rows never reach a join exchange.",
      "doc_hotclique_dups" ->
        "Exact gram key (r18): one typed flatMap emits each full-gram start with its 2·minWidth-byte UTF-16 key, and the duplicated-gram group is a partial+final HashAggregate on that key — a 500-doc hot clique is ONE group combined map-side — with no lineage cut, no join and no pair-shaped Generate anywhere; dup_text is decoded from the key after the filter.")
    // queries whose evidence IS the runtime plan (AQE stage reuse only
    // materializes after execution): run them, dump the final plan
    val executed = Set("q11_important_stock", "q20_potential_promotion",
      "ds_two_ended_rank")
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan evidence for the scale claims\n\n")
    sb.append("Generated by `sbt \"runMain graft.PlanDump\"` at sf0.001 ")
    sb.append("(plans are shape-identical at any SF; AQE on).\n")
    picks.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, dir)
      val p =
        if (executed(name)) {
          df.collect()
          df.queryExecution.executedPlan.toString
            .split("== Initial Plan ==")(0) + "\n"
        } else df.queryExecution
          .explainString(ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n$why\n\n```\n${stableIds(p)}```\n")
    }
    // opt_runtime_filter needs its confs ACTIVE at explain time (the
    // bloom probe is an optimizer rewrite), and the gate query itself
    // returns a checkpointed result whose plan is a LogicalRDD — so the
    // evidence comes from the un-checkpointed builder under the same
    // confs the gate materializes with.
    locally {
      val confs = graft.queries.MiscPack.runtimeFilterConfs
      val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val p = graft.queries.MiscPack.runtimeFilterPlan(spark, dir)
          .queryExecution.explainString(ExplainMode.fromString("formatted"))
        require(p.contains("might_contain"),
          "runtime bloom filter missing from opt_runtime_filter plan")
        sb.append("\n## opt_runtime_filter\n\n")
        sb.append("Runtime semi-join prefilter: the selective orders ")
        sb.append("filter is injected as a bloom `might_contain` probe on ")
        sb.append("the lineitem side BEFORE its exchange — shuffle input ")
        sb.append("is cut ahead of the join (oracle-gated answer; confs ")
        sb.append("as in MiscPack.runtimeFilterConfs).\n\n")
        sb.append(s"```\n${stableIds(p)}```\n")
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val body = sb.toString
    java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
      body.getBytes("UTF-8"))
    // count the emitted section headings, not picks.size + a hardcoded
    // constant — any plan appended outside `picks` is counted for free
    val nPlans = body.linesIterator.count(_.startsWith("## "))
    println(s"PLANS.md written ($nPlans plans)")
    spark.stop()
  }
}
