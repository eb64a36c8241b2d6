package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Link-analysis centrality for corpus curation — the web-graph
  * quality prior (harmonic/PageRank-style scores over a hyperlink or
  * citation graph) that large-scale pretraining pipelines attach to
  * crawled documents. Extends the reference's surface (rapidsai/cudf
  * has no graph operators; cuGraph is a separate library) with the one
  * graph primitive a curation pipeline actually needs, expressed as
  * plain Spark joins + aggregations.
  *
  * Determinism contract: per-iteration inflow sums run in DYADIC
  * fixed point — each term is quantized as floor(x·2^45) and summed as
  * BIGINT, then the total is divided back by 2^45 — and every other
  * step is a single IEEE double operation, so the rank vector after
  * any fixed number of iterations is bit-identical across runs,
  * partitionings, and engines: the whole power iteration replays in
  * DuckDB as an unrolled CTE chain (see MiscPack.pageRankSql).
  * The decimal-cast dsum pattern is deliberately NOT used here: rank
  * values are dyadic-structured (r0 = 1/n for every node), which
  * reliably trips DuckDB's double→DECIMAL .5-boundary mis-rounding
  * (the events_decayed_sum finding) — measured: ~600-ulp drift after
  * 8 iterations. Power-of-two scaling has no such boundary: the
  * multiply, floor, BIGINT sum, and divide are all exact or correctly
  * rounded identically on both engines. Quantization: ≤2^-45 per term
  * (~3e-14), bounded and deterministic.
  */
object LinkAnalysis {

  /** 2^45: terms are < 1, so each scaled term is an integer < 2^45. */
  private val Two45 = 35184372088832.0

  /** Dyadic fixed-point sum: floor(term·2^45) summed EXACTLY as
    * DECIMAL(38,0) integers (DuckDB's BIGINT sum is HUGEINT — also
    * exact — so neither engine can wrap at any in-degree), total
    * divided back by 2^45. Integer→decimal casts have no rounding,
    * and the final decimal→double crossing uses the established
    * Spark-cast ≡ DuckDB-VARCHAR-route equivalence. */
  private def psum(c: org.apache.spark.sql.Column) =
    sum(floor(c * lit(Two45)).cast(DecimalType(38, 0)))
      .cast("double") / lit(Two45)

  /** PageRank by power iteration with dangling-mass redistribution:
    *
    *   r'(v) = (1−d)/n + d · ( Σ_{(u,v)∈E} r(u)/outdeg(u) + D/n )
    *
    * where D = Σ r(u) over dangling nodes (no out-edges) — the
    * standard stochastic-matrix completion, so Σ r stays 1 (up to the
    * 2^-45 per-term quantization of the fixed-point sums).
    *
    * Scale shape (the 100 TB contract): edges are deduplicated,
    * degree-annotated, REPARTITIONED BY src, and persisted ONCE — each
    * iteration's contribution join then shuffles only the rank vector
    * (|V| rows, two columns), never the edge set (|E| ≫ |V|). Per
    * iteration: one rank-side shuffle into the contribution join, one
    * dst-keyed aggregation, one broadcast of the 1-row dangling mass.
    * The rank vector is lineage-cut (Checkpoints.cut: localCheckpoint by
    * default, reliable checkpoint() when spark.graft.checkpointDir is
    * set) EVERY iteration (it is |V|
    * rows — small next to |E|): each iteration references the previous
    * vector TWICE (contribution join + dangling mass), so an uncut
    * lineage doubles per step — measured 13.7 s for 5 lazy iterations
    * at sf0.1 vs ~3 s checkpointed. Superseded vectors are freed via
    * CheckpointUtil (the nearDupClusters pattern).
    *
    * Returns (id, r) for every node. Fixed iteration count rather than
    * a convergence test keeps the result a pure function of the input
    * (and spares a driver-side delta aggregation per iteration);
    * PageRank at d = 0.85 contracts error by ~0.85^k, so 20-30
    * iterations reach ~1e-2..1e-3 relative accuracy — curation ranks
    * care about ordering, which stabilizes much earlier.
    *
    * `exact = true` switches the two per-iteration sums (contribution
    * aggregate + dangling mass) to dyadic fixed-point (2^-45
    * quantized decimal) so the result is bit-identical across engines
    * and partitionings — the oracle-gate mode. The default (`false`)
    * uses plain double sums: at 100 TB edge scale the exact mode pays
    * two decimal(38,0) casts PER EDGE PER ITERATION purely for
    * replayability. Measured on the purchase graph (SCALING.md,
    * "Retired probe mains"): exact-vs-prod drift stays at quantization
    * scale (~2e-11 absolute, both modes 1e-11-accurate to the true
    * fixpoint), so the ordering of materially different ranks is
    * identical; only near-ties inside that band may permute, and rank
    * consumers tie-break by id anyway. Saving grows with |E|: 6% of
    * wall time at sf0.1, 20% at 10x. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      damping: Double = 0.85, iters: Int = 10,
      exact: Boolean = false): DataFrame = {
    require(damping > 0 && damping < 1, "damping must be in (0,1)")
    require(iters >= 1, "need iters >= 1")
    val sumFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (exact) psum else (c => sum(c))
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .persist() // setup reads e three times (nodes, outdeg, ed)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // The DANGLING SET is static — only the mass changes per iteration.
    // It rides as a boolean FLAG on the rank vector (set once by this
    // left join, carried through every iteration's projection), so the
    // per-iteration mass is a plain filter+aggregate over the already-
    // checkpointed vector: the former per-iteration semi-join against a
    // persisted dangling frame (one shuffle + sort of the rank vector
    // per round) is gone entirely. Same rows feed the same exact sum.
    val nf = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
      .join(outdeg.select(col("src").as("id"), lit(true).as("__o")),
        Seq("id"), "left")
      .select(col("id"), col("__o").isNull.as("dang"))
      .persist()
    val n = nf.count()
    if (n == 0) {
      val empty = nf.select(col("id")).withColumn("r", lit(0.0))
        .transform(Checkpoints.cut)
      e.unpersist(); nf.unpersist()
      return empty
    }
    // degree-annotated edges, partitioned by the join key ONCE (the
    // e⋈outdeg equi-join already leaves its output hash-partitioned on
    // src — the former explicit repartition(src) re-exchanged the whole
    // annotated edge set a second time for nothing): every iteration's
    // contribution join reuses this layout and shuffles only the rank
    // vector
    val ed = e.join(outdeg, "src").persist()
    ed.count() // materialize before the loop so iterations share it
    e.unpersist() // nf/ed now stand on their own
    val base = (1.0 - damping) / n
    var ranks = nf.withColumn("r", lit(1.0 / n))
    var lastCkpt: DataFrame = null
    for (i <- 1 to iters) {
      val dangling = ranks.filter(col("dang"))
        .agg(coalesce(sumFn(col("r")), lit(0.0)).as("mass"))
      // No join hints, deliberately: the rank-vector exchange is tiny
      // next to |E|, and AQE reads its REAL size each iteration and
      // converts the contribution join to a runtime broadcast when the
      // vector fits (no |E| sort, no rank shuffle) — a same-JVM
      // interleaved A/B at sf0.1 measured forced SHUFFLE_HASH hints
      // ~10% slower than letting AQE decide (min 7.50 s vs 8.43 s for
      // 5 exact iterations), and the adaptive choice degrades correctly
      // when |V| outgrows the broadcast threshold at scale.
      val contribs = ed
        .join(ranks, ed("src") === ranks("id"))
        .select(col("dst"), (col("r") / col("deg")).as("c"))
        .groupBy(col("dst")).agg(sumFn(col("c")).as("contrib"))
      ranks = ranks
        .join(contribs, ranks("id") === contribs("dst"), "left")
        .crossJoin(broadcast(dangling))
        .select(ranks("id"), ranks("dang"),
          (lit(base) + lit(damping) *
            (coalesce(col("contrib"), lit(0.0)) +
              col("mass") / lit(n.toDouble))).as("r"))
      // eager checkpoint cuts lineage EVERY iteration (see scaladoc:
      // uncut plans double per step); free the superseded vector —
      // Dataset.unpersist is a no-op for localCheckpoint storage
      // (the nearDupClusters lesson)
      ranks = ranks.transform(Checkpoints.cut)
      if (lastCkpt != null)
        org.apache.spark.sql.graftshim.CheckpointUtil.free(lastCkpt)
      lastCkpt = ranks
    }
    // the final frame is checkpointed (i == iters above), so the
    // operator's working set can be released before returning
    nf.unpersist()
    ed.unpersist()
    ranks.select(col("id"), col("r"))
  }

  /** Single-source BFS levels (unweighted shortest-path distance) over
    * a directed graph — the reachability / hop-distance primitive the
    * recursive-CTE family expresses in SQL engines.
    *
    * Frontier expansion: each round joins the CURRENT frontier (only
    * the nodes first reached last round) against the src-partitioned
    * edge set, anti-joins already-visited nodes, and appends the new
    * level. The edge set is repartitioned and persisted ONCE; every
    * iteration shuffles frontier-sized row sets, never |E|. Rounds
    * stop early when the frontier empties (visited is a driver-visible
    * count per round — one tiny action on a frontier-sized frame, the
    * legitimate kind of driver decision). `maxLevels` bounds adversarial
    * diameters the same way pageRank fixes its iteration count.
    * Visited/frontier frames are lineage-cut (Checkpoints.cut) per
    * round: each is
    * referenced by the next round's anti-join AND the final union, so
    * uncut lineage would double per level (the pageRank lesson).
    *
    * Returns (id, level) for every node reachable from `sourceId`
    * (level 0 = the source itself). */
  def bfsLevels(edges: DataFrame, srcCol: String, dstCol: String,
      sourceId: Long, maxLevels: Int = 30): DataFrame = {
    require(maxLevels >= 1, "maxLevels must be >= 1")
    val spark = edges.sparkSession
    import spark.implicits._
    val ed = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter($"src".isNotNull && $"dst".isNotNull)
      .distinct()
      .repartition(col("src"))
      .persist()
    var visited = Seq((sourceId, 0)).toDF("id", "level").transform(Checkpoints.cut)
    var frontier = visited
    var lvl = 0
    var frontierSize = 1L
    while (frontierSize > 0 && lvl < maxLevels) {
      lvl += 1
      // No join hints and no explicit broadcast here, deliberately —
      // both were measured SLOWER in a same-JVM interleaved A/B at
      // sf0.1: an explicit broadcast() of the checkpointed frontier is
      // a collect + rebroadcast driver round trip per round (~35%
      // slower), and a SHUFFLE_HASH hint blocks AQE's runtime
      // SMJ→broadcast conversion, which already serves the frontier to
      // the persisted edge set without sorting |E| (min 2.73 s vs
      // 3.67 s hinted). AQE sees the REAL frontier exchange size each
      // round, so the strategy stays adaptive at any scale.
      // lazy cut: the count() right below materializes the frontier in
      // the same job the eager cut would have spent on it (one job per
      // level, not two); nothing is freed before that count runs
      val next = frontier.join(ed, $"id" === $"src")
        .select($"dst".as("id")).distinct()
        .join(visited.select($"id".as("__seen")), $"id" === $"__seen",
          "left_anti")
        .withColumn("level", lit(lvl))
        .transform(Checkpoints.lazyCut)
      frontierSize = next.count()
      if (frontierSize > 0) {
        val merged = visited.union(next).transform(Checkpoints.cut)
        if (frontier ne visited)
          org.apache.spark.sql.graftshim.CheckpointUtil.free(frontier)
        org.apache.spark.sql.graftshim.CheckpointUtil.free(visited)
        visited = merged
        frontier = next
      } else {
        org.apache.spark.sql.graftshim.CheckpointUtil.free(next)
      }
    }
    // the final frontier's rows already live in visited (it was unioned
    // in the round that produced it) — free its checkpoint blocks too,
    // or every call leaks one frontier-sized RDD until session end
    if (frontier ne visited)
      org.apache.spark.sql.graftshim.CheckpointUtil.free(frontier)
    ed.unpersist()
    visited.select($"id", $"level".cast("long").as("level"))
  }

  /** Per-node triangle count + local clustering coefficient over an
    * undirected graph (the community-density signal that complements
    * [[pageRank]]'s centrality in source-quality priors).
    *
    * Algorithm: canonicalize to distinct undirected edges, then ORIENT
    * every edge from its lower-(degree, id) endpoint to the higher one
    * (Schank–Wagner / Cohen's MapReduce orientation). Each triangle has
    * exactly one node whose two oriented edges point out of it, so
    * joining oriented⋈oriented on the pivot and probing the closing
    * edge counts every triangle once — and the wedge fan-out per node is
    * bounded by its ORIENTED out-degree ≤ O(√m), never its raw degree.
    * That bound is the 100 TB story: a celebrity node with 10^8
    * followers contributes ~√m wedges, not 10^16; total work is
    * O(m^1.5) worst-case with all three steps plain equi-joins that AQE
    * can re-plan. The clustering coefficient 2T/(d(d−1)) is emitted as
    * one IEEE division of two exactly-represented integers, so the
    * output is engine-portable.
    *
    * Output: id, degree, triangles, clustering (NULL when degree < 2). */
  def triangleStats(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val a = col(srcCol).cast("long")
    val b = col(dstCol).cast("long")
    // canonical undirected edge set: a < b, self-loops dropped
    val und = edges
      .filter(a.isNotNull && b.isNotNull && a =!= b)
      .select(least(a, b).as("u"), greatest(a, b).as("v"))
      .distinct()
    val deg = und.select(col("u").as("id"))
      .union(und.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    // orientation key: (degree, id) lexicographic — total order, so the
    // oriented graph is acyclic and every wedge pivot is well-defined
    val du = deg.select(col("id").as("u"), col("degree").as("du"))
    val dv = deg.select(col("id").as("v"), col("degree").as("dv"))
    val oriented = und.join(du, "u").join(dv, "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("lo"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("hi"))
    // wedges around each pivot: pairs of out-neighbors, canonicalized so
    // the closing probe is a single equi-join against the UNDIRECTED set
    val o1 = oriented.select(col("lo").as("p"), col("hi").as("x"))
    val o2 = oriented.select(col("lo").as("p"), col("hi").as("y"))
    val wedges = o1.join(o2, "p").filter(col("x") < col("y"))
    val tri = wedges.join(und,
      wedges("x") === und("u") && wedges("y") === und("v"))
      .select(col("p"), col("x"), col("y"))
    // every triangle credits all three corners
    val perNode = tri.select(col("p").as("id"))
      .union(tri.select(col("x").as("id")))
      .union(tri.select(col("y").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") < 2, lit(null).cast("double"))
          .otherwise((coalesce(col("triangles"), lit(0L)) * 2).cast("double")
            / (col("degree") * (col("degree") - 1)).cast("double"))
          .as("clustering"))
  }
}
