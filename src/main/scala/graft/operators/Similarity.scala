package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}

/** Embedding similarity search (north star: ANN over Array[Float]
  * columns). Brute-force cosine top-k is the exact baseline; the
  * LSH-bucketed variant (random-hyperplane signs) is the scale path.
  *
  * All vector math is double-cast element-wise lambdas inside codegen —
  * float inputs are widened before multiply/accumulate so results are
  * exact, deterministic doubles.
  */
object Similarity {

  /** Dot product of two array<float/double> columns in double space
    * (sequential element-order fold — deterministic, same IEEE result
    * as the HOF `aggregate(zip_with(..))` formulation and as DuckDB's
    * list fold, but a codegen'd primitive loop: ~50× less per-pair
    * overhead, which dominates all-pairs similarity work). */
  def dot(a: Column, b: Column): Column =
    graft.plans.GraftExpressions.dotProduct(a, b)

  /** L2 norm. */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity. Pair operators below do NOT call this in their
    * pair loops — they precompute sqrt(dot(v,v)) once per VECTOR and
    * divide by the norm product, which is the same floating-point
    * arithmetic as this expression (dot, two sqrts, multiply, divide in
    * the same order) at a third of the dot products. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Exact top-k neighbors for each query vector, brute force:
    * broadcast the (small) query set against the corpus, compute cosine,
    * take k per query via a window. At cluster scale the corpus stays
    * partitioned; per-partition work is queries × rows — embarrassingly
    * parallel, and the `rank <= k` filter plans a PARTIAL
    * WindowGroupLimit BEFORE the exchange (Spark's
    * InsertWindowGroupLimit rule fires on row_number + rank filters),
    * so the one shuffle moves ≤ k·partitions rows per query, never the
    * scored corpus — asserted in PlanSpec; a hand-rolled mapPartitions
    * pre-reduction would only add object ser/deser to the hot path. */
  def knnBrute(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = true,
      simCeiling: Option[Double] = None): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      l2norm(col(vecCol)).as("q_norm"))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      l2norm(col(vecCol)).as("n_norm"))
    val scored = c.crossJoin(broadcast(q))
      // excludeSelf (default) is the SELF-SEARCH contract — queries drawn
      // from the corpus must not return themselves. For a separate query
      // table pass false: a corpus row with a coincidentally equal id is
      // a legitimate neighbor, and a null-id query would otherwise be
      // silently dropped (null =!= x is null).
      .filter(if (excludeSelf) col("q_id") =!= col("n_id") else lit(true))
      .withColumn("sim",
        dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
      // hard-negative ceiling (strict <): filtering BEFORE the window
      // keeps the partial-top-k shuffle bound
      .filter(simCeiling.map(col("sim") < _).getOrElse(lit(true)))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
  }

  /** Hard-negative mining for contrastive training: for each query,
    * the k MOST similar corpus vectors whose cosine is still BELOW
    * `maxSim` — similar enough to be informative negatives, but under
    * the near-duplicate ceiling where a "negative" is probably an
    * unlabeled positive (the standard false-negative filter in dense
    * retrieval training). Same plan shape as [[knnBrute]]: the ceiling
    * filter runs BEFORE the per-query top-k window, so the partial
    * WindowGroupLimit still bounds the shuffle at k·partitions rows.
    * Compose with [[Curation.sampleNegatives]] for the uniform-random
    * tier of a mixed easy+hard negative set. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      maxSim: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    knnBrute(corpus, queries, k, idCol, vecCol, excludeSelf = true,
      simCeiling = Some(maxSim))


  /** Sign-LSH hyperplanes are MATERIALIZED PLAN LITERALS (seeded PRNG,
    * deterministic — the stored "model" is k×MaxLshDims doubles, driver-
    * sized by definition), so each sign bit is one codegen'd DotProduct
    * against a literal array instead of an interpreted per-element HOF
    * chain — the same ~50× per-row win as the dot itself. DotProduct
    * truncates to the shorter array, so any vector dim ≤ MaxLshDims
    * works with the same planes. */
  private final val MaxLshDims = 1024
  private def hyperplane(plane: Int): Seq[Double] = {
    val rng = new java.util.Random(0x9E3779B97F4A7CL ^ plane.toLong)
    Seq.fill(MaxLshDims)(rng.nextDouble() * 2 - 1)
  }

  /** First `dims` coordinates of sign-LSH hyperplane `plane` — the same
    * values [[lshBucket]] bakes into the plan, exposed so oracle SQL can
    * embed the identical literals (Double.toString round-trips, and
    * DuckDB's string→double parse is correctly rounded, so both engines
    * see bit-identical planes). */
  def lshPlane(plane: Int, dims: Int): Seq[Double] = hyperplane(plane).take(dims)
  private def signBit(vec: Column, plane: Int, bit: Int): Column =
    when(dot(vec, typedlit(hyperplane(plane))) > 0, lit(1L << bit))
      .otherwise(lit(0L))

  /** Random-hyperplane sign-bit bucket id: `bits` literal hyperplanes;
    * vectors in the same bucket are ANN candidates. */
  def lshBucket(vecCol: String, bits: Int): Column =
    (0 until bits).map(b => signBit(col(vecCol), b, b)).reduce(_ + _)

  /** Corpus-adaptive LSH width: the smallest b in [minBits, maxBits]
    * with n ≤ targetBucket·2^b — expected bucket occupancy stays ≤
    * targetBucket at ANY corpus size, so within-bucket candidate pairs
    * grow ∝ n·targetBucket instead of ∝ n²/2^const. Measured need: the
    * round-11 25× de-twinned envelope clocked fixed bits=4 at a 485×
    * time ratio for 25× data (~n^1.9 — 16 buckets held 3k vectors
    * each); this rule returns 9 there and the pair count re-linearizes.
    * Pure integer comparisons (no log2 float-boundary hazard) so the
    * DuckDB oracle reproduces the choice exactly from count(*). */
  def autoLshBits(n: Long, targetBucket: Long = 125L,
      minBits: Int = 4, maxBits: Int = 12): Int = {
    var b = minBits
    while (b < maxBits && n > (targetBucket << b)) b += 1
    b
  }

  /** Corpus-adaptive SemDeDup cell count: ~250 vectors per k-means
    * cell (floor 8, cap 65536), keeping within-cell pair work ∝
    * n·250 — a FIXED cell count makes it ∝ n²/K (measured 197× time at
    * 25× data with K=8). Integer arithmetic, oracle-reproducible. */
  def autoCells(n: Long): Int =
    math.min(65536L, math.max(8L, (n + 249) / 250)).toInt

  /** Cell-count threshold above which [[semanticDedupPairs]] routes
    * assignment through [[assignCellsHierarchical]] (O(n·√K)) instead
    * of the flat O(n·K) argmax. 4096 cells ⇔ n ≈ 1.02M vectors under
    * [[autoCells]]; below it the flat scan's K dots per row cost less
    * than a shuffle's worth of wall clock at any corpus that small,
    * and the flat path stays bit-reproducible for the oracle gates.
    * At the threshold the two-level descent does S + 2·K/S ≈ 192 dots
    * per row instead of 4096 (21×); measured 4.2× end-to-end at
    * K = 16384 (SCALING.md, "Known scale caveats"). */
  final val HierKThreshold = 4096

  /** Plane-index stride between LSH tables: table t draws planes
    * t*LshPlaneStride + b. The stride is FIXED at the autoLshBits cap
    * so each table's plane IDENTITY is independent of the chosen
    * width — a corpus-adaptive `bits` only gates how many of the same
    * planes contribute, which is what lets oracle SQL embed static
    * plane literals and switch them on by a count-derived width. */
  final val LshPlaneStride = 12

  /** All `tables` bucket ids of a vector as array<struct<t,bucket>> —
    * table t uses planes t*LshPlaneStride .. +bits-1, so tables are
    * independent hashes; explode to get one (vector, table) row each. */
  private def lshTableBuckets(vec: Column, bits: Int, tables: Int): Column =
    array((0 until tables).map { t =>
      struct(lit(t).as("t"),
        (0 until bits).map(b => signBit(vec, t * LshPlaneStride + b, b))
          .reduce(_ + _).as("bucket"))
    }: _*)

  /** Sequential element-order double fold over the shorter length — the
    * exact loop of plans.DotProduct (expressions.scala:223), so
    * JVM-side model math is bit-identical to the codegen'd column. */
  private def seqDot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Collect a (cell_id, c_vec) centroid frame into the driver-side
    * model for [[assignNearestCells]]. Columns are resolved BY NAME, so
    * caller-supplied frames work in any column order. Centroids ARE the
    * model — k×dim doubles, driver-sized by definition (what the
    * reference's IVF training produces) — so this collect is
    * model-sized, never corpus-sized. Float centroid elements widen to
    * double exactly as DotProduct widens them; null vectors or null
    * ELEMENTS are rejected loudly (a centroid that can never win an
    * argmax is a caller bug, not a tie-break case). */
  private def collectModel(centroids: DataFrame): Array[(Any, Array[Double])] =
    centroids.select(col("cell_id"), col("c_vec")).collect().map { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1),
        "centroids must have non-null cell_id and c_vec")
      val v = r.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
        case n: java.lang.Number => n.doubleValue()
        case null => throw new IllegalArgumentException(
          s"centroid vector for cell ${r.get(0)} contains a null element")
      }.toArray
      (r.get(0), v)
    }

  /** Nearest-cell assignment as a ROW-LOCAL map over a broadcast
    * centroid model — zero shuffle. Replaces the former
    * crossJoin(corpus × centroids) + row_number window, whose window
    * exchange moved nCells × corpus rows CARRYING FULL VECTORS — at
    * IVF-realistic nCells (10³–10⁴) that exchange dominates the whole
    * job. Here `sc.broadcast` ships the k×dim model once per executor
    * (no plan literal, no codegen bloat at large k) and each row's
    * argmax is a tight local loop; the stage stays narrow so the ONLY
    * shuffle left in IVF/SemDeDup is the keyed probe/pair join.
    *
    * Semantics match the old window exactly for well-formed vectors:
    * cosine = dot/(sqrt(dot(v,v))·sqrt(dot(c,c))) with sequential-fold
    * dots (identical IEEE result to the codegen'd DotProduct), NaN
    * ranks greatest (Spark's descending-sort convention), ties take
    * the smallest cell id (numeric order; lexicographic for string
    * ids). Emits `min(nprobe, k)` rows per input row, nearest cell
    * first. DELIBERATE divergence from the old path: rows whose vector
    * is NULL or contains a null ELEMENT get NO row — the old window
    * "assigned" them to the smallest cell id as an artifact of
    * nulls-last ordering, which was never a meaningful cell. Output
    * schema = input schema + cellCol. An EMPTY model yields an empty
    * frame (cellCol typed long), matching the old empty-centroids
    * cross join. */
  private type ModelBc = org.apache.spark.broadcast.Broadcast[
    (Array[Any], Array[Array[Double]], Array[Double])]

  /** Sort, norm, type-resolve, and broadcast a centroid model ONCE —
    * knnIvf reuses the handle for corpus assignment and query probes;
    * the k-means loop destroys stale iterations explicitly. */
  private def prepareModel(spark: org.apache.spark.sql.SparkSession,
      model: Array[(Any, Array[Double])])
      : (ModelBc, org.apache.spark.sql.types.DataType) = {
    // ascending cell-id order so strict-greater argmax ties resolve to
    // the smallest id, matching orderBy(c_sim desc, cell_id asc);
    // strings order lexicographically like the old window's sort
    val sorted = model.sortWith {
      case ((a: java.lang.Number, _), (b: java.lang.Number, _)) =>
        a.longValue() < b.longValue()
      case ((a, _), (b, _)) => String.valueOf(a) < String.valueOf(b)
    }
    val cellType = sorted.head._1 match {
      case _: java.lang.Integer => IntegerType
      case _: java.lang.Long => LongType
      case _: String => StringType
      case other => throw new IllegalArgumentException(
        s"unsupported cell id type: ${other.getClass}")
    }
    val cVecs = sorted.map(_._2)
    val cNorms = cVecs.map(v => math.sqrt(seqDot(v, v)))
    (spark.sparkContext.broadcast((sorted.map(_._1), cVecs, cNorms)),
      cellType)
  }

  private def assignNearestCells(df: DataFrame, vecCol: String,
      model: Array[(Any, Array[Double])], cellCol: String = "cell_id",
      nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    if (model.isEmpty)
      return df.limit(0).withColumn(cellCol, lit(null).cast(LongType))
    val (bc, cellType) = prepareModel(df.sparkSession, model)
    assignNearestCells(df, vecCol, bc, cellType, cellCol, nprobe)
  }

  /** NaN-greatest strict compare: a beats b iff a > b, or a is NaN and
    * b is not — Spark's descending NullsLast/NaN-greatest sort order.
    * Shared by the flat and hierarchical assignment paths so their
    * tie semantics can never diverge. */
  private def beatsSim(a: Double, b: Double): Boolean =
    a > b || (a.isNaN && !b.isNaN)

  /** Decode a row's vector cell into doubles; null when the row has no
    * defined vector (null cell or null element) — the shared skip rule
    * of both assignment paths. */
  private def decodeVec(row: Row, vecIdx: Int): Array[Double] = {
    if (row.isNullAt(vecIdx)) return null
    val raw = row.getSeq[Any](vecIdx)
    val v = new Array[Double](raw.length)
    var i = 0
    val it = raw.iterator
    while (it.hasNext) {
      it.next() match {
        case f: Float => v(i) = f.toDouble
        case d: Double => v(i) = d
        case n: java.lang.Number => v(i) = n.doubleValue()
        case null => return null
      }
      i += 1
    }
    v
  }

  /** Cosine with the shared zero-norm guard: 0/0 would be NaN, and the
    * NaN-greatest compare would then assign EVERY row to a single
    * all-zero centroid (one giant cell = the corpus-squared blowup IVF
    * exists to avoid). Cosine to a zero vector is undefined — −Inf
    * makes such a centroid lose every argmax; an all-zero INPUT row
    * falls deterministically into the first cell. */
  private def guardedCosine(v: Array[Double], vn: Double,
      c: Array[Double], cn: Double): Double = {
    val den = vn * cn
    if (den == 0.0) Double.NegativeInfinity else seqDot(v, c) / den
  }

  private def assignNearestCells(df: DataFrame, vecCol: String,
      bc: ModelBc, cellType: org.apache.spark.sql.types.DataType,
      cellCol: String, nprobe: Int): DataFrame = {
    val vecIdx = df.schema.fieldIndex(vecCol)
    val outSchema = df.schema.add(cellCol, cellType, nullable = false)
    df.mapPartitions { it =>
      val (ids, vecs, norms) = bc.value
      val k = vecs.length
      val probes = math.min(nprobe, k)
      it.flatMap { row =>
        val v = decodeVec(row, vecIdx)
        if (v == null) Iterator.empty // no defined cell for this row
        else {
          val vn = math.sqrt(seqDot(v, v))
          val sims = new Array[Double](k)
          var c = 0
          while (c < k) {
            sims(c) = guardedCosine(v, vn, vecs(c), norms(c))
            c += 1
          }
          // repeated argmax: O(k·nprobe), no per-row allocation
          // beyond the sims buffer; nprobe « k always
          val used = new Array[Boolean](k)
          val base = row.toSeq
          Iterator.tabulate(probes) { _ =>
            var best = -1
            var j = 0
            while (j < k) {
              if (!used(j) && (best < 0 || beatsSim(sims(j), sims(best))))
                best = j
              j += 1
            }
            used(best) = true
            Row.fromSeq(base :+ ids(best))
          }
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Public flat nearest-cell assignment over an explicit centroid
    * frame — the broadcast-model map stage every IVF/SemDeDup path
    * uses internally, exposed for callers that bring their own
    * quantizer. One row per (input row, probe), nearest cell first;
    * rows with null vectors/elements get no row (see
    * [[assignNearestCells]]'s contract). */
  def assignCells(df: DataFrame, vecCol: String, centroids: DataFrame,
      cellCol: String = "cell_id", nprobe: Int = 1): DataFrame =
    assignNearestCells(df, vecCol, collectModel(centroids), cellCol, nprobe)

  /** Hierarchical (two-level) nearest-cell assignment — the O(n·√K)
    * remedy for flat assignment's O(n·K) scoring (the SemDeDup
    * asymptote documented in SCALING.md "Known scale caveats"): the K
    * cell centroids are grouped DRIVER-SIDE into S ≈ ⌈√K⌉ super-cells
    * (a tiny Lloyd over the MODEL itself — K×dim doubles, never the
    * corpus), each row scores the S super-centroids, descends into its
    * `superProbes` nearest super-cells, and argmaxes only their
    * children: S + superProbes·K/S dots per row instead of K. Cell
    * IDENTITY is unchanged — children are the flat model's centroids
    * with their ids — so posting lists, exemplars, and screens compose
    * unchanged. Approximate ONLY at super-cell boundaries (a row whose
    * true cell lives in a non-probed super-cell gets its best probed
    * cell); `superProbes >= S` recovers the flat argmax EXACTLY
    * (spec-asserted), and identical vectors always land in the same
    * cell, so duplicate recall is unaffected. Tie/NaN/zero-norm rules
    * mirror [[assignNearestCells]] (smallest id wins, NaN-greatest,
    * zero-norm centroids lose every argmax). */
  def assignCellsHierarchical(df: DataFrame, vecCol: String,
      centroids: DataFrame, cellCol: String = "cell_id",
      superProbes: Int = 2, superCells: Int = 0): DataFrame = {
    require(superProbes >= 1, "superProbes must be >= 1")
    val model = collectModel(centroids)
    if (model.isEmpty)
      return df.limit(0).withColumn(cellCol, lit(null).cast(LongType))
    val (bc, cellType) = prepareModel(df.sparkSession, model)
    val (ids, vecs, norms) = bc.value
    val k = vecs.length
    val s = if (superCells > 0) math.min(superCells, k)
      else math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    // driver-side Lloyd over the k centroids: seeds = every ⌈k/s⌉-th
    // centroid in ascending-id order (deterministic, spread across the
    // id range); cosine argmax with the same beats()/smallest-index
    // tie rule the row-level assignment uses
    def beats(a: Double, b: Double): Boolean =
      a > b || (a.isNaN && !b.isNaN)
    var superVecs = Array.tabulate(s)(j => vecs((j.toLong * k / s).toInt))
    var members: Array[Array[Int]] = null
    var it = 0
    while (it < 4) {
      val superNorms = superVecs.map(v => math.sqrt(seqDot(v, v)))
      val grouped = Array.fill(s)(List.newBuilder[Int])
      var c = 0
      while (c < k) {
        var best = 0
        var bestSim = Double.NegativeInfinity
        var j = 0
        while (j < s) {
          val den = norms(c) * superNorms(j)
          val sim = if (den == 0.0) Double.NegativeInfinity
            else seqDot(vecs(c), superVecs(j)) / den
          if (j == 0 || beats(sim, bestSim)) { best = j; bestSim = sim }
          j += 1
        }
        grouped(best) += c
        c += 1
      }
      members = grouped.map(_.result().toArray) // ascending by model idx
      // mean update; empty super-cells keep their previous vector
      superVecs = Array.tabulate(s) { j =>
        val m = members(j)
        if (m.isEmpty) superVecs(j)
        else {
          val dim = vecs(m(0)).length
          val acc = new Array[Double](dim)
          m.foreach { ci =>
            val v = vecs(ci); var d = 0
            while (d < dim) { acc(d) += v(d); d += 1 }
          }
          var d = 0
          while (d < dim) { acc(d) /= m.length; d += 1 }
          acc
        }
      }
      it += 1
    }
    val superNorms = superVecs.map(v => math.sqrt(seqDot(v, v)))
    val hierBc = df.sparkSession.sparkContext.broadcast(
      (ids, vecs, norms, superVecs, superNorms, members))
    bc.destroy() // model arrays live on in hierBc; the flat broadcast
    // handle itself was only ever read driver-side
    val vecIdx = df.schema.fieldIndex(vecCol)
    val outSchema = df.schema.add(cellCol, cellType, nullable = false)
    val probes = math.min(superProbes, s)
    df.mapPartitions { rows =>
      val (ids, vecs, norms, sVecs, sNorms, kids) = hierBc.value
      rows.flatMap { row =>
        val v = decodeVec(row, vecIdx)
        if (v == null) Iterator.empty
        else {
          val vn = math.sqrt(seqDot(v, v))
          val nS = sVecs.length
          val sSims = new Array[Double](nS)
          // Lloyd can strand a super-cell with zero members (it keeps
          // its stale vector); probing one would both waste a probe
          // slot and, at superProbes=1, silently DROP the row — mark
          // empties used up front so only populated supers are probed
          // (every centroid belongs to exactly one super, so at least
          // one populated super always exists).
          val used = new Array[Boolean](nS)
          var populated = 0
          var j = 0
          while (j < nS) {
            sSims(j) = guardedCosine(v, vn, sVecs(j), sNorms(j))
            if (kids(j).isEmpty) used(j) = true else populated += 1
            j += 1
          }
          var bestSim = Double.NegativeInfinity
          var kid = -1
          var p = 0
          val nProbes = math.min(probes, populated)
          while (p < nProbes) {
            var bj = -1; var m = 0
            while (m < nS) {
              if (!used(m) && (bj < 0 || beatsSim(sSims(m), sSims(bj)))) bj = m
              m += 1
            }
            used(bj) = true
            // candidate rule mirrors the flat scan's first-wins-on-tie
            // over ascending model indices: a child replaces the
            // incumbent iff it strictly beats it, OR neither beats the
            // other (equal, or both NaN) and its index — hence id — is
            // smaller. With superProbes >= S this reproduces the flat
            // argmax exactly, NaN rows included.
            val ch = kids(bj)
            var x = 0
            while (x < ch.length) {
              val c = ch(x)
              val sim = guardedCosine(v, vn, vecs(c), norms(c))
              if (kid < 0 || beatsSim(sim, bestSim) ||
                  (!beatsSim(bestSim, sim) && c < kid)) {
                kid = c; bestSim = sim
              }
              x += 1
            }
            p += 1
          }
          Iterator.single(Row.fromSeq(row.toSeq :+ ids(kid)))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Seed tag for the deterministic quantizer-seed ordering: seeds are
    * the nCells corpus rows with the smallest
    * Curation.hashUnit(id, SeedTag) — the engine-portable md5-derived
    * uniform (DuckDB computes the identical double), so trained models
    * and IVF assignments are oracle-checkable end to end. xxhash64
    * would be equally uniform but exists only inside Spark. */
  final val SeedTag = "ivf-seed"

  /** Lloyd k-means coarse quantizer trainer. Centroids are the MODEL —
    * k×dim doubles, driver-sized by definition (exactly what the
    * reference's IVF training produces); each iteration is one broadcast
    * assignment map stage + one groupBy whose partial buffers are
    * (sum-vector, count) per cell per partition (VectorMeanFixedAgg),
    * so shuffle volume is k×dim×partitions, never the corpus.
    * Deterministic end to end: seeds are the nCells corpus rows with
    * the smallest portable hashUnit(id, SeedTag) — no count(), no
    * RNG — and the centroid update accumulates in exact fixed-point
    * (VectorMeanFixedAgg), so the returned model is bit-identical
    * across runs, partitionings, and engines. Returns
    * (cell_id, c_vec). */
  def kmeansCentroids(corpus: DataFrame, nCells: Int, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // cache: the seed pass plus every Lloyd iteration re-reads this;
    // null-vector rows are dropped up front — they can neither seed
    // (collectModel rejects nulls) nor join a cell (assignNearestCells
    // skips them), so carrying them would only poison the seed window
    val vecs = corpus
      .filter(col(vecCol).isNotNull && !exists(col(vecCol), _.isNull))
      .select(col(idCol).as("n_id"),
        transform(col(vecCol), _.cast("double")).as("n_vec")).cache()
    var centroids = vecs
      .orderBy(graft.operators.Curation.hashUnit(col("n_id"), SeedTag),
        col("n_id")).limit(nCells)
      .select(col("n_vec").as("c_vec"))
      .collect().map(_.getSeq[Double](0)).zipWithIndex
    val vecAvg = udaf(graft.functions.Udfs.VectorMeanFixedAgg)
    var i = 0
    // empty corpus -> zero seeds -> skip Lloyd entirely (empty result)
    while (i < iters && centroids.nonEmpty) {
      // assignment is a row-local broadcast-model map (zero shuffle);
      // the groupBy's partial buffers are (sum-vector, count) per cell
      // per partition, so the only exchange is k×dim×partitions
      val model = centroids.map { case (v, id) => (id: Any, v.toArray) }
      val (bc, cellType) = prepareModel(spark, model)
      val updated = assignNearestCells(vecs, "n_vec", bc, cellType,
          "cell_id", nprobe = 1)
        .groupBy(col("cell_id"))
        .agg(vecAvg(col("n_vec")).as("c_vec"))
        .collect().map(r => (r.getSeq[Double](1), r.getInt(0)))
      bc.destroy() // the collect materialized the job; don't let iters
      // of stale models pile up in executor block stores
      // keep unmoved seeds for cells that lost all members
      val byCell = updated.map { case (v, id) => id -> v }.toMap
      centroids = centroids.map { case (v, id) => (byCell.getOrElse(id, v), id) }
      i += 1
    }
    vecs.unpersist()
    centroids.toSeq.toDF("c_vec", "cell_id")
      .select(col("cell_id"), col("c_vec"))
  }

  /** IVF-style ANN: centroids partition the corpus into cells
    * (assignment = argmax cosine to centroid); queries probe their
    * `nprobe` nearest cells and brute-force within them — the
    * inverted-file architecture (coarse quantizer + posting lists).
    * Default quantizer: the nCells corpus vectors with smallest
    * hashUnit(id, SeedTag) (deterministic, engine-portable, single
    * limit pass, no count()); pass
    * `centroids = Some(kmeansCentroids(...))` for trained cells.
    *
    * Scale: cell assignment is a broadcast map stage; the probe join
    * shuffles on cell id, so cost ∝ cell occupancy × queries, not
    * corpus². Recall grows with nprobe. */
  def knnIvf(corpus: DataFrame, queries: DataFrame, k: Int, nCells: Int,
      nprobe: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding",
      centroids0: Option[DataFrame] = None,
      excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val model = collectModel(centroids0.getOrElse(
      // null-vector rows are invisible to assignment, so they must be
      // invisible to seeding too (collectModel rejects null centroids;
      // whether a null row's id hashes into the seed window must not
      // decide whether the job runs)
      corpus.filter(col(vecCol).isNotNull &&
          !exists(col(vecCol), _.isNull))
        .orderBy(graft.operators.Curation.hashUnit(col(idCol), SeedTag),
          col(idCol)).limit(nCells)
        .select(col(idCol).as("cell_id"), col(vecCol).as("c_vec"))))
    // empty corpus -> empty centroids -> empty result (same schema),
    // matching the old empty-cross-join behavior instead of throwing
    if (model.isEmpty)
      return knnBrute(corpus.limit(0), queries.limit(0), k, idCol, vecCol)
    // ONE broadcast of the model serves both map stages below
    val (bc, cellType) = prepareModel(corpus.sparkSession, model)
    // corpus rows → single nearest cell: row-local broadcast-model map,
    // zero shuffle (the corpus is never exchanged for assignment)
    val assigned = assignNearestCells(c, "n_vec", bc, cellType,
        "cell_id", nprobe = 1)
      .select(col("cell_id"), col("n_id"), col("n_vec"))
    // queries → nprobe nearest cells, same zero-shuffle map
    val probes = assignNearestCells(q, "q_vec", bc, cellType,
        "cell_id", nprobe = nprobe)
      .select(col("cell_id"), col("q_id"), col("q_vec"))
    val scored = assigned.join(probes, "cell_id")
      // excludeSelf (default) is the SELF-SEARCH contract — queries drawn
      // from the corpus must not return themselves. For a separate query
      // table pass false: a corpus row with a coincidentally equal id is
      // a legitimate neighbor, and a null-id query would otherwise be
      // silently dropped (null =!= x is null).
      .filter(if (excludeSelf) col("q_id") =!= col("n_id") else lit(true))
      .withColumn("sim", cosine(col("q_vec"), col("n_vec")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
  }

  /** Approximate top-k: candidates restricted to same LSH bucket, then
    * exact cosine + per-query top-k. Shuffle key is the bucket id, so
    * cost scales with bucket occupancy, not corpus². Recall depends on
    * bits (fewer bits → bigger buckets → higher recall, more compute). */
  def knnLsh(corpus: DataFrame, queries: DataFrame, k: Int, bits: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        l2norm(col(vecCol)).as("q_norm"))
      .withColumn("bucket", lshBucket("q_vec", bits))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
        l2norm(col(vecCol)).as("n_norm"))
      .withColumn("bucket", lshBucket("n_vec", bits))
    val scored = c.join(q, "bucket")
      // excludeSelf (default) is the SELF-SEARCH contract — queries drawn
      // from the corpus must not return themselves. For a separate query
      // table pass false: a corpus row with a coincidentally equal id is
      // a legitimate neighbor, and a null-id query would otherwise be
      // silently dropped (null =!= x is null).
      .filter(if (excludeSelf) col("q_id") =!= col("n_id") else lit(true))
      .withColumn("sim",
        dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
  }

  /** Embedding-cosine near-dup PAIRS, exact: every (id_a < id_b) pair
    * with cosine ≥ threshold, by all-pairs comparison. Quadratic in the
    * input — the oracle ground truth for [[cosineNearDupPairs]], only
    * for bounded inputs (same positioning as Dedup.jaccardPairsExact).
    * Norms are computed once per VECTOR before the pair join (identical
    * arithmetic to per-pair cosine, 3× fewer dots), and the streamed
    * side is repartitioned so the nested-loop pair evaluation
    * parallelizes instead of running on the file's single split. */
  def cosineNearDupPairsExact(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"),
        l2norm(col(vecCol)).as("norm_a"))
      .repartition(col("id_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"),
      l2norm(col(vecCol)).as("norm_b"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("sim",
        dot(col("vec_a"), col("vec_b")) / (col("norm_a") * col("norm_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** SemDeDup-style semantic near-dup pairs: k-means cells as the
    * candidate blocks (vs [[cosineNearDupPairs]]'s LSH tables). Train
    * `nCells` centroids, assign every vector to its nearest cell, pair
    * only WITHIN a cell, verify with exact cosine — precision 1.0 by
    * construction; recall misses only pairs split across a cell
    * boundary (the published SemDeDup tradeoff; more cells = cheaper
    * pairing, more boundary misses).
    *
    * 100 TB shape: assignment is a broadcast map stage (centroids are
    * the model, k×dim doubles) that runs ONCE — cell posting lists
    * generate the pairs (see PostingLists), so pair cost is ∝ Σ|cell|²,
    * never corpus², and cell sizes are balanced by the k-means
    * objective rather than by hash luck. Cells are disjoint, so no
    * cross-key pair dedup is needed; the verify joins vectors back by
    * id (a plain scan + norm, not the assignment subtree). */
  def semanticDedupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCells: Int = 0, iters: Int = 2,
      superProbes: Int = 0): DataFrame = {
    // nCells <= 0 = corpus-adaptive (default): ~250 vectors per cell
    // keeps within-cell pair work ∝ n, not ∝ n²/K (see autoCells).
    val k = if (nCells > 0) nCells else autoCells(df.count())
    // assignment + k-means scoring are O(n·K)/O(n·√K) dot-product
    // kernels: guard against an unsplittable single-row-group input
    // serializing them onto one core (Spread scaladoc)
    // Spread only when the per-row kernel is heavy enough to repay an
    // input exchange (~K dots/row): the K=8 SemDeDup gate measured 21%
    // SLOWER spread (exchange overhead > 8 dots), the K=4096
    // hierarchical gate ~15% faster. At k >= 64 the kernel dominates.
    val dfS = if (k >= 64) Spread.spread(df) else df
    val cents = kmeansCentroids(dfS, k, iters, idCol, vecCol)
    val rows = dfS.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // row-local broadcast-model assignment — zero shuffle, runs ONCE.
    // Above HierKThreshold cells, the flat O(n·K) scoring dominates the
    // whole op (the SCALING.md SemDeDup asymptote: autoCells reaches
    // 4096 at n = 1.024M vectors) — switch to the O(n·√K) two-level
    // descent. Duplicate RECALL is unaffected by construction:
    // identical vectors score identically at every level, so they land
    // in the same cell and still pair (spec-asserted on planted dups);
    // only near-dup pairs straddling a super-cell boundary can be
    // missed, the same tradeoff SemDeDup already accepts at cell
    // boundaries. Below the threshold the flat argmax is kept —
    // bit-reproducible and oracle-gated.
    //
    // superProbes governs the switch explicitly: > 0 forces the
    // hierarchical descent at that probe width; < 0 forces the exact
    // flat argmax at any K; 0 (default) auto-switches ONLY on the
    // adaptive nCells<=0 path — a caller who pins nCells keeps flat
    // semantics rather than having recall silently change at
    // HierKThreshold (an explicit K is a statement about the blocking,
    // not an opt-in to approximation).
    val useHier =
      if (superProbes > 0) true
      else if (superProbes < 0) false
      else nCells <= 0 && k >= HierKThreshold
    val probeWidth = if (superProbes > 0) superProbes else 2
    val assigned = (if (useHier)
        assignCellsHierarchical(rows, "vec", cents,
          superProbes = probeWidth)
      else assignNearestCells(rows, "vec", collectModel(cents)))
      .select(col("id"), col("cell_id"))
    val vecs = dfS.select(col(idCol).as("id"), col(vecCol).as("vec"),
      l2norm(col(vecCol)).as("norm"))
    // both joins take PostingLists' merge-hint join guard: the pair
    // frame's static size estimate is pre-explode, which would otherwise
    // statically broadcast the quadratic side — measured as a 9.8 GiB
    // attempted broadcast at a 25x corpus
    PostingLists.candidatePairs(assigned, "id", "cell_id")
      .select(col("a").as("id_a"), col("b").as("id_b"))
      .hint("merge")
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a"),
        col("norm").as("norm_a")), "id_a")
      .hint("merge")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b"),
        col("norm").as("norm_b")), "id_b")
      .withColumn("sim",
        dot(col("vec_a"), col("vec_b")) / (col("norm_a") * col("norm_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Diverse coreset — SemDeDup's dual: ONE exemplar per k-means cell
    * (the member most cosine-similar to its cell centroid, ties to the
    * smallest id) plus the cell population. Keeping the exemplar and
    * dropping (or down-weighting) the rest is the aggressive end of
    * semantic dedup; the (cell_id, n_members) histogram is the corpus's
    * semantic density profile. Same machinery as
    * [[semanticDedupPairs]]: quantizer trains deterministically,
    * assignment is a row-local broadcast-model map (zero shuffle), and
    * the exemplar pick windows over (cell_id, id, sim) triples only —
    * vectors never shuffle. */
  def semanticExemplars(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iters: Int = 2): DataFrame = {
    val cents = kmeansCentroids(corpus, nCells, iters, idCol, vecCol)
    val model = collectModel(cents)
    // centroid norm precomputed once on the k-row model frame (same
    // doubles as cosine() — dot, sqrt, multiply, divide in the same
    // order), so each corpus row pays 2 dots, not 3
    val withNorm = cents.withColumn("c_norm", l2norm(col("c_vec")))
    val simmed = assignNearestCells(
        corpus.select(col(idCol).as("id"), col(vecCol).as("vec")),
        "vec", model)
      .join(broadcast(withNorm), "cell_id")
      // try_divide: a zero-norm vector has no defined cosine — under
      // ANSI the plain `/` would abort the job on it; NULL (and NaN
      // from NaN elements) rows are excluded entirely (membership
      // included), else Spark's NaN-greatest descending sort would
      // crown a degenerate vector the exemplar
      .withColumn("sim", try_divide(dot(col("vec"), col("c_vec")),
        l2norm(col("vec")) * col("c_norm")))
      .select(col("cell_id"), col("id"), col("sim"))
      .filter(col("sim").isNotNull && !isnan(col("sim")))
    val cell = Window.partitionBy(col("cell_id"))
    simmed
      .withColumn("rn",
        row_number().over(cell.orderBy(col("sim").desc, col("id"))))
      .withColumn("n_members", count(lit(1)).over(cell))
      .filter(col("rn") === 1)
      .select(col("cell_id"), col("id").as("exemplar_id"), col("sim"),
        col("n_members"))
  }

  /** Streaming twin of [[semanticDedupPairs]]: admit only stream
    * embeddings with no corpus neighbor at cosine ≥ threshold in their
    * assigned coarse cell. Returns a batch→batch function for
    * `writeStream.foreachBatch` (same wiring as
    * [[graft.streaming.StatefulOps.nearDupScreenBatch]], which screens
    * text; this screens vectors).
    *
    * Corpus-side work is paid ONCE, outside the returned closure: the
    * k-means quantizer trains here, and the corpus cell index
    * (id, cell, vec, norm) is assigned row-locally over the broadcast
    * model and persisted — each micro-batch only assigns ITS vectors
    * (zero shuffle) and joins the collided cells. `nprobe` > 1 probes
    * the delta vector's nearest cells beyond the first, recovering
    * corpus twins that fell across a cell boundary (the batch twin's
    * same-cell-only recall caveat) at nprobe× candidate cost.
    *
    * Null or null-element vectors have no defined cell → never collide
    * → pass the screen; filter them upstream if they should not be
    * admitted. An EMPTY corpus (or one with no usable vectors) yields
    * the identity screen — everything is novel. Call
    * [[IngestScreen.close]] when rebuilding over a refreshed corpus to
    * release the persisted index and broadcast model. */
  def semanticScreenBatch(corpus: DataFrame, idCol: String,
      vecCol: String, threshold: Double, nCells: Int, iters: Int = 2,
      nprobe: Int = 1): IngestScreen = {
    val model = collectModel(
      kmeansCentroids(corpus, nCells, iters, idCol, vecCol))
    if (model.isEmpty)
      return new IngestScreen(batch => batch, () => ())
    val (bc, cellType) = prepareModel(corpus.sparkSession, model)
    val cIdx = assignNearestCells(
        corpus.select(col(idCol).as("id_c"), col(vecCol).as("vec_c")),
        "vec_c", bc, cellType, "cell_id", nprobe = 1)
      .withColumn("norm_c", l2norm(col("vec_c")))
      .persist()
    new IngestScreen(batch => {
      val dAssigned = assignNearestCells(
        batch.select(col(idCol).as("id_d"), col(vecCol).as("vec_d")),
        "vec_d", bc, cellType, "cell_id", nprobe)
        .withColumn("norm_d", l2norm(col("vec_d")))
      // try_divide: a zero-norm stream vector has no defined cosine —
      // NULL never passes the threshold, so it is admitted as novel
      // (same "no defined similarity → pass" contract as null vectors)
      val collided = dAssigned.join(cIdx, "cell_id")
        .withColumn("sim", try_divide(dot(col("vec_d"), col("vec_c")),
          col("norm_d") * col("norm_c")))
        .filter(col("sim") >= threshold)
        .select(col("id_d").as(idCol)).distinct()
      batch.join(collided, Seq(idCol), "left_anti")
    }, () => { cIdx.unpersist(); bc.destroy() })
  }

  /** Embedding-cosine near-dup pairs at scale: multi-table sign-LSH
    * candidates (a pair is a candidate if ANY of `tables` independent
    * `bits`-bit hashes collide — OR-amplification lifts recall, e.g.
    * p=0.87/bit at sim 0.9 gives 1-(1-0.87³)¹² ≈ 0.9998), then exact
    * cosine verification, so precision is 1.0 by construction.
    *
    * Same 100 TB shape as Dedup.minhashPairs: the bucket shuffle moves
    * (id, table, bucket) triples only — never vectors — and the
    * posting-list pair generation computes the sign bits once (the
    * former bucket self-join evaluated every hyperplane dot per join
    * side; see PostingLists). Verification joins vectors back per
    * candidate, ∝ candidate count, not corpus². */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 0, tables: Int = 12): DataFrame = {
    // bits <= 0 = corpus-adaptive (the default and the 100 TB path):
    // one footer-cheap count sizes the tables so bucket occupancy —
    // and with it candidate-pair cost — stays flat as the corpus
    // grows. The count is a planning action (like AQE's runtime
    // stats), not a per-row driver loop.
    val nbits = if (bits > 0) bits else autoLshBits(df.count())
    // the tables×bits hyperplane-dot signature kernel is CPU-dense:
    // guard against unsplittable single-row-group inputs (Spread)
    val vecs = Spread.spread(df).select(col(idCol).as("id"),
      col(vecCol).as("vec"), l2norm(col(vecCol)).as("norm"))
    val banded = vecs.select(col("id"),
      explode(lshTableBuckets(col("vec"), nbits, tables)).as("tb"))
    val cand = PostingLists.candidatePairs(banded, "id", "tb")
      .select(col("a").as("id_a"), col("b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand.hint("merge") // pairs enter a join: PostingLists' join guard
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a"),
        col("norm").as("norm_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b"),
        col("norm").as("norm_b")), "id_b")
      .withColumn("sim",
        dot(col("vec_a"), col("vec_b")) / (col("norm_a") * col("norm_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }
}
