package graft.operators

import graft.plans.GraftExpressions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Embedding-vector transforms (north star: similarity search and
  * storage at 100 TB). Everything here is a pure per-row map stage —
  * zero shuffle, codegen kernels (plans/ArrayOps) for the element
  * loops — so cost is linear in corpus vectors and the operators
  * compose freely with Similarity.* and the dedup layer.
  *
  * Determinism: all math is element-ordered double arithmetic (floats
  * widened before any multiply/accumulate), the same contract as
  * Similarity — results are bit-identical across runs, partitionings,
  * and engines (the embed_normalize/quantize/project queries are
  * DuckDB-oracle-checked).
  */
object Embeddings {

  /** L2-normalize a vector to unit length: `v * (1 / ||v||)`. The norm
    * is a scalar child of the codegen'd ArrayScale, evaluated once per
    * row — a `transform(v, x -> x / norm)` lambda would get the norm
    * expression inlined into its body by projection collapse and
    * re-evaluated per ELEMENT (O(d²) per row). Zero vectors pass
    * through unchanged (scale 1) instead of dividing by zero. */
  def l2Normalize(vec: Column): Column = {
    val n = Similarity.l2norm(vec)
    GraftExpressions.arrayScale(vec,
      when(n === 0.0, lit(1.0)).otherwise(lit(1.0) / n))
  }

  /** Per-vector uint8 scalar quantization — the standard 4× storage
    * shrink for embedding columns. Appends `lo` (vector min), `scale`
    * ((max−min)/255), and `q` (array<int> of 0..255 codes); constant
    * vectors quantize to all zeros with scale 0. Reconstruction error
    * is bounded by `scale` per element ([[dequantizeU8]] adds the
    * half-step back). */
  def quantizeU8(df: DataFrame, vecCol: String, qCol: String = "q",
      loCol: String = "lo", scaleCol: String = "scale"): DataFrame =
    df.withColumn(loCol, array_min(col(vecCol)).cast("double"))
      .withColumn(scaleCol,
        (array_max(col(vecCol)).cast("double") - col(loCol)) / lit(255.0))
      .withColumn(qCol,
        GraftExpressions.arrayQuantizeU8(col(vecCol), col(loCol), col(scaleCol)))

  /** Inverse of [[quantizeU8]]: `lo + (q + 0.5) * scale` — the bucket
    * midpoint, so |x − dequantize(quantize(x))| ≤ scale/2 (= (max−min)/510
    * per element). */
  def dequantizeU8(q: Column, lo: Column, scale: Column): Column =
    transform(q, x => lo + (x.cast("double") + lit(0.5)) * scale)

  /** ±1 sign matrix for [[randomProject]]: `outDim` rows of `inDim`
    * signs, row j element i from md5("seed|j|i") (first hex nibble < 8
    * → +1). Public, deterministic, engine-portable — the DuckDB oracle
    * embeds the identical literals, and any re-run or other system
    * reproduces the same projection. */
  def signMatrix(inDim: Int, outDim: Int, seed: String): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Seq.tabulate(outDim) { j =>
      Seq.tabulate(inDim) { i =>
        val h = md.digest(s"$seed|$j|$i".getBytes("UTF-8"))
        if ((h(0) & 0x80) == 0) 1.0 else -1.0
      }
    }
  }

  /** Random projection to `outDim` dimensions (sparse sign-matrix
    * Johnson–Lindenstrauss): `out_j = dot(v, signs_j) / sqrt(outDim)`.
    * The sign rows are plan literals (the "model" is outDim×inDim signs,
    * driver-sized by definition — same stance as Similarity's LSH
    * hyperplanes), each output dim one codegen'd DotProduct. Distances
    * are preserved in expectation; use before clustering/ANN when the
    * input dim is large. */
  def randomProject(vec: Column, inDim: Int, outDim: Int,
      seed: String = "graft"): Column = {
    require(outDim > 0 && inDim > 0, "dims must be positive")
    val signs = signMatrix(inDim, outDim, seed)
    val inv = lit(1.0 / math.sqrt(outDim.toDouble))
    val proj = array(signs.map(row =>
      Similarity.dot(vec, typedlit(row)) * inv): _*)
    // DotProduct silently truncates to the shorter array, which would
    // make a dimension mismatch produce quietly-wrong projections —
    // fail loudly instead. NULL input propagates NULL (same contract
    // as DotProduct/ArrayScale/l2Normalize); without the isNull arm a
    // null vector would fall into raise_error via a NULL comparison.
    when(vec.isNull, lit(null).cast("array<double>"))
      .when(size(vec) === inDim, proj)
      .otherwise(raise_error(concat(
        lit(s"randomProject: expected $inDim-dim vector, got "),
        coalesce(size(vec).cast("string"), lit("null")))))
  }

  /** 2^45 dyadic scale for the exact centroid sums (the LinkAnalysis
    * psum contract): 2^-45 is ~7 decimal orders below float32 epsilon
    * at unit magnitude, so the quantization never moves a centroid by
    * anything an embedding consumer can observe. */
  private val Two45 = 35184372088832.0

  /** Per-group mean embedding (class prototypes / cluster centroids —
    * the label-conditioned summary that SemDeDup-style pruning and
    * nearest-class-mean classification consume).
    *
    * Output one row per (group, dim): `groupCol, dim, n_vecs, centroid`
    * — row-per-dimension (not a vector column) so the result is
    * oracle-comparable and the aggregation is a single (group, dim)-
    * keyed map-side-combinable sum at any scale; re-assembling a vector
    * column is one array_agg away when needed.
    *
    * Determinism: each component sum is dyadic fixed point —
    * floor(v·2^45) summed exactly as DECIMAL(38,0) — so the result is
    * independent of partitioning and engine (plain double sums would
    * vary with Spark's partial-aggregate order). Vectors shorter than
    * the longest one simply contribute nothing to the missing dims
    * (n_vecs is per-(group, dim)). */
  def centroidsByGroup(df: DataFrame, groupCol: String,
      vecCol: String): DataFrame = {
    df.filter(col(vecCol).isNotNull)
      .select(col(groupCol), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col(groupCol), col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        (sum(floor(col("v").cast("double") * lit(Two45))
          .cast(DecimalType(38, 0))).cast("double") / lit(Two45) /
          count(lit(1)).cast("double")).as("centroid"))
  }
}
