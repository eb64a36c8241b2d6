package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Candidate-pair generation for the banded dedup/similarity family
  * (MinHash/SimHash bands, LSH tables, k-means cells): per-key posting
  * lists instead of a bucket self-join.
  *
  * Why not `banded.as("a").join(banded.as("b"), same key && a < b)`?
  * Measured on Spark 4 (non-AQE and AQE): the two deduplicated self-join
  * branches do NOT share a stage — ReuseExchange never fires across
  * them (small inputs broadcast one side; large inputs plan two
  * identical REPARTITION_BY_COL exchanges that stay separate) — so the
  * whole key-derivation subtree (minhash signatures, LSH sign bits,
  * k-means assignment) executes TWICE. The posting-list form runs it
  * once by construction:
  *
  *   keyed (id, key) → groupBy(key) → sorted id list
  *         → posexplode(anchor) → explode(later ids)
  *
  * One shuffle (the groupBy), pair output streamed by the second
  * explode, and per-task memory bounded by the largest posting list
  * (ids only — payloads rejoin by id afterwards). This is also the
  * classic MapReduce LSH shape (band bucket → posting list → pairs).
  *
  * Skew caveat: a pathological bucket of n ids still implies n²/2
  * output pairs — same as the join — so banding parameters must keep
  * buckets small; the explode streams them rather than materializing
  * n² in memory.
  *
  * Join guard: a caller that JOINS the pairs (a payload/verify join)
  * puts `hint("merge")` on the pair frame it joins. The pair frame's
  * static size estimate is the pre-explode row count, so without the
  * hint the planner statically broadcasts what is actually the
  * QUADRATIC side of the join (measured: a 9.8 GiB attempted broadcast
  * of semdedup pairs at a 25x corpus — hard failure at
  * spark.sql.maxBroadcastTableBytes). The hint forces sort-merge from
  * static planning; AQE may still downgrade to broadcast, but only from
  * ACTUAL runtime stage sizes — the only safe basis at 100 TB, where
  * neither pairs nor payloads fit one executor. Callers that only
  * aggregate or filter the pairs add no hint: with no join to attach
  * to, Spark drops it with a `HintErrorLogger` warning. The public
  * `GFrame.coOccurrencePairs`, whose callers may join its result,
  * returns the pairs with the hint on.
  */
private[graft] object PostingLists {

  /** All (a < b) pairs of `idCol` values sharing a `keyCol` value, as
    * columns `a`/`b` of the id's type. `idCol` may be a struct whose
    * FIRST field is the unique id (payload riding along); struct order
    * is lexicographic, so sorting and a < b still order by id. One row
    * per (key, pair): callers dedup across keys when keys overlap
    * (bands/tables) and aggregate when the per-key multiplicity is the
    * signal (shared-token counts).
    *
    * Duplicate id VALUES (dirty input) sort adjacent; the a ≠ b filter
    * drops the resulting self-pairs, matching the strict `a.id < b.id`
    * of the join formulation this replaces. Struct ids that share the
    * id field but differ in payload are the callers' concern — the two
    * struct callers filter unpacked ids. */
  def candidatePairs(keyed: DataFrame, idCol: String,
      keyCol: String): DataFrame =
    candidatePairs(keyed, idCol, keyCol, distinctIds = false)

  /** [[candidatePairs]] with optional SET semantics: `distinctIds =
    * true` dedupes ids inside each posting list (array_distinct on the
    * collected list), so callers with duplicate (id, key) rows — e.g.
    * basket analysis over order line items — get each pair once per key
    * WITHOUT a separate `.distinct()` pass, which would cost a full
    * extra shuffle of the input ahead of the groupBy. */
  def candidatePairs(keyed: DataFrame, idCol: String, keyCol: String,
      distinctIds: Boolean): DataFrame = {
    // collect_list skips nulls, so sort_array's nulls-first order never
    // applies and it sorts without array_sort's comparator lambda
    val collected = collect_list(col(idCol))
    val ids = sort_array(
      if (distinctIds) array_distinct(collected) else collected)
    keyed
      .groupBy(col(keyCol))
      .agg(ids.as("__ids"))
      .select(posexplode(col("__ids")).as(Seq("__i", "a")), col("__ids"))
      .select(col("a"),
        explode(slice(col("__ids"), col("__i") + lit(2), size(col("__ids"))))
          .as("b"))
      .filter(col("a") =!= col("b"))
  }
}
