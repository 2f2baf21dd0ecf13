package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance for additive aggregates.
  *
  * The 100 TB motivation: a corpus-level rollup (docs and bytes per
  * source, revenue per status, token counts per shard) is far too
  * expensive to recompute from scratch every time a CDC batch lands,
  * and the reference's pipeline shape (S4 job dequeue -> T1 transform
  * -> S6 result PUT) implies exactly this kind of continuously-
  * maintained output. Count/sum (and anything built from them: mean,
  * weighted mixes) are self-maintainable views: a delta batch folds
  * into the state with a key-local merge — no rescan of the base
  * table, shuffle proportional to |delta| + |touched keys| only.
  *
  * Contract: `state` carries (key, n, tot) — the current aggregate;
  * `delta` carries (key, dn, ds) — the PRE-AGGREGATED effect of a CDC
  * batch (insert: +1/+v; delete: -1/-v; value update: 0/+(new-old)).
  * The merge is a full-outer join on the key: keys only in `delta`
  * are group BIRTHS, keys whose merged count reaches zero are group
  * DEATHS and are dropped (a count below zero means the delta stream
  * was inconsistent with the state — surfaced loudly rather than
  * clamped). Sums stay in whatever exact type the caller aggregated
  * in (DECIMAL end-to-end here; callers cast to double only at the
  * output boundary, per the repo-wide oracle-exactness discipline).
  */
object IncrementalAgg {

  /** Merge aggregate state (key, `n`, `tot`) with a delta-aggregated
    * batch (key, `dn`, `ds`). Column names are positional contracts:
    * state carries (n, tot), delta carries (dn, ds); output carries
    * (key, n, tot); count-zero groups drop.
    */
  def mergeCountSum(state: DataFrame, delta: DataFrame,
      key: String): DataFrame = {
    val zeroTot: Column = lit(0).cast(state.schema("tot").dataType)
    val zeroDs: Column = lit(0).cast(delta.schema("ds").dataType)
    val merged = state.join(delta, Seq(key), "full_outer")
      .select(col(key),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n"),
        // Decimal addition widens precision by one digit per fold
        // (22,2 + 22,2 -> 23,2); a maintained view folded every
        // micro-batch would drift schema batch-over-batch until
        // saturating at (38,2). Pin the state type: the result is
        // cast back to the STATE's decimal type, so the view schema
        // is a fixed point of the fold.
        (coalesce(col("tot"), zeroTot) + coalesce(col("ds"), zeroDs))
          .cast(state.schema("tot").dataType).as("tot"))
    // A negative merged count can only mean the caller fed deletes
    // for rows the state never contained: fail the job, don't mask.
    merged.withColumn("n",
      when(col("n") < 0L,
        raise_error(concat(lit("IncrementalAgg: negative count for key "),
          col(key).cast("string")))).otherwise(col("n")))
      .filter(col("n") > 0L)
  }

  /** Pre-aggregate a raw batch into the KMV delta shape: per key, the
    * bottom-`k` DISTINCT [[graft.functions.PortableHash.uniform60]]
    * hashes of `valCol`'s string rendering, as a sorted `array<long>`
    * named `dkmv`. One distinct shuffle on (key, hash), then a
    * rank-over-window cut WindowGroupLimit prunes to k rows per
    * partition BEFORE the sort (q50's plan shape) — the delta is
    * <= |batch keys| * k longs regardless of batch size.
    */
  def kmvDelta(batch: DataFrame, key: String, valCol: String,
      k: Int): DataFrame =
    batch.select(col(key),
        graft.functions.PortableHash.uniform60(
          col(valCol).cast("string")).as("hv"))
      .distinct()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(key)).orderBy(col("hv"))))
      .filter(col("rn") <= k)
      .groupBy(col(key))
      .agg(array_sort(collect_list(col("hv"))).as("dkmv"))

  /** Merge per-key KMV (bottom-k distinct) sketch state with a
    * delta batch. State carries (key, `kmv`: sorted array<long>,
    * size <= k); delta carries (key, `dkmv`) in the same shape
    * ([[kmvDelta]]'s output). The union property — bottom-k of a
    * union equals bottom-k over the union of bottom-k sets — makes
    * the fold LOSSLESS: folding batches one at a time yields exactly
    * the sketch a from-scratch pass over all data would (c33's
    * oracle proves it by recomputing from scratch). Key-local merge,
    * state <= k longs per key: at 100 TB the maintained
    * distinct-count view costs O(|delta| + touched keys) per batch.
    * KMV is INSERT-ONLY — a sketch cannot retract a value; feed
    * deletes to [[mergeCountSum]] views, not this one.
    */
  def mergeKmv(state: DataFrame, delta: DataFrame, key: String,
      k: Int): DataFrame = {
    val empty: Column = array().cast("array<long>")
    state.join(delta, Seq(key), "full_outer")
      .select(col(key),
        slice(array_sort(array_distinct(concat(
          coalesce(col("kmv"), empty), coalesce(col("dkmv"), empty)))),
          1, k).as("kmv"))
  }

  /** Distinct-count estimate off a KMV sketch column: exact `size`
    * while the sketch is unsaturated (it then holds EVERY distinct
    * hash), else the standard (k-1) * 2^60 / kth_min estimator —
    * one double division on exact int64s, so cross-engine
    * hash-stable (q50's discipline).
    */
  def kmvEstimate(kmv: Column, k: Int): Column =
    when(size(kmv) < k, size(kmv).cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(1.152921504606846976e18) /
        element_at(kmv, k).cast("double"))
}
