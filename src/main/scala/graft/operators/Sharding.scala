package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic contiguous sharding of an ordered sequence set — the
  * file layout a training job reads. Two balance policies:
  *
  *  - BY COUNT (q148, inlined there): `shard = rank · S DIV n` —
  *    balanced to ±1 sequence. Byte-balanced too, but ONLY while every
  *    sequence is exactly the context length; a doc-boundary-respecting
  *    packer ([[Packing.greedyPack]] bins) or the final partial
  *    sequence skews a count-balanced shard's byte budget by up to the
  *    per-sequence variance × shard size.
  *  - BY TOKENS ([[tokenBalancedShards]], r13 verdict #7): cut the SAME
  *    deterministic order at token prefix sums — `shard = tok_start · S
  *    DIV total_tokens` — so every shard carries ≈ total/S tokens
  *    regardless of how unequal the sequences are. A shard's token
  *    mass deviates from total/S by less than the largest single
  *    sequence (sequences are atomic); with pathological skew — one
  *    sequence longer than total/S — a shard index can come out EMPTY,
  *    which is the correct reading (that sequence ate its slot's
  *    budget), not an error.
  *
  * Scale shape: [[Packing.tokenOffsets]]' two-pass distributed prefix
  * sum over the order (ONE range exchange; only the per-partition
  * totals meet on the driver), a
  * ONE-ROW broadcast total, and a pure-function shard id — no second
  * shuffle, the q148 discipline.
  */
object Sharding {

  /** Append `shard` (and `tok_start`, the order-position token offset)
    * to `df`: contiguous ranges of the `orderCols` total order,
    * balanced by the token mass in `sizeCol`.
    *
    * @param df        one row per sequence (or pack/bin)
    * @param sizeCol   token count of the row (long; null/negative ⇒ 0)
    * @param orderCols deterministic TOTAL order (include a unique
    *                  tiebreaker)
    * @param nShards   number of contiguous shards
    */
  def tokenBalancedShards(
      df: DataFrame,
      sizeCol: String,
      orderCols: Seq[String],
      nShards: Long,
      shardCol: String = "shard"): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    // the offsets frame feeds TWO consumers (rows + the 1-row total):
    // pin it once (the q148 discipline). LAZY (r16, the CC probe
    // pattern): the broadcast `total` stage is a full-scan aggregate
    // that AQE materializes strictly BEFORE the stream side of the
    // cross join can run, so its job materializes the blocks — one job
    // instead of eager-checkpoint job + aggregate job.
    val withOff = Packing.tokenOffsets(df, sizeCol, orderCols)
      .localCheckpoint(eager = false)
    val total = withOff.agg(
      sum(greatest(coalesce(col(sizeCol).cast("long"), lit(0L)), lit(0L)))
        .as("__total"))
    withOff.crossJoin(broadcast(total))
      .select(
        (Seq(expr(s"tok_start * $nShards DIV greatest(__total, 1)")
          .as(shardCol)) ++ df.columns.map(col) :+ col("tok_start")): _*)
  }
}
