package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming variant of the greedy sequence packer — the incremental
  * spelling of [[graft.operators.Packing.greedyPack]]: documents arrive
  * continuously (a curation pipeline emits them as they pass the
  * quality gates) and each is assigned its pack index the moment it
  * arrives, instead of re-packing the corpus per snapshot. The open
  * pack's `(bin, used)` pair — O(1) per group — lives in the streaming
  * state store, so packing continues correctly across micro-batches:
  * a pack left half-full by batch N keeps filling in batch N+1, which
  * is exactly the batch semantics ("first-fit in arrival order, no
  * splitting") replayed incrementally. Parity with the batch fold is
  * spec-pinned across micro-batch boundaries, including the
  * oversize-document case (a doc larger than the capacity gets a bin
  * of its own — same rule, same state transition).
  *
  * Scale design: state is two longs per ACTIVE group (language/shard/
  * source bucket) — independent of corpus size; rows shuffle once on
  * the group key (the state-store partitioning), matching the batch
  * path's single hash exchange. Within a batch a group's rows are
  * ordered by `seq`; across batches, arrival order IS the pack order —
  * the same contract as [[AllocationStreaming]], and the reason the
  * output is reproducible when the upstream feeds deterministic files
  * per trigger.
  *
  * The two-longs claim covers the STATE STORE only: within a trigger,
  * [[greedy]] buffers and sorts each group's micro-batch rows
  * (`rows.toSeq.sortBy`) because `flatMapGroupsWithState` guarantees no
  * iterator order — per-trigger memory is O(largest group's rows in
  * the batch), unbounded for a skewed group under an unbounded trigger.
  * The sort is unavoidable (state transitions must apply in `seq`
  * order); production feeds bound it with trigger sizing
  * (`maxFilesPerTrigger` / `maxOffsetsPerTrigger`), which is also what
  * the stream family of [[graft.ScaleSweep]] measures.
  */
object PackingStreaming {

  /** One document: `seq` is the deterministic within-batch order;
    * `size` its token count (negative ⇒ treated as 0, matching the
    * batch fold).
    */
  final case class PackDoc(group: Long, seq: Long, size: Long)
  final case class PackAssign(group: Long, seq: Long, size: Long, bin: Long)

  /** Open pack of one group: current bin index and tokens used. */
  final case class PackState(bin: Long, used: Long)

  implicit private val docEnc: org.apache.spark.sql.Encoder[PackDoc] =
    Encoders.product[PackDoc]
  implicit private val outEnc: org.apache.spark.sql.Encoder[PackAssign] =
    Encoders.product[PackAssign]
  implicit private val stEnc: org.apache.spark.sql.Encoder[PackState] =
    Encoders.product[PackState]
  implicit private val keyEnc: org.apache.spark.sql.Encoder[Long] =
    Encoders.scalaLong

  def greedy(docs: Dataset[PackDoc], capacity: Long): Dataset[PackAssign] = {
    require(capacity > 0, "capacity must be positive")
    docs
      .groupByKey((d: PackDoc) => d.group)
      .flatMapGroupsWithState[PackState, PackAssign](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (group, rows, state: GroupState[PackState]) =>
          val sorted = rows.toSeq.sortBy(_.seq)
          // None ⇒ the group's very first document ever: it opens bin 0
          // regardless of size (the batch fold's `used = -1` sentinel)
          var st = state.getOption
          val out = sorted.map { d =>
            val s = math.max(0L, d.size)
            st = st match {
              case None => Some(PackState(0L, s))
              case Some(PackState(bin, used)) =>
                if (used + s > capacity) Some(PackState(bin + 1L, s))
                else Some(PackState(bin, used + s))
            }
            PackAssign(group, d.seq, d.size, st.get.bin)
          }
          st.foreach(state.update)
          out.iterator
      }
  }
}
