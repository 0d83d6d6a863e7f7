package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** The shared skeleton of sequential per-group operators
  * ([[Allocation.greedy]], [[Packing.greedyPack]]): one hash shuffle on
  * the group key, a partition-local sort making each group contiguous
  * and ordered, then a streaming `mapPartitions` pass threading O(1)
  * mutable state through each group run — no group is ever buffered.
  *
  * Implementors supply a [[SortedGroupFold.Fold]]: `start(row)` is
  * called on the first row of every group (key-change detection uses
  * `Objects.deepEquals` on the group column — array/binary keys such as
  * 16-byte digests compare by CONTENT, not reference; `==` would have
  * silently made every binary-keyed row its own group), then `next(row)`
  * returns the
  * appended column's value for each row, first row included.
  */
object SortedGroupFold {

  trait Fold extends Serializable {
    /** Reset state at the first row of a group (the row is ALSO passed
      * to `next` immediately after).
      */
    def start(row: Row): Unit

    /** Value of the appended column for this row; mutate state as needed. */
    def next(row: Row): Any
  }

  /** Appends `outCol` (of `outType`, non-nullable) computed by a
    * streaming per-group fold over `df`, grouped by `groupCol` and
    * ordered by `orderCols` (must be a deterministic total order within
    * a group — include a tiebreaker).
    *
    * `slots = Some((n, id))` places every row in partition `id mod n`
    * instead of hashing the group key; `id` is an integer column that is
    * constant within a group. For a few dozen dense integer keys this
    * spreads the groups evenly — `n` consecutive ids land in `n`
    * distinct partitions — where hashing ids 1–36 into 4 partitions
    * gives them 5, 9, 10 and 12 groups.
    */
  def appendColumn(
      df: DataFrame,
      groupCol: String,
      orderCols: Seq[String],
      outCol: String,
      outType: DataType,
      slots: Option[(Int, Column)] = None)(mkFold: () => Fold): DataFrame = {
    val sortCols = (groupCol +: orderCols).map(col)
    val parted = slots
      .fold(df.repartition(col(groupCol))) { case (n, id) => df.repartitionById(n, id) }
      .sortWithinPartitions(sortCols: _*)

    val inSchema = parted.schema
    val outSchema = inSchema.add(outCol, outType, nullable = false)
    val gi = inSchema.fieldIndex(groupCol)

    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    parted.mapPartitions { rows =>
      val fold = mkFold()
      var curKey: Any = null
      var started = false
      rows.map { r =>
        val k = r.get(gi)
        // deepEquals (see reduceGroups): binary group keys are arrays
        if (!started || !java.util.Objects.deepEquals(k, curKey)) {
          curKey = k
          started = true
          fold.start(r)
        }
        Row.fromSeq(r.toSeq :+ fold.next(r))
      }
    }
  }

  /** One-output-row-per-group reducer over the same skeleton. */
  trait GroupReducer extends Serializable {
    /** Reset state at the first row of a group (the row is ALSO passed
      * to `next` immediately after).
      */
    def start(row: Row): Unit

    /** Consume one group row (rows arrive in `orderCols` order). */
    def next(row: Row): Unit

    /** The group's output values (everything except the group key). */
    def finish(): Seq[Any]
  }

  /** Streaming sorted-group REDUCTION: one hash shuffle on the group
    * key, partition-local sort, then one output row per group —
    * `(groupCol, outFields…)` — with only ONE group's reducer state ever
    * live. This is the memory-bounded alternative to a
    * `collect_list`-style ObjectHashAggregate for group-sized payloads
    * (ordered group concat, per-group sketches): object-agg buffers are
    * UNTRACKED heap — the memory manager never sees them, the sort
    * fallback triggers on group count, never bytes, and 32 concurrent
    * tasks × ~100 MB of JVM-object-inflated buffers OOM'd the 8 GB
    * bench JVM at the text sweep's 200k-doc point (r12, q142's id
    * streams). Here the only per-task memory is the sorter (spillable,
    * tracked) plus one group's output under construction.
    */
  def reduceGroups(
      df: DataFrame,
      groupCol: String,
      orderCols: Seq[String],
      outFields: Seq[StructField])(mkRed: () => GroupReducer): DataFrame = {
    val sortCols = (groupCol +: orderCols).map(col)
    val parted = df
      .repartition(col(groupCol))
      .sortWithinPartitions(sortCols: _*)
    val inSchema = parted.schema
    val gi = inSchema.fieldIndex(groupCol)
    val outSchema = StructType(inSchema(gi) +: outFields)
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    parted.mapPartitions { rows =>
      val red = mkRed()
      val it = rows.buffered
      new Iterator[Row] {
        def hasNext: Boolean = it.hasNext
        def next(): Row = {
          val first = it.head
          val key = first.get(gi)
          red.start(first)
          // deepEquals, not ==: binary (Array[Byte]) group keys — e.g. the
          // 16-byte digests used elsewhere in this repo — compare by
          // reference under ==, silently making every row its own group
          while (it.hasNext && java.util.Objects.deepEquals(it.head.get(gi), key))
            red.next(it.next())
          Row.fromSeq(key +: red.finish())
        }
      }
    }
  }
}
