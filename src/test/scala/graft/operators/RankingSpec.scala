package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The distributed ranking primitives pinned against the window
  * spelling they replace — same values, scale-safe plan.
  */
class RankingSpec extends AnyFunSuite with SparkTestBase {

  private def df = {
    import spark.implicits._
    // deliberately skewed values + unique tiebreak; enough rows to span
    // many range partitions
    (1 to 5000).map(i => (i.toLong, (i * 2654435761L) % 97))
      .toDF("id", "v")
  }

  private val order = Seq(col("v").desc, col("id"))

  test("globalRowNumber matches the row_number window exactly") {
    val expected = df.withColumn("rn",
      row_number().over(Window.orderBy(order: _*)))
      .collect().map(r => (r.getLong(0), r.getInt(2).toLong)).toMap
    val got = Ranking.globalRowNumber(df, order, "rn")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got.size == 5000)
    assert(got == expected)
  }

  test("globalRowNumber survives AQE initialPartitionNum above shuffle partitions") {
    // repartitionByRange without an explicit count starts from
    // coalescePartitions.initialPartitionNum when that is set higher —
    // the offset enumeration must cover those pids or ranks silently
    // collide (the bound used to be numShufflePartitions alone)
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    spark.conf.set(key, "37")
    try {
      val got = Ranking.globalRowNumber(df, order, "rn")
        .collect().map(r => (r.getLong(0), r.getLong(2)))
      assert(got.length == 5000)
      val ranks = got.map(_._2).sorted
      assert(ranks.head == 1 && ranks.last == 5000 &&
        ranks.distinct.length == 5000,
        "ranks must be the exact permutation 1..n under widened shuffles")
    } finally spark.conf.unset(key)
  }

  test("globalRowNumber plan has no single-partition exchange and no BNLJ") {
    val q = Ranking.globalRowNumber(df, order, "rn")
    q.collect() // materialize: AQE applies exchange reuse at RUNTIME —
    // the pre-execution plan still shows one exchange per consumer
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // ZERO range exchanges in the executed plan: rank correctness rests
    // on the stats and join-back consumers seeing the same partition
    // boundaries, and that is now enforced by MATERIALIZATION — the one
    // range exchange runs inside the eager checkpoint of the sorted
    // frame, so the query plan reads frozen blocks. A range exchange
    // reappearing here means a future edit re-introduced a per-consumer
    // sort and correctness is back to resting on ReuseExchange
    // canonicalization (independent exchanges sample different
    // boundaries → corrupted ranks, no error).
    assert(!p.contains("Exchange rangepartitioning"),
      s"expected the range exchange to live ONLY inside the checkpoint materialization:\n$p")
    assert(p.contains("Scan ExistingRDD"), p)
  }

  test("globalRowNumber emits long ranks (no 2^31 overflow by schema)") {
    val schema = Ranking.globalRowNumber(df, order, "rn").schema
    assert(schema("rn").dataType ==
      org.apache.spark.sql.types.LongType,
      "rank column must be long: this helper targets corpus-fraction frames")
  }

  test("globalRowNumber of an empty frame yields zero rows") {
    val got = Ranking.globalRowNumber(df.filter(col("id") < 0), order, "rn")
    assert(got.collect().isEmpty)
    assert(got.schema("rn").dataType == org.apache.spark.sql.types.LongType)
  }

  test("globalRowNumber ranks 1..n when AQE coalesces several pids into one task") {
    // 40 rows under 37 initial range partitions: AQE merges adjacent
    // ranges, so a task's pid covers several of the sampler's ranges
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    spark.conf.set(key, "37")
    try {
      val small = df.filter(col("id") <= 40)
      val expected = small.withColumn("rn",
        row_number().over(Window.orderBy(order: _*)))
        .collect().map(r => (r.getLong(0), r.getInt(2).toLong)).toMap
      val got = Ranking.globalRowNumber(small, order, "rn")
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(got.values.toSeq.sorted == (1L to 40L))
      assert(got == expected)
    } finally spark.conf.unset(key)
  }

  test("the rank step adds exactly one Spark job after the sorted checkpoint") {
    val sc = spark.sparkContext
    // job ids are handed out in submission order, so the jobs a block
    // runs are the gap between two marker jobs' ids
    def marker(): Int = {
      val f = sc.submitJob(sc.parallelize(Seq(0), 1),
        (_: Iterator[Int]) => (), Seq(0), (_: Int, _: Unit) => (), ())
      f.get()
      f.jobIds.head
    }
    def jobsOf[T](body: => T): (T, Int) = {
      val before = marker()
      val result = body
      (result, marker() - before - 1)
    }
    // an input that is already a checkpoint skips the input pin, so the
    // sorted checkpoint below is all globalRowNumber runs before ranking
    val pinned = df.localCheckpoint(true)
    val (_, sortedOnly) = jobsOf {
      pinned.repartitionByRange(order: _*)
        .sortWithinPartitions(order: _*)
        .select(col("*"),
          spark_partition_id().as("__pid"),
          monotonically_increasing_id().as("__mid"))
        .localCheckpoint(true)
    }
    val (ranked, ranking) = jobsOf(Ranking.globalRowNumber(pinned, order, "rn"))
    assert(ranking == sortedOnly + 1,
      s"globalRowNumber ran $ranking jobs, the sorted checkpoint alone $sortedOnly")
    // and reading the ranks is one narrow pass over the checkpoint
    assert(jobsOf(ranked.collect())._2 == 1)
  }

  test("topK matches the window spelling's top slice, ranks 1..k") {
    val expected = df.withColumn("rn",
      row_number().over(Window.orderBy(order: _*)))
      .filter(col("rn") <= 17)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    val got = Ranking.topK(df, 17, order, "rn")
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    assert(got == expected)
  }

  test("topK plans as TakeOrderedAndProject, no global sort exchange") {
    val p = Ranking.topK(df, 17, order, "rn")
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("topK with k larger than the frame ranks every row") {
    val small = df.limit(3)
    val got = Ranking.topK(small, 100, order, "rn").collect()
    assert(got.length == 3)
    assert(got.map(_.getInt(2)).sorted.toSeq == Seq(1, 2, 3))
  }
}
