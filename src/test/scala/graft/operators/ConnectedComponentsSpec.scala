package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The round-regime decision of [[ConnectedComponents.byMinLabel]], as a
  * pure function of the measured checkpoint sizes.
  */
class ConnectedComponentsSpec extends AnyFunSuite {

  private val MB = 1L << 20

  private def regime(
      ck: Option[Long],
      labels: Option[Long],
      mode: String = "auto",
      threshold: Long = 10 * MB): Option[Int] =
    ConnectedComponents.broadcastPartitions(
      mode, ck, labels, threshold, advisory = 64 * MB, maxPartitions = 8)

  test("labels measured under the threshold: broadcast, sized from both checkpoints") {
    assert(regime(Some(1000L), Some(500L)) == Some(1))
    // 2 × 100 MB of edges + 1 MB of labels over 64 MB per partition
    assert(regime(Some(100 * MB), Some(MB)) == Some(4))
    // never wider than the shuffle regime
    assert(regime(Some(1000 * MB), Some(MB)) == Some(8))
  }

  test("an unmeasured size takes the shuffle regime") {
    assert(regime(None, Some(500L)) == None)
    assert(regime(Some(1000L), None) == None)
    assert(regime(None, None) == None)
  }

  test("labels over the threshold, broadcasting off, or shuffle mode: shuffle regime") {
    assert(regime(Some(1000L), Some(11 * MB)) == None)
    assert(regime(Some(1000L), Some(500L), threshold = -1L) == None)
    assert(regime(Some(1000L), Some(500L), mode = "shuffle") == None)
    assert(regime(Some(1000L), Some(0L)) == None)
  }
}
