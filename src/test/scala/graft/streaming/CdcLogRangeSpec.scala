package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property tests for the offset-range logic — the arithmetic the
  * reference got wrong in its keyset pagination (SURVEY.md §3.3):
  * ranges must partition the offset space exactly (no skip, no
  * overlap), for any bounds and partition count. */
class CdcLogRangeSpec extends AnyFunSuite {

  private def conf(n: Int) = CdcLogConf(
    url = "jdbc:unused", logTable = "t", maxBatchSize = 10,
    truncateOnCommit = false, startingId = -1L, numPartitions = n)

  test("property: splitRange partitions (lo, hi] exactly — disjoint, covering, ordered") {
    val prop = Prop.forAll(
      Gen.chooseNum(-1L, 1000000L),
      Gen.chooseNum(0L, 1000000L),
      Gen.chooseNum(1, 64)) { (lo: Long, span: Long, n: Int) =>
      val hi = lo + span
      val ranges = CdcLogJdbc.splitRange(conf(n), lo, hi)
        .map(_.asInstanceOf[CdcLogRange])
      if (hi <= lo) ranges.isEmpty
      else {
        // ordered, adjacent, covering: first starts at lo, last ends at
        // hi, every boundary meets the next exactly (no skip/overlap)
        ranges.head.lo == lo &&
          ranges.last.hi == hi &&
          ranges.sliding(2).forall {
            case Array(r1, r2) => r1.hi == r2.lo
            case _             => true
          } &&
          ranges.forall(r => r.hi > r.lo) &&
          ranges.length <= n &&
          ranges.map(r => r.hi - r.lo).sum == span
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("splitRange caps partitions at the id span (no empty tasks)") {
    val ranges = CdcLogJdbc.splitRange(conf(32), 0L, 5L)
    assert(ranges.length == 5)
  }
}
