package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {

  test("union-find labels every node with its component minimum") {
    val labels = Checks.components(Seq(5L -> 3L, 3L -> 9L, 20L -> 21L, 7L -> 7L))
    assert(labels == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L, 7L -> 7L))
  }

  test("a chain is one component whatever the edge order") {
    val chain = (0L until 50L).map(i => (i, i + 1)).reverse
    assert(Checks.components(chain).values.toSet == Set(0L))
  }

  test("digests ignore row order but see duplicates and changed values") {
    val rows = Seq(InternalRow(1L, 1L, true), InternalRow(2L, 1L, false), InternalRow(3L, 3L, true))
    val d = Digest.of(Checks.ClusterSchema, rows)
    assert(Digest.of(Checks.ClusterSchema, rows.reverse) == d)
    assert(d.rows == 3)
    assert(Digest.of(Checks.ClusterSchema, rows :+ rows.head) != d)
    assert(Digest.of(Checks.ClusterSchema, rows.updated(1, InternalRow(2L, 2L, false))) != d)
  }

  test("a corrupted result fails its check; a matching one passes") {
    val labels = Checks.components(Seq(1L -> 2L, 2L -> 3L))
    val good = Checks.clusterDigest(labels)
    val corrupted = Checks.clusterDigest(labels.updated(3L, 3L))
    assert(Checks.verdict(Right(good), Some(good)).isEmpty)
    assert(Checks.verdict(Right(corrupted), Some(good)).exists(_.contains("!= reference")))
    assert(Checks.verdict(Right(good), None).isDefined)
    assert(Checks.verdict(Left("boom"), Some(good)).contains("boom"))
  }

  test("a call past its deadline is cancelled and reported as failed") {
    @volatile var cancelled = false
    val t0 = System.nanoTime()
    val res = Checks.withDeadline(0.3, graceS = 5)(() => cancelled = true) {
      Thread.sleep(60000); 1
    }
    assert(res.left.exists(_.contains("deadline")))
    assert(cancelled)
    assert((System.nanoTime() - t0) / 1e9 < 10)
  }

  test("a call that throws is reported with its error") {
    val res = Checks.withDeadline(5)(() => ()) { throw new IllegalStateException("bad input") }
    assert(res == Left("IllegalStateException: bad input"))
  }
}
