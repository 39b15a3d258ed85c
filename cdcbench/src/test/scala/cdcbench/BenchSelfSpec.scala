package cdcbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic: what it reports is only as good as
  * these pieces.
  */
class BenchSelfSpec extends AnyFunSuite {

  test("latency attribution: first covering commit wins, an event on the frontier is covered") {
    // events with sequence numbers 11..16; commits arrive out of order
    val commits = Seq(
      Latency.Commit(endMs = 300.0, prefix = 16),
      Latency.Commit(endMs = 100.0, prefix = 12), // frontier lands exactly on event 12
      Latency.Commit(endMs = 200.0, prefix = 12), // re-commit of the same frontier
      Latency.Commit(endMs = 250.0, prefix = 14))
    val t = Latency.commitTimes(firstSeq = 11, n = 6, commits)
    assert(t.toSeq == Seq(100.0, 100.0, 250.0, 250.0, 300.0, 300.0))
  }

  test("latency attribution: events past the last frontier stay uncommitted") {
    val t = Latency.commitTimes(firstSeq = 1, n = 4, Seq(Latency.Commit(50.0, 2)))
    assert(t(0) == 50.0 && t(1) == 50.0)
    assert(t(2).isNaN && t(3).isNaN)
    // a frontier behind the first event commits nothing
    assert(Latency.commitTimes(firstSeq = 10, n = 2, Seq(Latency.Commit(5.0, 9))).forall(_.isNaN))
  }

  test("percentiles are nearest-rank") {
    val xs = (1 to 100).map(_.toDouble).toArray
    assert(Latency.percentile(xs, 0.5) == 50.0)
    assert(Latency.percentile(xs, 0.99) == 99.0)
    assert(Latency.percentile(Array(7.0), 0.99) == 7.0)
    assert(Latency.percentile(Array.empty, 0.5).isNaN)
  }

  test("GTID frontier prefix: intervals coalesce, the prefix starts at transaction 1") {
    assert(Latency.gtidPrefix("bench:1-5:6-9:12,other:3", "bench") == 9L)
    assert(Latency.gtidPrefix("\"bench:1-200\"", "bench") == 200L)
    assert(Latency.gtidPrefix("bench:2-9", "bench") == 0L)
    assert(Latency.gtidPrefix("other:1-9", "bench") == 0L)
    assert(Latency.gtidPrefix("", "bench") == 0L)
    assert(Latency.posPrefix("42") == 42L)
    assertThrows[IllegalArgumentException](Latency.gtidPrefix("bench", "bench"))
  }

  test("span self time subtracts the union of children, clipped to the parent") {
    val spans = Seq(
      Span(1, 0, 1, "trigger", 0, 100),
      Span(2, 1, 1, "latestOffset", 0, 10),
      Span(3, 1, 1, "addBatch", 10, 90),
      Span(4, 3, 1, "sink", 20, 80),
      Span(5, 4, 1, "job-1", 30, 50),
      Span(6, 4, 1, "job-2", 40, 60), // overlaps job-1: counted once
      Span(7, 4, 1, "job-3", 75, 95)) // runs past its parent: clipped
    val self = Span.selfTimes(spans)
    assert(self(1) == 10.0) // 100 - (10 + 80)
    assert(self(3) == 20.0) // 80 - 60
    assert(self(4) == 25.0) // 60 - (30 + 5)
    assert(self(5) == 20.0 && self(7) == 20.0)
    assert(Span.unionMs(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (4.0, 4.0))) == 4.0)
  }

  test("oracle LWW: deletes remove a key, a re-insert brings it back, skipped events never apply") {
    //            0    1    2    3    4    5    6
    val key = Array(1L, 2L, 1L, 1L, 2L, 3L, 3L)
    val op = Array('I', 'I', 'U', 'D', 'D', 'I', 'U')
    val skip = Set(6) // e.g. an unparseable payload: dead-lettered, not applied
    val lww = Oracle.lww(key.length, key(_), op(_) == 'D', i => !skip(i))
    assert(lww.toMap == Map(3L -> 5))
    // key 1 re-inserted after its delete
    val key2 = key :+ 1L
    val op2 = op :+ 'I'
    assert(Oracle.lww(key2.length, key2(_), op2(_) == 'D', i => !skip(i)).toMap == Map(1L -> 7, 3L -> 5))
  }

  test("generator: same seed gives the same log; injected faults are recorded") {
    def gen = new Generator(7L, 50, 1.0, 0.05, 0.05)
    val (a, b) = (gen.next(1L, 2000), gen.next(1L, 2000))
    assert(a.pk.sameElements(b.pk) && a.op.sameElements(b.op) && a.value.sameElements(b.value))
    assert(a.kind.count(_ == Events.Unparseable) > 0 && a.kind.count(_ == Events.Unregistered) > 0)
    assert((0 until a.n).filter(a.kind(_) == Events.Unregistered).forall(a.tblName(_) == "t9"))
    assert(a.op.contains('D'.toByte), "the log exercises deletes")
    // an op sequence per key is one a database could produce
    val live = scala.collection.mutable.Map.empty[Long, Boolean]
    for (i <- 0 until a.n if a.kind(i) == Events.Ok) {
      val was = live.getOrElse(a.pk(i), false)
      assert(if (a.op(i) == 'I') !was else was, s"event $i")
      live(a.pk(i)) = a.op(i) != 'D'
    }
  }
}
