package graft

import graft.model.LogPosition.GtidSet
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** GTID-set algebra laws over random interval sets. */
class GtidPropertySpec extends AnyFunSuite {

  private val uuids = Seq("U1", "U2", "U3")

  private val genSet: Gen[GtidSet] = for {
    n <- Gen.choose(0, 4)
    parts <- Gen.listOfN(n, for {
      u <- Gen.oneOf(uuids)
      a <- Gen.choose(1L, 50L)
      len <- Gen.choose(0L, 20L)
    } yield (u, a, a + len))
  } yield parts.foldLeft(GtidSet.empty) { case (acc, (u, a, b)) =>
    acc.union(GtidSet(Map(u -> Vector((a, b)))))
  }

  private def samples(n: Int): Seq[(GtidSet, GtidSet)] =
    (0 until n).flatMap { i =>
      for {
        a <- genSet(Gen.Parameters.default, Seed(100L + i))
        b <- genSet(Gen.Parameters.default, Seed(500L + i))
      } yield (a, b)
    }

  test("union is commutative and associative; parse/render round-trips") {
    for ((a, b) <- samples(30)) {
      assert(a.union(b).toString == b.union(a).toString)
      assert(GtidSet.parse(a.union(b).toString).toString == a.union(b).toString)
    }
  }

  test("a ⊆ a∪b and (a∪b) − b ⊆ a") {
    for ((a, b) <- samples(30)) {
      val u = a.union(b)
      assert(a.isSubsetOf(u) && b.isSubsetOf(u))
      assert(u.subtract(b).isSubsetOf(a))
    }
  }

  test("subtract then union restores the superset (catchup-gap law)") {
    for ((a, b) <- samples(30)) {
      val u = a.union(b)
      val gap = u.subtract(b)
      assert(gap.union(b).compare(u) == Some(0),
        s"a=$a b=$b gap=$gap")
      // and the gap is disjoint from what was applied
      assert(gap.subtract(b).compare(gap) == Some(0))
    }
  }

  test("txn count is |a| + |b| - |a∩b| (inclusion-exclusion via subtract)") {
    for ((a, b) <- samples(30)) {
      val inter = a.subtract(a.subtract(b)) // a ∩ b
      assert(a.union(b).txnCount == a.txnCount + b.txnCount - inter.txnCount,
        s"a=$a b=$b inter=$inter")
    }
  }

  test("add ≡ union with the one-txn set, in order, out of order and on a new uuid") {
    for (i <- 0 until 30) {
      val rnd = new scala.util.Random(900L + i)
      val base = genSet(Gen.Parameters.default, Seed(100L + i)).get
      // mostly runs that extend the last interval, with jumps, repeats and stragglers
      val adds = (0 until 60).scanLeft(("U1", 1L)) { case ((u, t), _) =>
        rnd.nextInt(8) match {
          case 0 => (uuids(rnd.nextInt(uuids.size)) + (if (rnd.nextBoolean()) "" else "x"), 1L + rnd.nextInt(80))
          case 1 => (u, t + 2 + rnd.nextInt(5))
          case 2 => (u, t)
          case _ => (u, t + 1)
        }
      }
      adds.foldLeft(base) { case (acc, (u, t)) =>
        val got = acc.add(u, t)
        val want = acc.union(GtidSet(Map(u -> Vector((t, t)))))
        assert(got == want && got.toString == want.toString, s"$acc + $u:$t")
        got
      }
    }
  }
}
