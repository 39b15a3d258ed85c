package graft

import graft.ops.Dedup

/** Property sweep for the star-contraction components' STRUCTURAL
  * fixpoint test (round 9: "no node is both a center and a member"
  * decided on the round output, replacing the confirming round).
  * [[Dedup.connectedComponents]] must produce the same
  * (doc_id, cluster, cluster_size) rows as a sequential union-find over
  * the collected edge list on every graph shape — the deterministic-seed
  * sweeps cover mixtures of chains, cliques, stars, duplicate and
  * reversed edges, graphs denser than anything the LSH pair generator
  * emits, and paths with shuffled labels.
  */
class CcPropertySpec extends SparkSpec {

  import spark.implicits._
  import CcPropertySpec.unionFind

  private def compare(edges: Seq[(Long, Long)], tag: String): Unit = {
    val got = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == unionFind(edges), s"[$tag] star loop vs union-find diverged")
  }

  test("random-graph sweep: star fixpoint equals union-find on 12 seeded graphs") {
    // xorshift-ish deterministic generator; density and node-id spread
    // vary per seed so components range from singleton pairs to one
    // giant blob with internal chains
    (1 to 12).foreach { seed =>
      var x = seed.toLong * 2654435761L + 1
      def next(bound: Int): Long = {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        java.lang.Math.floorMod(x, bound.toLong)
      }
      val nodes = 10 + seed * 7
      val nEdges = 5 + seed * 11
      val edges = (0 until nEdges).map(_ => (next(nodes), next(nodes)))
        .filter { case (a, b) => a != b }
      compare(edges, s"seed=$seed nodes=$nodes edges=${edges.size}")
    }
  }

  test("shuffled-label path sweep: star fixpoint equals union-find on 36 seeded paths") {
    // paths with shuffled labels: the shape of the two-center
    // counterexample (1-4-3-5-2), where a round output can put a member
    // under two centers while no node is both center and member — the
    // case condition (ii) of the fixpoint test exists for
    (1 to 12).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      Seq(5, 7, 11).foreach { n =>
        val labels = rnd.shuffle((1L to n.toLong).toVector)
        val edges = labels.zip(labels.tail).map { case (a, b) =>
          if (rnd.nextBoolean()) (a, b) else (b, a) }
        compare(edges, s"seed=$seed path=${labels.mkString("-")}")
      }
    }
  }

  test("no-confirming-round contract: a star input converges in exactly 1 round") {
    // the round maps a min-centered star set to itself and the
    // structural check detects it immediately — the rounds+1 → rounds
    // device this spec pins against regression
    val pairs = ((1L to 8L).map(i => (0L, i)) ++ Seq((20L, 21L), (20L, 22L)))
      .toDF("doc_a", "doc_b")
    val (out, rounds) = Dedup.connectedComponentsWithRounds(pairs)
    assert(rounds == 1, s"star-set input should converge in 1 round, took $rounds")
    assert(out.collect().length == 12)
  }

  test("two-center counterexample: path 1-4-3-5-2 must not converge early") {
    // round 1 of this path yields {(1,3),(1,4),(2,3),(2,5)} — disjoint
    // a/b sets (passes the a-as-b test alone) but node 3 sits under TWO
    // centers; the fixpoint test must also require each b exactly once,
    // else the loop splits one component of 5 into two clusters of 3
    val pairs = Seq((1L, 4L), (3L, 4L), (3L, 5L), (2L, 5L)).toDF("doc_a", "doc_b")
    val (out, rounds) = Dedup.connectedComponentsWithRounds(pairs)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == (1L to 5L).map(i => (i, 1L, 5L)),
      s"expected one component of 5 centered at 1, got $rows (rounds=$rounds)")
    compare(Seq((1L, 4L), (3L, 4L), (3L, 5L), (2L, 5L)), "path-1-4-3-5-2")
  }

  test("adversarial shapes: chains, bridged cliques, dup/reversed edges, empty") {
    // a long chain with its min at the far end (the deep case the
    // signature-gated fixpoint check serves), and the star shapes that
    // must converge at once
    compare((0L until 40L).map(i => (i + 1, i)), "chain-41-reversed")
    // two cliques bridged by one edge + duplicate and reversed copies
    val k1 = for (a <- 0L until 6L; b <- 0L until 6L if a < b) yield (a, b)
    val k2 = for (a <- 100L until 106L; b <- 100L until 106L if a < b) yield (b, a)
    compare(k1 ++ k2 ++ Seq((5L, 100L), (100L, 5L), (5L, 100L)), "bridged-cliques")
    // hub star with reversed spokes (already a fixpoint shape: 1 round)
    compare((1L to 12L).map(i => (i, 0L)), "star-reversed-spokes")
    compare(Seq.empty[(Long, Long)], "empty")
    compare(Seq((7L, 3L)), "single-edge")
  }
}

object CcPropertySpec {
  /** Reference components: sequential union-find over the edge list, the
    * root of each set kept at its minimum. Self-loops carry no edge, so a
    * node seen only in one is absent, as in the Spark loop's output.
    * Returns (doc_id, cluster = min member, cluster_size) sorted by doc_id.
    */
  def unionFind(edges: Seq[(Long, Long)]): Seq[(Long, Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.filter { case (a, b) => a != b }.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val root = parent.keys.map(x => x -> find(x)).toMap
    val size = root.values.groupBy(identity).map { case (r, m) => r -> m.size.toLong }
    root.toSeq.sorted.map { case (x, r) => (x, r, size(r)) }
  }
}
