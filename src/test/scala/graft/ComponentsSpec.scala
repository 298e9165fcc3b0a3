package graft

import scala.collection.mutable
import scala.util.Random

import graft.operators.Dedup

/** Connected-components invariants beyond what the oracle's near-dup blobs
  * exercise: chains (multi-round propagation), disjoint components, the
  * round cap, and seeded random pair lists against a union-find reference. */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def components(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(pairs.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a chain collapses to its minimum over multiple rounds") {
    // 9-8, 8-7, ..., 1-0: diameter 9 forces several propagation rounds
    val got = components((1L to 9L).map(i => (i - 1, i)))
    assert(got == (0L to 9L).map(_ -> 0L).toMap)
  }

  test("disjoint components keep distinct minimum labels") {
    val got = components(Seq((5L, 3L), (3L, 9L), (20L, 21L)))
    assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L))
  }

  test("large-star/small-star labels a 1000-node path graph in O(log n) rounds") {
    // min-label propagation needs ~diameter rounds here; the star variant
    // must land the same answer within a logarithmic budget
    val pairs = (1L until 1000L).map(i => (i - 1, i)).toDF("doc_a", "doc_b")
    val (labeled, rounds) = Dedup.starComponents(pairs, maxIterations = 30)
    val got = labeled.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L until 1000L).map(_ -> 0L).toMap)
    assert(rounds <= 15, s"took $rounds rounds on a 1000-node path")
  }

  test("star variant agrees with min-label propagation on a mixed graph") {
    val pairs = Seq((5L, 3L), (3L, 9L), (20L, 21L), (21L, 22L), (22L, 23L),
      (40L, 41L), (41L, 40L), (7L, 9L))
    val viaStar = Dedup.connectedComponentsStar(pairs.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStar == components(pairs))
  }

  test("a chain deeper than the round cap raises instead of returning partial labels") {
    // the cap counts propagation rounds, the build included: a 19-edge
    // chain needs 19 and a 20th that changes nothing
    assert(components((1L to 19L).map(i => (i - 1, i))) == (0L to 19L).map(_ -> 0L).toMap)
    for (n <- Seq(20L, 25L)) {
      val e = intercept[IllegalStateException](components((1L to n).map(i => (i - 1, i))))
      assert(e.getMessage.contains("maxIterations = 20"), e.getMessage)
    }
    val chain = (1L to 25L).map(i => (i - 1, i)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException](Dedup.connectedComponentsStar(chain, maxIterations = 2))
    assert(e.getMessage.contains("maxIterations = 2"), e.getMessage)
  }

  /** Component minimum of every endpoint, by plain union-find. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    // the smaller root wins, so every root is its component's minimum
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  test("randomized pair lists: min-label equals union-find and the star variant") {
    val rng = new Random(20261017L)
    for (trial <- 1 to 6) {
      var id = rng.nextInt(2000) - 1000L
      val pairs = mutable.ArrayBuffer[(Long, Long)]()
      for (_ <- 0 until 1 + rng.nextInt(10)) {
        // ids ascend with gaps, then shuffle, so the minimum sits anywhere
        val ids = rng.shuffle((1 to 1 + rng.nextInt(12)).map { _ => id += 1 + rng.nextInt(4); id })
        if (ids.size == 1) pairs += (ids.head -> ids.head)
        else if (rng.nextBoolean()) pairs ++= ids.sliding(2).map(w => w(0) -> w(1))  // chain
        else pairs ++= (1 until ids.size).map(i => ids(i) -> ids(rng.nextInt(i)))   // random tree
      }
      val noise = Seq.fill(pairs.size / 3 + 1)(pairs(rng.nextInt(pairs.size))).flatMap { p =>
        Seq(p, p.swap, p._1 -> p._1).take(1 + rng.nextInt(3))  // duplicate, reversed, self
      }
      val all = rng.shuffle(pairs ++ noise).toSeq
      val expected = unionFind(all)
      assert(components(all) == expected, s"trial $trial: $all")
      val viaStar = Dedup.connectedComponentsStar(all.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaStar == expected, s"trial $trial (star): $all")
    }
  }

  test("both variants are null-safe on an empty pair list") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(empty).count() == 0)
    assert(Dedup.connectedComponentsStar(empty).count() == 0)
  }
}
