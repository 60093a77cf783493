package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Graph

/** Integer PageRank: stationary distribution on a cycle, hand-computed
  * ranks on a star, and mass conservation bounds.
  */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("a cycle is stationary at the initial rank") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val nodes = Seq(0L, 1L, 2L).toDF("id")
    val out = Graph.pagerankInt(edges, nodes, iters = 4)
      .as[(Long, Long)].collect().toMap
    // outdeg 1 everywhere: share = rank, contrib = rank, and
    // 150000 + (17 * 1000000) div 20 = 1000000 — a fixed point.
    assert(out == Map(0L -> 1000000L, 1L -> 1000000L, 2L -> 1000000L))
  }

  test("star graph matches hand-computed two-iteration ranks") {
    val edges = Seq((1L, 0L), (2L, 0L)).toDF("src", "dst")
    val nodes = Seq(0L, 1L, 2L).toDF("id")
    val out = Graph.pagerankInt(edges, nodes, iters = 2)
      .as[(Long, Long)].collect().toMap
    // iter1: a = 150000 + (17*2000000) div 20 = 1850000; b = c = 150000.
    // iter2: a = 150000 + (17*300000) div 20 = 405000.
    assert(out == Map(0L -> 405000L, 1L -> 150000L, 2L -> 150000L))
  }

  test("integer ranks track a double-precision reference within quantization") {
    // Reference: the same damped propagation in doubles on the driver.
    val edges = (0L until 40L).flatMap(i =>
      Seq((i, (i * 7 + 1) % 40), (i, (i * 13 + 3) % 40)))
      .filter { case (a, b) => a != b }
    val out = Graph.pagerankInt(edges.toDF("src", "dst"),
        (0L until 40L).toDF("id"), iters = 3)
      .as[(Long, Long)].collect().toMap
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size).toMap
    var r = (0L until 40L).map(_ -> 1.0).toMap
    for (_ <- 1 to 3) {
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / outdeg(s) }.sum).toMap
      r = r.keys.map(k => k -> (0.15 + 0.85 * contrib.getOrElse(k, 0.0)))
        .toMap
    }
    // Each floor division loses < 1 micro-unit; 3 iterations compound to
    // well under 100 micro-units on a 1e6 scale (0.01%).
    for (k <- r.keys)
      assert(math.abs(out(k) - r(k) * 1e6) < 100.0,
        s"node $k: int ${out(k)} vs ref ${r(k) * 1e6}")
  }

  test("weighted pagerank: uniform weights equal the unweighted ranks") {
    val edges = Seq[(Long, Long)]((1, 2), (2, 3), (3, 1), (1, 3))
      .toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val unweighted = Graph.pagerankInt(edges, nodes, iters = 3)
      .as[(Long, Long)].collect().toMap
    val weighted = Graph.pagerankWeightedInt(
        edges.withColumn("w", org.apache.spark.sql.functions.lit(5L)),
        nodes, iters = 3)
      .as[(Long, Long)].collect().toMap
    // For integer w ≥ 1, (r·w) div (k·w) = r div k exactly.
    assert(weighted == unweighted)
  }

  test("personalized pagerank: chain matches hand-computed seed flow") {
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val nodes = Seq(0L, 1L, 2L).toDF("id")
    val seeds = Seq(0L).toDF("id")
    val out = Graph.personalizedPagerankInt(edges, nodes, seeds, iters = 2)
      .as[(Long, Long)].collect().toMap
    // r0 = (1e6, 0, 0); only node 0 gets the 150000 restart.
    // iter1: n0 = 150000; n1 = (17·1000000) div 20 = 850000; n2 = 0.
    // iter2: n0 = 150000; n1 = (17·150000) div 20 = 127500;
    //        n2 = (17·850000) div 20 = 722500.
    assert(out == Map(0L -> 150000L, 1L -> 127500L, 2L -> 722500L))
  }

  test("personalized pagerank: seeding every node recovers global pagerank") {
    val edges = (0L until 30L).flatMap(i =>
      Seq((i, (i * 7 + 1) % 30), (i, (i * 13 + 3) % 30)))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val nodes = (0L until 30L).toDF("id")
    val ppr = Graph.personalizedPagerankInt(edges, nodes, nodes, iters = 3)
      .as[(Long, Long)].collect().toMap
    val pr = Graph.pagerankInt(edges, nodes, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(ppr == pr)
  }

  test("personalized pagerank: mass never reaches an upstream-only node") {
    // 2 → 0 → 1 with seed {0}: node 2 has no in-edges from the seed's
    // forward cone, so its rank stays exactly 0 every round.
    val edges = Seq((2L, 0L), (0L, 1L)).toDF("src", "dst")
    val nodes = Seq(0L, 1L, 2L).toDF("id")
    val seeds = Seq(0L).toDF("id")
    val out = Graph.personalizedPagerankInt(edges, nodes, seeds, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(out(2L) == 0L)
    assert(out(0L) == 150000L)
    assert(out(1L) > 0L)
  }

  test("weighted pagerank: heavier in-edges earn strictly more rank") {
    // 1 →(w9)→ 2 and 1 →(w1)→ 3: node 2 must outrank node 3.
    val edges = Seq((1L, 2L, 9L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val r = Graph.pagerankWeightedInt(edges, nodes, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(r(2L) > r(3L))
  }

  test("label propagation: two cliques with one bridge stay separate") {
    // K4 on {1..4} and K4 on {11..14}, bridged 4—11: majority votes
    // keep each clique on its own min label; the single bridge cannot
    // outvote three intra-clique neighbors.
    def k4(base: Long) = for {
      i <- 0 until 4; j <- i + 1 until 4
    } yield (base + i, base + j)
    val edges = (k4(1L) ++ k4(11L) :+ ((4L, 11L))).toDF("a", "b")
    val out = Graph.labelPropagation(edges, "a", "b", rounds = 4)
      .as[(Long, Long)].collect().toMap
    val c1 = (1L to 4L).map(out).toSet
    val c2 = (11L to 14L).map(out).toSet
    assert(c1.size === 1 && c2.size === 1 && c1 != c2)
  }

  test("label propagation is deterministic across runs") {
    val rnd = new scala.util.Random(97)
    val edges = Seq.fill(200)(
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)).toDF("a", "b")
    val one = Graph.labelPropagation(edges, "a", "b", rounds = 3)
      .as[(Long, Long)].collect().toSet
    val two = Graph.labelPropagation(edges, "a", "b", rounds = 3)
      .as[(Long, Long)].collect().toSet
    assert(one === two)
  }

  test("connected components label every node with its component minimum") {
    // Two components: a 5-chain {0..4} and a triangle {10,11,12}.
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("a", "b")
    val out = Graph.connectedComponents(edges, "a", "b", rounds = 6)
      .as[(Long, Long, Boolean)].collect()
    assert(out.forall(_._3), "6 rounds cover diameter-4 — must converge")
    val comp = out.map(r => r._1 -> r._2).toMap
    assert((0L to 4L).forall(comp(_) == 0L))
    assert((10L to 12L).forall(comp(_) == 10L))
  }

  test("connected components report non-convergence when rounds under-run") {
    // A 9-chain has diameter 8: 2 rounds cannot carry node 0's label to
    // the far end, and the data-derived flag must say so.
    val edges = (0L until 8L).map(i => (i, i + 1)).toDF("a", "b")
    val out = Graph.connectedComponents(edges, "a", "b", rounds = 2)
      .as[(Long, Long, Boolean)].collect()
    assert(out.forall(!_._3))
    // Each round propagates the minimum at least one hop.
    val comp = out.map(r => r._1 -> r._2).toMap
    assert(comp(2L) == 0L && comp(8L) > 0L)
  }

  test("connected components: converged reflects the last round's labels") {
    // Chain 0–1–2: round 2 still changes node 2's label but reaches the
    // fixed point, so the budget runs out converged; one round does not.
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("a", "b")
    val two = Graph.connectedComponents(edges, "a", "b", rounds = 2)
      .as[(Long, Long, Boolean)].collect()
    assert(two.map(_._1).sorted.toSeq == Seq(0L, 1L, 2L))
    assert(two.forall(r => r._2 == 0L && r._3))
    val one = Graph.connectedComponents(edges, "a", "b", rounds = 1)
      .as[(Long, Long, Boolean)].collect()
    assert(one.forall(!_._3))
    val none = Graph.connectedComponents(edges.limit(0), "a", "b")
    assert(none.isEmpty)
  }

  test("total mass never exceeds the initial mass") {
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (3L, 0L))
      .toDF("src", "dst")
    val nodes = Seq(0L, 1L, 2L, 3L).toDF("id")
    val total = Graph.pagerankInt(edges, nodes, iters = 3)
      .as[(Long, Long)].collect().map(_._2).sum
    // Damping leaks (1-d) of propagated mass per round and node 2 is a
    // dangling sink; floor divisions only lose further mass.
    assert(total <= 4L * 1000000L && total > 0L)
  }
}
