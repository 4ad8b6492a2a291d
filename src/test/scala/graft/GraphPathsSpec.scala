package graft

import graft.operators.GraphOps

/** Unit contracts for the path primitives added in round 7 session 4:
  * multi-source BFS hop distances and bounded-hop weighted shortest
  * paths — pinned on a hand-checkable fixture graph.
  */
class GraphPathsSpec extends SparkSpec {
  import spark.implicits._

  //   1 - 2 - 3 - 4      (chain)
  //   1 - 5              (short spur)
  //   6 - 7              (separate component, unseeded side)
  private def edges = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (1L, 5L), (6L, 7L)
  ).toDF("a", "b")

  test("bfsDistances: layered min-hop distances from a multi-source seed set") {
    val seeds = Seq(1L, 6L).toDF("id")
    val got = GraphOps.bfsDistances(edges, seeds, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 1L, 6L -> 0L, 7L -> 1L))
  }

  test("bfsDistances: min over multiple seeds wins and unreachable nodes are absent") {
    val seeds = Seq(4L, 5L).toDF("id")
    val got = GraphOps.bfsDistances(edges, seeds, "a", "b")
      .as[(Long, Long)].collect().toMap
    // node 2 is 2 hops from 5 (5-1-2) and 2 hops from 4 (4-3-2); node 1 is 1 from 5
    assert(got == Map(4L -> 0L, 5L -> 0L, 3L -> 1L, 1L -> 1L, 2L -> 2L))
    assert(!got.contains(6L) && !got.contains(7L))
  }

  test("boundedShortestPaths: cheaper longer path beats a direct edge, hop bound respected") {
    //  1 -10- 3,  1 -1- 2 -1- 3 : cost(3) = 2 via two hops, not 10
    //  3 -1- 4 -1- 5 : cost(5) = 4 needs 4 hops
    val we = Seq(
      (1L, 3L, 10L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 5L, 1L)
    ).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("id")
    val got4 = GraphOps.boundedShortestPaths(we, seeds, "src", "dst", "w", maxHops = 4)
      .as[(Long, Long)].collect().toMap
    assert(got4 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    // with only 1 hop allowed the direct expensive edge is the best route to 3
    val got1 = GraphOps.boundedShortestPaths(we, seeds, "src", "dst", "w", maxHops = 1)
      .as[(Long, Long)].collect().toMap
    assert(got1 == Map(1L -> 0L, 2L -> 1L, 3L -> 10L))
  }

  test("boundedShortestPaths: parallel edges collapse to their min weight") {
    val we = Seq((1L, 2L, 7L), (1L, 2L, 3L), (2L, 1L, 5L)).toDF("src", "dst", "w")
    val got = GraphOps.boundedShortestPaths(we, Seq(1L).toDF("id"), "src", "dst", "w", maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 3L))
  }

  test("louvainSweep: a tied gain moves to the smaller candidate id, including id 0") {
    // star 0 - 1 - 2, unit weights: m = 2, k = (1, 2, 1). Node 1 gains
    // 2m·1 − 2·1 = 2 toward BOTH leaves, so the tie-break decides; the
    // leaves each gain 2m·1 − 1·2 = 2 toward node 1.
    val got = GraphOps.louvainSweep(Seq((0L, 1L, 1L), (1L, 2L, 1L)).toDF("a", "b", "w"))
      .select("node", "community", "best_gain_num").as[(Long, Long, Long)].collect()
      .map { case (n, c, g) => n -> (c, g) }.toMap
    assert(got == Map(0L -> (1L, 2L), 1L -> (0L, 2L), 2L -> (1L, 2L)))
  }
}
