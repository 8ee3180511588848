package graft

import graft.operators.{Dedup, Graph, Lineage}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Closed-form tests for the rank-propagation operator. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Graph
      .pageRank(edges.toDF("src", "dst"), "src", "dst", iters)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap

  test("pageRank: a symmetric 2-cycle is a fixed point at rank 1.0") {
    // contribution = 1000000 div 1; new = 150000 + (85 * 1000000) div 100
    assert(ranks(Seq((1L, 2L), (2L, 1L)), 3) == Map(1L -> 1000000L, 2L -> 1000000L))
  }

  test("pageRank: star sink accumulates, leaves get teleport only") {
    // a,b,c -> hub; hub dangles (its mass drops — documented variant).
    // iter1: hub = 150000 + (85 * 3000000) div 100 = 2700000; leaves = 150000.
    // iter2: hub = 150000 + (85 * 450000) div 100 = 532500.
    val r1 = ranks(Seq((1L, 9L), (2L, 9L), (3L, 9L)), 1)
    assert(r1 == Map(1L -> 150000L, 2L -> 150000L, 3L -> 150000L, 9L -> 2700000L))
    val r2 = ranks(Seq((1L, 9L), (2L, 9L), (3L, 9L)), 2)
    assert(r2(9L) == 532500L && r2(1L) == 150000L)
  }

  test("pageRank: out-degree splits contribution with truncating div") {
    // 1 -> {2, 3}: each gets 1000000 div 2 = 500000.
    // iter1: node2 = node3 = 150000 + (85 * 500000) div 100 = 575000.
    val r = ranks(Seq((1L, 2L), (1L, 3L)), 1)
    assert(r(2L) == 575000L && r(3L) == 575000L && r(1L) == 150000L)
  }

  test("pageRank: duplicate edges collapse (edge set, not multiset)") {
    val r = ranks(Seq((1L, 2L), (1L, 2L), (2L, 1L)), 3)
    assert(r == Map(1L -> 1000000L, 2L -> 1000000L))
  }

  test("pageRank: rejects out-of-range iteration counts") {
    intercept[IllegalArgumentException] {
      Graph.pageRank(Seq((1L, 2L)).toDF("src", "dst"), "src", "dst", 0)
    }
  }

  test("triangleCounts: single triangle + pendant; K4 gives C(3,1)=3 per node") {
    val tri = Graph
      .triangleCounts(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst"), "src", "dst")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(tri == Map(1L -> 1L, 2L -> 1L, 3L -> 1L)) // node 4 in no triangle -> absent
    val k4edges = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    val k4 = Graph
      .triangleCounts(k4edges.toDF("src", "dst"), "src", "dst")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(k4 == (1L to 4L).map(_ -> 3L).toMap) // 4 triangles, each node in 3
  }

  test("clusteringCoefficient: closed forms on triangle+pendant") {
    val got = Graph
      .clusteringCoefficient(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst"), "src", "dst")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) == ((2L, 1L, 1000000L))) // deg 2, closed neighborhood
    assert(got(2L) == ((2L, 1L, 1000000L)))
    assert(got(3L) == ((3L, 1L, 333333L))) // 2*1*1e6 div (3*2)
    assert(got(4L) == ((1L, 0L, 0L))) // pendant: degree < 2
  }

  test("labelPropagation: path-graph rounds and star tie-break match hand simulation") {
    def lpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
      Graph
        .labelPropagation(edges.toDF("src", "dst"), "src", "dst", iters)
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
    val path = Seq((1L, 2L), (2L, 3L))
    // round 1: 1<-{2}, 2<-tie{1,3}->min 1, 3<-{2}
    assert(lpa(path, 1) == Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
    // round 2 from that state: 1<-label(2)=1, 2<-{2,2}->2, 3<-1
    assert(lpa(path, 2) == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
    // star: center 0 ties across {1,2,3} -> min 1; leaves adopt 0
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    assert(lpa(star, 1) == Map(0L -> 1L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
  }

  /** Reference triangle counter: O(V³) nested loops over the edge SET —
    * orientation-free ground truth for the degree-ordered plan.
    */
  private def bruteTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.map { case (a, b) => if (a < b) (a, b) else (b, a) }.filter(p => p._1 != p._2).distinct.toSet
    val ns = es.toSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val counts = scala.collection.mutable.Map.empty[Long, Long]
    for {
      a <- ns; b <- ns if a < b && es((a, b))
      c <- ns if b < c && es((b, c)) && es((a, c))
    } Seq(a, b, c).foreach(n => counts(n) = counts.getOrElse(n, 0L) + 1L)
    counts.toMap
  }

  test("triangleCounts: hub-star + ring + chords counts identically under degree-ordered orientation") {
    // hub 100 wired to every ring node (the deg² blow-up case the
    // orientation exists for) + a 12-ring + chords for triangle variety
    val ring = (1L to 12L).map(i => (i, if (i == 12) 1L else i + 1))
    val spokes = (1L to 12L).map(i => (100L, i))
    val chords = Seq((1L, 5L), (2L, 9L), (4L, 11L), (5L, 6L)) // (5,6) duplicates a ring edge
    val edges = ring ++ spokes ++ chords
    val got = Graph
      .triangleCounts(edges.toDF("src", "dst"), "src", "dst")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got == bruteTriangles(edges), s"got=$got expected=${bruteTriangles(edges)}")
  }

  test("pageRank: danglingMass redistributes sink rank to every node") {
    // 1,2,3 -> 9; 9 dangles. N=4; round 1: dang = 1000000, share = 250000.
    // node9 = 150000 + 85*(3000000 + 250000) div 100 = 2912500
    // leaves = 150000 + 85*250000 div 100 = 362500
    val r = Graph
      .pageRank(Seq((1L, 9L), (2L, 9L), (3L, 9L)).toDF("src", "dst"), "src", "dst", 1, danglingMass = true)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(r == Map(1L -> 362500L, 2L -> 362500L, 3L -> 362500L, 9L -> 2912500L), r.toString)
  }

  test("cooccurrenceEdges: pair support over distinct activity buckets") {
    val df = Seq(
      (1L, "A", 1L), (1L, "A", 2L), (1L, "B", 1L),
      (2L, "A", 1L), (2L, "A", 2L), (2L, "B", 1L),
      (3L, "A", 1L),
      (1L, "A", 1L), // duplicate activity row — the distinct() collapses it
    ).toDF("user", "et", "hr")
    def run(minSup: Long) = Graph
      .cooccurrenceEdges(df, "user", Seq("et", "hr"), minSupport = minSup)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(run(2L) == Set((1L, 2L, 3L)))
    assert(run(1L) == Set((1L, 2L, 3L), (1L, 3L, 1L), (2L, 3L, 1L)))
  }

  test("bfsHops: path-graph closed form, hop cap, and disconnected nodes absent") {
    // undirected path 1-2-3-4-5 plus an isolated edge 8-9
    val base = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
    val edges = (base ++ base.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    def run(maxHops: Int): Map[Long, Int] =
      Graph.bfsHops(edges, "src", "dst", seeds, "node", maxHops)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(run(4) === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4))
    assert(run(2) === Map(1L -> 0, 2L -> 1, 3L -> 2)) // cap respected
    // two seeds: distance is the MIN over seeds
    val multi = Graph.bfsHops(edges, "src", "dst", Seq(1L, 5L).toDF("node"), "node", 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(multi === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 1, 5L -> 0))
  }

  test("bfsHops: empty frontier short-circuits (exhausted component)") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val out = Graph.bfsHops(edges, "src", "dst", Seq(1L).toDF("node"), "node", 30)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out === Map(1L -> 0, 2L -> 1))
  }

  test("kCore: K4 with a pendant chain — the chain peels layer by layer, the clique survives") {
    // K4 on {1,2,3,4} plus chain 4-5-6-7. 2-core = K4 only: 7 peels first,
    // then 6, then 5 (three rounds of cascade).
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 7L),
    ).toDF("src", "dst")
    val core2 = Graph.kCore(edges, "src", "dst", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // 4-core of K4 is empty (each node has degree 3)
    assert(Graph.kCore(edges, "src", "dst", k = 4).count() == 0L)
    // k=1 keeps everything (degrees within the full graph)
    assert(Graph.kCore(edges, "src", "dst", k = 1).count() == 7L)
  }

  test("kCore: unconverged maxRounds fails loudly instead of over-reporting the core") {
    // 12-node chain: 2-core is empty but peeling takes 6 rounds from each
    // end; maxRounds=2 must throw, not return a partial peel.
    val chain = (1L to 11L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      Graph.kCore(chain, "src", "dst", k = 2, maxRounds = 2).count()
    }
    assert(e.getMessage.contains("not converged"))
    assert(Graph.kCore(chain, "src", "dst", k = 2, maxRounds = 10).count() == 0L)
  }

  test("degreeAssortativity: a star is exactly -1; a regular graph has no defined r") {
    // K1,4: both-direction degree pairs are (4,1)x4 and (1,4)x4 -> r = -1.
    val star = Seq((9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L)).toDF("src", "dst")
    val r = Graph.degreeAssortativity(star, "src", "dst").collect().head
    assert(r.getLong(0) == 4L && math.abs(r.getDouble(1) + 1.0) < 1e-12)
    // Triangle: every degree 2 -> zero variance -> NULL, never 0/0.
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val t = Graph.degreeAssortativity(tri, "src", "dst").collect().head
    assert(t.getLong(0) == 3L && t.isNullAt(1))
  }

  test("harmonicCentrality: path-graph closed form, multi-landmark sums, hop cutoff") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val und  = path.union(path.select($"dst".as("src"), $"src".as("dst")))
    val one = Graph.harmonicCentrality(und, "src", "dst", Seq(1L).toDF("lm"), "lm", maxHops = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // d(2)=1, d(3)=2, d(4)=3; node 5 is beyond the hop budget; the landmark
    // itself (d=0) is excluded.
    assert(one == Map(2L -> (1L, 1000000L), 3L -> (1L, 500000L), 4L -> (1L, 333333L)))
    val two = Graph.harmonicCentrality(und, "src", "dst", Seq(1L, 5L).toDF("lm"), "lm", maxHops = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // node 2: 1/1 from lm1 + 1/3 from lm5; node 3: 1/2 from both.
    assert(two(2L) == (2L, 1333333L) && two(3L) == (2L, 1000000L) && two(4L) == (2L, 1333333L))
    // the landmarks are 4 hops apart: neither reaches the other inside the cap.
    assert(!two.contains(1L) && !two.contains(5L))
  }

  test("pageRankWeighted: uniform weights reduce exactly to pageRank; weight skews the split") {
    val edges = Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L)).toDF("src", "dst", "w")
    val weighted = Graph.pageRank(edges, "src", "dst", iters = 3, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plain = Graph.pageRank(edges.drop("w"), "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(weighted == plain)
    // 1 -> {2 (w=3), 3 (w=1)}: node 2 gets (1e6*3) div 4 = 750000 in round 1.
    val skew = Seq((1L, 2L, 3L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val r = Graph.pageRank(skew, "src", "dst", iters = 1, weightCol = Some("w"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(2L) == 150000L + 85L * 750000L / 100L)
    assert(r(3L) == 150000L + 85L * 250000L / 100L)
  }

  test("Lineage.iterate: stops when done holds or at the cap, and says which") {
    val converged = Lineage.iterate(0, 10)((s, r) => s + r)((s, _) => s >= 6)
    assert(converged == Lineage.Fixpoint(6, 3, converged = true)) // 1 + 2 + 3
    val capped = Lineage.iterate(0, 2)((s, r) => s + r)((s, _) => s >= 6)
    assert(capped == Lineage.Fixpoint(3, 2, converged = false))
    // done sees the round: a check on even rounds only
    var checks = 0
    val even = Lineage.iterate(0, 10)((s, _) => s + 1) { (_, r) => (r % 2 == 0) && { checks += 1; r >= 3 } }
    assert(even == Lineage.Fixpoint(4, 4, converged = true) && checks == 2)
    assert(Lineage.iterate("x", 0)((_, _) => fail("no round runs"))((_, _) => true) == Lineage.Fixpoint("x", 0, converged = false))
  }

  /** Spark jobs that `body` launches, counted by a test-local listener; the
    * listener bus is drained before the listener is added and before the
    * count is read, because job events arrive asynchronously.
    */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      ListenerBusDrain(sc)
      n.get
    } finally sc.removeSparkListener(listener)
  }

  test("fixpoint loops: Spark jobs per call and CC rounds stay pinned") {
    // A guard, not a closed form: the pinned numbers are the jobs each call
    // launches through the collect of its result. A loop rewrite that adds or
    // drops a per-round action (or changes how rounds share a job) moves them.
    val sinks = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 9L), (2L, 9L), (4L, 9L)).toDF("src", "dst")
    val weighted = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 1L, 2L), (3L, 1L, 1L), (3L, 9L, 4L)).toDF("src", "dst", "w")
    val pathBase = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
    val path = (pathBase ++ pathBase.map(_.swap)).toDF("src", "dst")
    val kEdges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 7L),
    ).toDF("src", "dst")
    val chain = (1L to 8L).map(i => (i, i + 1)).toDF("src", "dst")
    var lpRounds, starRounds = -1
    val got = Seq(
      "pageRank" -> jobsOf(Graph.pageRank(sinks, "src", "dst", 3).collect()),
      "pageRank danglingMass" -> jobsOf(Graph.pageRank(sinks, "src", "dst", 3, danglingMass = true).collect()),
      "pageRank weighted" -> jobsOf(Graph.pageRank(weighted, "src", "dst", 3, weightCol = Some("w")).collect()),
      "labelPropagation" -> jobsOf(Graph.labelPropagation(sinks, "src", "dst", 3).collect()),
      "bfsHops" -> jobsOf(Graph.bfsHops(path, "src", "dst", Seq(1L).toDF("node"), "node", 4).collect()),
      "harmonicCentrality" ->
        jobsOf(Graph.harmonicCentrality(path, "src", "dst", Seq(1L, 5L).toDF("lm"), "lm", maxHops = 3).collect()),
      "kCore" -> jobsOf(Graph.kCore(kEdges, "src", "dst", k = 2).collect()),
      "CC label propagation" -> jobsOf {
        val (labels, r) = Dedup.connectedComponentsCounted(chain)
        lpRounds = r
        labels.collect()
      },
      "CC star" -> jobsOf {
        val (labels, r) = Dedup.connectedComponentsStarCounted(chain)
        starRounds = r
        labels.collect()
      },
    )
    assert(
      got == Seq(
        "pageRank" -> 21,
        "pageRank danglingMass" -> 35,
        "pageRank weighted" -> 21,
        "labelPropagation" -> 14,
        "bfsHops" -> 30,
        "harmonicCentrality" -> 25,
        "kCore" -> 23,
        "CC label propagation" -> 56,
        "CC star" -> 42,
      )
    )
    assert(lpRounds == 9 && starRounds == 6, s"lpRounds=$lpRounds starRounds=$starRounds")
  }

  test("pageRank: a node whose out-weights sum to 0 is dangling, never a division by zero") {
    // 1 -> 2 carries w = 0, so node 1 has no positive out-weight: it moves
    // no rank and, under danglingMass, its rank is shared over both nodes.
    val edges = Seq((1L, 2L, 0L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    def run(iters: Int, dangling: Boolean): Map[Long, Long] =
      Graph.pageRank(edges, "src", "dst", iters, weightCol = Some("w"), danglingMass = dangling)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1: node 1 = 150000 + 85 * 1000000 div 100; node 2 gets nothing
    assert(run(1, dangling = false) == Map(1L -> 1000000L, 2L -> 150000L))
    // dang = 1000000, |V| = 2: node 1 = 150000 + 85 * (1000000 + 500000) div 100
    assert(run(1, dangling = true) == Map(1L -> 1425000L, 2L -> 575000L))
    assert(run(3, dangling = false).keySet == Set(1L, 2L))
    assert(run(3, dangling = true).keySet == Set(1L, 2L))
  }
}
