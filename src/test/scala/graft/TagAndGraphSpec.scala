package graft

import org.apache.spark.sql.functions._
import graft.tags.TagOps
import graft.graph.Components
import graft.model.Node

class TagAndGraphSpec extends SparkSpec {

  private def nodesDF = {
    import spark.implicits._
    Seq(
      Node(1, "A", tags = Seq("x", "y"), linkedNodes = Seq(2)),
      Node(2, "B", tags = Seq("y", "z"), linkedNodes = Seq(1, 3)),
      Node(3, "C", tags = Seq("z"), linkedNodes = Seq(2)),
      Node(4, "D", tags = Seq("w"), linkedNodes = Seq()),
      Node(5, "E", tags = Seq(), linkedNodes = Seq()))
      .toDS().toDF().select(Node.schema.fieldNames.map(col): _*)
  }

  test("T3: exact tag membership") {
    assert(TagOps.findNodesByTag(nodesDF, "y").collect().map(_.getLong(0)).sorted.toSeq == Seq(1, 2))
    assert(TagOps.findNodesByTag(nodesDF, "nope").count() == 0)
  }

  test("T4: shared-tag semi-join excludes self") {
    assert(TagOps.findNodesWithSharedTags(nodesDF, 2).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1, 3))
  }

  test("T5/T6: jaccard values and one-vs-all threshold (inclusive)") {
    // tags(1)={x,y}, tags(2)={y,z}: |∩|=1, |∪|=3 -> 1/3
    val j = nodesDF.filter(col("id") === 1)
      .crossJoin(nodesDF.filter(col("id") === 2).select(col("tags").as("t2")))
      .select(TagOps.jaccardTags(col("tags"), col("t2")).as("j")).collect()(0).getDouble(0)
    assert(math.abs(j - 1.0 / 3.0) < 1e-12)
    val hits = TagOps.findNodesWithJaccardSimilarity(nodesDF, 1, 1.0 / 3.0)
      .collect().map(_.getLong(0)).toSeq
    assert(hits == Seq(2), "threshold is inclusive (GraphDB.cpp:597)")
  }

  test("T5: empty side yields 0") {
    val j = nodesDF.filter(col("id") === 5)
      .crossJoin(nodesDF.filter(col("id") === 1).select(col("tags").as("t2")))
      .select(TagOps.jaccardTags(col("tags"), col("t2")).as("j")).collect()(0).getDouble(0)
    assert(j == 0.0)
  }

  test("T7: tag normalization parity") {
    import spark.implicits._
    val in = Seq("  Machine   Learning  ", "ABC", "a-", "---", "ok", "Графы Test")
      .toDF("t")
    val out = in.select(TagOps.normalizeTag(col("t"))).collect().map(_.getString(0)).toSeq
    assert(out == Seq("machine-learning", "abc", "a", "", "ok", "Графы-test"),
      "ASCII-only lowercase (C ::tolower leaves non-ASCII bytes), ws->-, trailing - trimmed")
  }

  test("T8: co-tag edges") {
    assert(TagOps.coTagEdges(nodesDF).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq == Seq((1L, 2L), (2L, 3L)))
  }

  test("E8: bidirectional link upsert is idempotent") {
    val once = TagOps.addBidirectionalLink(nodesDF, 1, 4)
    val twice = TagOps.addBidirectionalLink(once, 1, 4)
    def links(df: org.apache.spark.sql.DataFrame, id: Long) =
      df.filter(col("id") === id).select("linkedNodes").collect()(0).getSeq[Long](0).sorted
    assert(links(twice, 1) == Seq(2L, 4L) && links(twice, 4) == Seq(1L))
  }

  test("merge vs replace link semantics (V6 vs V7)") {
    import spark.implicits._
    val edges = Seq((3L, 4L)).toDF("id_a", "id_b")
    def links(df: org.apache.spark.sql.DataFrame, id: Long) =
      df.filter(col("id") === id).select("linkedNodes").collect()(0).getSeq[Long](0).sorted
    val merged = TagOps.mergeLinks(nodesDF, edges)
    assert(links(merged, 3) == Seq(2L, 4L), "merge keeps old links (EmbeddingService.cpp:117-134)")
    val replaced = TagOps.replaceLinks(nodesDF, edges)
    assert(links(replaced, 3) == Seq(4L), "replace overwrites (EmbeddingService.cpp:183)")
    assert(links(replaced, 2) == Seq(1L, 3L), "untouched nodes keep links")
  }

  test("connected components: min-id labels, singletons included") {
    import spark.implicits._
    val verts = (1L to 7L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val fast = Components.connectedComponentsFast(verts, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val expected = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L), (6L, 5L), (7L, 7L))
    assert(fast == expected, "min-id labels, singletons included")
  }

  test("connected components: hitting maxIter unconverged throws") {
    import spark.implicits._
    // path 4-3-2-1-5-6: the fixed point needs a no-change round, so one
    // round can never prove it
    val verts = (1L to 6L).toDF("id")
    val edges = Seq((4L, 3L), (3L, 2L), (2L, 1L), (1L, 5L), (5L, 6L))
      .toDF("id_a", "id_b")
    val err = intercept[IllegalStateException](
      Components.connectedComponentsFast(verts, edges, maxIter = 1))
    assert(err.getMessage.contains("1 rounds"), err.getMessage)
    val labels = Components.connectedComponentsFast(verts, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(labels == (1L to 6L).map(id => (id, 1L)), "one component, min id 1")
  }

  test("componentSizeHistogram: family sizes roll up with member totals") {
    import spark.implicits._
    val verts = (1L to 7L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val cc = Components.connectedComponentsFast(verts, edges)
      .toDF("id", "component")
    val out = Components.componentSizeHistogram(cc)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    // components: {1,2,3}, {5,6}, {4}, {7} → sizes 3,2,1,1
    assert(out == Seq((1L, 2L, 2L), (2L, 1L, 2L), (3L, 1L, 3L)),
      s"unexpected histogram: $out")
  }

  test("V8 cluster summary: sharedTags rule and size-desc id reassignment") {
    import spark.implicits._
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L))
      .toDF("id", "component")
    val out = Components.clusterSummary(nodesDF, comps)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        r.getSeq[Long](2), r.getSeq[String](3))).toSeq
    assert(out(0) == ((1, 3L, Seq(1L, 2L, 3L), Seq("y", "z"))),
      "largest cluster first; sharedTags = tags in >=2 members")
    assert(out(1)._2 == 1L && out(1)._3 == Seq(4L) && out(1)._4 == Seq("w"),
      "singleton cluster keeps all its tags (TagService.cpp:225-230)")
    assert(out(2) == ((3, 1L, Seq(5L), Seq())))
  }

  test("PageRank: fixed-point iterations match the hand computation") {
    import spark.implicits._
    // 2-cycle {1<->2} plus dangling vertex 3
    val vertices = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val out = graft.graph.PageRank.run(vertices, edges, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // iter1: dd = 1e12/3 = 333333333333
    //   r(1) = r(2) = 15e10 + (85*(1e12 + 333333333333)) div 100 = 1283333333333
    //   r(3) = 15e10 + (85*333333333333) div 100 = 433333333333
    // iter2: dd = 433333333333/3 = 144444444444
    //   r(1) = r(2) = 15e10 + (85*(1283333333333 + 144444444444)) div 100
    //        = 1363611111110
    //   r(3) = 15e10 + (85*144444444444) div 100 = 272777777777
    assert(out.toSeq == Seq((1L, 1363611111110L), (2L, 1363611111110L),
      (3L, 272777777777L)))
    // determinism under repartition (the point of fixed-point arithmetic)
    val again = graft.graph.PageRank.run(vertices.repartition(3),
        edges.repartition(2), iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(out.toSeq == again.toSeq)
    // empty graph: empty result, not a divide-by-zero
    assert(graft.graph.PageRank.run(vertices.filter(col("id") < 0),
      edges.filter(col("src") < 0), iters = 1).count() == 0)
  }

  test("PageRank: a throwing loop releases every RDD it persisted") {
    import spark.implicits._
    val sc = spark.sparkContext
    val firstId = sc.emptyRDD[Int].id
    val vertices = Seq(1L, 2L).toDF("id")
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    // 100·n·scale overflows for n = 2: the require trips after the
    // edges and the vertex base are persisted
    intercept[IllegalArgumentException](
      graft.graph.PageRank.run(vertices, edges, iters = 2,
        scale = Long.MaxValue / 100))
    val leaked = sc.getPersistentRDDs.keys.filter(_ > firstId)
    assert(leaked.isEmpty, s"RDDs still persisted after the throw: $leaked")
  }

  test("personalized PageRank: teleport mass returns to the source only") {
    import spark.implicits._
    val vertices = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    val out = graft.graph.PageRank.runPersonalized(vertices, edges,
        source = 1L, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // init: all mass (3e12) on source. base(1) = 15*1e12*3/100 = 45e10.
    // iter1: r=(45e10, 255e10, 0); iter2: r(1)=45e10+85*255e10/100,
    // r(2)=85*45e10/100, r(3) stays 0 (never reached, no teleport to it)
    assert(out.toSeq == Seq((1L, 2617500000000L), (2L, 382500000000L),
      (3L, 0L)))
  }

  test("bfsHops: bounded frontier distances; unreached stay NULL") {
    import spark.implicits._
    val vertices = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val sym = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val out = graft.graph.Traversals.bfsHops(vertices, sym, source = 1L,
        maxHops = 2)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, Some(0L)), (2L, Some(1L)), (3L, Some(2L)),
      (4L, None), (5L, None)), "4 is 3 hops away (beyond bound), 5 isolated")
  }

  test("bfsHops: distances propagate THROUGH edge endpoints outside the " +
       "vertex table, but only vertices appear in the output") {
    import spark.implicits._
    // 99 bridges 1→3 but is not a vertex — the recursive-CTE oracle
    // walks ALL edges and only joins the vertex table at the end, so the
    // operator must too (the r4 full-vertex-join shape could not reach 3)
    val vertices = Seq(1L, 2L, 3L).toDF("id")
    val pairs = Seq((1L, 99L), (99L, 3L))
    val sym = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val out = graft.graph.Traversals.bfsHops(vertices, sym, source = 1L,
        maxHops = 3)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, Some(0L)), (2L, None), (3L, Some(2L))),
      "3 reached via the non-vertex bridge; 99 absent from output")
  }

  test("bfsHops: a source absent from the vertex table still propagates " +
       "(oracle seeds the source unconditionally)") {
    import spark.implicits._
    val vertices = Seq(2L, 3L).toDF("id")
    val pairs = Seq((150L, 2L), (2L, 3L))
    val sym = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val out = graft.graph.Traversals.bfsHops(vertices, sym, source = 150L,
        maxHops = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(out.toSeq == Seq((2L, 1L), (3L, 2L)),
      "distances flow from the non-vertex source; source itself not in output")
  }

  test("bfsHops: early drain — a diameter-1 graph with a huge hop bound " +
       "terminates and distances are exact") {
    import spark.implicits._
    val vertices = Seq(1L, 2L).toDF("id")
    val sym = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val out = graft.graph.Traversals.bfsHops(vertices, sym, source = 1L,
        maxHops = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 0L), (2L, 1L)))
  }

  test("triangleCounts: each triangle counted once per member") {
    import spark.implicits._
    val vertices = Seq(1L, 2L, 3L, 4L).toDF("id")
    // one triangle {1,2,3} plus a dangling edge 3-4 (canonical a < b)
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val out = graft.graph.Traversals.triangleCounts(vertices, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 0L)))
  }

  test("clusteringCoefficient: 2*tri/(deg*(deg-1)); deg<2 and isolated -> 0") {
    import spark.implicits._
    val vertices = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    // triangle {1,2,3} + spoke 3-4; vertex 5 isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val out = graft.graph.Traversals.clusteringCoefficient(vertices, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 2L, 1L, 1.0), (2L, 2L, 1L, 1.0),
      (3L, 3L, 1L, 0.333333),  // 2*1/(3*2), rounded 6 dp
      (4L, 1L, 0L, 0.0), (5L, 0L, 0L, 0.0)))
  }

  test("kcorePeel: cascading peel removes the tail; core keeps k-degree") {
    import spark.implicits._
    val vertices = (1L to 6L).toDF("id")
    // triangle {1,2,3} with a path 3-4-5 hanging off; 6 isolated.
    // 2-core peel: r1 drops 5 (deg 1) and 6; r2 drops 4 (deg fell to 1);
    // r3 stable -> core {1,2,3}, degrees within core = 2 each
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val out = graft.graph.Traversals.kcorePeel(vertices, pairs, k = 2, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 1, 2L), (2L, 1, 2L), (3L, 1, 2L),
      (4L, 0, 0L), (5L, 0, 0L), (6L, 0, 0L)))
  }

  test("labelPropagation: synchronous min-label rounds on bridged triangles") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6} bridged by 3-4; 7 isolated
    val vertices = (1L to 7L).toDF("id")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("id_a", "id_b")
    val sym = pairs.union(pairs.select(col("id_b"), col("id_a")))
      .toDF("src", "dst")
    val out = Components.labelPropagation(vertices, sym, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // hand-computed synchronous rounds (ties -> min label):
    // r1: 1->2, 2->1, 3->1, 4->3, 5->4, 6->4, 7->7
    // r2: 1->1, 2->1, 3->1, 4->4, 5->3, 6->3, 7->7
    assert(out.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L),
      (5L, 3L), (6L, 3L), (7L, 7L)))
    // repartition-invariant (packed argmax, no window)
    val again = Components.labelPropagation(vertices.repartition(5),
        sym.repartition(3), iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(out.toSeq == again.toSeq)
  }

  test("ssspBounded: exact bounded Bellman-Ford on a hand-computed graph") {
    import spark.implicits._
    val vertices = (1L to 5L).toDF("id")
    // 1->2 (10), 1->3 (2), 3->2 (3), 2->4 (1); 5 unreachable.
    // shortest: d(2)=5 via 1-3-2 (needs 2 rounds), d(4)=6 (3 rounds)
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 2L), (3L, 2L, 3L), (2L, 4L, 1L))
      .toDF("src", "dst", "w")
    val out = graft.graph.Traversals
      .ssspBounded(vertices, edges, source = 1L, rounds = 3)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, Some(0L)), (2L, Some(5L)), (3L, Some(2L)),
      (4L, Some(6L)), (5L, None)))
    // a 1-round bound sees only direct edges: d(2)=10, d(4) unreached
    val r1 = graft.graph.Traversals
      .ssspBounded(vertices, edges, source = 1L, rounds = 1)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).sortBy(_._1)
    assert(r1.toSeq == Seq((1L, Some(0L)), (2L, Some(10L)), (3L, Some(2L)),
      (4L, None), (5L, None)))
  }

  test("deterministicWalks: every step follows a real edge, walks are " +
    "repartition-invariant, dead ends terminate") {
    import spark.implicits._
    val vertices = (1L to 5L).toDF("id")
    // 4 is a sink (no out-edge); 5 isolated
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L), (2L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val out = graft.graph.Traversals
      .deterministicWalks(vertices, edges, steps = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val edgeSet = Set((1L, 2L), (1L, 3L), (2L, 1L), (2L, 3L), (3L, 4L))
    val byWalk = out.groupBy(_._1).map { case (w, rows) =>
      w -> rows.sortBy(_._2).map(_._3).toSeq
    }
    // step 0 is the start; every transition is a real edge
    for ((w, path) <- byWalk) {
      assert(path.head == w)
      for (Seq(a, b) <- path.sliding(2)) assert(edgeSet.contains((a, b)),
        s"walk $w took non-edge $a->$b")
    }
    // 5 has no out-edge: its walk is just step 0; 4's likewise
    assert(byWalk(5L) == Seq(5L) && byWalk(4L) == Seq(4L))
    // walks from 3 must go to the only neighbor 4 and stop
    assert(byWalk(3L) == Seq(3L, 4L))
    val again = graft.graph.Traversals
      .deterministicWalks(vertices.repartition(4), edges.repartition(3),
        steps = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.sorted.toSeq == again.sorted.toSeq)
    // id-space guard: an id >= 2^idBits must raise, not silently corrupt
    val bad = Seq((1L, 1L << 21)).toDF("src", "dst")
    intercept[Exception] {
      graft.graph.Traversals
        .deterministicWalks(Seq(1L).toDF("id"), bad, steps = 1, idBits = 20)
        .collect()
    }
  }

  test("Hits: hand-traced 2 rounds, integer micro L-inf normalization") {
    import spark.implicits._
    val vertices = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 3L), (2L, 3L), (1L, 2L)).toDF("src", "dst")
    val out = graft.graph.Hits.run(vertices, edges, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // r1: authRaw 3:2e6, 2:1e6 -> auth (0, 500000, 1000000);
    //     hubRaw 1:1.5e6, 2:1e6 -> hub (1000000, 666666, 0)
    // r2: authRaw 3:1666666, 2:1e6 -> auth (0, 600000, 1000000);
    //     hubRaw 1:1.6e6, 2:1e6 -> hub (1000000, 625000, 0)
    assert(out.toSeq == Seq(
      (1L, 0L, 1000000L), (2L, 600000L, 625000L), (3L, 1000000L, 0L)))
    // partitioning must not change a single unit
    val again = graft.graph.Hits
      .run(vertices.repartition(3), edges.repartition(2), iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(again.toSeq == out.toSeq)
  }

  test("partitionQuality: two bridged triangles; modularity reconstructs") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6} joined by bridge 3-4; labels = the
    // obvious 2-cluster partition. m = 7 edges. Per cluster: 3 nodes,
    // 3 intra edges, degree mass 2+2+3 = 7, cut = 7 - 2*3 = 1.
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 10L),
      (4L, 20L), (5L, 20L), (6L, 20L)).toDF("id", "label")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("id_a", "id_b")
    val out = graft.graph.Components.partitionQuality(labels, pairs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .sortBy(_._1)
    assert(out.toSeq == Seq((10L, 3L, 3L, 7L, 1L), (20L, 3L, 3L, 7L, 1L)))
    // Newman modularity from the shipped integers:
    // Q = sum_c (4*m*m_c - d_c^2) / (4*m^2) = (35 + 35) / 196
    val m = out.map(_._4).sum / 2
    val qNum = out.map { case (_, _, mc, dc, _) => 4 * m * mc - dc * dc }.sum
    assert(m == 7L && qNum == 70L && 4 * m * m == 196L)
  }

  test("partitionQuality: an unlabeled edge endpoint fails loudly") {
    import spark.implicits._
    // vertex 3 has an edge but no label row: a silent inner-join drop
    // would yield a consistent-looking but wrong quality table
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("id", "label")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val ex = intercept[Exception] {
      graft.graph.Components.partitionQuality(labels, pairs).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("has no label row")), ex.getMessage)
  }

  test("partitionQuality: labels with no edges get zero-count rows") {
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 2L)).toDF("id", "label")
    val pairs = spark.emptyDataFrame
      .select(lit(0L).as("id_a"), lit(0L).as("id_b")).filter(lit(false))
    val out = graft.graph.Components.partitionQuality(labels, pairs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .sortBy(_._1)
    assert(out.toSeq == Seq((1L, 1L, 0L, 0L, 0L), (2L, 1L, 0L, 0L, 0L)))
  }

  test("q230 structural pin: the group split can NEVER leak an LSH edge") {
    // every candidate edge lies inside one connected component and the
    // group split assigns whole components — zero cross edges is a
    // THEOREM of the construction, so pin it on the real data, while
    // the naive per-item split must leak on any graph with edges
    val out = graft.SparkEntry
      .queries("q230_split_leakage")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val (gScheme, gEdges, gCross) = out(0)
    val (nScheme, nEdges, nCross) = out(1)
    assert(gScheme == "group" && nScheme == "naive" && gEdges == nEdges)
    assert(gCross == 0L, "group split leaked a candidate edge")
    assert(gEdges > 0L && nCross > 0L,
      "a non-degenerate graph must make the naive split leak")
  }

  test("clusterEvolution: detects merges, splits and stable clusters") {
    import spark.implicits._
    // old snapshot (evens): {0}, {2}, {4,6}; grown corpus: odd vertex 1
    // bridges 0 and 2 into {0,1,2}, {4,6} survives verbatim
    val oldCc = Seq((0L, 0L), (2L, 2L), (4L, 4L), (6L, 4L))
      .toDF("id", "component")
    val newCc = Seq((0L, 0L), (1L, 0L), (2L, 0L), (4L, 4L), (6L, 4L))
      .toDF("id", "component")
    val out = graft.graph.Components.clusterEvolution(oldCc, newCc)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(
      (0L, 0L, 1L, 1L, 3L),  // old {0} absorbed into the merged {0,1,2}
      (2L, 0L, 1L, 1L, 3L),  // old {2} merged into the same new cluster
      (4L, 4L, 2L, 2L, 2L))) // {4,6} stable: shared == old == new size
  }

  test("degreeMixing: path of three is perfectly disassortative (r = -1)") {
    import spark.implicits._
    // path 1-2-3: degrees (1, 2, 1); symmetrized endpoint pairs
    // (1,2),(2,1),(2,1),(1,2) -> n=4, sum_x=6, sum_xx=10, sum_xy=8
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val r = graft.graph.Traversals.degreeMixing(pairs).collect()(0)
    val (n, sx, sxx, sxy) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert((n, sx, sxx, sxy) == (4L, 6L, 10L, 8L))
    // Pearson over the symmetrized multiset: (n*sxy - sx^2)/(n*sxx - sx^2)
    assert((n * sxy - sx * sx).toDouble / (n * sxx - sx * sx) == -1.0)
    // a triangle (regular graph) has zero variance -> 0/0 guard stays
    // the CALLER's division; the sums themselves are well-defined
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val t = graft.graph.Traversals.degreeMixing(tri).collect()(0)
    assert((t.getLong(0), t.getLong(1), t.getLong(2), t.getLong(3)) ==
      (6L, 12L, 24L, 24L))
  }
}
