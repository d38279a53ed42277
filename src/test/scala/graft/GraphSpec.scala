package graft

import org.apache.spark.sql.functions._
import graft.ops.Graph

/** Connected components + canonicalization: hand-built graphs with known
  * component structure, including a long path (exercises the pointer-
  * doubling convergence — plain propagation would need one round per hop). */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("two components and an isolated pair resolve to min-id labels") {
    // {1,2,3,4} via 1-2, 2-3, 3-4; {10,11}; duplicate + self edges ignored
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (10L, 11L), (5L, 5L))
      .toDF("id1", "id2")
    val comp = Graph.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("components artifact: read-back equals recompute; re-touch runs no closure jobs") {
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("id1", "id2")
    val docs = (0L to 12L).map(Tuple1(_)).toDF("doc_id")
    val dir = { val b = new java.io.File("target/test-out").getAbsoluteFile.toPath
      java.nio.file.Files.createDirectories(b)
      java.nio.file.Files.createTempDirectory(b, "comps") }.toString
    val path = s"$dir/c"
    val direct = Graph.connectedComponents(pairs)
    val fromArtifact = graft.ops.Artifacts.parquetArtifact(spark, path)(direct)
    // longs round-trip parquet exactly: the artifact is a cache, not a fork
    assert(fromArtifact.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === direct.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // every downstream consumer composed over the artifact equals the
    // direct pairs-composition — the family shares ONE closure run
    val canon = Graph.canonicalizeFromComponents(docs, fromArtifact)
    assert(canon.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === Graph.canonicalize(docs, pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(graft.ops.Sampling.leakageSafeSplitFromCanon(canon)
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
      === graft.ops.Sampling.leakageSafeSplit(docs, pairs)
        .collect().map(r => (r.getLong(0), r.getString(2))).toMap)
    // re-touch must READ, not re-resolve: pointer doubling schedules one
    // job per round plus the seed aggregate; a pure artifact read of the
    // unchanged files reuses the memoized schema and schedules none
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.ops.Artifacts.parquetArtifact(spark, path)(
        sys.error("re-touch must not rebuild"): org.apache.spark.sql.DataFrame)
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() === 0, s"components artifact re-touch ran ${jobs.get()} jobs")
  }

  test("a 200-node path converges well inside the round budget") {
    val pairs = (0L until 199L).map(i => (i, i + 1)).toDF("id1", "id2")
    val comp = Graph.connectedComponents(pairs, maxIter = 16).collect()
    assert(comp.length === 200)
    assert(comp.forall(_.getLong(1) == 0L))
  }

  test("giant component (80% of nodes) converges in the round budget with no row multiplication") {
    // worst-case shape for label propagation: one 1600-node RING (depth
    // n/2 — a near-clique dup cluster would converge in ~2 rounds) holding
    // 80% of the 2000 nodes, plus 200 two-node components. Pointer
    // doubling must close the ring in O(log n) ≈ 11 rounds, not O(n).
    val ring = (0L until 1600L).map(i => (i, (i + 1) % 1600L))
    val smalls = (1600L until 2000L by 2).map(i => (i, i + 1))
    val pairs = (ring ++ smalls).toDF("id1", "id2")
    val comp = Graph.connectedComponents(pairs, maxIter = 16)
    val rows = comp.collect()
    // exactly one row per node, ids distinct: if the jump join's build
    // side (id → lab, keyed by the unique node id) ever carried duplicate
    // keys, the join would multiply rows and this count would inflate
    assert(rows.length === 2000)
    assert(rows.map(_.getLong(0)).distinct.length === 2000)
    val byNode = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 1600L).forall(byNode(_) == 0L), "giant ring not fully labeled 0")
    assert((1600L until 2000L by 2).forall(i => byNode(i) == i && byNode(i + 1) == i))
  }

  test("non-integral node ids are rejected loudly, not silently dropped") {
    val stringIds = Seq(("a", "b")).toDF("id1", "id2")
    val e = intercept[IllegalArgumentException] {
      Graph.connectedComponents(stringIds)
    }
    assert(e.getMessage.contains("integral node ids"))
  }

  test("empty pair list: components empty, canonicalize maps every doc to itself") {
    val noPairs = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Graph.connectedComponents(noPairs).collect().isEmpty)
    // self-loops only is equivalent to empty
    val selfOnly = Seq((5L, 5L)).toDF("id1", "id2")
    assert(Graph.connectedComponents(selfOnly).collect().isEmpty)
    val docs = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val canon = Graph.canonicalize(docs, noPairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(canon === Map(1L -> 1L, 2L -> 2L))
  }

  test("source dup matrix orients pairs canonically; dup rate counts non-canonical docs") {
    val docs = Seq(
      (0L, "a", "web"), (1L, "b", "books"), (2L, "c", "web"),
      (3L, "d", "web"), (4L, "e", "books")).toDF("doc_id", "text", "source")
    // 0-1 crosses web/books (either orientation must land in the same
    // cell), 0-2 is within web, 3-4 crosses again
    val pairs = Seq((1L, 0L), (0L, 2L), (3L, 4L)).toDF("id1", "id2")
    val matrix = Graph.sourceDupMatrix(docs, pairs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(matrix === Map(("books", "web") -> 2L, ("web", "web") -> 1L))
    // component {0,1,2} keeps 0 (2 dups: one web, one books); {3,4} keeps 3
    val rate = Graph.sourceDupRate(docs, pairs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rate === Map("web" -> (3L, 1L), "books" -> (2L, 2L)))
  }

  test("integer pagerank matches a driver-side model and ranks the hub highest") {
    // star + back-edges: everyone links the hub, hub links node a
    val edges = Seq(
      ("a", "hub", 3L), ("b", "hub", 1L), ("c", "hub", 2L),
      ("hub", "a", 4L)).toDF("src", "dst", "m")
    val got = Graph.pagerankInt(edges, iterations = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // reference: the same fixed-point-free integer recurrence in plain Scala
    val scale = 1000000000000L
    val adj = Map("a" -> Seq(("hub", 3L)), "b" -> Seq(("hub", 1L)),
      "c" -> Seq(("hub", 2L)), "hub" -> Seq(("a", 4L)))
    val outw = adj.map { case (k, es) => k -> es.map(_._2).sum }
    val nodes = Seq("a", "b", "c", "hub")
    val base = (scale * 15L) / (100L * nodes.length)
    var r = nodes.map(_ -> scale / nodes.length).toMap
    (1 to 5).foreach { _ =>
      val contrib = nodes.map { v =>
        v -> adj.toSeq.flatMap { case (u, es) =>
          es.collect { case (`v`, m) =>
            (r(u) / outw(u)) * m + ((r(u) % outw(u)) * m) / outw(u) }
        }.sum
      }.toMap
      r = nodes.map(v => v -> (base + (85L * contrib(v)) / 100L)).toMap
    }
    assert(got === r, s"engine $got vs model $r")
    // structure: the hub out-ranks every spoke; total mass stays <= scale
    assert(got("hub") > got("a") && got("hub") > got("b") && got("hub") > got("c"))
    assert(got.values.sum <= scale)
  }

  test("dangling redistribution matches a driver-side model on a sink-hub star") {
    // a, b, c all link the hub; the hub has NO out-edge — a certified
    // dangling sink holding most of the mass by iteration 2
    val edges = Seq(("a", "hub", 1L), ("b", "hub", 1L), ("c", "hub", 1L))
      .toDF("src", "dst", "m")
    val got = Graph.pagerankInt(edges, iterations = 5, redistributeDangling = true)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the same integer recurrence in plain Scala, dangling term included
    val scale = 1000000000000L
    val nodes = Seq("a", "b", "c", "hub")
    val n = nodes.length
    val base = (scale * 15L) / (100L * n)
    var r = nodes.map(_ -> scale / n).toMap
    (1 to 5).foreach { _ =>
      val d = r("hub") // the only node without out-edges
      val contrib = Map("a" -> 0L, "b" -> 0L, "c" -> 0L,
        "hub" -> (r("a") + r("b") + r("c")))
      r = nodes.map(v => v -> (base + (85L * (contrib(v) + d / n)) / 100L)).toMap
    }
    assert(got === r, s"engine $got vs model $r")
    // conservation: truncation is the only loss — a handful of units,
    // not the ~21% five damped leaks of the hub's mass would cost
    assert(got.values.sum <= scale && got.values.sum > scale - 100L)
  }

  test("on a graph with no dangling nodes the two pagerank variants are bit-identical") {
    // the type-level transition graph: every type re-occurs as a source
    // (checked here, not assumed), so D = 0 every iteration
    val edges = Graph.eventTransitions(
      Tables.events(spark, "/root/testdata/sf0.001"))
    val dangling = edges.select(col("dst")).except(edges.select(col("src"))).count()
    assert(dangling === 0L, "precondition: the type graph must have no sinks")
    val simple = Graph.pagerankInt(edges).orderBy("node")
      .collect().map(_.toSeq)
    val redist = Graph.pagerankInt(edges, redistributeDangling = true)
      .orderBy("node").collect().map(_.toSeq)
    assert(redist === simple)
  }

  test("on the event-chain graph redistribution conserves mass; the simple variant leaks it") {
    val edges = Graph.eventChainEdges(
      Tables.events(spark, "/root/testdata/sf0.001"))
    val n = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct().count()
    val sumOf = (redistribute: Boolean) =>
      Graph.pagerankInt(edges, redistributeDangling = redistribute)
        .agg(sum("rank_q")).head().getLong(0)
    val conserved = sumOf(true)
    val leaked = sumOf(false)
    val scale = 1000000000000L
    // truncation loses < ~4 units per node per iteration (base div,
    // damped div, edge floor, D mod n spread) — bound it at 20n over the
    // 5 iterations plus the initial scale-mod-n split
    assert(conserved <= scale, s"mass grew: $conserved > $scale")
    assert(scale - conserved <= 20L * n + n,
      s"redistribution lost ${scale - conserved} units (n=$n) — more than truncation explains")
    // the simple variant drains ~0.85·|sinks|/n of the mass per
    // iteration — orders of magnitude beyond any truncation effect
    assert(leaked < conserved - 1000000L,
      s"simple=$leaked should leak far below conserved=$conserved")
  }

  test("triangle counts: K4, a pendant, and a triangle-free path") {
    // K4 on {1,2,3,4} has 4 triangles, every vertex in 3 of them; vertex
    // 5 hangs off vertex 1 (pendant — in no triangle, absent from the
    // output); 10-11-12 is a path — no triangles at all
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (10L, 11L), (11L, 12L)).toDF("a", "b")
    val got = Graph.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("degree-ordered closure matches id-ordered brute enumeration on the real graph") {
    val edges = Graph.coOrderedParts(
      Tables.lineitem(spark, "/root/testdata/sf0.001")).persist()
    val got = Graph.triangleCounts(edges).orderBy("part")
      .collect().map(_.toSeq)
    // brute reference: id-oriented wedge (a<b<c) closure, no degree logic
    val e = edges.select(col("a"), col("b"))
    val tri = e.as("e1").join(e.as("e2"),
        col("e1.a") === col("e2.a") && col("e1.b") < col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      .join(e.select(col("a").as("y"), col("b").as("z")), Seq("y", "z"))
    val brute = tri.select(col("x").as("part"))
      .union(tri.select(col("y"))).union(tri.select(col("z")))
      .groupBy("part").agg(count(lit(1)).as("n_tri"))
      .orderBy("part").collect().map(_.toSeq)
    edges.unpersist(blocking = false)
    assert(got === brute)
    assert(got.nonEmpty, "the sf0.001 co-order graph should have triangles")
  }

  test("transition probabilities: per-src shares sum to one and match counts") {
    val edges = Seq(("a", "b", 3L), ("a", "c", 1L), ("b", "a", 2L))
      .toDF("src", "dst", "m")
    val got = Graph.transitionProbs(edges).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(got === Map(
      ("a", "b") -> ((3L, 4L, 0.75)), ("a", "c") -> ((1L, 4L, 0.25)),
      ("b", "a") -> ((2L, 2L, 1.0))))
    // real graph: every src's shares sum to exactly 1 within one ulp-sum
    val real = Graph.transitionProbs(Graph.eventTransitions(
      Tables.events(spark, "/root/testdata/sf0.001")))
    val sums = real.groupBy("src").agg(sum("p").as("s"))
      .collect().map(_.getDouble(1))
    assert(sums.nonEmpty && sums.forall(s => math.abs(s - 1.0) < 1e-9))
  }

  test("basket lift matches hand-computed ratios and drops sub-support pairs") {
    // 4 orders: {1,2} appears together in o1, o2, o3 (support 3);
    // {1,3} only in o4 (support 1 — filtered); part 1 in 4 orders,
    // part 2 in 3, part 3 in 1
    val li = Seq(
      (101L, 1L), (101L, 2L), (102L, 1L), (102L, 2L),
      (103L, 1L), (103L, 2L), (104L, 1L), (104L, 3L),
      (104L, 3L) // duplicate lineitem row: counts must stay distinct-order
    ).toDF("l_orderkey", "l_partkey")
    val got = Graph.basketLift(li).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // lift(1,2) = n·c(1,2)/(c(1)·c(2)) = 4·3/(4·3) = 1.0
    assert(got === Map((1L, 2L) -> ((3L, 4L, 3L, 1.0))))
    // support 1 keeps the {1,3} pair too, with lift 4·1/(4·1) = 1.0
    val all = Graph.basketLift(li, minSupport = 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all === Set((1L, 2L), (1L, 3L)))
    val ex = intercept[IllegalArgumentException] {
      Graph.basketLift(li, minSupport = 0L)
    }
    assert(ex.getMessage.contains("minSupport"))
  }

  test("basket confidence is directional: the rare->common rule scores higher") {
    // parts 1 and 2 co-occur in 2 orders; part 1 is in 4 orders, part 2
    // in 2 → conf(2→1) = 2/2 = 1.0 but conf(1→2) = 2/4 = 0.5
    val li = Seq(
      (101L, 1L), (101L, 2L), (102L, 1L), (102L, 2L),
      (103L, 1L), (104L, 1L)).toDF("l_orderkey", "l_partkey")
    val got = Graph.basketConfidence(li).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got === Map(
      (1L, 2L) -> ((2L, 4L, 0.5)),
      (2L, 1L) -> ((2L, 2L, 1.0))))
  }

  test("the broadcast ceiling picks the closure strategy by data, same triangles either side") {
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (5L, 6L)).toDF("a", "b")
    val bcast = Graph.triangleCounts(edges).orderBy("part")
      .collect().map(_.toSeq)
    // 0-row ceiling: 8 oriented edges exceed it → shuffle closure path
    val shuffled = Graph.triangleCounts(edges, broadcastMaxEdges = 0L)
      .orderBy("part").collect().map(_.toSeq)
    assert(shuffled === bcast)
    // plan SHAPE on either side of the ceiling: under it the closure is a
    // broadcast hash probe; over it a shuffle join replaces it
    // at-scale conditions: only the EXPLICIT hint may broadcast (the
    // auto threshold would convert the tiny test frame either way).
    // newSession(): own SQLConf, shared context — suites run in
    // parallel against ONE session, so never mutate the shared conf
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val edges2 = s2.createDataFrame(edges.collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1)))).toDF("a", "b")
    def planOf(maxEdges: Long): String = {
      val (counts, oriented) = Graph.triangleCountsPlan(edges2, maxEdges)
      val plan = counts.queryExecution.executedPlan.toString
      oriented.unpersist()
      plan
    }
    def nBroadcastJoins(p: String) = "BroadcastHashJoin".r.findAllIn(p).size
    val under = planOf(Long.MaxValue)
    val over = planOf(0L)
    assert(nBroadcastJoins(under) > nBroadcastJoins(over),
      s"expected the closure probe to broadcast only under the ceiling:\n$under\n---\n$over")
    assert(over.contains("SortMergeJoin") || over.contains("ShuffledHashJoin"),
      s"expected a shuffle join past the ceiling:\n$over")
  }

  test("triangle counting raises on ids that cannot pack into the (deg, id) key") {
    val bad = Seq((-1L, 2L), (2L, 3L)).toDF("a", "b")
    val ex = intercept[Exception] {
      Graph.triangleCounts(bad).collect()
    }
    assert(ex.getMessage.contains("id out of [0, 2^40)"),
      s"wrong failure: ${ex.getMessage}")
  }

  test("clusterSizeHistogram partitions the corpus by cluster size") {
    // one 3-cluster {1,2,3}, one 2-cluster {10,11}, three singletons
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L, 10L, 11L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val h = Graph.clusterSizeHistogram(Graph.canonicalize(docs, pairs))
      .orderBy("cluster_size").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(h.toSeq === Seq((1L, 3L, 3L), (2L, 1L, 2L), (3L, 1L, 3L)))
    // n_docs column partitions the corpus exactly
    assert(h.map(_._3).sum === 8L)
  }

  test("label propagation matches a driver-side synchronous model and splits planted communities") {
    // two heavy triangles joined by ONE weak bridge, plus a self-loop-only
    // node: LPA must recover the two communities, never merge them across
    // the bridge, and keep the isolated node as its own singleton
    val edges = Seq(
      ("a", "b", 10L), ("b", "c", 10L), ("a", "c", 10L),
      ("d", "e", 10L), ("e", "f", 10L), ("d", "f", 10L),
      ("c", "d", 1L),
      ("z", "z", 5L)).toDF("src", "dst", "m")
    val got = Graph.labelPropagation(edges, iterations = 5).collect()
      .map(r => r.getAs[String]("node") ->
        (r.getAs[String]("community"), r.getAs[Long]("n_members"))).toMap
    // driver model: same undirected weights, synchronous rounds, min-tie
    val und = Seq(("a", "b", 10L), ("b", "c", 10L), ("a", "c", 10L),
      ("d", "e", 10L), ("e", "f", 10L), ("d", "f", 10L), ("c", "d", 1L))
    val nbrs = (und.map { case (u, v, m) => (u, v, m) } ++
      und.map { case (u, v, m) => (v, u, m) })
      .groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).sum).toMap
    val nodes = Seq("a", "b", "c", "d", "e", "f", "z")
    var lab = nodes.map(n => n -> n).toMap
    for (_ <- 1 to 5) {
      lab = nodes.map { n =>
        val votes = nbrs.collect { case ((`n`, v), w) => (lab(v), w) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
        n -> (if (votes.isEmpty) lab(n)
              else votes.minBy { case (c, w) => (-w, c) }._1)
      }.toMap
    }
    val sizes = lab.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    nodes.foreach { n =>
      assert(got(n) === ((lab(n), sizes(lab(n)))), s"node $n")
    }
    // structure: the triangles resolved to their min labels, the bridge
    // did not merge them, the self-loop node is a singleton
    assert(Set("a", "b", "c").map(got(_)._1).size === 1)
    assert(Set("d", "e", "f").map(got(_)._1).size === 1)
    assert(got("a")._1 !== got("d")._1)
    assert(got("z") === (("z", 1L)))
    // min-label ties: an isolated symmetric pair must converge on the
    // lexicographically smaller endpoint's label, not oscillate into
    // nondeterminism (5 rounds, synchronous — deterministic either way)
    val pair = Seq(("p", "q", 3L)).toDF("src", "dst", "m")
    val pgot = Graph.labelPropagation(pair, iterations = 4).collect()
      .map(r => r.getAs[String]("node") -> r.getAs[String]("community")).toMap
    // synchronous swap: after any EVEN round each node is back to the
    // other's initial label swapped twice — the model decides exactly
    var plab = Map("p" -> "p", "q" -> "q")
    for (_ <- 1 to 4) plab = Map("p" -> plab("q"), "q" -> plab("p"))
    assert(pgot === plab)
  }

  test("k-core h-operator recovers true coreness on a planted core-periphery graph") {
    // 4-clique (core 3) + pendant chain 4-5-6 (core 1) + a self-loop-only
    // node (dropped: coreness is over the simple graph)
    val clique = for (i <- 1L to 4L; j <- (i + 1L) to 4L) yield (i, j)
    val edges = (clique ++ Seq((4L, 5L), (5L, 6L), (7L, 7L))).toDF("a", "b")
    val got = Graph.kCore(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(
      1L -> ((3L, 3L)), 2L -> ((3L, 3L)), 3L -> ((3L, 3L)),
      4L -> ((4L, 3L)), 5L -> ((2L, 1L)), 6L -> ((1L, 1L))))
    // driver-side h-operator model over the same graph, same 8 rounds —
    // the engine must match the synchronous iterate exactly, not just
    // the converged values
    val und = (clique ++ Seq((4L, 5L), (5L, 6L)))
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    def hIndex(vs: Seq[Long]): Long = {
      val sorted = vs.sorted(Ordering[Long].reverse)
      sorted.zipWithIndex.takeWhile { case (v, i) => v >= i + 1 }.size.toLong
    }
    var c = und.view.mapValues(_.size.toLong).toMap
    for (_ <- 1 to 8) c = und.map { case (n, ns) => n -> hIndex(ns.map(c)) }
    assert(got.view.mapValues(_._2).toMap === c)
    // fixpoint: one more round changes nothing (the iterate converged
    // well inside the default budget on this shape)
    val again = Graph.kCore(edges, iterations = 9).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(again === got)
    // convergence-aware early stop ≡ the fixed iterate: a 100-round
    // budget must serve the identical frame (and return promptly — the
    // changed-count action stops the loop at the fixpoint instead of
    // running 100 dead rounds)
    val budget100 = Graph.kCore(edges, iterations = 100).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(budget100 === got)
    // the monotone upper-bound property at round 1: a star's center
    // drops from degree n to h-index 1 in one round
    val star = (2L to 6L).map(i => (1L, i)).toDF("a", "b")
    val sgot = Graph.kCore(star, iterations = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(sgot(1L) === 1L)
    assert((2L to 6L).forall(sgot(_) === 1L))
  }

  test("frontier k-core equals the full synchronous iterate on random graphs") {
    // the frontier refinement only recomputes nodes with a changed
    // neighbor — correct iff that set covers every node whose h value
    // CAN change; random graphs across densities (sparse → the frontier
    // path runs; dense → the fallback runs) must all match the plain
    // driver-side synchronous model round for round, including budgets
    // that stop BEFORE convergence (the upper-bound iterates)
    def hIndex(vs: Seq[Long]): Long = {
      val sorted = vs.sorted(Ordering[Long].reverse)
      sorted.zipWithIndex.takeWhile { case (v, i) => v >= i + 1 }.size.toLong
    }
    val rnd = new scala.util.Random(20)
    for (trial <- 1 to 6) {
      val n = 8 + rnd.nextInt(25)
      val p = Seq(0.08, 0.2, 0.5)(trial % 3)
      val raw = for {
        i <- 1L to n; j <- (i + 1L) to n
        if rnd.nextDouble() < p
      } yield (i, j)
      if (raw.nonEmpty) {
        val budget = 1 + rnd.nextInt(9)
        val got = Graph.kCore(raw.toDF("a", "b"), iterations = budget)
          .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
        val und = raw.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
        var c = und.view.mapValues(_.size.toLong).toMap
        for (_ <- 1 to budget) c = und.map { case (nd, ns) => nd -> hIndex(ns.map(c)) }
        assert(got === c, s"trial $trial (n=$n p=$p budget=$budget)")
      }
    }
  }

  test("canonicalize maps unpaired docs to themselves and paired docs to the component min") {
    val docs = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (7L, "e"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 3L)).toDF("id1", "id2")
    val canon = Graph.canonicalize(docs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(canon === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 1L, 7L -> 7L))
    // the dedup'd corpus: one representative per component + all singletons
    val kept = Graph.canonicalize(docs, pairs)
      .where(col("doc_id") === col("canonical_id")).collect().map(_.getLong(0)).toSet
    assert(kept === Set(0L, 1L, 2L, 7L))
  }
}
