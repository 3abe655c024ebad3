package graft

import org.apache.spark.GraftJobProbe
import org.apache.spark.sql.functions._
import graft.operators.GraftGraph
import graft.plans.GraftGraphIterateExec

/** [[graft.operators.GraftGraph]] — integer-exact link centrality. */
class GraphSpec extends GraftFunSuite {
  import spark.implicits._

  private def pr(edges: Seq[(Long, Long)], iters: Int,
                 grid: Long = 100L): Map[Long, Long] =
    GraftGraph.pageRank(edges.toDF("src", "dst"), iters = iters, grid = grid)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("pageRank: hand-computed integer fixpoint on a 3-chain") {
    // 1→2→3, grid 100, damping 85: r1 = (15·100 + 85·Σ r div deg) div 100
    assert(pr(Seq((1L, 2L), (2L, 3L)), iters = 1) ==
      Map(1L -> 15L, 2L -> 100L, 3L -> 100L))
    // second round: contrib to 2 is r1(1)=15, to 3 is r1(2)=100
    // r2(2) = (1500 + 85·15) div 100 = 27 (exact integer floor, not 27.75)
    assert(pr(Seq((1L, 2L), (2L, 3L)), iters = 2) ==
      Map(1L -> 15L, 2L -> 27L, 3L -> 100L))
  }

  test("pageRank: in-link mass ranks hub targets above leaf targets, " +
       "duplicate edges collapse, and the result is partitioning-" +
       "independent") {
    val edges = Seq((1L, 4L), (2L, 4L), (3L, 4L), (1L, 5L))
    val m = pr(edges, iters = 3)
    assert(m(4L) > m(5L), s"3 in-links must outrank 1: $m")
    // simple-graph contract: edge multiplicity does not change ranks
    assert(pr(edges ++ edges ++ edges, iters = 3) == m)
    val base = GraftGraph.pageRank(edges.toDF("src", "dst"), iters = 3,
                                   grid = 100L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val repart = GraftGraph.pageRank(
        edges.toDF("src", "dst").repartition(7), iters = 3, grid = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(base == repart, "ranks must not depend on the partitioning")
  }

  test("hits: hand-computed max-renormalized round on a bipartite graph") {
    // 1→10, 2→10, 2→11; grid 100. Round 1:
    //   auth raw: 10 ↦ 200, 11 ↦ 100 → rescale by max 200: 100 / 50
    //   hub  raw: 1 ↦ 100, 2 ↦ 150   → rescale by max 150: 66 / 100
    val out = GraftGraph.hits(
        Seq((1L, 10L), (2L, 10L), (2L, 11L)).toDF("src", "dst"),
        iters = 1, grid = 100L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out == Map(1L -> ((66L, 0L)), 2L -> ((100L, 0L)),
                      10L -> ((0L, 100L)), 11L -> ((0L, 50L))), s"got $out")
  }

  test("hits: partitioning-independent and argument validation") {
    val edges = Seq((1L, 10L), (2L, 10L), (2L, 11L), (3L, 12L), (10L, 3L))
    val a = GraftGraph.hits(edges.toDF("src", "dst"), iters = 3,
                            grid = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val b = GraftGraph.hits(edges.toDF("src", "dst").repartition(5),
                            iters = 3, grid = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(a == b)
    intercept[IllegalArgumentException] {
      GraftGraph.pageRank(edges.toDF("src", "dst"), iters = 0)
    }
    intercept[IllegalArgumentException] {
      GraftGraph.pageRank(edges.toDF("src", "dst"), dampingPct = 101)
    }
    intercept[IllegalArgumentException] {
      GraftGraph.hits(edges.toDF("src", "dst"), iters = 0)
    }
  }

  private def ppr(edges: Seq[(Long, Long)], seeds: Seq[Long], iters: Int,
                  grid: Long = 100L): Map[Long, Long] =
    GraftGraph.personalizedPageRank(
        edges.toDF("src", "dst"), seeds.toDF("node_id"),
        iters = iters, grid = grid)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("personalizedPageRank: hand-computed — teleport mass lands only " +
       "on seeds and unreachable nodes stay exactly 0") {
    // 1→2→3, 4→3; seed {1}, grid 100, damping 85.
    // r0 = (100, 0, 0, 0). Round 1:
    //   contrib: 2 ← r0(1)=100, 3 ← r0(2)+r0(4) = 0
    //   r1(1) = 1500 div 100 = 15 (seed base, no in-links)
    //   r1(2) = (0 + 85·100) div 100 = 85; r1(3) = 0; r1(4) = 0
    assert(ppr(Seq((1L, 2L), (2L, 3L), (4L, 3L)), Seq(1L), iters = 1) ==
      Map(1L -> 15L, 2L -> 85L, 3L -> 0L, 4L -> 0L))
    // Round 2: r2(3) = 85·85 div 100 = 72 — two hops from the seed;
    // node 4 (no in-links, not a seed) pinned at 0
    assert(ppr(Seq((1L, 2L), (2L, 3L), (4L, 3L)), Seq(1L), iters = 2) ==
      Map(1L -> 15L, 2L -> 12L, 3L -> 72L, 4L -> 0L))
  }

  test("personalizedPageRank: all-nodes seed set reproduces plain " +
       "pageRank bit-for-bit; off-graph seeds are ignored") {
    val edges = Seq((1L, 4L), (2L, 4L), (3L, 4L), (1L, 5L), (4L, 2L))
    val plain = pr(edges, iters = 3)
    assert(ppr(edges, Seq(1L, 2L, 3L, 4L, 5L), iters = 3) == plain)
    // a seed absent from the edge list must not appear in the output
    val withGhost = ppr(edges, Seq(1L, 2L, 3L, 4L, 5L, 99L), iters = 3)
    assert(withGhost == plain && !withGhost.contains(99L))
  }

  test("personalizedPageRank: dampingPct = 100 is pure link propagation " +
       "from the seeds — never an all-zero state (ADVICE r12: seed " +
       "membership is an explicit flag, not inferred from __base > 0)") {
    // 1→2→3, seed {1}, damping 100, grid 100: every base term is 0 and
    // rank is pure propagation — r0 = (100, 0, 0),
    // round 1: r(2) = 100, rest 0; round 2: r(3) = 100, rest 0
    val edges = Seq((1L, 2L), (2L, 3L))
    val r1 = GraftGraph.personalizedPageRank(
        edges.toDF("src", "dst"), Seq(1L).toDF("node_id"),
        iters = 1, dampingPct = 100, grid = 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 0L, 2L -> 100L, 3L -> 0L), s"got $r1")
    val r2 = GraftGraph.personalizedPageRank(
        edges.toDF("src", "dst"), Seq(1L).toDF("node_id"),
        iters = 2, dampingPct = 100, grid = 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L -> 0L, 2L -> 0L, 3L -> 100L), s"got $r2")
  }

  test("pageRank danglingRedistribute: hand-computed sink redistribution; " +
       "agrees with the plain variant exactly on a sink-free graph") {
    // 1→2, grid 100, damping 85, n = 2; node 2 dangles with r0 = 100:
    //   ds div n = 50
    //   r1(1) = (1500 + 85·(0 + 50))   div 100 = 57
    //   r1(2) = (1500 + 85·(100 + 50)) div 100 = 142
    val dang = GraftGraph.pageRank(Seq((1L, 2L)).toDF("src", "dst"),
                                   iters = 1, grid = 100L,
                                   danglingRedistribute = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dang == Map(1L -> 57L, 2L -> 142L), s"got $dang")
    // the plain variant drops that mass (the documented simplification)
    assert(pr(Seq((1L, 2L)), iters = 1) == Map(1L -> 15L, 2L -> 100L))
    // sink-free graph (every node has an out-edge): ds = 0 every round,
    // so the two variants are bit-identical
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
    val plain = GraftGraph.pageRank(cyc.toDF("src", "dst"), iters = 3,
                                    grid = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val redist = GraftGraph.pageRank(cyc.toDF("src", "dst"), iters = 3,
                                     grid = 1000L,
                                     danglingRedistribute = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(plain == redist,
      "on a sink-free graph redistribution must be a no-op")
  }

  test("personalizedPageRank: seed proximity ranks above raw in-degree " +
       "and the result is partitioning-independent") {
    // 4 has three in-links but none from the seed side; 5 has one
    // in-link from the seed — proximity to seeds must dominate.
    val edges = Seq((1L, 5L), (2L, 4L), (3L, 4L), (6L, 4L))
    val m = ppr(edges, Seq(1L), iters = 2, grid = 1000L)
    assert(m(5L) > m(4L), s"seed-adjacent must outrank popular: $m")
    val a = GraftGraph.personalizedPageRank(
        edges.toDF("src", "dst"), Seq(1L).toDF("node_id"), iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val b = GraftGraph.personalizedPageRank(
        edges.toDF("src", "dst").repartition(7),
        Seq(1L).toDF("node_id").repartition(3), iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a == b)
  }

  test("labelPropagation: splits one connected component along its dense " +
       "cores (two cliques over a bridge → two communities where " +
       "connectedComponents sees one), deterministic across " +
       "partitionings, validation") {
    import graft.operators.{GraftDedup, GraftGraph}
    // two triangles bridged by a single edge — the canonical case where
    // components over-merge and LPA separates
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
                    (10L, 11L), (11L, 12L), (10L, 12L),
                    (3L, 10L)).toDF("src", "dst")
    val lpa = GraftGraph.labelPropagation(edges, iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(lpa.keySet == Set(1L, 2L, 3L, 10L, 11L, 12L))
    // hand-derived fixed point of the synchronous min-tie rounds
    assert(Set(1L, 2L, 3L).map(lpa) == Set(1L),
      s"left clique should converge to label 1: $lpa")
    assert(Set(10L, 11L, 12L).map(lpa) == Set(3L),
      s"right clique should converge to the bridged label 3: $lpa")
    assert(lpa.values.toSet.size == 2, s"two communities expected: $lpa")
    // contrast: connected components merges everything reachable
    val cc = GraftDedup.connectedComponents(
      edges.toDF("a_id", "b_id"), "a_id", "b_id")
      .collect().map(_.getLong(1)).toSet
    assert(cc.size == 1, "components must see ONE reachable blob here")
    // determinism across partitionings
    val again = GraftGraph.labelPropagation(
      edges.repartition(7), iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(again == lpa)
    intercept[IllegalArgumentException] {
      GraftGraph.labelPropagation(edges, iters = 0)
    }
  }

  test("pageRank warm start: warm(n, seed = cold(m)) equals cold(m + n) " +
       "bit-for-bit; seeding from a fixpoint is stable; new nodes take " +
       "the cold default; an empty seed degrades to the cold start") {
    def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // asymmetric graph (ranks move every round): 1→2, 1→3, 2→3, 3→1
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val cold3 = GraftGraph.pageRank(edges, iters = 3)
    val warm = ranks(GraftGraph.pageRank(edges, iters = 2,
                                         initialRanks = Some(cold3)))
    val cold5 = ranks(GraftGraph.pageRank(edges, iters = 5))
    assert(warm == cold5,
      s"warm continuation must equal never having stopped: " +
      s"warm=$warm cold5=$cold5")
    assert(ranks(cold3) != cold5,
      "sanity: the graph must not already be at a fixpoint at round 3")
    // fixpoint stability: a 2-cycle is 1-regular, so uniform grid is the
    // exact integer fixpoint at damping 85 — warm-starting from it stays
    // put for any budget
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val fix = GraftGraph.pageRank(cyc, iters = 1)
    assert(ranks(fix).values.toSet == Set(GraftGraph.PageRankGrid))
    assert(ranks(GraftGraph.pageRank(cyc, iters = 4,
                                     initialRanks = Some(fix)))
             == ranks(fix),
      "warm-from-fixpoint must be stable")
    // new node: seed covers only {1, 2}; node 3 (new page) starts at
    // grid — one warm round over 1→2, 3→2 gives 2 the contributions of
    // BOTH the seeded 1 and the cold-defaulted 3
    val g2 = Seq((1L, 2L), (3L, 2L)).toDF("src", "dst")
    val seed = Seq((1L, 200L), (2L, 999L)).toDF("node_id", "pr_micro")
    val w1 = ranks(GraftGraph.pageRank(g2, iters = 1, grid = 100L,
                                       initialRanks = Some(seed)))
    // r(2) = (15·100 + 85·(200 + 100)) div 100 = (1500 + 25500) div 100
    assert(w1(2L) == 270L, s"got $w1")
    assert(w1(1L) == 15L && w1(3L) == 15L)
    // empty seed: every node cold-defaults — warm ≡ cold at any iters
    val empty = seed.limit(0)
    assert(ranks(GraftGraph.pageRank(edges, iters = 3,
                                     initialRanks = Some(empty)))
             == ranks(cold3))
  }

  // ---- characterization: edge cases of the four operators ----

  /** Nullable edge list: `None` is a null endpoint. */
  private def nedges(es: (Option[Long], Option[Long])*) =
    es.toDF("src", "dst")

  /** node id (None = the null id) → the row's remaining columns. */
  private def byNode(df: org.apache.spark.sql.DataFrame)
      : Map[Option[Long], Seq[Long]] =
    df.collect().map { r =>
      (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
        (1 until r.length).map(r.getLong)
    }.toMap

  test("characterization: null endpoints — pageRank keeps a null node " +
       "for a null dst and drops edges with a null src; hits counts the " +
       "null node but never outputs it; labelPropagation votes for the " +
       "null node and loses nodes whose only neighbor is null") {
    val e = nedges((Some(1L), Some(2L)), (Some(1L), None), (None, Some(3L)),
                   (Some(2L), Some(1L)))
    // deg(1) = 2 (the null-dst edge counts), node 3 only hangs off a
    // null src so it is not a node; the null node receives nothing
    assert(byNode(GraftGraph.pageRank(e, iters = 2, grid = 100L)) ==
      Map(Some(1L) -> Seq(63L), Some(2L) -> Seq(57L), None -> Seq(15L)))
    // dangling: only the null node dangles; n = 3, ds div n = 100 div 3
    assert(byNode(GraftGraph.pageRank(e, iters = 1, grid = 100L,
                                      danglingRedistribute = true)) ==
      Map(Some(1L) -> Seq(128L), Some(2L) -> Seq(85L), None -> Seq(43L)))
    // a null seed and an off-graph seed are both ignored
    val seeds = Seq(Some(1L), None, Some(3L)).toDF("node_id")
    assert(byNode(GraftGraph.personalizedPageRank(e, seeds, iters = 1,
                                                  grid = 100L)) ==
      Map(Some(1L) -> Seq(15L), Some(2L) -> Seq(42L), None -> Seq(0L)))
    // warm start: a null id and an off-graph id are ignored, the null
    // node and node 2 take the cold default
    val warm = Seq((Some(1L), 200L), (None, 7L), (Some(3L), 9L))
      .toDF("node_id", "pr_micro")
    assert(byNode(GraftGraph.pageRank(e, iters = 1, grid = 100L,
                                      initialRanks = Some(warm))) ==
      Map(Some(1L) -> Seq(100L), Some(2L) -> Seq(100L), None -> Seq(15L)))
    // hits: node 3 is a node (authority and hub 0), the null node is not
    // in the output
    assert(byNode(GraftGraph.hits(e, iters = 1, grid = 100L)) ==
      Map(Some(1L) -> Seq(100L, 100L), Some(2L) -> Seq(100L, 100L),
          Some(3L) -> Seq(0L, 0L)))
    // lpa: 3 and 5 only neighbor the null id, so no label reaches them
    // and they leave the state after round 1; the null node takes the
    // smallest of its tied neighbor labels
    val e5 = nedges((Some(1L), Some(2L)), (Some(1L), None), (None, Some(3L)),
                    (Some(2L), Some(1L)), (Some(5L), None))
    assert(byNode(GraftGraph.labelPropagation(e5, iters = 1)) ==
      Map(Some(1L) -> Seq(2L), Some(2L) -> Seq(1L), None -> Seq(1L)))
    assert(byNode(GraftGraph.labelPropagation(e5, iters = 2)) ==
      Map(Some(1L) -> Seq(1L), Some(2L) -> Seq(2L), None -> Seq(2L)))
  }

  test("characterization: self-loops count as an out- and an in-edge") {
    val e = Seq((1L, 1L), (1L, 2L)).toDF("src", "dst")
    // deg(1) = 2: half of r(1) flows back to 1
    assert(byNode(GraftGraph.pageRank(e, iters = 1, grid = 100L)) ==
      Map(Some(1L) -> Seq(57L), Some(2L) -> Seq(57L)))
    assert(byNode(GraftGraph.personalizedPageRank(
        e, Seq(1L).toDF("node_id"), iters = 1, grid = 100L)) ==
      Map(Some(1L) -> Seq(57L), Some(2L) -> Seq(42L)))
    assert(byNode(GraftGraph.hits(e, iters = 1, grid = 100L)) ==
      Map(Some(1L) -> Seq(100L, 100L), Some(2L) -> Seq(0L, 100L)))
    // node 1 hears itself and 2 (tie → 1), node 2 hears 1
    assert(byNode(GraftGraph.labelPropagation(e, iters = 1)) ==
      Map(Some(1L) -> Seq(1L), Some(2L) -> Seq(1L)))
  }

  test("characterization: duplicate edges collapse in all four operators") {
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 3L))
    val once = es.toDF("src", "dst")
    val thrice = (es ++ es.reverse ++ es).toDF("src", "dst")
    val seeds = Seq(1L, 4L).toDF("node_id")
    for ((name, f) <- Seq[(String, org.apache.spark.sql.DataFrame =>
                              org.apache.spark.sql.DataFrame)](
           "pageRank" -> (GraftGraph.pageRank(_, iters = 3)),
           "dangling" -> (GraftGraph.pageRank(_, iters = 3,
                                              danglingRedistribute = true)),
           "ppr" -> (GraftGraph.personalizedPageRank(_, seeds, iters = 3)),
           "hits" -> (GraftGraph.hits(_, iters = 3)),
           "lpa" -> (GraftGraph.labelPropagation(_, iters = 3)))) {
      val a = byNode(f(once))
      assert(a.size == 4 && a == byNode(f(thrice)), name)
    }
  }

  test("characterization: an empty edge frame gives an empty result with " +
       "the operator's columns") {
    val e = Seq.empty[(Long, Long)].toDF("src", "dst")
    val seeds = Seq(1L).toDF("node_id")
    val warm = Seq((1L, 5L)).toDF("node_id", "pr_micro")
    val cases = Seq(
      GraftGraph.pageRank(e) -> Seq("node_id", "pr_micro"),
      GraftGraph.pageRank(e, danglingRedistribute = true) ->
        Seq("node_id", "pr_micro"),
      GraftGraph.pageRank(e, initialRanks = Some(warm)) ->
        Seq("node_id", "pr_micro"),
      GraftGraph.personalizedPageRank(e, seeds) -> Seq("node_id", "pr_micro"),
      GraftGraph.hits(e) -> Seq("node_id", "hub_micro", "auth_micro"),
      GraftGraph.labelPropagation(e) -> Seq("node_id", "community"))
    for ((df, cols) <- cases) {
      assert(df.columns.toSeq == cols)
      assert(df.schema.fields.forall(_.dataType ==
        org.apache.spark.sql.types.LongType))
      assert(df.collect().isEmpty)
    }
  }

  test("characterization: off-graph warm-start ids and seeds are ignored") {
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val cold = byNode(GraftGraph.pageRank(e, iters = 2, grid = 100L))
    val ghosts = Seq((98L, 5000L), (99L, 7L)).toDF("node_id", "pr_micro")
    assert(byNode(GraftGraph.pageRank(e, iters = 2, grid = 100L,
                                      initialRanks = Some(ghosts))) == cold)
    // seeds entirely off the graph: nothing is seeded, every rank is 0
    assert(byNode(GraftGraph.personalizedPageRank(
        e, Seq(98L, 99L).toDF("node_id"), iters = 2, grid = 100L)) ==
      Map(Some(1L) -> Seq(0L), Some(2L) -> Seq(0L), Some(3L) -> Seq(0L)))
  }

  test("characterization: duplicate warm-start ids each send their own " +
       "share in the first round") {
    // 1→2, 1→3, grid 100; node 1 warm-starts twice (201 and 51):
    // each row sends its own r div deg — 201 div 2 + 51 div 2 = 125,
    // not 252 div 2 = 126 — so r1(2) = (1500 + 85·125) div 100 = 121
    val e = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val warm = Seq((1L, 201L), (1L, 51L)).toDF("node_id", "pr_micro")
    assert(byNode(GraftGraph.pageRank(e, iters = 1, grid = 100L,
                                      initialRanks = Some(warm))) ==
      Map(Some(1L) -> Seq(15L), Some(2L) -> Seq(121L), Some(3L) -> Seq(121L)))
    // the dangling mass counts both rows too: ds = 100 + 100 for the
    // cold sinks 2 and 3 only, n = 3, so the duplicate leaves ds alone
    assert(byNode(GraftGraph.pageRank(e, iters = 1, grid = 100L,
                                      danglingRedistribute = true,
                                      initialRanks = Some(warm))) ==
      Map(Some(1L) -> Seq(71L), Some(2L) -> Seq(177L), Some(3L) -> Seq(177L)))
  }

  test("characterization: dampingPct 0 is pure teleport, 100 pure " +
       "propagation") {
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    assert(byNode(GraftGraph.pageRank(e, iters = 2, dampingPct = 0,
                                      grid = 100L)) ==
      Map(Some(1L) -> Seq(100L), Some(2L) -> Seq(100L), Some(3L) -> Seq(100L)))
    assert(byNode(GraftGraph.personalizedPageRank(
        e, Seq(2L).toDF("node_id"), iters = 2, dampingPct = 0,
        grid = 100L)) ==
      Map(Some(1L) -> Seq(0L), Some(2L) -> Seq(100L), Some(3L) -> Seq(0L)))
    assert(byNode(GraftGraph.pageRank(e, iters = 1, dampingPct = 100,
                                      grid = 100L)) ==
      Map(Some(1L) -> Seq(0L), Some(2L) -> Seq(100L), Some(3L) -> Seq(100L)))
    // 1→2 with sink redistribution at damping 100: ds div n = 100 div 2
    assert(byNode(GraftGraph.pageRank(Seq((1L, 2L)).toDF("src", "dst"),
                                      iters = 1, dampingPct = 100,
                                      grid = 100L,
                                      danglingRedistribute = true)) ==
      Map(Some(1L) -> Seq(50L), Some(2L) -> Seq(150L)))
  }

  test("characterization: iters = 1 runs exactly one round") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    // r1 = (1500 + 85·Σ r0 div deg) div 100 with deg(1) = 2
    assert(byNode(GraftGraph.pageRank(e, iters = 1, grid = 100L)) ==
      Map(Some(1L) -> Seq(100L), Some(2L) -> Seq(57L), Some(3L) -> Seq(142L)))
    // auth raw (1: 100, 2: 100, 3: 200) → (50, 50, 100); hub raw
    // (1: 50 + 100, 2: 100, 3: 50) → (100, 66, 33)
    assert(byNode(GraftGraph.hits(e, iters = 1, grid = 100L)) ==
      Map(Some(1L) -> Seq(100L, 50L), Some(2L) -> Seq(66L, 50L),
          Some(3L) -> Seq(33L, 100L)))
    // every node has labels {x, y} of its two or three neighbors
    assert(byNode(GraftGraph.labelPropagation(e, iters = 1)) ==
      Map(Some(1L) -> Seq(2L), Some(2L) -> Seq(1L), Some(3L) -> Seq(1L)))
  }

  // ---- execution shape: one job per frame, metrics on the exec ----

  private val shapeEdges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L),
                               (4L, 3L), (1L, 2L))

  test("building a graph frame launches no job; collecting PageRank, " +
       "personalized, warm-start and LPA frames over an exchange-free " +
       "edge frame launches one, HITS at most 1 + 2·iters") {
    val e = shapeEdges.toDF("src", "dst")
    val seeds = Seq(1L, 4L).toDF("node_id")
    val builds = Seq[(String, () => org.apache.spark.sql.DataFrame, Int)](
      ("pageRank", () => GraftGraph.pageRank(e, iters = 3), 1),
      ("ppr", () => GraftGraph.personalizedPageRank(e, seeds, iters = 3), 1),
      ("warm", () => GraftGraph.pageRank(e, iters = 2,
         initialRanks = Some(GraftGraph.pageRank(e, iters = 3))), 1),
      ("lpa", () => GraftGraph.labelPropagation(e, iters = 4), 1),
      ("hits", () => GraftGraph.hits(e, iters = 3), 1 + 2 * 3),
      ("dangling", () => GraftGraph.pageRank(e, iters = 3,
         danglingRedistribute = true), 1 + 3))
    for ((name, build, maxJobs) <- builds) {
      val (df, built) = GraftJobProbe.jobs(spark.sparkContext)(build())
      assert(built.isEmpty, s"$name: building ran ${built.size} jobs")
      val (_, ran) = GraftJobProbe.jobs(spark.sparkContext)(df.collect())
      if (maxJobs == 1) assert(ran.size == 1, s"$name: $ran")
      else assert(ran.size <= maxJobs, s"$name: ${ran.size} > $maxJobs")
    }
  }

  test("the exec reports edges after dedup, nodes, iterations and output " +
       "rows as SQL metrics, and explains as GraftGraphIterate") {
    val df = GraftGraph.pageRank(shapeEdges.toDF("src", "dst"), iters = 3)
    assert(df.collect().length == 4)
    val qe = df.queryExecution
    val exec = qe.executedPlan.collectFirst { case g: GraftGraphIterateExec => g }
      .getOrElse(fail(s"no GraftGraphIterateExec in ${qe.executedPlan}"))
    assert(exec.metrics.map { case (k, m) => k -> m.value } == Map(
      "numOutputRows" -> 4L, "numEdges" -> 5L, "numNodes" -> 4L,
      "iterations" -> 3L))
    assert(qe.executedPlan.toString.contains(
      "GraftGraphIterate pagerank iters=3 damping=85"), qe.executedPlan)
    val lpa = GraftGraph.labelPropagation(shapeEdges.toDF("src", "dst"),
                                          iters = 2)
    lpa.collect()
    val lx = lpa.queryExecution.executedPlan
      .collectFirst { case g: GraftGraphIterateExec => g }.get
    // the undirected view: 4 distinct links (3→1 and 1→3 are one),
    // each both ways
    assert(lx.metrics("numEdges").value == 8L &&
           lx.metrics("numNodes").value == 4L &&
           lx.metrics("iterations").value == 2L)
  }

  test("hits: the n·grid² overflow bound fails the action with the " +
       "operator's message") {
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      GraftGraph.hits(e, iters = 1, grid = 3037000500L).collect()
    }
    assert(ex.getMessage.contains(
      "hits: 2 nodes at grid 3037000500 risks 64-bit overflow"), ex.getMessage)
  }

  test("a graph frame self-joins like any projected frame") {
    val pr = GraftGraph.pageRank(shapeEdges.toDF("src", "dst"), iters = 2)
    val j = pr.as("a").join(pr.as("b"), col("a.node_id") === col("b.node_id"))
    assert(j.count() == 4)
  }
}
