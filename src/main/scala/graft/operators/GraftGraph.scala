package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.plans.{GraftGraphIterate, GraphAlgo}

/** Link-graph centrality — the web-graph quality signals a corpus
  * curation pipeline ranks documents by (a crawl's page graph, a
  * citation graph, or the near-duplicate similarity graph that
  * [[GraftDedup.nearDupPairs]] mines, where high centrality flags the
  * TEMPLATE pages whose boilerplate echoes through the corpus).
  *
  * Both operators run on the integer fixed-point grid convention the
  * repo's iterative numerics use ([[GraftSimilarity.KmeansGrid]]):
  * every per-iteration quantity is an exact integer, every sum is
  * order-free, so ranks are bit-reproducible across partitionings AND
  * across engines — `graph_pagerank` / `graph_hits` are DuckDB
  * hash-checked rows, not "close enough" floats.
  *
  * Scale shape (the PREGEL shape without the framework): each operator
  * builds one [[graft.plans.GraftGraphIterate]] node, which graft's
  * strategy plans as [[graft.plans.GraftGraphIterateExec]] — the whole
  * fixed-budget iteration as one RDD lineage inside the caller's action.
  * Edges are deduplicated once into their source's partition; the skinny
  * node state lives in the same partitions. Each round is one
  * map-side-combined shuffle keyed by the receiving node — partial sums
  * ship one long per (partition, dst), never the edge multiplicity — and
  * nothing is cached or checkpointed between rounds: each round's
  * shuffle files are its state, reclaimed with the result frame.
  */
object GraftGraph {

  /** Fixed-point grid for the rank state: initial rank = 1 grid unit =
    * 10⁶ micro-units per node. Safety bound: the damped update computes
    * `dampingPct · Σ contrib` in long arithmetic, and Σ contrib over
    * ALL nodes is ≤ n·grid, so n·grid·dampingPct must stay under 2⁶³ —
    * at the default grid that admits ~10¹⁴ nodes, far past any real
    * corpus. */
  val PageRankGrid: Long = 1000000L

  /** PageRank over a directed edge list, integer-exact.
    *
    * Semantics: edges are DEDUPLICATED (simple graph — a repeated link
    * counts once); the node universe is every id appearing as src or
    * dst; ranks start at `grid` micro-units and update
    * `iters` times as
    *
    *   r'(v) = ((100 − dampingPct)·grid
    *            + dampingPct · Σ_{u→v} (r(u) div outdeg(u))) div 100
    *
    * — integral division throughout (all quantities non-negative, so
    * floor = truncate in every engine). Mass from DANGLING nodes (no
    * out-edges) is dropped by default, the classic simplified variant —
    * ranks are a comparative signal, not a probability distribution,
    * and dropping the global dangling-sum term keeps each iteration a
    * pure local join+sum. Crawl graphs are SINK-HEAVY, though (every
    * leaf page dangles), so `danglingRedistribute = true` adds the
    * uniform redistribution term: each round computes the one scalar
    * `ds = Σ_{dangling u} r(u)` on the skinny state (one small job that
    * sums 8 bytes per partition on the driver; the node count n rides
    * the first) and every node's update becomes
    *
    *   r'(v) = (base + dampingPct · (Σ contrib + ds div n)) div 100
    *
    * — still integer-exact (`div n` before the damped product), at the
    * price of one global-aggregate barrier per round. On a sink-free
    * graph both variants agree exactly (ds = 0; GraphSpec pins it).
    * Returns `(node_id, pr_micro)` — the exact integer micro-rank;
    * divide by `grid` for a float score.
    *
    * `initialRanks`: WARM-START from a previous snapshot's
    * (node_id, pr_micro) — the crawl-refresh path. New nodes take the
    * cold default; on an unchanged graph warm(n, seed = cold(m)) equals
    * cold(m + n) exactly (each round is a pure function of the prior
    * state), so a refresh pays only the marginal iterations to
    * re-converge instead of the full budget from uniform.
    *
    * 100-TB shape: edges are shuffled into their source's partition
    * once, sorted; the rank state (id, degree, base, rank) lives in the
    * same partitions, sorted by id. A round walks each partition's edge
    * run beside its state — a sorted merge, so a hub's adjacency streams
    * and no task holds more than one record of it — and shuffles one
    * map-side-combined partial sum per (partition, dst) plus each
    * node's state record back to its own partition. O(iters) shuffles
    * of O(min(E, P·n)) records each, no exchange of the edges after the
    * first, and every buffer on the way (the sort and combine of each
    * shuffle read) spills.
    */
  def pageRank(edges: DataFrame, iters: Int = 3, dampingPct: Int = 85,
               grid: Long = PageRankGrid,
               srcCol: String = "src", dstCol: String = "dst",
               danglingRedistribute: Boolean = false,
               initialRanks: Option[DataFrame] = None): DataFrame =
    pageRankBody(edges, None, iters, dampingPct, grid, srcCol, dstCol,
                 danglingRedistribute, initialRanks)

  /** Personalized (topic-sensitive) PageRank: the teleport term lands
    * ONLY on the `seeds` node set — rank flows outward from trusted
    * seeds through links, and a node scores high exactly when it is
    * well-connected TO the seed neighborhood. The corpus-curation use:
    * seed with editorially-vetted documents (or domains) and use the
    * propagated score as a quality prior over the whole crawl — the
    * "quality flows from trusted pages" heuristic as one query.
    *
    * Same integral arithmetic as [[pageRank]] with
    * base(v) = (100−d)·grid·[v ∈ seeds]: seed ranks start at `grid`,
    * non-seed at 0, and each round is the identical join+sum shape (the
    * seed flag rides the skinny node frame — no extra join, and it is
    * an explicit flag, so dampingPct = 100 — pure link propagation from
    * the seeds, every base term 0 — works like any other damping). Nodes
    * unreachable from every seed stay exactly 0 — the integral
    * arithmetic makes "outside the seed component" a crisp zero, not an
    * epsilon. Seeds not appearing in the edge list are ignored (the
    * rank universe is the graph's nodes).
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iters: Int = 3, dampingPct: Int = 85,
                           grid: Long = PageRankGrid,
                           srcCol: String = "src", dstCol: String = "dst",
                           seedCol: String = "node_id"): DataFrame =
    pageRankBody(edges,
                 Some(seeds.select(col(seedCol).cast("long").as("node_id"))),
                 iters, dampingPct, grid, srcCol, dstCol)

  private def pageRankBody(edges: DataFrame, seeds: Option[DataFrame],
                           iters: Int, dampingPct: Int, grid: Long,
                           srcCol: String, dstCol: String,
                           danglingRedistribute: Boolean = false,
                           initialRanks: Option[DataFrame] = None)
      : DataFrame = {
    require(iters >= 1, s"pageRank: iters must be >= 1, got $iters")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"pageRank: dampingPct must be in [0, 100], got $dampingPct")
    require(grid >= 1L, s"pageRank: grid must be >= 1, got $grid")
    iterate(GraphAlgo.PageRank(iters, dampingPct, grid, danglingRedistribute,
                               seeds.isDefined, initialRanks.isDefined),
            Seq(edgePairs(edges, srcCol, dstCol)) ++ seeds ++
              initialRanks.map(_.select(col("node_id").cast("long"),
                                        col("pr_micro").cast("long"))))
  }

  /** The `(src, dst)` bigint edge input of an iteration. */
  private def edgePairs(edges: DataFrame, srcCol: String,
                        dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("src"),
                 col(dstCol).cast("long").as("dst"))

  /** The frame of one [[GraftGraphIterate]] node over `inputs` (edges
    * first). The aliasing select gives the frame output ids of its own,
    * so a self-join of the result resolves like any projected frame. */
  private def iterate(algo: GraphAlgo, inputs: Seq[DataFrame]): DataFrame = {
    val spark = inputs.head.sparkSession
    GraftSession.ensureExtensions(spark)
    GraftSqlBridge.ofRows(spark,
        GraftGraphIterate(algo, inputs.map(GraftSqlBridge.logicalPlan)))
      .select(algo.columns.map(c => col(c).as(c)): _*)
  }

  /** HITS hubs-and-authorities over a directed edge list,
    * integer-exact. Each round: authority(v) = Σ_{u→v} hub(u), then
    * hub(u) = Σ_{u→v} authority(v), each side RENORMALIZED to the grid
    * by its maximum — `x·grid div max(x)` in long arithmetic — instead
    * of the float L2 norm, so every state value stays an exact integer
    * in [0, grid] and the fixpoint is engine-independent. The max
    * renormalization preserves exactly what the operator is for (the
    * RANKING of hubs and of authorities; Kleinberg's L2 scaling choice
    * is itself arbitrary — any positive rescale keeps the same
    * principal direction). Nodes never appearing as a dst have
    * authority 0, never as a src hub 0. Returns
    * `(node_id, hub_micro, auth_micro)`.
    *
    * Overflow bound: a sum step holds ≤ maxDeg·grid ≤ n·grid per node
    * and the rescale multiplies by grid before dividing — n·grid² must
    * stay under 2⁶³, i.e. ~9·10⁶ nodes at the default grid; pass a
    * smaller grid (e.g. 10³ → 9·10¹² nodes) for bigger graphs. The
    * node count is known only once the node universe is shuffled, so the
    * check runs at execution, in the first renormalization's small job:
    * the action fails with an `IllegalArgumentException`. Each half-step
    * runs one such job (the global max); the rest is the caller's job.
    */
  def hits(edges: DataFrame, iters: Int = 3, grid: Long = PageRankGrid,
           srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 1, s"hits: iters must be >= 1, got $iters")
    require(grid >= 1L, s"hits: grid must be >= 1, got $grid")
    iterate(GraphAlgo.Hits(iters, grid), Seq(edgePairs(edges, srcCol, dstCol)))
  }

  /** Community detection by SYNCHRONOUS label propagation (Raghavan,
    * Albert & Kumara 2007) over the undirected view of the edge list —
    * the cheap community signal a curation pipeline uses to group
    * template families, link farms, or near-dup clusters beyond what
    * connected components sees (components merge everything reachable;
    * LPA splits a component along its dense cores).
    *
    * Semantics (every choice pinned for cross-engine exactness):
    * edges are deduplicated and mirrored (undirected); every node
    * starts labeled with its own id; each of the `iters` rounds
    * relabels EVERY node simultaneously with the most frequent label
    * among its neighbors, ties to the SMALLEST label. Synchronous
    * updates rather than the faster-converging asynchronous sweep
    * because async is visit-order-dependent — unreproducible across
    * partitionings, let alone engines. Sync LPA can oscillate
    * (2-colorable structures swap labels round-to-round), so
    * communities are read at a FIXED iteration budget — the standard
    * semi-synchronous practice; pick `iters` by corpus diameter, not
    * by waiting for a convergence that may never come.
    *
    * Scale shape: state is one skinny (node, label) stream per
    * partition; each round walks the mirrored edges beside it and
    * shuffles one map-side-combined count per (node, label), read back
    * sorted, so the argmax (count desc, label asc) streams each node's
    * labels — no window, no per-node buffer, and the whole budget runs
    * in the caller's one job.
    * Output: (node_id, community) where community is the final label.
    */
  def labelPropagation(edges: DataFrame, iters: Int = 4,
                       srcCol: String = "src", dstCol: String = "dst")
      : DataFrame = {
    require(iters >= 1, s"labelPropagation: iters must be >= 1, got $iters")
    iterate(GraphAlgo.LabelPropagation(iters),
            Seq(edgePairs(edges, srcCol, dstCol)))
  }
}
