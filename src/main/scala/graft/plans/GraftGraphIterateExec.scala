package graft.plans

import org.apache.spark.{Partitioner, ShuffleDependency, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{LocalTableScanExec, SQLExecution, ShuffledRowRDD, SortExec, SparkPlan, UnsafeRowSerializer}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics, SQLShuffleReadMetricsReporter}
import org.apache.spark.sql.types.LongType

/** Physical graph iteration: the whole fixed-budget loop of a
  * [[GraftGraphIterate]] as one RDD lineage over the children's rows, so
  * a PageRank or label propagation runs inside the caller's one action.
  *
  * Shape ([[GraphKernels]]): edges are deduplicated once, by one shuffle
  * into their source's partition, sorted; the node state lives in the
  * same partitions (`spark.sql.shuffle.partitions` of them), sorted by
  * node id. Each round is one map-side-combined shuffle keyed by the
  * receiving node: a partition walks its sorted edges beside its sorted
  * state (a merge, narrow on both sides — no adjacency is collected, so
  * a hub streams), emits one contribution per edge plus each node's own
  * state record, and the reduce side reads back exactly its own nodes'
  * states and in-sums. The state records ride the round's shuffle to
  * the partition they already live in instead of a narrow dependency on
  * the previous round: nothing is persisted, so a narrow chain would be
  * recomputed from round 0 by every later round, while a shuffle
  * boundary per round keeps both the work and the lineage each stage
  * carries linear in `iters`.
  *
  * Global scalars are small jobs on the driver: the dangling mass of a
  * redistributing PageRank once per round, HITS's max renormalization
  * once per half-step. Everything else runs in the caller's job.
  *
  * Rows are placed by the Java hash of the node id, not SQL's Murmur3
  * `HashPartitioning`, so the output reports `UnknownPartitioning`.
  */
case class GraftGraphIterateExec(algo: GraphAlgo, output: Seq[Attribute],
                                 children: Seq[SparkPlan]) extends SparkPlan {

  override def outputPartitioning: Partitioning = UnknownPartitioning(0)

  override def simpleString(maxFields: Int): String =
    s"GraftGraphIterate ${algo.describe}"

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numEdges" -> SQLMetrics.createMetric(sparkContext, "number of edges after dedup"),
    "numNodes" -> SQLMetrics.createMetric(sparkContext, "number of nodes"),
    "iterations" -> SQLMetrics.createMetric(sparkContext, "iterations"))

  // built once per plan instance: HITS and dangling PageRank run their
  // scalar jobs while the lineage is built
  @transient private lazy val result: RDD[InternalRow] = {
    val iterations = longMetric("iterations")
    iterations.set(algo.iters.toLong)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), Seq(iterations))
    val k = GraphKernels.ctx(conf.numShufflePartitions, longMetric("numEdges"),
                             longMetric("numNodes"))
    val inputs = children.map(_.execute())
    val edges = GraphKernels.edges(inputs.head)
    val rows = algo match {
      case p: GraphAlgo.PageRank =>
        GraphKernels.pageRank(p, edges, if (p.personalized) Some(inputs(1)) else None,
                              if (p.warmStart) Some(inputs.last) else None, k)
      case h: GraphAlgo.Hits => GraphKernels.hits(h, edges, k)
      case l: GraphAlgo.LabelPropagation => GraphKernels.labelPropagation(l, edges, k)
    }
    val numOut = longMetric("numOutputRows")
    val types = output.map(_.dataType).toArray
    rows.mapPartitions { it =>
      val proj = UnsafeProjection.create(types)
      it.map { r => numOut += 1; proj(r) }
    }
  }

  override protected def doExecute(): RDD[InternalRow] = result

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[SparkPlan]): GraftGraphIterateExec =
    copy(children = newChildren)
}

/** The iteration kernels of [[GraftGraphIterateExec]].
  *
  * Every shuffled record is a four-long [[UnsafeRow]] `(n, m, x, y)`: a
  * node id `n` (nullable: the null id), a second key `m` (an edge's
  * target, a vote's label, or a record kind that orders a node's
  * records), and two values. Exchanges move rows with the SQL row
  * serializer into the node's partition and sort them by `(n, m)`, nulls
  * first, with the SQL external sorter — the spillable machinery every
  * query's sort and exchange already run, so the rounds neither walk
  * object graphs nor pay cold code. A combining exchange sorts and merges
  * equal keys on both sides of the shuffle (`x` OR-ed, `y` summed), so at
  * most one row per (map partition, key) is shipped.
  *
  * Every quantity is a long combined by exact, order-free sums, so
  * results do not depend on the partitioning; the arithmetic is
  * `Math.*Exact`, so an overflow fails as Spark's ANSI long arithmetic
  * does. */
private[plans] object GraphKernels {

  /** A node's own record sorts before what it receives. */
  private final val Self = 0L
  private final val In = 1L

  final case class Ctx(partitions: Int, sorter: SortExec,
                       numEdges: SQLMetric, numNodes: SQLMetric)

  def ctx(partitions: Int, numEdges: SQLMetric, numNodes: SQLMetric): Ctx = {
    val cols = Seq("n", "m", "x", "y").zipWithIndex.map { case (c, i) =>
      AttributeReference(c, LongType, nullable = i < 2)() }
    Ctx(partitions,
        SortExec(cols.take(2).map(SortOrder(_, Ascending)), global = false,
                 LocalTableScanExec(cols, Nil, None)),
        numEdges, numNodes)
  }

  /** A fresh record row. */
  private def row(nNull: Boolean, n: Long, mNull: Boolean, m: Long,
                  x: Long, y: Long): InternalRow = {
    val r = new UnsafeRow(4)
    r.pointTo(new Array[Byte](40), 40)
    if (nNull) r.setNullAt(0) else r.setLong(0, n)
    if (mNull) r.setNullAt(1) else r.setLong(1, m)
    r.setLong(2, x)
    r.setLong(3, y)
    r
  }

  /** `(src, dst)` input rows as edge records. */
  def edges(rows: RDD[InternalRow]): RDD[InternalRow] = rows.mapPartitions(_.map { r =>
    row(r.isNullAt(0), r.getLong(0), r.isNullAt(1), r.getLong(1), 0L, 0L)
  })

  /** Input rows with a non-null id in column 0: `f(id, row)`. */
  def nodes(rows: RDD[InternalRow])(f: (Long, InternalRow) => InternalRow): RDD[InternalRow] =
    rows.mapPartitions(_.filter(!_.isNullAt(0)).map(r => f(r.getLong(0), r)))

  private final class Passthrough(override val numPartitions: Int) extends Partitioner {
    override def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** The partition of a node: the null id in 0. */
  private def partitionOf(r: InternalRow, partitions: Int): Int =
    if (r.isNullAt(0)) 0
    else { val h = java.lang.Long.hashCode(r.getLong(0)) % partitions; if (h < 0) h + partitions else h }

  private def sameKey(a: InternalRow, b: InternalRow): Boolean =
    a.isNullAt(0) == b.isNullAt(0) && a.getLong(0) == b.getLong(0) &&
      a.isNullAt(1) == b.isNullAt(1) && a.getLong(1) == b.getLong(1)

  /** `it` sorted by `(n, m)`; when `combine`, one row per key. Each row
    * returned is a copy the caller may keep. */
  private def sorted(sorter: SortExec, it: Iterator[InternalRow],
                     combine: Boolean): Iterator[InternalRow] = {
    val s = sorter.createSorter().sort(it.asInstanceOf[Iterator[UnsafeRow]]).buffered
    new Iterator[InternalRow] {
      def hasNext: Boolean = s.hasNext
      def next(): InternalRow = {
        val out = s.next().copy()
        while (combine && s.hasNext && sameKey(s.head, out)) {
          val r = s.next()
          out.setLong(2, out.getLong(2) | r.getLong(2))
          out.setLong(3, Math.addExact(out.getLong(3), r.getLong(3)))
        }
        out
      }
    }
  }

  /** `rows` moved into their node's partition and sorted by `(n, m)`;
    * equal keys combined before the shuffle when `mapSide`, after it
    * when `reduceSide`. */
  private def exchange(rows: RDD[InternalRow], k: Ctx, mapSide: Boolean,
                       reduceSide: Boolean): RDD[InternalRow] = {
    val (sorter, parts) = (k.sorter, k.partitions)
    val keyed = rows.mapPartitions { it =>
      (if (mapSide) sorted(sorter, it, combine = true) else it)
        .map(r => (partitionOf(r, parts), r))
    }
    val dep = new ShuffleDependency[Int, InternalRow, InternalRow](
      keyed, new Passthrough(parts), new UnsafeRowSerializer(4, null))
    new ShuffledRowRDD(dep, SQLShuffleReadMetricsReporter.createShuffleReadMetrics(rows.sparkContext))
      .mapPartitions(sorted(sorter, _, reduceSide), preservesPartitioning = true)
  }

  /** Walks a partition's sorted rows beside a node stream sorted the same
    * way: `from(isNull, id)` skips the rows of smaller nodes and returns
    * the node's rows, which must be consumed before the next call. */
  private final class Walk(rows: Iterator[InternalRow]) {
    private val b = rows.buffered
    var walked = 0L

    private def cmp(r: InternalRow, isNull: Boolean, id: Long): Int =
      if (r.isNullAt(0)) { if (isNull) 0 else -1 }
      else if (isNull) 1
      else java.lang.Long.compare(r.getLong(0), id)

    def from(isNull: Boolean, id: Long): Iterator[InternalRow] = {
      while (b.hasNext && cmp(b.head, isNull, id) < 0) { b.next(); walked += 1 }
      new Iterator[InternalRow] {
        def hasNext: Boolean = b.hasNext && cmp(b.head, isNull, id) == 0
        def next(): InternalRow = { walked += 1; b.next() }
      }
    }

    /** Each node with its rows (consume each before the next). */
    def runs: Iterator[(Boolean, Long, Iterator[InternalRow])] =
      new Iterator[(Boolean, Long, Iterator[InternalRow])] {
        def hasNext: Boolean = b.hasNext
        def next(): (Boolean, Long, Iterator[InternalRow]) = {
          val (isNull, id) = (b.head.isNullAt(0), b.head.getLong(0))
          (isNull, id, from(isNull, id))
        }
      }
  }

  /** `s` with the round-1 walk's edge and node counts added to the
    * metrics when the task ends. */
  private def counted[S](k: Ctx, walk: Walk, s: Iterator[S]): Iterator[S] = {
    var nodes = 0L
    val (numEdges, numNodes) = (k.numEdges, k.numNodes)
    TaskContext.get().addTaskCompletionListener[Unit] { _ =>
      numEdges += walk.walked; numNodes += nodes }
    s.map { x => nodes += 1; x }
  }

  /** A node's value(s) between rounds. */
  final case class NodeVal(isNull: Boolean, id: Long, v: Long, w: Long)

  /** Per node of a round's exchanged rows that has a [[Self]] row: its
    * Self row's `x` and `y` and the sum of its [[In]] rows. */
  private def selfAndSum[T](rows: Iterator[InternalRow])(
      f: (Boolean, Long, Long, Long, Long) => T): Iterator[T] =
    new Walk(rows).runs.flatMap { case (isNull, id, rs) =>
      var (self, x, y, sum) = (false, 0L, 0L, 0L)
      rs.foreach { r =>
        if (r.getLong(1) == Self) { self = true; x = r.getLong(2); y = r.getLong(3) }
        else sum = Math.addExact(sum, r.getLong(3))
      }
      if (self) Iterator.single(f(isNull, id, x, y, sum)) else Iterator.empty
    }

  // ---- PageRank ------------------------------------------------------

  /** Node-universe record kinds, in the order a node's records sort. */
  private final val Source = 0L // y: out-degree
  private final val Target = 1L
  private final val Seed = 2L
  private final val Warm = 3L // x: 1 when the warm-start value is null, y: the value

  /** A node's state: out-degree, teleport base, rank mass, and the share
    * each out-edge carries (`mass div deg`, or the sum over duplicate
    * warm-start rows of each row's share). */
  final case class PrNode(isNull: Boolean, id: Long, deg: Long, base: Long,
                          mass: Long, share: Long)

  def pageRank(p: GraphAlgo.PageRank, edges: RDD[InternalRow],
               seeds: Option[RDD[InternalRow]], warm: Option[RDD[InternalRow]],
               k: Ctx): RDD[InternalRow] = {
    val (d, grid, personalized) = (p.dampingPct.toLong, p.grid, p.personalized)
    val baseAll = (100L - d) * grid
    // an edge with a null source carries no rank and makes no node; a
    // null target makes the null node, which receives nothing
    val e = exchange(edges.filter(!_.isNullAt(0)), k, mapSide = false, reduceSide = true)
    val universe = e.mapPartitions(it => new Walk(it).runs.flatMap { case (_, src, out) =>
      var deg = 0L
      out.map { r => deg += 1; row(r.isNullAt(1), r.getLong(1), false, Target, 0L, 0L) } ++
        Iterator.single(row(false, src, false, Source, 0L, deg))
    })
    val seeded = seeds.map(nodes(_)((id, _) => row(false, id, false, Seed, 0L, 0L)))
    val warmed = warm.map(nodes(_)((id, r) =>
      row(false, id, false, Warm, if (r.isNullAt(1)) 1L else 0L, r.getLong(1))))
    var state: RDD[PrNode] = exchange(
        e.sparkContext.union(universe +: (seeded.toSeq ++ warmed)), k,
        mapSide = false, reduceSide = false)
      .mapPartitions(it => new Walk(it).runs.flatMap { case (isNull, id, rs) =>
        var (node, seed, warmed, deg, mass, share) = (false, false, false, 0L, 0L, 0L)
        rs.foreach { r =>
          r.getLong(1) match {
            case Source => node = true; deg += r.getLong(3)
            case Target => node = true
            case Seed => seed = true
            case _ =>
              val v = if (r.getLong(2) == 1L) (if (!personalized || seed) grid else 0L)
                      else r.getLong(3)
              warmed = true
              mass = Math.addExact(mass, v)
              if (deg > 0) share = Math.addExact(share, v / deg)
          }
        }
        val on = !personalized || seed
        if (!warmed) { mass = if (on) grid else 0L; share = if (deg > 0) mass / deg else 0L }
        if (node) Iterator.single(PrNode(isNull, id, deg, if (on) baseAll else 0L, mass, share))
        else Iterator.empty
      }, preservesPartitioning = true)
    var n = 1L
    for (round <- 1 to p.iters) {
      val first = round == 1
      // the dangling mass of the state entering this round, and the node
      // count once: one small job each round
      val dsTerm = if (!p.dangling) 0L else {
        val (count, ds) = state.aggregate((0L, 0L))(
          { case ((c, m), nd) => (c + 1, if (nd.deg == 0) Math.addExact(m, nd.mass) else m) },
          { case ((c1, m1), (c2, m2)) => (c1 + c2, Math.addExact(m1, m2)) })
        if (first) n = count.max(1L)
        ds / n
      }
      val sent = e.zipPartitions(state, preservesPartitioning = true) { (eIt, sIt) =>
        val walk = new Walk(eIt)
        (if (first) counted(k, walk, sIt) else sIt).flatMap { nd =>
          Iterator.single(row(nd.isNull, nd.id, false, Self, nd.deg, nd.base)) ++
            walk.from(nd.isNull, nd.id).filter(!_.isNullAt(1))
              .map(r => row(false, r.getLong(1), false, In, 0L, nd.share))
        }
      }
      state = exchange(sent, k, mapSide = true, reduceSide = true).mapPartitions(it =>
        selfAndSum(it) { (isNull, id, deg, base, sum) =>
          val r = Math.addExact(base, Math.multiplyExact(d, Math.addExact(sum, dsTerm))) / 100
          PrNode(isNull, id, deg, base, r, if (deg > 0) r / deg else 0L)
        }, preservesPartitioning = true)
    }
    state.map(nd => InternalRow(if (nd.isNull) null else nd.id, nd.mass))
  }

  // ---- HITS ----------------------------------------------------------

  def hits(p: GraphAlgo.Hits, edges: RDD[InternalRow], k: Ctx): RDD[InternalRow] = {
    val grid = p.grid
    def rescale(x: Long, max: Long): Long =
      if (max > 0) Math.multiplyExact(x, grid) / max else 0L
    def maxOf(r: RDD[NodeVal]): (Long, Long) =
      r.aggregate((0L, 0L))({ case ((m, c), nv) => (m.max(nv.w), c + 1) },
                            { case ((m1, c1), (m2, c2)) => (m1.max(m2), c1 + c2) })
    // one half-step: each node's Self row carries `v`, each edge of `es`
    // walked from the node sends `send(node)` to its target; the result
    // holds (v, in-sum) per node
    def half(es: RDD[InternalRow], st: RDD[NodeVal], first: Boolean)(
        send: NodeVal => Long): RDD[NodeVal] =
      exchange(es.zipPartitions(st, preservesPartitioning = true) { (eIt, sIt) =>
        val walk = new Walk(eIt)
        (if (first) counted(k, walk, sIt) else sIt).flatMap { nv =>
          val s = send(nv)
          Iterator.single(row(nv.isNull, nv.id, false, Self, nv.v, 0L)) ++
            walk.from(nv.isNull, nv.id).filter(r => !r.isNullAt(0) && !r.isNullAt(1))
              .map(r => row(false, r.getLong(1), false, In, 0L, s))
        }
      }, k, mapSide = true, reduceSide = true).mapPartitions(it =>
        selfAndSum(it)((isNull, id, v, _, sum) => NodeVal(isNull, id, v, sum)),
        preservesPartitioning = true)
    // every endpoint is a node, the null id too (it counts toward n);
    // only edges with two non-null ends carry scores
    val all = exchange(edges, k, mapSide = false, reduceSide = true)
    val byDst = exchange(all.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
                           .map(r => row(false, r.getLong(1), false, r.getLong(0), 0L, 0L)),
                         k, mapSide = false, reduceSide = false)
    // node state: v = the authority of the last round, w = the raw hub sum
    var st: RDD[NodeVal] = exchange(all.flatMap(r => Iterator(
        row(r.isNullAt(0), r.getLong(0), false, Self, 0L, 0L),
        row(r.isNullAt(1), r.getLong(1), false, Self, 0L, 0L))), k,
        mapSide = true, reduceSide = true)
      .mapPartitions(_.map(r => NodeVal(r.isNullAt(0), r.getLong(0), 0L, 1L)),
                     preservesPartitioning = true)
    var mh = 1L // so that the initial hub rescales to `grid`
    for (round <- 1 to p.iters) {
      val first = round == 1
      val hubMax = mh
      val authRaw = half(all, st, first)(nv => rescale(nv.w, hubMax))
      val (ma, n) = maxOf(authRaw)
      if (first) require(n <= Long.MaxValue / grid / grid,
        s"hits: $n nodes at grid $grid risks 64-bit overflow in the " +
        "rescale step — pass a smaller grid")
      st = half(byDst, authRaw.map(nv => nv.copy(v = rescale(nv.w, ma))), first = false)(_.v)
      mh = maxOf(st)._1
    }
    // the null node is not in the result
    val m = mh
    st.collect { case nv if !nv.isNull => InternalRow(nv.id, rescale(nv.w, m), nv.v) }
  }

  // ---- label propagation ---------------------------------------------

  def labelPropagation(p: GraphAlgo.LabelPropagation, edges: RDD[InternalRow],
                       k: Ctx): RDD[InternalRow] = {
    // the undirected view: each edge both ways, from its non-null ends
    val und = exchange(edges.flatMap { r =>
      val (sNull, s, tNull, t) = (r.isNullAt(0), r.getLong(0), r.isNullAt(1), r.getLong(1))
      (if (!sNull) Iterator(row(false, s, tNull, t, 0L, 0L)) else Iterator.empty) ++
        (if (!tNull) Iterator(row(false, t, sNull, s, 0L, 0L)) else Iterator.empty)
    }, k, mapSide = false, reduceSide = true)
    // a vote for label l at node v is the row (v, l, 0, count); per node
    // the label with the highest count wins, ties to the smallest (the
    // first of its sorted labels)
    def tally(votes: RDD[InternalRow]): RDD[NodeVal] =
      exchange(votes, k, mapSide = true, reduceSide = true).mapPartitions(it =>
        new Walk(it).runs.map { case (isNull, id, rs) =>
          var (best, label) = (0L, 0L)
          rs.foreach(r => if (r.getLong(3) > best) { best = r.getLong(3); label = r.getLong(1) })
          NodeVal(isNull, id, label, 0L)
        }, preservesPartitioning = true)
    // round 1: every node starts labeled with its own id
    var labels = tally(und.mapPartitions { it =>
      val walk = new Walk(it)
      counted(k, walk, walk.runs).flatMap { case (_, u, out) =>
        out.map(r => row(r.isNullAt(1), r.getLong(1), false, u, 0L, 1L))
      }
    })
    for (_ <- 2 to p.iters) {
      labels = tally(und.zipPartitions(labels, preservesPartitioning = true) { (eIt, sIt) =>
        val walk = new Walk(eIt)
        sIt.flatMap { nv =>
          walk.from(nv.isNull, nv.id).map(r => row(r.isNullAt(1), r.getLong(1), false, nv.v, 0L, 1L))
        }
      })
    }
    labels.map(nv => InternalRow(if (nv.isNull) null else nv.id, nv.v))
  }
}
