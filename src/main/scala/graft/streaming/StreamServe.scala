package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.GraftSimilarity
import graft.operators.GraftSimilarity.IvfIndex

/** The stream-serve kernel behind the streaming serves
  * ([[CorpusStreams.ivfServeStream]], [[CorpusStreams.pqServeStream]],
  * [[CorpusStreams.hybridServeStream]] and its stored and pruned twins,
  * [[CorpusStreams.mmrServeStream]], [[CorpusStreams.maxSimServeStream]]).
  * A serve answers an unbounded stream of (q_id, ts, qv) queries against
  * a STATIC index, value-identical per query to its batch twin; this
  * kernel owns the query contract, the IVF probe leg and the per-query
  * top-k tail, and each serve supplies only its legs, its cut and its
  * fusion.
  *
  * Poison pill. A zero-norm or dim-mismatched query vector has no defined
  * cosine against the index: the batch serves FAIL LOUDLY (probeCells'
  * assert, graft_cosine's strict-length throw — right for a one-shot
  * job), but in a long-running serve one malformed row would become a
  * checkpoint-replayed poison pill that wedges the service. The query
  * contract DROPS such rows before any probe instead: they get no answer
  * (exactly what the batch error reports), every other in-flight query is
  * served, and the stream lives. A serve with a second leg drops the
  * whole query — a half-answered query would be worse than an unanswered
  * one. StreamingSpec pins the drop for every vector serve.
  *
  * State bound. Every stateful stage is an append-mode aggregation keyed
  * on the query's (q_id, ts) and finalized when the watermark — the
  * serve's `latenessMinutes` behind the newest query — clears the query's
  * event time, so state is O(in-flight queries), never O(stream), and a
  * row arriving later than the bound is dropped with its query already
  * answered. `latenessMinutes` is the answer-latency / reorder-tolerance
  * dial.
  */
private[streaming] object StreamServe {

  /** A streaming query's grouping keys, its id and event time: the top-k
    * tail is [[graft.operators.GraftSimilarity.topK]] on these keys. */
  val Keys: Seq[String] = Seq("q_id", "ts")

  /** The array width of column `c` in the first row of `frame`, read
    * once at stream setup; `empty` is the error when `frame` has no rows. */
  def width(frame: DataFrame, c: String, empty: String): Int =
    frame.select(size(col(c))).limit(1).collect() match {
      case Array(r) => r.getInt(0)
      case _ => throw new IllegalStateException(empty)
    }

  /** The embedding dim of an IVF index, read from its tiny centroids
    * frame (√N rows, a checkpoint leaf). */
  def indexDim(index: IvfIndex, serve: String): Int =
    width(index.centroids, "cv", s"$serve: index has no centroids")

  /** The query contract: (q_id as long, ts, `carry`…, qv as
    * array&lt;double&gt;), zero-norm and not-`dim` queries dropped, the
    * watermark applied. `dim` is read once, after the session's graft
    * extensions are installed. */
  def queries(queries: DataFrame, dim: => Int, latenessMinutes: Long,
              qIdCol: String, qVecCol: String, tsCol: String,
              carry: Column*): DataFrame = {
    require(latenessMinutes > 0,
      s"latenessMinutes must be positive, got $latenessMinutes")
    graft.GraftSession.ensureExtensions(queries.sparkSession)
    val d = dim
    queries
      .select((col(qIdCol).cast("long").as("q_id") +: col(tsCol).as("ts") +:
               carry :+
               expr(s"transform($qVecCol, x -> cast(x AS double))").as("qv"))
              : _*)
      .filter(expr("aggregate(qv, 0D, (a, x) -> a + x * x) > 0D") &&
              expr(s"size(qv) = $d"))
      .withWatermark("ts", s"$latenessMinutes minutes")
  }

  /** The semantic leg, stateless and stream-static: each query probes its
    * `nprobe` nearest cells (the batch
    * [[graft.operators.GraftSimilarity.probeCells]] map, shared code),
    * joins their candidates on `c_id` — cut first by `where`, so the join
    * ships only filter-satisfying candidates (an
    * [[graft.operators.IvfObjectStore.read]] store serves identically;
    * micro-batch planning is not asserted to prune files) — drops the
    * query's own id and scores `graft_cosine`: (q_id, ts, n_id, c). */
  def probe(q: DataFrame, index: IvfIndex, nprobe: Int,
            where: Option[Column] = None): DataFrame =
    GraftSimilarity
      .probeCells(q.select(col("q_id"), col("ts"), col("qv")),
                  index.centroids, nprobe, Seq("q_id", "ts", "qv"))
      .join(where.fold(index.assigned)(index.assigned.filter(_)), "c_id")
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("ts"), col("n_id"),
              expr("graft_cosine(qv, v)").as("c"))
}
