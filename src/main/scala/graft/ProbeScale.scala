package graft

import org.apache.spark.sql.functions._

/** Measurement main behind SCALE.md's "two-level centroid probe" section:
  * times the FLAT probe ([[graft.operators.GraftSimilarity.probeCells]] —
  * one M·dim-struct broadcast row, M·dim cosines per query) against the
  * COARSE two-level probe ([[graft.operators.GraftSimilarity.probeCellsCoarse]])
  * over synthetic centroid sets at growing dim, holding M and |Q| fixed —
  * the axis on which the flat folded row grows past single-row comfort.
  *
  *   sbt "runMain graft.ProbeScale [M] [Q] [dims,csv]"
  */
object ProbeScale {
  def main(args: Array[String]): Unit = {
    val m = args.lift(0).map(_.toInt).getOrElse(4096)
    val nq = args.lift(1).map(_.toInt).getOrElse(256)
    val dims = args.lift(2).map(_.split(',').map(_.toInt).toSeq)
      .getOrElse(Seq(64, 256, 1024))
    val spark = GraftSession.getOrCreate("local[32]")
    import graft.operators.GraftSimilarity

    def synth(n: Int, dim: Int, salt: Int) = spark.range(n)
      .select(col("id").as("c_id"),
              expr(s"""transform(sequence(1, $dim),
                       j -> cast(pmod(xxhash64(id * $dim + j + $salt), 997)
                                 AS double) / 997.0 + 0.001)""").as("cv"))

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    for (dim <- dims) {
      val cents = synth(m, dim, 0).persist()
      val q = synth(nq, dim, 7919)
        .select(col("c_id").as("q_id"), col("cv").as("qv")).persist()
      cents.count(); q.count()
      val rowMB = m.toLong * dim * 8 / 1e6
      val (_, warmFlat) = time(GraftSimilarity
        .probeCells(q, cents, 8, Seq("q_id")).count())
      val (nFlat, tFlat) = time(GraftSimilarity
        .probeCells(q, cents, 8, Seq("q_id")).count())
      val (coarse, tBuild) = time {
        val c = GraftSimilarity.buildCoarseQuantizer(cents)
        c.superCents.persist().count(); c.grouped.persist().count(); c
      }
      val nSupers = coarse.superCents.count()
      val (_, warmCoarse) = time(GraftSimilarity
        .probeCellsCoarse(q, coarse, 4, 8, Seq("q_id")).count())
      val (nCoarse, tCoarse) = time(GraftSimilarity
        .probeCellsCoarse(q, coarse, 4, 8, Seq("q_id")).count())
      println(f"[probescale] dim=$dim%4d M=$m Q=$nq foldedRow=$rowMB%.1f MB " +
        f"supers=$nSupers flat=$tFlat%.2f s (warm $warmFlat%.2f) " +
        f"coarse=$tCoarse%.2f s (warm $warmCoarse%.2f, build $tBuild%.2f) " +
        f"rows flat=$nFlat coarse=$nCoarse")
      cents.unpersist(); q.unpersist()
      coarse.superCents.unpersist(); coarse.grouped.unpersist()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
