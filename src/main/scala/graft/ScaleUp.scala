package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-proof data generator: tiles the sf0.1 fact tables `copies`× into a
  * synthetic sf1 directory so Bench can demonstrate 10× scaling behavior
  * (VERDICT r1 item 7). Dimensions copy through unchanged (TPC-H dims grow
  * sub-linearly and every dim join is broadcast anyway); fact tables get
  * per-copy key shifts so joins/groupings keep their selectivity.
  *
  * Text and vectors must NOT be replicated verbatim — identical copies
  * would add quadratic cross-copy near-duplicate pairs and change the
  * dedup workload's shape instead of its size. Instead:
  *   - documents: copy k applies an affine substitution cipher (kills
  *     cross-copy gram overlap) plus a 257·k-char circular rotation
  *     (kills cross-copy perceptual similarity — substitution alone is
  *     first-order invisible to segment-energy deltas); both are
  *     length-preserving and copy-uniform, so near-dup structure is
  *     preserved WITHIN a copy and pairs scale linearly in EVERY dedup
  *     family, textual and perceptual;
  *   - embeddings: copy k circularly shifts each vector by k positions
  *     (within-copy cosines exactly preserved; cross-copy cosines decay to
  *     background) — ANN/near-dup structure scales linearly.
  *
  *   sbt "runMain graft.ScaleUp /root/testdata/sf0.1 /tmp/graft_sf1 10"
  */
object ScaleUp {

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.builder("local[32]")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String, files: Int): Unit =
      df.coalesce(files).write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // dimensions: verbatim
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => write(read(t), t, 1))

    val Shift = 10000000L

    /** `copies` copies in one pass; `f(copyCol)` transforms each copy. */
    def tile(df: DataFrame)(f: (DataFrame, Column) => DataFrame): DataFrame = {
      val tiled = df.withColumn("__copy",
        explode(sequence(lit(0), lit(copies - 1))))
      f(tiled, col("__copy")).drop("__copy")
    }

    write(tile(read("lineitem")) { (d, c) =>
      d.withColumn("l_orderkey", col("l_orderkey") + c * Shift)
    }, "lineitem", 16)

    write(tile(read("orders")) { (d, c) =>
      d.withColumn("o_orderkey", col("o_orderkey") + c * Shift)
    }, "orders", 8)

    write(tile(read("events")) { (d, c) =>
      d.withColumn("event_id", col("event_id") + c * Shift)
        .withColumn("user_id", col("user_id") + c * Shift)
    }, "events", 8)

    // per-copy AFFINE substitution cipher + per-copy CIRCULAR ROTATION
    // (both length-preserving, so n_chars stays true; both identical
    // within a copy, so near-dup structure is preserved copy-locally
    // and dedup pair volume scales linearly — a rotation preserves the
    // shingle SET up to q-1 wrap-boundary shingles, and exact twins
    // rotate identically). Two transforms because they break different
    // invariances (VERDICT r15 #6 — r15's rotation-cipher copies were
    // invisible to perceptual signatures): the affine multiplier kills
    // cross-copy text-GRAM overlap (adjacent letters land far apart in
    // the permutation), and the 257·k-char rotation kills cross-copy
    // PERCEPTUAL similarity — any per-letter substitution alone shifts
    // every 256-pixel segment's energy nearly uniformly (letter
    // frequencies are homogeneous at segment scale), so delta-energy
    // rise bits barely move (measured: median hamming 9, 15% of docs
    // within the ≤4 pair threshold), while rotating content across the
    // segment grid decorrelates the energy PROFILE itself (median
    // hamming 26, none ≤4). Copy 0 is the original corpus.
    val As = Array(3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25) // coprime w/ 26
    def affine(k: Int): String = {
      val a = As(k % As.length)
      def perm(alpha: String): String =
        (0 until 26).map(i => alpha((a * i + k) % 26)).mkString
      perm(Lower) + perm(Upper)
    }
    write(tile(read("documents")) { (d, c) =>
      val len = length(col("text"))
      val ciphered = (1 until copies).foldLeft(col("text")) { (acc, k) =>
        val t = translate(col("text"), Lower + Upper, affine(k))
        val o = lit(257 * k) % greatest(len, lit(1))
        when(c === k, concat(t.substr(o + lit(1), len - o),
                             t.substr(lit(1), o)))
          .otherwise(acc)
      }
      d.withColumn("doc_id", col("doc_id") + c * Shift)
        .withColumn("text", ciphered)
    }, "documents", 8)

    // per-copy circular shift of the embedding (orthogonal permutation:
    // within-copy cosines identical, cross-copy ~background)
    write(tile(read("embeddings")) { (d, c) =>
      val dim = 64
      val shifted = (1 until copies).foldLeft(col("embedding")) { (acc, k) =>
        val s = k % dim
        when(c === k,
             concat(slice(col("embedding"), s + 1, dim - s),
                    slice(col("embedding"), 1, s)))
          .otherwise(acc)
      }
      d.withColumn("vec_id", col("vec_id") + c * Shift)
        .withColumn("embedding", shifted)
    }, "embeddings", 4)

    println(s"[scaleup] wrote ${copies}x of $src to $dst")
    spark.stop()
  }
}
