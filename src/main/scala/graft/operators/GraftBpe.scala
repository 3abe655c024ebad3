package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE vocabulary training and segmentation (Sennrich et al.
  * 2016, "Neural Machine Translation of Rare Words with Subword Units" —
  * the `learn_bpe` algorithm re-expressed as relational rounds).
  *
  * Scale shape — the part that matters at 100 TB: the CORPUS is touched
  * exactly once (tokenize + word count, one shuffle on the word key);
  * every merge round runs over the distinct-word VOCABULARY, which is
  * orders of magnitude smaller and independent of corpus size past
  * saturation. A round is one (a, b)-keyed aggregation over vocab plus a
  * one-row broadcast argmax applied as a pure map — no corpus re-scan,
  * no driver-side loop over data, no shuffle wider than the vocab.
  *
  * Determinism — the part that makes it oracle-able: counts are integers,
  * the argmax tie-breaks (count desc, a asc, b asc), and the greedy
  * left-to-right non-overlapping merge application is expressed as ANSI
  * `replace` over a double-space-joined symbol string: `replace` scans
  * left to right, never rescans its own output, and consumes its match —
  * exactly `learn_bpe`'s regex substitution — and the double-space
  * separator keeps one delimiting space on each side of a consumed match
  * so adjacent occurrences still match. A SQL engine replays every round
  * with the same `replace`.
  */
object GraftBpe {

  /** Initial symbol state of a word: one symbol per character,
    * double-space joined ("low" → "l  o  w"). */
  def initState(word: Column): Column =
    array_join(filter(split(word, ""), x => length(x) > 0), "  ")

  /** (cnt, s) vocabulary of a corpus: distinct whitespace words with
    * their counts and initial symbol states. The ONE corpus-sized job. */
  def vocab(docs: DataFrame, textCol: String): DataFrame =
    ScaleHints.fanOut(docs.select(col(textCol)))
      .select(explode(GraftText.whitespaceTokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), initState(col("w")).as("s"))

  /** The round's best pair over a (cnt, s) vocab: adjacent-pair counts
    * (overlapping, as in `learn_bpe.get_stats`) summed by word count,
    * argmax with the deterministic tie-break. One row. */
  private def bestPair(v: DataFrame): DataFrame =
    v.select(col("cnt"), split(col("s"), "  ").as("l"))
      .filter(size(col("l")) >= 2)
      .select(col("cnt"), explode(expr(
        """transform(sequence(1, size(l) - 1),
          |  i -> struct(element_at(l, i) AS a,
          |              element_at(l, i + 1) AS b))""".stripMargin)).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("cnt").as("pair_count"))
      .orderBy(col("pair_count").desc, col("a"), col("b"))
      .limit(1)

  /** Greedy non-overlapping application of the (broadcast) pair columns
    * `__a`, `__b` to the state column `s`. */
  private val applyMerge: Column = expr(
    """trim(replace(concat(' ', s, ' '),
      |              concat(' ', __a, '  ', __b, ' '),
      |              concat(' ', __a, __b, ' ')))""".stripMargin)

  /** Learn the top-`merges` BPE merges from a corpus. Returns
    * (merge_rank, pair_a, pair_b, pair_count) — one row per learned
    * merge, rank 1 first. */
  def bpeTrain(docs: DataFrame, textCol: String = "text",
               merges: Int = 4): DataFrame = {
    require(merges >= 1 && merges <= 16,
      s"bpeTrain: merges must be in [1, 16], got $merges")
    // the vocab is the per-round input; a leaf, which is what makes each
    // round vocab-sized instead of corpus-sized
    var v = vocab(docs, textCol).localCheckpoint(eager = false)
    var result: DataFrame = null
    for (k <- 1 to merges) {
      val best = bestPair(v)
      val row = best.select(lit(k.toLong).as("merge_rank"),
                            col("a").as("pair_a"), col("b").as("pair_b"),
                            col("pair_count"))
      result = if (result == null) row else result.union(row)
      v = v.crossJoin(broadcast(
            best.select(col("a").as("__a"), col("b").as("__b"))))
        .withColumn("s", applyMerge)
        .drop("__a", "__b")
    }
    result
  }

  /** Segment a corpus with an already-learned merge table (the
    * train/apply split — same pattern as the DSIR weights): the merges
    * are collected ONCE at setup (O(merges), not O(data)) and folded
    * into a chain of `replace` expressions, so application is a single
    * stateless projection — streaming-ready, zero joins, zero state.
    * Returns docs with `bpe_tokens` (the subword array of the whole
    * document, word subwords concatenated in order). */
  def bpeSegment(docs: DataFrame, mergeTable: DataFrame,
                 textCol: String = "text"): DataFrame = {
    val ms = mergeTable
      .select(col("merge_rank").cast("long"),
              col("pair_a").cast("string"), col("pair_b").cast("string"))
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2)))
    require(ms.nonEmpty, "bpeSegment: empty merge table")
    // fold the merge chain over a word's state with Column-API lambdas —
    // pairs bind as `lit` values, never as spliced SQL string literals
    // (a symbol containing a quote or backslash must not change the plan)
    def chainOf(w: Column): Column = {
      val init = array_join(
        filter(split(w, ""), x => length(x) > lit(0)), "  ")
      ms.foldLeft(init) { case (acc, (a, b)) =>
        trim(org.apache.spark.sql.functions.replace(
          concat(lit(" "), acc, lit(" ")),
          concat(lit(" "), lit(a), lit("  "), lit(b), lit(" ")),
          concat(lit(" "), lit(a + b), lit(" "))))
      }
    }
    // the replace-chain lambda is interpreted per WORD (HOF codegen
    // fallback) — buy width for it when the corpus packs into fewer
    // splits than cores (self-canceling at scale; ScaleHints.fanOut)
    ScaleHints.fanOut(docs).withColumn("bpe_tokens",
      flatten(transform(
        filter(split(trim(col(textCol)), "\\s+"),
               w => length(w) > lit(0)),
        w => split(chainOf(w), "  "))))
  }
}
