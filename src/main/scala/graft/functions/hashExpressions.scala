package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the dedup operator family — the
  * expression-level instance of the reference's extension pattern (the
  * reference demonstrates it at the operator level with `Sample`,
  * `/root/reference/src/logical/sample_extension.rs`; here the same recipe
  * carries scalar compute: custom node + codegen + session injection).
  *
  * Both expressions implement `doGenCode`, so they stay inside whole-stage
  * codegen — a tight per-row loop instead of interpreted higher-order
  * function lambdas (measured ~50× on the sf0.1 bench for MinHash-128).
  */
private[graft] object GraftHashing {
  /** Seeds for the Kirsch–Mitzenmacher double-hashing family
    * h_j(x) = h1(x) + j·h2(x): two xxhash64 evaluations per element give k
    * independent-enough MinHash permutations (standard construction).
    */
  final val Seed1 = 0x9747b28c17ef4831L
  final val Seed2 = 0x8badf00d5ca1ab1eL

  def hash(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)
}

/** `graft_minhash(array<string>, k)` → `array<long>`: k-permutation MinHash
  * signature of a set of tokens/shingles. Null elements are skipped; an
  * empty array yields a signature of Long.MaxValue sentinels.
  */
case class GraftMinHash(child: Expression, k: Int)
    extends UnaryExpression {

  require(k > 0 && k <= 1024, s"minhash k must be in [1, 1024], got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash requires array<string>, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val h1 = GraftHashing.hash(s, GraftHashing.Seed1)
        val h2 = GraftHashing.hash(s, GraftHashing.Seed2) | 1L
        var g = h1
        var j = 0
        while (j < k) {
          if (g < sig(j)) sig(j) = g
          g += h2
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val h2 = ctx.freshName("h2")
      val g = ctx.freshName("g")
      val xxh = classOf[XXH64].getName
      s"""
        |long[] $sig = new long[$k];
        |java.util.Arrays.fill($sig, Long.MAX_VALUE);
        |final int $n = $c.numElements();
        |for (int $i = 0; $i < $n; $i++) {
        |  if (!$c.isNullAt($i)) {
        |    UTF8String $s = $c.getUTF8String($i);
        |    long $g = $xxh.hashUnsafeBytes($s.getBaseObject(), $s.getBaseOffset(),
        |        $s.numBytes(), ${GraftHashing.Seed1}L);
        |    long $h2 = $xxh.hashUnsafeBytes($s.getBaseObject(), $s.getBaseOffset(),
        |        $s.numBytes(), ${GraftHashing.Seed2}L) | 1L;
        |    for (int $j = 0; $j < $k; $j++) {
        |      if ($g < $sig[$j]) $sig[$j] = $g;
        |      $g += $h2;
        |    }
        |  }
        |}
        |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
      """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): GraftMinHash =
    copy(child = newChild)
}

/** `graft_simhash(array<string>)` → `long`: 64-bit SimHash over a token
  * multiset — per token one xxhash64; each hash bit votes ±1 on the
  * corresponding output bit; output bit b is 1 iff the vote sum is > 0.
  * Hamming-near signatures ⇒ similar token distributions.
  */
case class GraftSimHash(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash requires array<string>, got $other")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = GraftHashing.hash(arr.getUTF8String(i), GraftHashing.Seed1)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val s = ctx.freshName("s")
      val out = ctx.freshName("out")
      val xxh = classOf[XXH64].getName
      s"""
        |int[] $votes = new int[64];
        |final int $n = $c.numElements();
        |for (int $i = 0; $i < $n; $i++) {
        |  if (!$c.isNullAt($i)) {
        |    UTF8String $s = $c.getUTF8String($i);
        |    long $h = $xxh.hashUnsafeBytes($s.getBaseObject(), $s.getBaseOffset(),
        |        $s.numBytes(), ${GraftHashing.Seed1}L);
        |    for (int $b = 0; $b < 64; $b++) {
        |      if ((($h >>> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
        |    }
        |  }
        |}
        |long $out = 0L;
        |for (int $b = 0; $b < 64; $b++) {
        |  if ($votes[$b] > 0) $out |= (1L << $b);
        |}
        |${ev.value} = $out;
      """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): GraftSimHash =
    copy(child = newChild)
}

/** `graft_sig_agree(array<long>, array<long>)` → `double`: fraction of
  * positions where two equal-length MinHash signatures agree — an unbiased
  * estimator of Jaccard similarity. Used as a cheap candidate prefilter
  * between LSH bucketing and exact verification: at k=128, picking a filter
  * margin ~0.2 below the target threshold keeps P(drop a true pair) < 1e-6
  * (binomial tail) while discarding most low-similarity candidates before
  * the expensive exact intersect.
  */
case class GraftSigAgree(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_sig_agree requires (array<long>, array<long>), got $other")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sig_agree"

  override def nullSafeEval(a: Any, b: Any): Any =
    GraftSigAgree.agree(a.asInstanceOf[ArrayData].toLongArray(),
                        b.asInstanceOf[ArrayData].toLongArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val eq = ctx.freshName("eq")
      val i = ctx.freshName("i")
      s"""
        |final int $n = $a.numElements();
        |if ($n != $b.numElements()) {
        |  throw new IllegalArgumentException(
        |    "graft_sig_agree: signature lengths differ (" + $n + " vs " +
        |    $b.numElements() + ")");
        |}
        |int $eq = 0;
        |for (int $i = 0; $i < $n; $i++) {
        |  if ($a.getLong($i) == $b.getLong($i)) $eq++;
        |}
        |${ev.value} = $n == 0 ? 0.0 : ((double) $eq) / $n;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GraftSigAgree =
    copy(left = newLeft, right = newRight)
}

object GraftSigAgree {
  /** The `graft_sig_agree` arithmetic over primitive arrays — the
    * interpreted path and the streaming near-dup miner both call it. */
  def agree(x: Array[Long], y: Array[Long]): Double = {
    val n = x.length
    // length mismatch = different k: a silently-truncated comparison would
    // be a biased estimate that quietly weakens the LSH prefilter guarantee
    if (n != y.length)
      throw new IllegalArgumentException(
        s"graft_sig_agree: signature lengths differ ($n vs ${y.length})")
    if (n == 0) return 0.0
    var eq = 0
    var i = 0
    while (i < n) {
      if (x(i) == y(i)) eq += 1
      i += 1
    }
    eq.toDouble / n
  }
}

/** `graft_jaccard_sorted(array<long>, array<long>)` → `double`: exact
  * Jaccard similarity of two SORTED, duplicate-free long arrays via a
  * single merge-intersection pass — no hash-set build, no allocation,
  * whole-stage-codegen'd. This is the exact-verify kernel for the LSH
  * dedup family: `array_intersect` builds a hash set per row pair, which
  * measured ~16 s over 770 K surviving candidate pairs at sf0.1; the merge
  * scan is two pointer increments per element. Inputs MUST be sorted
  * ascending (use `sort_array` once, upstream of the pair join) — unsorted
  * input yields an undercount, so the type check cannot catch it; the
  * DedupSpec oracle equality pins it instead.
  */
case class GraftJaccardSorted(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_jaccard_sorted requires (array<long>, array<long>), got $other")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard_sorted"

  override def nullSafeEval(a: Any, b: Any): Any =
    GraftJaccardSorted.jaccard(a.asInstanceOf[ArrayData].toLongArray(),
                               b.asInstanceOf[ArrayData].toLongArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val inter = ctx.freshName("inter")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
        |final int $nx = $a.numElements();
        |final int $ny = $b.numElements();
        |int $i = 0, $j = 0, $inter = 0;
        |while ($i < $nx && $j < $ny) {
        |  final long $xv = $a.getLong($i);
        |  final long $yv = $b.getLong($j);
        |  if ($xv == $yv) { $inter++; $i++; $j++; }
        |  else if ($xv < $yv) { $i++; } else { $j++; }
        |}
        |${ev.value} = ($nx == 0 && $ny == 0)
        |  ? 0.0 : ((double) $inter) / ($nx + $ny - $inter);
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GraftJaccardSorted =
    copy(left = newLeft, right = newRight)
}

object GraftJaccardSorted {
  /** The `graft_jaccard_sorted` merge scan over primitive arrays — the
    * interpreted path and the streaming near-dup miner both call it. */
  def jaccard(x: Array[Long], y: Array[Long]): Double = {
    val nx = x.length
    val ny = y.length
    if (nx == 0 && ny == 0) return 0.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < nx && j < ny) {
      val xv = x(i)
      val yv = y(j)
      if (xv == yv) { inter += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    inter.toDouble / (nx + ny - inter)
  }
}

/** `graft_srp_sig(array<double>, nbits[, seed])` → `long`:
  * sign-random-projection LSH signature. Hyperplane p's component i is a
  * hash-derived uniform in [-1, 1] (`XXH64.hashLong(p * dim + i, seed)`
  * scaled) — deterministic and stateless, so executors need no shared
  * random state; bit p is set iff the projection onto plane p is positive.
  * Cosine-similar vectors agree on bits with probability 1 − θ/π.
  *
  * `seed` (default 42, the historical fixed value) selects an independent
  * hyperplane family — any integral EXPRESSION, e.g. the band index, so a
  * banded scheme can draw more than 64 independent bits total while each
  * band's signature stays one long ([[graft.operators.GraftSimilarity.srpPairs]]).
  *
  * The (nbits × dim) plane matrix for a given (nbits, dim, seed) is a pure
  * function of its key, so it is materialized once per JVM and shared
  * across rows and tasks ([[GraftSrpSig.planes]]) — without the cache every
  * row re-derives nbits·dim hash values, and the signature is hash-bound
  * instead of multiply-bound (dim 64 × 480 banded bits = 30k XXH64 calls
  * per vector, ~20× the cost of the dot products they feed).
  */
object GraftSrpSig {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), Array[Double]]()
  private val cachedBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  // bytes of plane matrices the per-JVM cache may pin (entry count alone
  // is not a bound: dim 4096 × 48 bits × hundreds of band seeds would pin
  // hundreds of MB for the process lifetime — ADVICE r5); 64 MB covers
  // every geometry the library plans while staying a rounding error of
  // executor memory
  private val maxCacheBytes = 64L << 20

  /** Plane p's component i at index p·dim + i; values uniform in [-1, 1].
    * Called from both interpreted eval and generated code (the Scala
    * companion gets a static forwarder, so codegen reaches it as a plain
    * static call). Capped by entry count (map overhead under adversarial
    * tiny-matrix seed streams) AND total bytes (big-matrix geometries) —
    * past either cap the matrix is computed per call, which is only ever
    * slower, never wrong.
    */
  def planes(bits: Int, dim: Int, seed: Long): Array[Double] = {
    val key = (bits, dim, seed)
    val hit = cache.get(key)
    if (hit != null) return hit
    val m = new Array[Double](bits * dim)
    var p = 0
    while (p < bits) {
      var i = 0
      while (i < dim) {
        m(p * dim + i) =
          XXH64.hashLong(p.toLong * dim + i, seed).toDouble / 9.223372036854776e18
        i += 1
      }
      p += 1
    }
    val bytes = m.length.toLong * 8
    if (cache.size < 4096 && cachedBytes.get() + bytes <= maxCacheBytes &&
        cache.putIfAbsent(key, m) == null) {
      cachedBytes.addAndGet(bytes)
    }
    m
  }
}

case class GraftSrpSig(first: Expression, second: Expression,
                       third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(DoubleType, _), IntegerType, IntegerType | LongType) =>
        // nbits must be a literal in [1, 64]: the signature is one long, and
        // `1L << p` wraps mod 64 — nbits > 64 would silently collide bit
        // positions (SQL-reachable, so a type check, not a require)
        second match {
          case lit if lit.foldable =>
            val v = lit.eval(null)
            if (v == null)
              TypeCheckResult.TypeCheckFailure("graft_srp_sig: nbits is null")
            else {
              val n = v.asInstanceOf[Int]
              if (n >= 1 && n <= 64) TypeCheckResult.TypeCheckSuccess
              else TypeCheckResult.TypeCheckFailure(
                s"graft_srp_sig: nbits must be in [1, 64], got $n")
            }
          case _ => TypeCheckResult.TypeCheckFailure(
            "graft_srp_sig: nbits must be a literal")
        }
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_srp_sig requires (array<double>, int[, int|bigint]), got $other")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_srp_sig"

  private def seedOf(s: Any): Long = s match {
    case l: java.lang.Long => l.longValue()
    case i: java.lang.Integer => i.longValue()
  }

  override def nullSafeEval(v: Any, nb: Any, sd: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val bits = nb.asInstanceOf[Int]
    val seed = seedOf(sd)
    val dim = arr.numElements()
    val planes = GraftSrpSig.planes(bits, dim, seed)
    var sig = 0L
    var p = 0
    var base = 0
    while (p < bits) {
      var dot = 0.0
      var i = 0
      while (i < dim) {
        dot += arr.getDouble(i) * planes(base + i)
        i += 1
      }
      if (dot > 0) sig |= (1L << p)
      p += 1
      base += dim
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, nb, sd) => {
      val cls = "graft.functions.GraftSrpSig"
      val sig = ctx.freshName("sig")
      val dim = ctx.freshName("dim")
      val pl = ctx.freshName("planes")
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val base = ctx.freshName("base")
      val dot = ctx.freshName("dot")
      s"""
        |long $sig = 0L;
        |final int $dim = $v.numElements();
        |final double[] $pl = $cls.planes($nb, $dim, (long) $sd);
        |int $base = 0;
        |for (int $p = 0; $p < $nb; $p++) {
        |  double $dot = 0.0;
        |  for (int $i = 0; $i < $dim; $i++) {
        |    $dot += $v.getDouble($i) * $pl[$base + $i];
        |  }
        |  if ($dot > 0) $sig |= (1L << $p);
        |  $base += $dim;
        |}
        |${ev.value} = $sig;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): GraftSrpSig =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** `graft_cosine(array<double>, array<double>)` → `double`: cosine
  * similarity with strict left-to-right summation — bitwise-identical to
  * the equivalent `aggregate(zip_with(...))` higher-order expression and to
  * DuckDB's `list_cosine_similarity` on DOUBLE[], which is what lets
  * ANN query output hash-match the oracle while running ~10× faster than
  * interpreted lambda evaluation.
  *
  * Length mismatch throws: a corpus with drifting embedding dims must fail
  * loudly, not silently score truncated prefixes — same contract as
  * `graft_sig_agree` and `graft_q8_cos`.
  */
case class GraftCosine(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_cosine requires (array<double>, array<double>), got $other")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any =
    GraftCosine.cosine(a.asInstanceOf[ArrayData].toDoubleArray(),
                       b.asInstanceOf[ArrayData].toDoubleArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
        |final int $n = $a.numElements();
        |if ($n != $b.numElements()) {
        |  throw new IllegalArgumentException(
        |    "graft_cosine: vector lengths differ (" + $n + " vs " + $b.numElements() + ")");
        |}
        |double $dot = 0.0, $na = 0.0, $nb = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  final double $xv = $a.getDouble($i);
        |  final double $yv = $b.getDouble($i);
        |  $dot += $xv * $yv;
        |  $na += $xv * $xv;
        |  $nb += $yv * $yv;
        |}
        |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GraftCosine =
    copy(left = newLeft, right = newRight)
}

object GraftCosine {
  /** The `graft_cosine` arithmetic over primitive arrays — one loop, three
    * accumulators, strict left-to-right — called by the interpreted path
    * and the streaming SRP miner, so their scores are bit-identical. */
  def cosine(x: Array[Double], y: Array[Double]): Double = {
    val n = x.length
    if (n != y.length)
      throw new IllegalArgumentException(
        s"graft_cosine: vector lengths differ ($n vs ${y.length})")
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x(i)
      val yv = y(i)
      dot += xv * yv
      na += xv * xv
      nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
