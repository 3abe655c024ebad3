package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Product-quantization kernels for [[graft.operators.GraftPq]].
  *
  * A PQ code word is `m` small integers (one per subspace, each in
  * `[0, ksub)`); its at-rest form is `m` bytes ([[GraftPqPack]]) — for a
  * 64-dim float64 vector at m=8 that is 8 B against 512 B raw, a 64×
  * cut, the next compression rung past the q8 tier's 8×
  * ([[GraftQ8Bytes]]). Candidate scoring is asymmetric distance
  * computation (ADC): the query precomputes one lookup table of
  * `m·ksub` values (`dot(query_subvector, centroid)` per (subspace,
  * code)) and each candidate costs `m` table lookups plus adds —
  * [[GraftPqAdc]] is that fold, accepting either the `array<int>` or
  * the packed `binary` code encoding so in-flight and at-rest rows
  * score through one kernel.
  *
  * Cross-engine exactness: the LUT entries built by `GraftPq` are
  * integer-valued doubles (grid-quantized components, see
  * [[graft.operators.GraftSimilarity.KmeansGrid]]), so the ADC sum is
  * exact integer arithmetic in any order and a SQL oracle replays it
  * bit-for-bit.
  */
case class GraftPqPack(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_pack requires array<int>, got $other")
  }
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_pq_pack"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      // a null element would silently pack as code 0 through getInt —
      // fail loudly like the out-of-range case (ADVICE r11)
      if (arr.isNullAt(i))
        throw new IllegalArgumentException(
          s"graft_pq_pack: null code at subspace $i — a code word must " +
          "be fully populated")
      val c = arr.getInt(i)
      if (c < 0 || c > 255)
        throw new IllegalArgumentException(
          s"graft_pq_pack: code $c out of unsigned-byte range [0, 255]")
      out(i) = c.toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      val out = ctx.freshName("out")
      s"""
        |final int $n = $c.numElements();
        |byte[] $out = new byte[$n];
        |for (int $i = 0; $i < $n; $i++) {
        |  if ($c.isNullAt($i)) {
        |    throw new IllegalArgumentException(
        |      "graft_pq_pack: null code at subspace " + $i +
        |      " — a code word must be fully populated");
        |  }
        |  final int $v = $c.getInt($i);
        |  if ($v < 0 || $v > 255) {
        |    throw new IllegalArgumentException(
        |      "graft_pq_pack: code " + $v + " out of unsigned-byte range [0, 255]");
        |  }
        |  $out[$i] = (byte) $v;
        |}
        |${ev.value} = $out;
      """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): GraftPqPack =
    copy(child = newChild)
}

/** `graft_pq_nearest(sv, cb)` → `int`: index of the nearest centroid to
  * subvector `sv` in the FLATTENED codebook `cb` (centroids
  * concatenated in code order, so `ksub = cb.length / sv.length`), by
  * squared L2 with ties to the smaller code. On the integer grid every
  * distance is an exact integer-valued double, so the argmin is
  * bit-replayable as SQL's `ORDER BY dist, code LIMIT 1`. This is the
  * encode hot loop — one tight codegen scan per (vector, subspace) row
  * instead of a nested HOF fold allocating a struct per candidate code;
  * the train runs the same scan on the driver ([[GraftPqNearest.scan]]).
  */
case class GraftPqNearest(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_pq_nearest requires (array<double>, array<double>), got $other")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_pq_nearest"

  override def nullSafeEval(a: Any, b: Any): Any =
    GraftPqNearest.scan(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val d = ctx.freshName("d")
      val ksub = ctx.freshName("ksub")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val dist = ctx.freshName("dist")
      val diff = ctx.freshName("diff")
      s"""
        |final int $d = $a.numElements();
        |if ($d == 0 || $b.numElements() % $d != 0 || $b.numElements() == 0) {
        |  throw new IllegalArgumentException(
        |    "graft_pq_nearest: codebook length " + $b.numElements() +
        |    " is not a positive multiple of subvector length " + $d);
        |}
        |final int $ksub = $b.numElements() / $d;
        |int $best = -1;
        |double $bestD = Double.POSITIVE_INFINITY;
        |for (int $c = 0; $c < $ksub; $c++) {
        |  double $dist = 0.0;
        |  for (int $i = 0; $i < $d; $i++) {
        |    final double $diff = $a.getDouble($i) - $b.getDouble($c * $d + $i);
        |    $dist += $diff * $diff;
        |  }
        |  if ($dist < $bestD) { $bestD = $dist; $best = $c; }
        |}
        |${ev.value} = $best;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GraftPqNearest =
    copy(left = newLeft, right = newRight)
}

object GraftPqNearest {
  /** The interpreted argmin scan: the centroid of the flat codebook `cb`
    * nearest to `sv`, ties to the smaller code. The driver-side Lloyd
    * rounds of [[graft.operators.GraftPq.trainPq]] assign through this
    * same scan, so train and encode cannot disagree on a tie. */
  def scan(sv: ArrayData, cb: ArrayData): Int = {
    val d = sv.numElements()
    if (d == 0 || cb.numElements() % d != 0 || cb.numElements() == 0)
      throw new IllegalArgumentException(
        s"graft_pq_nearest: codebook length ${cb.numElements()} is not a " +
        s"positive multiple of subvector length $d")
    val ksub = cb.numElements() / d
    var best = -1
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < ksub) {
      var dist = 0.0
      var i = 0
      while (i < d) {
        val diff = sv.getDouble(i) - cb.getDouble(c * d + i)
        dist += diff * diff
        i += 1
      }
      if (dist < bestD) { bestD = dist; best = c }
      c += 1
    }
    best
  }
}

/** `graft_pq_adc(codes, lut)` → `double`: Σ_s lut[s·ksub + codes[s]],
  * with `ksub = lut.length / codes.length` (lut length must be an exact
  * multiple). `codes` is `array<int>` (in-flight) or `binary` (at-rest
  * pack — bytes read back UNSIGNED, matching [[GraftPqPack]]'s range
  * check); both encodings produce identical sums. A code outside
  * `[0, ksub)` is an error — it means the codes and the codebook come
  * from different trainings, which must fail loudly, not score garbage.
  */
case class GraftPqAdc(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (BinaryType, ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_pq_adc requires (array<int>|binary, array<double>), got $other")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc"

  private def packed: Boolean = left.dataType == BinaryType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val lut = b.asInstanceOf[ArrayData]
    val (m, codeAt): (Int, Int => Int) =
      if (packed) {
        val x = a.asInstanceOf[Array[Byte]]
        (x.length, i => x(i) & 0xFF)
      } else {
        val x = a.asInstanceOf[ArrayData]
        (x.numElements(), { i =>
          // a null element would silently score as code 0 — fail loudly
          // like the out-of-range case (ADVICE r11)
          if (x.isNullAt(i))
            throw new IllegalArgumentException(
              s"graft_pq_adc: null code at subspace $i — a code word " +
              "must be fully populated")
          x.getInt(i)
        })
      }
    if (m == 0 || lut.numElements() % m != 0)
      throw new IllegalArgumentException(
        s"graft_pq_adc: lut length ${lut.numElements()} is not a positive " +
        s"multiple of code length $m")
    val ksub = lut.numElements() / m
    var acc = 0.0
    var s = 0
    while (s < m) {
      val c = codeAt(s)
      if (c < 0 || c >= ksub)
        throw new IllegalArgumentException(
          s"graft_pq_adc: code $c at subspace $s out of [0, $ksub) — codes " +
          "and codebook come from different trainings")
      acc += lut.getDouble(s * ksub + c)
      s += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val m = ctx.freshName("m")
      val ksub = ctx.freshName("ksub")
      val s = ctx.freshName("s")
      val c = ctx.freshName("c")
      val acc = ctx.freshName("acc")
      val codeOf =
        if (packed) s"($a[$s] & 0xFF)"
        else s"$a.getInt($s)"
      val lenOf = if (packed) s"$a.length" else s"$a.numElements()"
      val nullElemCheck =
        if (packed) ""
        else s"""
          |  if ($a.isNullAt($s)) {
          |    throw new IllegalArgumentException(
          |      "graft_pq_adc: null code at subspace " + $s +
          |      " — a code word must be fully populated");
          |  }""".stripMargin
      s"""
        |final int $m = $lenOf;
        |if ($m == 0 || $b.numElements() % $m != 0) {
        |  throw new IllegalArgumentException(
        |    "graft_pq_adc: lut length " + $b.numElements() +
        |    " is not a positive multiple of code length " + $m);
        |}
        |final int $ksub = $b.numElements() / $m;
        |double $acc = 0.0;
        |for (int $s = 0; $s < $m; $s++) {$nullElemCheck
        |  final int $c = $codeOf;
        |  if ($c < 0 || $c >= $ksub) {
        |    throw new IllegalArgumentException(
        |      "graft_pq_adc: code " + $c + " at subspace " + $s +
        |      " out of [0, " + $ksub + ") — codes and codebook come from " +
        |      "different trainings");
        |  }
        |  $acc += $b.getDouble($s * $ksub + $c);
        |}
        |${ev.value} = $acc;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GraftPqAdc =
    copy(left = newLeft, right = newRight)
}
