package graft.expr

import java.nio.ByteBuffer

import org.apache.commons.codec.digest.DigestUtils

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the hashed-feature logistic classifier
  * ([[graft.operators.Classifier]]) — the t57/t104 training loop and the
  * t35/t57/t104 scoring scan.
  *
  * Why they exist (optimization guide §1.2 step 2 / §4.1): the composed
  * forms are higher-order functions (`transform`, `aggregate`) whose
  * Catalyst expressions are CodegenFallback — every token of every row
  * allocates lambda variables and boxes through interpreted eval, and
  * the training loop additionally explodes one row PER TOKEN only to
  * group them back into `dims + 2` cells. Each kernel below is
  * value-identical to the expression chain it replaces (pinned by the
  * committed weight/score artifacts at every SF — see each scaladoc). */
object ClassifierKernel {

  /** md5 feature bucket of one token: the engine/DuckDB-shared idiom
    * `('0x' || substr(md5(t), 1, 4))::BIGINT % dims` — i.e. the first
    * two digest bytes as a big-endian unsigned 16-bit int, mod dims.
    * Value-identical to `conv(substring(md5(t),1,4),16,10) % dims`
    * because md5's first 4 hex chars ARE its first 2 bytes and the
    * dividend is non-negative. */
  def bucket(token: UTF8String, dims: Int): Int = {
    val d = DigestUtils.md5(token.getBytes)
    (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % dims
  }

  /** Per-token buckets of a token array; a null token maps to a null
    * element (mirroring `md5(NULL) → NULL` in the composed transform —
    * unreachable from [[graft.operators.Classifier]]'s tokenizer, which
    * never emits null tokens). */
  def buckets(toks: ArrayData, dims: Int): ArrayData = {
    val n = toks.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (toks.isNullAt(i)) null
        else bucket(toks.getUTF8String(i), dims)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Σ w(b) over a bucket array with 1e6-scaled integer weights — the
    * scoring dot product (`aggregate(bs, 0L, acc + element_at(w, b+1))`).
    * Null element → null (element_at's null propagation). A bucket id
    * outside `w` fails loudly ([[outOfRange]]). */
  def dotLong(bs: ArrayData, w: Array[Long]): java.lang.Long = {
    val n = bs.numElements()
    var acc = 0L
    var i = 0
    try {
      while (i < n) {
        if (bs.isNullAt(i)) return null
        acc += w(bs.getInt(i))
        i += 1
      }
    } catch {
      case _: ArrayIndexOutOfBoundsException =>
        throw outOfRange("graft_lr_dot", bs.getInt(i), w.length)
    }
    acc
  }

  /** The SQL-misuse error for a bucket id that indexes past the weights
    * literal (buckets hashed with a larger dims than the weights were
    * trained for). Raised from a catch around the kernels' loops, so
    * the per-element path carries no range check. */
  def outOfRange(fn: String, bucket: Int, weights: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"$fn: bucket id $bucket is outside the $weights-element weights " +
        s"literal (${weights - 1} dims + bias); the bucket array was " +
        "built with a different dims than the weights")
}

/** `graft_md5_buckets(tokens, dims)` → array<int> of md5 feature
  * buckets, the scan-stage feature hash of the classifier family
  * (t35/t57/t104). Replaces the interpreted
  * `transform(toks, t -> conv(substring(md5(t),1,4),16,10) % dims)`
  * chain with one static call per row; value-identity is pinned by the
  * committed weight artifacts (GoldenSpec retrains through this path)
  * and the t35/t57/t104 oracles at every SF. */
case class Md5Buckets(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) if right.foldable =>
        val d = right.eval(null)
        if (d == null || d.asInstanceOf[Int] < 1)
          TypeCheckResult.TypeCheckFailure(
            "graft_md5_buckets: dims must be a positive literal int")
        else TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_md5_buckets requires (array<string>, literal int), got (${l.sql}, ${r.sql})")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "graft_md5_buckets"

  @transient private lazy val dims: Int = right.eval(null).asInstanceOf[Int]

  override protected def nullSafeEval(toks: Any, _d: Any): Any =
    ClassifierKernel.buckets(toks.asInstanceOf[ArrayData], dims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = graft.expr.ClassifierKernel.buckets($t, $dims);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Md5Buckets =
    copy(left = newLeft, right = newRight)
}

/** `graft_lr_dot(bs, weights)` → long Σ weights(b) over the bucket
  * array, with `weights` a foldable array<long> literal (the 1e6-scaled
  * trained weights) — the scoring margin numerator as one static call
  * instead of an interpreted per-token `aggregate` fold. Exactness
  * contract unchanged: integer sums, no floating point. */
case class LrDotLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(LongType, _)) if right.foldable =>
        val v = right.eval(null)
        if (v == null)
          TypeCheckResult.TypeCheckFailure(
            "graft_lr_dot: weights literal evaluates to NULL")
        else TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_lr_dot requires (array<int>, foldable array<long>), got (${l.sql}, ${r.sql})")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_lr_dot"

  @transient private lazy val weights: Array[Long] =
    right.eval(null).asInstanceOf[ArrayData].toLongArray()

  override protected def nullSafeEval(bs: Any, _w: Any): Any =
    ClassifierKernel.dotLong(bs.asInstanceOf[ArrayData], weights)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftLrWeights", weights, "long[]")
    nullSafeCodeGen(ctx, ev, (b, _) => {
      val r = ctx.freshName("r")
      s"""
         |java.lang.Long $r = graft.expr.ClassifierKernel.dotLong($b, $ref);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LrDotLong =
    copy(left = newLeft, right = newRight)
}

/** `graft_logit_grad(y, n, bs, w)` — the full-batch logistic-regression
  * gradient of ONE training iteration as a single typed aggregate:
  * buffer = `dims + 2` doubles, where cell `b < dims` accumulates
  * Σ e/n over token buckets, cell `dims` accumulates Σ e (bias), and
  * cell `dims+1` counts documents. `w` is the current weight vector as
  * a foldable array<double> literal (dims + 1 values, bias last).
  *
  * Value contract (vs the composed form it replaces — margin fold +
  * per-token explode + groupBy(b).sum):
  *   - per-document margin = fold of w(b) in array order / n (guarded
  *     n ≤ 0 → 1.0) + bias — the identical double sequence;
  *   - e = sigmoid(margin) − y; token scatter adds e/n per occurrence
  *     in array order. Partial buffers merge pairwise (double `+`), so
  *     cross-partition accumulation order differs from the hash
  *     aggregate's — within the trainer's documented ~1e-13 reorder
  *     band that per-update `roundDp` rounding absorbs (weights
  *     re-pinned against the committed artifacts at every SF);
  *   - a null-y document contributes only to the count cell (the
  *     composed form's sum() null-skip), a null bucket array
  *     contributes nothing (concat(NULL, …) → explode drops the row);
  *   - a null bucket element scatters nothing (its null group key is
  *     no cell) and nulls the margin fold, which the composed form's
  *     coalesce turns into a bias-only margin; a null n divides the
  *     margin as 1.0 and scatters nothing to the token cells (e/NULL
  *     is null), while the bias and count cells still accumulate;
  *   - a bucket id past the weights literal fails with a named error
  *     ([[ClassifierKernel.outOfRange]]) instead of a bare index
  *     exception.
  *
  * Why: the composed form materializes one exploded row PER TOKEN per
  * iteration and runs two CodegenFallback higher-order lambdas per
  * document; this kernel is one array-scatter per document into a
  * partition-local buffer, shuffling `partitions × (dims+2)` doubles
  * per iteration instead of an exploded token stream. */
case class LogisticGradAgg(
    y: Expression, nTok: Expression, bs: Expression, w: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] {

  override def children: Seq[Expression] = Seq(y, nTok, bs, w)

  override def checkInputDataTypes(): TypeCheckResult =
    (y.dataType, nTok.dataType, bs.dataType, w.dataType) match {
      case (DoubleType, DoubleType, ArrayType(IntegerType, _),
            ArrayType(DoubleType, _)) if w.foldable =>
        val v = w.eval(null)
        if (v == null || v.asInstanceOf[ArrayData].numElements() < 2)
          TypeCheckResult.TypeCheckFailure(
            "graft_logit_grad: weights must be a non-null literal of >= 2 doubles")
        else TypeCheckResult.TypeCheckSuccess
      case (a, b, c, d) => TypeCheckResult.TypeCheckFailure(
        "graft_logit_grad requires (double y, double n, array<int> bs, " +
          s"foldable array<double> w), got (${a.sql}, ${b.sql}, ${c.sql}, ${d.sql})")
    }

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_logit_grad"

  @transient private lazy val weights: Array[Double] =
    w.eval(null).asInstanceOf[ArrayData].toDoubleArray()
  private def dims: Int = weights.length - 1

  override def createAggregationBuffer(): Array[Double] =
    new Array[Double](dims + 2)

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val bv = bs.eval(input)
    if (bv == null) return buf // concat(NULL,…) drops the whole row
    val arr = bv.asInstanceOf[ArrayData]
    val yv = y.eval(input)
    buf(dims + 1) += 1.0 // the count cell's g is a literal 1.0
    if (yv == null) return buf // null e: every other cell null-skipped
    val nv = nTok.eval(input)
    val n = if (nv == null) Double.NaN else nv.asInstanceOf[Double]
    val m = arr.numElements()
    var i = 0
    try {
      // margin fold in array order — bit-identical to aggregate(bs, 0.0, +)
      var s = 0.0
      var nullElem = false
      while (i < m) {
        if (arr.isNullAt(i)) nullElem = true else s += weights(arr.getInt(i))
        i += 1
      }
      val effN = if (!(n > 0.0)) 1.0 else n
      val margin = (if (nullElem) 0.0 else s / effN) + weights(dims)
      val e = 1.0 / (1.0 + math.exp(-margin)) - yv.asInstanceOf[Double]
      if (nv != null) {
        val g = e / n // the scatter uses RAW n (explode's e/n); m > 0 ⇒ n > 0
        i = 0
        while (i < m) {
          if (!arr.isNullAt(i)) buf(arr.getInt(i)) += g
          i += 1
        }
      }
      buf(dims) += e
    } catch {
      case _: ArrayIndexOutOfBoundsException =>
        throw ClassifierKernel.outOfRange("graft_logit_grad", arr.getInt(i),
          weights.length)
    }
    buf
  }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Double]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    var i = 0
    while (i < buf.length) { bb.putDouble(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = ByteBuffer.wrap(bytes)
    val out = new Array[Double](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getDouble(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): LogisticGradAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): LogisticGradAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LogisticGradAgg =
    copy(y = newChildren(0), nTok = newChildren(1), bs = newChildren(2),
      w = newChildren(3))
}
