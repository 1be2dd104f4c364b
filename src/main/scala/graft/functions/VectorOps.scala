package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cosine similarity of two array<double> columns as a native Catalyst
  * expression with whole-stage codegen — one fused pass computing dot
  * product and both norms (vs. three HOF folds + two intermediate arrays).
  *
  * Determinism contract: accumulation is strictly left-to-right, so the
  * result is bit-identical to a sequential fold (`list_reduce` in the
  * DuckDB oracle) — required for hash-matched verification.
  *
  * At 100 TB scale this sits in the inner loop of similarity search /
  * near-dup (SURVEY.md §2.9 L2/L3); codegen keeps it inside the
  * WholeStageCodegen span instead of falling back to interpreted HOFs.
  *
  * Input contract (embeddings are fixed-width, non-null float vectors):
  * array ELEMENTS must be non-null (a null element would read as garbage
  * here but propagate NULL through the oracle's list arithmetic), and
  * unequal lengths truncate to the shorter input (DuckDB's list_zip pads
  * with NULL instead). Neither case is reachable from the 64-d embeddings
  * table; revisit both if this expression is reused on looser schemas.
  *
  * @param approx marks the APPROXIMATE variant (`cosine_sim_approx`):
  *   numerically identical, but when used as a join predicate it
  *   licenses [[graft.plans.ApproxSimJoinRewrite]] to prune candidate
  *   pairs via LSH bucketing — pairs no bucket co-locates may be
  *   dropped. The exact function never authorizes that rewrite. */
case class CosineSim(left: Expression, right: Expression,
    approx: Boolean = false) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_sim expects (array<double>, array<double>), got " +
            s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr1, arr2) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($arr1.numElements(), $arr2.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $arr1.getDouble($i);
         |  double $y = $arr2.getDouble($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Element-wise DECIMAL(38,18) sum of an array<double> column as a native
  * TypedImperativeAggregate: each partition folds its rows into ONE
  * 64-decimal partial state and only those states shuffle — versus the
  * posexplode formulation, which ships |rows|·dim exploded rows through
  * the exchange (a 64× row blow-up for the embeddings table). Per element
  * the arithmetic is exactly Spark's `cast(x AS DECIMAL(38,18))` (shortest
  * double string → BigDecimal → HALF_UP at scale 18) followed by exact
  * decimal addition, so results are bit-identical to
  * `sum(cast(col AS DECIMAL(38,18)))` over the exploded form — which is
  * what the DuckDB oracles replay. Order-independent by construction
  * (decimal addition commutes), so partial/merge scheduling cannot perturb
  * the answer. Input contract mirrors [[CosineSim]]: fixed-width non-null
  * double vectors; rows with a NULL array are skipped. The function is
  * registered session-wide, so the contract edges a caller outside
  * the embeddings tables can hit are handled like Spark's own sum: a
  * ragged width FAILS FAST (silent truncation would quietly drop the
  * tail dimensions of every wider row), a ZERO-width array is vacuous
  * exactly like the exploded form (contributes no rows, constrains no
  * width, in any order), and a per-element sum exceeding
  * DECIMAL(38,18) yields a NULL element (non-ANSI `sum(cast(x AS
  * DECIMAL(38,18)))` over the exploded form returns NULL on overflow).
  */
case class DecimalVecSum(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[Array[java.math.BigDecimal]]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  // resolved statically at call sites — a Charset FIELD would make this
  // case class unserializable (Charset does not implement Serializable)
  private def utf8 = java.nio.charset.StandardCharsets.UTF_8

  override def createAggregationBuffer(): Array[java.math.BigDecimal] =
    Array.empty

  private def toDec(d: Double): java.math.BigDecimal =
    new java.math.BigDecimal(java.lang.Double.toString(d))
      .setScale(18, java.math.RoundingMode.HALF_UP)

  override def update(buf: Array[java.math.BigDecimal],
      input: org.apache.spark.sql.catalyst.InternalRow): Array[java.math.BigDecimal] = {
    val v = child.eval(input)
    if (v == null) return buf
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // a zero-width array is VACUOUS (the exploded form contributes no
    // rows), not a width conflict — and must be order-independent, so
    // it neither initializes nor checks the buffer
    if (n == 0) return buf
    val b = if (buf.isEmpty) Array.fill(n)(java.math.BigDecimal.ZERO) else buf
    require(n == b.length,
      s"vec_dec_sum: ragged vector widths ($n vs ${b.length}) — " +
        "inputs must be fixed-width")
    var i = 0
    while (i < n) {
      // skip null elements exactly like sum(cast(..)) over the exploded
      // form would (parquet-inferred arrays are containsNull=true even
      // when no null ever occurs, so this path must be total)
      if (!arr.isNullAt(i)) b(i) = b(i).add(toDec(arr.getDouble(i)))
      i += 1
    }
    b
  }

  override def merge(b1: Array[java.math.BigDecimal],
      b2: Array[java.math.BigDecimal]): Array[java.math.BigDecimal] =
    if (b1.isEmpty) b2
    else if (b2.isEmpty) b1
    else {
      require(b1.length == b2.length,
        s"vec_dec_sum: ragged vector widths (${b1.length} vs ${b2.length}) — " +
          "inputs must be fixed-width")
      var i = 0
      while (i < b1.length) { b1(i) = b1(i).add(b2(i)); i += 1 }
      b1
    }

  override def eval(buf: Array[java.math.BigDecimal]): Any =
    if (buf.isEmpty) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      buf.map { bd =>
        // match non-ANSI sum(cast(.. AS DECIMAL(38,18))): an overflowing
        // element surfaces NULL, not a Decimal wider than the declared type
        val d = org.apache.spark.sql.types.Decimal(bd)
        if (d.changePrecision(38, 18)) d else null
      })

  override def serialize(buf: Array[java.math.BigDecimal]): Array[Byte] =
    buf.map(_.toPlainString).mkString(",").getBytes(utf8)

  override def deserialize(bytes: Array[Byte]): Array[java.math.BigDecimal] = {
    val s = new String(bytes, utf8)
    if (s.isEmpty) Array.empty else s.split(',').map(new java.math.BigDecimal(_))
  }

  override def dataType: DataType = ArrayType(DecimalType(38, 18), containsNull = true)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_dec_sum expects array<double>, got ${other.simpleString}")
    }

  override def withNewMutableAggBufferOffset(newOffset: Int): DecimalVecSum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DecimalVecSum =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): DecimalVecSum =
    copy(child = newChild)
}

/** Column-level vector helpers shared by the LLM operators. */
object VectorOps {

  /** Idempotently register SQL-callable functions on the session. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSim(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim_approx",
      exprs => CosineSim(exprs(0), exprs(1), approx = true), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dec_sum", exprs => DecimalVecSum(exprs(0)), "scala_udf")
  }

  /** float[] -> double[] (exact; keeps downstream math engine-portable). */
  def toDouble(c: Column): Column = transform(c, _.cast(DoubleType))

  /** Sequential left-fold sum — bit-equal to DuckDB list_reduce. */
  def foldSum(c: Column): Column =
    aggregate(c, lit(0.0), (acc, x) => acc + x)

  /** HOF-composed cosine (readable baseline; same bits as CosineSim). */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = foldSum(zip_with(a, b, (x, y) => x * y))
    val na = foldSum(zip_with(a, a, (x, y) => x * y))
    val nb = foldSum(zip_with(b, b, (x, y) => x * y))
    dot / (sqrt(na) * sqrt(nb))
  }
}
