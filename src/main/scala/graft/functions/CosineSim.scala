package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `cosine_sim(array<float|double>, array<float|double>) → double` — a
  * native Catalyst expression with whole-stage codegen (SURVEY.md §2.10:
  * custom-function preference order (b): a codegen'd Expression beats a
  * Scala UDF beats everything else).
  *
  * Why it exists: the portable formulation used by the oracle —
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (s,v) -> s+v) / (…)·(…)` —
  * walks both arrays three times through interpreted higher-order
  * functions, allocating a zipped intermediate each time. This expression
  * computes dot(a,b), ‖a‖², ‖b‖² in ONE fused loop inside the generated
  * code, no allocation. Bit-compatible with the HOF formulation: element
  * values are widened to double and accumulated in index order in three
  * independent accumulators, exactly like the three separate folds; a
  * length mismatch yields NULL (zip_with pads the shorter array with
  * nulls, which null out the aggregate sum); a NULL ELEMENT likewise
  * yields NULL (enforced per element in eval and codegen — the HOF's
  * null-poisoned fold, not a silent 0.0); zero-norm inputs yield NaN
  * (0/0) in both formulations.
  *
  * Scale notes: runs inside WholeStageCodegen, so the ANN/near-dup
  * operators stay a single codegen span from parquet scan to filter. At
  * 100 TB the embedding-compare inner loop is the hottest code in the
  * dedup pipeline; a fused primitive loop is the difference between
  * compute-bound and allocation-bound.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // NULL on length mismatch even when both inputs are non-nullable
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects array<float|double> inputs, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemType(left) == FloatType) "getFloat" else "getDouble"
    val rGet = if (elemType(right) == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
        if ($a.numElements() != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          int $n = $a.numElements();
          double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
            double $xv = (double) $a.$lGet($i);
            double $yv = (double) $b.$rGet($i);
            $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
          }
          if (!${ev.isNull}) {
            ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
          }
        }
      """
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"
}

/** Registration: idempotent per-session. [[graft.Session.build]] calls it
  * on every session it returns; a session built elsewhere calls it itself
  * before running the catalog. The config-only path is
  * [[graft.GraftExtensions]] (`spark.sql.extensions=graft.GraftExtensions`);
  * both paths share the checked builders below. */
object GraftFunctions {
  val cosineSimInfo = new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim")
  val srpCellInfo = new ExpressionInfo(classOf[SrpCell].getName, "srp_cell")
  val l2SqInfo = new ExpressionInfo(classOf[L2Sq].getName, "l2_sq")
  val gramHash60Info = new ExpressionInfo(classOf[GramHash60].getName, "gram_hash60")

  /** Arity-checked builder — a SQL user passing the wrong argument count
    * gets an analysis-time message, not a dropped argument (3 args would
    * silently compute cosine of the first two) or a raw
    * IndexOutOfBoundsException (1 arg). */
  private[graft] def mkCosineSim(children: Seq[Expression]): Expression = {
    require(children.length == 2,
      s"cosine_sim expects (a, b), got ${children.length} arguments")
    CosineSim(children(0), children(1))
  }

  private[graft] def mkL2Sq(children: Seq[Expression]): Expression = {
    require(children.length == 2,
      s"l2_sq expects (a, b), got ${children.length} arguments")
    L2Sq(children(0), children(1))
  }

  /** srp_cell(vec, nbits, dims) — nbits/dims must be int literals (they
    * parameterize the generated code, not per-row data). Validated here
    * so a misuse surfaces as an analysis-time error with a message, not a
    * raw IndexOutOfBounds/NPE or — worse — a silently wrapped `1 << j`
    * for nbits > 31. */
  private[graft] def mkSrpCell(children: Seq[Expression]): Expression = {
    require(children.length == 3,
      s"srp_cell expects (vec, nbits, dims), got ${children.length} arguments")
    def litInt(e: Expression, name: String, lo: Int, hi: Int): Int = {
      require(e.foldable, s"srp_cell: $name must be a literal")
      val i = e.eval() match {
        case null => throw new IllegalArgumentException(
          s"srp_cell: $name must not be NULL")
        case b: java.lang.Byte => b.toInt
        case s: java.lang.Short => s.toInt
        case i: java.lang.Integer => i.toInt
        case l: java.lang.Long if l == l.toInt => l.toInt
        case other => throw new IllegalArgumentException(
          s"srp_cell: $name must be an integer literal, got $other " +
            s"(${e.dataType.catalogString})")
      }
      require(i >= lo && i <= hi, s"srp_cell: $name must be in [$lo, $hi], got $i")
      i
    }
    SrpCell(children(0), litInt(children(1), "nbits", 1, 31),
      litInt(children(2), "dims", 1, 1 << 16))
  }

  /** gram_hash60(ws, n) — n must be an int literal (it parameterizes the
    * kernel, not per-row data). */
  private[graft] def mkGramHash60(children: Seq[Expression]): Expression = {
    require(children.length == 2,
      s"gram_hash60 expects (words, n), got ${children.length} arguments")
    val nArg = children(1)
    require(nArg.foldable, "gram_hash60: n must be a literal")
    val n = nArg.eval() match {
      case null => throw new IllegalArgumentException(
        "gram_hash60: n must not be NULL")
      case b: java.lang.Byte => b.toInt
      case s: java.lang.Short => s.toInt
      case i: java.lang.Integer => i.toInt
      case l: java.lang.Long if l == l.toInt => l.toInt
      case other => throw new IllegalArgumentException(
        s"gram_hash60: n must be an integer literal, got $other")
    }
    require(n >= 1 && n <= 1024, s"gram_hash60: n must be in [1, 1024], got $n")
    GramHash60(children(0), n)
  }

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.registerFunction(
      FunctionIdentifier("cosine_sim"), cosineSimInfo, mkCosineSim _)
    reg.registerFunction(
      FunctionIdentifier("srp_cell"), srpCellInfo, mkSrpCell _)
    reg.registerFunction(
      FunctionIdentifier("l2_sq"), l2SqInfo, mkL2Sq _)
    reg.registerFunction(
      FunctionIdentifier("gram_hash60"), gramHash60Info, mkGramHash60 _)
  }
}

