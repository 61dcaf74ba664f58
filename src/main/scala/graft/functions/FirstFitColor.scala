package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}
import org.apache.spark.sql.SparkSession

/** `graft_first_fit(used, k)` — smallest color in `[0, k)` not present in
  * `used`; `-3` (the reference's infeasible sentinel, coloring.py:53-54)
  * when the palette is exhausted. Nulls in `used` are ignored; a NULL
  * `used` array means "no colored neighbors" → 0.
  *
  * This is the kernel's first-fit rule (O13, coloring_optimized.py:150-166)
  * as a native Catalyst expression WITH whole-stage codegen: one boolean[k]
  * scratch pass instead of the `array_min(array_except(sequence(0,k-1),
  * used))` composition, which allocates two intermediate arrays per row.
  * Registered on every session by [[graft.Session.local]],
  * [[graft.tables.Tables.table]] and the colouring kernel.
  */
case class FirstFitColor(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_first_fit expects (array<int>, int), got ($l, $r)")
    }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val k = right.eval(input).asInstanceOf[Int]
    val usedVal = left.eval(input)
    if (usedVal == null) {
      if (k > 0) 0 else -3
    } else {
      val arr = usedVal.asInstanceOf[ArrayData]
      val taken = new Array[Boolean](math.max(k, 0))
      var i = 0
      while (i < arr.numElements()) {
        if (!arr.isNullAt(i)) {
          val v = arr.getInt(i)
          if (v >= 0 && v < k) taken(v) = true
        }
        i += 1
      }
      var c = 0
      while (c < k && taken(c)) c += 1
      if (c < k) c else -3
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val arr = leftGen.value
    val k = rightGen.value
    val taken = ctx.freshName("taken")
    val i = ctx.freshName("i")
    val c = ctx.freshName("c")
    val code =
      code"""
        ${leftGen.code}
        ${rightGen.code}
        int ${ev.value} = -3;
        if (${leftGen.isNull}) {
          ${ev.value} = ($k > 0) ? 0 : -3;
        } else {
          boolean[] $taken = new boolean[$k > 0 ? $k : 0];
          for (int $i = 0; $i < $arr.numElements(); $i++) {
            if (!$arr.isNullAt($i)) {
              int v = $arr.getInt($i);
              if (v >= 0 && v < $k) $taken[v] = true;
            }
          }
          int $c = 0;
          while ($c < $k && $taken[$c]) $c++;
          if ($c < $k) ${ev.value} = $c;
        }
      """
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FirstFitColor =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_first_fit"
}

/** Registers the graft expression library on a session. Idempotent; run
  * by [[graft.Session.local]], [[graft.tables.Tables.table]] and the Jp
  * colouring kernel, so a session the driver hands the library needs no
  * set-up of its own. */
object GraftFunctions {
  val name: FunctionIdentifier = FunctionIdentifier("graft_first_fit")

  /** Every graft.* custom expression: (identifier, info, builder). */
  private val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (name,
      new ExpressionInfo(classOf[FirstFitColor].getName, "graft_first_fit"),
      (children: Seq[Expression]) => FirstFitColor(children(0), children(1))),
    (FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes"),
      (children: Seq[Expression]) => ShingleHashes(children(0), children(1))),
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (children: Seq[Expression]) => SimHash64(children(0))),
    (FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinhashSig].getName, "graft_minhash_sig"),
      (children: Seq[Expression]) => MinhashSig(children(0), children(1), children(2))),
    (FunctionIdentifier("graft_sorted_intersect"),
      new ExpressionInfo(classOf[SortedIntersectValues].getName, "graft_sorted_intersect"),
      (children: Seq[Expression]) => SortedIntersectValues(children(0), children(1))),
    (FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
      (children: Seq[Expression]) => CosineSim(children(0), children(1))),
    (FunctionIdentifier("graft_srp_bucket"),
      new ExpressionInfo(classOf[SrpBucket].getName, "graft_srp_bucket"),
      (children: Seq[Expression]) => SrpBucket(children(0), children(1), children(2))),
    (FunctionIdentifier("graft_sqdist_long"),
      new ExpressionInfo(classOf[SqDistLong].getName, "graft_sqdist_long"),
      (children: Seq[Expression]) => SqDistLong(children(0), children(1))),
    (FunctionIdentifier("graft_kmv_kmin"),
      new ExpressionInfo(classOf[KmvKmin].getName, "graft_kmv_kmin"),
      (children: Seq[Expression]) => KmvKmin(children(0), children(1))),
    (FunctionIdentifier("graft_char_counts"),
      new ExpressionInfo(classOf[CharClassCounts].getName, "graft_char_counts"),
      (children: Seq[Expression]) => CharClassCounts(children(0))),
    (FunctionIdentifier("graft_cdc_chunks"),
      new ExpressionInfo(classOf[CdcChunks].getName, "graft_cdc_chunks"),
      (children: Seq[Expression]) => CdcChunks(children(0))),
    (FunctionIdentifier("graft_ordered_pairs"),
      new ExpressionInfo(classOf[OrderedPairs].getName, "graft_ordered_pairs"),
      (children: Seq[Expression]) => OrderedPairs(children(0))),
    (FunctionIdentifier("graft_xor_probe"),
      new ExpressionInfo(classOf[XorProbe].getName, "graft_xor_probe"),
      (children: Seq[Expression]) => XorProbe(children(0))),
    (FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomContains].getName, "graft_bloom_contains"),
      (children: Seq[Expression]) => BloomContains(children(0), children(1))))

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }
}
