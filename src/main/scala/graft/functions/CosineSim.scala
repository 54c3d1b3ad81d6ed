package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

import scala.reflect.{ClassTag, classTag}

/** Native Catalyst expression: cosine similarity of two float vectors,
  * accumulated in double (SURVEY §4.3 "custom pieces": a codegen'd scalar
  * expression beats the `aggregate(zip_with(...))` higher-order chain by
  * avoiding two intermediate ArrayData allocations per row — the hot path of
  * brute-force similarity search).
  *
  * Sum order is sequential over indices, identical to the HOF formulation,
  * so results are bit-compatible with the oracle-checked queries.
  * Returns null if either side is null; lengths must match (min is used).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e =>
        e.dataType.isInstanceOf[ArrayType] &&
        e.dataType.asInstanceOf[ArrayType].elementType == FloatType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
      s"${left.dataType.simpleString}, ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
        |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  double $xv = (double) $a.getFloat($i);
        |  double $yv = (double) $b.getFloat($i);
        |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
        |}
        |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native float-array dot product in double precision — same sequential sum
  * order as `aggregate(zip_with(a,b,(x,y)->x*y), 0d, (s,v)->s+v)`, so it is
  * bit-compatible with the HOF formulation used by the oracle queries. */
case class DotProductF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e =>
        e.dataType.isInstanceOf[ArrayType] &&
        e.dataType.asInstanceOf[ArrayType].elementType == FloatType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
      s"${left.dataType.simpleString}, ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      s"""
        |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |${ev.value} = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  ${ev.value} += (double) $a.getFloat($i) * (double) $b.getFloat($i);
        |}
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Graft's native SQL functions: ONE table, installed two ways.
  *
  * Every session built by `graft.core.Sessions.build` carries
  * `spark.sql.extensions=graft.functions.GraftExtensions`, so the functions
  * arrive with the session and with every `newSession()` child of it —
  * engine code never registers them. `register` is the idempotent fallback
  * for a session the engine did not build (it reaches that session only,
  * not its `newSession()` children).
  */
object GraftFunctions {
  type Entry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  // the builder is arity-checked, so a call like simhash64(a, b) fails
  // analysis instead of silently dropping the extra argument
  private def fn[T <: Expression: ClassTag](name: String, arity: Int, usage: String)(
      make: Seq[Expression] => T): Entry =
    (FunctionIdentifier(name),
     new ExpressionInfo(classTag[T].runtimeClass.getName, null, name, usage, ""),
     args => {
       require(args.length == arity,
         s"$name takes exactly $arity argument${if (arity == 1) "" else "s"}")
       make(args)
     })

  val table: Seq[Entry] = Seq(
    fn("cosine_sim", 2,
      "_FUNC_(a, b) - cosine similarity of two float arrays in double precision.")(
      a => CosineSim(a(0), a(1))),
    fn("dot_f", 2,
      "_FUNC_(a, b) - dot product of two float arrays in double precision.")(
      a => DotProductF(a(0), a(1))),
    fn("simhash64", 1, "_FUNC_(tokens) - 64-bit SimHash of a string array.")(
      a => SimHash64(a(0))),
    fn("normalize_text", 1,
      "_FUNC_(s) - NFC-normalize, strip diacritics, lowercase.")(
      a => NormalizeText(a(0))),
    fn("dot_i8", 2,
      "_FUNC_(a, b) - integer dot product of two int arrays in long.")(
      a => DotProductI8(a(0), a(1))),
    fn("pq_encode", 2,
      "_FUNC_(v, codebooks) - PQ sub-codes of a float vector (argmin-L2 per subspace).")(
      a => PqEncode(a(0), a(1))),
    fn("adc_score", 4,
      "_FUNC_(qv, codes, codebooks, base) - asymmetric-distance PQ score.")(
      a => AdcScore(a(0), a(1), a(2), a(3))),
    fn("jaro_winkler", 2,
      "_FUNC_(a, b) - Jaro-Winkler similarity of two strings (p=0.1, prefix cap 4).")(
      a => JaroWinkler(a(0), a(1))),
    fn("geohash", 3, "_FUNC_(lat, lon, precision) - base-32 geohash of a point.")(
      a => GeohashEncode(a(0), a(1), a(2))),
    fn("lcs_len", 2,
      "_FUNC_(a, b) - longest-common-subsequence length of two string arrays.")(
      a => LcsLen(a(0), a(1))),
    fn("session_id", 2,
      "_FUNC_(ts, gap) - window function: 1-based gap-rule session id.")(
      a => GapSessionId(a(0), a(1))),
    fn("char_ngrams", 2,
      "_FUNC_(text, n) - generator: one row per character n-gram.")(
      a => CharNgrams(a(0), a(1))),
    fn("graft_bucket", 2,
      "_FUNC_(s, n) - snapshot-log bucket id (FNV-1a+SplitMix64 mod n) as string.")(
      a => GraftBucket(a(0), a(1))))

  def register(spark: SparkSession): Unit =
    table.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` (set by
  * `Sessions.sparkConf`): injects the function table and nothing else. The
  * optimizer rule and the top-k strategy stay opt-in per session
  * (`Rules.register`, `TopK.install`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach(ext.injectFunction)
}
