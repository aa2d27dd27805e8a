package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, ExpectsInputTypes, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd dot product over two float-vector columns in double
  * precision — the inner loop of every similarity operator.
  *
  * Composing built-ins (`aggregate(zip_with(a, b, (x,y) -> x*y), ...)`)
  * allocates an intermediate 64-element array per row pair and drives a
  * HOF interpreter loop; at n·m candidate pairs that allocation IS the
  * workload. This expression generates a tight allocation-free loop inside
  * whole-stage codegen. Accumulation order is strictly left-to-right, so
  * results are bit-identical to the HOF formulation (and to the DuckDB
  * oracle's sequential list_reduce).
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |int ${ev.value}_n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double ${ev.value}_acc = 0.0;
         |for (int ${ev.value}_i = 0; ${ev.value}_i < ${ev.value}_n; ${ev.value}_i++) {
         |  ${ev.value}_acc += ((double) $a.getFloat(${ev.value}_i))
         |                   * ((double) $b.getFloat(${ev.value}_i));
         |}
         |${ev.value} = ${ev.value}_acc;
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Registration for graft's native expressions. Operators call `register`
  * on their session (a no-op once the names are there); deployments that
  * prefer config wiring can set
  * spark.sql.extensions=graft.functions.GraftExtensions. */
object GraftFunctions {
  val builder: Seq[Expression] => Expression = exprs => FloatVecDot(exprs.head, exprs(1))
  val intersectBuilder: Seq[Expression] => Expression =
    exprs => SortedIntersectCount(exprs.head, exprs(1))

  val mortonBuilder: Seq[Expression] => Expression =
    exprs => Morton2(exprs.head, exprs(1))

  // capacity/k must be literal ints (sketch shape is a plan-time property)
  val topkFreqBuilder: Seq[Expression] => Expression = exprs => {
    if (exprs.length != 3)
      throw new IllegalArgumentException(
        s"topk_freq expects 3 arguments (value, capacity, k), got ${exprs.length}")
    def litInt(e: Expression, what: String): Int = {
      if (!e.foldable)
        throw new IllegalArgumentException(
          s"topk_freq $what must be a literal int, got non-literal ${e.sql}")
      e.eval(null) match {
        case n: Number => n.intValue
        case other => throw new IllegalArgumentException(
          s"topk_freq $what must be a literal int, got $other")
      }
    }
    TopKFreq(exprs.head, litInt(exprs(1), "capacity"), litInt(exprs(2), "k"))
  }

  // k must be a literal int (sketch shape is a plan-time property)
  val kmvBuilder: Seq[Expression] => Expression = exprs => {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"kmv_sketch expects 2 arguments (value, k), got ${exprs.length}")
    val kExpr = exprs(1)
    if (!kExpr.foldable)
      throw new IllegalArgumentException(
        s"kmv_sketch k must be a literal int, got non-literal ${kExpr.sql}")
    val k = kExpr.eval(null) match {
      case n: Number => n.intValue
      case other => throw new IllegalArgumentException(
        s"kmv_sketch k must be a literal int, got $other")
    }
    KmvSketch(exprs.head, k)
  }

  val kmvMergeBuilder: Seq[Expression] => Expression = exprs => {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"kmv_merge_agg expects 2 arguments (sketch, k), got ${exprs.length}")
    val kExpr = exprs(1)
    if (!kExpr.foldable)
      throw new IllegalArgumentException(
        s"kmv_merge_agg k must be a literal int, got non-literal ${kExpr.sql}")
    val k = kExpr.eval(null) match {
      case n: Number => n.intValue
      case other => throw new IllegalArgumentException(
        s"kmv_merge_agg k must be a literal int, got $other")
    }
    KmvMergeAgg(exprs.head, k)
  }

  // depth/width must be literal ints (sketch shape is a plan-time property)
  private def cmsShapeBuilder(name: String,
      make: (Expression, Int, Int) => Expression): Seq[Expression] => Expression =
    exprs => {
      if (exprs.length != 3)
        throw new IllegalArgumentException(
          s"$name expects 3 arguments (value, depth, width), got ${exprs.length}")
      def litInt(e: Expression, what: String): Int = {
        if (!e.foldable)
          throw new IllegalArgumentException(
            s"$name $what must be a literal int, got non-literal ${e.sql}")
        e.eval(null) match {
          case n: Number => n.intValue
          case other => throw new IllegalArgumentException(
            s"$name $what must be a literal int, got $other")
        }
      }
      make(exprs.head, litInt(exprs(1), "depth"), litInt(exprs(2), "width"))
    }

  val cmsBuilder: Seq[Expression] => Expression =
    cmsShapeBuilder("cms_sketch", CmsSketch(_, _, _))
  val cmsMergeBuilder: Seq[Expression] => Expression =
    cmsShapeBuilder("cms_merge_agg", CmsMergeAgg(_, _, _))

  // k must be a literal int (the sample size is a plan-time property);
  // priority/payload are cast so any string-able priority and integral
  // payload work
  val bottomkBuilder: Seq[Expression] => Expression = exprs => {
    if (exprs.length != 3)
      throw new IllegalArgumentException(
        s"bottomk_sample expects 3 arguments (priority, payload, k), got ${exprs.length}")
    val kExpr = exprs(2)
    if (!kExpr.foldable)
      throw new IllegalArgumentException(
        s"bottomk_sample k must be a literal int, got non-literal ${kExpr.sql}")
    val k = kExpr.eval(null) match {
      case n: Number => n.intValue
      case other => throw new IllegalArgumentException(
        s"bottomk_sample k must be a literal int, got $other")
    }
    BottomKSample(
      Cast(exprs.head, org.apache.spark.sql.types.StringType),
      Cast(exprs(1), org.apache.spark.sql.types.LongType), k)
  }

  // k must be a literal int (the sketch size is a plan-time property);
  // pri/key cast to long and v to double so integral/decimal inputs work
  val bottomkQskBuilder: Seq[Expression] => Expression = exprs => {
    if (exprs.length != 4)
      throw new IllegalArgumentException(
        s"bottomk_qsk expects 4 arguments (pri, key, v, k), got ${exprs.length}")
    val kExpr = exprs(3)
    if (!kExpr.foldable)
      throw new IllegalArgumentException(
        s"bottomk_qsk k must be a literal int, got non-literal ${kExpr.sql}")
    val k = kExpr.eval(null) match {
      case n: Number => n.intValue
      case other => throw new IllegalArgumentException(
        s"bottomk_qsk k must be a literal int, got $other")
    }
    BottomKQsk(
      Cast(exprs(0), org.apache.spark.sql.types.LongType),
      Cast(exprs(1), org.apache.spark.sql.types.LongType),
      Cast(exprs(2), org.apache.spark.sql.types.DoubleType), k)
  }

  val bandedLevBuilder: Seq[Expression] => Expression = exprs => {
    if (exprs.length != 3)
      throw new IllegalArgumentException(
        s"levenshtein_leq expects 3 arguments (a, b, k), got ${exprs.length}")
    BandedLevenshtein(exprs(0), exprs(1), exprs(2))
  }

  val jaroWinklerBuilder: Seq[Expression] => Expression = exprs => {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"jaro_winkler expects 2 arguments (a, b), got ${exprs.length}")
    JaroWinkler(exprs(0), exprs(1))
  }

  val deflateLenBuilder: Seq[Expression] => Expression = exprs => {
    if (exprs.length != 1)
      throw new IllegalArgumentException(
        s"deflate_len expects 1 argument (str), got ${exprs.length}")
    DeflateLen(exprs.head)
  }

  val nfcBuilder: Seq[Expression] => Expression = exprs => {
    if (exprs.length != 1)
      throw new IllegalArgumentException(
        s"nfc_normalize expects 1 argument (str), got ${exprs.length}")
    NfcNormalize(exprs.head)
  }

  val multiMatchBuilder: Seq[Expression] => Expression = exprs => {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"multi_match expects 2 arguments (text, patterns), got ${exprs.length}")
    MultiMatch(exprs.head, exprs(1))
  }

  val multiRedactBuilder: Seq[Expression] => Expression = exprs => {
    if (exprs.length != 3)
      throw new IllegalArgumentException(
        s"multi_redact expects 3 arguments (text, patterns, mask), got ${exprs.length}")
    MultiRedact(exprs(0), exprs(1), exprs(2))
  }

  val multiMatchCountBuilder: Seq[Expression] => Expression = exprs => {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"multi_match_count expects 2 arguments (text, patterns), got ${exprs.length}")
    MultiMatchCount(exprs.head, exprs(1))
  }

  /** Every graft SQL function: (name, expression class, builder). */
  val all: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("vec_dot", classOf[FloatVecDot], builder),
    ("nfc_normalize", classOf[NfcNormalize], nfcBuilder),
    ("levenshtein_leq", classOf[BandedLevenshtein], bandedLevBuilder),
    ("jaro_winkler", classOf[JaroWinkler], jaroWinklerBuilder),
    ("sorted_intersect_count", classOf[SortedIntersectCount], intersectBuilder),
    ("morton2", classOf[Morton2], mortonBuilder),
    ("topk_freq", classOf[TopKFreq], topkFreqBuilder),
    ("bottomk_sample", classOf[BottomKSample], bottomkBuilder),
    ("bottomk_qsk", classOf[BottomKQsk], bottomkQskBuilder),
    ("kmv_sketch", classOf[KmvSketch], kmvBuilder),
    ("kmv_merge_agg", classOf[KmvMergeAgg], kmvMergeBuilder),
    ("cms_sketch", classOf[CmsSketch], cmsBuilder),
    ("cms_merge_agg", classOf[CmsMergeAgg], cmsMergeBuilder),
    ("deflate_len", classOf[DeflateLen], deflateLenBuilder),
    ("multi_match", classOf[MultiMatch], multiMatchBuilder),
    ("multi_redact", classOf[MultiRedact], multiRedactBuilder),
    ("multi_match_count", classOf[MultiMatchCount], multiMatchCountBuilder))

  /** Registers every graft function the session's registry does not hold
    * yet (GraftExtensions injects them all at session build); a name
    * already present is left as it is, so repeated calls are free. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      for ((name, cls, build) <- all if !registry.functionExists(FunctionIdentifier(name)))
        registry.registerFunction(FunctionIdentifier(name),
          new ExpressionInfo(cls.getName, name), build)
    }
  }

  /** Runtime installation of graft's optimizer rules (for sessions not
    * configured with spark.sql.extensions). Idempotent. */
  def installOptimizations(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(graft.plans.FuseVecDot)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.FuseVecDot
    }
}

/** SparkSessionExtensions entry point (spark.sql.extensions): the
  * vec_dot function, the FuseVecDot optimizer rule, and the as-of join
  * planner strategy. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
    ext.injectOptimizerRule(_ => graft.plans.FuseVecDot)
    ext.injectOptimizerRule(_ => graft.plans.MvRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // ASOF JOIN SQL syntax (Snowflake shape) -> AsOfJoinNode; ordinary SQL
    // passes through to Spark's parser untouched
    ext.injectParser((session, delegate) =>
      new graft.plans.GraftSqlParser(session, delegate))
  }
}
