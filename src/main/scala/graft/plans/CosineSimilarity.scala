package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType,
  FloatType, IntegerType, LongType, ShortType}

/** Native Catalyst expression: cosine similarity over two
  * `ArrayType(FloatType)` columns, with whole-stage codegen.
  *
  * This is the (b) tier of the custom-operator preference order: the
  * composed built-in form (`zip_with` + `aggregate`, graft.functions.Vectors
  * .cosine) is semantically identical but higher-order functions execute
  * interpreted, allocating an array per row per stage; this expression is a
  * single fused loop inside WholeStageCodegen — no allocation, no virtual
  * calls. Same accumulation order (sequential, double-widened) → bit-equal
  * results, so the DuckDB oracles are unchanged.
  *
  * Queries build it with `graft.functions.Natives.cosineSim(a, b)`; SQL
  * text reaches it as `cosine_sim(a, b)` through `GraftExtensions`
  * (spark.sql.extensions), which `core.Sessions.local` installs.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires two array<float> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // literal arguments constant-fold via Catalyst's ConstantFolding
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.getFloat($i);
         |  double $yi = (double) $b.getFloat($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** The SQL-text surface of the native expressions and the Column helpers,
  * for `spark.sql` users: `GraftExtensions` injects these builders into
  * every session `core.Sessions.local` builds. Queries do not go through
  * it; they bind the same expressions with `graft.functions.Natives`.
  */
object GraftFunctions {

  import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression,
    wrongNumArgs}

  type Entry = (FunctionIdentifier, ExpressionInfo, FunctionBuilder)

  /** One registry entry: `name` with `arity` arguments, documented by
    * `className`. A call with another argument count fails before `build`
    * sees its arguments, with the `AnalysisException` a built-in raises
    * (`WRONG_NUM_ARGS`, naming the function and both counts). */
  private def fn(name: String, className: String, arity: Int)(
      build: FunctionBuilder): Entry =
    (FunctionIdentifier(name), new ExpressionInfo(className, name),
      children => {
        if (children.size != arity)
          throw wrongNumArgs(name, arity, children.size)
        build(children)
      })

  val functions: Seq[Entry] = Seq(
    fn("cosine_sim", classOf[CosineSimilarity].getName, 2)(c =>
      CosineSimilarity(c(0), c(1))),
    // two-pointer intersection count over sorted string arrays (see
    // SortedIntersect scaladoc)
    fn("sorted_intersect_count", classOf[SortedIntersectCount].getName, 2)(
      c => SortedIntersectCount(c(0), c(1))),
    // the one-walk natives of one string column (see StringWalk)
    fn("text_stats", classOf[TextStats].getName, 1)(c => TextStats(c(0))),
    fn("classifier_stats", classOf[ClassifierStats].getName, 1)(c =>
      ClassifierStats(c(0))),
    fn("minhash_sigs", classOf[MinhashSigs].getName, 1)(c =>
      MinhashSigs(c(0))),
    fn("simhash16", classOf[Simhash16].getName, 1)(c => Simhash16(c(0))),
    fn("simhash60", classOf[Simhash60].getName, 1)(c => Simhash60(c(0))),
    fn("cdc_chunks", classOf[CdcChunks].getName, 1)(c => CdcChunks(c(0))),
    fn("agms_signs", classOf[AgmsSigns].getName, 1)(c => AgmsSigns(c(0))),
    // rolling Rabin–Karp window fingerprints (see RollingFps scaladoc);
    // the window length must be a foldable integer literal
    fn("rolling_fps", classOf[RollingFps].getName, 2) { c =>
      require(c(1).foldable,
        "rolling_fps window length must be a foldable integer literal")
      // dtype + null validation BEFORE eval (ADVICE r13): a string or
      // fractional literal must fail with the same descriptive style as
      // the foldability check, not a raw ClassCastException; a DOUBLE
      // like 4.9 must be rejected, not silently truncated to 4
      c(1).dataType match {
        case ByteType | ShortType | IntegerType | LongType => ()
        case dt => throw new IllegalArgumentException(
          s"rolling_fps window length must be an integral literal, " +
            s"got ${dt.simpleString}")
      }
      val v = c(1).eval()
      require(v != null, "rolling_fps window length must not be NULL")
      RollingFps(c(0), v.asInstanceOf[Number].intValue())
    },
    // SQL-text surface for the script-aware tokenizer — the analog of the
    // reference registering its KwSplit UDTF in the table environment
    // (ref DwsTrafficSourceKeywordPageViewWindow.java:36): the builder
    // routes through Text.tokenizeCjk (since r12 the native TokenizeCjk
    // walk), so `LATERAL VIEW explode(tokenize_cjk(text))` is
    // plan-identical to the DataFrame form.
    fn("tokenize_cjk", "graft.functions.Text", 1)(c =>
      expression(graft.functions.Text.tokenizeCjk(column(c(0))))),
    // content fingerprint (md5 of normalized text) as SQL text
    fn("doc_fingerprint", "graft.functions.Text", 1)(c =>
      expression(graft.functions.Text.fingerprint(column(c(0))))),
    // word-set Jaccard of two token arrays — THE dedup verify expression
    fn("jaccard_sim", "graft.operators.Dedup", 2)(c =>
      expression(graft.operators.Dedup.jaccard(column(c(0)), column(c(1))))))
}

/** `--conf spark.sql.extensions=graft.plans.GraftExtensions` */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach(ext.injectFunction)
}
