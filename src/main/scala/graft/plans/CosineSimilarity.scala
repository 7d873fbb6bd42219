package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

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

  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) =>
        CosineSimilarity(children(0), children(1))),
    // two-pointer intersection count over sorted string arrays (see
    // SortedIntersect scaladoc)
    (FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName,
        "sorted_intersect_count"),
      (children: Seq[Expression]) =>
        SortedIntersectCount(children(0), children(1))),
    // one-walk text-quality feature struct (see TextStats scaladoc)
    (FunctionIdentifier("text_stats"),
      new ExpressionInfo(classOf[TextStats].getName, "text_stats"),
      (children: Seq[Expression]) => TextStats(children.head)),
    // one-walk hashed-classifier struct (see ClassifierStats scaladoc)
    (FunctionIdentifier("classifier_stats"),
      new ExpressionInfo(classOf[ClassifierStats].getName, "classifier_stats"),
      (children: Seq[Expression]) => ClassifierStats(children.head)),
    // one-walk MinHash slice-minima struct (see MinhashSigs scaladoc)
    (FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinhashSigs].getName, "minhash_sigs"),
      (children: Seq[Expression]) => MinhashSigs(children.head)),
    // one-walk 16-bit SimHash string (see Simhash16 scaladoc)
    (FunctionIdentifier("simhash16"),
      new ExpressionInfo(classOf[Simhash16].getName, "simhash16"),
      (children: Seq[Expression]) => Simhash16(children.head)),
    // one-walk 60-bit SimHash BIGINT (see Simhash60 scaladoc)
    (FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[Simhash60].getName, "simhash60"),
      (children: Seq[Expression]) => Simhash60(children.head)),
    // content-defined chunk fingerprints (see CdcChunks scaladoc)
    (FunctionIdentifier("cdc_chunks"),
      new ExpressionInfo(classOf[CdcChunks].getName, "cdc_chunks"),
      (children: Seq[Expression]) => CdcChunks(children.head)),
    // one-walk 16-coordinate AGMS sign vector (see AgmsSigns scaladoc)
    (FunctionIdentifier("agms_signs"),
      new ExpressionInfo(classOf[AgmsSigns].getName, "agms_signs"),
      (children: Seq[Expression]) => AgmsSigns(children.head)),
    // rolling Rabin–Karp window fingerprints (see RollingFps scaladoc);
    // the window length must be a foldable integer literal
    (FunctionIdentifier("rolling_fps"),
      new ExpressionInfo(classOf[RollingFps].getName, "rolling_fps"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"rolling_fps(str, L) takes 2 arguments, got ${children.size}")
        require(children(1).foldable,
          "rolling_fps window length must be a foldable integer literal")
        // dtype + null validation BEFORE eval (ADVICE r13): a string or
        // fractional literal must fail with the same descriptive style as
        // the foldability check, not a raw ClassCastException; a DOUBLE
        // like 4.9 must be rejected, not silently truncated to 4
        children(1).dataType match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType => ()
          case dt => throw new IllegalArgumentException(
            s"rolling_fps window length must be an integral literal, " +
              s"got ${dt.simpleString}")
        }
        val v = children(1).eval()
        require(v != null, "rolling_fps window length must not be NULL")
        RollingFps(children(0), v.asInstanceOf[Number].intValue())
      }),
    // SQL-text surface for the script-aware tokenizer — the analog of the
    // reference registering its KwSplit UDTF in the table environment
    // (ref DwsTrafficSourceKeywordPageViewWindow.java:36): the builder
    // routes through Text.tokenizeCjk (since r12 the native TokenizeCjk
    // walk), so `LATERAL VIEW explode(tokenize_cjk(text))` is
    // plan-identical to the DataFrame form.
    (FunctionIdentifier("tokenize_cjk"),
      new ExpressionInfo("graft.functions.Text", "tokenize_cjk"),
      (children: Seq[Expression]) =>
        expression(graft.functions.Text.tokenizeCjk(column(children.head)))),
    // content fingerprint (md5 of normalized text) as SQL text
    (FunctionIdentifier("doc_fingerprint"),
      new ExpressionInfo("graft.functions.Text", "doc_fingerprint"),
      (children: Seq[Expression]) =>
        expression(graft.functions.Text.fingerprint(column(children.head)))),
    // word-set Jaccard of two token arrays — THE dedup verify expression
    (FunctionIdentifier("jaccard_sim"),
      new ExpressionInfo("graft.operators.Dedup", "jaccard_sim"),
      (children: Seq[Expression]) =>
        expression(graft.operators.Dedup.jaccard(
          column(children(0)), column(children(1))))))
}

/** `--conf spark.sql.extensions=graft.plans.GraftExtensions` */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach(ext.injectFunction)
}
