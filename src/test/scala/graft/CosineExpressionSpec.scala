package graft

import org.apache.spark.sql.functions._
import graft.functions.Vectors

/** The native codegen'd cosine_sim expression must be bit-identical to the
  * composed higher-order-function form (same sequential double-widened
  * accumulation), and must actually participate in whole-stage codegen.
  */
class CosineExpressionSpec extends SparkSpec {

  test("native cosine_sim == HOF cosine, bit-exact, on fixture embeddings") {
    val emb = graft.core.Tables.load(spark, sfDir, "embeddings")
    val a = emb.select(col("vec_id").as("ida"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("idb"), col("embedding").as("eb"))
    val pairs = a.join(b, col("ida") < col("idb") && col("idb") < col("ida") + 7)
    val diff = pairs.select(
        expr("cosine_sim(ea, eb)").as("native"),
        Vectors.cosine(col("ea"), col("eb")).as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(diff === 0, "native and HOF cosine must agree bit-for-bit")
  }

  test("cosine_sim handles edge shapes: zero vector, empty, mismatched len") {
    import spark.implicits._
    val df = Seq(
      (Array(0f, 0f), Array(1f, 2f)),          // zero norm -> 0.0
      (Array.empty[Float], Array.empty[Float]), // empty -> 0.0
      (Array(1f, 2f, 3f), Array(1f, 2f))        // mismatched -> min length
    ).toDF("a", "b")
    val out = df.select(expr("cosine_sim(a, b)")).collect().map(_.getDouble(0))
    assert(out(0) === 0.0)
    assert(out(1) === 0.0)
    // mismatched length: the contract is fold-over-common-prefix (norms
    // included), so (1,2,3)x(1,2) == (1,2)x(1,2) == 1.0
    assert(math.abs(out(2) - 1.0) < 1e-15)
  }

  test("cosine_sim runs inside WholeStageCodegen") {
    val emb = graft.core.Tables.load(spark, sfDir, "embeddings")
    val plan = emb.select(expr("cosine_sim(embedding, embedding)").as("s"))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix marks operators fused into a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [cosine_sim"), plan.take(1000))
  }
}
