package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.{Natives, Text}

/** The two paths of every native string walk (`plans.StringWalk`) agree:
  * the interpreted hook, run with whole-stage codegen and the codegen
  * factory off, returns the rows the generated static `compute` call
  * returns, and the generated path really runs inside a
  * WholeStageCodegen stage.
  */
class StringWalkSpec extends SparkSpec {

  /** (SQL name, the typed Column form) of the nine walks */
  private val walks: Seq[(String, Column => Column)] = Seq(
    "text_stats" -> Natives.textStats,
    "classifier_stats" -> Natives.classifierStats,
    "minhash_sigs" -> Natives.minhashSigs,
    "simhash16" -> Natives.simhash16,
    "simhash60" -> Natives.simhash60,
    "cdc_chunks" -> Natives.cdcChunks,
    "agms_signs" -> Natives.agmsSigns,
    "tokenize_cjk" -> Text.tokenizeCjk,
    "rolling_fps" -> (c => Natives.rollingFps(c, 8)))

  /** `body` with whole-stage codegen off and every generated projection
    * replaced by its interpreted form, restoring the session after. */
  private def interpreted[T](body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val before = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("each walk's interpreted eval equals its generated code, which " +
      "runs inside whole-stage codegen") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    // parquet-backed input: a projection over a local relation would be
    // evaluated by the optimizer before it reaches either path
    val dir = java.nio.file.Files.createTempDirectory("string_walk")
      .resolve("input").toString
    val edges = Seq[(Long, String)]((-1L, null), (-2L, ""),
      (-3L, "東京の天気は晴れ 😀 naïve ÉCOLE 𐍈 中文分词 test"))
      .toDF("doc_id", "text")
    graft.core.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).unionByName(edges)
      .write.parquet(dir)
    val input = spark.read.parquet(dir)
    walks.foreach { case (name, walk) =>
      def rows = input.select(col("doc_id"), walk(col("text")).as("v"))
      val generated = rows
      val plan = generated.queryExecution.executedPlan.toString
      assert(raw"\*\(\d+\) Project \[.*\b$name\(".r.findFirstIn(plan).nonEmpty,
        s"$name: not inside a WholeStageCodegen stage:\n$plan")
      val interp = interpreted {
        val df = rows
        val p = df.queryExecution.executedPlan.toString
        assert(!p.contains("*("), s"$name: codegen stage when off:\n$p")
        spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
      }
      assert(generated.exceptAll(interp).count() === 0 &&
        interp.exceptAll(generated).count() === 0,
        s"$name: interpreted eval differs from generated code")
    }
  }
}
