package graft

import org.apache.spark.sql.functions._
import graft.core.SqlCatalog

/** The SQL surface (BaseSQLApp analog) must be interchangeable with the
  * DataFrame API: literal spark.sql over the registered views produces the
  * same rows as the module queries.
  */
class SqlApiSpec extends SparkSpec {

  test("SQL-text forms of the native one-walk expressions equal the " +
      "Column forms") {
    import graft.functions.{Natives, Text}
    // two fixture views carrying every argument type the 13 names take:
    // text, two sorted distinct token arrays, two array<float> vectors
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
      .withColumn("ta", sort_array(Text.tokenizeDistinct(col("text"))))
      .withColumn("tb", sort_array(Text.tokenizeDistinct(
        substring(col("text"), 20, 400))))
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("ea"),
        reverse(col("embedding")).as("eb"))
    docs.createOrReplaceTempView("sql_docs")
    vecs.createOrReplaceTempView("sql_vecs")
    // (registered name, its SQL call, the typed Column form, relation)
    val cases = Seq(
      ("cosine_sim", "cosine_sim(ea, eb)",
        Natives.cosineSim(col("ea"), col("eb")), "sql_vecs"),
      ("sorted_intersect_count", "sorted_intersect_count(ta, tb)",
        Natives.sortedIntersectCount(col("ta"), col("tb")), "sql_docs"),
      ("text_stats", "text_stats(text)",
        Natives.textStats(col("text")), "sql_docs"),
      ("classifier_stats", "classifier_stats(text)",
        Natives.classifierStats(col("text")), "sql_docs"),
      ("minhash_sigs", "minhash_sigs(text)",
        Natives.minhashSigs(col("text")), "sql_docs"),
      ("simhash16", "simhash16(text)",
        Natives.simhash16(col("text")), "sql_docs"),
      ("simhash60", "simhash60(text)",
        Natives.simhash60(col("text")), "sql_docs"),
      ("cdc_chunks", "cdc_chunks(text)",
        Natives.cdcChunks(col("text")), "sql_docs"),
      ("agms_signs", "agms_signs(text)",
        Natives.agmsSigns(col("text")), "sql_docs"),
      ("rolling_fps", "rolling_fps(text, 8)",
        Natives.rollingFps(col("text"), 8), "sql_docs"),
      ("tokenize_cjk", "tokenize_cjk(text)",
        Text.tokenizeCjk(col("text")), "sql_docs"),
      ("doc_fingerprint", "doc_fingerprint(text)",
        Text.fingerprint(col("text")), "sql_docs"),
      ("jaccard_sim", "jaccard_sim(ta, tb)",
        graft.operators.Dedup.jaccard(col("ta"), col("tb")), "sql_docs"))
    assert(cases.map(_._1).toSet ===
      graft.plans.GraftFunctions.functions.map(_._1.funcName).toSet,
      "every registered name has exactly one case")
    cases.foreach { case (name, sqlCall, column, view) =>
      val sqlDf = spark.sql(s"SELECT id, $sqlCall AS v FROM $view")
      val colDf = spark.table(view).select(col("id"), column.as("v"))
      assert(sqlDf.count() > 0, s"$name: empty fixture")
      assert(sqlDf.exceptAll(colDf).count() === 0 &&
        colDf.exceptAll(sqlDf).count() === 0,
        s"$name: SQL text differs from its Column form")
    }
  }

  test("SQL-text form of the cart-add filter equals the DataFrame form") {
    val sqlDf = SqlCatalog.sql(spark, sfDir,
      """SELECT o_orderkey AS id,
        |  CASE WHEN o_orderkey % 10 = 0 THEN 'bootstrap-start'
        |       WHEN o_orderstatus = 'O' THEN 'insert'
        |       WHEN o_orderstatus = 'F' THEN 'update'
        |       ELSE 'delete' END AS type
        |FROM orders
        |WHERE o_orderkey % 10 <> 0 AND o_orderstatus IN ('O', 'F')""".stripMargin)
    val dfApi = graft.operators.CdcOps
      .queries("p8_predicate_filter")(spark, sfDir)
    assert(sqlDf.exceptAll(dfApi).count() === 0 &&
      dfApi.exceptAll(sqlDf).count() === 0)
  }

  test("SQL-text form of the as-of join equals the DataFrame form") {
    // the union-and-window as-of is plain SQL — the reference's SQL-first
    // jobs could express it verbatim; same plan as the DataFrame form
    val sqlDf = SqlCatalog.sql(spark, sfDir,
      """WITH u AS (
        |  SELECT user_id, ts, 1 AS side, event_id,
        |         CAST(NULL AS BIGINT) AS pay_id,
        |         CAST(NULL AS DOUBLE) AS pay_value
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, ts, 0 AS side, CAST(NULL AS BIGINT) AS event_id,
        |         event_id AS pay_id, value AS pay_value
        |  FROM events WHERE event_type = 'purchase'),
        |w AS (
        |  SELECT *,
        |    last(CASE WHEN side = 0
        |              THEN named_struct('pay_id', pay_id,
        |                                'pay_value', pay_value) END, true)
        |      OVER (PARTITION BY user_id ORDER BY ts, side, pay_id
        |            ROWS UNBOUNDED PRECEDING) AS asof
        |  FROM u)
        |SELECT event_id AS click_id, user_id,
        |  date_format(ts, 'yyyy-MM-dd HH:mm:ss') AS click_ts,
        |  asof.pay_id AS asof_pay_id,
        |  CAST(CAST(asof.pay_value AS DECIMAL(18,2)) AS STRING) AS asof_value
        |FROM w WHERE side = 1""".stripMargin)
    val dfApi = graft.operators.Relational
      .queries("j7_asof_join")(spark, sfDir)
    assert(sqlDf.exceptAll(dfApi).count() === 0 &&
      dfApi.exceptAll(sqlDf).count() === 0)
  }

  test("SQL tumbling window (A1/W3 SQL form) equals the DataFrame form") {
    val sqlDf = SqlCatalog.sql(spark, sfDir,
      """SELECT date_format(window.start, 'yyyy-MM-dd HH:mm:ss') AS stt,
        |       date_format(window.end, 'yyyy-MM-dd HH:mm:ss') AS edt,
        |       count(1) AS view_count
        |FROM events
        |WHERE user_id IS NOT NULL AND event_type = 'view'
        |GROUP BY window(ts, '10 seconds')""".stripMargin)
    val dfApi = graft.operators.Windows.queries("a1_tumble_count")(spark, sfDir)
    assert(sqlDf.exceptAll(dfApi).count() === 0 &&
      dfApi.exceptAll(sqlDf).count() === 0)
  }
}
