package graft

import graft.core.Tables

/** The r17 ingest-path internal: the session schema cache in
  * `Tables.load` (OPTIMIZATION_r17.md #1). It is METADATA-level — it may
  * never change what a query returns.
  */
class TablesLoadSpec extends SparkSpec {

  test("schema cache serves the inferred schema and re-infers on rewrite") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("tables_load_spec").toString
    // write a fixture-named table, load twice: same schema object semantics
    Seq((1L, "a", "en", "s", 1L), (2L, "b", "de", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val first = Tables.load(spark, dir, "documents")
    assert(first.schema.fieldNames.toSeq ===
      Seq("doc_id", "text", "lang", "source", "n_chars"))
    assert(first.count() === 2)
    // REWRITE the path with a different schema: the (path, bytes, mtime)
    // key must miss and the new schema must be served — a stale cache
    // here would silently project ghost columns
    Seq((7L, "x", "fr", "s2", 9L, true))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "extra")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val second = Tables.load(spark, dir, "documents")
    assert(second.schema.fieldNames.contains("extra"),
      "rewritten path must re-infer, not serve the cached schema")
    assert(second.count() === 1)
  }
}
