package graft

import graft.streaming.BatchStore
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The per-micro-batch store's one prior rule: a batch reads only the
  * data-bearing contributions with ids strictly below its own. */
class BatchStoreSpec extends SparkSpec {

  private val schema = StructType(Seq(StructField("v", LongType)))

  test("readPrior skips later ids, data-less dirs and non-numeric ids") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("batchstore").toString
    def rows(v: Long) = Seq(v).toDF("v")
    BatchStore.write(rows(0L), root, 0L)
    // a zero-row partitioned write leaves only _SUCCESS
    new java.io.File(s"$root/__batch=1").mkdirs()
    new java.io.File(s"$root/__batch=1/_SUCCESS").createNewFile()
    // a crashed write leaves part files only under _temporary, which
    // Spark's reader hides; reading this dir would fail
    val crashed = new java.io.File(s"$root/__batch=2/_temporary/0/task")
    crashed.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(crashed.getPath, "part-00000.parquet"),
      Array[Byte](1, 2, 3))
    rows(99L).write.parquet(s"$root/__batch=x")
    BatchStore.write(rows(3L), root, 3L)
    BatchStore.write(rows(4L), root, 4L)
    val got = BatchStore.readPrior(spark, root, 3L, schema)
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(0L), s"only batch 0 is strictly earlier with data: $got")
  }

  test("a never-created store reads as an empty relation, schema pinned") {
    val root = java.nio.file.Files.createTempDirectory("batchstore")
      .resolve("never").toString
    Seq(BatchStore.readPrior(spark, root, 5L, schema),
        BatchStore.readAll(spark, root, schema)).foreach { df =>
      assert(df.schema === schema)
      assert(df.count() === 0L)
    }
  }
}
