package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._

import graft.core.{LocalChecksumFileSystem, LocalChecksumFs}
import graft.streaming.{BatchStore, Sinks}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** `core.Sessions.local`'s local file system: the writers of stores,
  * checkpoint logs and state-store deltas start no OS process, and the
  * files they leave have the modes, checksums and link status that
  * Hadoop's stock local file system gives them.
  */
class LocalFsSpec extends SparkSpec {

  private def hadoopConf: Configuration = spark.sparkContext.hadoopConfiguration
  private val LocalUri = new URI("file:///")

  /** The command lines of the processes the JVM starts while `body` runs
    * that name `dir`, read back from a JFR `jdk.ProcessStart` recording;
    * processes about other paths (another suite's) are not counted. */
  private def processesNaming(dir: JPath)(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("localfs", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .map(_.getString("command")).filter(_.contains(dir.toString))
    } finally { rec.close(); Files.delete(dump) }
  }

  test("Sessions.local's file: FileSystem and FileContext are the " +
      "fork-free classes") {
    // Hadoop caches the first file: FileSystem of a JVM whatever its conf,
    // so this also pins that the session is built before any other
    // FileSystem use
    assert(FileSystem.get(LocalUri, hadoopConf).getClass ===
      classOf[LocalChecksumFileSystem])
    assert(FileContext.getFileContext(LocalUri, hadoopConf)
      .getDefaultFileSystem.getClass === classOf[LocalChecksumFs])
  }

  test("an existing-store upsert starts no process") {
    import spark.implicits._
    val root = Files.createTempDirectory("localfs_upsert")
    val dir = s"$root/t"
    Sinks.upsert(spark, Seq((1L, "a", 1L), (2L, "b", 1L))
      .toDF("k", "v", "seq"), "k", "seq", dir)
    val started = processesNaming(root) {
      Sinks.upsert(spark, Seq((1L, "a2", 2L), (3L, "c", 2L))
        .toDF("k", "v", "seq"), "k", "seq", dir)
    }
    assert(started.isEmpty, started.mkString("\n"))
    assert(Sinks.readStore(spark, dir).count() === 3L)
  }

  test("BatchStore writes and a readPrior over prior batch dirs start no " +
      "process") {
    import spark.implicits._
    val root = Files.createTempDirectory("localfs_batchstore")
    val schema = StructType(Seq(StructField("v", LongType)))
    var got = 0L
    val started = processesNaming(root) {
      (0L to 3L).foreach(id =>
        BatchStore.write(Seq(id).toDF("v"), root.toString, id))
      got = BatchStore.readPrior(spark, root.toString, 4L, schema).count()
    }
    assert(started.isEmpty, started.mkString("\n"))
    assert(got === 4L)
  }

  test("a stateful file-source micro-batch with its offset and commit logs " +
      "and state store starts no process") {
    import spark.implicits._
    val root = Files.createTempDirectory("localfs_stream")
    val src = root.resolve("src").toString
    Seq((1L, 10L), (2L, 20L), (1L, 5L)).toDF("k", "v").write.parquet(src)
    val counts = spark.readStream.schema("k LONG, v LONG").parquet(src)
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
    val started = processesNaming(root) {
      val q = counts.writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          BatchStore.write(b, s"$root/out", id)
        }
        .option("checkpointLocation", s"$root/chk").start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(started.isEmpty, started.mkString("\n"))
    assert(Files.exists(root.resolve("chk/commits/0")))
    assert(spark.read.parquet(s"$root/out/__batch=0").as[(Long, Long)]
      .collect().toSet === Set((1L, 2L), (2L, 1L)))
  }

  test("files, their .crc files and directories get the stock local file " +
      "system's modes, through FileSystem and FileContext") {
    val stockConf = new Configuration(hadoopConf)
    stockConf.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    stockConf.set("fs.AbstractFileSystem.file.impl",
      "org.apache.hadoop.fs.local.LocalFs")
    val stockFs = FileSystem.newInstance(LocalUri, stockConf)
    val oursFs = FileSystem.get(LocalUri, hadoopConf)
    assert(stockFs.getClass !== oursFs.getClass)
    // modes the process umask alone would not give, so a skipped chmod
    // shows
    val file = new FsPermission("600")
    val dirMode = new FsPermission("750")
    def make(root: JPath, fs: FileSystem, fc: FileContext): Unit = {
      fs.create(new Path(s"$root/fs_f"), file, true, 4096, 1.toShort,
        1L << 20, null).close()
      fs.mkdirs(new Path(s"$root/fs_d"), dirMode)
      fs.create(new Path(s"$root/fs_g")).close()
      fs.setPermission(new Path(s"$root/fs_g"), new FsPermission("741"))
      fc.create(new Path(s"$root/fc_f"),
        java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
        org.apache.hadoop.fs.Options.CreateOpts.perms(file)).close()
      fc.mkdir(new Path(s"$root/fc_d"), dirMode, true)
    }
    def modes(root: JPath): Map[String, String] =
      Files.list(root).iterator.asScala.map(p => p.getFileName.toString ->
        java.nio.file.attribute.PosixFilePermissions.toString(
          Files.getPosixFilePermissions(p))).toMap
    val stock = Files.createTempDirectory("localfs_stock")
    val ours = Files.createTempDirectory("localfs_ours")
    try {
      make(stock, stockFs, FileContext.getFileContext(LocalUri, stockConf))
      make(ours, oursFs, FileContext.getFileContext(LocalUri, hadoopConf))
      val want = modes(stock)
      assert(want.keySet === Set("fs_f", ".fs_f.crc", "fs_d", "fs_g",
        ".fs_g.crc", "fc_f", ".fc_f.crc", "fc_d"))
      assert(want("fs_f") === "rw-------" && want("fs_d") === "rwxr-x---",
        want)
      assert(modes(ours) === want)
    } finally stockFs.close()
  }

  test("getFileLinkStatus still reports a symlink and its target") {
    val root = Files.createTempDirectory("localfs_link")
    val target = Files.createFile(root.resolve("target"))
    val link = Files.createSymbolicLink(root.resolve("link"), target)
    val fs = FileSystem.get(LocalUri, hadoopConf)
    val st = fs.getFileLinkStatus(new Path(link.toString))
    assert(st.isSymlink, st)
    assert(st.getSymlink === fs.makeQualified(new Path(target.toString)))
    val plain = fs.getFileLinkStatus(new Path(target.toString))
    assert(!plain.isSymlink && plain.isFile, plain)
    intercept[java.io.FileNotFoundException](
      fs.getFileLinkStatus(new Path(root.resolve("missing").toString)))
  }
}
