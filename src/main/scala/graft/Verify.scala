package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter for fast
    // targeted re-checks while iterating (driver passes 2 args = all)
    val only = args.lift(2).map(_.split(",").toSet)
    val spark = graft.core.Sessions.local()
    val out = new java.io.File(outDir)
    out.mkdirs()
    // clear prior artifacts: a stale query dir from an earlier (possibly
    // unfiltered) run would otherwise be re-validated by localcheck
    // against THIS run's (possibly truncated) oracle map — a removed or
    // filtered-out query must disappear from the report, not downgrade
    // to a weak rows-only PASS.
    // The wipe is gated on a marker file written by a prior Verify run: a
    // mistyped or reused outDir pointing at unrelated files must refuse
    // loudly, not silently destroy them.
    // listFiles is null for an uncreatable or non-directory outDir — let
    // the first parquet write raise the actionable error instead of an
    // opaque NPE here
    val marker = new java.io.File(out, ".graft_verify_dir")
    // legacy fallback: pre-marker Verify runs left no marker — a dir whose
    // every entry is a recognizable verify artifact (query output dir,
    // oracle/executed dump) is still safe to clear, so a driver-reused
    // outDir from an older round doesn't brick the correctness gate
    val knownArtifact: java.io.File => Boolean = { f =>
      (f.isDirectory && SparkEntry.queries.contains(f.getName)) ||
        f.getName == "oracle_sql.json" || f.getName == "executed_queries.json"
    }
    val existing = Option(out.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
    if (existing.nonEmpty && !marker.exists() && !existing.forall(knownArtifact)) {
      System.err.println(s"[verify] refusing to clear non-empty $outDir: " +
        s"no ${marker.getName} marker, so it is not a prior Verify output " +
        "dir — pass an empty or verify-owned directory")
      sys.exit(2)
    }
    existing.foreach { f =>
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(rm))
        x.delete(); ()
      }
      rm(f)
    }
    marker.createNewFile()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally graft.core.Barrier.releaseAll(spark) // no cross-query blocks
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // under a targeted filter, dump only the selected oracles so
    // tools/localcheck.py's missing-output check stays meaningful
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // every query this run ATTEMPTED (crashed ones included) — localcheck
    // diffs this against the output dirs, so a rows-only query that died
    // in the try above is flagged instead of silently vanishing
    Files.writeString(Paths.get(s"$outDir/executed_queries.json"),
      selected.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
