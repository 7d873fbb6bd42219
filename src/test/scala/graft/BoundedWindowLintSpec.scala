package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unpartitioned `Window.orderBy` is the one-task-global-sort anti-pattern
  * this repo bans on query paths — every surviving site is only legal
  * because its INPUT is provably bounded (a ≤ nB-row bucket rollup, a
  * limit(k) cut, a count-of-counts histogram) or harness-only. VERDICT
  * r17 #5 asked for a per-site pin so a new unbounded site can't slip in
  * silently: every `Window.orderBy` not preceded by a `partitionBy` on
  * the same expression must carry a `bounded-window:` comment within the
  * four lines above it stating its bound. This spec IS that pin — a new
  * site fails here until its author states (and thereby reviews) the
  * bound.
  *
  * The same walk pins three things to one module each: only
  * `streaming.BatchStore` may spell the per-micro-batch store layout,
  * only `core.Knobs` a `spark.graft.*` conf key, and only `core.Sessions`
  * may build a session or read the environment — in the tests too, so
  * the suites run on the engine's own session. And queries bind the
  * native expressions only through `functions.Natives`: no SQL text in
  * `src/main` outside the registry file names one, and nothing registers
  * functions on a session while a query is built.
  */
class BoundedWindowLintSpec extends AnyFunSuite {

  private def scanMain(check: (java.nio.file.Path,
      java.util.List[String]) => Unit): Unit = scan("src/main/scala")(check)

  /** Every `.scala` file under the build's source tree `tree` with its
    * lines; fails unless at least one file was scanned. */
  private def scan(tree: String)(check: (java.nio.file.Path,
      java.util.List[String]) => Unit): Unit = {
    // anchor to the build (the directory holding build.sbt above this
    // suite's compiled classes), not to whatever cwd the JVM started in
    val classes = java.nio.file.Paths.get(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val base = Iterator.iterate(classes)(_.getParent).takeWhile(_ != null)
      .find(d => java.nio.file.Files.exists(d.resolve("build.sbt")))
      .getOrElse(fail(s"no build.sbt above $classes"))
    val root = base.resolve(tree)
    var scanned = 0
    val walk = java.nio.file.Files.walk(root)
    try walk.forEach { p =>
      if (p.toString.endsWith(".scala")) {
        scanned += 1
        check(p, java.nio.file.Files.readAllLines(p))
      }
    } finally walk.close()
    assert(scanned > 0, s"no .scala files under $root")
  }

  test("every unpartitioned Window.orderBy site declares its bound") {
    val bad = scala.collection.mutable.ListBuffer.empty[String]
    scanMain { (p, lines) =>
      for (i <- 0 until lines.size()) {
        val l = lines.get(i)
        // flag `Window.orderBy` (no partitionBy on the same line);
        // `Window.partitionBy(...).orderBy` chains are fine
        if (l.contains("Window.orderBy") && !l.contains("partitionBy")
            && !l.trim.startsWith("//")) {
          val context = (math.max(0, i - 4) until i)
            .map(lines.get).mkString("\n")
          if (!context.contains("bounded-window:") &&
              !l.contains("bounded-window:"))
            bad += s"$p:${i + 1}: $l"
        }
      }
    }
    assert(bad.isEmpty,
      "unpartitioned Window.orderBy without a bounded-window: declaration " +
        "within 4 lines above:\n" + bad.mkString("\n"))
  }

  test("only BatchStore spells the per-batch store layout") {
    val layout = Seq("__batch=", "__gen=", "_OBSOLETE")
    val bad = scala.collection.mutable.ListBuffer.empty[String]
    scanMain { (p, lines) =>
      if (p.getFileName.toString != "BatchStore.scala")
        for (i <- 0 until lines.size()) {
          val l = lines.get(i)
          val t = l.trim
          val comment = t.startsWith("//") || t.startsWith("*") ||
            t.startsWith("/**")
          if (!comment && layout.exists(l.contains)) bad += s"$p:${i + 1}: $l"
        }
    }
    assert(bad.isEmpty,
      "store layout literal outside streaming.BatchStore:\n" +
        bad.mkString("\n"))
  }

  /** `file:line: text` of each non-comment line matching `bad` in every
    * file of `tree` (default `src/main`) except `owner`. */
  private def outside(owner: String, tree: String = "src/main/scala")(
      bad: String => Boolean): Seq[String] = {
    val found = scala.collection.mutable.ListBuffer.empty[String]
    scan(tree) { (p, lines) =>
      if (p.getFileName.toString != owner)
        for (i <- 0 until lines.size()) {
          val l = lines.get(i)
          val t = l.trim
          val comment = t.startsWith("//") || t.startsWith("*") ||
            t.startsWith("/**")
          if (!comment && bad(l)) found += s"$p:${i + 1}: $l"
        }
    }
    found.toList
  }

  test("only core.Knobs spells a spark.graft conf key") {
    val bad = outside("Knobs.scala")(_.contains("\"spark.graft."))
    assert(bad.isEmpty,
      "spark.graft.* key literal outside core.Knobs:\n" + bad.mkString("\n"))
  }

  test("only core.Sessions builds a session or reads the environment") {
    def sessionOrEnv(l: String) =
      l.contains("sys.env") || l.contains("SparkSession.builder")
    // the tests as well (this file spells the literals it looks for)
    val bad = outside("Sessions.scala")(sessionOrEnv) ++
      outside("BoundedWindowLintSpec.scala", "src/test/scala")(sessionOrEnv)
    assert(bad.isEmpty,
      "session builder or env read outside core.Sessions:\n" +
        bad.mkString("\n"))
  }

  test("queries bind native expressions through typed constructors, " +
      "never through SQL text or a per-query registration") {
    // the 13 registered names, spelled here rather than read from the
    // registry so a name dropped from it is still policed
    val names = Seq("cosine_sim", "sorted_intersect_count", "text_stats",
      "classifier_stats", "minhash_sigs", "simhash16", "simhash60",
      "cdc_chunks", "agms_signs", "rolling_fps", "tokenize_cjk",
      "doc_fingerprint", "jaccard_sim")
    // a call of one of them inside a string literal: `expr("cosine_sim(`
    // and SQL fragments spliced into one
    val sqlCall = ("\"[^\"]*\\b(" + names.mkString("|") + ")\\(").r
    val sqlText = outside("CosineSimilarity.scala")(l =>
      sqlCall.findFirstIn(l).nonEmpty)
    assert(sqlText.isEmpty,
      "native expression called through SQL text outside the registry:\n" +
        sqlText.mkString("\n"))
    val registers = Seq("src/main/scala", "src/test/scala").flatMap(tree =>
      outside("BoundedWindowLintSpec.scala", tree)(
        _.contains("GraftFunctions.register")))
    assert(registers.isEmpty,
      "per-query function registration:\n" + registers.mkString("\n"))
  }
}
