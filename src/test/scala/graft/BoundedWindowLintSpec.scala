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
  * The same walk pins the per-micro-batch store layout to one module:
  * only `streaming.BatchStore` may spell its directory names.
  */
class BoundedWindowLintSpec extends AnyFunSuite {

  /** Every `.scala` file under `src/main/scala` with its lines; fails
    * unless at least one file was scanned. */
  private def scanMain(check: (java.nio.file.Path,
      java.util.List[String]) => Unit): Unit = {
    // anchor to the build (the directory holding build.sbt above this
    // suite's compiled classes), not to whatever cwd the JVM started in
    val classes = java.nio.file.Paths.get(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val base = Iterator.iterate(classes)(_.getParent).takeWhile(_ != null)
      .find(d => java.nio.file.Files.exists(d.resolve("build.sbt")))
      .getOrElse(fail(s"no build.sbt above $classes"))
    val root = base.resolve("src/main/scala")
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
}
