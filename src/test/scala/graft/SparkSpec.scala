package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps
  * `sbt test` fast): the engine's own session, `core.Sessions.local` at
  * four cores, so the suites run under the confs the engine runs under
  * (graft extensions, generated-code cache size included).
  */
object TestSession {
  lazy val spark: SparkSession = graft.core.Sessions.local("4")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sfDir = "/root/testdata/sf0.001"
}
