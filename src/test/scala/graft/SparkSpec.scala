package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites
  * run sequentially under sbt's single test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  // the engine's own session config (graft.core.GraftSession), at a
  // fixed width so plan and partition assertions don't vary by host
  lazy val session: SparkSession = graft.core.GraftSession.local(8,
    Some(java.nio.file.Files.createTempDirectory("graft_wh").toString))
}
