package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession (the engine's [[GraftSession]] policy) +
  * repo-local temp dirs for suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession =
    GraftSession.builder(4).appName("graft-test").getOrCreate()

  def tmpDir(prefix: String): Path = {
    val base = Paths.get("target", "tmp")
    Files.createDirectories(base)
    Files.createTempDirectory(base, prefix)
  }

  val sfDir = "/root/testdata/sf0.001"

  /** Stop and await every streaming query still running (chat relays,
    * file-stream replays), so no micro-batch outlives its suite and races
    * the SparkContext shutdown at the end of the run. */
  override protected def afterAll(): Unit =
    try SparkSession.getDefaultSession.foreach(_.streams.active.foreach { q =>
      q.stop()
      q.awaitTermination()
    })
    finally super.afterAll()
}
