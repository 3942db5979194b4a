package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.plans.TopKPerGroup

/** Tier-1 runs under the graded session policy, and the policy stays in
  * one place: the suites' shared session carries `GraftSession`'s conf
  * and injected planner strategy, and no main source builds a session
  * of its own, reads a streaming env knob or a JVM system property,
  * appends a rule to a built session, flushes a stream, or lists files
  * through a located-status listing. */
class GraftSessionSpec extends SparkSpec {

  test("the shared test session carries the GraftSession conf and extensions") {
    val conf = spark.conf
    assert(conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sessionState.planner.extraPlanningStrategies
      .exists(_.isInstanceOf[TopKPerGroup.Strategy]))
  }

  private def mainSources: Seq[Path] = {
    val files = Files.walk(Paths.get("src", "main", "scala"))
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally files.close()
  }

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  test("SparkSession.builder is called only in GraftSession.scala") {
    val sources = mainSources
    assert(sources.exists(_.getFileName.toString == "GraftSession.scala"))
    val offenders = for {
      p <- sources if p.getFileName.toString != "GraftSession.scala"
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("SparkSession.builder") && !isComment(line)
    } yield s"$p:${i + 1}"
    assert(offenders.isEmpty, offenders.mkString("build the session with GraftSession.builder: ", ", ", ""))
  }

  test("no SPARK_GRAFT_STREAM_ env knob in main sources") {
    val offenders = for {
      p <- mainSources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("SPARK_GRAFT_STREAM_")
    } yield s"$p:${i + 1}"
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("no main source appends to a session's experimental rules") {
    // extraOptimizations/extraStrategies are per-session mutable lists: an
    // append from a query or helper leaks into every later plan of the
    // shared session — ship rules through GraftExtensions instead
    val assign = """experimental\.extra(?:Optimizations|Strategies)\s*(?:\+\+|:\+)?=(?!=)""".r
    val offenders = for {
      p <- mainSources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if !isComment(line) && assign.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}"
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("no JVM system-property knob in main sources") {
    val offenders = for {
      p <- mainSources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if !isComment(line) && (line.contains("sys.props.get(\"graft.") ||
        line.contains("System.getProperty(\"graft."))
    } yield s"$p:${i + 1}"
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("no main source flushes a stream on a request path") {
    // processAllAvailable blocks the caller until a stream drains: a
    // route that flushes a stream pays a micro-batch per request
    val flush = """\bprocessAllAvailable\b""".r
    val offenders = for {
      p <- mainSources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if !isComment(line) && flush.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}"
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("no main source lists Hadoop files with their located status") {
    // FileSystem.listFiles(path, recursive) and listLocatedStatus build a
    // LocatedFileStatus per entry, which reads its permission: Hadoop's
    // local file system without its native library forks a process per
    // entry for that. Walk with listStatus, as Spark's own listing does.
    // java.io.File.listFiles(), with no argument, stays allowed.
    val located = """\blistLocatedStatus\b|\blistFiles\s*\((?!\s*\))""".r
    val offenders = for {
      p <- mainSources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if !isComment(line) && located.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}"
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
