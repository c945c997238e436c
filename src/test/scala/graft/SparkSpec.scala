package graft

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.SparkSession
import org.scalacheck.{Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One shared local session for all suites (cheap, avoids N×JVM-warmup). */
object SparkSpec {
  // local[4, 3]: up to 3 attempts per task — a cluster's retry regime,
  // which RetryDeterminismSpec depends on; deterministic failures in
  // other suites still fail their jobs (after 2 cheap extra attempts)
  lazy val spark: SparkSession = graft.util.Session.forQueries("local[4, 3]", 8, "WARN",
    "spark.app.name" -> "graft-test")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf(name: String, dir: String = "/root/testdata/sf0.001") =
    spark.read.parquet(s"$dir/$name.parquet")
  def tmpDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit(); d
  }
  def writeFile(dir: java.nio.file.Path, name: String, content: String): String = {
    val p = dir.resolve(name)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, content)
    p.toString
  }

  /** Child processes started during `f` whose command line names `under`,
    * counted by program name. The census is a JFR recording of
    * `jdk.ProcessStart` taken inside this JVM, so it is deterministic: it
    * counts only the forks that touch the test's own dirs.
    */
  def forks(under: java.nio.file.Path)(f: => Unit): Map[String, Int] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try f finally rec.stop()
      val file = java.nio.file.Files.createTempFile("forks", ".jfr")
      try {
        rec.dump(file)
        // a recording the JVM was started with lands in the same dump
        RecordingFile.readAllEvents(file).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command")).filter(_.contains(under.toString))
          .groupBy(_.split(' ').head.split('/').last).map { case (k, v) => k -> v.size }
      } finally java.nio.file.Files.deleteIfExists(file)
    } finally rec.close()
  }

  /** Runs a ScalaCheck property over 12 inputs from a fixed seed, so a
    * failure reproduces; a failing sample rethrows its own assertion.
    */
  def check(prop: Prop): Unit = {
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(12).withInitialSeed(Seed(20261017L)), prop)
    res.status match {
      case Test.PropException(_, e, _) => throw e // the failing assertion, as is
      case _ => assert(res.passed, Pretty.pretty(Pretty.prettyTestRes(res)))
    }
  }
}
