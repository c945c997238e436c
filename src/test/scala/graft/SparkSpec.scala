package graft

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (cheap, avoids N×JVM-warmup). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      // local[4, 3]: up to 3 attempts per task — a cluster's retry regime,
      // which RetryDeterminismSpec depends on; deterministic failures in
      // other suites still fail their jobs (after 2 cheap extra attempts)
      .master("local[4, 3]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // old ns-ts fixture compat only (no-op on us fixtures); the real ts
      // handling is the adaptive Q.normalizeTs
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
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
