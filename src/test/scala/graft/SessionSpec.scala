package graft

import graft.util.ForkFreeLocalFileSystem
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader

/** [[graft.util.Session]]: the shared settings every graft session carries,
  * and the `file:` FS it registers, which sets each mode as Hadoop's own
  * local FS does without forking `chmod` ([[SparkSpec.forks]] counts the
  * forks).
  */
class SessionSpec extends SparkSpec {

  private def hconf = spark.sparkContext.hadoopConfiguration

  /** Hadoop's own checksummed local FS, whose raw layer forks `chmod`
    * without the native library.
    */
  private lazy val forking = {
    val fs = new LocalFileSystem()
    fs.initialize(URI.create("file:///"), hconf)
    fs
  }

  private def ours = FileSystem.get(URI.create("file:///"), hconf)

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("every session sets the shared settings and writes file: through the checksummed fork-free FS") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.ui.enabled") == "false")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(ours.getClass == classOf[ForkFreeLocalFileSystem])
    assert(FileSystem.getLocal(hconf).getClass == classOf[ForkFreeLocalFileSystem])
    val d = tmpDir("session_crc")
    def write(name: String, text: String): Path = {
      val p = new Path(d.toUri.toString, name)
      val out = ours.create(p)
      try out.writeBytes(text) finally out.close()
      p
    }
    val f = write("f", "abc")
    assert(Files.exists(d.resolve(".f.crc")), "a checksummed FS writes a .crc beside the file")
    // a file renamed onto a file replaces it, as on Hadoop's own local FS
    assert(ours.rename(write("g", "xyz"), f))
    assert(Files.readString(d.resolve("f")) == "xyz" && !Files.exists(d.resolve("g")))
  }

  test("files, dirs and a sticky-bit dir come out with the modes the forking FS gives them") {
    val roots = Seq(ours, forking).map(fs => fs -> tmpDir("session_modes"))
    val got = roots.map { case (fs, root) =>
      val at = (name: String) => new Path(root.toUri.toString, name)
      def file(name: String, octal: Option[String]): Unit = octal
        .fold(fs.create(at(name)))(p => fs.create(at(name), perm(p), true, 4096,
          1.toShort, 1L << 20, null))
        .close()
      val census = forks(root) {
        file("f644", None) // the default create mode under the conf's umask
        file("f640", Some("640"))
        fs.mkdirs(at("d755"), perm("755"))
        fs.mkdirs(at("d700"), perm("700"))
      }
      fs.mkdirs(at("d1755"))
      val sticky = forks(root)(fs.setPermission(at("d1755"), perm("1755")))
      Seq("f644", "f640", "d755", "d700", "d1755").map(n => n -> mode(root.resolve(n))) ->
        (census.getOrElse("chmod", 0), sticky.getOrElse("chmod", 0))
    }
    val Seq((oursModes, (oursForks, oursSticky)), (forkingModes, (forkingForks, _))) = got
    assert(oursModes == forkingModes)
    assert(oursModes == Seq("f644", "f640", "d755", "d700", "d1755")
      .map(n => n -> perm(n.drop(1)).toShort.toInt),
      oursModes.map { case (n, m) => s"$n=${m.toOctalString}" })
    assert(oursForks == 0, "rwx modes are set in process")
    assert(oursSticky == 1, "the sticky bit goes through the forking parent")
    if (!NativeCodeLoader.isNativeCodeLoaded)
      assert(forkingForks > 0, "without the native library Hadoop's own FS forks chmod")
  }

  test("a dir with a setgid bit keeps it as chmod would") {
    val dirs = Seq(ours, forking).map { fs =>
      val d = Files.createDirectory(tmpDir("session_setgid").resolve("d"))
      assert(new ProcessBuilder("chmod", "g+s", d.toString).start().waitFor() == 0)
      fs.setPermission(new Path(d.toUri.toString), perm("750"))
      mode(d)
    }
    // a four-digit numeric chmod keeps a dir's setgid bit
    assert(dirs == Seq.fill(2)(Integer.parseInt("2750", 8)), dirs.map(_.toOctalString))
  }

  test("a small Parquet write forks no chmod") {
    val d = tmpDir("session_write")
    val census = forks(d)(spark.range(100).selectExpr("id", "id % 3 as v").repartition(2)
      .write.parquet(d.resolve("out").toString))
    assert(census.getOrElse("chmod", 0) == 0, s"forks in a Parquet write: $census")
    assert(spark.read.parquet(d.resolve("out").toString).count() == 100)
  }
}
