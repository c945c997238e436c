package graft.util

import scala.jdk.CollectionConverters._
import scala.util.Using

/** Local-filesystem helpers shared by the bench/soak/verify harnesses.
  * (The data path proper uses the Hadoop FS API — see graft.sinks.Sink, and
  * graft.streaming.IngestLoop for the micro-batch commit;
  * these are for driver-local temp trees only.)
  */
object Fs {

  /** Depth-first delete of a temp tree (streams closed, missing files ok,
    * symlinks deleted not followed — `Files.walk` does not follow links).
    */
  def deleteRecursively(root: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.exists(root))
      Using.resource(java.nio.file.Files.walk(root)) { st =>
        st.iterator().asScala.toList.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
  }

  def deleteRecursively(f: java.io.File): Unit = deleteRecursively(f.toPath)
}
