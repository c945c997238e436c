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

  /** Promote a fully-written staging tree at `<snap>.next` over the
    * snapshot at `snap`: old aside -> staged in -> old swept. POSIX has no
    * atomic rename-over for non-empty directories, so there is an
    * unavoidable instant where the contract path holds no tree — but every
    * crash state is recoverable by [[recoverStaged]], because the staging
    * tree is complete BEFORE the first move and both moves are same-FS
    * atomic renames: a crash leaves a complete tree at the contract path,
    * at `.next`, or at `.old` — never nowhere.
    *
    * `betweenMoves` is a fault-injection seam for specs (defaults to
    * no-op); production callers never pass it.
    */
  def promoteStaged(snap: java.nio.file.Path,
      betweenMoves: () => Unit = () => ()): Unit = {
    val staged = java.nio.file.Paths.get(snap.toString + ".next")
    val old = java.nio.file.Paths.get(snap.toString + ".old")
    deleteRecursively(old)
    java.nio.file.Files.move(snap, old)
    betweenMoves()
    java.nio.file.Files.move(staged, snap)
    deleteRecursively(old)
  }

  /** Recover the contract path after a crash inside [[promoteStaged]] —
    * call at startup (or batch start) before reading/merging `snap`.
    * States: snap present -> nothing to do (a stale `.old`/`.next` is the
    * next batch's problem: `.next` is overwritten, `.old` swept by the
    * next promote). Snap MISSING with `.next` present -> the crash hit
    * between the two moves; `.next` was fully written before the promote
    * began, so it IS the newer complete snapshot: move it in. Snap missing
    * with only `.old` -> roll the old snapshot back (belt-and-braces; this
    * state needs `.next` to vanish mid-window, which the promote itself
    * never does). Returns true if a recovery action was taken.
    */
  def recoverStaged(snap: java.nio.file.Path): Boolean = {
    if (java.nio.file.Files.exists(snap)) return false
    val staged = java.nio.file.Paths.get(snap.toString + ".next")
    val old = java.nio.file.Paths.get(snap.toString + ".old")
    if (java.nio.file.Files.exists(staged)) {
      java.nio.file.Files.move(staged, snap)
      deleteRecursively(old)
      true
    } else if (java.nio.file.Files.exists(old)) {
      java.nio.file.Files.move(old, snap)
      true
    } else false
  }
}
