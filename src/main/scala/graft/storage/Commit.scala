package graft.storage

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * The one crash-safe commit of storage maintenance, and the driver-side
 * small-file I/O the storage modules share.
 *
 * A maintenance op ([[Layout.compactSegments]], [[Finalize.finalizeSegments]])
 * stages its new files beside the live tree, then records the whole swap
 * in a manifest BEFORE any live file is touched — the reference's part
 * merger and finalize backstop record the new generation the same way
 * (reference `CHANGES.md` §0.11.0). The manifest is published atomically
 * (temp file, then rename); replaying it completes exactly the recorded
 * swap however often a crash interrupts it, because every step is
 * idempotent: a MOVE whose source is gone already happened, a DEL whose
 * file is gone already happened, a state line is a plain rewrite.
 *
 * On-disk format, one tab-separated step a line:
 *  - `MOVE <src> <dst>`: rename a staged file into its live directory;
 *  - `DEL <path>`: delete a superseded live file;
 *  - `STATE <content>`: rewrite the manifest directory's finalize state;
 *  - `FSTATE <dir> <content>`: rewrite `dir`'s finalize state.
 * State content escapes its newlines as `\n`. Manifests written here list
 * every MOVE before any DEL; an older manifest replays in file order.
 *
 * Hadoop's `FileSystem.rename` reports some failures (a destination that
 * already exists, a missing parent) by returning false rather than
 * throwing. Every rename here checks that result: a failed MOVE throws
 * and keeps the manifest, so the DELs after it never run and the staged
 * copy is never swept.
 */
private[storage] object Commit {

  /** One manifest step. */
  sealed trait Step
  final case class Move(src: Path, dst: Path) extends Step
  final case class Del(path: Path) extends Step
  /** Rewrite `dir`'s finalize state with `content` (unescaped). */
  final case class State(dir: Path, content: String) extends Step

  def writeText(fs: FileSystem, p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
  }

  def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** `fs.rename` that throws when the file system reports failure. */
  def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst failed")

  /**
   * Commit `steps` through the manifest at `manifest`: hit the
   * `<op>.staged` failpoint, publish the manifest (temp file, checked
   * rename), hit `<op>.committed`, then replay it. `op` is `compact` or
   * `finalize`, which names the four failpoints. A crash after the
   * publish is completed by the next run's [[replay]].
   */
  def commit(fs: FileSystem, manifest: Path, steps: Seq[Step], op: String): Unit = {
    def rank(s: Step): Int = s match {
      case _: Move => 0
      case _: Del => 1
      case _: State => 2
    }
    val dir = manifest.getParent
    val lines = steps.sortBy(rank).map {
      case Move(src, dst) => s"MOVE\t$src\t$dst"
      case Del(p) => s"DEL\t$p"
      case State(d, c) =>
        val escaped = c.replace("\n", "\\n")
        if (d == dir) s"STATE\t$escaped" else s"FSTATE\t$d\t$escaped"
    }
    Failpoints.hit(s"$op.staged")
    val tmp = new Path(dir, s"${manifest.getName}.tmp")
    writeText(fs, tmp, lines.mkString("", "\n", "\n"))
    rename(fs, tmp, manifest)
    Failpoints.hit(s"$op.committed")
    replay(fs, manifest)
  }

  /** Complete the commit recorded at `manifest`, in file order, then
    * delete it. A failed step throws and leaves the manifest in place. */
  def replay(fs: FileSystem, manifest: Path): Unit = {
    def state(dir: Path, escaped: String): Unit =
      writeText(fs, new Path(dir, Finalize.StateName), escaped.replace("\\n", "\n"))
    readText(fs, manifest).linesIterator.foreach { line =>
      line.split('\t') match {
        case Array("MOVE", src, dst) =>
          val s = new Path(src)
          if (fs.exists(s)) rename(fs, s, new Path(dst))
        case Array("DEL", p) =>
          val f = new Path(p)
          if (fs.exists(f)) fs.delete(f, false)
        case Array("STATE", content) => state(manifest.getParent, content)
        case Array("FSTATE", d, content) => state(new Path(d), content)
        case _ => ()
      }
    }
    fs.delete(manifest, false)
    ()
  }
}
