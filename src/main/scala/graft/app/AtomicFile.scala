package graft.app

import org.apache.hadoop.fs.{FileSystem, Path}

/** Atomic replace-on-write for small durable state files (pending sets,
  * dev state, export manifests). Write the full content to `<dest>.tmp`,
  * then swap: delete old dest, rename tmp over it.
  *
  * Crash-window inventory (why [[read]] is shaped the way it is):
  *  - mid tmp-write with dest present → dest is intact, read uses it;
  *  - between delete(dest) and rename → only a COMPLETE tmp survives;
  *    read falls back to it, and the next [[replace]] first FINISHES
  *    that swap instead of truncating the only complete copy;
  *  - mid tmp-write on the FIRST-ever save (no dest yet) → only a
  *    partial tmp exists; read's parse recovery treats it as "no state"
  *    instead of crashing the restart.
  * Parse failures on either file are logged and skipped (dest → tmp →
  * None), so a torn file degrades to the previous copy or empty state,
  * never a hard crash at load time. */
object AtomicFile {

  def tmpFor(dest: Path): Path = new Path(dest.getParent, dest.getName + ".tmp")

  /** Write via `body` (receives the open tmp-file stream), then swap. */
  def replace(fs: FileSystem, dest: Path)(
      body: java.io.OutputStream => Unit): Unit = {
    val tmp = tmpFor(dest)
    // a previous replace() that crashed between delete and rename left
    // the tmp as the ONLY complete copy — promote it before truncating.
    // (If that tmp was instead a partial first-save, the promoted dest
    // fails parse recovery in read() — same outcome as before.)
    if (!fs.exists(dest) && fs.exists(tmp)) fs.rename(tmp, dest)
    val out = fs.create(tmp, true)
    try body(out) finally out.close()
    if (fs.exists(dest)) fs.delete(dest, false)
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(s"rename $tmp -> $dest failed")
  }

  /** Parse the live copy: dest first, then a surviving tmp; a file that
    * exists but fails `parse` (torn write) is logged and skipped. */
  def read[T](fs: FileSystem, dest: Path)(parse: Path => T): Option[T] = {
    def attempt(p: Path): Option[T] =
      if (!fs.exists(p)) None
      else
        try Some(parse(p))
        catch {
          case e: Throwable =>
            System.err.println(
              s"[graft] unreadable state file $p (${e.getMessage}); skipping")
            None
        }
    attempt(dest).orElse(attempt(tmpFor(dest)))
  }
}
