package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path, StandardCopyOption}

/** The commit point all three table formats share (TxLogTable manifests,
  * Delta log entries, Iceberg metadata versions): publish `bytes` as
  * `target` only if no other writer has — the put-if-absent the Delta
  * protocol and Iceberg's metadata swap both rest on. The bytes are staged
  * as a `.tmp-*` sibling and hard-linked into place (`Files.createLink`
  * fails when the target exists, where a rename would silently REPLACE the
  * winner's commit). Without hard links an exists-check plus ATOMIC_MOVE
  * stands in (POSIX rename still replaces, so the check is the best
  * fence). A crash leaves only an ignorable tmp file.
  *
  * Durability: the tmp file is written with `Files.write` and never
  * fsynced, nor is its directory. A published commit survives a crash of
  * the writing process (the bytes sit in the OS page cache), but not an
  * OS crash or a power loss, which can lose or truncate it. */
object CommitCas {

  /** true: this writer won; false: `target` was already committed (the
    * tmp file is removed either way). */
  def publish(target: Path, bytes: Array[Byte]): Boolean = {
    val dir = target.getParent
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, bytes)
    def lost(): Boolean = { Files.deleteIfExists(tmp); false }
    try { Files.createLink(target, tmp); Files.delete(tmp); true }
    catch {
      case _: FileAlreadyExistsException => lost()
      case _: UnsupportedOperationException =>
        if (Files.exists(target)) lost()
        else try { Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE); true }
        catch { case _: FileAlreadyExistsException => lost() }
    }
  }

  /** [[publish]] for a writer that loses loudly: on a lost CAS it first
    * deletes `placed`, the files its attempt put under the table root,
    * then throws a ConcurrentModificationException saying `what` was
    * committed concurrently and what the caller should do (`retry`); the
    * winner's commit stays intact. */
  def publishOrFail(target: Path, bytes: Array[Byte], placed: Seq[Path],
                    what: String, retry: String): Unit =
    if (!publish(target, bytes)) {
      placed.foreach(Files.deleteIfExists)
      throw new java.util.ConcurrentModificationException(
        s"$what was committed concurrently ($target exists) — $retry")
    }
}
