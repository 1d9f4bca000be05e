package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

/** THE file-commit idioms of the engine's on-disk stores: directory
  * listing, atomic small-file replace and content id. Every store is
  * only as crash-safe as its small-file replace (the snapshot
  * `_current` manifest, the artifact ledger and its `_history/v<n>`
  * copies, the layout manifest, the change-feed cursor, the sync
  * watermark that stands in for the reference's `lastruntime.log`,
  * pyCassElastic.py:138) and its listings, so each is written once,
  * here. Create-only publishes (marker links, lease renames,
  * rename-if-absent landings) keep their own fail-if-exists semantics
  * at their sites.
  *
  * java.nio — local filesystems only, like every store it serves.
  */
object Fs {

  /** The direct entries of `dir`, unordered; empty when `dir` does not
    * exist. The directory stream is closed before returning (an
    * unclosed one leaks a file descriptor until GC).
    */
  def list(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
    }

  /** `root` and every path under it, each directory before its
    * entries (so the reverse order lists children before their
    * parents); empty when `root` does not exist. The stream is closed
    * before returning.
    */
  def walk(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
    }

  /** Replace `path`'s content with `text` atomically: write a temp
    * sibling unique to this call, then ONE atomic rename over `path`.
    * A reader sees the old content or the new, never a partial file,
    * and concurrent writers never share a temp file (the last rename
    * wins). The parent directory is created when missing; a failed
    * write leaves no temp file behind.
    */
  def replace(path: Path, text: String): Unit = {
    Files.createDirectories(path.toAbsolutePath.getParent)
    val tmp = path.resolveSibling(
      s"${path.getFileName}.tmp-${java.util.UUID.randomUUID}")
    try {
      Files.writeString(tmp, text)
      Files.move(tmp, path,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  /** Content id: SHA-256 over `prefix` then each part's UTF-8 bytes, in
    * the given order, first 8 bytes as 16 lowercase hex chars. Callers
    * sort their parts when the id must not depend on order. Artifact
    * keys and deterministic replay names are built from it, so its
    * output must never change.
    */
  def digest(prefix: Array[Byte], parts: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(prefix)
    parts.foreach(p => md.update(p.getBytes(UTF_8)))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** [[digest]] with no prefix. */
  def digest(parts: Iterable[String]): String =
    digest(Array.emptyByteArray, parts)
}
