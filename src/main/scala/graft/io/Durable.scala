package graft.io

import java.nio.file.{FileSystemException, Files, NoSuchFileException, Path,
  StandardCopyOption}
import java.util.UUID

/** Everything the daemon keeps on disk is written here — the
  * filestorage protocol of Loud ML (loudml/filestorage.py:57-236):
  * small JSON files, directories of `<name>.json` documents, and
  * numbered versions behind an `ACTIVE` pointer.
  *
  * Guarantee: a reader, or the next boot after a crash, sees each file
  * and each version either whole or not at all. Every write goes to a
  * hidden temp entry in the same directory and becomes visible through
  * one atomic rename. Nothing is fsync'd, so the guarantee covers a
  * crashed process, not a power cut. What a crash leaves behind is hidden
  * and removed by [[sweep]].
  */
object Durable {

  /** Replace `path` with `content` atomically (temp file in the same
    * directory, then `ATOMIC_MOVE`); creates missing parent dirs. */
  def write(path: Path, content: String): Unit = {
    val dir = path.toAbsolutePath.getParent
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".${path.getFileName}.${UUID.randomUUID}.tmp")
    try {
      Files.writeString(tmp, content)
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  /** The file's content, or None when it does not exist. */
  def read(path: Path): Option[String] =
    try Some(Files.readString(path))
    catch { case _: NoSuchFileException => None }

  /** A directory of `<name>.json` documents, one per named object
    * (bucket settings, scheduled jobs). */
  final class JsonDir(dir: Path) {
    def put(name: String, json: String): Unit = write(file(name), json)

    def remove(name: String): Boolean = Files.deleteIfExists(file(name))

    /** Every document, in name order. */
    def readAll(): Seq[String] =
      names(dir).filter(n => n.endsWith(".json") && !n.startsWith("."))
        .sorted.flatMap(n => read(dir.resolve(n)))

    private def file(name: String): Path = dir.resolve(s"$name.json")
  }

  /** Numbered versions `<dir>/<prefix>N` behind `<dir>/ACTIVE`. A new
    * version is written whole into a hidden staging directory, then
    * renamed to the next free number. Renaming a directory onto an
    * existing non-empty one fails, so two writers that pick the same
    * number cannot overwrite each other: the loser retries with the
    * next number. ACTIVE flips only after the rename, through
    * [[write]]. A version directory is never changed after its rename. */
  final class Versioned(dir: Path, prefix: String) {
    private val Name = (java.util.regex.Pattern.quote(prefix) + "(\\d+)").r
    private val pointer = dir.resolve("ACTIVE")

    def path(version: Int): Path = dir.resolve(s"$prefix$version")

    def versions: Seq[Int] =
      names(dir).collect { case Name(n) => n.toInt }.sorted

    def active: Option[Int] = read(pointer).map(_.trim.toInt)

    def activate(version: Int): Unit = write(pointer, version.toString)

    /** Stage a version with `fill` (it must write at least one entry
      * into the directory it gets), claim its number, flip ACTIVE to
      * it; returns the number. */
    def commit(fill: Path => Unit): Int = {
      Files.createDirectories(dir)
      val stage = Files.createDirectory(dir.resolve(s".stage-${UUID.randomUUID}"))
      try {
        fill(stage)
        val v = claim(stage, versions.lastOption.getOrElse(0) + 1)
        activate(v)
        v
      } finally deleteTree(stage)
    }

    /** Delete every version older than `version`. */
    def pruneBelow(version: Int): Unit =
      versions.filter(_ < version).foreach(v => deleteTree(path(v)))

    @annotation.tailrec
    private def claim(stage: Path, v: Int): Int = {
      val won =
        try { Files.move(stage, path(v), StandardCopyOption.ATOMIC_MOVE); true }
        catch {
          // rename(2) onto a non-empty directory fails with EEXIST or
          // ENOTEMPTY; the JDK types only the first, so a lost race is
          // any failure with the number taken
          case _: FileSystemException if Files.exists(path(v)) => false
        }
      if (won) v else claim(stage, v + 1)
    }
  }

  private def names(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.toArray.toSeq.map(_.asInstanceOf[Path].getFileName.toString)
      finally s.close()
    }

  /** Delete what writers that crashed left under `root`: the hidden
    * `.stage-*` directories of [[Versioned.commit]] and the hidden `.*.tmp`
    * files of [[write]]. Readers already skip both; run it only while no
    * writer is active on `root`, as [[graft.api.Engine]] does when it is
    * constructed. */
  def sweep(root: Path): Unit =
    if (Files.isDirectory(root)) {
      val walk = Files.walk(root)
      val leftovers =
        try walk.toArray.toSeq.map(_.asInstanceOf[Path]).filter { p =>
          val n = p.getFileName.toString
          n.startsWith(".stage-") && Files.isDirectory(p) ||
            n.startsWith(".") && n.endsWith(".tmp") && Files.isRegularFile(p)
        } finally walk.close()
      leftovers.foreach(deleteTree)
    }

  /** Delete `root` and everything under it, if it exists. */
  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p): Unit)
      finally walk.close()
    }
}
