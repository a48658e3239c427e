package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, StandardCopyOption}

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}

/** The one place that reads, publishes and replaces the small metadata
  * files: table log versions, the property sidecar, database snapshots,
  * a stream's starting-version pin, the symlink manifest and the saved
  * catalog (Delta's LogStore, VLDB 2020).
  *
  *  - [[putIfAbsent]] writes a complete temp sibling and hard-links it to
  *    the target. The link is exclusive across processes: exactly one
  *    writer of a path wins, and a reader never sees it half-written.
  *  - [[replace]] stages every temp, then renames each over its target,
  *    so a crash leaves each file either old or new, never torn.
  *
  * Temps start with `.` (no version listing matches them) and carry
  * [[TempMark]]; a killed writer's temps are reclaimed by
  * [[SnapshotTable.removeOrphanFiles]]. Local filesystems only, through
  * the raw filesystem: no `.crc` siblings are written, and a stale one
  * from an earlier checksummed write cannot fail a read. */
object LogStore {
  /** Part of every temp sibling's name: `.<target>.tmp-<nonce>`. */
  val TempMark = ".tmp-"

  def read(fs: FileSystem, p: Path): String = {
    val in = local(fs).open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Publish `text` at `p` unless `p` exists; false only when it does. */
  def putIfAbsent(fs: FileSystem, p: Path, text: String): Boolean = {
    val raw = local(fs)
    val tmp = stage(raw, p, text)
    try { Files.createLink(raw.pathToFile(p).toPath, raw.pathToFile(tmp).toPath); true }
    catch { case _: FileAlreadyExistsException => false }
    finally raw.delete(tmp, false)
  }

  /** Replace each path's content; every temp lands before any target
    * is touched. */
  def replace(fs: FileSystem, files: Seq[(Path, String)]): Unit = {
    val raw = local(fs)
    val staged = files.map { case (p, text) => (stage(raw, p, text), p) }
    staged.foreach { case (tmp, p) =>
      // a checksummed write's sibling would no longer match the content
      raw.delete(new Path(p.getParent, s".${p.getName}.crc"), false)
      Files.move(raw.pathToFile(tmp).toPath, raw.pathToFile(p).toPath,
        StandardCopyOption.ATOMIC_MOVE)
    }
  }

  private def stage(raw: RawLocalFileSystem, p: Path, text: String): Path = {
    val tmp = new Path(p.getParent,
      s".${p.getName}$TempMark${java.util.UUID.randomUUID().toString.take(8)}")
    val out = raw.create(tmp, /* overwrite = */ false)
    try out.write(text.getBytes(UTF_8)) finally out.close()
    tmp
  }

  private def local(fs: FileSystem): RawLocalFileSystem = fs match {
    case r: RawLocalFileSystem => r
    case l: LocalFileSystem => local(l.getRaw)
    case other => throw new UnsupportedOperationException(
      s"the log store supports local filesystems only, not scheme '${other.getScheme}'")
  }
}
