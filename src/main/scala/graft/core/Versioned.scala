package graft.core

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileSystemException, Files, Paths, StandardCopyOption => Copy,
  StandardOpenOption => Open}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileStatus, FileSystem, FileUtil,
  Options, Path}

/** One versioned table on the Hadoop `FileSystem`, the commit layer of
  * §2.1's load-then-signal contract: `<root>/v=N/` version directories and
  * a `<root>/_CURRENT` pointer file naming the served one. Readers resolve
  * the pointer, then scan its directory; the pointer only ever changes by
  * an overwrite rename of a complete temp file ([[swap]]), so a reader sees
  * the old id or the new one. [[Snapshot]] and the `_src`-keyed streamed
  * store (`graft.streaming.StreamOps`) keep their own policies on top.
  *
  * Two steps must never replace what they land on: [[createIfAbsent]] and
  * the directory rename behind [[claim]]. Hadoop's local file system gives
  * neither (its `rename` replaces an existing file and nests into an
  * existing non-empty directory; its `create(overwrite = false)` checks
  * `exists()`, then opens), so both live in one private pair, `createNew`
  * and `moveNew`, which branches on the path's scheme: on `file:` an
  * `O_EXCL` create and a `rename(2)` of a directory (which fails on a
  * non-empty target), elsewhere `create(overwrite = false)` and
  * `FileContext.rename(Rename.NONE)`, atomic on HDFS. An object store
  * would replace exactly this pair and the pointer's overwrite rename with
  * conditional PUTs (If-None-Match / If-Match).
  *
  * A third scheme-branched step, [[carry]], moves files a new version
  * keeps unchanged from an old one into its staging directory: a hard link
  * on `file:` (checksum sidecar included), a copy elsewhere. The old
  * version's files keep their path, length and mtime, so its listing does
  * not change.
  *
  * Small files bypass a checksummed file system (the local FS): its `.crc`
  * sidecar would not follow a `java.nio` move, and it cannot append. */
final class Versioned private (val root: Path, val fs: FileSystem) {
  import Versioned._

  def vdir(v: Long): Path = new Path(root, s"v=$v")

  def child(name: String): Path = new Path(root, name)

  /** A fresh path under the root, `<prefix><pid>-<thread>-<nanos>`: a
    * marker, or staging for data that [[claim]] will move into a slot. */
  def fresh(prefix: String): Path = child(prefix + uniq)

  /** Names directly under the root; none when the root is absent. */
  def names: Seq[String] =
    if (!fs.exists(root)) Nil else fs.listStatus(root).toSeq.map(_.getPath.getName)

  /** Every `v=N` on disk, committed or orphaned. */
  def versions: Seq[Long] = names.flatMap(versionOf)

  /** The pointer's version id, or None while there is none. An empty
    * pointer is a [[bootstrap]] between its create and its write, and
    * bootstrap only ever writes 1. */
  def current: Option[Long] =
    read(child(Pointer)).map(s => if (s.trim.isEmpty) 1L else s.trim.toLong)

  /** Point `_CURRENT` at `v`. */
  def swap(v: Long): Unit = {
    val tmp = child(s".$Pointer.tmp.$uniq")
    write(tmp, v.toString)
    localPath(fs, tmp) match {
      case Some(f) => Files.move(f, localPath(fs, child(Pointer)).get,
        Copy.ATOMIC_MOVE, Copy.REPLACE_EXISTING); ()
      case None => rename(fs, tmp, child(Pointer), Options.Rename.OVERWRITE)
    }
  }

  /** Move the fully written `data` directory into the first free slot above
    * every `v=N` on disk (not above the pointer: after a rollback it is
    * behind live versions), one id higher on each lost race. Returns the
    * claimed id. */
  def claim(data: Path): Long = claimFrom(data, (versions :+ 0L).max + 1L)

  private[graft] def claimFrom(data: Path, first: Long): Long =
    Iterator.iterate(first)(_ + 1L).find(v => moveNew(fs, data, vdir(v))).get

  /** The current version, creating `v=1` and a pointer to it when there is
    * no pointer yet. */
  def bootstrap(): Long = current.getOrElse(bootstrapPointer())

  /** Bootstrap's racing half: every first writer gets here, exactly one
    * pointer lands, and all of them read it. */
  private[graft] def bootstrapPointer(): Long = {
    fs.mkdirs(vdir(1L))
    createIfAbsent(child(Pointer), "1")
    current.getOrElse(throw new IOException(s"$root: pointer vanished during bootstrap"))
  }

  /** Create `p` (its parent must exist) holding `content` iff nothing is
    * there; false when something was. */
  def createIfAbsent(p: Path, content: String = ""): Boolean =
    createNew(fs, p, content.getBytes(UTF_8))

  /** Delete every child whose name passes `drop`, testing each name just
    * before its delete. Returns the deleted names. */
  def sweep(drop: String => Boolean): Seq[String] =
    names.filter(n => drop(n) && { fs.delete(child(n), true); true })

  /** Retention: delete every version below `v`. */
  def dropBelow(v: Long): Unit = { sweep(versionOf(_).exists(_ < v)); () }

  /** A small file's content, or None when it is absent. */
  def read(p: Path): Option[String] =
    try { val in = fs.open(p); try Some(new String(in.readAllBytes(), UTF_8)) finally in.close() }
    catch { case _: FileNotFoundException => None }

  def write(p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
  }

  /** Carry the file at each relative path of `names` below `from` to the
    * same relative path below `to` without rewriting it ([[carryFile]]).
    * A file gone from `from` throws `FileNotFoundException` or
    * `java.nio.file.NoSuchFileException`. */
  def carry(names: Seq[String], from: Path, to: Path): Unit =
    names.foreach(n => carryFile(fs, new Path(from, n), new Path(to, n)))

  /** Append to `p`, creating it when absent. */
  def append(p: Path, content: String): Unit = if (!createIfAbsent(p, content)) {
    val out = fs.append(p)
    try out.write(content.getBytes(UTF_8)) finally out.close()
  }
}

object Versioned {
  val Pointer = "_CURRENT"

  def apply(root: Path, conf: Configuration): Versioned =
    new Versioned(root, root.getFileSystem(conf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case f => f
    })

  /** The running session's Hadoop conf (where a non-local scheme is
    * registered); a default one outside any session. */
  def sessionConf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  def versionOf(name: String): Option[Long] =
    if (name.startsWith("v=")) name.drop(2).toLongOption else None

  /** Every file below `dir`, by a `listStatus` walk that enters only the
    * children whose names pass `keep` (a file's own name must pass too).
    * It replaces `listFiles(dir, true)`, whose `LocatedFileStatus` reads
    * each file's permissions — on a local file system without native
    * Hadoop, one forked shell per file. */
  def leafFiles(fs: FileSystem, dir: Path,
                keep: String => Boolean = _ => true): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter(s => keep(s.getPath.getName)).flatMap { s =>
      if (s.isDirectory) leafFiles(fs, s.getPath, keep) else Seq(s)
    }

  /** Unique per attempt, not per process: two threads of one JVM sharing a
    * temp name could interleave one's write with the other's rename. */
  private def uniq: String =
    s"${ProcessHandle.current().pid()}-${Thread.currentThread().getId}-${System.nanoTime()}"

  private def localPath(fs: FileSystem, p: Path): Option[java.nio.file.Path] = {
    val uri = fs.makeQualified(p).toUri
    if (uri.getScheme == "file") Some(Paths.get(uri.getPath)) else None
  }

  private def rename(fs: FileSystem, src: Path, dst: Path, opt: Options.Rename): Unit =
    FileContext.getFileContext(fs.getUri, fs.getConf)
      .rename(fs.makeQualified(src), fs.makeQualified(dst), opt)

  // ---- The two steps that never replace their target ---------------------

  /** Create `p` holding `bytes` iff absent. The bytes follow the exclusive
    * create in append mode, so an appender that lost the create never has
    * its bytes overwritten. */
  private def createNew(fs: FileSystem, p: Path, bytes: Array[Byte]): Boolean =
    localPath(fs, p) match {
      case Some(f) =>
        try { Files.write(f, bytes, Open.CREATE_NEW, Open.APPEND); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      case None =>
        val out = try fs.create(p, false) catch { case _: IOException if fs.exists(p) => null }
        out != null && { try out.write(bytes) finally out.close(); true }
    }

  /** Rename the directory `src` to `dst` iff `dst` holds nothing; false when
    * something is there. (On `file:` an existing EMPTY `dst` directory is
    * replaced; it holds nothing to lose.) */
  private def moveNew(fs: FileSystem, src: Path, dst: Path): Boolean =
    localPath(fs, dst) match {
      case Some(d) =>
        try { Files.move(localPath(fs, src).get, d, Copy.ATOMIC_MOVE); true }
        catch { case _: FileSystemException if Files.exists(d) => false }
      case None =>
        try { rename(fs, src, dst, Options.Rename.NONE); true }
        catch { case _: IOException if fs.exists(dst) => false }
    }

  /** Put `src`'s bytes at the new path `dst`, leaving `src` as it is: on
    * `file:` a hard link (and one for the `.crc` sidecar when there is
    * one), so no byte is read or written; elsewhere a `FileUtil.copy`. */
  private def carryFile(fs: FileSystem, src: Path, dst: Path): Unit =
    (localPath(fs, src), localPath(fs, dst)) match {
      case (Some(s), Some(d)) =>
        Files.createDirectories(d.getParent)
        Files.createLink(d, s)
        val crc = s.resolveSibling(s".${s.getFileName}.crc")
        if (Files.exists(crc)) Files.createLink(d.resolveSibling(s".${d.getFileName}.crc"), crc)
      case _ =>
        if (!FileUtil.copy(fs, src, fs, dst, false, fs.getConf))
          throw new IOException(s"carry: cannot copy $src to $dst")
    }
}
