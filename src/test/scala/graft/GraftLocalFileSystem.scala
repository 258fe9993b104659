package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FilterFileSystem, Path, RawLocalFileSystem}

/** The local disk under a non-`file:` scheme: `graftlocal:/x` is the local
  * `/x`. It sends [[graft.core.Versioned]] down its Hadoop branch
  * (`FileContext` renames, `create(overwrite = false)`), as on HDFS, with
  * no cluster. It is only as atomic as its local backing: its
  * `create(overwrite = false)` is exists-then-open and its overwrite
  * rename is delete-then-rename, so it serves single-writer tests only. */
class GraftLocalFileSystem extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = GraftLocalFileSystem.Uri
}) {
  override def getScheme: String = GraftLocalFileSystem.Scheme
}

/** The `FileContext` binding of the same scheme; counts its renames so a
  * test can show the Hadoop branch ran. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftLocalFileSystem, conf,
      GraftLocalFileSystem.Scheme, false) {
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
    GraftLocalFileSystem.renames.incrementAndGet()
    super.renameInternal(src, dst, overwrite)
  }
}

object GraftLocalFileSystem {
  val Scheme = "graftlocal"
  val Uri: URI = URI.create(s"$Scheme:///")
  val renames = new AtomicLong()

  /** Register both bindings in `conf` (idempotent). */
  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[GraftLocalFileSystem].getName)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[GraftLocalFs].getName)
  }
}
