package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._

/** Shared test session (one forked JVM per `sbt test` run), built by the
  * same [[GraftSession]] factory as Verify/Bench at a fixed `local[4]` with
  * 4 shuffle partitions. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(cpus = 4,
    extra = Seq("spark.sql.shuffle.partitions" -> "4") ++
      // Config-matrix axis (r10): GRAFT_TEST_STATESTORE=rocksdb makes the
      // RocksDB provider the SESSION DEFAULT, so the whole streaming fleet —
      // including the legacy flatMapGroupsWithState/dedup/join/window
      // operators that normally run on the HDFS-backed default — executes
      // against the 100 TB state backend. The transformWithState tests pin
      // RocksDB per-test regardless (the new API requires it); this axis
      // proves the REST of the fleet is provider-agnostic by execution.
      (if (sys.env.get("GRAFT_TEST_STATESTORE").contains("rocksdb"))
        Seq("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else Nil))

  val sfDir = "/root/testdata/sf0.001"

  def tempDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  /** Write `df` as exactly ONE parquet file named `<dir>/<name>.parquet`
    * with an explicit modification time, so a streaming file source replays
    * slices in a deterministic order (FileStreamSource lists by modTime). */
  def writeSlice(df: DataFrame, dir: Path, name: String, modTimeMs: Long): Unit = {
    val tmp = Files.createTempDirectory("slice")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written under $tmp"))
    Files.createDirectories(dir)
    val dest = dir.resolve(s"$name.parquet")
    Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(dest, FileTime.fromMillis(modTimeMs))
  }

  /** Multiset equality on two frames with identical schemas (order-free).
    * Compared driver-side on collected canonical renderings: test frames
    * are small, and `exceptAll`'s ReplicateRows rewrite trips an
    * ATTRIBUTE_NOT_FOUND pruning bug in Spark 4.1 when one input is a
    * dropDuplicates aggregate. */
  def assertSameRows(a: DataFrame, b: DataFrame, hint: String): Unit = {
    def render(df: DataFrame): Seq[String] =
      df.collect().toSeq.map(_.toString).sorted
    val (ra, rb) = (render(a), render(b))
    if (ra != rb) {
      val onlyA = ra.diff(rb).take(5)
      val onlyB = rb.diff(ra).take(5)
      assert(false, s"$hint: ${ra.size} vs ${rb.size} rows; " +
        s"only in left: $onlyA; only in right: $onlyB")
    }
  }
}
