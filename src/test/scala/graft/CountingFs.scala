package graft

import java.net.URI

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** Test-only instrumented local FileSystem (`cfs://` scheme): a
  * RawLocalFileSystem that records every `listStatus` target, so specs
  * can PROVE a scan planned from the file-level manifest index with
  * zero directory listing below the entry roots
  * ([[graft.sources.EpochStore.listEntryFiles]]'s index path) — and
  * that a pre-index (sidecar-less) entry really falls back to the
  * recursive listing. Its [[CountingFs.beforeList]] hook lets a spec
  * inject a concurrent change between two of a caller's listings. */
final class CountingFs extends RawLocalFileSystem {
  override def getScheme: String = "cfs"
  override def getUri: URI = URI.create("cfs:///")
  override def listStatus(p: Path): Array[FileStatus] = {
    CountingFs.record(p.toUri.getPath)
    CountingFs.beforeList(p)
    super.listStatus(p)
  }
}

object CountingFs {
  private val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def record(p: String): Unit = { listed.add(p); () }
  def reset(): Unit = listed.clear()

  /** Runs before every listing; a spec that sets it restores the no-op. */
  @volatile var beforeList: Path => Unit = _ => ()
  def listedPaths: Seq[String] = {
    import scala.jdk.CollectionConverters._
    listed.iterator().asScala.toSeq
  }

  /** Register the scheme on the session's Hadoop conf (idempotent). */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", classOf[CountingFs].getName)

  /** Listed paths strictly below `root` that are data-entry territory —
    * everything except the store-level `_manifests` metadata dir. An
    * index-planned scan must leave this EMPTY. */
  def listedBelow(root: String): Seq[String] = {
    val rp = new Path(root).toUri.getPath
    listedPaths.filter(p =>
      p.startsWith(rp + "/") && !p.substring(rp.length).contains("_manifests"))
  }
}
