package graft.util

import org.apache.spark.sql.SparkSession

/** Filesystem resolution FROM the store path (never hardcoded local).
  *
  * A store rooted at `s3a://…`, `hdfs://…` or a plain `/dir` resolves to
  * the FileSystem its URI names, so the maintenance choreography built on
  * listings and renames — retention sweeps, backup diffs, compaction
  * publishes, migration skip-existing checks, streaming store swaps —
  * runs unchanged against cloud object stores. That is the reference's
  * actual deployment (signalk-parquet utils/cloud-endpoint.ts:1-80 and
  * the data-handler cloud fallback archive to S3/R2); a
  * `FileSystem.getLocal` would silently operate on the wrong namespace
  * for any non-`file:` store root.
  */
object Fs {

  /** The FileSystem that owns `path`, from the session's Hadoop conf. */
  def of(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every [[scratch]] dir of this JVM; one shutdown hook deletes them
    * all. */
  private[graft] lazy val registered: java.util.Set[String] = {
    val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    sys.addShutdownHook(dirs.forEach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))))
    dirs
  }

  /** A fresh local dir `graft_<tag>…` for one run's scratch data
    * (concurrent runs on one machine never share a path), deleted at
    * JVM exit. Staged stores ([[graft.sources.Staging.stagedDir]]) are
    * meant to outlive the JVM and never come from here. */
  def scratch(tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$tag").toString
    registered.add(dir)
    dir
  }
}
