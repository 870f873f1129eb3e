package graft.sources

/** Shared ingest-time staging for derived stores (bucketed tables,
  * partitioned month stores, persisted ANN/LSH indexes): an idempotent
  * write-once directory keyed by a `_STAGED` marker whose CONTENT is a
  * (layout token | source fingerprint) pair. A regenerated testdata
  * dir (new mtime/size) or a changed layout spec invalidates the
  * staging instead of being silently shadowed by a stale store from a
  * previous JVM.
  *
  * This is the "computed once at ingest, persisted, scanned at query
  * time" seam a 100 TB pipeline runs on: the staged write pays its
  * shuffle once; every later query SCANS the store (plan-pinned in
  * StoredIndexSpec for the LSH band table and the IVFADC index).
  */
private[graft] object Staging {

  /** name/size/mtime of the source parquet — cheap staleness key (a
    * content hash would re-read the data being staged). */
  def sourceFingerprint(dir: String, table: String): String = {
    val f = new java.io.File(dir, s"$table.parquet")
    val parts = if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq else Seq(f)
    parts.map(p => s"${p.getName}:${p.length}:${p.lastModified}").mkString("|")
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete()
    ()
  }

  /** Per-root monitors so concurrent suites staging the SAME store in
    * one JVM serialize instead of interleaving (parallel ScalaTest
    * suites share the JVM; cross-JVM safety comes from the atomic
    * rename below). */
  private val monitors = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Idempotent staged dir under tmp: `write` runs only when the
    * marker is missing or its fingerprint is stale; returns the root
    * path. `layout` must encode every code-side parameter of the
    * staged content (a changed spec must re-stage).
    *
    * Publication is ATOMIC: the store is built in a unique temp
    * sibling (marker written LAST inside it) and renamed into place in
    * one filesystem move — a reader holding the root path sees either
    * the complete old store or the complete new one, never a
    * half-deleted/half-written hybrid, and two cross-JVM stagers can
    * no longer interleave a delete with a write (the loser's rename
    * fails and its temp dir is discarded; the marker it would have
    * validated is the winner's). */
  def stagedDir(name: String, dir: String, layout: String, srcTable: String)
      (write: String => Unit): String = {
    val sfTag = dir.replaceAll("[^0-9a-zA-Z]", "_")
    val root = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), s"${name}_$sfTag")
    // the manifest-store protocol version rides every fingerprint: a
    // store-format change restages instead of serving a stale layout
    val fp = layout + "|mfl" + graft.util.ManifestStore.LayoutVersion +
      "|" + sourceFingerprint(dir, srcTable)
    def isFresh: Boolean = {
      val marker = new java.io.File(root, "_STAGED")
      marker.exists() &&
        new String(java.nio.file.Files.readAllBytes(marker.toPath)) == fp
    }
    val mon = monitors.computeIfAbsent(root.getAbsolutePath, _ => new Object)
    mon.synchronized {
      if (!isFresh) {
        val tmp = new java.io.File(root.getParentFile,
          s"${root.getName}.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
        try {
          write(tmp.getAbsolutePath)
          java.nio.file.Files.write(
            new java.io.File(tmp, "_STAGED").toPath, fp.getBytes)
          deleteRecursively(root)
          try java.nio.file.Files.move(tmp.toPath, root.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          catch {
            // a concurrent (cross-JVM) stager won the rename: if its
            // store is fresh ours is redundant; otherwise surface the
            // collision rather than serve a stale store
            case e: java.nio.file.FileSystemException =>
              if (!isFresh) throw e
          }
        } finally if (tmp.exists()) deleteRecursively(tmp)
      }
    }
    root.getAbsolutePath
  }
}
