package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** THE mutable-store publish protocol: a per-STORE file manifest with an
  * atomic commit marker — snapshot isolation for every store that is
  * rewritten in place (the kNN-graph trigger swap, the IVFADC/BM25
  * delete repairs, live-index compaction, the blue/green rotation).
  *
  * A store is ONE manifest spanning ALL of its tables: every IVFADC
  * store (staged, live, cloned or rotating) commits `centroids` +
  * `codebook` + `lists` + `codes` (+ its delete log), the BM25 store
  * `postings` + `dl` + `stats` (+ log). That closes
  * the cross-TABLE torn-read window the per-table manifests of the
  * previous protocol left open (a reader resolving lists@v+1 with
  * codes@v served a state that was neither committed version), and it
  * collapses a trigger's N table publishes into ONE commit.
  *
  *   root/<table>/<part>=<v>/part-*.parquet  — immutable data files
  *   root/<table>/part-*.parquet             — unpartitioned table
  *   root/_shards/<dir>_v<N>_<uniq>.list     — immutable per-dir file list
  *   root/_shards/idx<B>_v<N>_<uniq>.list    — one dir-hash range's dir → shard lines
  *   root/_manifest_v<N>                     — "#R <buckets> <dirs>" + bucket → index shard
  *   root/_commit_v<N>                       — atomic publish marker
  *   root/_lease                             — fenced single-writer lease
  *
  * (A single-table store may use the root itself as its one table —
  * `table = ""` — which is also the shape the primitive's own spec
  * exercises.)
  *
  * Readers resolve max(committed N) ONCE and read every table from that
  * version's manifest (the listed files are passed explicitly with
  * `basePath = <table dir>`, so partition columns and their
  * static/dynamic pruning behave exactly as a whole-root read). A
  * reader concurrent with ANY writer therefore sees one committed
  * version across ALL tables of the store — never an absent partition,
  * never a half-replaced one, never table A at v+1 with table B at v.
  * Writers append new uniquely-named files, then commit by writing the
  * next manifest and atomically creating its marker: a crash at any
  * point before the marker leaves invisible orphans, and a crash after
  * it is already the new committed state.
  *
  * MANIFEST SHARDING — publish cost O(touched), not O(total files):
  * the per-version manifest is an INDEX (one line per partition dir:
  * `dirKey → shard file`), and each shard is an immutable file listing
  * ONE dir's data files at some version. A publish writes new shards
  * only for the dirs it touched; every untouched dir's index line
  * carries the SAME shard file forward — not rewritten, not even read
  * (ManifestStoreSpec pins byte-identity of an untouched dir's shard
  * across a touched-dir publish). Shards are immutable once written,
  * so the driver caches their contents: steady-state resolution reads
  * O(touched-since-last-resolve) shard files, and the per-publish byte
  * cost is O(touched files + touched dirs) — the Delta-checkpoint
  * discipline reduced to the table shapes these stores need. The
  * INDEX itself is sharded the same way one level up: the manifest
  * file is (dir-hash bucket → index shard), each index shard lists
  * one range's (dir → shard) lines, and an untouched range's index
  * shard is carried forward verbatim — so at 10⁶ dirs a publish
  * rewrites O(touched ranges × bucket size) index lines, not one
  * line per dir. The bucket count only grows (powers of two,
  * ~[[indexBucketTarget]] dirs per bucket; a growth step rewrites
  * every range once, amortized over the doublings).
  *
  * Garbage collection runs at the TAIL of each publish with a ONE
  * VERSION grace window: committing v<N+1> retires the data files and
  * shards that only versions ≤ N−1 referenced (an in-flight reader is
  * safe as long as it is less than two publishes stale). A publish
  * FIRST clears crashed publishes' leftovers: any manifest without a
  * marker is uncommitted — its not-otherwise-referenced data files and
  * its shards are deleted immediately (not stranded until their dirs
  * happen to be touched again), then the manifest itself.
  *
  * Writer-vs-writer safety is a FENCED lease: `_lease` is created
  * exclusively with a fresh writer token as its content, every publish
  * re-verifies its own token immediately before writing the manifest
  * (and the marker create is itself create-exclusive). A writer that
  * stalls, has its lease broken by [[breakLease]], and then resumes is
  * FENCED: its token no longer matches (the lease is gone or a new
  * writer's), so its publish fails loudly BEFORE touching the manifest
  * — it can never overwrite a successor's commit (spec-pinned via the
  * [[onBeforeCommit]] interleaving hook). Lease acquisition itself
  * does not wait: two live maintenance jobs colliding is a scheduling
  * bug, and the loser fails loudly at acquisition (a deployment that
  * wants queueing retries around the publish call).
  *
  * Scale shape: one publish costs O(markers + touched dirs) namespace
  * operations and O(touched) shard READS and WRITES at both manifest
  * levels — the manifest header carries the dir count, untouched
  * index ranges are carried forward without being read, orphan
  * protection resolves per touched dir, and GC diffs the expiring
  * version against the live one at SHARD level (only replaced shards
  * get file-level reads). Untouched partitions are never listed,
  * read, or rewritten, warm or COLD: a one-dir publish on a 10⁶-dir
  * store reads a bounded handful of shard files (spec-pinned via the
  * [[shardDiskReads]] counter). Cold snapshot RESOLUTION is
  * O(dirs) by nature (every dir's shard must be read once); it runs
  * on a small parallel fetch pool. The scheduled compaction sweep is
  * INCREMENTAL: index lines
  * carry per-dir file counts, so [[compactOp]] selects its hot dirs
  * from O(index buckets) metadata reads and rewrites O(hot) dirs —
  * the one remaining O(store)-by-nature publishes are blue/green
  * whole-table replaces and bucket-growth steps, which is where the
  * stranded-shard reference sweep rides (plus the explicit
  * [[sweepStrandedShards]] operator call).
  */
object ManifestStore {

  /** On-disk protocol format version. Folded into every staged store's
    * fingerprint ([[graft.sources.Staging.stagedDir]]): a protocol
    * format change restages automatically instead of silently serving
    * a stale-layout store from a previous JVM. The layout: the manifest
    * header carries the dir count — `#R <buckets> <dirs>` — so a
    * publish checks index growth without flattening the index, and
    * index-shard lines carry each dir's FILE COUNT — `dirKey\tshard\tn`
    * — so the incremental compactor finds its hot dirs from O(index
    * buckets) metadata reads, never by reading every dir shard. Any
    * other layout fails loudly on read; nothing reinterprets it. */
  private[graft] val LayoutVersion = 5

  /** Injected crash points for the crash-window specs:
    * "publish" fires after the data files are written but before the
    * manifest commit (the window a reader must see OLD state across);
    * "gc" fires after the commit but before garbage collection. */
  private[graft] var crashPoint: Option[String] = None
  private def maybeCrash(step: String): Unit =
    if (crashPoint.contains(step))
      throw new IllegalStateException(s"injected crash at $step")

  /** Test hook for the fence spec: runs once immediately before the
    * fence check of the next commit (the stalled-writer window). */
  private[graft] var onBeforeCommit: Option[() => Unit] = None

  /** Test hook for the late-fence spec: runs once AFTER the manifest
    * write, immediately before the re-fence that guards the marker
    * create (the post-manifest stall window). */
  private[graft] var onBeforeMarker: Option[() => Unit] = None

  // ----------------------------------------------------------------
  // one write against one table of the store
  // ----------------------------------------------------------------

  /** One table's contribution to an atomic store publish.
    *
    * `table` "" means the store root itself is the (single) table.
    * `partCol` "" means the table is unpartitioned (its dir is the one
    * "partition"). `touched` is evaluated under the publish lease;
    * `None` means the whole table (every dir the manifest or the disk
    * knows). `write` receives the table dir and must create new
    * uniquely-named files inside the touched dirs (append-mode Spark
    * writes do). With `replace`, the touched dirs' previously
    * committed files are dropped from the next manifest (a touched
    * dir left empty disappears — durably; no recovery step can
    * resurrect it); without it they are kept alongside the new files.
    * An op that reads the store it changes is built by the
    * [[publishOps]] builder from the snapshot handed to it; `touched`
    * and `write` also receive that snapshot, so an op built outside a
    * builder ([[compactOp]]) reads the same resolution. */
  final case class TableOp(table: String, partCol: String,
      touched: Option[Snapshot => Seq[Any]], replace: Boolean,
      write: (Snapshot, String) => Unit)

  /** Append `delta()`'s rows into `touched` partitions of `table`. */
  def appendOp(table: String, partCol: String, touched: () => Seq[Any],
      delta: () => DataFrame): TableOp =
    TableOp(table, partCol, Some(_ => touched()), replace = false,
      (_, dir) => writePartitioned(delta(), partCol, dir))

  /** Replace the `touched` partitions' content of `table` with
    * `repaired()` (whose rows must all belong to touched partitions). */
  def rewriteOp(table: String, partCol: String, touched: () => Seq[Any],
      repaired: () => DataFrame): TableOp =
    TableOp(table, partCol, Some(_ => touched()), replace = true,
      (_, dir) => writePartitioned(repaired(), partCol, dir))

  /** Replace the WHOLE table with `data()` (the blue/green rotation
    * move; `partCol` "" for an unpartitioned table). */
  def replaceTableOp(table: String, partCol: String,
      data: () => DataFrame): TableOp =
    TableOp(table, partCol, None, replace = true,
      (_, dir) => writePartitioned(data(), partCol, dir))

  /** The scheduled small-file sweep for one partitioned table,
    * INCREMENTAL: only the HOT dirs — more than one committed file —
    * are read and collapsed to one `sortCols`-sorted file each; an
    * already-compact dir is not read, not rewritten, and its shard +
    * index line carry forward verbatim. The hot set is decided UNDER
    * the publish lease from the per-dir file counts of the index the
    * publish resolved (O(index buckets) metadata reads, zero data
    * reads), so the sweep's cost tracks the small-file PROBLEM —
    * O(touched) — never the store size. A fully compact table
    * publishes NOTHING (no version bump). */
  def compactOp(spark: SparkSession, root: String, table: String,
      partCol: String, sortCols: Seq[String], schema: StructType): TableOp = {
    require(partCol.nonEmpty, s"compactOp needs a partitioned table: $table")
    val fs = Fs.of(spark, root)
    val prefix = if (table.isEmpty) s"$partCol=" else s"$table/$partCol="
    def hot(snap: Snapshot): Seq[IxLine] =
      snap.index.filter(l => l.dk.startsWith(prefix) && l.n > 1)
    TableOp(table, partCol,
      Some(snap => hot(snap).map(l => l.dk.stripPrefix(prefix): Any)),
      replace = true, { (snap, dir) =>
        val files = hot(snap).flatMap(l => shardFiles(fs, root, l.shard))
        if (files.nonEmpty) {
          val hotRows = spark.read.option("basePath", dir).schema(schema)
            .parquet(files.map(f => s"$root/$f"): _*)
          writeLaidOut(hotRows.repartition(col(partCol))
            .sortWithinPartitions(sortCols.map(col): _*), partCol, dir)
        }
      })
  }

  private def writePartitioned(df: DataFrame, partCol: String, dir: String): Unit =
    writeLaidOut(
      if (partCol.isEmpty) df.coalesce(1) else df.repartition(col(partCol)),
      partCol, dir)

  private def writeLaidOut(df: DataFrame, partCol: String, dir: String): Unit = {
    val w = df.write.mode("append")
    (if (partCol.isEmpty) w else w.partitionBy(partCol)).parquet(dir)
  }

  // ----------------------------------------------------------------
  // paths and resolution
  // ----------------------------------------------------------------

  private def manifestPath(root: String, v: Int) = new Path(root, s"_manifest_v$v")
  private def markerPath(root: String, v: Int) = new Path(root, s"_commit_v$v")
  private def shardsDir(root: String) = new Path(root, "_shards")
  private def tableDir(root: String, table: String): String =
    if (table.isEmpty) root else s"$root/$table"
  private def dirKeyOf(table: String, partCol: String, t: Any): String = {
    val p = if (partCol.isEmpty) "" else s"$partCol=$t"
    if (table.isEmpty) p else if (p.isEmpty) table else s"$table/$p"
  }

  /** Max committed version at `root` (0 = nothing published). A
    * version counts as committed only when its marker AND its manifest
    * both exist: a marker whose manifest is gone (a fenced straggler
    * that raced a successor's cleanup, or a GC crash window) must
    * resolve to the predecessor — never to a silently EMPTY store. */
  def committedVersion(fs: FileSystem, root: String): Int = {
    val p = new Path(root)
    if (!fs.exists(p)) 0
    else {
      val names = fs.listStatus(p).map(_.getPath.getName)
      val manifests = names.filter(_.startsWith("_manifest_v"))
        .map(_.stripPrefix("_manifest_v").toInt).toSet
      names.filter(_.startsWith("_commit_v"))
        .map(_.stripPrefix("_commit_v").toInt)
        .filter(manifests.contains).maxOption.getOrElse(0)
    }
  }

  def committedVersion(spark: SparkSession, root: String): Int =
    committedVersion(Fs.of(spark, root), root)

  /** Every version that still has a manifest (index) file on disk. */
  private def manifestVersions(fs: FileSystem, root: String): Seq[Int] = {
    val p = new Path(root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("_manifest_v")).map(_.stripPrefix("_manifest_v").toInt)
      .toSeq.sorted
  }

  private def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  private def writeLines(fs: FileSystem, p: Path, lines: Seq[String],
      overwrite: Boolean = true): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Dirs per index bucket before the bucket count doubles — the knob
    * that keeps each index shard a bounded read and a publish's index
    * rewrite O(touched ranges). Spec-overridable. */
  private[graft] var indexBucketTarget = 256

  /** The dir-hash-range bucket of a dir key at bucket count `r`.
    * `String.hashCode` is a FIXED algorithm by the Java spec, so the
    * assignment is stable across JVMs and releases. */
  private def bucketOf(dk: String, r: Int): Int =
    if (r <= 1) 0 else (dk.hashCode & 0x7fffffff) % r

  /** Smallest power-of-two bucket count that keeps buckets at or under
    * [[indexBucketTarget]] dirs. */
  private def targetBuckets(dirCount: Int): Int = {
    var r = 1
    while (r.toLong * indexBucketTarget < dirCount) r <<= 1
    r
  }

  /** One version's manifest file, parsed: the bucket count `r`, the
    * store's dir count, and the (bucket → index-shard) lines. */
  private final case class ManifestIx(r: Int, count: Int, buckets: Seq[(Int, String)]) {
    /** O(1) bucket → index-shard lookup (ADVICE r20: the per-(version,
      * dir) cleanup/GC paths called a linear collectFirst per lookup). */
    lazy val bucketMap: Map[Int, String] = buckets.toMap
  }
  private val EmptyManifest = ManifestIx(0, 0, Seq.empty)

  /** The `n` tab-separated fields of one manifest or index line; any
    * other shape is a layout this store never writes. */
  private def fields(l: String, n: Int, what: String, at: Path): Array[String] = {
    val f = l.split('\t')
    require(f.length == n,
      s"unsupported $what layout at $at (layout v$LayoutVersion: $n fields): $l")
    f
  }

  /** Version `v`'s manifest: the `#R <buckets> <dirs>` header, then
    * one `bucket → index shard` line per bucket. */
  private def readManifest(fs: FileSystem, root: String, v: Int): ManifestIx = {
    val mp = manifestPath(root, v)
    if (v <= 0 || !fs.exists(mp)) EmptyManifest
    else {
      val lines = readLines(fs, mp)
      val hf = fields(lines.headOption.getOrElse(""), 3, "manifest header", mp)
      require(hf(0) == "#R", s"unsupported manifest layout at $mp: no '#R' header")
      ManifestIx(hf(1).toInt, hf(2).toInt, lines.tail.map { l =>
        val f = fields(l, 2, "manifest line", mp)
        (f(0).toInt, f(1))
      })
    }
  }

  /** One parsed index-shard line: dir key, the dir's shard file, and
    * the dir's committed FILE COUNT — the metadata the incremental
    * compactor selects its hot dirs by. */
  private[graft] final case class IxLine(dk: String, shard: String, n: Int)

  private def parseIx(l: String, mp: Path): IxLine = {
    val f = fields(l, 3, "index line", mp)
    IxLine(f(0), f(1), f(2).toInt)
  }

  /** Parsed (dk → IxLine) map of one index shard, memoized per (root,
    * shard) alongside the raw-line cache (ADVICE r20: cleanup/GC call
    * [[dirShardOf]] per (version, dir); re-scanning the shard's lines
    * per lookup was O(dirs × lines) on the driver). Index shards are
    * immutable, so the parse caches forever within the LRU bound. */
  private val ixMaps = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Map[String, IxLine]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Map[String, IxLine]]): Boolean =
        size() > 8192
    })

  private def ixMapOf(fs: FileSystem, root: String, shard: String,
      lax: Boolean): Option[Map[String, IxLine]] = {
    val key = root + "\u0000" + shard
    val hit = ixMaps.get(key)
    if (hit != null) Some(hit)
    else {
      // a lax MISS (shard already cleaned away) is never cached: a
      // later STRICT read of the same name must still fail loudly
      shardLinesOpt(fs, root, shard, lax).map { ls =>
        val m = ls.iterator
          .map(l => { val p = parseIx(l, new Path(shardsDir(root), shard)); p.dk -> p })
          .toMap
        ixMaps.put(key, m)
        m
      }
    }
  }

  /** The dir shard holding `dk` in manifest `m`, reading at most ONE
    * index shard (the bucket `dk` hashes to) — the per-dir lookup the
    * publish path uses instead of flattening the whole index. `lax`
    * tolerates a missing index shard (below-grace or half-cleaned
    * versions) as absent. */
  private def dirShardOf(fs: FileSystem, root: String, m: ManifestIx,
      dk: String, lax: Boolean = false): Option[String] =
    m.bucketMap.get(bucketOf(dk, m.r)).flatMap { ix =>
      ixMapOf(fs, root, ix, lax).flatMap(_.get(dk)).map(_.shard)
    }

  /** Version `v`'s index, flattened through the bucket level with
    * per-dir file counts. Full resolution — the READ path and the
    * compactor's hot-dir scan; the publish path resolves per-dir via
    * [[dirShardOf]]. */
  private def indexIx(fs: FileSystem, root: String, v: Int): Seq[IxLine] = {
    val m = readManifest(fs, root, v)
    val fetched = fetchShards(fs, root, m.buckets.map(_._2))
    m.buckets.flatMap { case (_, idxShard) =>
      fetched(idxShard).map(parseIx(_, new Path(shardsDir(root), idxShard)))
    }
  }

  /** The committed (bucket count, bucket → index shard) level — the
    * index-sharding contract's observable surface. */
  private[graft] def bucketIndex(spark: SparkSession, root: String): (Int, Seq[(Int, String)]) = {
    val fs = Fs.of(spark, root)
    val m = readManifest(fs, root, committedVersion(fs, root))
    (m.r, m.buckets)
  }

  /** Shards are immutable once written (names carry a uniquifier), so
    * their contents cache across resolutions: steady-state resolution
    * of a hot store re-reads only the shards its last publishes
    * replaced. The cache is PER STORE and LRU-bounded: one store
    * overflowing its bound evicts only its own coldest entries — never
    * a wholesale clear, never another store's working set (the r18
    * global clear-at-50k turned one overflow into a re-read storm
    * across every live store in the JVM). */
  private[graft] var shardCachePerStore = 4096

  /** The set of cached roots is itself LRU-bounded: a long-lived JVM
    * touching many ephemeral stores (test suites, rotated staging
    * dirs, blue/green clones) must not accumulate per-root caches
    * forever — evicting a cold ROOT drops that store's whole cache,
    * which a later read simply re-fills. */
  private[graft] var shardCacheRoots = 256
  private val shardCaches =
    new java.util.LinkedHashMap[String, java.util.Map[String, Seq[String]]](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.util.Map[String, Seq[String]]]): Boolean =
        size() > shardCacheRoots
    }

  private def cacheFor(root: String): java.util.Map[String, Seq[String]] =
    shardCaches.synchronized {
      val hit = shardCaches.get(root)
      if (hit != null) hit
      else {
        val m = java.util.Collections.synchronizedMap(
          new java.util.LinkedHashMap[String, Seq[String]](64, 0.75f, true) {
            override def removeEldestEntry(
                e: java.util.Map.Entry[String, Seq[String]]): Boolean =
              size() > shardCachePerStore
          })
        shardCaches.put(root, m)
        m
      }
    }

  /** Cold-cache hook for the crash-recovery specs: on-disk integrity,
    * not cache contents, is what the suite must pin. Clears the parsed
    * index-map cache too, so a "cold driver" simulation re-reads (and
    * re-counts) every shard it touches. */
  private[graft] def clearShardCache(): Unit = {
    shardCaches.synchronized { shardCaches.clear() }
    ixMaps.clear()
  }

  /** Cache size of one store (spec surface for the LRU bound). */
  private[graft] def shardCacheSize(root: String): Int =
    shardCaches.synchronized {
      Option(shardCaches.get(root)).map(_.size).getOrElse(0)
    }

  /** Count of cached roots (spec surface for the root-level bound). */
  private[graft] def cachedRootCount: Int =
    shardCaches.synchronized { shardCaches.size }

  /** Test hook: actual shard-file DISK reads (cache misses) — the
    * counter the O(touched)-publish spec pins against a cold cache. */
  private[graft] val shardDiskReads = new java.util.concurrent.atomic.AtomicLong

  /** One shard's lines, through the per-store LRU cache. `lax`
    * tolerates a MISSING shard file as `None` — the idempotent-cleanup
    * contract for uncommitted or below-grace manifests, whose shards a
    * crashed prior cleanup/GC may already have deleted; committed
    * live/grace versions always read strictly (a missing shard there
    * is real corruption and must fail loudly, never silently shrink a
    * store). */
  private def shardLinesOpt(fs: FileSystem, root: String, shard: String,
      lax: Boolean): Option[Seq[String]] = {
    val c = cacheFor(root)
    val hit = c.get(shard)
    if (hit != null) Some(hit)
    else {
      shardDiskReads.incrementAndGet()
      val read = try Some(readLines(fs, new Path(shardsDir(root), shard)))
        catch { case e: java.io.FileNotFoundException => if (lax) None else throw e }
      read.foreach(v => c.put(shard, v))
      read
    }
  }

  private def shardFiles(fs: FileSystem, root: String, shard: String): Seq[String] =
    shardLinesOpt(fs, root, shard, lax = false).get

  private def shardLinesLax(fs: FileSystem, root: String, shard: String): Seq[String] =
    shardLinesOpt(fs, root, shard, lax = true).getOrElse(Seq.empty)

  /** Cold-resolution fetch pool: a fresh reader of a large store pays
    * one read per shard by nature, but pays them CONCURRENTLY, not as
    * O(dirs) sequential round-trips. Bounded and daemon. */
  private lazy val ioPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(16, r => {
      val t = new Thread(r, "manifest-io"); t.setDaemon(true); t
    })

  /** Read many shards, fetching cache misses in parallel on the
    * bounded driver pool. Returns a LOCAL map (immune to LRU eviction
    * mid-resolution), preserving the caller's read order and
    * strict-miss semantics. */
  private def fetchShards(fs: FileSystem, root: String,
      shards: Seq[String]): Map[String, Seq[String]] = {
    val c = cacheFor(root)
    val got = shards.distinct.map(s => s -> c.get(s))
    val misses = got.collect { case (s, null) => s }
    val fetched: Map[String, Seq[String]] =
      if (misses.size <= 1)
        misses.map(s => s -> shardFiles(fs, root, s)).toMap
      else {
        val futs = misses.map(s => s -> ioPool.submit(
          new java.util.concurrent.Callable[Seq[String]] {
            def call(): Seq[String] = shardLinesOpt(fs, root, s, lax = false).get
          }))
        futs.map { case (s, f) =>
          s -> (try f.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause })
        }.toMap
      }
    got.map { case (s, hit) => s -> (if (hit != null) hit else fetched(s)) }.toMap
  }

  /** The root-relative data-file list of a version's flattened index. */
  private def filesOf(fs: FileSystem, root: String, index: Seq[IxLine]): Seq[String] = {
    val shards = index.map(_.shard)
    val fetched = fetchShards(fs, root, shards)
    shards.flatMap(fetched)
  }

  // ----------------------------------------------------------------
  // snapshot reads
  // ----------------------------------------------------------------

  /** One committed version of the WHOLE store, resolved once: every
    * table read off a snapshot sees the same version — the cross-table
    * isolation contract a multi-table reader must use. The file list
    * is flattened on first use, so a publish whose builder never reads
    * the store never flattens the index. */
  final class Snapshot private[ManifestStore] (spark: SparkSession,
      fs: FileSystem, root: String, val version: Int) {

    /** The flattened index, read on first use. */
    private[ManifestStore] lazy val index: Seq[IxLine] = indexIx(fs, root, version)

    lazy val files: Seq[String] = filesOf(fs, root, index)

    def tableFiles(table: String): Seq[String] =
      if (table.isEmpty) files
      else files.collect { case f if f.startsWith(s"$table/") => f.stripPrefix(s"$table/") }

    /** Read one table at this snapshot's version. The listed files are
      * passed EXPLICITLY with `basePath = <table dir>`, so partition
      * columns (and their static + dynamic pruning) behave exactly as
      * a whole-dir read — but the scan can never see a mid-publish
      * state. The caller supplies the full schema INCLUDING the
      * partition column, which also pins that column's type against
      * the shared session's partition-type inference setting.
      * An unpublished/empty table reads as an empty frame. */
    def read(table: String, schema: StructType): DataFrame = {
      val fl = tableFiles(table)
      if (fl.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[Row](), schema)
      else {
        val base = tableDir(root, table)
        spark.read.option("basePath", base).schema(schema)
          .parquet(fl.map(f => s"$base/$f"): _*)
      }
    }
  }

  def snapshot(spark: SparkSession, root: String): Snapshot = {
    val fs = Fs.of(spark, root)
    new Snapshot(spark, fs, root, committedVersion(fs, root))
  }

  /** Read the committed snapshot of a single-table store (the root is
    * the table). */
  def read(spark: SparkSession, root: String, schema: StructType): DataFrame =
    snapshot(spark, root).read("", schema)

  /** Read one table of a multi-table store. Multi-TABLE consumers of
    * one logical result must resolve a [[snapshot]] once and read all
    * tables from it instead of calling this repeatedly. */
  def readTable(spark: SparkSession, root: String, table: String,
      schema: StructType): DataFrame =
    snapshot(spark, root).read(table, schema)

  /** Copy the committed `tables` — (name, partition column, schema) —
    * of the store at `src` into a fresh [[Fs.scratch]] root tagged
    * `tag`, all in one commit, all read off one snapshot; returns the
    * new root. The mutable-clone step of every staged (immutable,
    * shared) store. */
  def cloneTables(spark: SparkSession, src: String, tag: String,
      tables: Seq[(String, String, StructType)]): String = {
    val root = Fs.scratch(tag)
    val snap = snapshot(spark, src)
    publishOps(spark, root, tables.map { case (t, partCol, schema) =>
      replaceTableOp(t, partCol, () => snap.read(t, schema)) })
    root
  }

  /** The committed file list (root-relative). */
  def files(spark: SparkSession, root: String): Seq[String] =
    snapshot(spark, root).files

  /** The committed file list of one table (table-relative). */
  def tableFiles(spark: SparkSession, root: String, table: String): Seq[String] =
    snapshot(spark, root).tableFiles(table)

  /** Distinct partition-dir names (`part=value`) of a single-table
    * store's committed manifest. */
  def partitionDirs(spark: SparkSession, root: String): Seq[String] =
    files(spark, root).map(_.takeWhile(_ != '/')).distinct.sorted

  /** The committed (dirKey → shard file) index — the sharding
    * contract's observable surface (spec-pinned byte-identity of
    * untouched dirs' shards). */
  private[graft] def shardIndex(spark: SparkSession, root: String): Seq[(String, String)] = {
    val fs = Fs.of(spark, root)
    indexIx(fs, root, committedVersion(fs, root)).map(l => l.dk -> l.shard)
  }

  // ----------------------------------------------------------------
  // fenced writer lease
  // ----------------------------------------------------------------

  /** Atomic create-exclusive of `_lease` with a fresh writer token as
    * content; throws if a concurrent maintenance job holds the store.
    * Returns the token the holder must fence every commit with. */
  private[graft] def acquireLease(fs: FileSystem, root: String): String = {
    fs.mkdirs(new Path(root))
    val token = java.util.UUID.randomUUID().toString
    // only an already-held lease is blamed on a concurrent job; any
    // OTHER IOException (permissions, connectivity) is a real FS error
    // and must surface unchanged — blaming a concurrent job steers
    // operators toward breakLease for a problem that is not a stale
    // lease. Contention is confirmed POSITIVELY (ADVICE r20 #1): a
    // typed already-exists exception, or any IOException with the
    // lease file actually present afterwards — never a message-phrasing
    // heuristic ('does not exist' matched the old `contains("exist")`,
    // and wrapped FS contention errors without the word surfaced raw).
    def leaseHeld(e: Throwable): Boolean = e match {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => true
      case _: java.nio.file.FileAlreadyExistsException => true
      case _: java.io.IOException =>
        try fs.exists(new Path(root, "_lease"))
        catch { case _: java.io.IOException => false }
      case _ => false
    }
    try {
      val out = fs.create(new Path(root, "_lease"), false)
      try out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } catch {
      case e: java.io.IOException if leaseHeld(e) =>
        throw new IllegalStateException(
          s"store $root is held by a concurrent maintenance job (_lease " +
            "present); if its holder is dead, break it with " +
            "ManifestStore.breakLease", e)
    }
    token
  }

  private def leaseToken(fs: FileSystem, root: String): Option[String] = {
    val p = new Path(root, "_lease")
    if (!fs.exists(p)) None
    else Some(readLines(fs, p).headOption.getOrElse(""))
  }

  /** The fence: a stalled writer whose lease was broken (and possibly
    * reacquired) must fail LOUDLY before touching the manifest — its
    * in-flight files stay uncommitted orphans, and it can never
    * overwrite a successor's commit. */
  private def fence(fs: FileSystem, root: String, token: String): Unit =
    if (!leaseToken(fs, root).contains(token))
      throw new IllegalStateException(
        s"writer fenced at $root: the lease was broken (and possibly " +
          "reacquired by a successor) while this publish was in flight; " +
          "its files remain uncommitted orphans")

  /** Release only OUR lease — a fenced holder's cleanup must not
    * delete a successor's. */
  private[graft] def releaseLease(fs: FileSystem, root: String, token: String): Unit =
    if (leaseToken(fs, root).contains(token)) {
      fs.delete(new Path(root, "_lease"), false)
      ()
    }

  /** Operator remedy for a lease left by a dead holder (the holder, if
    * merely stalled, is fenced from that moment on). */
  def breakLease(spark: SparkSession, root: String): Unit = {
    Fs.of(spark, root).delete(new Path(root, "_lease"), false)
    ()
  }

  /** The explicit deep-clean: delete `_shards` files that NO manifest
    * still on disk references — the crash residue stranded between a
    * fence and a manifest write, which the per-publish shard-diff GC
    * cannot see. O(store) namespace work by nature, so it is an
    * operator-scheduled maintenance call (and rides growth/whole-table
    * publishes opportunistically), never the per-trigger path. Runs
    * under the writer lease; concurrent readers are safe (only
    * unreferenced names are deleted). */
  def sweepStrandedShards(spark: SparkSession, root: String): Unit = {
    val fs = Fs.of(spark, root)
    if (!fs.exists(shardsDir(root))) return
    val token = acquireLease(fs, root)
    try {
      // every manifest still on disk — committed, grace, or a crashed
      // publish's (its own cleanup belongs to the next publish, not
      // this sweep) — protects the shards it references
      val vs = manifestVersions(fs, root)
      val committed = vs.filter(w => fs.exists(markerPath(root, w)))
      val v = committed.maxOption.getOrElse(0)
      sweepShards(fs, root, vs, w => w < v - 1 || !committed.contains(w))
    } finally releaseLease(fs, root, token)
  }

  /** Delete every `_shards` file no manifest of `versions` references,
    * as an index shard or as a dir shard one lists. A non-`lax` version
    * (committed live or grace) fails loudly on a missing index shard
    * rather than shrink the live set, which is complete before the
    * first delete: a store this cannot read loses no file. */
  private def sweepShards(fs: FileSystem, root: String, versions: Seq[Int],
      lax: Int => Boolean): Unit = {
    val live: Set[String] = versions.flatMap { w =>
      val idx = readManifest(fs, root, w).buckets.map(_._2)
      val lines: Seq[(String, Seq[String])] =
        if (lax(w)) idx.map(ix => ix -> shardLinesLax(fs, root, ix))
        else fetchShards(fs, root, idx).toSeq
      idx ++ lines.flatMap { case (ix, ls) =>
        ls.map(parseIx(_, new Path(shardsDir(root), ix)).shard)
      }
    }.toSet
    for (s <- fs.listStatus(shardsDir(root)).map(_.getPath.getName)
        if !live.contains(s))
      fs.delete(new Path(shardsDir(root), s), false)
  }

  // ----------------------------------------------------------------
  // publish
  // ----------------------------------------------------------------

  private def dataFiles(fs: FileSystem, dir: Path): Seq[String] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))

  /** Partition dirs of `table` present on disk (whole-table ops must
    * sweep/list dirs the manifest may not know yet). */
  private def diskDirs(fs: FileSystem, root: String, table: String,
      partCol: String): Seq[String] = {
    val td = new Path(tableDir(root, table))
    if (!fs.exists(td)) Seq.empty
    else fs.listStatus(td).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(s"$partCol="))
      .map(d => if (table.isEmpty) d else s"$table/$d")
  }

  /** The shared publish choreography (under the fenced lease):
    *   1. clear crashed publishes: uncommitted manifests, their OWN
    *      shards (found by diffing their index against the committed
    *      manifests at SHARD level), and their not-otherwise-referenced
    *      data files;
    *   2. per op: resolve its touched dirs, clear those dirs' orphans,
    *      run the write job, list its new files;
    *   3. fence, then write new shards for the touched dirs ONLY and
    *      new index shards for the touched RANGES only (every other
    *      range's index shard is carried verbatim — without being
    *      read), and create the marker atomically — THE flip;
    *   4. GC with a one-version grace window, diffing the expiring
    *      version against the live one at SHARD level — only replaced
    *      shards get file-level reads.
    *
    * Driver-side READ cost is O(touched + crashed-publish dirs) shard
    * files per publish, warm or cold — never O(store). The one
    * O(table) shape is a whole-table op (compaction, blue/green),
    * whose touched set IS the table.
    *
    * `build` is THE way a write reads the store it changes: it runs
    * under the lease, once the versions are listed, and receives a
    * [[Snapshot]] of the committed version this publish supersedes.
    * Every store-derived frame its ops write (a delete-log gate, a
    * re-delivery anti-join, a repair read) is built from that
    * snapshot, so read-modify-write is serializable against any other
    * writer and the store is resolved once per publish. The snapshot's
    * file list is flattened only if `build` reads it. An empty result
    * publishes nothing. */
  def publishOps(spark: SparkSession, root: String)(
      build: Snapshot => Seq[TableOp]): Unit = {
    val fs = Fs.of(spark, root)
    val token = acquireLease(fs, root)
    try {
      // version state: one root listing, one manifest read per version
      val allVs = manifestVersions(fs, root)
      val committedVs = allVs.filter(w => fs.exists(markerPath(root, w)))
      val v = committedVs.maxOption.getOrElse(0)
      // whole-table ops, snapshot reads and compaction are the shapes
      // that flatten the index (lazily, so every partition-scoped
      // publish stays O(touched))
      val snap = new Snapshot(spark, fs, root, v)
      val ops = build(snap)
      require(ops.map(_.table).distinct.size == ops.size,
        s"one publish may carry at most one op per table: ${ops.map(_.table)}")
      if (ops.isEmpty) return
      val committedMs: Map[Int, ManifestIx] =
        committedVs.map(w => w -> readManifest(fs, root, w)).toMap
      val curM = committedMs.getOrElse(v, EmptyManifest)
      // index-shard names every committed manifest references — known
      // from the manifest files alone, no shard reads
      val committedIdxShards: Set[String] =
        committedMs.values.flatMap(_.buckets.map(_._2)).toSet
      // strictness: live/grace versions read strictly; a below-grace
      // committed version (a crashed GC's leftover) tolerates missing
      // shards — its surviving references still protect their files,
      // and this round's GC finishes the interrupted sweep
      def laxFor(w: Int): Boolean = w < v - 1
      // per-dir lookups into the committed versions: each reads at most
      // one index shard + one dir shard per version, all LRU-cached
      def committedDirShards(dk: String): Seq[(Int, String)] =
        committedVs.flatMap(w =>
          dirShardOf(fs, root, committedMs(w), dk, lax = laxFor(w)).map(w -> _))
      val refCache = scala.collection.mutable.HashMap[String, Set[String]]()
      def referencedIn(dk: String): Set[String] = refCache.getOrElseUpdate(dk,
        committedDirShards(dk).flatMap { case (w, s) =>
          if (laxFor(w)) shardLinesLax(fs, root, s) else shardFiles(fs, root, s)
        }.toSet)

      // 1. crashed-publish cleanup (ADVICE r17: an uncommitted manifest
      // must not strand its files as permanently unreferenced), SCOPED:
      // an uncommitted manifest carries untouched dirs' COMMITTED
      // shards verbatim, so only the index shards no committed manifest
      // references can hold its own work — read those, not the store
      // (ADVICE r18: deleting carried shards broke every untouched dir;
      // the per-line committed check spares them). Reads of an
      // uncommitted manifest are missing-tolerant, so a cleanup
      // interrupted mid-delete re-runs idempotently ([[retire]]).
      // Markers whose manifest is gone (a fenced straggler's leftovers)
      // are dangling — readers already ignore them; delete them so the
      // version they squatted on publishes cleanly. A crash inside the
      // manifest write tears it (no marker can follow a torn manifest):
      // it is dropped unread, its own shards left to sweepStrandedShards.
      for (w <- allVs if !committedVs.contains(w)) {
        val mw = try readManifest(fs, root, w)
          catch { case _: IllegalArgumentException => EmptyManifest }
        retire(fs, root, w, mw, committedIdxShards,
          (dk, ds) => committedDirShards(dk).exists(_._2 == ds), referencedIn)
      }
      for (n <- fs.listStatus(new Path(root)).map(_.getPath.getName)
          if n.startsWith("_commit_v") &&
            !allVs.contains(n.stripPrefix("_commit_v").toInt))
        fs.delete(new Path(root, n), false)

      // 2. per-op: touched dirs + orphan sweep (sequential), then the
      // WRITE JOBS IN PARALLEL (the tables' writes are independent —
      // only the commit must be atomic; on toy-scale triggers the
      // sequential-job latency, not the write work, was the cost of a
      // multi-table trigger), then new-file listing
      case class OpDone(op: TableOp, dirs: Seq[String],
          newByDir: Map[String, Seq[String]], wholeTable: Boolean)
      def manifestDirsOf(table: String): Seq[String] =
        snap.index.map(_.dk).filter(dk =>
          if (table.isEmpty) true else dk == table || dk.startsWith(s"$table/"))
      val staged = ops.flatMap { op =>
        val wholeTable = op.touched.isEmpty
        val preDirs: Seq[String] =
          if (op.partCol.isEmpty) Seq(dirKeyOf(op.table, "", null))
          else op.touched match {
            case Some(t) => t(snap).map(x => dirKeyOf(op.table, op.partCol, x))
            case None => (diskDirs(fs, root, op.table, op.partCol) ++
              manifestDirsOf(op.table)).distinct
          }
        // an explicit empty touched set is a no-op; whole-table and
        // unpartitioned ops always run (their write may create the
        // table's first dirs)
        if (op.touched.isDefined && op.partCol.nonEmpty && preDirs.isEmpty) None
        else {
          for (dk <- preDirs; n <- dataFiles(fs, new Path(root, dk))
              if !referencedIn(dk).contains(s"$dk/$n"))
            require(fs.delete(new Path(root, s"$dk/$n"), false),
              s"orphan delete failed: $root/$dk/$n")
          Some((op, preDirs, wholeTable))
        }
      }
      if (staged.isEmpty) return // nothing touched — no version bump
      if (staged.size == 1) staged.head._1.write(snap, tableDir(root, staged.head._1.table))
      else {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        // every write runs to COMPLETION (success or failure) before we
        // proceed or abort — a straggler still writing after the lease
        // released could leak its files into a successor publish's
        // new-file listing
        val jobs = staged.map { case (op, _, _) =>
          Future(scala.util.Try(op.write(snap, tableDir(root, op.table))))
        }
        Await.result(Future.sequence(jobs), scala.concurrent.duration.Duration.Inf)
          .foreach(_.get)
      }
      val done = staged.map { case (op, preDirs, wholeTable) =>
        val postDirs =
          if (wholeTable && op.partCol.nonEmpty)
            (preDirs ++ diskDirs(fs, root, op.table, op.partCol)).distinct
          else preDirs
        val newByDir = postDirs.map { dk =>
          dk -> dataFiles(fs, new Path(root, dk))
            .map(n => s"$dk/$n").filterNot(referencedIn(dk).contains)
        }.toMap
        OpDone(op, postDirs, newByDir, wholeTable)
      }
      maybeCrash("publish")

      // 3. fence + commit
      onBeforeCommit.foreach { f => onBeforeCommit = None; f() }
      fence(fs, root, token)
      val vNew = v + 1
      // dirs each op drops wholesale (replace) vs keeps
      val dropped: Set[String] = done.flatMap { d =>
        if (!d.op.replace) Seq.empty
        // an unpartitioned op's "whole table" IS its one dir — only a
        // whole-PARTITIONED-table replace needs the table's dir list
        else if (d.wholeTable && d.op.partCol.nonEmpty) manifestDirsOf(d.op.table)
        else d.dirs
      }.toSet
      val newFilesOf: Map[String, Seq[String]] =
        done.flatMap(_.newByDir).toMap
      // the dirs whose manifest entry actually changes: dropped, or
      // carrying new files (a touched dir the write left untouched
      // keeps its old shard — content-identical, zero writes)
      val changedDirs: Seq[String] = (done.flatMap(_.dirs) ++ dropped).distinct
        .filter(dk => dropped.contains(dk) ||
          newFilesOf.getOrElse(dk, Seq.empty).nonEmpty)
      def shardNameFor(dk: String): String = {
        val san = dk.replaceAll("[^0-9a-zA-Z.=-]", "_")
        s"${san}_v${vNew}_${java.util.UUID.randomUUID().toString.take(8)}.list"
      }
      fs.mkdirs(shardsDir(root))
      // post-publish file list of every changed dir ("" = dir leaves)
      def curFilesOf(dk: String): Seq[String] =
        dirShardOf(fs, root, curM, dk).toSeq.flatMap(s => shardFiles(fs, root, s))
      val mergedOf: Map[String, Seq[String]] = changedDirs.map { dk =>
        val kept = if (dropped.contains(dk)) Seq.empty else curFilesOf(dk)
        dk -> (kept ++ newFilesOf.getOrElse(dk, Seq.empty))
      }.toMap
      // dir-count bookkeeping WITHOUT flattening the index: the header
      // carries the committed count
      val dirWasThere: Map[String, Boolean] = changedDirs.map { dk =>
        dk -> dirShardOf(fs, root, curM, dk).isDefined
      }.toMap
      val newCount = curM.count +
        changedDirs.count(dk => !dirWasThere(dk) && mergedOf(dk).nonEmpty) -
        changedDirs.count(dk => dirWasThere(dk) && mergedOf(dk).isEmpty)
      val newR = math.max(math.max(curM.r, 1), targetBuckets(newCount))
      def idxShardName(b: Int): String =
        s"idx${b}_v${vNew}_${java.util.UUID.randomUUID().toString.take(8)}.list"
      // index lines carry each dir's file count forward
      def writeIdxShard(b: Int, lines: Seq[IxLine]): String = {
        val s = idxShardName(b)
        writeLines(fs, new Path(shardsDir(root), s),
          lines.sortBy(_.dk).map(l => s"${l.dk}\t${l.shard}\t${l.n}"))
        s
      }
      // INDEX-LEVEL sharding: the manifest file is (bucket → index
      // shard). In the steady state (bucket count unchanged) only the
      // buckets holding changed dirs are READ and rewritten; every
      // other range's index shard is carried forward VERBATIM without
      // being read — O(touched ranges) index reads AND writes. A
      // growth step (powers of two, ~indexBucketTarget dirs/bucket)
      // re-buckets everything once, amortized over the doublings.
      val bucketLines: Seq[(Int, String)] =
        if (curM.r == newR) {
          val byBucket: Map[Int, Seq[String]] =
            changedDirs.groupBy(dk => bucketOf(dk, newR))
          val curBuckets: Map[Int, String] = curM.buckets.toMap
          (curBuckets.keySet ++ byBucket.keySet).toSeq.sorted.flatMap { b =>
            byBucket.get(b) match {
              case None => Some(b -> curBuckets(b)) // untouched range: verbatim
              case Some(change) =>
                val changeSet = change.toSet
                val curLines: Seq[IxLine] = curBuckets.get(b)
                  .map(ix => shardFiles(fs, root, ix)
                    .map(parseIx(_, new Path(shardsDir(root), ix))))
                  .getOrElse(Seq.empty)
                val carried = curLines.filterNot(l => changeSet(l.dk))
                val rewritten = change.flatMap { dk =>
                  val merged = mergedOf(dk)
                  if (merged.isEmpty) None
                  else {
                    val s = shardNameFor(dk)
                    writeLines(fs, new Path(shardsDir(root), s), merged)
                    Some(IxLine(dk, s, merged.size))
                  }
                }
                val lines = carried ++ rewritten
                if (lines.isEmpty) None
                else if (rewritten.isEmpty && lines.size == curLines.size)
                  Some(b -> curBuckets(b)) // only no-op drops: verbatim
                else Some(b -> writeIdxShard(b, lines))
            }
          }
        } else {
          // growth / first publish: one full re-bucket
          val changedSet = changedDirs.toSet
          val newIndex = scala.collection.mutable.LinkedHashMap[String, IxLine]()
          for (l <- snap.index if !changedSet(l.dk))
            newIndex += l.dk -> l
          for (dk <- changedDirs) {
            val merged = mergedOf(dk)
            if (merged.nonEmpty) {
              val s = shardNameFor(dk)
              writeLines(fs, new Path(shardsDir(root), s), merged)
              newIndex += dk -> IxLine(dk, s, merged.size)
            }
          }
          require(newIndex.size == newCount,
            s"dir-count bookkeeping diverged at $root: header says $newCount, " +
              s"index holds ${newIndex.size}")
          val byB = newIndex.values.toSeq.groupBy(l => bucketOf(l.dk, newR))
          (0 until newR).flatMap { b =>
            byB.get(b).map(lines => b -> writeIdxShard(b, lines))
          }.toSeq
        }
      // the manifest create is EXCLUSIVE: a legitimate writer always
      // targets a fresh version (step 1 removed uncommitted leftovers
      // under its own lease), so a fenced straggler that stalls after
      // its fence and resumes after a successor committed the same
      // vNew fails LOUDLY here instead of overwriting the successor's
      // committed file list (ADVICE r18)
      writeLines(fs, manifestPath(root, vNew),
        s"#R\t$newR\t$newCount" +: bucketLines.map { case (b, s) => s"$b\t$s" },
        overwrite = false)
      // "commit" fires between the manifest write and the marker — the
      // crashed-publish window whose manifest step 1 must clear (its
      // files must not strand as permanently unreferenced)
      maybeCrash("commit")
      onBeforeMarker.foreach { f => onBeforeMarker = None; f() }
      // re-verify the fence between the manifest write and the marker:
      // a writer broken-and-superseded INSIDE that window would
      // otherwise win the marker create against a successor that
      // legitimately cleaned its manifest away — committing a marker
      // whose manifest is gone (readers ignore that state now, but the
      // straggler must still fail loudly, not report success)
      fence(fs, root, token)
      // the exclusive create is the flip — and the last fence: even a
      // writer that raced past a broken lease cannot overwrite a
      // successor's committed marker. Accepted residual (ADVICE r19):
      // a straggler that stalls BETWEEN this re-fence and the create,
      // across TWO operator breakLease mistakes, can win the marker
      // over a successor's identical vNew manifest — the committed
      // state is then the successor's (consistent); only the
      // success/failure attribution between the two writers swaps.
      fs.create(markerPath(root, vNew), false).close()
      maybeCrash("gc")

      // 4. GC with one-version grace, DIFFED at shard level against the
      // live version v: vNew's shards are v's carried + this publish's
      // FRESH names, and its files are v's kept + this publish's new
      // (never present in an expiring w — the new-file listing filtered
      // every committed reference) — so diffing an expiring w against v
      // alone is sufficient, and only the shards w does NOT share with
      // v are read at file level. A GC interrupted mid-delete re-runs
      // idempotently on the next publish ([[retire]]).
      val curIdx: Set[String] = curM.buckets.map(_._2).toSet
      for (w <- committedVs if w < vNew - 1)
        retire(fs, root, w, committedMs(w), curIdx,
          (dk, ds) => dirShardOf(fs, root, curM, dk).contains(ds),
          dk => curFilesOf(dk).toSet)
      // stale markers (including data-less ones a crashed GC stranded)
      for (n <- fs.listStatus(new Path(root)).map(_.getPath.getName)
          if n.startsWith("_commit_v") &&
            n.stripPrefix("_commit_v").toInt < vNew - 1)
        fs.delete(new Path(root, n), false)
      // Shards a crash stranded between the fence and the manifest
      // write are referenced by NO manifest — invisible to the diff.
      // The full reference sweep that catches them is O(store), so it
      // rides only publishes that are ALREADY O(store): whole-
      // PARTITIONED-table ops (blue/green rotation) and the bucket-
      // growth re-bucket step (ADVICE r20 #2 — so stores that only
      // ever see partition-scoped publishes still get swept as they
      // grow, amortized over the doublings). NOT a trigger: the
      // incremental compactor and the per-trigger unpartitioned ops
      // (delete-log appends/folds) — the scheduled path stays
      // O(touched). Static partition-scoped stores' crash residue is
      // caught by [[sweepStrandedShards]], the explicit operator
      // deep-clean.
      if (ops.exists(o => o.touched.isEmpty && o.partCol.nonEmpty) ||
          curM.r != newR)
        sweepShards(fs, root, Seq(v, vNew), _ => false)
    } finally releaseLease(fs, root, token)
  }

  /** [[publishOps]] of ops that do not read the store they change. */
  def publishOps(spark: SparkSession, root: String, ops: Seq[TableOp]): Unit =
    publishOps(spark, root)(_ => ops)

  /** Retire version `w`: its index shards outside `liveIdx`, the dir
    * shards they list that `liveDirShard(dk, ds)` rejects with those
    * shards' files outside `liveFiles(dk)`, then the manifest LAST.
    * Reads of `w` are missing-tolerant, so a retire that crashed
    * mid-delete re-runs idempotently on the next publish. */
  private def retire(fs: FileSystem, root: String, w: Int, mw: ManifestIx,
      liveIdx: Set[String], liveDirShard: (String, String) => Boolean,
      liveFiles: String => Set[String]): Unit = {
    val ownIdx = mw.buckets.map(_._2).filterNot(liveIdx)
    for (ix <- ownIdx; l <- shardLinesLax(fs, root, ix)) {
      val p = parseIx(l, new Path(shardsDir(root), ix))
      if (!liveDirShard(p.dk, p.shard)) {
        lazy val keep = liveFiles(p.dk)
        for (f <- shardLinesLax(fs, root, p.shard) if !keep(f))
          fs.delete(new Path(root, f), false)
        fs.delete(new Path(shardsDir(root), p.shard), false)
      }
    }
    ownIdx.foreach(ix => fs.delete(new Path(shardsDir(root), ix), false))
    fs.delete(manifestPath(root, w), false)
  }

  // ----------------------------------------------------------------
  // single-table convenience (the root is the table)
  // ----------------------------------------------------------------

  /** Append `delta`'s rows as new files of their own partitions and
    * publish the next version (old files all kept). Rows of partitions
    * the store has never seen simply add those partitions. */
  def append(spark: SparkSession, root: String, partCol: String,
      delta: DataFrame): Unit = {
    val touched = delta.select(partCol).distinct().collect().map(_.get(0)).toSeq
    appendTouched(spark, root, partCol, touched, delta)
  }

  /** [[append]] with the touched partition set supplied by a caller
    * that already computed it. `touched` must cover every partition
    * `delta` writes (a row outside it would land on disk unlisted). */
  def appendTouched(spark: SparkSession, root: String, partCol: String,
      touched: Seq[Any], delta: DataFrame): Unit =
    if (touched.nonEmpty)
      publishOps(spark, root,
        Seq(appendOp("", partCol, () => touched, () => delta)))

  /** Replace the `touched` partitions' content with `repaired` and
    * publish the next version. A touched partition with no rows in
    * `repaired` is REMOVED from the manifest — durably. */
  def rewriteTouched(spark: SparkSession, root: String, partCol: String,
      touched: Seq[Any], repaired: DataFrame): Unit =
    if (touched.nonEmpty)
      publishOps(spark, root,
        Seq(rewriteOp("", partCol, () => touched, () => repaired)))

  /** The scheduled small-file sweep of a single-table store. */
  def compact(spark: SparkSession, root: String, partCol: String,
      sortCols: Seq[String], schema: StructType): Unit =
    publishOps(spark, root,
      Seq(compactOp(spark, root, "", partCol, sortCols, schema)))
}
