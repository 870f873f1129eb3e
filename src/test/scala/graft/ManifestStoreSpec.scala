package graft

import graft.util.ManifestStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.hadoop.fs.Path

/** The manifest-store publish protocol: snapshot-isolated reads (a
  * reader concurrent with any publish sees only old-or-new COMPLETE
  * state, never an absent partition), atomic marker commits, one-grace
  * GC, orphan cleanup, single-writer lease, and partition pruning over
  * the explicit-file read path. */
class ManifestStoreSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("x", DoubleType),
    StructField("b", IntegerType)))

  private def df(rows: (Long, Double, Int)*) = {
    import spark.implicits._
    rows.toDF("id", "x", "b")
  }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_mstore").toString

  private def rows(root: String): Set[String] =
    ManifestStore.read(spark, root, schema).collect().map(_.toString).toSet

  private def diskFiles(root: String): Set[String] = {
    val fs = graft.util.Fs.of(spark, root)
    val b = Set.newBuilder[String]
    val it = fs.listFiles(new Path(root), true)
    while (it.hasNext) {
      val p = it.next().getPath.toString
      if (p.endsWith(".parquet")) b += p
    }
    b.result()
  }

  test("append/read roundtrip; unpublished store reads empty; versions advance") {
    val root = tmp()
    assert(ManifestStore.read(spark, root, schema).isEmpty)
    ManifestStore.append(spark, root, "b", df((1L, 1.0, 0), (2L, 2.0, 1)))
    assert(rows(root) == Set("[1,1.0,0]", "[2,2.0,1]"))
    // appending an existing partition + a brand-new one
    ManifestStore.append(spark, root, "b", df((3L, 3.0, 1), (4L, 4.0, 2)))
    assert(rows(root) == Set("[1,1.0,0]", "[2,2.0,1]", "[3,3.0,1]", "[4,4.0,2]"))
    val fs = graft.util.Fs.of(spark, root)
    assert(ManifestStore.committedVersion(fs, root) == 2)
    assert(ManifestStore.partitionDirs(spark, root) == Seq("b=0", "b=1", "b=2"))
  }

  test("rewriteTouched replaces only touched partitions; untouched files byte-identical; empty rewrite deletes the partition durably") {
    val root = tmp()
    ManifestStore.append(spark, root, "b",
      df((1L, 1.0, 0), (2L, 2.0, 1), (3L, 3.0, 2)))
    val untouchedBefore = diskFiles(root).filter(_.contains("b=0/"))
    // b=1 rewritten, b=2 deleted (no surviving rows)
    ManifestStore.rewriteTouched(spark, root, "b", Seq(1, 2),
      df((2L, 20.0, 1)))
    assert(rows(root) == Set("[1,1.0,0]", "[2,20.0,1]"))
    assert(diskFiles(root).filter(_.contains("b=0/")) == untouchedBefore,
      "untouched partition files were rewritten")
    // deletion durability: nothing ever restores b=2 (the rename-aside
    // protocol's resurrection gap) — further publishes keep it gone
    ManifestStore.append(spark, root, "b", df((5L, 5.0, 0)))
    ManifestStore.append(spark, root, "b", df((6L, 6.0, 0)))
    assert(!rows(root).exists(_.endsWith(",2]")))
    assert(!ManifestStore.partitionDirs(spark, root).contains("b=2"))
  }

  test("a reader concurrent with a publish sees old-or-new complete state, never an absent partition") {
    val root = tmp()
    ManifestStore.append(spark, root, "b", df((1L, 1.0, 0), (2L, 2.0, 1)))
    val before = rows(root)
    // crash AFTER the new data files are written, BEFORE the commit
    // marker — the exact window where the rename-aside swap exposed an
    // absent partition dir to readers
    ManifestStore.crashPoint = Some("publish")
    intercept[IllegalStateException] {
      ManifestStore.rewriteTouched(spark, root, "b", Seq(1), df((2L, 99.0, 1)))
    }
    ManifestStore.crashPoint = None
    // mid-window read: bit-identical to the pre-publish snapshot — the
    // half-published files are invisible, no partition is absent
    assert(rows(root) == before)
    // an in-process failure released the lease on the way out; the
    // re-run converges to the clean outcome
    ManifestStore.rewriteTouched(spark, root, "b", Seq(1), df((2L, 99.0, 1)))
    assert(rows(root) == Set("[1,1.0,0]", "[2,99.0,1]"))
  }

  test("orphans of a crashed publish are invisible and cleared by the next publish of their partition") {
    val root = tmp()
    ManifestStore.append(spark, root, "b", df((1L, 1.0, 0)))
    ManifestStore.crashPoint = Some("publish")
    intercept[IllegalStateException] {
      ManifestStore.append(spark, root, "b", df((9L, 9.0, 0)))
    }
    ManifestStore.crashPoint = None
    assert(rows(root) == Set("[1,1.0,0]"), "orphan rows leaked into a read")
    // the re-delivered publish clears the orphans, then lands cleanly:
    // afterwards the disk holds exactly the manifest's files (no
    // retirees yet on this append-only history, no orphan leftovers)
    ManifestStore.append(spark, root, "b", df((9L, 9.0, 0)))
    assert(rows(root) == Set("[1,1.0,0]", "[9,9.0,0]"))
    assert(diskFiles(root).size == ManifestStore.files(spark, root).size,
      "crashed-publish orphans were not cleared")
  }

  test("GC keeps exactly one grace version: retired files vanish at the NEXT publish; crash mid-GC self-heals") {
    val root = tmp()
    ManifestStore.append(spark, root, "b", df((1L, 1.0, 0)))
    val v1Files = diskFiles(root)
    ManifestStore.rewriteTouched(spark, root, "b", Seq(0), df((1L, 2.0, 0)))
    // grace: v1's file is retired from the manifest but still on disk
    assert(v1Files.subsetOf(diskFiles(root)), "grace copy dropped too early")
    // crash between the v3 commit and its GC: the commit stands
    ManifestStore.crashPoint = Some("gc")
    intercept[IllegalStateException] {
      ManifestStore.rewriteTouched(spark, root, "b", Seq(0), df((1L, 3.0, 0)))
    }
    ManifestStore.crashPoint = None
    assert(rows(root) == Set("[1,3.0,0]"), "commit did not stand across a GC crash")
    // the next publish collects the backlog: v1's file is gone
    ManifestStore.rewriteTouched(spark, root, "b", Seq(0), df((1L, 4.0, 0)))
    assert(v1Files.intersect(diskFiles(root)).isEmpty, "retired files never GC'd")
    val fs = graft.util.Fs.of(spark, root)
    // steady state: exactly the last two manifests remain
    val manifests = fs.listStatus(new Path(root)).map(_.getPath.getName)
      .filter(_.startsWith("_manifest_v")).sorted.toSeq
    assert(manifests == Seq("_manifest_v3", "_manifest_v4"))
  }

  test("the writer lease is exclusive: a colliding maintenance job fails loudly, breakLease unwedges") {
    val root = tmp()
    ManifestStore.append(spark, root, "b", df((1L, 1.0, 0)))
    val fs = graft.util.Fs.of(spark, root)
    ManifestStore.acquireLease(fs, root) // the concurrent holder
    val e = intercept[IllegalStateException] {
      ManifestStore.append(spark, root, "b", df((2L, 2.0, 0)))
    }
    assert(e.getMessage.contains("concurrent maintenance"))
    // reads are unaffected by a held lease
    assert(rows(root) == Set("[1,1.0,0]"))
    ManifestStore.breakLease(spark, root)
    ManifestStore.append(spark, root, "b", df((2L, 2.0, 0)))
    assert(rows(root) == Set("[1,1.0,0]", "[2,2.0,0]"))
  }

  test("the publish builder reads the version it supersedes; an empty build publishes nothing and leaves no lease") {
    val root = tmp()
    ManifestStore.append(spark, root, "b", df((1L, 1.0, 0)))
    ManifestStore.append(spark, root, "b", df((2L, 2.0, 1)))
    val fs = graft.util.Fs.of(spark, root)
    var seen: Option[(Int, Set[String])] = None
    ManifestStore.publishOps(spark, root) { snap =>
      seen = Some((snap.version,
        snap.read("", schema).collect().map(_.toString).toSet))
      Seq(ManifestStore.appendOp("", "b", () => Seq(2), () => df((3L, 3.0, 2))))
    }
    assert(seen.contains((2, Set("[1,1.0,0]", "[2,2.0,1]"))),
      s"builder saw $seen, not the superseded version 2")
    assert(ManifestStore.committedVersion(fs, root) == 3)
    assert(rows(root) == Set("[1,1.0,0]", "[2,2.0,1]", "[3,3.0,2]"))
    def names = fs.listStatus(new Path(root)).map(_.getPath.getName).toSet
    val before = names
    ManifestStore.publishOps(spark, root) { snap =>
      assert(snap.version == 3)
      Seq.empty
    }
    assert(ManifestStore.committedVersion(fs, root) == 3)
    assert(names == before, s"an empty build changed the root: ${names.diff(before)}")
    assert(!fs.exists(new Path(root, "_lease")), "an empty build left its lease behind")
  }

  test("compact collapses each partition to one sorted file and is result-invisible; pruning survives") {
    val root = tmp()
    for (i <- 1 to 3)
      ManifestStore.append(spark, root, "b",
        df((i.toLong, i.toDouble, 0), (i + 10L, i + 10.0, 1)))
    val before = rows(root)
    assert(ManifestStore.files(spark, root).size == 6)
    ManifestStore.compact(spark, root, "b", Seq("id"), schema)
    assert(rows(root) == before)
    val byPart = ManifestStore.files(spark, root).groupBy(_.takeWhile(_ != '/'))
    assert(byPart.keySet == Set("b=0", "b=1"))
    assert(byPart.values.forall(_.size == 1), s"not 1 file/partition: $byPart")
    // static partition pruning over the explicit-file read
    val pruned = ManifestStore.read(spark, root, schema).where(col("b") === 1)
    val scan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*b#".r.findFirstIn(scan).isDefined,
      "partition filter not pushed to the manifest read:\n" + scan.take(1200))
    assert(pruned.count() == 3)
  }

  test("a multi-table publish is ATOMIC: a mid-publish crash leaves a reader on ONE version across every table") {
    val root = tmp()
    def pub(k: Long, x: Double): Unit =
      ManifestStore.publishOps(spark, root, Seq(
        ManifestStore.appendOp("a", "b", () => Seq(0), () => df((k, x, 0))),
        ManifestStore.appendOp("c", "b", () => Seq(0), () => df((k, x, 0)))))
    pub(1L, 1.0)
    def both(): (Set[String], Set[String]) = {
      val snap = ManifestStore.snapshot(spark, root)
      (snap.read("a", schema).collect().map(_.toString).toSet,
        snap.read("c", schema).collect().map(_.toString).toSet)
    }
    val before = both()
    assert(before._1 == before._2 && before._1.nonEmpty)
    // crash AFTER table a's and c's files are written, BEFORE the one
    // commit: the exact window where per-table manifests could expose
    // a@v+1 with c@v — here a reader must see v across BOTH tables
    ManifestStore.crashPoint = Some("publish")
    intercept[IllegalStateException] { pub(2L, 2.0) }
    ManifestStore.crashPoint = None
    assert(both() == before, "a reader saw a torn multi-table state")
    // the re-run commits both tables in one flip
    pub(2L, 2.0)
    val after = both()
    assert(after._1 == after._2 && after._1.size == 2,
      s"tables diverged after the re-run: $after")
  }

  test("manifest sharding: an untouched dir's shard file is carried VERBATIM across a touched-dir publish (O(touched) bytes)") {
    val root = tmp()
    ManifestStore.append(spark, root, "b",
      df((1L, 1.0, 0), (2L, 2.0, 1), (3L, 3.0, 2)))
    val fs = graft.util.Fs.of(spark, root)
    def shardBytes(name: String): Seq[Byte] = {
      val p = new Path(root, s"_shards/$name")
      val in = fs.open(p)
      try Iterator.continually(in.read()).takeWhile(_ >= 0).map(_.toByte).toSeq
      finally in.close()
    }
    val before = ManifestStore.shardIndex(spark, root).toMap
    val beforeBytes = before.map { case (dk, s) => dk -> shardBytes(s) }
    val beforeMtime = before.map { case (dk, s) =>
      dk -> fs.getFileStatus(new Path(root, s"_shards/$s")).getModificationTime }
    // touch ONLY b=1
    ManifestStore.rewriteTouched(spark, root, "b", Seq(1), df((2L, 20.0, 1)))
    val after = ManifestStore.shardIndex(spark, root).toMap
    for (dk <- Seq("b=0", "b=2")) {
      assert(after(dk) == before(dk),
        s"untouched dir $dk got a NEW shard file on a b=1 publish")
      assert(shardBytes(after(dk)) == beforeBytes(dk), s"$dk shard bytes changed")
      assert(fs.getFileStatus(new Path(root, s"_shards/${after(dk)}"))
        .getModificationTime == beforeMtime(dk), s"$dk shard was rewritten in place")
    }
    assert(after("b=1") != before("b=1"), "touched dir kept its old shard")
    // publish write cost: exactly ONE new shard + the index file — not
    // one per dir, not one per file
    val newShards = after.values.toSet -- before.values.toSet
    assert(newShards.size == 1, s"a 1-dir publish wrote ${newShards.size} shards")
    // and the index is one line per dir (dirs), not one per file
    assert(ManifestStore.shardIndex(spark, root).size == 3)
  }

  test("index-level sharding: an untouched dir-hash RANGE's index shard is carried byte-identical across a publish; index write cost is O(touched ranges)") {
    // the byte-identity contract one level up: the manifest is
    // (bucket → index shard); a publish touching one dir rewrites ONE
    // bucket's index shard and carries every other bucket's file
    // forward verbatim — O(touched ranges) index lines, not O(dirs).
    val savedTarget = ManifestStore.indexBucketTarget
    ManifestStore.indexBucketTarget = 2 // 8 dirs → 4 buckets
    try {
      val root = tmp()
      ManifestStore.append(spark, root, "b",
        df((0 until 8).map(i => (i.toLong, i.toDouble, i)): _*))
      val fs = graft.util.Fs.of(spark, root)
      val (r0, buckets0) = ManifestStore.bucketIndex(spark, root)
      assert(r0 == 4, s"8 dirs at target 2 should bucket at R=4, got $r0")
      assert(buckets0.size >= 2, "need >=2 nonempty buckets for a carry-forward check")
      def idxBytes(name: String): Seq[Byte] = {
        val in = fs.open(new Path(root, s"_shards/$name"))
        try Iterator.continually(in.read()).takeWhile(_ >= 0).map(_.toByte).toSeq
        finally in.close()
      }
      val bytes0 = buckets0.toMap.map { case (b, s) => b -> idxBytes(s) }
      val mtime0 = buckets0.toMap.map { case (b, s) =>
        b -> fs.getFileStatus(new Path(root, s"_shards/$s")).getModificationTime }
      // touch exactly ONE dir (b=3)
      ManifestStore.rewriteTouched(spark, root, "b", Seq(3), df((3L, 30.0, 3)))
      val (r1, buckets1) = ManifestStore.bucketIndex(spark, root)
      assert(r1 == 4, "bucket count moved on a same-size publish")
      val m0 = buckets0.toMap
      val m1 = buckets1.toMap
      val touchedBucket = m0.keySet.intersect(m1.keySet)
        .filter(b => m0(b) != m1(b))
      assert(touchedBucket.size == 1,
        s"a 1-dir publish rewrote ${touchedBucket.size} index shards")
      for ((b, s) <- buckets1 if !touchedBucket.contains(b)) {
        assert(s == m0(b), s"untouched range $b got a NEW index shard")
        assert(idxBytes(s) == bytes0(b), s"untouched range $b index bytes changed")
        assert(fs.getFileStatus(new Path(root, s"_shards/$s")).getModificationTime ==
          mtime0(b), s"untouched range $b index shard rewritten in place")
      }
      // file-count assertion: the publish wrote exactly one new dir
      // shard and one new index shard into _shards
      val idxNew = buckets1.map(_._2).toSet -- buckets0.map(_._2).toSet
      assert(idxNew.size == 1, s"expected 1 new index shard, got ${idxNew.size}")
      // resolution still serves the full store
      assert(rows(root).size == 8)
      assert(rows(root).contains("[3,30.0,3]"))
      // and the bucket count GROWS once the store does: enough new
      // dirs forces a doubling, after which reads still resolve
      ManifestStore.append(spark, root, "b",
        df((8 until 20).map(i => (i.toLong, i.toDouble, i)): _*))
      val (r2, _) = ManifestStore.bucketIndex(spark, root)
      assert(r2 > r1, s"bucket count failed to grow: $r1 -> $r2")
      assert(rows(root).size == 20)
    } finally ManifestStore.indexBucketTarget = savedTarget
  }

  test("a crashed commit (manifest written, marker absent) is cleared IMMEDIATELY by the next publish — even of other partitions") {
    // the r17 ADVICE leak: files referenced only by an uncommitted
    // manifest were neither orphan-cleared nor re-listed — a permanent
    // disk leak for partitions never touched again. Now publish start
    // deletes marker-less manifests and their not-otherwise-referenced
    // files, whatever partitions they touched.
    val root = tmp()
    ManifestStore.append(spark, root, "b", df((1L, 1.0, 0)))
    ManifestStore.crashPoint = Some("commit")
    intercept[IllegalStateException] {
      ManifestStore.append(spark, root, "b", df((9L, 9.0, 5)))
    }
    ManifestStore.crashPoint = None
    // the crashed files are invisible...
    assert(rows(root) == Set("[1,1.0,0]"))
    // ...and the next publish — touching a DIFFERENT partition —
    // clears them (no b=5 file left on disk, no stale manifest)
    ManifestStore.append(spark, root, "b", df((2L, 2.0, 1)))
    assert(diskFiles(root).forall(!_.contains("b=5/")),
      "a crashed commit's files leaked on disk")
    assert(diskFiles(root).size == ManifestStore.files(spark, root).size)
    assert(rows(root) == Set("[1,1.0,0]", "[2,2.0,1]"))
  }

  test("a stalled writer whose lease was broken is FENCED: it fails before the manifest and cannot overwrite its successor's commit") {
    val root = tmp()
    ManifestStore.append(spark, root, "b", df((1L, 1.0, 0)))
    // writer A stalls just before its commit; the operator breaks the
    // lease and writer B lands a full publish. When A resumes, its
    // token no longer matches: A must fail loudly, leaving B's commit
    // untouched (A's files stay uncommitted orphans).
    ManifestStore.onBeforeCommit = Some(() => {
      ManifestStore.breakLease(spark, root)
      ManifestStore.append(spark, root, "b", df((3L, 3.0, 0))) // writer B
    })
    val e = intercept[IllegalStateException] {
      ManifestStore.append(spark, root, "b", df((2L, 2.0, 0))) // writer A
    }
    assert(e.getMessage.contains("fenced"), e.getMessage)
    // B's commit stands; A's rows never became visible
    assert(rows(root) == Set("[1,1.0,0]", "[3,3.0,0]"))
    // the store is not wedged: A's orphans are cleared by the next
    // publish and the history continues
    ManifestStore.append(spark, root, "b", df((4L, 4.0, 0)))
    assert(rows(root) == Set("[1,1.0,0]", "[3,3.0,0]", "[4,4.0,0]"))
    assert(diskFiles(root).size == ManifestStore.files(spark, root).size,
      "the fenced writer's files were never cleared")
  }

  test("crashed-commit recovery keeps untouched dirs readable from DISK: committed shards carried by the uncommitted manifest survive cleanup (cold cache)") {
    // r18 ADVICE (high): the uncommitted manifest carries untouched
    // dirs' COMMITTED shard files forward verbatim; deleting every
    // shard it names deleted files the committed manifest still
    // references. The driver-side shard cache masked it in-process —
    // so this spec clears the cache and re-reads from disk.
    val root = tmp()
    ManifestStore.append(spark, root, "b", df((1L, 1.0, 0), (2L, 2.0, 1)))
    ManifestStore.crashPoint = Some("commit")
    intercept[IllegalStateException] {
      ManifestStore.append(spark, root, "b", df((9L, 9.0, 0))) // touches only b=0
    }
    ManifestStore.crashPoint = None
    // the recovery publish (touching yet another partition) must NOT
    // delete b=1's committed shard, which the crashed manifest named
    ManifestStore.append(spark, root, "b", df((3L, 3.0, 2)))
    ManifestStore.clearShardCache()
    assert(rows(root) == Set("[1,1.0,0]", "[2,2.0,1]", "[3,3.0,2]"),
      "a committed shard was deleted by crashed-publish cleanup (visible only cold)")
  }

  test("a straggler fenced AFTER its manifest write cannot commit a marker over its successor: readers never resolve an empty store") {
    // the r18 verdict's residual window: A passes the fence, writes
    // _manifest_vN+1, stalls; the operator (mistakenly) breaks A's
    // lease; B's cleanup deletes A's uncommitted manifest and commits
    // its own vN+1. A resumes at the marker step. The re-fence between
    // manifest write and marker create fails A loudly — and even a
    // marker-without-manifest state, if ever formed, resolves to the
    // predecessor version, never to silent emptiness.
    val root = tmp()
    ManifestStore.append(spark, root, "b", df((1L, 1.0, 0)))
    ManifestStore.onBeforeMarker = Some(() => {
      ManifestStore.breakLease(spark, root)
      ManifestStore.append(spark, root, "b", df((3L, 3.0, 0))) // writer B
    })
    val e = intercept[IllegalStateException] {
      ManifestStore.append(spark, root, "b", df((2L, 2.0, 0))) // writer A
    }
    assert(e.getMessage.contains("fenced"), e.getMessage)
    // B's commit stands, A's rows never appear, the store is not empty
    assert(rows(root) == Set("[1,1.0,0]", "[3,3.0,0]"))
    // and the history continues cleanly past the fenced straggler
    ManifestStore.append(spark, root, "b", df((4L, 4.0, 0)))
    assert(rows(root) == Set("[1,1.0,0]", "[3,3.0,0]", "[4,4.0,0]"))
    assert(diskFiles(root).size == ManifestStore.files(spark, root).size)
  }

  test("a dangling marker (no manifest) is ignored by readers and cleared by the next publish — which then commits that version itself") {
    val root = tmp()
    ManifestStore.append(spark, root, "b", df((1L, 1.0, 0)))
    val fs = graft.util.Fs.of(spark, root)
    // forge the squatter state directly: _commit_v2 with no manifest
    fs.create(new Path(root, "_commit_v2"), false).close()
    assert(ManifestStore.committedVersion(fs, root) == 1,
      "a marker without a manifest was resolved as committed")
    assert(rows(root) == Set("[1,1.0,0]"), "reader resolved an empty store")
    // the next publish clears the squatter and takes v2 for itself
    ManifestStore.append(spark, root, "b", df((2L, 2.0, 0)))
    assert(ManifestStore.committedVersion(fs, root) == 2)
    assert(rows(root) == Set("[1,1.0,0]", "[2,2.0,0]"))
  }

  test("the shard cache is per-store LRU bounded: overflow evicts only the coldest entries, never a wholesale clear") {
    val saved = ManifestStore.shardCachePerStore
    ManifestStore.shardCachePerStore = 4
    try {
      val root = tmp()
      ManifestStore.append(spark, root, "b",
        df((0 until 7).map(i => (i.toLong, i.toDouble, i)): _*))
      ManifestStore.clearShardCache()
      assert(rows(root).size == 7) // reads all 7 shards through the cache
      val n = ManifestStore.shardCacheSize(root)
      assert(n == 4, s"cache not LRU-bounded at 4: size $n")
    } finally ManifestStore.shardCachePerStore = saved
  }

  test("shard GC stays bounded across a long publish history: _shards holds only the live + grace versions' files") {
    // the two-level index must not leak either LEVEL: dir shards and
    // index shards of versions older than the grace window are swept
    // at each publish, so a hot store's _shards dir stays O(dirs +
    // buckets), never O(history).
    val savedTarget = ManifestStore.indexBucketTarget
    ManifestStore.indexBucketTarget = 2
    try {
      val root = tmp()
      ManifestStore.append(spark, root, "b",
        df((0 until 8).map(i => (i.toLong, i.toDouble, i)): _*))
      val fs = graft.util.Fs.of(spark, root)
      for (k <- 1 to 10)
        ManifestStore.rewriteTouched(spark, root, "b", Seq(k % 8),
          df(((k % 8).toLong, k * 100.0, k % 8)))
      val shards = fs.listStatus(new Path(root, "_shards")).map(_.getPath.getName)
      // live + grace: at most 2 versions' worth of 8 dir shards and
      // 4 bucket index shards each
      assert(shards.length <= 2 * (8 + 4),
        s"_shards leaked to ${shards.length} files after 11 publishes: " +
          shards.sorted.mkString(", "))
      // every shard still on disk is referenced by the live or grace
      // manifest (nothing unreachable is retained)
      assert(rows(root).size == 8)
    } finally ManifestStore.indexBucketTarget = savedTarget
  }

  test("a reader looping snapshots through publishes that DOUBLE the bucket count never sees a torn or empty store") {
    // the index-growth step rewrites every range in one publish; a
    // concurrent reader must resolve either the old R or the new R —
    // never a mixture, never emptiness.
    val savedTarget = ManifestStore.indexBucketTarget
    ManifestStore.indexBucketTarget = 2
    try {
      val root = tmp()
      ManifestStore.append(spark, root, "b", df((0L, 0.0, 0)))
      @volatile var stop = false
      val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val reader = new Thread(() => {
        while (!stop) {
          // a single read may span >grace publishes and lose its files
          // to GC — the documented remedy is re-resolving, so retry;
          // only a read that fails repeatedly (or returns a non-prefix
          // state) is a protocol violation
          var attempt = 0
          var done = false
          while (!done && attempt < 3) {
            attempt += 1
            try {
              val got = rows(root)
              // every committed state is a dense prefix {0..n-1} of
              // the appended rows — anything else is a torn read
              if (got.isEmpty) bad.add("EMPTY")
              else {
                val n = got.size
                val want = (0 until n).map(i => s"[$i,${i.toDouble},$i]").toSet
                if (got != want) bad.add(s"torn: $got")
              }
              done = true
            } catch {
              case e: Throwable =>
                if (attempt >= 3) bad.add(s"threw repeatedly: ${e.getMessage}")
            }
          }
        }
      })
      reader.start()
      // grow 1 → 24 dirs: R doubles 1→2→4→8→16 along the way
      for (i <- 1 until 24)
        ManifestStore.append(spark, root, "b", df((i.toLong, i.toDouble, i)))
      stop = true
      reader.join()
      assert(bad.isEmpty, s"reader observations: ${bad.toArray.take(5).mkString("; ")}")
      val (r, _) = ManifestStore.bucketIndex(spark, root)
      assert(r >= 8, s"bucket count never grew: $r")
      assert(rows(root).size == 24)
    } finally ManifestStore.indexBucketTarget = savedTarget
  }

  test("a 1-dir publish on a many-dir store reads O(touched) shard files COLD: driver-side publish cost is never O(store)") {
    // r19 verdict item 1: publishOps used to materialize `referenced`
    // (every committed version's full file list) and `curByDir` (every
    // dir's shard contents) — O(store) driver-side reads per publish on
    // a cold driver (the one-JVM-per-trigger production cadence). Now
    // orphan protection resolves per touched dir, untouched index
    // ranges are carried without being read, and GC diffs the expiring
    // version against the live one at shard level. This spec counts
    // ACTUAL shard disk reads through the cold cache.
    val savedTarget = ManifestStore.indexBucketTarget
    ManifestStore.indexBucketTarget = 2
    try {
      val root = tmp()
      // 64 dirs → 32 index buckets at target 2
      ManifestStore.append(spark, root, "b",
        df((0 until 64).map(i => (i.toLong, i.toDouble, i)): _*))
      // two steady-state 1-dir publishes so the store carries the full
      // grace history (v-1 and v) a live trigger stream always has
      ManifestStore.rewriteTouched(spark, root, "b", Seq(7), df((7L, 700.0, 7)))
      ManifestStore.rewriteTouched(spark, root, "b", Seq(9), df((9L, 900.0, 9)))
      ManifestStore.clearShardCache()
      ManifestStore.shardDiskReads.set(0)
      ManifestStore.rewriteTouched(spark, root, "b", Seq(3), df((3L, 300.0, 3)))
      val reads = ManifestStore.shardDiskReads.get()
      // O(touched): orphan-protection lookups (≤ 2 versions × (index +
      // dir shard)) + the touched range's index shard + the GC diff of
      // the expiring version's one replaced range. 64 dirs would read
      // ≥ 96 shards under the old O(store) path.
      assert(reads <= 12,
        s"cold 1-dir publish read $reads shard files on a 64-dir store " +
          "(O(store) regression; O(touched) is <= 12)")
      info(s"cold 1-dir publish on a 64-dir store: $reads shard disk reads")
      // and the store still serves the full, correct state — cold
      ManifestStore.clearShardCache()
      assert(rows(root).size == 64)
      assert(rows(root).contains("[3,300.0,3]"))
      assert(rows(root).contains("[7,700.0,7]"))
      assert(rows(root).contains("[9,900.0,9]"))
    } finally ManifestStore.indexBucketTarget = savedTarget
  }

  test("the root-level cache map is LRU-bounded: ephemeral stores do not accumulate per-root caches forever") {
    val saved = ManifestStore.shardCacheRoots
    ManifestStore.shardCacheRoots = 2
    try {
      ManifestStore.clearShardCache()
      val roots = (1 to 4).map { i =>
        val r = tmp()
        ManifestStore.append(spark, r, "b", df((i.toLong, i.toDouble, 0)))
        r
      }
      roots.foreach(r => assert(rows(r).nonEmpty))
      assert(ManifestStore.cachedRootCount <= 2,
        s"root cache map not bounded: ${ManifestStore.cachedRootCount} roots")
      // eviction is transparent: an evicted root simply re-reads disk
      assert(rows(roots.head) == Set("[1,1.0,0]"))
    } finally ManifestStore.shardCacheRoots = saved
  }

  test("cleanup is idempotent: a half-cleaned uncommitted manifest (its shards already deleted) cannot wedge the next publish") {
    // ADVICE r19: a crash after deleting an uncommitted manifest's
    // shard files but before the manifest itself used to make the next
    // publish throw FileNotFoundException on a cold JVM — blocking all
    // future publishes. Uncommitted (and below-grace) manifest reads
    // are now missing-tolerant, so the re-run converges.
    val root = tmp()
    ManifestStore.append(spark, root, "b", df((1L, 1.0, 0)))
    ManifestStore.crashPoint = Some("commit")
    intercept[IllegalStateException] {
      ManifestStore.append(spark, root, "b", df((9L, 9.0, 5)))
    }
    ManifestStore.crashPoint = None
    // simulate the half-cleaned state: the uncommitted v2 manifest's
    // own shards are gone, the manifest file itself survives
    val fs = graft.util.Fs.of(spark, root)
    for (s <- fs.listStatus(new Path(root, "_shards")).map(_.getPath.getName)
        if s.contains("_v2_"))
      fs.delete(new Path(root, s"_shards/$s"), false)
    ManifestStore.clearShardCache()
    // must not throw, and must land the publish cleanly
    ManifestStore.append(spark, root, "b", df((2L, 2.0, 1)))
    ManifestStore.clearShardCache()
    assert(rows(root) == Set("[1,1.0,0]", "[2,2.0,1]"))
  }

  test("incremental compaction rewrites ONLY hot dirs: O(touched) data work + O(index buckets) metadata on a many-dir store; a compact store publishes nothing") {
    // r20 verdict item 2: compactOp was a whole-table replace — every
    // dir read and rewritten, and the O(store) stranded-shard sweep
    // rode every scheduled compaction. Index lines now carry per-dir
    // file counts (LayoutVersion 5), so the sweep selects hot dirs
    // from index metadata alone and rewrites only them.
    val savedTarget = ManifestStore.indexBucketTarget
    ManifestStore.indexBucketTarget = 2
    try {
      val root = tmp()
      // 16 dirs → 8 index buckets at target 2; all single-file
      ManifestStore.append(spark, root, "b",
        df((0 until 16).map(i => (i.toLong, i.toDouble, i)): _*))
      // make dir b=3 hot: two more appends → 3 files
      ManifestStore.append(spark, root, "b", df((103L, 103.0, 3)))
      ManifestStore.append(spark, root, "b", df((203L, 203.0, 3)))
      val before = rows(root)
      val coldBefore = diskFiles(root).filterNot(_.contains("b=3/"))
      ManifestStore.clearShardCache()
      ManifestStore.shardDiskReads.set(0)
      ManifestStore.compact(spark, root, "b", Seq("id"), schema)
      val reads = ManifestStore.shardDiskReads.get()
      // hot-dir scan reads the 8 index shards; the write + commit + GC
      // touch only b=3's shards (plus grace diffs) — never all 16 dirs
      assert(reads <= 16,
        s"incremental compaction read $reads shards on a 16-dir store " +
          "(O(store) regression; O(buckets + touched) is <= 16)")
      info(s"1-hot-dir compaction on a 16-dir store: $reads shard disk reads")
      // result-invisible, hot dir collapsed, cold dirs byte-identical
      assert(rows(root) == before)
      val byPart = ManifestStore.files(spark, root).groupBy(_.takeWhile(_ != '/'))
      assert(byPart("b=3").size == 1, s"hot dir not collapsed: ${byPart("b=3")}")
      assert(diskFiles(root).filterNot(_.contains("b=3/")) == coldBefore,
        "an already-compact dir was rewritten by the incremental sweep")
      // a fully compact table publishes NOTHING: no version bump
      val fs = graft.util.Fs.of(spark, root)
      val v = ManifestStore.committedVersion(fs, root)
      ManifestStore.compact(spark, root, "b", Seq("id"), schema)
      assert(ManifestStore.committedVersion(fs, root) == v,
        "a no-op compaction bumped the version")
      assert(rows(root) == before)
    } finally ManifestStore.indexBucketTarget = savedTarget
  }

  test("stranded shards: the per-trigger path never pays the O(store) sweep; sweepStrandedShards and growth publishes collect the residue") {
    // ADVICE r20 #2: crash residue stranded between a fence and a
    // manifest write is referenced by NO manifest. Partition-scoped
    // publishes must NOT pay an O(store) sweep for it; the explicit
    // operator call (and the already-O(store) growth step) collects it.
    val root = tmp()
    ManifestStore.append(spark, root, "b", df((1L, 1.0, 0), (2L, 2.0, 1)))
    val fs = graft.util.Fs.of(spark, root)
    val stranded = new Path(root, "_shards/b=9_v99_deadbeef.list")
    val out = fs.create(stranded, false)
    out.write("b=9/ghost.parquet".getBytes("UTF-8")); out.close()
    // a partition-scoped publish leaves it (no O(store) sweep rides it)
    ManifestStore.append(spark, root, "b", df((3L, 3.0, 0)))
    assert(fs.exists(stranded), "a partition-scoped publish paid the O(store) sweep")
    // the explicit deep-clean collects it and touches nothing live
    val before = rows(root)
    ManifestStore.sweepStrandedShards(spark, root)
    assert(!fs.exists(stranded), "sweepStrandedShards missed the stranded shard")
    ManifestStore.clearShardCache()
    assert(rows(root) == before, "the sweep deleted a referenced shard")
  }

  test("dynamic partition pruning reaches a manifest-read scan joined on its partition column") {
    val root = tmp()
    ManifestStore.append(spark, root, "b",
      df((1L, 1.0, 0), (2L, 2.0, 1), (3L, 3.0, 2), (4L, 4.0, 3)))
    import spark.implicits._
    val dimRoot = tmp() + "/dim"
    Seq((1, "keep"), (2, "drop"), (3, "drop"), (0, "drop"))
      .toDF("b", "tag").write.parquet(dimRoot)
    val dim = spark.read.parquet(dimRoot).where(col("tag") === "keep")
    val joined = ManifestStore.read(spark, root, schema)
      .join(broadcast(dim), Seq("b"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      "no dynamic partition pruning on the manifest scan:\n" + plan.take(2000))
    assert(joined.collect().map(_.getLong(1)).toSet == Set(2L))
  }

  test("only the written layout is read: a headerless manifest, a count-less header or a 2-field index line fails loudly, and sweepStrandedShards then deletes no file") {
    def allFiles(root: String): Set[String] = {
      val fs = graft.util.Fs.of(spark, root)
      val b = Set.newBuilder[String]
      val it = fs.listFiles(new Path(root), true)
      while (it.hasNext) b += it.next().getPath.toString
      b.result()
    }
    def rewrite(root: String, rel: String)(f: Seq[String] => Seq[String]): Unit = {
      val fs = graft.util.Fs.of(spark, root)
      val p = new Path(root, rel)
      val in = fs.open(p)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      val out = fs.create(p, true)
      try out.write(f(lines).mkString("\n").getBytes("UTF-8")) finally out.close()
    }
    def store(): String = {
      val root = tmp()
      ManifestStore.append(spark, root, "b", df((1L, 1.0, 0), (2L, 2.0, 1)))
      root
    }
    // single-level manifest: (dirKey → dir shard) lines, no header
    val headerless = store()
    val dirLines = ManifestStore.shardIndex(spark, headerless)
      .map { case (dk, s) => s"$dk\t$s" }
    rewrite(headerless, "_manifest_v1")(_ => dirLines)
    // a header without the dir count
    val countless = store()
    rewrite(countless, "_manifest_v1")(ls => ls.head.split('\t').take(2).mkString("\t") +: ls.tail)
    // index lines without the per-dir file count
    val twoField = store()
    val (_, buckets) = ManifestStore.bucketIndex(spark, twoField)
    rewrite(twoField, s"_shards/${buckets.head._2}")(
      _.map(_.split('\t').take(2).mkString("\t")))
    for ((root, what) <- Seq(headerless -> "manifest header",
        countless -> "manifest header", twoField -> "index line")) {
      ManifestStore.clearShardCache()
      val e = intercept[IllegalArgumentException](ManifestStore.files(spark, root))
      assert(e.getMessage.contains(s"unsupported $what layout"), e.getMessage)
      val before = allFiles(root)
      intercept[IllegalArgumentException](ManifestStore.sweepStrandedShards(spark, root))
      assert(allFiles(root) == before, s"the sweep deleted files of an unreadable store ($what)")
    }
  }

  test("a manifest torn by a crash inside its write (empty, no marker) is dropped by the next publish") {
    val root = tmp()
    ManifestStore.append(spark, root, "b", df((1L, 1.0, 0)))
    val fs = graft.util.Fs.of(spark, root)
    fs.create(new Path(root, "_manifest_v2"), false).close() // created, never written
    ManifestStore.clearShardCache()
    ManifestStore.append(spark, root, "b", df((2L, 2.0, 1)))
    assert(ManifestStore.committedVersion(fs, root) == 2)
    assert(rows(root) == Set("[1,1.0,0]", "[2,2.0,1]"))
  }

  test("cold resolution of a root holding ',' and '[' equals the warm file list") {
    val root = tmp() + "/a,b[1]"
    ManifestStore.append(spark, root, "b",
      df((0 until 24).map(i => (i.toLong, i.toDouble, i)): _*))
    val warmFiles = ManifestStore.files(spark, root)
    ManifestStore.clearShardCache()
    val coldFiles = ManifestStore.files(spark, root)
    assert(warmFiles.size == 24)
    assert(coldFiles == warmFiles, "cold pool resolution differs from the warm file list")
  }
}
