package graft

import graft.sources.Quarantine

class QuarantineSpec extends SparkSpec {
  import spark.implicits._

  test("validation quarantines corrupt files with a log entry; a clean re-sweep moves nothing") {
    val root = java.nio.file.Files.createTempDirectory("graft_q_spec").toString
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").repartition(1)
      .write.parquet(s"$root/good")
    Seq((3L, 3.0)).toDF("id", "v").repartition(1)
      .write.parquet(s"$root/bad")
    val victim = new java.io.File(s"$root/bad").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val ch = java.nio.file.Files.newByteChannel(victim.toPath,
      java.nio.file.StandardOpenOption.WRITE)
    ch.truncate(60); ch.close()
    assert(Quarantine.validateAndQuarantine(spark, root) == 1)
    // the corrupt file moved under quarantine/ preserving its subpath
    assert(new java.io.File(s"$root/quarantine/bad").listFiles()
      .exists(_.getName.endsWith(".parquet")))
    assert(!victim.exists())
    // the log carries the reference's fields
    val log = java.nio.file.Files.readString(
      new java.io.File(s"$root/quarantine/quarantine.log").toPath)
    assert(log.contains("\"reason\"") && log.contains("\"fileSize\""))
    // idempotent: the surviving good file passes, quarantine/ is skipped
    assert(Quarantine.validateAndQuarantine(spark, root) == 0)
    // read-around still sees the good rows only
    val rows = spark.read.parquet(
      graft.sources.BufferUnion.eligibleFiles(spark, root): _*).count()
    assert(rows == 2)
  }

  test("files under a dir no reader scans (failed/) are neither validated nor moved") {
    val root = graft.util.Fs.scratch("q_spec")
    Seq((1L, 1.0)).toDF("id", "v").repartition(1).write.parquet(s"$root/good")
    Seq((2L, 2.0)).toDF("id", "v").repartition(1).write.parquet(s"$root/failed/day=1")
    val skipped = new java.io.File(s"$root/failed/day=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val ch = java.nio.file.Files.newByteChannel(skipped.toPath,
      java.nio.file.StandardOpenOption.WRITE)
    ch.truncate(60); ch.close()
    assert(Quarantine.validateAndQuarantine(spark, root) == 0)
    assert(skipped.exists())
    assert(!new java.io.File(s"$root/quarantine").exists())
  }
}
