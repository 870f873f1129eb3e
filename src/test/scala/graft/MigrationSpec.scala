package graft

import graft.sources.{Export, HiveStore, Migration}
import org.apache.spark.sql.functions._

class MigrationSpec extends SparkSpec {
  import spark.implicits._

  private def flatStore(tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_mig_$tag").toString + "/flat"
    val df = Seq(
      (1L, 10L, 1704110400000L, 1.5, "vessels__urn-10", "click"),
      (2L, 10L, 1704110400000L, 2.5, "vessels__urn-10", "click"),
      (3L, 10L, 1704283200000L, 3.5, "vessels__urn-10", "click"), // different day
      (4L, 11L, 1704110400000L, 4.5, "vessels__urn-11", "error")
    ).toDF("event_id", "user_id", "ts_ms", "value", "context", "path")
    Migration.writeFlat(df, dir)
    dir
  }

  test("migrate derives identity from file paths and time partitions from records") {
    val flat = flatStore("derive")
    val target = java.nio.file.Files.createTempDirectory("graft_mig_t1").toString + "/store"
    val appended = Migration.migrate(spark, flat, target)
    assert(appended == 4L)
    val back = HiveStore.read(spark, target)
    val parts = back.select("tier", "context", "path", "year", "day").distinct()
      .as[(String, String, String, String, String)].collect().toSet
    assert(parts == Set(
      ("raw", "vessels__urn-10", "click", "2024", "001"),
      ("raw", "vessels__urn-10", "click", "2024", "003"),
      ("raw", "vessels__urn-11", "error", "2024", "001")))
    assert(back.count() == 4L)
  }

  test("re-running a migration appends nothing (idempotent resume)") {
    val flat = flatStore("resume")
    val target = java.nio.file.Files.createTempDirectory("graft_mig_t2").toString + "/store"
    assert(Migration.migrate(spark, flat, target) == 4L)
    assert(Migration.migrate(spark, flat, target) == 0L)
    assert(HiveStore.read(spark, target).count() == 4L)
  }

  test("a partial target only receives the missing partitions") {
    val flat = flatStore("partial")
    val target = java.nio.file.Files.createTempDirectory("graft_mig_t3").toString + "/store"
    Migration.migrate(spark, flat, target)
    // drop one partition from the target, then resume: only that
    // partition's rows come back
    val gone = new java.io.File(s"$target/tier=raw/context=vessels__urn-11")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(gone)
    assert(Migration.migrate(spark, flat, target) == 1L)
    assert(HiveStore.read(spark, target).count() == 4L)
  }

  test("csv and json exports round-trip values, quoting and nulls") {
    val out = java.nio.file.Files.createTempDirectory("graft_exp").toString
    val df = Seq(
      (1L, 1L, 1704110400000L, Option(0.0001), Option("""{"k": 69, "s": "a,b\"c"}""")),
      (2L, 1L, 1704110400000L, Option(-1.5e-7), None),
      (3L, 2L, 1704110400000L, None, Option("{}"))
    ).toDF("event_id", "user_id", "ts_ms", "value", "props")
    Export.exportFormats(df, out)
    val schema = df.schema
    val csvBack = spark.read.schema(schema).option("header", "true").csv(s"$out/csv")
      .orderBy("event_id").collect()
    val jsonBack = spark.read.schema(schema).json(s"$out/json")
      .orderBy("event_id").collect()
    val orig = df.orderBy("event_id").collect()
    assert(csvBack.toSeq == orig.toSeq)
    assert(jsonBack.toSeq == orig.toSeq)
  }
}
