package graft

import graft.sources.HiveStore
import org.apache.spark.sql.functions._

class HiveStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_hs_$tag").toString + "/store"
    val df = Seq(
      ("raw", "c1", "p1", 2024, "005", 1L, 1.0), ("raw", "c1", "p1", 2024, "005", 2L, 2.0),
      ("raw", "c1", "p1", 2024, "040", 3L, 3.0),
      ("5s", "c1", "p1", 2024, "005", 4L, 4.0),
      ("raw", "c2", "p1", 2024, "100", 5L, 5.0)
    ).toDF("tier", "context", "path", "year", "day", "id", "value")
    HiveStore.write(df, dir)
    dir
  }

  test("retentionSweep deletes only partitions older than the tier cutoff, day-granular") {
    val dir = freshStore("retention")
    // "now" = 2024 day 41 at 18:00 UTC; raw retention 1 day →
    // cutoff = day 40 midnight: day 005 deleted, day 040 kept (its day
    // start == cutoff, not older), 5s tier untouched (no rule)
    val nowMs = java.time.LocalDate.ofYearDay(2024, 41)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli + 18 * 3600 * 1000L
    val deleted = HiveStore.retentionSweep(spark, dir, Map("raw" -> 1), nowMs)
    assert(deleted.exists(_.contains("day=005")), deleted.mkString(","))
    assert(!deleted.exists(_.contains("day=040")))
    assert(!deleted.exists(_.contains("tier=5s")))
    val remaining = HiveStore.read(spark, dir).select("id").as[Long].collect().toSet
    assert(remaining == Set(3L, 4L, 5L))
  }

  test("read returns string partition values even with type inference scoped on") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hs_strings").toString + "/store"
    HiveStore.write(Seq(("raw", "c1", "p1", "2024", "003", 1L))
      .toDF("tier", "context", "path", "year", "day", "id"), dir)
    val back = graft.util.Confs.withConfs(spark,
      "spark.sql.sources.partitionColumnTypeInference.enabled" -> "true") {
      HiveStore.read(spark, dir).select("year", "day").as[(String, String)].collect().toSeq
    }
    assert(back == Seq(("2024", "003")))
  }

  test("gpx parser extracts speed and converts course to radians") {
    val xml = """<gpx><trk><trkseg><trkpt lat="40.0" lon="-73.0">
      |<time>2024-01-01T00:00:00.000Z</time><speed>5.5</speed><course>90.0</course>
      |</trkpt></trkseg></trk></gpx>""".stripMargin
    val r = graft.sources.Gpx.parseTrkpts(Seq(xml).toDF("gpx"), "gpx").head()
    assert(r.getAs[Double]("speed") == 5.5)
    assert(math.abs(r.getAs[Double]("course_rad") - math.Pi / 2) < 1e-12)
  }
}
