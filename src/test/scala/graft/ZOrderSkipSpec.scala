package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Empirical proof of the z-order layout claim (SURVEY §2 22c): with
  * identical data and an identical bbox predicate, a zkey-sorted
  * layout lets the parquet reader skip row groups on BOTH lat and lon
  * min/max stats, while a time-sorted layout cannot. Measured via the
  * scan node's numOutputRows — rows delivered from surviving row
  * groups BEFORE Spark's row-level Filter. */
class ZOrderSkipSpec extends SparkSpec {

  private def scanRows(df: DataFrame): Long = {
    // execute THIS plan instance (df.count() would plan a separate
    // aggregate whose metrics this handle never sees)
    val plan = df.queryExecution.executedPlan
    plan.execute().count()
    plan.collect { case s: FileSourceScanExec => s }
      .map(_.metrics("numOutputRows").value).sum
  }

  test("z-ordered layout skips row groups a time-sorted layout reads") {
    val out = graft.util.Fs.scratch("hive_store_")
    val keyed = graft.spatial.Spatial.zorderKeys(spark, "/root/testdata/sf0.01")
      .select("event_id", "lat", "lon", "zkey")
    // tiny row groups so a ~2k-row table has many prunable units
    keyed.orderBy("zkey").coalesce(1)
      .write.option("parquet.block.size", 16384).mode("overwrite")
      .parquet(s"$out/bylat_z")
    keyed.orderBy(rand(42)).coalesce(1)
      .write.option("parquet.block.size", 16384).mode("overwrite")
      .parquet(s"$out/shuffled")
    val bbox = (d: DataFrame) => d.where(
      col("lat").between(40.05, 40.08) && col("lon").between(-73.90, -73.84))
    val zRows = scanRows(bbox(spark.read.parquet(s"$out/bylat_z")))
    val sRows = scanRows(bbox(spark.read.parquet(s"$out/shuffled")))
    val answerZ = bbox(spark.read.parquet(s"$out/bylat_z")).count()
    val answerS = bbox(spark.read.parquet(s"$out/shuffled")).count()
    assert(answerZ == answerS && answerZ > 0) // same answer either way
    // the z layout's scan must deliver strictly fewer rows (skipped groups)
    assert(zRows < sRows, s"z-scan=$zRows shuffled-scan=$sRows")
  }
}
