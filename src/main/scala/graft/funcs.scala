package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Column-level building blocks shared across operators.
  *
  * Cross-engine determinism: the driver hash-compares our results
  * against a DuckDB oracle, so float aggregates must be bit-stable
  * across engines and partition orders. Two rules:
  *
  *  1. Plain sums/averages of data columns go through an exact
  *     DECIMAL accumulator and are cast back to DOUBLE at the end
  *     ([[dsum]]/[[davg]]) — decimal addition is associative, so the
  *     result is independent of partition order and identical in any
  *     engine.
  *  2. Outputs of transcendental functions (sin, atan2, haversine…)
  *     are rounded ([[r6]]) far above the ~1-ulp disagreement between
  *     libm implementations.
  */
object funcs {

  /** Exact sum: accumulate as DECIMAL(18,scale), emit DOUBLE. */
  def dsum(c: Column, scale: Int = 6): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Exact average built from [[dsum]] / count (double division of
    * identical operands is deterministic). */
  def davg(c: Column, scale: Int = 6): Column =
    dsum(c, scale) / count(c)

  /** Cross-engine deterministic 6-dp rounding of a DOUBLE: round the
    * SCALED value at scale 0, divide back — exactly DuckDB's
    * ROUND(x, 6) (std::round(x*1e6)/1e6). Scale-0 rounding of a
    * double is unambiguous: a shortest decimal repr of "X.5" is only
    * emitted when the binary value IS exactly X.5 (X.5 is
    * representable for X < 2^52), and for non-ties the shortest repr
    * and the binary value sit on the same side of the boundary — so
    * Spark's BigDecimal HALF_UP at scale 0 ≡ C's std::round. Spark's
    * one-step round(x, 6) instead rounds the shortest DECIMAL repr at
    * scale 6, which disagrees with DuckDB whenever the binary value
    * and the repr straddle a 6th-decimal …5 strand — measured at
    * sf0.1: sk_weather_impact avg_speed 32.074167 (Spark) vs
    * 32.074166 (DuckDB; 32.0741665 the repr, 32.07416649999…96 the
    * binary). Exact for |x| ≤ 2^53/1e6 ≈ 9.0e9. */
  def r6(c: Column): Column = round(c * lit(1e6), 0) / lit(1e6)

  /** [[r6]] at another scale (3 for millimeter distances, 1 for
    * tenth-of-ms medians). 10^digits must be exactly representable —
    * true for any digits ≤ 22. */
  def rN(c: Column, digits: Int): Column = {
    val p = math.pow(10, digits)
    round(c * lit(p), 0) / lit(p)
  }

  /** Millisecond time bucket over an epoch-millis BIGINT column:
    * FLOOR(ts_ms / res) * res — mirrors the reference's bucketing
    * (HistoryAPI.ts:826). Emitted as BIGINT so the value hashes
    * identically across engines. */
  def bucketOfMs(tsMs: Column, resolutionMs: Long): Column =
    floor(tsMs / lit(resolutionMs)).cast("long") * lit(resolutionMs)

  /** Synthetic deterministic position derived from a numeric series —
    * used to exercise the reference's geo operators on the testdata
    * (which has no lat/lon columns). Linear, so both engines agree
    * bit-for-bit. */
  def synthLat(value: Column): Column = lit(40.0) + value * lit(0.001)
  def synthLon(value: Column): Column = lit(-74.0) + value * lit(0.002)

  /** Haversine distance in meters, R=6371000 — mirrors
    * geo-calculator.ts:calculateDistance. Inputs in degrees. */
  def haversineM(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1) / 2
    val dLon = radians(lon2 - lon1) / 2
    val a = pow(sin(dLat), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon), 2)
    lit(2.0 * 6371000.0) * asin(sqrt(a))
  }

  /** Initial bearing in degrees 0-360 — mirrors
    * geo-calculator.ts:calculateBearing. */
  def bearingDeg(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val p1 = radians(lat1); val p2 = radians(lat2)
    val dl = radians(lon2 - lon1)
    val y = sin(dl) * cos(p2)
    val x = cos(p1) * sin(p2) - sin(p1) * cos(p2) * cos(dl)
    pmod(degrees(atan2(y, x)) + lit(360.0), lit(360.0))
  }

  /** Vector (circular) average of an angle-in-radians column:
    * ATAN2(AVG(SIN(x)), AVG(COS(x))) — mirrors HistoryAPI.ts:2550.
    * sin/cos are quantized to 1e-6 before the exact-decimal average so
    * both engines feed identical operands to atan2. */
  def vectorAvg(c: Column): Column =
    atan2(davg(round(sin(c), 6), 6), davg(round(cos(c), 6), 6))

  /** Shortest signed angular difference a1→a2 in degrees, range
    * [-180, 180) — angle-converter.ts:angularDifferenceDegrees
    * (positive = clockwise). The reference's while-loop leaves an
    * exact +180 as +180; this closed form maps it to -180 — same
    * heading, and branch-free for codegen. */
  def angularDiffDeg(a1: Column, a2: Column): Column =
    pmod(a2 - a1 + lit(180.0), lit(360.0)) - lit(180.0)

  /** Bounding-box containment with 180° meridian wrap — mirrors
    * geo-calculator.ts:isPointInBoundingBox. */
  def inBbox(lat: Column, lon: Column,
             west: Double, south: Double, east: Double, north: Double): Column = {
    val latOk = lat >= south && lat <= north
    val lonOk =
      if (west <= east) lon >= west && lon <= east
      else lon >= west || lon <= east
    latOk && lonOk
  }
}
