package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (heavy to boot; ScalaTest runs
  * suites in one JVM here). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Sessions.builder()
      .appName("graft-tests")
      // static conf: saveAsTable targets (BucketingSpec) land in a temp dir
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"

  /** Flavor-tolerant timestamp read: TIMESTAMP collects as
    * java.sql.Timestamp, TIMESTAMP_NTZ as java.time.LocalDateTime — specs
    * comparing event times must accept both (session tz is pinned UTC, so
    * the NTZ wall-clock and the instant agree). */
  def tsAt(r: org.apache.spark.sql.Row, i: Int): java.sql.Timestamp = r.get(i) match {
    case t: java.sql.Timestamp => t
    // interpret the NTZ wall-clock in the pinned session zone (UTC), NOT
    // the JVM default zone (Timestamp.valueOf would) — otherwise a
    // non-UTC host skews NTZ reads against TimestampType reads
    case ldt: java.time.LocalDateTime =>
      java.sql.Timestamp.from(ldt.toInstant(java.time.ZoneOffset.UTC))
    case inst: java.time.Instant => java.sql.Timestamp.from(inst)
    case other => throw new IllegalArgumentException(
      s"column $i is not a timestamp: $other (${if (other == null) "null" else other.getClass})")
  }
}
