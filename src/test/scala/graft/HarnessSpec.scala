package graft

/** Every entry point builds its session from Harness, so its conf list
  * is what the oracle comparison runs under — pin it to the confs
  * Verify has always used. */
class HarnessSpec extends SparkSpec {

  test("the shared conf list is Verify's: extensions, UTC, one partition per core, no UI") {
    assert(Harness.confs(6).toMap === Map(
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.shuffle.partitions" -> "6",
      "spark.ui.enabled" -> "false"))
    assert(Harness.confs(6).size === 4, "no duplicate keys")
  }

  test("confs Bench used to set explicitly are the session defaults") {
    // Bench's builder also set these two; the shared list relies on
    // Spark's defaults matching them
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.parquet.int96RebaseModeInRead") === "CORRECTED")
  }
}
