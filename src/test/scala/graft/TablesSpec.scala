package graft

/** Loader guards: the events NTZ→TIMESTAMP cast is only value-exact
  * under a UTC session, so a mis-pinned session must fail loudly
  * (ADVICE r7) instead of silently shifting every timestamp.
  */
class TablesSpec extends SparkSpec {

  test("events load under a non-UTC session fails loudly on NTZ fixtures") {
    // synthesize an NTZ-typed events fixture: the same parquet
    // TIMESTAMP(MICROS, isAdjustedToUTC=false) type the shipped sf dirs
    // carry, written here so the test owns its input
    val dir = "/tmp/graft_ntz_fixture"
    spark.range(3)
      .selectExpr("id AS event_id", "timestamp_ntz'2024-01-01 00:00:00' AS ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val e = intercept[IllegalArgumentException] {
        Tables.table(spark, dir, "events")
      }
      assert(e.getMessage.contains("UTC"))
      // and the same load under UTC succeeds
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      assert(Tables.table(spark, dir, "events").count() === 3)
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
    // a load changes none of the caller's session settings (it used to
    // switch spark.sql.legacy.parquet.nanosAsLong on for every later read)
    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.session.timeZone", "UTC")
    val before = fresh.conf.getAll
    assert(Tables.table(fresh, dir, "events").count() === 3)
    assert(fresh.conf.getAll === before)
  }
}
