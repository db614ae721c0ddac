package graft

/** The suite's shared session comes from `Engine.session`, so every
  * spec runs under the confs production sessions get — the parquet
  * timestamp pins, the codegen limits and the AQE coalesce floor.
  */
class SessionParitySpec extends SparkSpec {

  test("shared test session carries Engine's conf values") {
    val engine = Engine.confs(4)
    Seq(
      "spark.sql.session.timeZone",
      "spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.parquet.inferTimestampNTZ.enabled",
      "spark.sql.parquet.outputTimestampType",
      "spark.sql.codegen.hugeMethodLimit",
      "spark.sql.codegen.cache.maxEntries",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    ).foreach { k =>
      assert(spark.conf.getOption(k) == Some(engine(k)), k)
    }
  }
}
