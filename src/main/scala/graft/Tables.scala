package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftSchemaBridge

/** Loaders for the driver corpus (TESTDATA.md): a TPC-H-ish star schema plus
  * `events` (stream-shaped), `documents` and `embeddings` (LLM-pipeline
  * fixtures). One parquet file per table under the scale-factor directory.
  *
  * All engine queries read through here so that file layout decisions
  * (predicate pushdown, `ReadSchema` pruning) are centralized: callers
  * `select`/`filter` immediately after `apply` and Catalyst pushes both into
  * the parquet scan. Each table reads with the schema its footer gives on
  * the driver, so opening one starts no Spark job.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // engine planner surface (rank-limit rewrite, TopKPerGroup strategy,
    // SQL functions) rides in on the corpus chokepoint so driver-built
    // sessions get it without builder cooperation; idempotent per session
    graft.plans.GraftRuntime.ensure(spark)
    if (name == "events") {
      // Some corpus generations write events.ts as parquet TIMESTAMP(NANOS),
      // which Spark's vectorized reader rejects; others write TIMESTAMP(MICROS),
      // which reads natively. Handle both: read nanos as raw longs and
      // re-expose micros, pass native timestamps through untouched.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = read(spark, s"$sfDir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts",
            org.apache.spark.sql.functions.timestamp_micros(
              org.apache.spark.sql.functions.expr("ts DIV 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // Engine contract is session-zoned TimestampType (UTC session);
          // NTZ wall-clock → identical epoch micros under UTC.
          raw.withColumn("ts",
            org.apache.spark.sql.functions.col("ts")
              .cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw
      }
    } else read(spark, s"$sfDir/$name.parquet")
  }

  private def read(spark: SparkSession, path: String): DataFrame = {
    val reader = spark.read
    GraftSchemaBridge.parquetSchema(spark, path).fold(reader)(reader.schema).parquet(path)
  }
}
