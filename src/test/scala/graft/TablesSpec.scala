package graft

import org.apache.spark.JobCounter
import org.apache.spark.sql.execution.datasources.parquet.GraftSchemaBridge

/** Opening a corpus table starts no Spark job: `Tables` reads with the
  * schema the driver resolves from the parquet footer, and that schema is
  * exactly the one Spark's own footer job would infer. */
class TablesSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("the driver-resolved parquet schema equals Spark's inferred one for every corpus table") {
    // the two converter confs a footer answers differently to; Tables
    // itself sets nanosAsLong, so every later read sees it on
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try {
      for (binaryAsString <- Seq("false", "true"); t <- Tables.all) {
        spark.conf.set("spark.sql.parquet.binaryAsString", binaryAsString)
        val p = s"$sfDir/$t.parquet"
        assert(GraftSchemaBridge.parquetSchema(spark, p) ===
          Some(spark.read.parquet(p).schema), s"$t, binaryAsString=$binaryAsString")
      }
    } finally spark.conf.unset("spark.sql.parquet.binaryAsString")
  }

  test("Tables(spark, dir, t).schema starts no Spark job") {
    for (t <- Tables.all) {
      val (_, jobs) = JobCounter.jobs(spark)(Tables(spark, sfDir, t).schema)
      assert(jobs === 0, t)
    }
  }

  test("a directory or a missing path keeps Spark's inference and its errors") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables-").toString + "/t"
    assert(GraftSchemaBridge.parquetSchema(spark, dir) === None)
    intercept[org.apache.spark.sql.AnalysisException](Tables(spark, dir, "region"))
    Tables(spark, sfDir, "region").write.parquet(dir)
    assert(GraftSchemaBridge.parquetSchema(spark, dir) === None)
  }
}
