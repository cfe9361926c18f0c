package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

/** The shared Spark-work counter's stage and input-byte fields. */
class SparkCountsSpec extends SparkSuite {

  test("a parquet scan with a groupBy counts at least two stages and its input bytes") {
    val dir = Files.createTempDirectory("spark-counts").resolve("t").toString
    spark.range(1000).withColumn("k", col("id") % 7).write.parquet(dir)
    val (groups, c) = SparkCounts.of(spark) {
      spark.read.parquet(dir).groupBy("k").count().collect().length
    }
    assert(groups === 7)
    assert(c.jobs >= 1, c)
    assert(c.stages >= 2, c)
    assert(c.tasks >= c.stages, c)
    assert(c.inputBytes > 0, c)
    assert(c.shuffleWriteBytes > 0, c)
  }

  test("a generated range reads no input bytes") {
    val (n, c) = SparkCounts.of(spark)(spark.range(10).count())
    assert(n === 10L)
    assert(c.jobs >= 1, c)
    assert(c.inputBytes === 0L, c)
  }
}
