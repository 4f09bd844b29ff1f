package graft.examples

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Harness
import graft.sources.kinesis.{FakeKinesisRegistry, Payload}

/** The reference's flagship example — KinesisWordCountASL (upstream
  * `external/kinesis-asl/.../examples/streaming/KinesisWordCountASL.scala`,
  * SURVEY §2.1 last row) — re-expressed Spark-first: instead of a DStream
  * union over per-shard receivers, one Structured Streaming source over
  * all shards, UTF-8 decode, split/explode/count. Runs offline against the
  * deterministic fake service; point the same code at real AWS by dropping
  * `fake.id` and supplying endpoint/region/credential options.
  */
object KinesisWordCount {

  /** Pump `lines` into a fresh fake stream and word-count it exactly-once
    * with Trigger.AvailableNow; returns (word, n) rows sorted by count.
    */
  def run(spark: SparkSession, lines: Seq[String], shards: Int = 2): DataFrame = {
    val fakeId = "wordcount_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val svc = FakeKinesisRegistry.create(fakeId)
    svc.createStream("lines", shards)
    svc.putRecords("lines", lines.zipWithIndex.map { case (l, i) =>
      (s"pk$i", l.getBytes(UTF_8))
    })

    val raw = spark.readStream
      .format("kinesis")
      .option("streams", "lines")
      .option("initialPosition", "trim_horizon")
      .option("fake.id", fakeId)
      .load()

    val qn = fakeId + "_out"
    val counts = Payload.utf8(raw)
      .select(explode(split(col("text"), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))

    val q = counts.writeStream
      .format("memory").queryName(qn).outputMode("complete")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("wordcount_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(qn).orderBy(col("n").desc, col("word"))
  }

  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.cpus)
    val demo = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the dog barks",
      "quick quick fox")
    run(spark, demo).show(20, truncate = false)
    spark.stop()
  }
}
