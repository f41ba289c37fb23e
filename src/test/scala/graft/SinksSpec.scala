package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{Sinks, Staging}

class SinksSpec extends AnyFunSuite {
  import TestSession._

  test("exactly-once parquet sink: complete, idempotent under replay, restart-safe") {
    val srcDir = Files.createTempDirectory("graft-sink-src").toString
    val target = Files.createTempDirectory("graft-sink-t").toString
    val checkpoint = Files.createTempDirectory("graft-sink-c").toString
    try {
      // a 4-part landing copy + maxFilesPerTrigger=1 forces MULTIPLE
      // micro-batches, so the replay below exercises "one batch of
      // several is redelivered", not the degenerate single-batch case
      val batch = Tables.events(spark, sf)
        .select(col("event_id"), col("user_id"), col("event_type"))
      batch.repartition(4).write.mode("overwrite").parquet(srcDir)
      val landed = spark.read.parquet(srcDir)
      def source() = spark.readStream.schema(landed.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)

      // 1) drain the finite stream under the production backfill trigger
      // (AvailableNow + the source rate limit) — every row lands exactly
      // once, in several bounded batches
      Sinks.exactlyOnceParquet(source(), target, checkpoint, availableNow = true)
      val written = spark.read.parquet(target)
      assert(written.count() == batch.count())
      assert(written.drop("batch_id").exceptAll(batch).count() == 0)
      assert(batch.exceptAll(written.drop("batch_id")).count() == 0)
      // partition-directory columns read back with inferred (int) type
      val batchIds = written.select(col("batch_id").cast("long")).distinct()
        .collect().map(_.getLong(0)).sorted
      assert(batchIds.length >= 2,
        s"rate-limited 4-file source must produce several batches, got ${batchIds.mkString(",")}")

      // 2) at-least-once replay: re-deliver ONE already-written batch with
      // the SAME batchId — the dynamic partition overwrite must replace
      // exactly that partition, leaving the target row-equal overall
      val replayId = batchIds(batchIds.length / 2)
      val replayRows = written
        .filter(col("batch_id") === replayId).drop("batch_id")
      Sinks.writeBatch(target)(replayRows, replayId)
      val after = spark.read.parquet(target)
      assert(after.count() == batch.count(), "replay must not duplicate rows")
      assert(after.drop("batch_id").exceptAll(batch).count() == 0)

      // 3) restart with the same checkpoint + fully-consumed source: the
      // commit log must skip every batch, writing nothing new (harness
      // trigger this time, so both trigger paths are exercised)
      Sinks.exactlyOnceParquet(source(), target, checkpoint)
      assert(spark.read.parquet(target).count() == batch.count(),
        "restart over a committed checkpoint must be a no-op")
    } finally {
      rmTree(srcDir)
      rmTree(target)
      rmTree(checkpoint)
    }
  }

  /** `n` synthetic (id, ts) rows, one a second from 2024-01-01 (an
    * event at the epoch would sit at the initial watermark and drop). */
  private def idRows(n: Long) =
    spark.range(n).select(col("id"), timestamp_seconds(col("id") + 1704067200L).as("ts"))

  /** 20 [[idRows]] written under `dir`, streamed back. */
  private def idStream(dir: String) = {
    val src = s"$dir/src"
    idRows(20).write.parquet(src)
    spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
  }

  test("drainStateless refuses a stateful plan, naming its state operator count") {
    withTempDir("graft-drain") { dir =>
      val deduped = idStream(dir).withWatermark("ts", "1 hour").dropDuplicates("id", "ts")
      val e = intercept[IllegalArgumentException] {
        Sinks.drainStateless(deduped, "drain_stateful")
      }
      assert(e.getMessage.contains("found 1 state operators"), e.getMessage)
      assert(spark.streams.active.isEmpty, "a refused drain left its query running")
      // the same plan drains through the stateful entry point
      assert(Sinks.drain(deduped, OutputMode.Append(), "drain_stateful").count() == 20L)
      assert(spark.streams.active.isEmpty)
    }
  }

  test("drainStateless passes a row-local plan and stops its query") {
    withTempDir("graft-drain") { dir =>
      val out = Sinks.drainStateless(idStream(dir).filter(col("id") % 2 === 0), "drain_rowlocal")
      assert(out.count() == 10L)
      assert(spark.streams.active.isEmpty, "a passing drain left its query running")
    }
  }

  test("an empty source runs no micro-batch and counts as zero state") {
    withTempDir("graft-drain") { dir =>
      val empty = s"$dir/empty"
      Files.createDirectory(java.nio.file.Paths.get(empty))
      val schema = idRows(1).schema
      // stateful plan, but no micro-batch ever ran: no state to report
      val out = Sinks.drainStateless(spark.readStream.schema(schema).parquet(empty)
        .withWatermark("ts", "1 hour").dropDuplicates("id", "ts"), "drain_empty")
      assert(out.count() == 0L)
      assert(spark.streams.active.isEmpty)
    }
  }

  test("Staging fails closed on partitionBy, nested and data-less layouts") {
    withTempDir("graft-staging") { dir =>
      val ids = spark.range(10).withColumn("k", col("id") % 2)
      ids.write.partitionBy("k").parquet(s"$dir/parted.parquet")
      ids.write.parquet(s"$dir/nested.parquet")
      ids.write.parquet(s"$dir/nested.parquet/sub")
      Files.createDirectories(java.nio.file.Paths.get(s"$dir/bare.parquet"))
      Files.createFile(java.nio.file.Paths.get(s"$dir/bare.parquet/_SUCCESS"))
      val parted = intercept[IllegalArgumentException](Staging.stageParquet(dir, "parted"))
      assert(parted.getMessage.contains("partitionBy layout"), parted.getMessage)
      val nested = intercept[IllegalArgumentException](Staging.stageParquet(dir, "nested"))
      assert(nested.getMessage.contains("nested director"), nested.getMessage)
      val bare = intercept[IllegalArgumentException](Staging.stageParquet(dir, "bare"))
      assert(bare.getMessage.contains("no .parquet data files"), bare.getMessage)
    }
  }

  test("Staging streams a flat part-file directory row-for-row with its batch read") {
    withTempDir("graft-staging") { dir =>
      spark.range(37).repartition(3).write.parquet(s"$dir/flat.parquet")
      val batch = spark.read.parquet(s"$dir/flat.parquet")
      assert(batch.inputFiles.length == 3)
      val streamed = Sinks.drainStateless(Staging.read(spark, dir, "flat"), "staging_flat")
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0L)
    }
  }
}
