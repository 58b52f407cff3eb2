package graft

import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables
import graft.streaming.StreamOps

/** The driver has regenerated `events.parquet` with a different physical
  * `ts` type between rounds (TIMESTAMP(NANOS) → TIMESTAMP_NTZ(µs)), which
  * once silently broke every events query. This spec writes one tiny
  * events file per writable vintage and asserts the loader normalizes all
  * of them to the same TimestampType rows — so the next regeneration
  * cannot slip through.
  *
  * Vintages: raw int64 nanos (how Spark loads TIMESTAMP(NANOS) under the
  * legacy conf — written here as plain BIGINT, which exercises the same
  * LongType branch), TIMESTAMP_NTZ (µs, isAdjustedToUTC=false — the
  * current testdata), and TIMESTAMP LTZ (µs, isAdjustedToUTC=true).
  */
class TablesVintageSpec extends SparkSpec {
  import spark.implicits._

  // two instants one hour apart, exact microseconds
  private val t0Micros = 1705276800000000L // 2024-01-15 00:00:00 UTC
  private val t1Micros = 1705280400000000L // 2024-01-15 01:00:00 UTC

  private def writeVintage(dir: String, tsCol: DataFrame => DataFrame): Unit = {
    val base = Seq(
      (1L, t0Micros, 10L, "view", 1.0, "{}"),
      (2L, t1Micros, 11L, "purchase", 2.0, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
    tsCol(base).select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private val vintages: Seq[(String, DataFrame => DataFrame)] = Seq(
    "int64-nanos" -> (df => df.withColumn("ts", col("us") * 1000L)),
    "timestamp-ntz" -> (df =>
      df.withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType))),
    "timestamp-ltz" -> (df => df.withColumn("ts", timestamp_micros(col("us")))))

  for ((name, mk) <- vintages) {
    test(s"events loader normalizes $name to TimestampType µs") {
      val dir = tmpDir(s"vintage-$name")
      writeVintage(dir, mk)
      val got = Tables.events(spark, dir)
      assert(got.schema("ts").dataType === TimestampType)
      val rows = got.orderBy("event_id")
        .select(col("event_id"), unix_micros(col("ts")).as("us")).as[(Long, Long)]
        .collect().toSeq
      assert(rows === Seq((1L, t0Micros), (2L, t1Micros)))
    }

    test(s"eventsSince on $name filters correctly and pushes to the scan") {
      val dir = tmpDir(s"vintage-since-$name")
      writeVintage(dir, mk)
      val got = Tables.eventsSince(spark, dir, t1Micros)
      assert(got.select("event_id").as[Long].collect().toSeq === Seq(2L))
      // the predicate must reach the parquet scan (row-group pruning at
      // 100 TB); a filter above the normalization cast would not
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"),
        s"expected ts predicate in PushedFilters, plan:\n$plan")
    }

    test(s"eventsStream over $name matches the batch loader") {
      val dir = tmpDir(s"vintage-stream-$name")
      writeVintage(dir, mk)
      val ckpt = tmpDir(s"vintage-stream-ckpt-$name")
      val got = StreamOps.runAvailableNow(
        spark, StreamOps.eventsStream(spark, s"$dir/events.parquet", glob = "*.parquet"),
        s"vintage_$name".replace('-', '_'), ckpt, "append")
      val batch = Tables.events(spark, dir)
      assert(got.schema("ts").dataType === TimestampType)
      assert(got.orderBy("event_id").select("event_id", "ts").collect().toSeq
        === batch.orderBy("event_id").select("event_id", "ts").collect().toSeq)
    }
  }

  test("relation cache re-resolves when a file in a nested partition directory is replaced") {
    val dir = tmpDir("nested-partition")
    val table = s"$dir/region.parquet"
    Seq((0L, "a", "x"), (1L, "b", "y")).toDF("r_regionkey", "r_name", "part")
      .coalesce(1).write.partitionBy("part").parquet(table)
    assert(Tables(spark, dir, "region").count() === 2L)
    // swap part=x's one data file for a 3-row file of a new name; the
    // top-level directory's own mtime does not move
    val staged = tmpDir("nested-partition-staged")
    Seq((2L, "c"), (3L, "d"), (4L, "e")).toDF("r_regionkey", "r_name")
      .coalesce(1).write.mode("overwrite").parquet(staged)
    val xDir = new java.io.File(s"$table/part=x")
    xDir.listFiles().foreach(_.delete())
    val fresh = new java.io.File(staged).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(fresh.toPath, new java.io.File(xDir, "part-fresh.parquet").toPath)
    val got = Tables(spark, dir, "region").orderBy("r_regionkey")
      .select("r_regionkey", "part").as[(Long, String)].collect().toSeq
    assert(got === Seq((1L, "y"), (2L, "x"), (3L, "x"), (4L, "x")))
  }

  test("unsupported ts type fails loudly, not at analysis of a downstream query") {
    val df = Seq((1L, "oops")).toDF("event_id", "ts")
    val ex = intercept[IllegalArgumentException](Tables.normalizeTs(df))
    assert(ex.getMessage.contains("unsupported physical type"))
  }
}
