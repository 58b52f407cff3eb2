package graft

import graft.sources.Tables
import graft.streaming.StreamOps

/** Streaming ≡ batch: the same expressions over the same files must agree
  * (Spark's unified model; SURVEY §2.8). */
class StreamingSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("stream-stream interval join: AvailableNow stream equals batch") {
    val streamed = StreamOps.purchaseErrorJoin(StreamOps.eventsStream(spark, dir))
    val order = Seq("user_id", "e_id", "p_id")
    val got = StreamOps.runAvailableNow(spark, streamed,
        "t_ssjoin", tmpDir("ckpt"), "append")
      .orderBy(order.head, order.tail: _*)
      .collect().map(_.toSeq).toSeq
    val expected = StreamOps.purchaseErrorJoin(Tables(spark, dir, "events"))
      .orderBy(order.head, order.tail: _*)
      .collect().map(_.toSeq).toSeq
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("stream-static enrichment: AvailableNow stream equals batch") {
    val customer = Tables(spark, dir, "customer")
    val nation = Tables(spark, dir, "nation")
    val streamed = StreamOps.nationEnrichedWindows(
      StreamOps.eventsStream(spark, dir), customer, nation)
    val got = StreamOps.runAvailableNow(spark, streamed,
        "t_enrich", tmpDir("ckpt"), "complete")
      .orderBy("window_start", "n_name")
      .collect().map(_.toSeq).toSeq
    val expected = StreamOps.nationEnrichedWindows(
        Tables(spark, dir, "events"), customer, nation)
      .orderBy("window_start", "n_name")
      .collect().map(_.toSeq).toSeq
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("streaming bottom-k sample: final snapshots identical under any batch slicing") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.functions._
    val srcDir = tmpDir("bk_src")
    (0 until 3).foreach { f =>
      val rows = (0 until 20).map { i =>
        Row(f * 100L + i, (f * 10000L + i * 10L) * 1000000000L,
          (i % 4).toLong, s"type${i % 3}", 1.0, "{}")
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), StreamOps.eventsRawSchema)
      df.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/stage$f")
      val part = new java.io.File(s"$srcDir/stage$f").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, f"events$f%d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + f * 60000L)
    }
    val k = 4
    // latest snapshot per key = the one with the max (strictly
    // increasing) n_seen the memory sink accumulated
    def latest(df: DataFrame): Map[String, (Long, Seq[Long])] =
      df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2)))
        .groupBy(_._1).map { case (t, rs) =>
          val m = rs.maxBy(_._2); t -> (m._2, m._3)
        }
    val multi = latest(StreamOps.runAvailableNow(spark,
      StreamOps.bottomKSampleStream(
        StreamOps.eventsStream(spark, srcDir, maxFilesPerTrigger = 1), k),
      "t_bk_multi", tmpDir("ckpt_bk1"), "update"))
    val single = latest(StreamOps.runAvailableNow(spark,
      StreamOps.bottomKSampleStream(StreamOps.eventsStream(spark, srcDir), k),
      "t_bk_single", tmpDir("ckpt_bk2"), "update"))
    val all = spark.read.parquet(s"$srcDir/events*.parquet")
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val batch = latest(StreamOps.bottomKSampleStream(all, k))
    // driver-side reference: per key, the k (hash, id)-smallest ids
    val ref = all.select("event_id", "event_type").collect()
      .map(r => (r.getString(1), r.getLong(0))).groupBy(_._1)
      .map { case (t, rs) =>
        val ids = rs.map(_._2)
        t -> (ids.length.toLong,
          ids.map(id => (graft.functions.Scalars.h60Jvm(s"rsv:$id"), id))
            .sorted.take(k).map(_._2).toSeq)
      }
    assert(multi === ref, "3-micro-batch stream")
    assert(single === ref, "single-batch stream")
    assert(batch === ref, "batch execution")
  }

  test("minhash_sig: per-row native signature equals the aggregation-derived one") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "a completely different document about spark streaming state"),
      (3L, "xy"), // < 3 tokens: empty shingle set -> sentinel
      (4L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val perRow = graft.operators.TextOps.shingled(docs)
      .select(col("doc_id"), expr("minhash_sig(sh, 16)").as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val viaAgg = graft.operators.DedupOps.minhashSigned(docs, 16)
      .as[(Long, Seq[Long])].collect().toMap
    assert(perRow === viaAgg,
      "per-row and aggregation-derived signatures must be identical")
    assert(perRow(3L).forall(_ == -1L), "shingle-less doc gets the sentinel")
  }

  test("quality classifier runs UNCHANGED over a document stream (complete-mode agg)") {
    import spark.implicits._
    // the registered q138 operator applied verbatim to a readStream
    // source: stream-static broadcast of the weight table + the doc-keyed
    // aggregation as a streaming agg — Spark's unified model, no
    // streaming-specific variant needed
    val srcDir = tmpDir("qc_src")
    val docs = (1L to 30L)
      .map(i => (i, s"tok${i % 5} tok${i % 7} tok${i % 11} filler words here"))
    docs.grouped(15).zipWithIndex.foreach { case (chunk, f) =>
      chunk.toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/stage$f")
      val part = new java.io.File(s"$srcDir/stage$f").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(srcDir, f"docs$f%d.parquet").toPath)
    }
    val streamed = graft.operators.TextOps.qualityClassifier(
      StreamOps.documentsStream(spark, srcDir, glob = "docs*.parquet",
        maxFilesPerTrigger = 1), dim = 64)
    val got = StreamOps.runAvailableNow(spark, streamed,
        "t_qclass", tmpDir("ckpt"), "complete")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val want = graft.operators.TextOps.qualityClassifier(
        spark.read.parquet(s"$srcDir/docs*.parquet"), dim = 64)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got === want)
    assert(got.size === 30)
  }
}
