package graft

import graft.sources.Tables
import graft.streaming.StreamOps

/** Streaming ≡ batch: the same expressions over the same files must agree
  * (Spark's unified model; SURVEY §2.8). */
class StreamingSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("tumbling window counts: AvailableNow stream equals batch") {
    val streamed = StreamOps.tumblingCounts(StreamOps.eventsStream(spark, dir))
    val got = StreamOps.runAvailableNowComplete(spark, streamed,
        "t_tumbling", tmpDir("ckpt"))
      .orderBy("window_start", "event_type")
      .collect().map(_.toSeq).toSeq
    val expected = StreamOps.tumblingCounts(Tables(spark, dir, "events"))
      .orderBy("window_start", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("streaming dedup keeps one row per (user_id, event_type)") {
    val streamed = StreamOps.dedupStream(StreamOps.eventsStream(spark, dir))
    val got = StreamOps.runAvailableNow(spark, streamed, "t_dedup", tmpDir("ckpt"))
    val expectedKeys = Tables(spark, dir, "events")
      .select("user_id", "event_type").distinct().count()
    assert(got.count() === expectedKeys)
    assert(got.select("user_id", "event_type").distinct().count() === expectedKeys)
  }

  test("stream-stream interval join: AvailableNow stream equals batch") {
    val streamed = StreamOps.purchaseErrorJoin(StreamOps.eventsStream(spark, dir))
    val order = Seq("user_id", "e_id", "p_id")
    val got = StreamOps.runAvailableNow(spark, streamed,
        "t_ssjoin", tmpDir("ckpt"))
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
    val got = StreamOps.runAvailableNowComplete(spark, streamed,
        "t_enrich", tmpDir("ckpt"))
      .orderBy("window_start", "n_name")
      .collect().map(_.toSeq).toSeq
    val expected = StreamOps.nationEnrichedWindows(
        Tables(spark, dir, "events"), customer, nation)
      .orderBy("window_start", "n_name")
      .collect().map(_.toSeq).toSeq
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("custom-state quota admit: multi-batch stream equals batch window") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val srcDir = tmpDir("quota_src")
    // three files, ts strictly increasing ACROSS files and mtime aligned
    // with ts order, so file-arrival order == event-time order and the
    // admission contract has one unambiguous reference answer
    (0 until 3).foreach { f =>
      val rows = (0 until 20).map { i =>
        Row(f * 100L + i, (f * 10000L + i * 10L) * 1000000000L,
          (i % 4).toLong, s"type${i % 3}", 1.0, "{}")
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), StreamOps.eventsRawSchema)
      df.coalesce(1).write.mode("overwrite")
        .parquet(s"$srcDir/stage$f")
      val part = new java.io.File(s"$srcDir/stage$f").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, f"events$f%d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + f * 60000L)
    }
    val quota = 7
    val streamed = StreamOps.quotaAdmit(
      StreamOps.eventsStream(spark, srcDir, maxFilesPerTrigger = 1), quota)
    val got = StreamOps.runAvailableNow(spark, streamed,
        "t_quota", tmpDir("ckpt"))
      .select("event_id").orderBy("event_id")
      .collect().map(_.getLong(0)).toSeq
    // reference: first `quota` per event_type in (ts, event_id) order
    val all = spark.read.parquet(s"$srcDir/events*.parquet")
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    val expected = all
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= quota)
      .select("event_id").orderBy("event_id")
      .collect().map(_.getLong(0)).toSeq
    assert(got === expected)
    assert(got.size === 3 * quota, "3 event types, quota admits each")
    // the same operator over the same rows as ONE batch agrees — the
    // unified-model contract (state starts empty, whole input = 1 batch)
    val batch = StreamOps.quotaAdmit(all, quota)
      .select("event_id").orderBy("event_id")
      .collect().map(_.getLong(0)).toSeq
    assert(batch === expected)
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
    val multi = latest(StreamOps.runAvailableNowUpdate(spark,
      StreamOps.bottomKSampleStream(
        StreamOps.eventsStream(spark, srcDir, maxFilesPerTrigger = 1), k),
      "t_bk_multi", tmpDir("ckpt_bk1")))
    val single = latest(StreamOps.runAvailableNowUpdate(spark,
      StreamOps.bottomKSampleStream(StreamOps.eventsStream(spark, srcDir), k),
      "t_bk_single", tmpDir("ckpt_bk2")))
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

  test("session windows produce plausible per-user sessions") {
    val streamed = StreamOps.sessionCounts(StreamOps.eventsStream(spark, dir))
    val got = StreamOps.runAvailableNowComplete(spark, streamed,
      "t_session", tmpDir("ckpt"))
    assert(got.count() > 0)
    // every event lands in exactly one session
    val totalEvents = got.agg(org.apache.spark.sql.functions.sum("n_events"))
      .head.getLong(0)
    assert(totalEvents === Tables(spark, dir, "events").count())
  }

  test("session assembly stream equals the batch q159 result exactly") {
    // the unified-model contract on the ASSEMBLY payload, not just the
    // counts: same session boundaries, same (ts, event_id) order inside
    // the document, same budget truncation
    val streamed = StreamOps.sessionAssemblyStream(
      StreamOps.eventsStream(spark, dir))
    val got = StreamOps.runAvailableNowComplete(spark, streamed,
      "t_session_asm", tmpDir("ckpt"))
      .select("user_id", "session_start", "n_events", "n_kept", "text", "n_chars")
      .collect().map(_.toSeq).sortBy(_.toString)
    val batch = SparkEntry.queries("q159_session_assembly")(spark, dir)
      .select("user_id", "session_start", "n_events", "n_kept", "text", "n_chars")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(got.length === batch.length)
    assert(got === batch, "stream ≡ batch on the assembled documents")
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

  test("streaming ingest near-dup: any micro-batch slicing emits the batch pair set") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // planted corpus: two near-dup clusters + strangers, split over
    // three files so the state crosses micro-batch boundaries (cluster
    // members deliberately land in DIFFERENT files)
    val texts = Map(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
      2L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu",
      3L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa xi mu",
      4L -> "one two three four five six seven eight nine ten eleven twelve",
      5L -> "one two three four five six seven eight nine ten eleven thirteen",
      6L -> "totally unrelated words about parquet files and shuffle exchanges here",
      7L -> "another stranger document with its own vocabulary entirely disjoint today")
    val srcDir = tmpDir("neardup_src")
    val files = Seq(Seq(1L, 4L, 6L), Seq(2L, 7L), Seq(3L, 5L))
    files.zipWithIndex.foreach { case (ids, f) =>
      ids.map(id => (id, texts(id))).toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/stage$f")
      val part = new java.io.File(s"$srcDir/stage$f").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, f"docs$f%d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + f * 60000L)
    }
    val streamed = StreamOps.lshNearDupStream(
      StreamOps.documentsStream(spark, srcDir, glob = "docs*.parquet",
        maxFilesPerTrigger = 1))
    val got = StreamOps.runAvailableNow(spark, streamed,
        "t_neardup", tmpDir("ckpt"))
      .select("a", "b", "agree").distinct().orderBy("a", "b")
      .collect().map(_.toSeq).toSeq
    val all = spark.read.parquet(s"$srcDir/docs*.parquet")
    val want = graft.operators.DedupOps.signatureAgreementPairs(all)
      .distinct().orderBy("a", "b")
      .collect().map(_.toSeq).toSeq
    assert(got === want, "stream pair set must equal the batch ground truth")
    assert(got.nonEmpty, "planted clusters must surface pairs")
    val pairIds = got.map(r => (r(0), r(1))).toSet
    assert(!pairIds.exists { case (a, b) =>
      Set(a, b).intersect(Set[Any](6L, 7L)).nonEmpty &&
        Set(a, b).intersect(Set[Any](1L, 2L, 3L, 4L, 5L)).nonEmpty
    }, "strangers must not pair with cluster members")
  }

  test("streaming near-dup: hot bucket hits the member cap, alarms fire, state stays bounded") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // five IDENTICAL docs — one signature, so every doc lands in the SAME
    // (band, bucket) in all 4 bands: the planted boilerplate hot bucket.
    // cap = 2 → docs 1,2 become residents; 3,4,5 are rejected with one
    // bucket_overflow alarm per band each, but still PAIR with the
    // residents (detection degrades gracefully, it does not go blind).
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val srcDir = tmpDir("hotbucket_src")
    val files = Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L))
    files.zipWithIndex.foreach { case (ids, f) =>
      ids.map(id => (id, text)).toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/stage$f")
      val part = new java.io.File(s"$srcDir/stage$f").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, f"docs$f%d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + f * 60000L)
    }
    val streamed = StreamOps.lshNearDupStream(
      StreamOps.documentsStream(spark, srcDir, glob = "docs*.parquet",
        maxFilesPerTrigger = 1),
      maxBucketMembers = 2)
    val got = StreamOps.runAvailableNow(spark, streamed,
      "t_hotbucket", tmpDir("ckpt"))
    val alarms = got.filter(col("kind") === "bucket_overflow").collect()
    // 3 rejected docs × 4 bands — the alarm volume counts the overflow
    assert(alarms.length === 12, s"expected 12 alarms, got ${alarms.length}")
    assert(alarms.forall(_.getAs[Long]("members") === 2L),
      "every alarm must report occupancy AT the cap — state never grew past it")
    assert(alarms.forall(_.getAs[Long]("b") === -1L))
    assert(alarms.map(_.getAs[Long]("a")).toSet === Set(3L, 4L, 5L),
      "exactly the post-cap arrivals are rejected")
    val pairs = got.filter(col("kind") === "pair")
      .select("a", "b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L),
      (2L, 3L), (2L, 4L), (2L, 5L)),
      "rejected arrivals still pair with the residents; rejected-rejected pairs cannot exist")
  }

  test("streaming audio near-dup: any micro-batch slicing emits the batch pair set") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // three planted groups of genuine WAV payloads (q154's fixture),
    // group-mates deliberately split across DIFFERENT files so every
    // pair crosses a micro-batch boundary through state
    val srcDir = tmpDir("audiodup_src")
    val slices = Seq(Seq(0L, 5L, 10L), Seq(1L, 6L, 11L, 2L),
      Seq(7L, 12L, 3L, 4L), Seq(8L, 9L, 13L, 14L))
    slices.zipWithIndex.foreach { case (ids, f) =>
      ids.map(id => (id, graft.operators.MultimodalOps
          .synthGroupWav(id / 5, (id % 5).toInt)))
        .toDF("doc_id", "content")
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/stage$f")
      val part = new java.io.File(s"$srcDir/stage$f").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, f"audio$f%d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + f * 60000L)
    }
    val streamed = StreamOps.audioNearDupStream(
      StreamOps.documentsStream(spark, srcDir, glob = "audio*.parquet",
        maxFilesPerTrigger = 1))
    val got = StreamOps.runAvailableNow(spark, streamed,
        "t_audiodup", tmpDir("ckpt"))
      .filter(col("kind") === "pair")
      .select("a", "b", "hamming").distinct().orderBy("a", "b")
      .collect().map(_.toSeq).toSeq
    val all = spark.read.parquet(s"$srcDir/audio*.parquet")
    val want = graft.operators.MultimodalOps.audioNearDupPairs(all)
      .orderBy("a", "b").collect().map(_.toSeq).toSeq
    assert(got === want, "stream pair set must equal the q154 batch ground truth")
    assert(got.size === 30, "3 groups x C(5,2) within-group pairs")
  }

  test("streaming audio near-dup: hot bucket caps state and fires alarms") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // six IDENTICAL recordings — one fingerprint, so every arrival lands
    // in the SAME (band, bucket) in all 4 bands; cap 3 → docs 0-2 become
    // residents, 3-5 are rejected with one alarm per band but still pair
    // with the residents (the lshNearDupStream cap discipline, verified
    // on the media form)
    val files = (0L until 6L).map(id =>
        (id, graft.operators.MultimodalOps.synthGroupWav(7L, 0)))
      .toDF("doc_id", "content")
    // batch execution of the stateful operator (the unified-model q130
    // discipline: state starts empty, one batch = the whole input) —
    // the slicing test above already proves cross-batch state
    val got = StreamOps.audioNearDupStream(files, maxBucketMembers = 3)
    val alarms = got.filter(col("kind") === "bucket_overflow").collect()
    assert(alarms.length === 12, s"3 rejected docs x 4 bands, got ${alarms.length}")
    assert(alarms.forall(_.getAs[Long]("members") === 3L),
      "every alarm reports occupancy AT the cap — state never grew past it")
    assert(alarms.map(_.getAs[Long]("a")).toSet === Set(3L, 4L, 5L))
    val pairs = got.filter(col("kind") === "pair")
      .select("a", "b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for (a <- 0L until 3L; b <- (a + 1) until 6L) yield (a, b)).toSet
    assert(pairs === want,
      "rejected arrivals pair with residents; rejected-rejected pairs cannot exist")
  }

  test("streaming audio near-dup: a poison payload dead-letters, the stream completes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // one good WAV + one garbage payload in the SAME file: the adapter
    // raises on the garbage, which must become a decode_error event —
    // not a failed micro-batch the checkpoint would replay forever
    val srcDir = tmpDir("audiopoison_src")
    Seq(
      (0L, graft.operators.MultimodalOps.synthGroupWav(0L, 0)),
      (1L, graft.operators.MultimodalOps.synthGroupWav(0L, 1)),
      (2L, "not a wav at all".getBytes("US-ASCII")))
      .toDF("doc_id", "content")
      .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/stage")
    val part = new java.io.File(s"$srcDir/stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(srcDir, "audio0.parquet").toPath)
    val got = StreamOps.runAvailableNow(spark,
      StreamOps.audioNearDupStream(
        StreamOps.documentsStream(spark, srcDir, glob = "audio*.parquet")),
      "t_audiopoison", tmpDir("ckpt"))
    val errs = got.filter(col("kind") === "decode_error").collect()
    assert(errs.map(_.getAs[Long]("a")).toSeq === Seq(2L),
      "exactly the poison payload dead-letters")
    assert(errs.forall(r => r.getAs[Long]("b") === -1L &&
      r.getAs[Int]("band") === -1))
    val pairs = got.filter(col("kind") === "pair")
      .select("a", "b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 1L)), "the good group-mates still pair")
  }

  test("streaming audio near-dup: re-ingesting a resident is idempotent — no duplicate slot, no false alarm") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // identical recordings, doc 0 replayed: with cap 3 the replay must
    // NOT occupy a second slot (which would evict room for doc 2) and
    // must NOT alarm (a resident is not an overflow); doc 3 then
    // genuinely overflows
    val wav = graft.operators.MultimodalOps.synthGroupWav(7L, 0)
    val files = Seq(0L, 0L, 1L, 2L, 3L).map(id => (id, wav))
      .toDF("doc_id", "content")
    val got = StreamOps.audioNearDupStream(files, maxBucketMembers = 3)
    val alarms = got.filter(col("kind") === "bucket_overflow").collect()
    assert(alarms.map(_.getAs[Long]("a")).toSet === Set(3L),
      "only the genuine post-cap arrival alarms — never the replayed resident")
    assert(alarms.length === 4)
    val pairs = got.filter(col("kind") === "pair")
      .select("a", "b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 1L), (0L, 2L), (1L, 2L),
      (0L, 3L), (1L, 3L), (2L, 3L)))
  }

  test("streaming paragraph dedup: ordered ingest reproduces the batch winner set") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // cross-file duplicate paragraphs: "a b" first appears in doc 1
    // (file 0) and recurs in docs 3/5 (files 1/2); "c d" first in doc 2;
    // doc 5 also repeats "a b" within itself — all later occurrences
    // must drop, across micro-batch boundaries.
    val texts = Map(
      1L -> "a b c x", 2L -> "c d e f", 3L -> "a b g h",
      4L -> "i j k l", 5L -> "a b a b m n")
    val srcDir = tmpDir("paradedup_src")
    val files = Seq(Seq(1L, 2L), Seq(3L), Seq(4L, 5L))
    files.zipWithIndex.foreach { case (ids, f) =>
      ids.map(id => (id, texts(id))).toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/stage$f")
      val part = new java.io.File(s"$srcDir/stage$f").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, f"docs$f%d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + f * 60000L)
    }
    val streamed = StreamOps.paragraphDedupStream(
      graft.operators.TextOps.linesOf(
        StreamOps.documentsStream(spark, srcDir, glob = "docs*.parquet",
          maxFilesPerTrigger = 1), lineTokens = 2))
    val got = StreamOps.runAvailableNow(spark, streamed,
        "t_paradedup", tmpDir("ckpt"))
      .orderBy("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSeq
    // batch ground truth: rebuild each doc from the streaming keeps and
    // compare with dedupParagraphsAcrossDocs' clean_text
    val all = spark.read.parquet(s"$srcDir/docs*.parquet")
    val lines = graft.operators.TextOps.linesOf(all, lineTokens = 2)
    val want = graft.operators.RefineOps.dedupParagraphsAcrossDocs(lines)
      .select("doc_id", "clean_text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val fixture = texts.map { case (id, t) =>
      id -> t.split(" ").grouped(2).map(_.mkString(" ")).toVector
    }
    val rebuilt = got.filter(_._3).groupBy(_._1).map { case (id, ks) =>
      id -> ks.sortBy(_._2).map { case (_, p, _) => fixture(id)(p) }.mkString("\n")
    }
    texts.keys.foreach { id =>
      assert(rebuilt.getOrElse(id, "") === want(id),
        s"doc $id: streaming keeps must rebuild the batch clean_text")
    }
    assert(got.length === 11, "one decision per paragraph occurrence")
    assert(!got.filter(_._1 == 5L).filter(_._2 == 1).head._3,
      "doc 5's within-doc repeat of 'a b' drops")
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
    val got = StreamOps.runAvailableNowComplete(spark, streamed,
        "t_qclass", tmpDir("ckpt"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val want = graft.operators.TextOps.qualityClassifier(
        spark.read.parquet(s"$srcDir/docs*.parquet"), dim = 64)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got === want)
    assert(got.size === 30)
  }
}
