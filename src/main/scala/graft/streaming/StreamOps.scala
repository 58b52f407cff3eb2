package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY §2.8): the incremental semantics
  * the reference hand-rolls with `.last_run` mtime markers and
  * re-runnable stages, expressed as real streams.
  *
  * The transformations are the SAME expressions as the batch queries
  * (q55, q123, q130) — Spark's unified model means the batch oracle
  * results are the ground truth for a `Trigger.AvailableNow` run over
  * the same files, which is exactly what the ScalaTest spec asserts.
  */
object StreamOps {

  /** events schema with ts as raw parquet nanos (the oldest vintage; see
    * Tables.normalizeTs). Tests that fabricate event files use this. */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over an events parquet directory — the streaming
    * analog of the mtime-incremental scan (`bin/batch.sh:24-27`): the
    * source tracks processed files exactly-once in the checkpoint.
    *
    * `events.ts` has shipped in multiple physical vintages (int64 nanos,
    * TIMESTAMP_NTZ µs — see Tables.normalizeTs): [[documentsStream]]
    * declares the schema probed from the files present, and the result
    * is normalized exactly like the batch loader so stream and batch
    * plans stay expression-identical. */
  def eventsStream(spark: SparkSession, dir: String,
      glob: String = "events*.parquet",
      maxFilesPerTrigger: Int = 0): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.sources.Tables.normalizeTs(
      documentsStream(spark, dir, glob, maxFilesPerTrigger))
  }

  /** Stream-stream interval self-join: each error event joins the same
    * user's purchases from the preceding hour — the streaming form of
    * the q48 AS-OF composition. Both sides carry watermarks and the join
    * condition bounds event time on BOTH ends, so Spark can expire
    * buffered state: a purchase older than (watermark − 1 hour) can
    * never match a future error and is dropped from the state store.
    * Unbounded-state stream joins are the #1 streaming OOM at scale;
    * the interval bound is what makes this shape production-viable. */
  def purchaseErrorJoin(events: DataFrame): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"), col("value").as("p_value"))
      .withWatermark("p_ts", "10 minutes")
    val errors = events
      .filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("event_id").as("e_id"))
      .withWatermark("e_ts", "10 minutes")
    errors.join(purchases, expr(
      """e_user = p_user
        |AND p_ts >= e_ts - INTERVAL 1 HOUR
        |AND p_ts <= e_ts""".stripMargin))
      .select(col("e_user").as("user_id"), col("e_id"), col("p_id"),
        date_format(col("e_ts"), "yyyy-MM-dd HH:mm:ss").as("error_ts"),
        date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        col("p_value"))
  }

  /** Snapshot row for [[bottomKSampleStream]]: the key's current sample
    * plus how many rows it has seen — `n_seen` is strictly increasing,
    * so the LAST snapshot per key is the one with the max `n_seen`. */
  final case class SampleSnapshot(
      event_type: String, n_seen: Long, sample_ids: Seq[Long])

  /** Continuous bottom-k uniform sample per key — the streaming form of
    * [[graft.operators.SampleOps.bottomKSample]]: maintain, across the
    * stream's whole lifetime, the k rows whose seeded content-free hash
    * ranks smallest. Bottom-k state is MERGEABLE (the bottom-k of a
    * union is the bottom-k of the two bottom-k's), so the maintained
    * sample is byte-identical to the batch query over the same rows no
    * matter how the stream is chopped into micro-batches — the property
    * the spec pins by comparing a 3-batch run, a 1-batch run, and the
    * batch execution. Each key emits one [[SampleSnapshot]] per
    * micro-batch it appears in (Update mode); the latest snapshot IS
    * the current sample — a continuously-fresh eval set / debugging
    * panel over an unbounded ingest.
    *
    * Scale shape: one exchange on the group key; state per key is a
    * bounded k-list of (hash, id) pairs — O(k) memory however many
    * rows flow through; per-batch work is the same bounded max-heap as
    * the batch operator. No timeout: the sample must survive the
    * stream's lifetime: silently expiring a key's state would restart
    * its sample from empty. Works identically on a batch DataFrame
    * (state empty, one batch = whole input). */
  def bottomKSampleStream(events: DataFrame, k: Int,
      seed: String = "rsv"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val spark = events.sparkSession
    import spark.implicits._
    val ord = Ordering.Tuple2[Long, Long]
    events
      .select(col("event_id"), col("event_type"))
      .as[(Long, String)]
      .groupByKey(_._2)
      .mapGroupsWithState[Seq[(Long, Long)], SampleSnapshot](
        GroupStateTimeout.NoTimeout) { (key, rows, state) =>
        val (seen0, kept0) = state.getOption
          .map(s => (s.head._1, s.tail)).getOrElse((0L, Seq.empty))
        // bounded max-heap over (hash, id): O(n log k) per batch, O(k) state
        val heap = scala.collection.mutable.PriorityQueue(kept0: _*)(ord)
        var seen = seen0
        rows.foreach { case (id, _) =>
          seen += 1L
          val c = (graft.functions.Scalars.h60Jvm(s"$seed:$id"), id)
          if (heap.size < k) heap.enqueue(c)
          else if (ord.lt(c, heap.head)) { heap.dequeue(); heap.enqueue(c) }
        }
        val kept = heap.dequeueAll.reverse // ascending (hash, id)
        // state row 0 carries the seen-counter; samples follow
        state.update((seen, 0L) +: kept)
        SampleSnapshot(key, seen, kept.map(_._2))
      }
      .toDF()
  }

  /** File-source stream over a parquet directory — the ingest side of
    * the corpus operators (the quality classifier runs over it
    * unchanged, `StreamingSpec`) and the body of [[eventsStream]].
    * `readStream` needs a declared schema: one driver-side batch-schema
    * read probes the footers of the files present (metadata only, no
    * data scan). Exactly-once file tracking in the checkpoint; optional
    * per-micro-batch file cap (> 0) for multi-batch testing. */
  def documentsStream(spark: SparkSession, dir: String,
      glob: String = "*.parquet",
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val probed = spark.read.option("pathGlobFilter", glob).parquet(dir).schema
    val reader = spark.readStream
      .schema(probed)
      .option("pathGlobFilter", glob)
    val bounded =
      if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else reader
    bounded.parquet(dir)
  }

  /** Stream-static enrichment + windowed rollup: the arriving event
    * stream joins a STATIC dimension (user → nation via customer), then
    * aggregates per (tumbling hour, nation) — the canonical "enrich the
    * stream against reference data" shape (the reference's analog is the
    * per-row SQLite lookups its publish loop makes against the static
    * work-queue DB, `lib/med.rb` / `bin/pulfarize.rb`). The static side
    * is bounded dimension data and broadcasts into every micro-batch —
    * customer⋈nation is a DIMENSION product, which stays broadcast-sized
    * at any corpus scale; if the enrichment side ever became fact-sized
    * (per-user behavioral state, say), drop the explicit `broadcast`
    * hint and let the 10 MB autoBroadcast threshold demote it to a
    * shuffled stream-static join (round-11 verdict note) — no
    * stream-side state is held for the join itself (unlike
    * [[purchaseErrorJoin]]'s two-sided buffering), so the only state is
    * the windowed aggregation bounded by the watermark. Exactly the
    * expressions of the q123 batch form — the spec asserts
    * stream ≡ batch. */
  def nationEnrichedWindows(events: DataFrame, customer: DataFrame,
      nation: DataFrame): DataFrame = {
    val dim = customer
      .select(col("c_custkey").as("user_id"), col("c_nationkey"))
      .join(broadcast(nation.select(col("n_nationkey").as("c_nationkey"),
        col("n_name"))), Seq("c_nationkey"))
      .select("user_id", "n_name")
    events
      .withWatermark("ts", "10 minutes")
      .join(broadcast(dim), Seq("user_id"))
      .groupBy(window(col("ts"), "1 hour"), col("n_name"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Scalars.decSum(col("value")).as("total_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
        .as("window_start"), col("n_name"), col("n"), col("total_value"))
  }

  /** Run any of the above to completion over the files currently present
    * (Trigger.AvailableNow) into an in-memory table; returns the result.
    * This is the scheduled-batch execution mode the reference's cron
    * job approximates (`bin/batch.sh`). `outputMode` is the sink's:
    * "append" for row streams, "complete" for aggregations, "update" for
    * mapGroupsWithState ([[bottomKSampleStream]]), where the memory sink
    * accumulates every per-batch snapshot and the caller reduces to the
    * latest per key. */
  def runAvailableNow(spark: SparkSession, streamed: DataFrame,
      queryName: String, checkpointDir: String,
      outputMode: String): DataFrame = {
    val q = streamed.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }
}
