package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY §2.8): the incremental semantics
  * the reference hand-rolls with `.last_run` mtime markers and
  * re-runnable stages, expressed as real streams.
  *
  * The transformations are the SAME expressions as the batch queries
  * (q27–q29) — Spark's unified model means the batch oracle results are
  * the ground truth for a `Trigger.AvailableNow` run over the same files,
  * which is exactly what the ScalaTest spec asserts.
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
    * `readStream` needs a declared schema, but `events.ts` has shipped in
    * multiple physical vintages (int64 nanos, TIMESTAMP_NTZ µs — see
    * Tables.normalizeTs). Probe the footer of the files present with one
    * driver-side batch-schema read (metadata only, no data scan), declare
    * that schema, and normalize exactly like the batch loader so stream
    * and batch plans stay expression-identical. */
  def eventsStream(spark: SparkSession, dir: String,
      glob: String = "events*.parquet",
      maxFilesPerTrigger: Int = 0): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val probed = spark.read.option("pathGlobFilter", glob).parquet(dir).schema
    val reader = spark.readStream
      .schema(probed)
      .option("pathGlobFilter", glob)
    val bounded = // > 0: cap files per micro-batch (multi-batch testing)
      if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else reader
    graft.sources.Tables.normalizeTs(bounded.parquet(dir))
  }

  /** Tumbling 1-hour counts with a 10-minute watermark (late data beyond
    * the watermark is dropped — the reference's analog is 401/404 rows
    * exiting the candidate set, `bin/main.py:495-507`). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
        .as("window_start"), col("event_type"), col("n"))

  /** Per-user session windows (30-minute gap) with watermark. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"), col("n_events"))

  /** Streaming conversation/session assembly — q159's batch expression
    * under a watermark: one document per 30-minute-gap session, events
    * concatenated in (ts, event_id) order and truncated to `budget`
    * events. State is the session window's own buffer (open sessions'
    * events within the watermark horizon) — the q29/[[sessionCounts]]
    * bound; the assembly adds only the struct payload per buffered
    * event, and the `budget` cap bounds the EMITTED document even if a
    * runaway session fills the buffer. Unified-model contract: an
    * AvailableNow run equals the batch q159 result exactly
    * (`StreamingSpec`). */
  def sessionAssemblyStream(events: DataFrame, budget: Int = 2): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sort_array(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))).as("evs"))
      .select(col("user_id"),
        graft.functions.Scalars.fmtTs(col("session_window.start"))
          .as("session_start"),
        col("n_events"),
        least(col("n_events"), lit(budget.toLong)).as("n_kept"),
        expr(s"array_join(transform(slice(evs, 1, $budget), x -> x.event_type), ' | ')")
          .as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  /** Streaming exact-dedup within the watermark horizon — first
    * occurrence wins, the F7 idempotence contract under continuous
    * arrival. State is bounded by the watermark. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("user_id", "event_type")

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

  /** Event row for the custom-state quota operator (flatMapGroupsWithState
    * needs a typed Dataset; the Encoder comes from this case class). */
  final case class QuotaEvent(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String)

  /** Per-key admission quota with EXPLICIT state — the custom-state
    * streaming primitive (`flatMapGroupsWithState`) the windowed
    * aggregations can't express: admit the first `quota` events per
    * event_type across the whole stream's lifetime, drop the rest. The
    * state per key is one long (admitted-so-far), persisted in the state
    * store across micro-batches and restarts; this is the streaming form
    * of q70's per-source quota mixing, where "first" means arrival order
    * instead of hash rank.
    *
    * Determinism: WITHIN a micro-batch rows sort by (ts, event_id)
    * before admission, so a single-batch run (AvailableNow over one
    * file, or the batch execution of the same operator) is fully
    * deterministic; across micro-batches admission follows arrival
    * order, which is the operator's contract (a quota is about what
    * arrived first, not a total order — the spec aligns file order with
    * ts order so both notions coincide).
    *
    * Scale shape: one exchange on the group key; state size = #keys × 8
    * bytes, no timeout needed because the key domain (event types /
    * sources) is bounded by construction. For unbounded key domains add
    * a GroupStateTimeout — documented, not defaulted, because silently
    * expiring a quota would re-admit. Works identically on a batch
    * DataFrame (state starts empty, one "batch" = the whole input),
    * which is what the stream≡batch spec exploits. */
  def quotaAdmit(events: DataFrame, quota: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .as[QuotaEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[Long, QuotaEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          val admitted = state.getOption.getOrElse(0L)
          val rem = quota - admitted
          if (rem <= 0L) {
            // exhausted key: drain without materializing — a hot
            // event_type in a large micro-batch would otherwise load
            // every row into a Vector just to sort and drop them all
            // (round-5 advice)
            Iterator.empty
          } else {
            // keep only the `rem` (ts, event_id)-smallest rows via a
            // bounded max-heap — O(n log rem) time, O(rem) memory,
            // instead of sorting the whole group; the admitted output
            // (ascending) is identical to sort-then-take
            val ord = Ordering.by[QuotaEvent, (Long, Long)](
              e => (e.ts.getTime, e.event_id))
            val heap = scala.collection.mutable.PriorityQueue.empty[QuotaEvent](ord)
            val cap = math.min(rem, Int.MaxValue.toLong).toInt
            rows.foreach { e =>
              if (heap.size < cap) heap.enqueue(e)
              else if (ord.lt(e, heap.head)) { heap.dequeue(); heap.enqueue(e) }
            }
            // materialize before updating state: the returned iterator is
            // consumed after this function returns
            val out = heap.dequeueAll.reverse
            state.update(admitted + out.size)
            out.iterator
          }
      }
      .toDF()
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
    * stream's lifetime (same reasoning as [[quotaAdmit]]). Works
    * identically on a batch DataFrame (state empty, one batch = whole
    * input). */
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

  /** File-source stream over a documents parquet directory — the ingest
    * side of the corpus operators ([[lshNearDupStream]]): schema probed
    * from the files present, exactly-once file tracking in the
    * checkpoint, optional per-micro-batch file cap for multi-batch
    * testing. */
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

  /** One stored signature in an LSH bucket's state. */
  final case class LineDecision(doc_id: Long, pos: Int, keep: Boolean)

  /** Streaming form of the CROSS-document paragraph dedup
    * ([[graft.operators.RefineOps.dedupParagraphsAcrossDocs]], q146):
    * every arriving `(doc_id, lines)` row explodes to per-paragraph
    * occurrences keyed by `h60(line)`; the FIRST occurrence ever seen on
    * a key keeps, every later one drops. Output: one keep/drop decision
    * per occurrence — the ingest-time filter a pipeline applies before
    * a duplicate paragraph ever reaches storage.
    *
    * Equals the batch operator's winner set when ingest follows corpus
    * `(doc_id, pos)` order (the deployment contract, same as
    * [[lshNearDupStream]]'s arrival-order framing): within a micro-batch
    * arrivals sort by `(doc_id, pos)` before deciding, so any slicing of
    * an ordered corpus emits identical decisions — the spec proves it
    * across 3 slicings. State per distinct paragraph: ONE boolean (the
    * hash key itself carries the identity) — bounded by the distinct
    * paragraph count, never by corpus size; text is never held.
    *
    * The per-batch working set is O(1) too (round-11 advice): the group
    * handler streams the occurrence iterator ONCE, tracking only the
    * running-min `(doc_id, pos)` candidate, and emits every displaced
    * occurrence as a drop the moment a smaller one arrives — a hot
    * boilerplate paragraph occurring millions of times in one
    * micro-batch never buffers (the old form's `toSeq.sortBy` held the
    * whole group). The winner is min(doc_id, pos) — an order-invariant
    * property of the SET of occurrences — so no sort is needed for the
    * determinism contract; only the emission ORDER of drop rows varies
    * with arrival order, which Spark row semantics don't carry. */
  def paragraphDedupStream(docLines: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = docLines.sparkSession
    import spark.implicits._
    docLines
      .select(col("doc_id"), posexplode(col("lines")).as(Seq("pos", "line")))
      .select(col("doc_id"), col("pos"), expr("h60(line)").as("h"))
      .as[(Long, Int, Long)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[Boolean, LineDecision](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rowsIt, state) =>
          val seen = state.getOption.getOrElse(false)
          // State write-back happens after the output iterator drains
          // (FlatMapGroupsWithStateExec wraps it in a CompletionIterator),
          // so updating before returning the lazy iterator is safe.
          state.update(true)
          new Iterator[LineDecision] {
            private var bestDoc = 0L
            private var bestPos = 0
            private var hasBest = false
            private var emittedBest = false
            override def hasNext: Boolean =
              rowsIt.hasNext || (hasBest && !emittedBest)
            override def next(): LineDecision = {
              while (rowsIt.hasNext) {
                val (d, p, _) = rowsIt.next()
                if (!hasBest) { bestDoc = d; bestPos = p; hasBest = true }
                else if (d < bestDoc || (d == bestDoc && p < bestPos)) {
                  val (od, op) = (bestDoc, bestPos)
                  bestDoc = d; bestPos = p
                  return LineDecision(od, op, keep = false)
                } else return LineDecision(d, p, keep = false)
              }
              emittedBest = true
              LineDecision(bestDoc, bestPos, keep = !seen)
            }
          }
      }
      .toDF()
  }

  final case class BucketEntry(doc_id: Long, sig: Seq[Long])

  /** An emitted near-dup event. `kind = "pair"`: `agree` of k signature
    * components equal (estimated Jaccard = agree/k), oriented a < b.
    * `kind = "bucket_overflow"`: the (band, bucket) group hit its member
    * cap and arrival `a` was NOT admitted to state (b = -1, agree = 0) —
    * the ingest-side alarm whose (band, bucket, members) columns join
    * directly against the q84 batch bucket-health readout
    * ([[graft.operators.DedupOps.lshBucketStats]] keys its occupancy
    * rows the same way), so a breach points at the exact bucket the
    * batch audit will show as pathological. */
  final case class NearDupEvent(kind: String, a: Long, b: Long, agree: Long,
      band: Int, bucket: Long, members: Long)

  /** STREAMING near-duplicate detection at ingest — the question a
    * 100 TB training-data pipeline actually asks continuously: "is this
    * arriving document a near-copy of anything already ingested?".
    * Each arriving document carries its own MinHash signature computed
    * per-row (`minhash_sig`, the native one-loop form of the batch
    * explode→k-min aggregation — a streaming row cannot pre-aggregate
    * before a stateful operator), bands into the IDENTICAL buckets as
    * the batch LSH (`DedupOps.bandBucketSql` — shared fragment, so
    * batch and stream can never bucket differently), and each
    * (band, bucket) group's state stores the signatures seen so far.
    * A new arrival emits one [[NearDupPair]] per stored signature
    * agreeing on ≥ `minAgree` of k components.
    *
    * Emitted pairs are ARRIVAL-ORDER INVARIANT as a set: orientation
    * is (min, max), agreement is a pure function of the two
    * signatures, and within a micro-batch arrivals process in doc_id
    * order — so any slicing of the corpus into micro-batches emits the
    * same distinct pairs as [[graft.operators.DedupOps.signatureAgreementPairs]],
    * the batch ground truth (pairs colliding in several bands
    * deduplicate at the consumer — `distinct` — exactly like the batch
    * form's candidate `distinct`).
    *
    * Scale shape: one exchange on (band, bucket); state per bucket is
    * k longs per member — the signatures, NEVER the shingle sets or
    * text (the reason the verify is signature agreement: it is what
    * bounded state can afford at ingest) — and CAPPED at
    * `maxBucketMembers` members (round-11 verdict item 3: without the
    * cap, one hot boilerplate bucket — the exact skew q84 bucket-health
    * exists to detect — grows state linearly and per-arrival compare
    * cost quadratically within that bucket; the batch form prunes the
    * same skew with its df-cap). An arrival into a full bucket still
    * compares against the `maxBucketMembers` stored signatures (so it
    * can pair with the bucket's RESIDENTS — detection degrades
    * gracefully, it does not go blind) but is not admitted to state,
    * and one `bucket_overflow` alarm row is emitted per rejected
    * arrival — overflow volume is countable downstream, and the alarm's
    * (band, bucket) key joins the q84 readout directly. Stream ≡ batch
    * pair-set equivalence holds exactly for every bucket that never
    * overflows (the spec proves both: equivalence under slicing at the
    * default cap, bounded state + fired alarm on a planted hot bucket).
    * Bucket occupancy is the same quantity
    * [[graft.operators.DedupOps.lshBucketStats]] audits batch-side; a
    * production deployment adds a GroupStateTimeout to bound history —
    * documented, not defaulted, because silently expiring history
    * re-admits duplicates. */
  def lshNearDupStream(docs: DataFrame, bands: Int = 4, rows: Int = 4,
      minAgree: Int = 8, maxBucketMembers: Int = 1024): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val k = bands * rows
    require(minAgree >= 1 && minAgree <= k,
      s"minAgree must be in [1, $k], got $minAgree")
    require(maxBucketMembers >= 1,
      s"maxBucketMembers must be >= 1, got $maxBucketMembers")
    val spark = docs.sparkSession
    import spark.implicits._
    graft.operators.TextOps.shingled(docs)
      .withColumn("sig", expr(s"minhash_sig(sh, $k)"))
      .filter(expr("sig[0] <> -1L")) // empty-shingle docs never band (q36 rule)
      .select(col("doc_id"),
        explode(expr(graft.operators.DedupOps.bandBucketSql(bands, rows))).as("e"),
        col("sig"))
      .select(col("doc_id"), col("e.band"), col("e.bucket"), col("sig"))
      .as[(Long, Int, Long, Seq[Long])]
      .groupByKey { case (_, band, bucket, _) => (band, bucket) }
      .flatMapGroupsWithState[Seq[BucketEntry], NearDupEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, rowsIt, state) =>
          val (band, bucket) = key
          val prior = state.getOption.getOrElse(Seq.empty)
          // doc_id order within the batch: deterministic under any
          // batch slicing (see scaladoc)
          val arrivals = rowsIt.toSeq.sortBy(_._1)
          val out = Seq.newBuilder[NearDupEvent]
          var seen = prior
          arrivals.foreach { case (id, _, _, sig) =>
            seen.foreach { e =>
              if (e.doc_id != id) {
                var agree = 0
                var j = 0
                while (j < k) {
                  if (e.sig(j) == sig(j)) agree += 1
                  j += 1
                }
                if (agree >= minAgree)
                  out += NearDupEvent("pair", math.min(e.doc_id, id),
                    math.max(e.doc_id, id), agree.toLong,
                    band, bucket, seen.size.toLong)
              }
            }
            // idempotent re-ingest (r12 session-2 review): a replayed
            // doc_id neither occupies a second state slot nor alarms —
            // it only re-emits its pairs, which the consumer's distinct
            // absorbs (same discipline as audioNearDupStream)
            if (seen.exists(_.doc_id == id)) ()
            else if (seen.size < maxBucketMembers) seen = seen :+ BucketEntry(id, sig)
            else out += NearDupEvent("bucket_overflow", id, -1L, 0L,
              band, bucket, seen.size.toLong)
          }
          state.update(seen)
          out.result().iterator
      }
      .toDF()
  }

  /** One stored fingerprint in a Hamming band bucket's state. */
  final case class FpEntry(doc_id: Long, afp: Long)

  /** An emitted media near-dup event — [[NearDupEvent]]'s shape with a
    * Hamming distance where the MinHash form carries agreement. */
  final case class MediaDupEvent(kind: String, a: Long, b: Long,
      hamming: Long, band: Int, bucket: Long, members: Long)

  /** STREAMING media-ingest near-dup — [[lshNearDupStream]]'s question
    * asked of the AUDIO (or any fingerprintable) modality: "is this
    * arriving recording a near-copy of anything already ingested?".
    * Each arriving payload round-trips the REAL container parse into
    * its 60-bit acoustic fingerprint
    * ([[graft.operators.MultimodalOps.audioFingerprint]] — a stateless
    * narrow map, so it streams as-is), bands into the IDENTICAL
    * 4×15-bit buckets as the batch
    * [[graft.operators.DedupOps.hammingCandidatePairs]] (same shift/
    * mask arithmetic, so batch and stream can never bucket
    * differently), and each (band, bucket) group's state stores ONE
    * long per admitted member — the fingerprint; the audio itself
    * never enters state. A new arrival emits one `pair` event per
    * stored fingerprint within `maxHamming` (exact `bitCount` verify —
    * the same pigeonhole completeness as the batch form: radius ≤ 3
    * agrees on at least one whole band).
    *
    * Pairs are arrival-order invariant as a set (orientation (min,
    * max), distance a pure function of the two fingerprints, within-
    * batch arrivals process in doc_id order), so any micro-batch
    * slicing emits the same distinct pair set as
    * [[graft.operators.MultimodalOps.audioNearDupPairs]] — the batch
    * ground truth q154 hash-checks against DuckDB. State per bucket is
    * CAPPED at `maxBucketMembers` with the same graceful degradation
    * and `bucket_overflow` alarm discipline as the MinHash form (an
    * arrival into a full bucket still compares against the residents;
    * the alarm's (band, bucket) key joins the q84-style occupancy
    * readout). */
  def audioNearDupStream(files: DataFrame,
      adapter: graft.operators.MultimodalOps.AudioAdapter =
        graft.operators.MultimodalOps.WavAudioAdapter,
      frameLen: Int = 16, maxHamming: Int = 3,
      maxBucketMembers: Int = 1024): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(maxHamming <= 3,
      s"4-band pigeonhole recall is exact only for maxHamming <= 3; got $maxHamming")
    require(maxBucketMembers >= 1,
      s"maxBucketMembers must be >= 1, got $maxBucketMembers")
    val spark = files.sparkSession
    import spark.implicits._
    // per-row decode with a dead-letter path: an always-on ingest must
    // SURVIVE a malformed payload (the adapter raises on non-RIFF /
    // non-PCM / truncated bytes — correct for a batch job, a permanent
    // crash-loop for a checkpointed stream that would replay the poison
    // file forever). A failed decode becomes a `decode_error` event
    // (b = -1, band = -1) the consumer can count and route, and the
    // payload never reaches state.
    val decoded = files.select(col("doc_id").cast("long"), col("content"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          try {
            (id, graft.operators.MultimodalOps.audioFingerprintOf(
              r.getAs[Array[Byte]](1), id.toString, adapter, frameLen), true)
          } catch { case scala.util.control.NonFatal(_) => (id, 0L, false) }
        }
      }
      .toDF("doc_id", "afp", "ok")
    val errors = decoded.filter(!col("ok"))
      .select(lit("decode_error").as("kind"), col("doc_id").as("a"),
        lit(-1L).as("b"), lit(0L).as("hamming"), lit(-1).as("band"),
        lit(-1L).as("bucket"), lit(0L).as("members"))
    val events = decoded.filter(col("ok"))
      .select(col("doc_id"),
        explode(expr(graft.operators.DedupOps.hammingBandSql("afp", 15)))
          .as("e"),
        col("afp"))
      .select(col("doc_id"), col("e.band"), col("e.bucket"), col("afp"))
      .as[(Long, Int, Long, Long)]
      .groupByKey { case (_, band, bucket, _) => (band, bucket) }
      .flatMapGroupsWithState[Seq[FpEntry], MediaDupEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, rowsIt, state) =>
          val (band, bucket) = key
          var seen = state.getOption.getOrElse(Seq.empty)
          val arrivals = rowsIt.toSeq.sortBy(_._1)
          val out = Seq.newBuilder[MediaDupEvent]
          arrivals.foreach { case (id, _, _, afp) =>
            seen.foreach { e =>
              if (e.doc_id != id) {
                val h = java.lang.Long.bitCount(e.afp ^ afp).toLong
                if (h <= maxHamming)
                  out += MediaDupEvent("pair", math.min(e.doc_id, id),
                    math.max(e.doc_id, id), h, band, bucket, seen.size.toLong)
              }
            }
            // idempotent re-ingest: a replayed doc_id neither occupies a
            // second state slot (which would evict room for legitimate
            // members under the cap) nor alarms — it only re-emits its
            // pairs, which the consumer's distinct absorbs
            if (seen.exists(_.doc_id == id)) ()
            else if (seen.size < maxBucketMembers) seen = seen :+ FpEntry(id, afp)
            else out += MediaDupEvent("bucket_overflow", id, -1L, 0L,
              band, bucket, seen.size.toLong)
          }
          state.update(seen)
          out.result().iterator
      }
      .toDF()
    events.unionByName(errors)
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
    * driver approximates (`bin/batch.sh`). */
  def runAvailableNow(spark: SparkSession, streamed: DataFrame,
      queryName: String, checkpointDir: String): DataFrame = {
    val q = streamed.writeStream
      .outputMode(if (streamed.isStreaming) "append" else "append")
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Complete-mode variant for aggregation streams. */
  def runAvailableNowComplete(spark: SparkSession, streamed: DataFrame,
      queryName: String, checkpointDir: String): DataFrame = {
    val q = streamed.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Update-mode variant for mapGroupsWithState streams
    * ([[bottomKSampleStream]]): the memory sink accumulates every
    * per-batch snapshot; the caller reduces to the latest per key. */
  def runAvailableNowUpdate(spark: SparkSession, streamed: DataFrame,
      queryName: String, checkpointDir: String): DataFrame = {
    val q = streamed.writeStream
      .outputMode("update")
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }
}
