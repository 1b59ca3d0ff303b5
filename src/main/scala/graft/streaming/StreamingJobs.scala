package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import graft.Cuts.CutOps

/** Native Structured Streaming forms of SURVEY.md §2.7.
  *
  * The reference is a 5-minute micro-batch poller with an idempotent
  * keyed merge (weather-etl.py:46,54,58,152-163). Here the same
  * semantics run as real streams: file-source micro-batches →
  * watermarked windowed aggregates / dedup → foreachBatch upsert sink.
  * Specs drive these with Trigger.AvailableNow over the `events`
  * fixture and assert batch-equivalence against the oracle'd batch
  * queries (SURVEY.md §5.2).
  *
  * State-at-scale notes: every stateful op is bounded by a watermark;
  * the upsert sink is foreachBatch + keyed merge, so state lives in
  * the (partitioned, compacted) target table, not executor memory.
  */
object StreamingJobs {

  /** Stage a single fixture file into a per-fixture temp DIRECTORY
    * (Spark's file stream source requires a directory; in production:
    * a partitioned landing dir / Kafka). The staging key includes file
    * size+mtime so a changed fixture or a path-hash collision can't
    * serve stale data. Shared by [[readEvents]]/[[readDocuments]].
    */
  private def stageFixtureFile(dir: String, name: String): java.nio.file.Path = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(s"$dir/$name.parquet")
    val sig = s"${dir.hashCode}-${Files.size(src)}-${Files.getLastModifiedTime(src).toMillis}"
    val stage = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft-$name-${Integer.toHexString(sig.hashCode)}-${Files.size(src)}")
    Files.createDirectories(stage)
    val dst = stage.resolve(s"$name.parquet")
    if (!Files.exists(dst)) Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    stage
  }

  /** Streaming read of the events fixture (staged to a temp dir — see
    * [[stageFixtureFile]]).
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val stage = stageFixtureFile(dir, "events")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // File stream sources need an explicit schema; take it from a batch
    // footer read so the stream tracks the fixture's actual ts encoding
    // (nanos-as-long vs µs NTZ) instead of assuming one.
    val onDisk = spark.read.parquet(stage.toString).schema
    graft.Tables.normalizeEventsTs(
      spark.readStream.schema(onDisk).parquet(stage.toString))
  }

  /** Tumbling 5-min counts per event_type, 10-min watermark. */
  def tumbling(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_v"))

  /** Sliding 30-min/5-min windows per event_type. */
  def sliding(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "30 minutes", "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"))

  /** Session windows per user, 10-min gap. */
  def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "10 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n"))

  /** Streaming dedup on the event PK within the watermark horizon
    * (U1 streaming form; weather-etl.py:155-158).
    */
  def dedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("event_id")

  /** Watermark-scoped variant (Spark 3.5+): state for an event_id is
    * dropped once the watermark passes its ts — bounded state for
    * unbounded key spaces, the 100 TB default when duplicates only
    * arrive within the lateness horizon.
    */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Raw parquet schema of `documents` (all plain types — no
    * nanos-timestamp workaround needed).
    */
  private val documentsRawSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("lang", StringType),
    StructField("text", StringType),
    StructField("n_chars", LongType)))

  /** Streaming read of the documents fixture (staged to a temp dir —
    * see [[stageFixtureFile]]).
    */
  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(documentsRawSchema)
      .parquet(stageFixtureFile(dir, "documents").toString)

  /** Streaming incremental LOSSLESS near-dedup — the streaming form of
    * q_x_incr_near_dedup: per micro-batch, shingle the batch's text
    * into word n-gram sets and run the cross-corpus prefix-filter join
    * ([[graft.operators.Dedup.exactJaccardJoin]]) against a
    * PRE-SHINGLED static corpus table (two columns: id then
    * shingle-set, positionally). The caller
    * receives (novel rows, near-dup pairs, batchId) — novel = batch
    * rows with NO corpus pair, certified by the join's no-false-
    * negatives property, so admitting them cannot leak a near-dup.
    *
    * Results are row-independent given the static corpus, so output is
    * invariant to micro-batch boundaries (the spec asserts streaming
    * == one-shot batch). At 100 TB the corpus side's element-frequency
    * aggregate is recomputed per batch here; a production deployment
    * materializes it with the corpus and refreshes both on the corpus
    * compaction cycle — the join shape is unchanged.
    *
    * Per-batch resource discipline: `dups` is persisted so the
    * prefix-filter pipeline runs ONCE per batch even though both
    * outputs (novel + pairs) derive from it, and every block the batch
    * created — the dups cache and the two join-side localCheckpoints
    * the sink itself prepared — is dropped after `store` returns, so a
    * long-running stream cannot accumulate one corpus-sized checkpoint
    * per micro-batch in the block manager. Cleanup touches ONLY those
    * frames (never a context-wide sweep, which could unpersist a
    * concurrent job's checkpoint — unrecoverable, since localCheckpoint
    * truncates lineage). Standard foreachBatch contract: the frames
    * passed to `store` must be consumed within the callback.
    */
  def nearDedupSink(docs: DataFrame, corpusSets: DataFrame,
      textCol: String, idCol: String, threshold: Double, ngram: Int = 3)(
      store: (DataFrame, DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val sets = batch.select(col(idCol),
          array_distinct(graft.functions.TextFunctions.wordNgramsExpr(textCol, ngram)).as("g"))
        val la = sets.select(col(idCol).as("doc_a"), col("g").as("s"))
          .cut()
        // corpus contract: two columns, (id, shingle-set) in order
        val rb = corpusSets.toDF(idCol, "g")
          .select(col(idCol).as("doc_b"), col("g").as("s"))
          .cut()
        val dups = graft.operators.Dedup
          .exactJaccardJoinPrepared(la, rb, threshold).persist()
        try {
          val novel = batch.join(
            dups.select(col("doc_a").as(idCol)).distinct(), Seq(idCol), "left_anti")
          store(novel, dups, id)
        } finally {
          dups.unpersist(blocking = false)
          graft.Rdds.dropLocalCheckpoint(la)
          graft.Rdds.dropLocalCheckpoint(rb)
        }
      }

  /** Streaming exact incremental dedup with a GROWING corpus — the
    * reference's staging→target DISTINCT merge (weather-etl.py:152-163)
    * at corpus scale: each micro-batch keeps only content-new docs
    * versus everything accepted so far (bloom-pruned anti join,
    * [[graft.operators.Dedup.incrementalExactByHash]]), and the
    * accepted rows' hashes become corpus state for the next batch.
    *
    * Cross-batch state lives in the CALLER'S store (`loadHashes` /
    * `store`), not executor memory: at 100 TB the store is a
    * partitioned hash table (32 bytes per accepted doc) that both
    * sides of the anti join key on — bounded state however large the
    * corpus payload grows. First arrival wins within the stream; ties
    * inside one batch resolve to the smallest id (exactByHash).
    */
  def growingDedupSink(docs: DataFrame, textCol: String, idCol: String)(
      loadHashes: Long => DataFrame,
      store: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val novel = graft.operators.Dedup
          .incrementalExactByHash(loadHashes(id), batch, textCol, idCol)
        store(batch.join(novel.select(col(idCol), col("h")), Seq(idCol)), id)
      }

  /** Streaming distribution-drift monitor: per micro-batch PSI of the
    * batch's `value` histogram against a pinned REFERENCE histogram
    * (the q_x_psi formula via [[graft.operators.Drift]] — one shared
    * definition for the batch query and this monitor). The reference
    * is computed once by the caller and reused across batches, exactly
    * how a production monitor pins last month's profile; each batch
    * collapses to bucket grain in one aggregate before any join, so
    * the comparison cost is bucket-count-sized regardless of batch
    * size. `store` receives (batchId, psi, batchRows) — alert when
    * psi crosses the conventional 0.2.
    */
  def driftSink(events: DataFrame, refHist: DataFrame, bucketWidth: Double)(
      store: (Long, Double, Long) => Unit): DataStreamWriter[Row] =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val (psi, n) = graft.operators.Drift.psi(
          graft.operators.Drift.histogram(batch, col("value"), bucketWidth), refHist)
        store(id, psi, n)
      }

  /** Streaming Page–Hinkley drift monitor: per event_type, fold the
    * per-DAY batch counts into [[graft.operators.Drift.PhState]] via
    * the SAME [[graft.operators.Drift.phStep]] the batch query
    * (q_x_page_hinkley) uses — one fold definition, so N day-aligned
    * micro-batches end in exactly the one-shot batch state
    * (StreamingPageHinkleySpec asserts bit-equality). Contract: batch
    * boundaries must be DAY-aligned (a split day would fold as two
    * steps) — the daily-trigger deployment shape, like the reference's
    * timer-scheduled batches (weather-etl.py:58). Per batch the corpus
    * collapses to (type × days-in-batch) grain in one aggregate before
    * the driver folds it — bounded state however large the batch.
    */
  def pageHinkleySink(events: DataFrame)(
      load: Long => Map[String, graft.operators.Drift.PhState],
      store: (Long, Map[String, graft.operators.Drift.PhState]) => Unit): DataStreamWriter[Row] =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val days = batch
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("c"))
          .select(col("event_type"), col("day").cast("string"), col("c"))
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        val st0 = load(id)
        val next = days.groupBy(_._1).map { case (typ, rows) =>
          typ -> rows.sortBy(_._2).foldLeft(
            st0.getOrElse(typ, graft.operators.Drift.phInit))(
            (s0, r) => graft.operators.Drift.phStep(s0, r._3))
        }
        store(id, st0 ++ next)
      }

  /** Last-writer-wins upsert sink (U2 streaming form;
    * weather-etl.py:152-163): each micro-batch merges into `target`
    * under `mergeAndStore`, which the caller implements over its store
    * (parquet dir, Delta at real deployments, in-memory in specs).
    */
  def upsertSink(deduped: DataFrame, keys: Seq[String], orderCol: String)(
      mergeAndStore: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    deduped.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val compacted = graft.operators.Upsert.dedupKeyed(
          batch, keys, Seq(col(orderCol)))
        mergeAndStore(compacted, id)
      }

  /** Per-user running snapshot row. */
  case class UserSnapshot(user_id: Long, last_ts: java.sql.Timestamp,
      last_value: Double, n_events: Long)

  /** Arbitrary stateful op (SURVEY.md §2.7 optional row): running
    * per-key latest snapshot via mapGroupsWithState — the
    * keyed-latest-state view the reference materializes as its
    * `weather` table (weather-etl.py:152-163), kept as managed
    * streaming state instead of a sink table. Output mode: update.
    */
  def latestSnapshot(spark: SparkSession, events: DataFrame)
      : org.apache.spark.sql.Dataset[UserSnapshot] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.selectExpr("ts", "user_id", "value")
      .as[(java.sql.Timestamp, Long, Double)]
      .groupByKey(_._2)
      .mapGroupsWithState[UserSnapshot, UserSnapshot](GroupStateTimeout.NoTimeout) {
        (uid, rows, state) =>
          val prev = state.getOption
            .getOrElse(UserSnapshot(uid, new java.sql.Timestamp(0L), 0.0, 0L))
          var lastTs = prev.last_ts
          var lastV = prev.last_value
          var n = prev.n_events
          rows.foreach { case (ts, _, v) =>
            n += 1
            if (ts.after(lastTs)) { lastTs = ts; lastV = v }
          }
          val snap = UserSnapshot(uid, lastTs, lastV, n)
          state.update(snap)
          snap
      }
  }

  /** Stream-static enrichment join: the streaming fact side joins a
    * broadcast dimension snapshot — no streaming state at all, the
    * 100 TB default for dimension lookups.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), key)

  /** Stream-stream inner join: purchases matched to same-user clicks
    * within the preceding 30 minutes. Both sides watermarked so join
    * state is bounded: a buffered click is dropped once the watermark
    * passes click_ts + 30 minutes.
    */
  def purchaseClickJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))
      .withWatermark("click_ts", "30 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "30 minutes")
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES") &&
        col("click_ts") <= col("purchase_ts"))
      .select(col("event_id"), col("user_id"), col("purchase_ts"),
        col("click_ts"), col("click_value"))
  }
}
