package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming surface (SURVEY.md §1.4).
  *
  * The reference has NO Spark streaming — its "streaming" is S3-event-driven
  * micro-batch (one Glue job per arriving file). Two idiomatic Spark mappings
  * are provided:
  *
  *  1. [[fileArrivalStream]] — the faithful port: a `readStream` file source
  *     with `Trigger.AvailableNow`, so each run drains newly arrived files as
  *     one batch (the Lambda→Glue loop without the Lambda).
  *  2. Event-time analytics the reference cannot express: watermarked tumbling
  *     windows ([[windowedCounts]]) and session windows via
  *     `flatMapGroupsWithState` ([[sessionize]]).
  *
  * All operators here are also usable in batch mode (a batch DataFrame with
  * the same schema runs through the same column logic), which is how the
  * deterministic oracle checks exercise them.
  */
object StreamingOps {

  /** File-arrival micro-batch: stream new files under `path` (any Spark file
    * format), processing available data then stopping — the reference's
    * per-file job trigger, idiomatically. */
  def fileArrivalStream(spark: SparkSession, path: String, format: String = "csv",
                        schemaDdl: String, options: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.readStream.format(format).schema(schemaDdl)
    options.foldLeft(r)((acc, kv) => acc.option(kv._1, kv._2)).load(path)
  }

  /** Watermarked tumbling-window aggregation over an event stream:
    * count + sum(value) per (window, event_type). Late data beyond the
    * watermark is dropped; state is bounded — the 100 TB-friendly shape. */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
                     watermark: String = "2 hours",
                     tsCol: String = "ts", typeCol: String = "event_type",
                     valueCol: String = "value"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(typeCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("sum_value"))
      .select(col("window.start").as("window_start"), col(typeCol), col("n"), col("sum_value"))

  /** Streaming exact dedup with BOUNDED state: duplicates arriving within the
    * watermark delay of each other are dropped, and per-key state expires with
    * the watermark (`dropDuplicatesWithinWatermark`) — dedup by content alone
    * with bounded state. (The other bounded shape, plain `dropDuplicates`
    * with the event-time column IN the key, dedups exact (key, time) repeats
    * only.) Use a content hash (e.g. `sha2(text, 256)`) as the key column for
    * training-corpus streams so state rows stay tiny. */
  def streamingDedup(events: DataFrame, keyCols: Seq[String],
                     tsCol: String = "ts", watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  // ------------------------------------------------------- custom state logic

  case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String, value: Double)
  case class SessionState(count: Long, sum: Double, start: Long, last: Long)
  case class Session(user_id: Long, n_events: Long, total_value: Double,
                     duration_secs: Long, closed: Boolean)

  /** Session windows per user with a gap timeout: `flatMapGroupsWithState`
    * with an EVENT-TIME timeout — a session closes when the watermark passes
    * `last event + gap`. State per key is O(1) and garbage-collects with the
    * watermark, the only shape that is bounded on an unbounded 100 TB stream.
    * (A processing-time timeout would also keep scheduling wake-up batches
    * forever under drain-style triggers.) Caller must `withWatermark` the
    * input on `ts`.
    *
    * `maxBatchEventsPerKey` bounds the in-batch sort buffer: one batch's
    * events for one key ARE materialized to process them in time order, so a
    * single pathological key (a bot flood, a null-ish default id) would
    * otherwise OOM its task however healthy the rest of the stream. Past the
    * bound the key's excess events in that batch are DROPPED (same posture
    * as the LSH hot-bucket chain guards: degrade the pathological key,
    * protect the job); the default admits ~1M events per key per batch —
    * far past any organic session. */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
                 maxBatchEventsPerKey: Int = 1 << 20): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, s.count, s.sum, (s.last - s.start) / 1000, closed = true))
          } else {
            // events inside one micro-batch can themselves span session gaps
            // (catch-up/backfill batches) — process in time order and close a
            // session whenever the in-batch gap exceeds gapMs, exactly like
            // the batch-mode sessionizeBatch
            val buf = scala.collection.mutable.ArrayBuffer.empty[Event]
            var dropped = 0L
            rows.foreach { e =>
              if (buf.size < maxBatchEventsPerKey) buf += e else dropped += 1
            }
            if (dropped > 0)
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"sessionize: key $userId exceeded maxBatchEventsPerKey=" +
                  s"$maxBatchEventsPerKey in one batch; dropped $dropped events")
            val evs = buf.sortBy(_.ts.getTime)
            var st = state.getOption.getOrElse(SessionState(0, 0.0, Long.MaxValue, 0L))
            val closed = scala.collection.mutable.ListBuffer.empty[Session]
            evs.foreach { e =>
              val t = e.ts.getTime
              if (st.count > 0 && t - st.last > gapMs) {
                closed += Session(userId, st.count, st.sum, (st.last - st.start) / 1000, closed = true)
                st = SessionState(0, 0.0, Long.MaxValue, 0L)
              }
              st = SessionState(st.count + 1, st.sum + e.value,
                math.min(st.start, t), math.max(st.last, t))
            }
            state.update(st)
            state.setTimeoutTimestamp(st.last + gapMs)
            closed.iterator
          }
      }
  }

  /** Batch-mode session windows (same semantics, deterministic, oracle-able):
    * split a user's ordered events into sessions whenever the gap to the
    * previous event exceeds `gapSecs`; one aggregate row per session. Built on
    * window functions + a running session counter — two narrow shuffles on
    * user_id. */
  def sessionizeBatch(events: DataFrame, gapSecs: Long,
                      userCol: String = "user_id", tsCol: String = "ts",
                      valueCol: String = "value",
                      tieBreak: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col(userCol))
      .orderBy((tsCol +: tieBreak).map(col): _*)
    events
      .withColumn("__prev", lag(col(tsCol), 1).over(byUser))
      .withColumn("__new_session",
        when(col("__prev").isNull ||
          unix_timestamp(col(tsCol)) - unix_timestamp(col("__prev")) > gapSecs, 1).otherwise(0))
      .withColumn("session_id", sum(col("__new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"))
  }

  /** Streaming-native pipeline driver: the reference's S3-event→Glue-job loop
    * as ONE standing (or AvailableNow-drained) Structured Streaming query —
    * new files under `path` stream in, each micro-batch runs the caller's
    * cleanse logic (mapping/transforms/DQ) via `processBatch`, and failures
    * restart from the checkpoint instead of a Step Functions retry. At scale
    * this replaces per-file job submission overhead with incremental file
    * listing + exactly-once sink semantics.
    *
    * MAINTENANCE HOOK: per-batch appends/upserts fragment the target table
    * by construction (the reason [[graft.catalog.Compaction]] exists), so
    * the driver can fold OPTIMIZE into the ingest loop itself — set
    * `maintainTable` + `compactEvery` and every Nth batch STARTS with a
    * [[graft.catalog.Compaction.compactTable]] pass on the SAME single-
    * writer thread, strictly between micro-batch side effects: ingest and
    * maintenance cannot interleave, and content invariance is compaction's
    * own contract. (Readers in OTHER sessions keep the documented
    * trash-restore swap caveat — a Hive-layout table has no snapshot
    * isolation; StreamingSpec asserts between-batch reads stay correct.)
    * Compaction runs BEFORE the batch's own side effect deliberately: a
    * compaction failure then fails nothing that matters to ingest — it is
    * LOGGED and skipped (the batch proceeds; fragmentation is a performance
    * debt, not a correctness one), and only `compactMaxFailures`
    * CONSECUTIVE failures escalate to failing the query, so a persistently
    * broken maintenance path (e.g. the documented swap-failure mode leaving
    * scratch behind) surfaces loudly instead of wedging every checkpoint
    * replay of an otherwise-healthy batch. The failure counter is
    * driver-local and resets on query restart — acceptable, since the
    * escalation exists to page a human, not to bound retries exactly.
    *
    * SINGLE WRITER assumed: `maintainTable` must not be written by any
    * other job while this query runs — compaction's trash-restore swap has
    * no protection against a concurrent writer adding files to a partition
    * mid-rewrite (the standard Hive-layout limitation; table formats with
    * optimistic commit exist for exactly this). */
  def fileArrivalPipeline(spark: SparkSession, path: String, format: String,
                          schemaDdl: String, checkpoint: String,
                          options: Map[String, String] = Map.empty,
                          availableNow: Boolean = true,
                          maintainTable: Option[String] = None,
                          compactEvery: Int = 0,
                          compactTargetBytes: Long = 128L << 20,
                          compactCurve: Option[org.apache.spark.sql.Column] = None,
                          compactMaxFailures: Int = 3)
                         (processBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    require(maintainTable.isEmpty || compactEvery > 0,
      "maintainTable is set but compactEvery <= 0 — maintenance would silently never run")
    require(compactMaxFailures >= 1, "compactMaxFailures must be >= 1")
    val stream = fileArrivalStream(spark, path, format, schemaDdl, options)
    // driver-side: foreachBatch bodies run sequentially on the stream thread
    val consecutiveCompactFailures = new java.util.concurrent.atomic.AtomicInteger(0)
    startQuery(stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        maintainTable.foreach { t =>
          if (compactEvery > 0 && id > 0 && id % compactEvery == 0 &&
              batch.sparkSession.catalog.tableExists(t)) {
            try {
              graft.catalog.Compaction.compactTable(batch.sparkSession, t,
                targetBytes = compactTargetBytes, curve = compactCurve)
              consecutiveCompactFailures.set(0)
            } catch {
              case scala.util.control.NonFatal(e) =>
                val n = consecutiveCompactFailures.incrementAndGet()
                if (n >= compactMaxFailures)
                  throw new RuntimeException(
                    s"table maintenance failed $n consecutive times on $t — " +
                      "escalating (ingest was proceeding; fix compaction or " +
                      "disable maintainTable)", e)
                org.slf4j.LoggerFactory.getLogger(getClass).warn(
                  s"compaction of $t failed at batch $id " +
                    s"($n/$compactMaxFailures consecutive) — ingest proceeds", e)
            }
          }
        }
        processBatch(batch, id)
      }, availableNow)
  }

  /** Starts a stream: `Trigger.AvailableNow` drains what has arrived and
    * stops; otherwise the default trigger keeps the query running. */
  private def startQuery(w: DataStreamWriter[Row], availableNow: Boolean): StreamingQuery =
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()

  /** Idempotent write of ONE batch's rows into a `batch_id`-partitioned
    * table: create-with-partitioning on first use, DYNAMIC overwrite of
    * exactly the `batch_id=<id>` partition afterwards — a replayed batch
    * REPLACES its own half-committed partition instead of appending beside
    * it, and committed partitions are never rewritten (the immutability
    * that makes [[BatchCommitLog]]'s guard sound: the data a committed
    * marker vouches for cannot be damaged by a later crash). */
  private def writeBatchPartition(df: DataFrame, table: String, id: Long): Unit = {
    val ss = df.sparkSession
    if (!ss.catalog.tableExists(table)) {
      // overwrite: leftover files from a crash mid-create are uncommitted
      df.write.mode("overwrite").partitionBy("batch_id").saveAsTable(table)
    } else {
      val meta = ss.sessionState.catalog.getTableMetadata(
        ss.sessionState.sqlParser.parseTableIdentifier(table))
      require(meta.partitionColumnNames.contains("batch_id"),
        s"$table must be partitioned by batch_id for idempotent replay — " +
          "drop it and let the operator create it, or recreate it " +
          "PARTITIONED BY (batch_id)")
      // STATIC partition spec: INSERT OVERWRITE of exactly this batch's
      // partition, independent of the session's partitionOverwriteMode
      // (the writer-level dynamic option is not honored by insertInto)
      val dataCols = meta.schema.fieldNames
        .filterNot(meta.partitionColumnNames.contains)
      val v = s"graft_batch_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      df.drop("batch_id").createOrReplaceTempView(v)
      try ss.sql(s"INSERT OVERWRITE TABLE $table PARTITION (batch_id=$id) " +
        s"SELECT ${dataCols.map(c => s"`$c`").mkString(", ")} FROM $v")
      finally { ss.catalog.dropTempView(v); () }
    }
  }

  /** Replay-safe reader for any gate-maintained state table: rows of
    * partitions the [[BatchCommitLog]] has committed, nothing else. The
    * gates themselves filter `batch_id < id` inside the loop, but an
    * EXTERNAL reader of the corpus/report/index tables would otherwise see
    * a crashed batch's orphaned partition (written, never committed, not
    * yet replaced by the replay) — this is the read path that closes that
    * window. Partition-pruned on batch_id. */
  def readCommitted(spark: SparkSession, table: String,
                    checkpoint: String): DataFrame =
    BatchCommitLog.committed(spark, checkpoint) match {
      case Some(wm) => spark.table(table).filter(col("batch_id") <= wm)
      case None => spark.table(table).limit(0)
    }

  /** The current committed model of [[onlineLogisticFit]]: the weights
    * snapshot named by the commit log. Read THIS, not the raw table — the
    * table keeps one snapshot partition per applied batch (older partitions
    * are prunable maintenance, and double as restore points). */
  def committedWeights(spark: SparkSession, weightsTable: String,
                       checkpoint: String): DataFrame =
    BatchCommitLog.committed(spark, checkpoint) match {
      case Some(k) => spark.table(weightsTable)
        .filter(col("batch_id") === k).select(col("feature"), col("wq"))
      case None =>
        import spark.implicits._
        Seq.empty[(Long, Long)].toDF("feature", "wq")
    }

  /** A micro-batch as a gate step sees it: the `raw` batch, the gate's
    * materialized `view` of it and the batch `id`. */
  private final case class GateBatch(raw: DataFrame, view: DataFrame, id: Long)

  /** Whether `df` holds a row, in ONE Spark job: each partition reports only
    * whether it has a first row. `Dataset.isEmpty` scans partitions
    * incrementally (a job per round while they come up empty) and `count()`
    * is two jobs under AQE (partial aggregate, then the final exchange). On
    * a lazy `localCheckpoint(false)` frame the same job also materializes
    * it: a checkpoint-marked partition is stored in full before its first
    * row is read, and the job end checkpoints the frame. */
  private def hasRows(df: DataFrame): Boolean =
    df.queryExecution.toRdd.mapPartitions(it => Iterator.single(it.hasNext))
      .fold(false)(_ || _)

  /** The micro-batch loop every commit-logged gate runs on. foreachBatch is
    * AT-LEAST-ONCE; this loop makes each gate exactly-once over it:
    *   1. once per query start, converge any crashed consolidation of the
    *      gate's `stateTables`, before a stored-side read can see
    *      half-folded (duplicated) partitions;
    *   2. skip a batch the [[BatchCommitLog]] holds — an O(1) marker
    *      listing, probed BEFORE the batch is materialized, so a
    *      re-delivered batch runs no Spark job;
    *   3. build the gate's `view` (default: a lazy localCheckpoint) and
    *      skip the batch if the view is empty; the probe ([[hasRows]]) is
    *      one job that also materializes a lazy checkpoint, so an empty
    *      batch costs that one job;
    *   4. run `step`, whose writes overwrite the batch's own `batch_id`
    *      partitions ([[writeBatchPartition]]), so a replay replaces what
    *      a crash half-wrote; a throwing step (a DQ halt) fails the stream
    *      uncommitted, and the batch replays on restart;
    *   5. publish the commit marker LAST, then run `afterCommit`;
    *   6. run [[runMaintenance]], skipped batches included;
    *   7. start under `Trigger.AvailableNow` or the default trigger. */
  private def gateLoop(input: DataFrame, checkpoint: String, availableNow: Boolean,
                       stateTables: Seq[String],
                       maintainEvery: Int = 0,
                       maintain: (SparkSession, Long) => Unit = (_, _) => (),
                       view: DataFrame => DataFrame = _.localCheckpoint(false),
                       afterCommit: (SparkSession, Long) => Unit = (_, _) => ())
                      (step: GateBatch => Unit): StreamingQuery = {
    var converged = false // foreachBatch runs serially on the driver
    startQuery(input.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        val ss = batch.sparkSession
        if (!converged) {
          stateTables.foreach(graft.catalog.Compaction.convergeConsolidation(ss, _))
          converged = true
        }
        if (!BatchCommitLog.applied(ss, checkpoint, id)) {
          val v = view(batch)
          if (hasRows(v)) {
            step(GateBatch(batch, v, id))
            BatchCommitLog.commit(ss, checkpoint, id)
            afterCommit(ss, id)
          }
        }
        runMaintenance(ss, id, maintainEvery, maintain)
      }, availableNow)
  }

  /** Runs a gate's maintenance hook on the single-writer stream thread,
    * AFTER the batch's own commit: every `maintainEvery`-th batch calls
    * `maintain(session, committed batch id)` — the API window
    * [[graft.catalog.Compaction.consolidateBatches]]'s crash-safety
    * argument requires (no other writer can be active). Failures log and
    * skip (maintenance debt is a performance problem, ingest health is
    * not), mirroring [[fileArrivalPipeline]]'s posture. */
  private def runMaintenance(ss: SparkSession, id: Long, maintainEvery: Int,
                             maintain: (SparkSession, Long) => Unit): Unit =
    if (maintainEvery > 0 && id > 0 && id % maintainEvery == 0)
      bestEffort(s"gate maintenance failed at batch $id — ingest proceeds")(maintain(ss, id))

  /** Runs `body`; a non-fatal failure logs `warning` and is swallowed. */
  private def bestEffort(warning: String)(body: => Unit): Unit =
    try body
    catch { case scala.util.control.NonFatal(e) =>
      org.slf4j.LoggerFactory.getLogger(getClass).warn(warning, e) }

  /** ONLINE quality-classifier training — mini-batch SGD as a streaming
    * maintenance loop: each micro-batch applies ONE deterministic sparse-GD
    * step ([[graft.operators.Retrieval.sparseGdStep]]) to a persisted
    * weights table. The model improves as labeled documents arrive and is
    * readable between batches ([[committedWeights]]); nothing is ever
    * collected to the driver, so the feature space scales like the offline
    * fit (q174).
    *
    * Delivery semantics: foreachBatch is AT-LEAST-ONCE and a GD step is NOT
    * idempotent, so exactly-once is built from three pieces. (1) The replay
    * guard is the [[BatchCommitLog]] marker file, published ATOMICALLY
    * after the write — never a `max(batch_id)` probe over the data table,
    * which a half-committed write can satisfy. (2) The weights table is
    * PARTITIONED by batch_id and each step writes a NEW snapshot partition
    * via dynamic overwrite: the committed snapshot it read is never
    * touched, and a replay after a crash replaces the orphaned partition
    * instead of corrupting state. (3) The step always reads the snapshot
    * the log names; if that partition is missing or empty (external
    * truncation, partition drop) the stream FAILS LOUDLY instead of
    * silently refitting a one-batch model from zero — restore the
    * partition (any older snapshot partition is a restore point) or wipe
    * checkpoint + table together to genuinely start over.
    * Empty micro-batches (state flushes) leave table and log untouched. */
  def onlineLogisticFit(docs: DataFrame, textCol: String, idCol: String,
                        labelCol: String, numFeatures: Int,
                        weightsTable: String, checkpoint: String,
                        lrNum: Long = 1, lrDen: Long = 1,
                        availableNow: Boolean = false): StreamingQuery = {
    import graft.operators.Retrieval
    gateLoop(docs, checkpoint, availableNow, stateTables = Nil,
        view = _.select(col(idCol), col(labelCol)).localCheckpoint(false)) {
      case GateBatch(batch, labels, id) =>
        val ss = labels.sparkSession
        // rows of the checkpointed labels in one job (count() is two)
        val n = labels.queryExecution.toRdd.count()
        val prev = BatchCommitLog.committed(ss, checkpoint) match {
          case Some(k) =>
            // localCheckpoint, materialized by the emptiness probe: the
            // insertInto below never reads the table it writes
            val snap = ss.table(weightsTable).filter(col("batch_id") === k)
              .select(col("feature"), col("wq")).localCheckpoint(false)
            if (!hasRows(snap)) throw new IllegalStateException(
              s"commit log says batch $k of $weightsTable is committed but " +
                "its snapshot partition is missing/empty — the table was " +
                "externally modified; restore an older snapshot partition " +
                "and repoint the log, or wipe checkpoint AND table to refit")
            snap
          case None =>
            import ss.implicits._
            Seq.empty[(Long, Long)].toDF("feature", "wq")
        }
        val feats = Retrieval.hashedTokenFeatures(batch, textCol, idCol, numFeatures)
        val allFeats = Retrieval.withBias(feats, labels, idCol).localCheckpoint(true)
        val next = Retrieval.sparseGdStep(allFeats, labels, prev, idCol,
            labelCol, n, lrNum, lrDen)
          .withColumn("batch_id", lit(id))
        writeBatchPartition(next, weightsTable, id)
    }
  }

  /** Streaming INGEST-DEDUP GATE: [[graft.operators.Dedup.incrementalDedup]]
    * as a micro-batch maintenance loop — each arriving batch is deduplicated
    * against the PERSISTED survivor corpus, its per-doc report (kept /
    * dup_of_stored / dup_in_batch + attribution) appends to `reportTable`,
    * and its survivors append to `corpusTable`, so the next batch dedups
    * against everything that ever survived. This is the production shape of
    * the q183 two-day composition: dedup-on-ingest, corpus as the fixpoint.
    *
    * Exactly-once: dedup of a batch is DETERMINISTIC given the corpus, and
    * both tables are PARTITIONED by batch_id with per-batch dynamic
    * partition overwrite, so a replayed batch recomputes the same frames
    * and REPLACES its own (possibly half-committed) partitions — a
    * partially-visible write from a crash can neither satisfy the replay
    * guard (that is the [[BatchCommitLog]] marker, published atomically
    * after both writes) nor survive the replay. The stored side reads
    * `batch_id < id`, so an orphaned partition of the replayed batch never
    * feeds its own dedup. Corpus writes FIRST so a reader between the two
    * writes never sees a report whose survivors are missing from the
    * corpus.
    *
    * Scale shape: identical to the batch operator — candidate work is
    * batch×corpus through the prefix-filtered blocked join, never
    * corpus×corpus; committed corpus partitions are immutable (one per
    * batch — [[graft.catalog.Compaction.consolidateBatches]] is the
    * every-N-batches answer to the partition-per-batch sprawl, folding
    * committed history below the watermark into one partition), and the
    * replay probe is the commit log's O(1) marker listing, not a max over
    * ingest history.
    *
    * @param statsTable optional [[graft.catalog.FileStats]] index over the
    *        corpus table's FIRST block column (per-file bloom), maintained
    *        BY THE GATE: after each committed batch the index refreshes
    *        (scans only the new partition's files), and the next batch's
    *        stored-side read prunes to files whose block-bloom intersects
    *        the batch's blocks — result-preserving because candidates only
    *        ever form within a block (the incrementalMinhash bucket
    *        semi-join argument at FILE granularity, before a single stored
    *        byte is read). Unknown/stale files always admit, so a missed
    *        refresh (it logs and skips on failure — index health is a
    *        performance problem, ingest health is not) costs reads, never
    *        rows. Requires a non-empty integral/string first block column;
    *        batches with more distinct blocks than `maxPruneKeys` read
    *        unpruned. */
  def ingestDedupGate(docs: DataFrame, textCol: String, idCol: String,
                      blockCols: Seq[String], threshold: Double,
                      corpusTable: String, reportTable: String,
                      checkpoint: String,
                      availableNow: Boolean = false,
                      maintainEvery: Int = 0,
                      maintain: (SparkSession, Long) => Unit = (_, _) => (),
                      statsTable: Option[String] = None,
                      maxPruneKeys: Int = 100000): StreamingQuery = {
    import graft.catalog.FileStats
    import graft.functions.{SimilarityFunctions => S}
    import graft.operators.Dedup
    require(statsTable.isEmpty || blockCols.nonEmpty,
      "statsTable pruning needs a block column to bloom on")
    val statsSpec = FileStats.StatsSpec(blockCols.take(1),
      bloomCols = blockCols.take(1), bloomBits = 1 << 17)
    def refreshStats(ss: SparkSession, id: Long): Unit = statsTable.foreach { st =>
      bestEffort(s"corpus stats refresh failed at batch $id — the new partition " +
        "stays unpruned until the next refresh")(FileStats.refresh(ss, corpusTable, st, statsSpec))
    }
    gateLoop(docs, checkpoint, availableNow, Seq(corpusTable, reportTable),
        maintainEvery, maintain,
        view = _.select(col(idCol) +: blockCols.map(col) :+
            array_distinct(S.tokens(col(textCol))).as("__toks"): _*)
          .localCheckpoint(false),
        afterCommit = refreshStats) {
      case GateBatch(_, btoks, id) =>
        val ss = btoks.sparkSession
        // batch_id < id: a replayed batch's own orphaned partition (and,
        // on the partition-pruned read, every uncommitted write) must NOT
        // be in its stored side — survivors would self-match as
        // dup_of_stored and change the recomputed report
        val stored =
          if (!ss.catalog.tableExists(corpusTable)) btoks.limit(0)
          else statsPrunedStored(ss, corpusTable, statsTable,
              blockCols, btoks, maxPruneKeys)
            .filter(col("batch_id") < id).drop("batch_id")
        val report = Dedup.incrementalDedup(stored, btoks, "__toks", idCol,
            blockCols, threshold)
          .withColumn("batch_id", lit(id))
          .localCheckpoint(true)
        val survivors = btoks.join(
            report.filter(col("status") === "kept").select(col(idCol)),
            Seq(idCol))
          .withColumn("batch_id", lit(id))
        writeBatchPartition(survivors, corpusTable, id)
        writeBatchPartition(report, reportTable, id)
    }
  }

  /** The gate's stored-side read, file-pruned through the block bloom via
    * the shared [[graft.catalog.FileStats.keysPrunedScan]] probe; plain
    * table read when the index is absent, the batch's block set exceeds
    * the bound, or the probe fails (the helper logs it) — identical rows
    * either way: pruned-away files hold only blocks the batch never
    * joins. */
  private def statsPrunedStored(ss: SparkSession, corpusTable: String,
                                statsTable: Option[String],
                                blockCols: Seq[String], btoks: DataFrame,
                                maxPruneKeys: Int): DataFrame =
    statsTable
      .flatMap(st => graft.catalog.FileStats.keysPrunedScan(ss, corpusTable,
        st, blockCols.head, btoks.select(col(blockCols.head)), maxPruneKeys))
      .getOrElse(ss.table(corpusTable))

  /** Streaming DATA-QUALITY GATE — the reference's quarantine tier as a
    * micro-batch loop: each arriving batch is split by the DQDL rules
    * ([[graft.dq.DqEngine.splitByRules]] — same predicate compiler as the
    * batch quarantine path), passing rows land in `cleansedTable` and
    * failing rows in `quarantineTable`, each as one batch_id partition
    * under the [[BatchCommitLog]] replay contract. This is the 3-Cs
    * Collect→Cleanse hop running as ONE standing query instead of a
    * job-per-file loop.
    *
    * Use ROW-LEVEL rules here: a dataset-level rule's verdict (e.g. a
    * Completeness ratio) is a function of batch COMPOSITION, so its
    * outcome would depend on how the stream happened to batch — legal,
    * but no longer equal to the batch replay. Row-level rules make the
    * split row-wise and batch-boundary-independent. The warn/halt DATASET
    * tiers live in [[ingestDatasetDqGate]], which embraces the per-batch
    * verdict as the operational contract. */
  def ingestDqGate(rows: DataFrame, rules: Seq[String],
                   cleansedTable: String, quarantineTable: String,
                   checkpoint: String,
                   availableNow: Boolean = false,
                   maintainEvery: Int = 0,
                   maintain: (SparkSession, Long) => Unit = (_, _) => ()): StreamingQuery =
    gateLoop(rows, checkpoint, availableNow, Seq(cleansedTable, quarantineTable),
        maintainEvery, maintain) { case GateBatch(_, b, id) =>
      val (pass, fail) = new graft.dq.DqEngine().splitByRules(b, rules)
      writeBatchPartition(pass.withColumn("batch_id", lit(id)), cleansedTable, id)
      writeBatchPartition(fail.withColumn("batch_id", lit(id)), quarantineTable, id)
    }

  /** Streaming DATASET-TIER DQ GATE — the reference's warn and halt tiers
    * (`dataquality_check.py:116-171`) as a micro-batch loop, completing the
    * three-action set beside the row-level quarantine gate
    * ([[ingestDqGate]]): each micro-batch is evaluated AS A DATASET against
    * `warnRules` and `haltRules` (Completeness ratios, RowCount,
    * Mean/Sum/StdDev bounds, IsUnique, CustomSql — the same DQDL dialect as
    * the batch tiers), one outcome row per (tier, rule) lands in
    * `resultsTable` as the batch's batch_id partition (the K7 results shape
    * plus batch_id), and then:
    *   - WARN failures are recorded and the batch still FLOWS to
    *     `sinkTable` (one batch_id partition, committed via
    *     [[BatchCommitLog]]);
    *   - a HALT failure is recorded and then FAILS THE STREAM — the batch
    *     is never written to the sink and never committed, so
    *     [[readCommitted]] exposes nothing of it. On restart the same batch
    *     REPLAYS: evaluation is deterministic, its outcome partition is
    *     overwritten (never duplicated), and the stream halts again until
    *     the rules change or the source data is repaired — halt is a
    *     standing verdict, not a one-shot exception. Read `resultsTable`
    *     RAW (not [[readCommitted]]) to observe failures: the failing
    *     batch's outcome partition is exactly the uncommitted one.
    *
    * BATCH-COMPOSITION CAVEAT (the reason [[ingestDqGate]] takes row-level
    * rules only): a dataset verdict is a function of how the stream
    * happened to batch — a `Completeness >= 0.9` can pass every micro-batch
    * yet fail their union, and vice versa. These tiers gate BATCHES (the
    * operational per-delivery health check the reference runs per arriving
    * file); for dataset-level truth over everything ingested, run the batch
    * `evaluateDataset` over the drained table. Outcome rows are exact under
    * replay because the outcome partition is per-batch overwritten.
    *
    * This is [[ingestRulesetDqGate]] with no quarantine tier: `sinkTable`
    * is its cleansed table, and no quarantine table is written. */
  def ingestDatasetDqGate(rows: DataFrame, warnRules: Seq[String],
                          haltRules: Seq[String], sinkTable: String,
                          resultsTable: String, checkpoint: String,
                          availableNow: Boolean = false): StreamingQuery =
    ingestRulesetDqGate(rows, warnRules, quarantineRules = Nil, haltRules,
      cleansedTable = sinkTable, quarantineTable = "", resultsTable, checkpoint,
      availableNow)

  /** Streaming EXACT-SUBSTRING DEDUP GATE — the daily form of the
    * character-exact scrub ([[graft.operators.SuffixArray
    * .incrementalScrubRepeatedCharSpans]]) as a standing micro-batch
    * query, completing the fixpoint-index gate family (dedup, ANN, DQ):
    * each arriving batch of documents is scrubbed against everything
    * ingested before it ∪ itself, its
    * `(idCol, n_chars, n_masked, scrubbed_text)` report lands in
    * `reportTable`, and its own window statistics
    * ([[graft.operators.SuffixArray.charWindowIndex]] over the batch)
    * APPEND to `indexTable` — both as batch_id partitions under the
    * [[BatchCommitLog]] replay contract.
    *
    * The index table is APPEND-ONLY and PER-DOCUMENT
    * ([[graft.operators.SuffixArray.charWindowIndexPerDoc]]): a valid
    * decomposition of the union index (hotness needs only per-content
    * SUMS, keep-first only per-content MINS — the incremental operator
    * aggregates the batch-touched slice after its map-side hash cut),
    * with every row owned by exactly ONE document so
    * [[graft.catalog.Retention.deleteRowsAll]] on `first_doc` forgets a
    * document EXACTLY. Probe cost is ∝ the STORED OCCURRENCES of
    * batch-touched window contents — the same per-occurrence shape as
    * the BM25 postings and minhash bucket-membership probes, NOT bounded
    * by the batch alone: content hot across the whole corpus (universal
    * boilerplate) makes its slice grow with the corpus. The compact
    * one-row-per-content form probes less but cannot forget; this gate
    * picks forgettability.
    *
    * PRECONDITION (shared with [[ingestDedupGate]]'s id contract): each
    * document id arrives in at most one committed batch — a re-delivered
    * id would double-count its windows in the sums (the upstream exact
    * dedup gate is the fix). Under it, rows are identity-keyed by
    * `(first_doc, w)`, which is therefore the safe `dedupKeys` for
    * [[graft.catalog.Compaction.consolidateBatches]].
    *
    * Replay safety: the stored side excludes THIS batch's partition (a
    * crash between the index append and the commit must not count the
    * batch against itself); both writes are per-batch partition
    * overwrites. Reports are DELIVERY-ORDER-SCOPED like
    * [[ingestDedupGate]]'s: a window shared by two batches is hot in the
    * later one (and in the earlier one only if it repeats within it or in
    * prior state). The index STATE is order-independent — its aggregation
    * equals the one-shot [[graft.operators.SuffixArray.charWindowIndex]]
    * over everything ingested, which is the oracle-checkable contract. */
  def ingestSubstringDedupGate(docs: DataFrame, textCol: String, idCol: String,
                               minLen: Int, keepFirst: Boolean,
                               reportTable: String, indexTable: String,
                               checkpoint: String,
                               availableNow: Boolean = false,
                               maintainEvery: Int = 0,
                               maintain: (SparkSession, Long) => Unit = (_, _) => ()): StreamingQuery = {
    import graft.operators.SuffixArray
    gateLoop(docs, checkpoint, availableNow, Seq(reportTable, indexTable),
        maintainEvery, maintain) { case GateBatch(_, b, id) =>
      val ss = b.sparkSession
      // ONE window-kernel pass over the batch, shared by the scrub
      // and the index append
      val wins = SuffixArray.batchWindows(b, idCol, textCol, minLen).localCheckpoint(true)
      val batchIdx = SuffixArray.perDocIndexOfWindows(wins)
      val stored =
        if (ss.catalog.tableExists(indexTable))
          // exclude THIS batch's partition: a replay after a crash
          // between the index append and the commit must not count
          // the batch against itself
          ss.table(indexTable).filter(col("batch_id") =!= lit(id)).drop("batch_id")
        else batchIdx.limit(0) // the writer's own schema: first_doc has the id type
      // needUpdatedIndex=false: the gate appends PER-DOC index rows
      // below — the compact updated index the scrub can return is
      // discarded, so its window-content distinct must not execute
      val (report, _) = SuffixArray.incrementalScrubRepeatedCharSpans(stored, b,
        idCol, textCol, minLen, keepFirst, precomputedWindows = Some(wins),
        needUpdatedIndex = false)
      writeBatchPartition(report.withColumn("batch_id", lit(id)), reportTable, id)
      writeBatchPartition(batchIdx.withColumn("batch_id", lit(id)), indexTable, id)
    }
  }

  /** Streaming THREE-TIER DQ GATE — the reference's full per-hook ruleset
    * (`dataquality_check.py:266-316`, `run_data_quality`) as ONE
    * micro-batch evaluation: each arriving batch runs warn + quarantine +
    * halt in a single foreachBatch, in the reference's order and with its
    * quirks intact, unifying what [[ingestDqGate]] (row quarantine) and
    * [[ingestDatasetDqGate]] (dataset warn/halt) previously required two
    * standing queries — and two passes over the batch — to express.
    *
    * Per batch, in reference order:
    *   1. WARN outcomes are evaluated and recorded; the batch always flows.
    *   2. QUARANTINE rules split the batch row-wise
    *      ([[graft.dq.DqEngine.splitByRules]] — the batch tier's predicate
    *      compiler); failing rows land in `quarantineTable`, and the
    *      tier's per-rule outcomes are recorded. Quarantining EVERY row is
    *      itself a halt (`dataquality_check.py:257-259`) — checked BEFORE
    *      the halt tier, as the reference does.
    *   3. HALT rules evaluate on the PRE-quarantINE frame — the reference's
    *      `:312` quirk ("even rows filtered above can trigger abort"): a
    *      batch whose bad rows were all quarantined away still halts if
    *      those rows trip a halt rule. A failure fails the stream; the
    *      cleansed batch is never written and never committed.
    *
    * Crash/replay ordering: per-(tier, rule) outcome rows land in
    * `resultsTable` FIRST (a halt verdict must be observable though its
    * batch never commits), then the quarantine partition (the reference
    * persists quarantined rows before evaluating halt), then — only past
    * both halt checks — the cleansed partition and the
    * [[BatchCommitLog]] commit. Every write is a per-batch partition
    * overwrite, so a replayed batch (after a crash, a standing halt, or a
    * rule relaxation) REPLACES its outcome/quarantine rows rather than
    * duplicating them, and [[readCommitted]] exposes nothing of an
    * uncommitted batch. With no quarantine rules, `quarantineTable` is
    * neither written nor read.
    *
    * [[ingestDqGate]]'s batch-composition caveat applies to the DATASET
    * tiers here exactly as in [[ingestDatasetDqGate]]: warn/halt verdicts
    * gate BATCHES. Keep quarantine rules row-level for
    * batch-boundary-independent splits. */
  def ingestRulesetDqGate(rows: DataFrame, warnRules: Seq[String],
                          quarantineRules: Seq[String], haltRules: Seq[String],
                          cleansedTable: String, quarantineTable: String,
                          resultsTable: String, checkpoint: String,
                          availableNow: Boolean = false,
                          maintainEvery: Int = 0,
                          maintain: (SparkSession, Long) => Unit = (_, _) => ()): StreamingQuery = {
    require(warnRules.nonEmpty || quarantineRules.nonEmpty || haltRules.nonEmpty,
      "no rules configured")
    val stateTables = cleansedTable +:
      (if (quarantineRules.isEmpty) Nil else Seq(quarantineTable)) :+ resultsTable
    gateLoop(rows, checkpoint, availableNow, stateTables,
        maintainEvery, maintain) { case GateBatch(_, b, id) =>
      val ss = b.sparkSession
      import ss.implicits._
      val eng = new graft.dq.DqEngine()
      def outcomesOf(rules: Seq[String]) =
        if (rules.isEmpty) Nil else eng.evaluateDataset(b, rules)
      val warnOut = outcomesOf(warnRules)
      val quarOut = outcomesOf(quarantineRules)
      val (pass, fail) =
        if (quarantineRules.isEmpty) (b, b.limit(0))
        else eng.splitByRules(b, quarantineRules)
      // halt evaluates the PRE-quarantine frame (the :312 quirk)
      val haltOut = outcomesOf(haltRules)
      val outcomes = (warnOut.map("warn" -> _) ++
          quarOut.map("quarantine" -> _) ++ haltOut.map("halt" -> _))
        .map { case (tier, o) => (tier, o.rule, o.outcome,
          o.metric.getOrElse(Double.NaN), o.failureReason.getOrElse("")) }
        .toDF("tier", "rule", "outcome", "metric", "failure_reason")
        .withColumn("batch_id", lit(id))
      // results FIRST, quarantined rows SECOND: both must be
      // observable even when a halt below keeps the batch uncommitted
      writeBatchPartition(outcomes, resultsTable, id)
      if (quarantineRules.nonEmpty) {
        writeBatchPartition(fail.withColumn("batch_id", lit(id)), quarantineTable, id)
        if (pass.count() == 0L)
          throw new RuntimeException(s"DQ gate at batch $id: quarantined all rows")
      }
      val haltFailed = haltOut.filterNot(_.passed)
      if (haltFailed.nonEmpty)
        throw new RuntimeException(
          s"Dataset DQ halt at batch $id: " + haltFailed.map(_.rule).mkString("; "))
      writeBatchPartition(pass.withColumn("batch_id", lit(id)), cleansedTable, id)
    }
  }

  /** Streaming ANN INGEST GATE — [[graft.operators.Ann.ivfPqAppend]]'s
    * encode-only contract as a micro-batch maintenance loop: each arriving
    * batch of vectors is assigned to its inverted list and PQ-encoded under
    * the FIXED model, and its (id, list, code) rows land in `indexTable` as
    * one batch_id partition. The raw vectors are read once, at arrival, and
    * never again — searches ([[graft.operators.Ann.ivfPqSearch]] over the
    * table, minus batch_id) touch only the m-byte codes, completing the
    * streaming leg of the fixpoint-index family (dedup q168/q183, BM25
    * q170, CC q171).
    *
    * Replay safety mirrors [[ingestDedupGate]]: [[BatchCommitLog]] guard +
    * per-batch partition overwrite. Encode is row-wise, so the accumulated
    * index equals the one-shot build over everything ingested (the q169
    * equality) no matter how the stream batched it; id uniqueness and
    * codebook drift carry ivfPqAppend's documented contract. */
  def ingestAnnGate(vecs: DataFrame, vecCol: String, idCol: String,
                    centroids: Array[Array[Double]],
                    codebooks: Array[Array[Array[Double]]],
                    indexTable: String, checkpoint: String,
                    availableNow: Boolean = false,
                    maintainEvery: Int = 0,
                    maintain: (SparkSession, Long) => Unit = (_, _) => ()): StreamingQuery =
    // encode reads the raw batch once: no checkpoint; the loop's probe
    // reads only each partition's first row
    gateLoop(vecs, checkpoint, availableNow, Seq(indexTable), maintainEvery, maintain,
        view = identity) { case GateBatch(_, b, id) =>
      val encoded = graft.operators.Ann
        .ivfPqIndex(b, vecCol, idCol, centroids, codebooks)
        .withColumn("batch_id", lit(id))
      writeBatchPartition(encoded, indexTable, id)
    }

  /** Stream-stream INTERVAL JOIN — the attribution shape (click →
    * conversion within a window): inner-join two event streams on `keyCol`
    * where the right event lands in `[left.ts, left.ts + withinSecs]`.
    * With watermarks on BOTH sides plus the time-range predicate, Structured
    * Streaming bounds the join state: a left row is dropped once the right
    * watermark passes `left.ts + withinSecs`, so state is O(events in the
    * window), never O(stream) — the only stream-stream join shape that
    * survives an unbounded 100 TB event stream. Emits in Append mode as
    * matches become final. The two inputs must carry DISTINCT timestamp
    * column names (they both survive into the output). Batch frames run the
    * identical join (withWatermark is a no-op in batch), which is how the
    * oracle replays it. */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   leftTs: String, rightTs: String, withinSecs: Long,
                   watermark: String, joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    // For OUTER variants the NULL-padded unmatched rows are emitted only
    // when the watermark provably rules out a future match (left_ts +
    // within + delay) — on a bounded drain, stage a watermark-advancing
    // far-future row on BOTH sides or trailing unmatched rows never emit
    // (same contract as the sessionize sentinel).
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") +
          expr(s"INTERVAL $withinSecs SECONDS"),
      joinType)
      .drop(col(s"r.$keyCol"))
  }

  /** Run a streaming frame to completion over currently-available input and
    * return the collected result via a memory sink (test/drain helper).
    * Pass OutputMode.Complete for aggregated streams; the Append default
    * suits sources/maps/sessionize. */
  def drainToMemory(df: DataFrame, queryName: String,
                    mode: OutputMode = OutputMode.Append): DataFrame = {
    val q: StreamingQuery = df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    df.sparkSession.table(queryName)
  }

  /** Drain via `processAllAvailable` instead of Trigger.AvailableNow:
    * AvailableNow stops with the DATA, skipping the no-data micro-batches
    * that flush watermark-expired state — an OUTER join's NULL-padded
    * unmatched rows are emitted exactly there, so under AvailableNow a
    * bounded drain never surfaces them (measured: zero NULL rows even with
    * a watermark-advancing sentinel). processAllAvailable blocks until the
    * engine is idle INCLUDING those no-data batches. Drain-only helper —
    * a production unbounded stream keeps running and flushes naturally. */
  def drainToMemoryProcessAll(df: DataFrame, queryName: String,
                              mode: OutputMode = OutputMode.Append): DataFrame = {
    val q: StreamingQuery = df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(mode)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    df.sparkSession.table(queryName)
  }
}
