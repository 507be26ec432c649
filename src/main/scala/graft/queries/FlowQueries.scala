package graft.queries

import org.apache.spark.sql.functions._
import graft.streaming.Flow
import graft.streaming.Flow.FlowDef
import QueryDsl._

/** Continuous-query (flow) coverage — SURVEY.md §2.10. The batch
  * equivalent of a tumbling flow runs through the real refresh + upsert
  * path: a first refresh writes stale partial aggregates, a second full
  * refresh must overwrite every dirty window, and the final sink
  * contents are hash-compared against the plain GROUP BY oracle.
  * Streaming-mode semantics (watermark expiry, late-data overwrite) are
  * pinned by FlowSpec with a MemoryStream source.
  */
object FlowQueries {

  /** Fixture epoch for the streaming watermark entries:
    * 2026-01-01T00:00:00Z. */
  private val wmEpoch = 1767225600L

  /** Watermark-clock document for the streaming-curation entry: a row
    * that must PASS the Gopher filter (a filtered row never reaches the
    * EventTimeWatermark collector — BENCH_NOTES "Streaming curation
    * semantics") — 54 varied words, 6 distinct required stop words, no
    * repeated grams, all alphabetic. The oracle embeds the same literal
    * and derives its token count by the same split, so nothing is
    * hand-counted. */
  private val CurationClockText: String =
    "the river keeps moving past old stone bridges and quiet farms while " +
    "travelers walk along its bank to watch herons lift from shallow water " +
    "each morning brings new light over distant hills and every evening " +
    "small boats return with nets full of silver fish that local markets " +
    "sell before night settles across the valley"

  /** Stage each DataFrame as ONE parquet file in `tmp/in`, mtime-
    * ordered — the file stream source schedules by modification time,
    * so maxFilesPerTrigger=1 under Trigger.AvailableNow drains them as
    * that many micro-batches in sequence. Returns the input dir. */
  private def stageBatches(tmp: String,
      batches: Seq[org.apache.spark.sql.DataFrame]): String = {
    val in = new java.io.File(s"$tmp/in"); in.mkdirs()
    batches.zipWithIndex.foreach { case (b, i) =>
      val stage = s"$tmp/stage$i"
      b.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(in, f"b$i%d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      // the watermark oracles assume mtime-ordered micro-batches: a
      // silently failed mtime set (some filesystems) would fall back to
      // write-time mtimes that can collide within a millisecond and
      // nondeterministically merge batches — fail loudly instead
      require(dst.setLastModified((wmEpoch + i * 60L) * 1000L),
        s"stageBatches: setLastModified failed for $dst — " +
          "micro-batch ordering would be nondeterministic")
    }
    in.toString
  }

  val queries: Map[String, Q] = Map(
    "flow_tumble" -> ((s, d) => {
      val sink = tempDirCleanedOnExit("graft_flow") + "/sink"
      // events.ts is BIGINT nanoseconds (nanosAsLong)
      val ev = T(s, d, "events").withColumn("t", timestamp_micros(expr("ts div 1000")))
      // time-bucket partitioned sink: refreshes rewrite only dirty days
      val flow = FlowDef(
        name = "flow_tumble", sink = sink,
        keys = Seq("event_type", "window_start"),
        partitionBy = Seq("window_day"),
        transform = df =>
          df.groupBy(Flow.tumble(col("t"), "1 hour").as("w"), col("event_type"))
            .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
            .select(col("event_type"),
              unix_millis(col("w.start")).as("window_start"),
              col("n"), col("total"))
            .withColumn("window_day", expr("window_start div 86400000")))
      Flow.refreshOnce(ev.filter(col("user_id") < 500), flow) // stale first pass
      Flow.refreshOnce(ev, flow) // full refresh must overwrite every window
      s.read.parquet(sink)
        .select("event_type", "window_start", "n", "total")
        .orderBy(col("event_type"), col("window_start"))
    }),

    "flow_stream_dedup" -> ((s, d) => {
      // dedup-at-ingest through the REAL Structured Streaming engine:
      // a parquet file stream drained under Trigger.AvailableNow, with
      // state-store dropDuplicates emitting each key exactly once into
      // an append sink — the streaming counterpart of the §1.1 last_row
      // merge view. Output is the KEY SET (which row survives per key
      // is engine-arbitrary, the key set is not), so the oracle is a
      // plain DISTINCT. Global distinct needs unbounded state by
      // definition; time-scoped keys at 100 TB use
      // dropDuplicatesWithinWatermark to expire state instead.
      val tmp = tempDirCleanedOnExit("graft_sdedup")
      val path = s"$d/events.parquet"
      // the file stream source requires a DIRECTORY: stream the sf dir
      // with a glob pinning the one table (no copy)
      val src = s.readStream.schema(s.read.parquet(path).schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(d)
      val q = src.select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
        .writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", s"$tmp/sink")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$tmp/sink")
        .orderBy(col("user_id"), col("event_type"))
    }),

    "flow_stream_dedup_watermark" -> ((s, d) => {
      // STATE EXPIRY for dedup-at-ingest (the EXPIRE AFTER analog the
      // plain flow_stream_dedup entry only promises): four micro-
      // batches through dropDuplicatesWithinWatermark(delay=10min),
      // watermark advancing between batches, pinning exactly which
      // late duplicates re-emit once their key's state expires. State
      // for a key expires when the eviction watermark passes
      // firstArrival+delay — and eviction runs at the END of a batch,
      // AFTER that batch's rows were matched against state (probed:
      // a dup arriving in the same batch the watermark first exceeds
      // its expiry is still dropped; the NEXT batch re-emits).
      //
      //   b0: even users @t0 (expiry 10), odd users + clock1 @t12
      //       (expiry 22) -> watermark 2
      //   b1: dup even @t5, dup odd @t13 -> DROPPED (state held);
      //       clock2 @t25 -> watermark 15
      //   b2: dup even/odd @t14 -> DROPPED (eviction is end-of-batch);
      //       then evens' state (expiry 10 < 15) is evicted
      //   b3: even @t17 RE-EMITS (state gone); odd @t17 dropped
      //       (expiry 22 > 15, still held)
      //
      // Expected sink: even users twice (0, 17), odd once (12),
      // clock1 (12), clock2 (25) — SQL-expressible, so unlike the
      // unbounded entry the oracle encodes the expiry semantics, not a
      // plain DISTINCT.
      val tmp = tempDirCleanedOnExit("graft_sdedup_wm")
      def at(m: Int): org.apache.spark.sql.Column =
        timestamp_seconds(lit(wmEpoch + m * 60L))
      val users = T(s, d, "events").select(col("user_id")).distinct()
      val evens = users.filter(col("user_id") % 2 === 0)
      val odds = users.filter(col("user_id") % 2 === 1)
      def clock(id: Long, m: Int) =
        evens.limit(1).select(lit(id).as("user_id"), at(m).as("t"))
      val in = stageBatches(tmp, Seq(
        evens.select(col("user_id"), at(0).as("t"))
          .unionByName(odds.select(col("user_id"), at(12).as("t")))
          .unionByName(clock(-1L, 12)),
        evens.select(col("user_id"), at(5).as("t"))
          .unionByName(odds.select(col("user_id"), at(13).as("t")))
          .unionByName(clock(-2L, 25)),
        evens.select(col("user_id"), at(14).as("t"))
          .unionByName(odds.select(col("user_id"), at(14).as("t"))),
        evens.select(col("user_id"), at(17).as("t"))
          .unionByName(odds.select(col("user_id"), at(17).as("t")))))
      val src = s.readStream
        .schema(s.read.parquet(in).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in)
      val q = src.withWatermark("t", "10 minutes")
        .dropDuplicatesWithinWatermark("user_id")
        .writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", s"$tmp/sink")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$tmp/sink")
        .select(col("user_id"),
          ((unix_timestamp(col("t")) - wmEpoch) / 60).cast("long").as("t_min"))
        .orderBy(col("user_id"), col("t_min"))
    }),

    "flow_stream_tumble_watermark" -> ((s, d) => {
      // APPEND-MODE WINDOWED AGGREGATION through the real streaming
      // engine: five micro-batches, 10-minute tumbling count with a
      // 10-minute watermark, pinning Spark's TWO-LAGGED watermark
      // design (probed in tools/WmAggProbe): during batch N the
      // EVICTION watermark is computed from data through batch N-1
      // (a window emits in the first batch whose eviction watermark
      // reaches its end), while the LATE-EVENT filter uses the
      // eviction watermark of batch N-1 — one batch older. So:
      //
      // The late filter is WINDOW-END based, not row-time based (this
      // entry caught it: a @13 row arriving under late wm 15 still
      // counts because its window ends at 20 > 15):
      //
      //   b0: users@2 (W0=[0,10)), users@12 (W1=[10,20)), clock1@12
      //       -> evict wm 2
      //   b1: users@3 -> in time for W0; clock2@25 -> evict wm 15
      //   b2: users@5 -> STILL counted into W0 (late wm = b1's
      //       eviction value 2; W0 end 10 > 2); users@17 -> W1;
      //       clock3@40; W0 EMITS this batch (end 10 <= evict wm 15)
      //       with count 3U
      //   b3: users@13 -> COUNTED into W1 (late wm 15 < W1 end 20 —
      //       the window-end rule); users@5 -> DROPPED (W0 end 10 <=
      //       late wm 15; a buggy re-open would emit a SECOND W0 row
      //       at flush); W1 emits this batch (end 20 <= evict wm 30)
      //       with count 3U+1; clock4@70
      //   b4: clock5@71 -> evict wm 60 flushes W2/W3; the clocks' own
      //       [70,80) window never emits (wm stops at 61)
      //
      // Expected sink: (0, 3U), (10, 3U+1), (20, 1), (40, 1) — one
      // row per window (the oracle's fixed four rows also pin the
      // no-reopen rule).
      val tmp = tempDirCleanedOnExit("graft_stumble_wm")
      def at(m: Int): org.apache.spark.sql.Column =
        timestamp_seconds(lit(wmEpoch + m * 60L))
      val users = T(s, d, "events").select(col("user_id")).distinct()
      def clock(id: Long, m: Int) =
        users.limit(1).select(lit(id).as("user_id"), at(m).as("t"))
      val in = stageBatches(tmp, Seq(
        users.select(col("user_id"), at(2).as("t"))
          .unionByName(users.select(col("user_id"), at(12).as("t")))
          .unionByName(clock(-1L, 12)),
        users.select(col("user_id"), at(3).as("t"))
          .unionByName(clock(-2L, 25)),
        users.select(col("user_id"), at(5).as("t"))
          .unionByName(users.select(col("user_id"), at(17).as("t")))
          .unionByName(clock(-3L, 40)),
        users.select(col("user_id"), at(13).as("t"))
          .unionByName(users.select(col("user_id"), at(5).as("t")))
          .unionByName(clock(-4L, 70)),
        clock(-5L, 71)))
      val src = s.readStream
        .schema(s.read.parquet(in).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in)
      val q = src.withWatermark("t", "10 minutes")
        .groupBy(window(col("t"), "10 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("ws"), col("n"))
        .writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", s"$tmp/sink")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$tmp/sink")
        .select(((unix_timestamp(col("ws")) - wmEpoch) / 60).cast("long")
          .as("w_min"), col("n"))
        .orderBy(col("w_min"))
    }),

    "flow_stream_curation" -> ((s, d) => {
      // The COMPOSED streaming curation pipeline a 100 TB ingest
      // actually deploys, through the REAL engine in one query:
      // watermark → Gopher quality filter → keyed dedup with state
      // expiry → windowed per-source stats, append sink. Two stateful
      // operators chained; semantics written down in BENCH_NOTES
      // ("Streaming curation semantics") and pinned by this entry's
      // oracle:
      //  - a row the quality filter drops does NOT advance the
      //    watermark (Catalyst pushes the filter below the
      //    EventTimeWatermark node) — so the watermark clocks are
      //    GOOD probe docs, not junk;
      //  - the window emits in the first batch whose eviction
      //    watermark (data through the previous batch) reaches its
      //    end — the same two-lagged rule as the single-operator
      //    entries;
      //  - a deduped key contributes its FIRST arrival's event time;
      //  - a key re-arriving after state expiry re-emits and counts
      //    into the window of the re-arrival.
      //
      // Fixture (delay 10 min, 10-min windows; wave = the full
      // documents table with text_gopher_quality's planted schedule, so
      // which docs survive the filter is the Gopher oracle's keep set):
      //   b0: wave@2 (W0) + good clock c1@12        -> evict wm 2
      //   b1: dup wave@5 (dedup-dropped) + c2@25    -> evict wm 15
      //   b2: dup wave@17 (state held end-of-batch; DROPPED), then
      //       wave state (expiry 12 < 15) evicts; W0 emits; c3@40
      //   b3: wave@29 RE-EMITS into W2 (state gone); a FRESH late doc
      //       @7 is quality-good and dedup-new but its window closed
      //       (W0 end 10 <= late wm 15) -> dropped
      //   b4: c4@55 (flush W2)
      // Expected sink: W0 + W2 = per-source keep counts/token sums,
      // W1 = c1, W2 also c2; c3/c4's own windows never flush.
      val tmp = tempDirCleanedOnExit("graft_scur")
      def at(m: Int): org.apache.spark.sql.Column =
        timestamp_seconds(lit(wmEpoch + m * 60L))
      val docs = T(s, d, "documents")
      val plantedText = concat(
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" "), col("text"))).otherwise(col("text")),
        when(col("doc_id") % 3 === 0, lit(" of the and"))
          .when(col("doc_id") % 3 === 1, lit(" to")).otherwise(lit("")))
      val base = docs.select(col("doc_id"), col("source"), plantedText.as("text"))
      def wave(m: Int) = base.select(col("doc_id"), col("source"),
        col("text"), at(m).as("t"))
      def probeDoc(id: Long, m: Int) = base.limit(1).select(lit(id).as("doc_id"),
        lit("probe").as("source"), lit(CurationClockText).as("text"), at(m).as("t"))
      val in = stageBatches(tmp, Seq(
        wave(2).unionByName(probeDoc(-1L, 12)),
        wave(5).unionByName(probeDoc(-2L, 25)),
        wave(17).unionByName(probeDoc(-3L, 40)),
        wave(29).unionByName(probeDoc(-100L, 7)),
        probeDoc(-4L, 55)))
      val src = s.readStream
        .schema(s.read.parquet(in).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in)
      val q = src.withWatermark("t", "10 minutes")
        .filter(graft.functions.GopherQuality.flags(col("text")).getField("keep"))
        .dropDuplicatesWithinWatermark("doc_id")
        .groupBy(window(col("t"), "10 minutes").as("w"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.functions.TextAnalysis.tokenCount(col("text")))
            .cast("long").as("sum_tokens"))
        .select(col("w.start").as("ws"), col("source"), col("n_docs"),
          col("sum_tokens"))
        .writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", s"$tmp/sink")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$tmp/sink")
        .select(((unix_timestamp(col("ws")) - wmEpoch) / 60).cast("long")
          .as("w_min"), col("source"), col("n_docs"), col("sum_tokens"))
        .orderBy(col("w_min"), col("source"))
    }),

    "flow_stream_index_dedup" -> ((s, d) => {
      // Dedup-at-INGEST with state in PARQUET instead of stream state:
      // a file stream drained as three micro-batches, each batch run
      // through the persisted two-index arrival protocol inside
      // foreachBatch (exact digests first, minhash over the exact
      // survivors, both indexes appended, accepted docs appended to the
      // sink) — the shape that survives a restart, because every piece
      // of dedup state is on disk, not in the state store (reference
      // analog: batching-mode flows writing to sink tables,
      // flow/src/batching_mode/task.rs). Batches are id-ranged so ids
      // follow arrival order:
      //   b0: natural docs (c1, c2]
      //   b1: natural docs (c2, max]
      //   b2: exact RE-CRAWLS (same text, new high ids) of bootstrap
      //       docs and of b0 docs — cross-batch duplicates that only
      //       the PERSISTED indexes can catch
      // The bootstrap corpus (ids <= c1) is indexed before the stream
      // starts and is not part of the streamed output. The oracle
      // replays the composed protocol over the full constructed corpus
      // and derives each doc's batch from its id range — with
      // arrival-ordered ids the one-shot replay IS the per-batch
      // protocol (the same equivalence the multishard entry pins).
      val tmp = tempDirCleanedOnExit("graft_sidx")
      val docs = T(s, d, "documents").select(col("doc_id"), col("text"))
      val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
      val c1 = maxId / 2; val c2 = maxId * 3 / 4
      val off1 = (maxId + 1) * 10; val off2 = (maxId + 1) * 11
      val dIdx = s"$tmp/digests"; val mIdx = s"$tmp/sigs"
      val boot = docs.filter(col("doc_id") <= c1)
      val be = graft.operators.Dedup.exactIndexWriteAndDedup(
        boot, "text", "doc_id", dIdx)
      val beSurv = be.filter(!col("is_dup")).drop("is_dup")
      graft.operators.Dedup.minhashIndexWrite(beSurv, "text", "doc_id", mIdx)
      val in = stageBatches(tmp, Seq(
        docs.filter(col("doc_id") > c1 && col("doc_id") <= c2),
        docs.filter(col("doc_id") > c2),
        docs.filter(col("doc_id") <= c1)
          .select((col("doc_id") + off1).as("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id") > c1 && col("doc_id") <= c2)
            .select((col("doc_id") + off2).as("doc_id"), col("text")))))
      val src = s.readStream.schema(s.read.parquet(in).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in)
      val q = src.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val e = graft.operators.Dedup.exactServeAppend(
            batch, "text", "doc_id", dIdx)
          val surv = e.filter(!col("is_dup")).drop("is_dup")
          val n = graft.operators.Dedup.minhashServeAppend(
            surv, "text", "doc_id", mIdx, threshold = 0.5)
          val v = LlmQueries.dupVerdict(e, n).withColumn("batch_id", lit(id))
          v.write.mode("append").parquet(s"$tmp/verdicts")
          v.filter(!col("is_dup")).select(col("doc_id"))
            .write.mode("append").parquet(s"$tmp/accepted")
          (): Unit
        }
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the accepted sink must be exactly the non-dup verdict set —
      // joined back so the oracle pins the sink append too
      val acc = s.read.parquet(s"$tmp/accepted")
        .select(col("doc_id"), lit(true).as("accepted"))
      s.read.parquet(s"$tmp/verdicts")
        .join(acc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("batch_id"), col("is_exact_dup"),
          col("is_near_dup"), col("is_dup"),
          coalesce(col("accepted"), lit(false)).as("accepted"))
        .orderBy(col("doc_id"))
    }),

    "flow_tumble_origin" -> ((s, d) => {
      // shifted grid: tumble(ts, 1h, origin 30m)
      val ev = T(s, d, "events").withColumn("t", timestamp_micros(expr("ts div 1000")))
      ev.groupBy(Flow.tumble(col("t"), "1 hour", "30 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), unix_millis(col("w.start")).as("window_start"), col("n"))
        .orderBy(col("event_type"), col("window_start"))
    })
  )

  val oracles: Map[String, String] = Map(
    "flow_tumble" ->
      """SELECT event_type, (epoch_ns(ts) // 3600000000000) * 3600000 AS window_start,
           COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS total
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    "flow_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""",

    // the expiry replay: even keys emit twice (first arrival @0, then
    // the batch-AFTER-eviction re-emit @17), odd keys once (@12, state
    // still within watermark), plus the two watermark-clock keys
    "flow_stream_dedup_watermark" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
         e AS (
           SELECT user_id, 0 AS t_min FROM u WHERE user_id % 2 = 0
           UNION ALL SELECT user_id, 17 FROM u WHERE user_id % 2 = 0
           UNION ALL SELECT user_id, 12 FROM u WHERE user_id % 2 = 1
           UNION ALL SELECT -1, 12
           UNION ALL SELECT -2, 25)
         SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(t_min AS BIGINT) AS t_min
         FROM e ORDER BY user_id, t_min""",

    // windowed-agg expiry replay: W0 = three user-waves (@2,@3,@5 — the
    // @5 wave is late but its window had not closed), W1 = three waves
    // + clock1 (@13 counts under the window-end late rule), W2/W3 = one
    // clock row each; exactly FOUR rows total — the b3 @5 wave must NOT
    // re-open the already-emitted W0, and the [70,80) clock window
    // never flushes
    "flow_stream_tumble_watermark" ->
      """WITH u AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS c
                    FROM events)
         SELECT CAST(w_min AS BIGINT) AS w_min, CAST(n AS BIGINT) AS n
         FROM (
           SELECT 0 AS w_min, 3 * c AS n FROM u
           UNION ALL SELECT 10, 3 * c + 1 FROM u
           UNION ALL SELECT 20, 1
           UNION ALL SELECT 40, 1)
         ORDER BY w_min""",

    // composed-pipeline replay: the Gopher CTE decides which wave docs
    // survive the filter (per-source counts + token sums over the
    // planted text), and the probed streaming semantics fix which
    // windows flush — W0 and W2 carry the full keep set (W2 is the
    // post-expiry re-emit), W1/W2 carry one probe doc each, the late @7
    // doc and the @5/@17 dup waves contribute nothing, and the @40/@55
    // probe windows never flush. The probe doc's token count is derived
    // by splitting the same literal — nothing hand-counted.
    "flow_stream_curation" -> (CurationQueries.gopherCte + s""",
         gk AS (SELECT doc_id FROM r
                WHERE pass_words AND pass_mean_wl AND pass_symbols
                  AND pass_lines AND pass_alpha AND pass_stops
                  AND pass_repetition),
         k AS (SELECT gk.doc_id, d0.source,
                 CAST(CASE WHEN length(trim(d.t)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(d.t), '\\s+')) END
                   AS BIGINT) AS tok
               FROM gk JOIN d USING (doc_id) JOIN documents d0 USING (doc_id)),
         ps AS (SELECT source, COUNT(*) AS n_docs,
                  CAST(SUM(tok) AS BIGINT) AS sum_tokens
                FROM k GROUP BY source),
         ck AS (SELECT CAST(len(regexp_split_to_array('$CurationClockText',
                  '\\s+')) AS BIGINT) AS tok)
         SELECT CAST(w_min AS BIGINT) AS w_min, source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(sum_tokens AS BIGINT) AS sum_tokens
         FROM (
           SELECT 0 AS w_min, source, n_docs, sum_tokens FROM ps
           UNION ALL SELECT 20, source, n_docs, sum_tokens FROM ps
           UNION ALL SELECT 10, 'probe', 1, tok FROM ck
           UNION ALL SELECT 20, 'probe', 1, tok FROM ck)
         ORDER BY w_min, source"""),

    "flow_tumble_origin" ->
      """SELECT event_type,
           ((epoch_ns(ts) - 1800000000000) // 3600000000000) * 3600000 + 1800000 AS window_start,
           COUNT(*) AS n
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    // composed exact→minhash replay over the constructed corpus
    // (bootstrap + three streamed batches, re-crawls as offset ids);
    // each doc's batch derived from its id range — with arrival-ordered
    // ids the one-shot replay equals the per-batch protocol
    "flow_stream_index_dedup" ->
      (s"WITH p(i, a, b) AS (VALUES ${LlmQueries.minhashPermRows})," + """
         mx AS (SELECT max(doc_id) AS mv FROM documents),
         corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + ((SELECT mv FROM mx) + 1) * 10, text
           FROM documents WHERE doc_id <= (SELECT mv FROM mx) // 2
           UNION ALL
           SELECT doc_id + ((SELECT mv FROM mx) + 1) * 11, text
           FROM documents
           WHERE doc_id > (SELECT mv FROM mx) // 2
             AND doc_id <= (SELECT mv FROM mx) * 3 // 4),
         ex AS (SELECT doc_id, text, row_number() OVER (
             PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
             ORDER BY doc_id) AS rn
           FROM corpus),""" +
        LlmQueries.minhashReplayCore("(SELECT doc_id, text FROM ex WHERE rn = 1)") + """,
         ndup AS (SELECT DISTINCT id_b AS id FROM est WHERE m >= 32)
         SELECT c.doc_id,
           CAST(CASE WHEN c.doc_id > (SELECT mv FROM mx) * 10 THEN 2
                     WHEN c.doc_id > (SELECT mv FROM mx) * 3 // 4 THEN 1
                     ELSE 0 END AS BIGINT) AS batch_id,
           ex.rn > 1 AS is_exact_dup,
           ndup.id IS NOT NULL AS is_near_dup,
           (ex.rn > 1 OR ndup.id IS NOT NULL) AS is_dup,
           NOT (ex.rn > 1 OR ndup.id IS NOT NULL) AS accepted
         FROM corpus c
         JOIN ex ON ex.doc_id = c.doc_id
         LEFT JOIN ndup ON ndup.id = c.doc_id
         WHERE c.doc_id > (SELECT mv FROM mx) // 2
         ORDER BY c.doc_id""")
  )
}
