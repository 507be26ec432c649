package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.model.Catalog

/** Continuous queries — the reference's `CREATE FLOW <name> SINK TO
  * <sink> [EXPIRE AFTER <d>] AS SELECT ...` (sql/src/statements/
  * create.rs; engines in src/flow/, SURVEY.md §2.10).
  *
  * Both reference engines map onto one Spark design:
  *
  *  - **streaming engine** (flow/src/compute/): Structured Streaming —
  *    source stream → `withWatermark` (= EXPIRE AFTER state bound) →
  *    windowed aggregation → `outputMode(update)` + `foreachBatch`
  *    upsert. Late rows inside the watermark re-emit their window,
  *    which the upsert overwrites — the same late-data story as the
  *    reference's keyed retraction/overwrite (flow/src/compute/render/
  *    reduce.rs doc), without bespoke dataflow state.
  *  - **batching engine** (flow/src/batching_mode/): [[refreshOnce]] —
  *    re-run the flow query over a dirty time-window slice of the
  *    source and upsert the recomputed windows (batching_mode/
  *    time_window.rs derives the filter; callers pass it here).
  *
  * The sink is an append-only Parquet dir logically keyed by
  * (tags..., window_start); [[upsert]] replaces rows whose key appears
  * in the new batch. At 100 TB the sink should be partitioned by a
  * time bucket of window_start so a refresh rewrites only dirty
  * partitions — [[FlowDef.partitionBy]] wires that through.
  */
object Flow {

  /** Tumbling window — reference `tumble(ts, width[, origin])`
    * (flow/src/transform/expr.rs:364). Returns struct(start, end). */
  def tumble(ts: Column, width: String): Column = window(ts, width)

  def tumble(ts: Column, width: String, origin: String): Column =
    window(ts, width, width, origin)

  def tumbleStart(ts: Column, width: String): Column = tumble(ts, width).getField("start")
  def tumbleEnd(ts: Column, width: String): Column = tumble(ts, width).getField("end")

  /** One flow definition.
    *
    * @param keys        upsert key of the sink (tags + window start)
    * @param eventTime   event-time column of the SOURCE (pre-transform)
    * @param expireAfter watermark delay, e.g. "1 hour" — the EXPIRE
    *                    AFTER bound on how late a row may arrive and
    *                    still update its window
    * @param partitionBy optional sink partition columns (time bucket)
    * @param transform   the flow's SELECT: source frame → aggregated
    *                    frame whose schema is the sink schema
    */
  final case class FlowDef(
      name: String,
      sink: String,
      keys: Seq[String],
      transform: DataFrame => DataFrame,
      eventTime: Option[String] = None,
      expireAfter: Option[String] = None,
      partitionBy: Seq[String] = Nil,
      allowUnpartitioned: Boolean = false)

  /** An unpartitioned sink rewrites ENTIRELY on every refresh — fine for a
    * small in-session table, a scale-killer for a 100 TB sink. Partitioned
    * refreshes rewrite only the partitions the batch touches, so flows must
    * either declare a time-bucket `partitionBy` or opt out explicitly. */
  private def requirePartitioning(flow: FlowDef): Unit =
    require(flow.partitionBy.nonEmpty || flow.allowUnpartitioned,
      s"flow ${flow.name}: unpartitioned sink rewrites the whole sink per refresh; " +
        "set partitionBy (time bucket) or allowUnpartitioned=true for small sinks")

  /** Start the streaming engine for a flow. `source` must be a
    * streaming DataFrame (readStream / MemoryStream). */
  def start(source: DataFrame, flow: FlowDef, checkpoint: String): StreamingQuery = {
    require(source.isStreaming, s"flow ${flow.name}: source is not a stream")
    requirePartitioning(flow)
    val watermarked = (flow.eventTime, flow.expireAfter) match {
      case (Some(c), Some(d)) => source.withWatermark(c, d)
      case _ => source
    }
    flow.transform(watermarked)
      .writeStream
      .queryName(flow.name)
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsert(batch, flow.sink, flow.keys, flow.partitionBy)
      }
      .start()
  }

  /** Batching engine: one refresh cycle. `dirtyFilter` restricts the
    * source to the time windows that need recomputing (None = full
    * recompute); recomputed windows replace their sink rows. */
  def refreshOnce(source: DataFrame, flow: FlowDef,
      dirtyFilter: Option[Column] = None): Unit = {
    requirePartitioning(flow)
    val sliced = dirtyFilter.map(source.filter).getOrElse(source)
    upsert(flow.transform(sliced), flow.sink, flow.keys, flow.partitionBy)
  }

  /** Key-replace upsert into a Parquet dir: existing rows whose key
    * matches an incoming row are dropped, then the batch is appended.
    * Committed by [[Catalog.replaceDir]], so a reader never sees a
    * half-written sink. With `partitionCols`, only partitions
    * present in the batch are rewritten (the 100 TB path: time-bucket
    * partitions make a refresh O(dirty windows), not O(sink)). */
  def upsert(batch: DataFrame, sink: String, keys: Seq[String],
      partitionCols: Seq[String] = Nil): Unit = {
    val spark = batch.sparkSession
    val sinkPath = new Path(sink)
    val fs = sinkPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sinkHasData = fs.exists(sinkPath) && fs.listStatus(sinkPath).nonEmpty
    if (!sinkHasData) {
      val w = batch.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(sink)
      // plans resolved before the write would read a stale listing
      try spark.catalog.refreshByPath(sink) catch { case _: Throwable => () }
    } else if (partitionCols.nonEmpty) {
      // Rewrite only the partitions the batch touches: merged (kept rows
      // of touched partitions + the batch) is staged PARTITIONED once,
      // then each staged partition dir swaps in for its sink partition —
      // one write of the dirty set. Each swap leaves the old partition or
      // the new one, never neither; a failure between two swaps leaves
      // the earlier partitions new.
      val existing = spark.read.parquet(sink)
      val touched = batch.select(partitionCols.map(col): _*).distinct()
      val kept = existing
        .join(touched, partitionCols, "left_semi")
        .join(batch.select(keys.map(k => col(s"`$k`")): _*).distinct(), keys, "left_anti")
      // allowMissingColumns: the batch may carry sink columns that
      // exist only as declared metadata (ALTER ADD COLUMN on an empty
      // sink — flow_aft_alter's sample_cnt); old rows take null
      val merged = kept.unionByName(batch, allowMissingColumns = true)
      Catalog.replaceDir(spark, sink, partitionCols.length)(
        merged.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(_))
    } else {
      val existing = spark.read.parquet(sink)
      val merged = existing
        .join(batch.select(keys.map(k => col(s"`$k`")): _*).distinct(), keys, "left_anti")
        .unionByName(batch, allowMissingColumns = true)
      Catalog.replaceDir(spark, sink)(merged.write.mode("overwrite").parquet(_))
    }
  }
}
