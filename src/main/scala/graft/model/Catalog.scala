package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Table registry + read-view builder.
  *
  * A graft table is an append-only Parquet directory; upsert / merge
  * semantics are applied as a *view* at read time (SURVEY.md §1.1):
  *
  *  - last_row:      `row_number() over (partition by pk order by seq desc) = 1`
  *  - last_non_null: per-field `first(value, ignoreNulls)` over the same key
  *  - append:        raw read
  *  - ttl:           `time_index >= now() - ttl` filter injected at scan
  *
  * At 100 TB the dedup window shuffles on (tags, ts) once; downstream
  * per-series operators (RANGE, PromQL) reuse that clustering.
  * Compaction ([[Catalog.compactSnapshot]] + the on-disk manifest)
  * materializes the deduped snapshot so steady-state reads skip the
  * window entirely, and post-compaction appends pay it only on the
  * keys they touch (SURVEY §7.3(c)).
  */
final class Catalog(spark: SparkSession) {
  private val specs = scala.collection.concurrent.TrieMap.empty[String, TableSpec]

  def register(spec: TableSpec): Unit = specs.put(spec.name, spec)
  def deregister(name: String): Option[TableSpec] = specs.remove(name)
  def spec(name: String): TableSpec = specs(name)
  def tables: Seq[String] = specs.keys.toSeq.sorted

  /** Raw append-stream read (no merge semantics). mergeSchema unions
    * file footers so ALTER TABLE ADD COLUMN is a metadata-only change
    * (older files surface the new column as null). */
  def raw(name: String): DataFrame = Catalog.rawRead(spark, spec(name).path)

  /** The merged read view: what SQL queries against this table see.
    * Compaction-aware for merge-mode tables (SURVEY §7.3(c)): when the
    * on-disk manifest says the files are exactly the compacted
    * snapshot, the scan is window-free (steady state at 100 TB); when a
    * delta was appended since, only keys the delta touches pay the
    * merge window — cost ∝ delta, not corpus. */
  def read(name: String): DataFrame =
    Catalog.compactionAwareRead(spark, spec(name))

  /** Register the read view as a temp view so spark.sql can use it. */
  def createView(name: String): Unit = read(name).createOrReplaceTempView(name)

  /** Per-series scan (reference mito2 series_scan.rs): co-locate each
    * series on one partition, time-ordered within it — the input shape
    * the RANGE / PromQL / lastpoint operators want. One shuffle on the
    * tags; the sort is partition-local, never global. */
  def seriesScan(name: String): DataFrame = {
    val s = spec(name)
    Catalog.partSort(read(name), s.tags, s.timeIndex)
  }
}

object Catalog {
  private val SeqCol = "__graft_seq"

  /** One non-recursive listing of a table dir: the data files Spark's
    * scan reads (underscore/dot names excluded, name-sorted) and whether
    * the compaction manifest sits beside them. Every read view is built
    * from one listing — the schema-cache key, the single-split decision
    * and the manifest check all come from it. */
  final case class Listing(files: Seq[org.apache.hadoop.fs.FileStatus],
      hasManifest: Boolean) {
    def names: Set[String] = files.map(_.getPath.getName).toSet
    private def entries = files.map(f =>
      s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
    /** Every data file's (name, length, mtime): any append, rewrite or
      * compaction changes it. */
    def sig: String = entries.mkString("|")
    /** This listing is `before` plus newly added files: nothing of
      * `before` was removed or rewritten. */
    def grewFrom(before: Listing): Boolean = before.entries.toSet.subsetOf(entries.toSet)
  }

  // Listing assumptions: graft tables are FLAT directories (the
  // non-recursive listing would miss partitioned layouts) and every
  // writer emits fresh part-file names (an in-place same-name/same-length
  // rewrite inside mtime granularity would serve a stale schema — no
  // graft writer does that).
  private def listDir(spark: SparkSession, path: String): Listing = {
    val all = fsOf(spark, path).listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
    def hidden(n: String) = n.startsWith("_") || n.startsWith(".")
    Listing(all.filterNot(s => hidden(s.getPath.getName)).sortBy(_.getPath.getName),
      all.exists(_.getPath.getName == ManifestFile))
  }

  /** [[listDir]], or None when the listing fails for any non-fatal
    * reason: callers then fall back to the plain mergeSchema read, with
    * no schema cache, no single-split plan and no clean-path check. */
  def listing(spark: SparkSession, path: String): Option[Listing] =
    try Some(listDir(spark, path))
    catch { case scala.util.control.NonFatal(e) =>
      Console.err.println(
        s"[catalog] listing failed for $path, falling back to mergeSchema: ${e.getMessage}")
      None
    }

  /** Merged-schema cache: (path, listing signature) → merged schema.
    * Bounded: cleared wholesale past 4096 entries (schemas are tiny; the
    * bound only guards very long golden runs that rewrite tables
    * thousands of times). */
  private val mergedSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), org.apache.spark.sql.types.StructType]()

  /** The table's merged schema, CACHED per (path, exact file listing) —
    * optimization round 10. Spark's `mergeSchema=true` runs a
    * footer-union JOB on every read, and the SQL frontend reads a table
    * several times per statement (target schema, read view refresh,
    * flow sources): merge_compacted_read profiled 6+ such jobs per run.
    * Reading with the cached merged schema is semantically identical to
    * mergeSchema (per-file projection with null fill), minus the
    * per-read footer job. */
  def schemaOf(spark: SparkSession, path: String): org.apache.spark.sql.types.StructType =
    schemaOf(spark, path, listing(spark, path))

  def schemaOf(spark: SparkSession, path: String,
      l: Option[Listing]): org.apache.spark.sql.types.StructType =
    l.filter(_.files.nonEmpty) match {
      case None => mergeSchemaRead(spark, path).schema
      case Some(l) =>
        if (mergedSchemaCache.size > 4096) mergedSchemaCache.clear()
        mergedSchemaCache.computeIfAbsent((path, l.sig), _ =>
          mergeSchemaRead(spark, path).schema)
    }

  private def mergeSchemaRead(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Pre-seed the schema cache after an append that PROVABLY kept the
    * schema (INSERT writes columns aligned to the full target schema,
    * so the merged schema of the new listing equals `schema`, the merged
    * schema of `before`) — optimization round 11. Without this, every
    * INSERT invalidates the cache by design and the next statement pays
    * a fresh footer-union job; at 100 TB that job scans every file
    * footer in the table to rediscover a schema the writer already
    * knew. Self-checking: primes only when the new listing is exactly
    * `before` plus newly added files; after any other change (a file
    * removed or rewritten, a failed listing) the cache stays cold. */
  def primeSchemaCacheAfterAppend(spark: SparkSession, path: String,
      before: Option[Listing], schema: org.apache.spark.sql.types.StructType): Unit =
    for (b <- before if b.files.nonEmpty; after <- listing(spark, path)
         if after.grewFrom(b))
      mergedSchemaCache.put((path, after.sig), schema): Unit

  /** Whether Spark's file scan packs data files of these byte lengths
    * into ONE split, by Spark's own rule and settings: the split size of
    * `FilePartition.maxSplitBytes` (spark.sql.files.maxPartitionBytes,
    * spark.sql.files.openCostInBytes, the leaf default parallelism),
    * then the scan's largest-first packing, which starts a new split
    * when the next file would overflow it (each packed file also costs
    * openCostInBytes). Files are cut at the split size first, so one
    * file above it is several splits. Empty files count toward the
    * split size but yield no split. */
  private[graft] def singleSplit(spark: SparkSession, lens: Seq[Long]): Boolean = {
    val conf = spark.sessionState.conf
    val open = conf.filesOpenCostInBytes
    val maxSplit = org.apache.spark.sql.execution.datasources.FilePartition
      .maxSplitBytes(spark, lens.map(_ + open).sum)
    val sizes = lens.filter(_ > 0)
    // packing never overflows iff all but the first file's bytes plus
    // their open costs still fit the split; spark.sql.files.maxPartitionNum
    // = 1 re-packs any split count into one
    sizes.isEmpty || sizes.sum + (sizes.size - 1) * open <= maxSplit ||
      conf.filesMaxPartitionNum.contains(1)
  }

  /** Raw append-stream read (no merge semantics) of the table at `path`. */
  def rawRead(spark: SparkSession, path: String): DataFrame =
    scan(spark, path, listing(spark, path))

  /** The table scan for one listing. When Spark would read the whole
    * listing as one split, the scan is `coalesce(1)`: its CoalesceExec
    * reports SinglePartition, which satisfies every clustered and
    * ordered distribution, so the plan above it needs no exchange — no
    * shuffle stage for a GROUP BY or merge window, no range-sampling job
    * for a global ORDER BY, no AQE stage to re-plan. The scan already
    * ran as one task; only the exchanges go. */
  private def scan(spark: SparkSession, path: String, l: Option[Listing]): DataFrame =
    l.filter(_.files.nonEmpty) match {
      case None => mergeSchemaRead(spark, path)
      case Some(l) =>
        val df = spark.read.schema(schemaOf(spark, path, Some(l))).parquet(path)
        if (singleSplit(spark, l.files.map(_.getLen))) df.coalesce(1) else df
    }

  /** PartSortExec equivalent (reference query/src/part_sort.rs): sort
    * inside existing partitions without a global shuffle-sort. With
    * `keys` empty the frame keeps its current partitioning; otherwise
    * hash-partition by the keys first (series co-location). */
  def partSort(df: DataFrame, keys: Seq[String], orderBy: String): DataFrame = {
    val partitioned =
      if (keys.isEmpty) df else df.repartition(keys.map(k => col(s"`$k`")): _*)
    partitioned.sortWithinPartitions((keys :+ orderBy).map(k => col(s"`$k`")): _*)
  }

  def readView(df: DataFrame, spec: TableSpec): DataFrame = {
    // ttl='instant' drops rows at write (scans never see them); a
    // duration ttl expires rows only when flush/compaction materializes
    // it (ttl/ttl_instant.result vs flow/flow_advance_ttl.result: rows
    // older than the ttl stay visible until ADMIN flush/compact)
    val ttlFiltered = spec.ttlMillis match {
      case Some(0L) => df.filter(lit(false))
      case _ => df
    }
    spec.mergeMode match {
      case MergeMode.Append => ttlFiltered
      case _ => spec.compactedSeq
          // the delta split orders against REAL persisted seqs; without
          // a physical seq column fall back to the full merge window
          .filter(_ => spec.seqColumn.exists(df.columns.contains)) match {
        case Some(s) => mergeDelta(ttlFiltered, spec, s)
        case None if spec.mergeMode == MergeMode.LastRow =>
          dedupLastRow(ttlFiltered, spec)
        case None => dedupLastNonNull(ttlFiltered, spec)
      }
    }
  }

  // ── Compaction (SURVEY §7.3(c)) ─────────────────────────────────────
  //
  // ADMIN compact_table on a merge-mode table rewrites the Parquet to
  // the merged snapshot (reference: mito compaction merging SSTs with
  // the same dedup semantics the read path applies,
  // mito2/src/read/dedup.rs:301-425) and records a manifest beside the
  // data: the compacted seq bound + the exact file listing it produced.
  // The read path then picks one of three plans:
  //   listing == manifest  → CLEAN: scan only, NO window (steady state)
  //   listing ⊃ manifest   → DELTA: window only keys the delta touches
  //   no manifest          → full merge window (today's behavior)
  // The manifest is on-disk state — it survives restarts, exactly like
  // the minhash/digest dedup indexes.

  /** Manifest file name; the leading underscore keeps Spark's Parquet
    * reader from treating it as data. */
  private val ManifestFile = "_graft_compaction"

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Record a just-finished compaction: seq bound + file listing. */
  def writeCompactionManifest(spark: SparkSession, path: String,
      seq: Long): Unit = {
    val files = listDir(spark, path).names.toSeq.sorted
    val out = fsOf(spark, path).create(
      new org.apache.hadoop.fs.Path(path, ManifestFile), true)
    try out.write((seq.toString +: files).mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** (compacted seq bound, file listing at compaction time), if a
    * compaction ever ran on this dir. */
  def readCompactionManifest(spark: SparkSession,
      path: String): Option[(Long, Set[String])] = {
    val p = new org.apache.hadoop.fs.Path(path, ManifestFile)
    if (!fsOf(spark, path).exists(p)) None else parseManifest(spark, p)
  }

  private def parseManifest(spark: SparkSession,
      p: org.apache.hadoop.fs.Path): Option[(Long, Set[String])] = {
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split("\n").toSeq
    lines.headOption.flatMap(h => scala.util.Try(h.trim.toLong).toOption)
      .map(seq => (seq, lines.drop(1).map(_.trim).filter(_.nonEmpty).toSet))
  }

  /** Merge view of the table `spec` names that consults the compaction
    * manifest (see the plan table above), all from ONE listing of the
    * dir: the scan, the manifest's presence and the clean check. Falls
    * through to [[readView]] untouched for append tables and
    * never-compacted dirs. A failed listing takes the full merge window,
    * which is correct whatever the dir holds. */
  def compactionAwareRead(spark: SparkSession, spec: TableSpec): DataFrame = {
    val l = listing(spark, spec.path)
    val df = scan(spark, spec.path, l)
    if (spec.mergeMode == MergeMode.Append) readView(df, spec)
    else {
      val manifest = l.filter(_.hasManifest).flatMap(_ =>
        parseManifest(spark, new org.apache.hadoop.fs.Path(spec.path, ManifestFile)))
      manifest match {
        case Some((_, files)) if l.exists(_.names == files) =>
          // fully compacted, nothing arrived since: the files ARE the
          // merged view — scan-only read, column set identical to the
          // windowed view's (engine seq column hidden)
          readView(df, spec.copy(mergeMode = MergeMode.Append)).drop(SeqCol)
        case Some((seq, _)) =>
          readView(df, spec.copy(compactedSeq = Some(seq)))
        case None => readView(df, spec)
      }
    }
  }

  /** Physical snapshot a compaction writes: the merge view's rows WITH
    * the seq column kept (stamped with the winning row's seq), so rows
    * appended after the compaction — strictly larger statement seqs —
    * still order correctly against the snapshot at read time. */
  def compactSnapshot(df: DataFrame, spec: TableSpec): DataFrame = {
    val hadSeq = df.columns.contains(SeqCol)
    val seqd = withSeq(df, spec)
    val merged = spec.mergeMode match {
      case MergeMode.Append      => seqd
      case MergeMode.LastRow     => keepNewest(seqd, spec)
      case MergeMode.LastNonNull => mergeNonNullSeqd(seqd, spec)
    }
    if (hadSeq) merged else dropSeq(merged)
  }

  /** Delta+snapshot merge read for a compacted table that has seen
    * later appends: rows with seq <= `bound` are already merged (one
    * row per key); only keys the delta touches re-enter the merge
    * window. Un-hinted joins on the delta key set — AQE converts them
    * to broadcast when the delta is small (the steady-state case). All
    * key joins are null-safe (null tags are valid key values). */
  private def mergeDelta(df: DataFrame, spec: TableSpec,
      bound: Long): DataFrame = {
    val seqd = withSeq(df, spec)
    val keys = mergeKey(seqd, spec)
    // a null/unknown seq can't prove membership in the compacted
    // snapshot — treat it as delta, never silently drop the row
    val isDelta = col(SeqCol).isNull || col(SeqCol) > bound
    val dk = seqd.filter(isDelta)
      .select(keys.map(c => col(s"`$c`").as(s"__dk_$c")): _*).distinct()
    val cond = keys.map(c => col(s"`$c`") <=> col(s"`__dk_$c`"))
      .reduce(_ && _)
    val touched = seqd.join(dk, cond, "leftsemi")
    val untouched = seqd.filter(!isDelta).join(dk, cond, "left_anti")
    val merged = spec.mergeMode match {
      case MergeMode.Append      => touched
      case MergeMode.LastRow     => keepNewest(touched, spec)
      case MergeMode.LastNonNull => mergeNonNullSeqd(touched, spec)
    }
    dropSeq(merged.unionByName(untouched))
  }

  /** Materialize the write-order column ONCE so every window in the
    * dedup pipeline sees identical ordering (monotonically_increasing_id
    * is deterministic per evaluation but not across re-evaluations after
    * a shuffle). */
  private def withSeq(df: DataFrame, spec: TableSpec): DataFrame =
    spec.seqColumn.filter(df.columns.contains) match {
      case Some(c) => df.withColumn(SeqCol, col(c).cast("long"))
      case None    => df.withColumn(SeqCol, monotonically_increasing_id())
    }

  /** Default upsert: duplicate (pk, ts) keys keep the last-written row
    * (mito2 MergeMode::LastRow). */
  def dedupLastRow(df: DataFrame, spec: TableSpec): DataFrame =
    dropSeq(keepNewest(withSeq(df, spec), spec))

  /** merge_mode=last_non_null: for each field independently, the last
    * non-null write wins (mito2/src/read/dedup.rs:301-425). */
  def dedupLastNonNull(df: DataFrame, spec: TableSpec): DataFrame =
    dropSeq(mergeNonNullSeqd(withSeq(df, spec), spec))

  /** last_non_null merge over an already-seq'd frame, seq kept on the
    * surviving row — shared by the read view and [[compactSnapshot]]. */
  private def mergeNonNullSeqd(seqd: DataFrame, spec: TableSpec): DataFrame = {
    val pk = mergeKey(seqd, spec).toSet
    val fields = seqd.columns
      .filterNot(c => pk.contains(c) || c == SeqCol || spec.seqColumn.contains(c))
    // Ordered newest-first; frame [current, +inf) reaches back to older
    // writes, so first(ignoreNulls) == newest non-null value <= this row.
    val w = Window.partitionBy(mergeKey(seqd, spec).map(c => col(s"`$c`")): _*)
      .orderBy(col(SeqCol).desc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val merged = fields.foldLeft(seqd) { (d, f) =>
      d.withColumn(f, first(col(s"`$f`"), ignoreNulls = true).over(w))
    }
    keepNewest(merged, spec)
  }

  /** Merge key: the primary key plus, when the table stores one, the
    * time index's hidden sub-µs remainder — nanosecond-distinct rows
    * are distinct keys even though they share a µs timestamp. */
  private def mergeKey(df: DataFrame, spec: TableSpec): Seq[String] =
    spec.primaryKey ++
      Some(s"__nsr_${spec.timeIndex}").filter(df.columns.contains)

  private def keepNewest(df: DataFrame, spec: TableSpec): DataFrame = {
    val w = Window.partitionBy(mergeKey(df, spec).map(c => col(s"`$c`")): _*)
      .orderBy(col(SeqCol).desc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  private def dropSeq(df: DataFrame): DataFrame = df.drop(SeqCol)
}
