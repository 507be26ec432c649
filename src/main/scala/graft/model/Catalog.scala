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

  /** A compaction manifest: the seq bound the compaction merged up to
    * and the data files it wrote (the compacted snapshot). */
  final case class Manifest(seq: Long, files: Set[String])

  /** One non-recursive listing of a table dir: the data files Spark's
    * scan reads (underscore/dot names excluded, name-sorted) and the
    * compaction manifest beside them, if one is there and whole. Every
    * read view is built from one listing — the schema-cache key, the
    * one-partition decision and the clean/DELTA choice all come from it.
    * The manifest is read on first use, so a schema-only listing opens
    * no file. */
  final case class Listing(files: Seq[org.apache.hadoop.fs.FileStatus])(
      readManifest: () => Option[Manifest]) {
    lazy val manifest: Option[Manifest] = readManifest()
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
    Listing(all.filterNot(s => hidden(s.getPath.getName)).sortBy(_.getPath.getName))(
      () => all.find(_.getPath.getName == ManifestFile).flatMap(parseManifest(spark, _)))
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

  /** Pre-seed the schema cache after a rewrite that replaced every data
    * file of the dir with the output of one write (compaction, a TTL or
    * truncate rewrite), when that write KEPT the schema: `written`, the
    * written frame's schema, equals `before`, the merged schema the
    * rewrite read. Every new file then carries `before`, so the next read
    * skips the footer-union job. A rewrite that changed a column (a type
    * migration, a dropped column) leaves the cache cold. */
  def primeSchemaCacheAfterRewrite(spark: SparkSession, path: String,
      before: org.apache.spark.sql.types.StructType,
      written: org.apache.spark.sql.types.StructType): Unit =
    if (written == before)
      for (after <- listing(spark, path) if after.files.nonEmpty)
        mergedSchemaCache.put((path, after.sig), before): Unit

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

  /** Whether the scan of this listing can run as ONE partition, by
    * rules Spark already has. Either every data file fits one split
    * ([[singleSplit]]), or the listing is a compacted snapshot plus a
    * delta where
    *  - the snapshot files (listing ∩ manifest) fit one split,
    *  - the delta files (listing − manifest) total at most
    *    spark.sql.autoBroadcastJoinThreshold bytes, a delta Spark would
    *    broadcast to the snapshot's task anyway, and
    *  - all their bytes as one file would fit one split, as they will
    *    once compacted: the one task reads no more than Spark gives one
    *    scan task. Only the per-file open cost of the delta's small files
    *    is not charged.
    * A never-compacted table takes the first rule only. */
  private[graft] def onePartition(spark: SparkSession, l: Listing): Boolean = {
    val lens = l.files.map(_.getLen)
    singleSplit(spark, lens) || l.manifest.exists { m =>
      val (snapshot, delta) = l.files.partition(f => m.files(f.getPath.getName))
      singleSplit(spark, snapshot.map(_.getLen)) &&
        delta.map(_.getLen).sum <= spark.sessionState.conf.autoBroadcastJoinThreshold &&
        singleSplit(spark, Seq(lens.sum))
    }
  }

  /** Raw append-stream read (no merge semantics) of the table at `path`. */
  def rawRead(spark: SparkSession, path: String): DataFrame =
    scan(spark, path, listing(spark, path))._1

  /** The table scan for one listing, and whether it is one partition.
    * When [[onePartition]] holds, the scan is `coalesce(1)`: its
    * CoalesceExec reports SinglePartition, which satisfies every
    * clustered and ordered distribution, so the plan above it needs no
    * exchange — no shuffle stage for a GROUP BY or merge window, no
    * range-sampling job for a global ORDER BY, no AQE stage to re-plan.
    * The files are read in one task instead of one per split. */
  private def scan(spark: SparkSession, path: String,
      l: Option[Listing]): (DataFrame, Boolean) =
    l.filter(_.files.nonEmpty) match {
      case None => (mergeSchemaRead(spark, path), false)
      case Some(l) =>
        val df = spark.read.schema(schemaOf(spark, path, Some(l))).parquet(path)
        if (onePartition(spark, l)) (df.coalesce(1), true) else (df, false)
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

  /** The merge view over `df`, a scan of the table `spec` names.
    * `onePartition`: `df` is a one-partition scan ([[onePartition]]), so
    * a DELTA merge keeps its key joins inside that one task. */
  def readView(df: DataFrame, spec: TableSpec,
      onePartition: Boolean = false): DataFrame = {
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
        case Some(s) => mergeDelta(ttlFiltered, spec, s, onePartition)
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
  // The read path then picks its merge view, and the scan under it its
  // partitioning, from the same listing:
  //   listing == manifest → CLEAN: scan only, NO window (steady state);
  //                         one partition when the files fit one split
  //   listing ⊃ manifest  → DELTA: window only keys the delta touches;
  //                         one partition when the snapshot files fit
  //                         one split, the delta files total at most
  //                         autoBroadcastJoinThreshold bytes and all the
  //                         bytes as one file would fit one split, so
  //                         the key joins and the window run in one task
  //                         with no exchange (compaction's rewrite, which
  //                         reads through rawRead, takes the same scan)
  //   no manifest         → full merge window (a torn or old-format
  //                         manifest counts as none); one partition when
  //                         the files fit one split
  // Any other listing keeps Spark's split-per-task plan with exchanges.
  // The manifest is on-disk state — it survives restarts, exactly like
  // the minhash/digest dedup indexes.

  /** Manifest file name; the leading underscore keeps Spark's Parquet
    * reader from treating it as data. */
  private val ManifestFile = "_graft_compaction"

  /** Last manifest line: the number of file entries above it. */
  private val ManifestTrailer = "_entries"

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Record a just-finished compaction: the seq bound, one line per data
    * file, then an entry-count trailer, every line newline-terminated.
    * The text goes to a hidden temp file that is renamed into place, so
    * a reader sees the whole manifest or none; a manifest cut short
    * anyway fails the trailer check and reads as none. */
  def writeCompactionManifest(spark: SparkSession, path: String,
      seq: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val files = listDir(spark, path).names.toSeq.sorted
    val fs = fsOf(spark, path)
    val target = new Path(path, ManifestFile)
    val tmp = new Path(path, ManifestFile + ".tmp")
    val out = fs.create(tmp, true)
    try out.write((seq.toString +: files :+ s"$ManifestTrailer ${files.size}")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    // a local rename replaces an old manifest in one step; where the
    // file system refuses to, the old one goes first, and a reader in
    // between sees none (the full merge window, still correct)
    if (!fs.rename(tmp, target)) {
      fs.delete(target, false)
      if (!fs.rename(tmp, target))
        throw new java.io.IOException(s"cannot rename $tmp to $target")
    }
  }

  /** (compacted seq bound, file listing at compaction time), if a
    * compaction ever ran on this dir and its manifest is whole: the
    * listing's [[Listing.manifest]], for callers outside the engine
    * (perfbench's read-path observer). */
  def readCompactionManifest(spark: SparkSession,
      path: String): Option[(Long, Set[String])] =
    listing(spark, path).flatMap(_.manifest).map(m => (m.seq, m.files))

  /** Torn manifests already reported, by (path, modification time). */
  private val tornReported = java.util.concurrent.ConcurrentHashMap
    .newKeySet[(String, Long)]()

  /** The manifest `st`, or None when it is torn or of an older,
    * trailer-less format: the table then reads with the full merge
    * window, which is correct whatever the dir holds, until the next
    * compaction writes a whole manifest. Reported once per manifest. */
  private def parseManifest(spark: SparkSession,
      st: org.apache.hadoop.fs.FileStatus): Option[Manifest] = {
    val p = st.getPath
    def read = {
      val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    val whole = for {
      // a failed read (a checksum mismatch, say) is a torn manifest too
      text <- scala.util.Try(read).toOption
      lines = text.split("\n", -1).toSeq
      body <- Some(lines.init).filter(_ => lines.last.isEmpty) // newline-terminated
      seq <- body.headOption.flatMap(_.toLongOption)
      n <- body.lastOption.filter(_.startsWith(ManifestTrailer + " "))
        .flatMap(_.stripPrefix(ManifestTrailer + " ").toIntOption)
      files = body.slice(1, body.size - 1)
      if body.size >= 2 && files.size == n
    } yield Manifest(seq, files.toSet)
    if (whole.isEmpty && tornReported.add((p.toString, st.getModificationTime)))
      Console.err.println(
        s"[catalog] compaction manifest $p is torn or has no entry-count trailer; " +
          "reading with the full merge window")
    whole
  }

  /** Merge view of the table `spec` names that consults the compaction
    * manifest (see the plan table above), all from ONE listing of the
    * dir: the scan and its partitioning, the manifest and the clean
    * check. Falls through to [[readView]] untouched for append tables
    * and never-compacted dirs. A failed listing takes the full merge
    * window, which is correct whatever the dir holds. */
  def compactionAwareRead(spark: SparkSession, spec: TableSpec): DataFrame = {
    val l = listing(spark, spec.path)
    val (df, one) = scan(spark, spec.path, l)
    if (spec.mergeMode == MergeMode.Append) readView(df, spec)
    else l.flatMap(_.manifest) match {
      case Some(m) if l.exists(_.names == m.files) =>
        // fully compacted, nothing arrived since: the files ARE the
        // merged view — scan-only read, column set identical to the
        // windowed view's (engine seq column hidden)
        readView(df, spec.copy(mergeMode = MergeMode.Append)).drop(SeqCol)
      case Some(m) => readView(df, spec.copy(compactedSeq = Some(m.seq)), one)
      case None => readView(df, spec)
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
    * window. One left outer join on the delta key set marks them: a
    * marked row is touched, an unmarked one is snapshot and passes
    * through (every delta row's key is in the set).
    *
    * On a one-partition scan (`onePartition`) the join is a shuffled
    * hash join built on the delta keys inside that one task, and the
    * union of the two branches is coalesced back to one partition: no
    * exchange, and the read is one job. (The optimizer would push a
    * semi or anti join below the scan's coalesce, so those plan
    * exchanges.) On a wider scan the join is un-hinted, and AQE
    * broadcasts the delta keys when they are small. All key joins are
    * null-safe (null tags are valid key values). */
  private def mergeDelta(df: DataFrame, spec: TableSpec,
      bound: Long, onePartition: Boolean): DataFrame = {
    val seqd = withSeq(df, spec)
    val keys = mergeKey(seqd, spec)
    // a null/unknown seq can't prove membership in the compacted
    // snapshot — treat it as delta, never silently drop the row
    val isDelta = col(SeqCol).isNull || col(SeqCol) > bound
    val dk = seqd.filter(isDelta)
      .select(keys.map(c => col(s"`$c`").as(s"__dk_$c")) :+ lit(true).as("__dk"): _*)
      .distinct()
    val cond = keys.map(c => col(s"`$c`") <=> col(s"`__dk_$c`"))
      .reduce(_ && _)
    val marked = seqd.join(if (onePartition) dk.hint("shuffle_hash") else dk, cond, "left_outer")
    def rows(touched: Boolean) =
      marked.filter(if (touched) col("__dk").isNotNull else col("__dk").isNull)
        .select(seqd.columns.map(c => col(s"`$c`")): _*)
    val merged = spec.mergeMode match {
      case MergeMode.Append      => rows(touched = true)
      case MergeMode.LastRow     => keepNewest(rows(touched = true), spec)
      case MergeMode.LastNonNull => mergeNonNullSeqd(rows(touched = true), spec)
    }
    // a union of two one-partition branches has two partitions
    val all = dropSeq(merged.unionByName(rows(touched = false)))
    if (onePartition) all.coalesce(1) else all
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
