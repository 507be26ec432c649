package graft.sql

/** Declared column metadata, in declared order — drives DESC TABLE,
  * INSERT defaults and FIRST/AFTER column placement. */
private[sql] case class ColMeta(name: String, gtype: String, nullable: Boolean,
    default: Option[String],
    sqlType: Option[String] = None,    // declared token when it differs
                                       // from the canonical rendering
                                       // (VARBINARY vs BINARY)
    indexDecl: Option[String] = None,  // FULLTEXT/SKIPPING/INVERTED
                                       // INDEX clause for SHOW CREATE
    comment: Option[String] = None)    // column COMMENT 'text'

/** One JSON2 type hint: dotted path, normalized SQL + arrow type
  * names, nullability, declared DEFAULT literal text
  * (sql/src/parsers/create_parser/json.rs; types/json/
  * json2_type_hints.sql). */
private[sql] case class J2Hint(path: Vector[String], sqlType: String,
    arrowType: String, nullable: Boolean, default: Option[String])

/** One table's session metadata: what the reference keeps in a region's
  * metadata record (store-api/src/metadata.rs) beyond the `TableSpec`
  * the catalog holds. Immutable: DDL replaces a table's record, RENAME
  * re-keys it, DROP TABLE removes it and USE swaps the whole name-keyed
  * map (`GraftSession.tableMeta`) with the database, so no lifecycle path
  * lists fields. A table registered without DDL reads `TableMeta.Empty`.
  *
  * Four per-table facts stay outside the record:
  *  - `tableEpoch`, because it must outlive a DROP: a flow bound to the
  *    dropped incarnation stops refreshing (flow_rebuild.result);
  *  - `pgOids`, because every information_schema refresh rebuilds it;
  *  - `metricPhy` / `logicalParent`, because they link two tables;
  *  - `sstFiles`, because it is a log of flushed SST entries. */
private[sql] case class TableMeta(
    /** declared columns in declared (FIRST/AFTER-adjusted) order; empty
      * for a table registered without DDL */
    colMeta: Vector[ColMeta] = Vector.empty,
    /** ALTER-dropped columns: session metadata only, the files keep the
      * bytes and the read view hides them */
    droppedCols: Set[String] = Set.empty,
    /** ADD COLUMN ... DEFAULT backfills: (column, default expr, seq at
      * ALTER time) — rows predating an ALTER ... DEFAULT read the default */
    backfills: Vector[(String, String, Long)] = Vector.empty,
    /** per-column write-time type history after MODIFY COLUMN type
      * changes: (seq watermark, greptime type) — rows with __seq <= the
      * watermark were written under that type; storage is STRING and
      * each row casts write-type -> current type at read
      * (alter_table.result) */
    typeHistory: Map[String, Vector[(Long, String)]] = Map.empty,
    /** timestamp defaults resolved to absolute instants at DDL time: the
      * reference parses the literal under the session timezone ONCE
      * (alter_table_default.result: a later SET time_zone must not move
      * an already-declared default); `colMeta` keeps the original string
      * for DESC/SHOW CREATE display */
    colDefaultResolved: Map[String, String] = Map.empty,
    /** µs per unit for numeric literals into the TIME INDEX
      * (TIMESTAMP(0) = s, (3) = ms, (6) = µs; -1 marks (9) = ns) */
    tsLiteralUs: Long = 1000L,
    /** the table holds a row with a nonzero sub-µs remainder: only such
      * tables need the ns-fidelity statement rewrites, everything else
      * renders identically from µs storage */
    nsRemainder: Boolean = false,
    /** JSON2 shredding generations: the seq recorded at each flush bounds
      * a schema-union batch; compaction collapses prior batches into one
      * (types/json/json2.sql — rows 1-6 share one union after swcs) */
    j2Boundaries: Vector[Long] = Vector.empty,
    /** JSON2 column → its declared type hints */
    j2Hints: Map[String, Vector[J2Hint]] = Map.empty,
    /** case-collision shadow columns: (name, default, typeTok), declared
      * but not parquet-materialized (alter/add_col.sql "IdC") */
    shadowCols: Vector[(String, Option[String], String)] = Vector.empty,
    /** the WITH options as declared or SET, for SHOW CREATE TABLE and
      * the option-driven paths (skip_wal, ttl, table_data_model, ...) */
    tableOpts: Seq[(String, String)] = Nil,
    /** WITH-option keys the user single-quoted (SHOW CREATE echoes the
      * original quoting) */
    quotedOptNames: Set[String] = Set.empty,
    /** table engine (metric, or the default mito) */
    tableEngine: String = "mito",
    /** PARTITION ON COLUMNS (cols) (rules) clause, normalized */
    partitionClause: Option[(Seq[String], Seq[String])] = None,
    /** durability watermark of a skip_wal table: rows with `__seq` <= it
      * survive restart() (written while the WAL was on, or flushed);
      * without one a skip_wal table loses everything unflushed
      * (common/skip_wal.result) */
    durableSeq: Long = Long.MinValue,
    /** seq of the last ADMIN FLUSH_TABLE: the next flush's SST holds the
      * rows written after it */
    sstFlushSeq: Long = 0L,
    /** CREATE EXTERNAL TABLE: (format, location) of a temp view over
      * files, not in the catalog; USE drops and re-creates the view */
    external: Option[(String, String)] = None)

private[sql] object TableMeta {
  val Empty: TableMeta = TableMeta()
}
