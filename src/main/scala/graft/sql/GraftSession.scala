package graft.sql

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.{Catalog, MergeMode, SemanticType, TableSpec}
import graft.promql.{PromEval, PromParser}
import graft.promql.PromQL.{EvalParams, Metric}
import graft.streaming.Flow
import graft.streaming.Flow.FlowDef

/** SQL entry point — the Spark re-expression of the reference's
  * statement dispatch (operator/src/statement.rs:228 `execute_sql`,
  * SURVEY.md §3.1). GreptimeDB-specific statements are interpreted
  * here; everything else (the entire relational surface — joins,
  * windows, setops, CTEs, subqueries, TABLESAMPLE) passes through to
  * Catalyst via `spark.sql` over the catalog's registered read views.
  *
  * Handled statements:
  *  - `CREATE TABLE name (..., ts TIMESTAMP TIME INDEX, tag STRING
  *    PRIMARY KEY, ...) [PRIMARY KEY(...)] [WITH (k=v)]` — DDL with
  *    semantic roles (sql/src/statements/create.rs); options
  *    merge_mode / append_mode / ttl / path
  *  - `DROP TABLE`, `SHOW TABLES`, `DESC|DESCRIBE TABLE`
  *  - `INSERT INTO name VALUES ... | SELECT ...` → Parquet append +
  *    view refresh (read-time merge semantics stay intact)
  *  - `CREATE FLOW name SINK TO sink [EXPIRE AFTER 'd'] AS SELECT`
  *    (§2.10) + `ADMIN flush_flow(name)` to trigger a refresh
  *  - `TQL EVAL (start, end, step) <promql>` (§2.6, statements/tql.rs)
  *  - `col @@ 'term'` sugar → `matches_term(col, term)`
  *    (query/src/optimizer/transcribe_atat.rs)
  *  - `ADMIN fn(...)` no-op status stubs (common/function admin fns)
  */
final class GraftSession(spark0: SparkSession,
    private[sql] val warehouse: String = java.nio.file.Files.createTempDirectory("graft_wh").toString)
    extends GraftDialect with GraftDdl with GraftSystemCatalog with GraftFlowTql {

  /** Own cloned session: the dialect function overrides (date_format,
    * trunc) and temp views must not leak into the caller's session —
    * Spark 4 resolves even functions.date_format(...) through the
    * session registry. */
  val spark: SparkSession = spark0.newSession()
  // java.time results skip the legacy hybrid-calendar rebase that mangles
  // far-era timestamps (insert/nullable_tag.result -19578-12-20)
  spark.conf.set("spark.sql.datetime.java8API.enabled", "true")
  // single-quoted literals are verbatim in the reference (PG rules:
  // '\t' is backslash-t, '\d+' reaches regexp functions intact —
  // function/string/{repeat,regex}.result); Spark's default C-style
  // escape processing would eat the backslash
  spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")

  val catalog = new Catalog(spark)
  /** Serializable mirror of sessionTzOffsetMs for UDF closures (updated
    * by SET time_zone; declared before the UDF registration below). */
  private[sql] val tzOffsetRef = new java.util.concurrent.atomic.AtomicLong(0L)

  graft.functions.Registry.registerAll(spark)
  graft.functions.Registry.registerDialectOverrides(spark)
  // metric-engine __tsid (reference row_modifier.rs fxhash; UInt64 →
  // Decimal(20,0) so values above Long.MaxValue render unsigned)
  spark.udf.register("__graft_tsid",
    new org.apache.spark.sql.api.java.UDF2[scala.collection.Seq[String],
      scala.collection.Seq[String], java.math.BigDecimal] {
      def call(names: scala.collection.Seq[String],
          values: scala.collection.Seq[String]): java.math.BigDecimal = {
        val pairs = names.toSeq.zip(values.toSeq).filter(_._2 != null)
        graft.functions.Tsid.unsignedDecimal(graft.functions.Tsid.tsid(pairs))
      }
    }, org.apache.spark.sql.types.DecimalType(20, 0))
  // session-aware override: stored timestamps are UTC instants and the
  // reference renders date_format in the session time zone
  // (system/timezone.result) — including offsets Java rejects (+23:00)
  spark.udf.register("date_format", {
    val off = tzOffsetRef // serializable holder; do NOT capture `this`
    (ts: java.time.LocalDateTime, fmt: String) =>
      if (ts == null || fmt == null) null
      else graft.functions.Registry.Strftime.format(
        java.sql.Timestamp.valueOf(ts.plusNanos(off.get() * 1000000L)), fmt)
  })
  // `numbers` test table (table/src/table/numbers.rs:39-62): one UInt32
  // column `number`, default 100 rows; LIMIT n drives the generator
  // (numbers.rs:119 `request.limit.unwrap_or(100)`) — see dialect().
  spark.range(0, 100).selectExpr("CAST(id AS INT) AS number")
    .createOrReplaceTempView("numbers")

  // ---- databases (catalog/src/schema; USE swaps the visible tables) --
  /** Per-database saved table state: the specs and the metadata
    * records, swapped wholesale on USE. */
  private[sql] case class DbState(specs: Map[String, TableSpec],
      meta: Map[String, TableMeta])
  private val EmptyDb = DbState(Map.empty, Map.empty)
  /** The current database's per-table metadata records, by table name. */
  private[sql] val tableMeta = scala.collection.concurrent.TrieMap.empty[String, TableMeta]
  private[sql] def metaOf(t: String): TableMeta = tableMeta.getOrElse(t, TableMeta.Empty)
  /** Table `t`'s record in database `db`, current or saved. */
  private[sql] def metaIn(db: String, t: String): TableMeta =
    if (db == currentDb) metaOf(t)
    else dbSaved.get(db).flatMap(_.meta.get(t)).getOrElse(TableMeta.Empty)
  private[sql] def editMeta(t: String)(f: TableMeta => TableMeta): Unit =
    tableMeta.put(t, f(metaOf(t)))
  /** Declared columns, or None for a table registered without DDL. */
  private[sql] def declaredCols(t: String): Option[Vector[ColMeta]] =
    Some(metaOf(t).colMeta).filter(_.nonEmpty)
  private[sql] val dbOpts =
    scala.collection.concurrent.TrieMap[String, Seq[(String, String)]]("public" -> Nil)
  private[sql] val dbSaved = scala.collection.concurrent.TrieMap.empty[String, DbState]
  private[sql] var currentDb: String = "public"
  /** inside `USE information_schema` (virtual database: the real catalog
    * stays loaded; bare table names address the schema tables) */
  private[sql] var infoDb: Boolean = false

  /** Deployment shape the engine reports through
    * information_schema.cluster_info / ssts node_id: a standalone node
    * by default; set for the distributed corpus, where the reference
    * runs 3 datanodes + frontend + flownode + metasrv
    * (tests/cases/distributed/information_schema/cluster_info.result). */
  @volatile var distributedCluster: Boolean = false
  private[sql] val engineStartMs = System.currentTimeMillis()

  private[sql] val flows = scala.collection.concurrent.TrieMap.empty[String, (FlowDef, String)]
  /** COMMENT ON FLOW / CREATE FLOW ... COMMENT '...' texts. */
  private[sql] val flowComments = scala.collection.concurrent.TrieMap.empty[String, String]
  // per-statement write order; strictly monotone within the session
  private[sql] val seqCounter =
    new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis() * 1000L)

  // ---- public API -----------------------------------------------------

  def sql(statement: String): DataFrame = {
    // strip /* block comments */ so dispatch sees the statement keyword
    val stmt = stripBlockComments(statement).trim.stripSuffix(";").trim
    val up = stmt.toUpperCase(Locale.ROOT)
    // information_schema is read-only (system/information_schema.result)
    if (infoDb && (up.startsWith("CREATE TABLE") || up.startsWith("DROP TABLE") ||
        up.startsWith("ALTER TABLE") || up.startsWith("INSERT")))
      throw new IllegalArgumentException("information_schema is read-only")
    if (up.startsWith("SHOW WARNINGS")) {
      import spark.implicits._
      val out = lastWarnings.toDF("Level", "Code", "Message")
      lastWarnings = Nil
      return out
    }
    lastWarnings = Nil // warnings live for exactly one following statement
    if (up.startsWith("SELECT") || up.startsWith("WITH") || up.startsWith("TQL"))
      catchUpScheduledFlows(stmt)
    if (up.startsWith("CREATE EXTERNAL TABLE")) createExternalTable(stmt)
    else if (up.startsWith("CREATE TABLE")) createTable(stmt)
    else if (up.startsWith("DROP TABLE")) {
      val tgt = normTable(stmt.split("\\s+")
        .filterNot(t => t.equalsIgnoreCase("IF") || t.equalsIgnoreCase("EXISTS")).last)
      if (metaOf(tgt).external.isDefined) {
        spark.catalog.dropTempView(tgt)
        tableMeta.remove(tgt)
        status("table dropped")
      } else dropTable(stmt)
    }
    else if (up.startsWith("CREATE VIEW") || up.startsWith("CREATE OR REPLACE VIEW"))
      createView(stmt)
    else if (up.startsWith("DROP VIEW")) {
      val v = normTable(stmt.split("\\s+")
        .filterNot(t => t.equalsIgnoreCase("IF") || t.equalsIgnoreCase("EXISTS")).last)
      spark.catalog.dropTempView(v)
      userViews -= v
      userViewDefs -= v
      status("view dropped")
    }
    else if (up.startsWith("SHOW CREATE VIEW")) {
      import spark.implicits._
      val v = unquote(stmt.split("\\s+").last)
      val defn = userViewDefs.getOrElse(v,
        throw new IllegalArgumentException(s"view $v not found"))._1
      Seq((v, defn)).toDF("View", "Create View")
    }
    else if (up.startsWith("SHOW VIEWS")) {
      import spark.implicits._
      userViews.toSeq.sorted.toDF("Views")
    }
    else if (up.startsWith("ALTER TABLE")) alterTable(stmt)
    else if (up.startsWith("SHOW COLUMNS") || up.startsWith("SHOW FULL COLUMNS"))
      showColumns(stmt)
    else if (up.startsWith("SHOW TABLE STATUS")) {
      // MySQL-compat status listing over the information_schema tables
      // snapshot (show/show_databases_tables.sql pins the 18-col shape;
      // timestamps are redacted by the golden's REPLACE)
      refreshInfoSchema()
      val fromDb = "(?i)\\b(?:FROM|IN)\\s+([A-Za-z_\"`][A-Za-z0-9_\"`-]*)".r
        .findFirstMatchIn(stmt).map(m => unquote(m.group(1)))
      val like = "(?i)\\bLIKE\\s+'([^']*)'".r.findFirstMatchIn(stmt).map(_.group(1))
      val where = "(?is)\\bWHERE\\s+(.*)$".r.findFirstMatchIn(stmt).map(_.group(1).trim)
      val db = fromDb.getOrElse(if (infoDb) "information_schema" else currentDb)
      var df = spark.table(InfoSchema("tables").view)
        .filter(col("table_schema") === db)
        .select(col("table_name").as("Name"), col("engine").as("Engine"),
          col("version").as("Version"), col("row_format").as("Row_format"),
          col("table_rows").as("Rows"), col("avg_row_length").as("Avg_row_length"),
          col("data_length").as("Data_length"),
          col("max_data_length").as("Max_data_length"),
          col("index_length").as("Index_length"), col("data_free").as("Data_free"),
          col("auto_increment").as("Auto_increment"),
          col("create_time").as("Create_time"), col("update_time").as("Update_time"),
          col("check_time").as("Check_time"),
          col("table_collation").as("Collation"), col("checksum").as("Checksum"),
          col("create_options").as("Create_options"),
          col("table_comment").as("Comment"))
        .orderBy(col("Name"))
      like.foreach(p => df = df.filter(col("Name").rlike("^" + likeRegex(p) + "$")))
      where.foreach(w => df = df.where(dialect(w)))
      df
    }
    else if (up.startsWith("SHOW TABLES") || up.startsWith("SHOW FULL TABLES"))
      showTables(stmt)
    else if (up.startsWith("SHOW CREATE TABLE")) {
      val target = normTable(stmt.split("\\s+")(3))
      if (up.contains("FOR POSTGRES_FOREIGN_TABLE"))
        showCreateForeignTable(target)
      else showCreateTable(target)
    }
    else if (up.startsWith("SHOW CREATE DATABASE")) {
      import spark.implicits._
      val db = unquote(stmt.split("\\s+")(3))
      if (!dbOpts.contains(db))
        throw new IllegalArgumentException(s"database $db not found")
      val opts = dbOpts(db).sortBy(_._1).map { case (k, v) =>
        val key = if (k.matches("[A-Za-z_][A-Za-z0-9_]*")) k else s"'$k'"
        val ev0 = (if (k == "ttl") humanDuration(v) else v)
          .replace("\\", "\\\\") // backslashes render escaped (CJK comment golden)
        // ReadableSize values normalize through a float rendering
        // ('1KiB' -> '1.0KiB', show/show_create.result)
        val ev =
          if (k == "write_buffer_size" && ev0.matches("\\d+[KMGT]i?B"))
            ev0.replaceFirst("(\\d+)", "$1.0")
          else ev0
        s"  $key = '$ev'" }
      val lines = s"CREATE DATABASE IF NOT EXISTS $db" +:
        (if (opts.nonEmpty) ("WITH(" +: opts.zipWithIndex.map { case (o, i) =>
          if (i < opts.size - 1) o + "," else o } :+ ")") else Vector.empty)
      lines.zipWithIndex.map { case (l, i) => (if (i == 0) db else "", l) }
        .toDF("Database", "Create Database")
    }
    else if (up.startsWith("CREATE DATABASE")) createDatabase(stmt)
    else if (up.startsWith("CREATE SCHEMA"))
      createDatabase(stmt.replaceFirst("(?i)CREATE\\s+SCHEMA", "CREATE DATABASE"))
    else if (up.startsWith("DROP DATABASE")) dropDatabase(stmt)
    else if (up.startsWith("DROP SCHEMA"))
      dropDatabase(stmt.replaceFirst("(?i)DROP\\s+SCHEMA", "DROP DATABASE"))
    else if (up.startsWith("USE ")) {
      val target = unquote(stmt.split("\\s+").last)
      if (target.equalsIgnoreCase("information_schema")) {
        // virtual database: keep the real catalog loaded (its views read it)
        infoDb = true
        status("using information_schema")
      } else if (target.equalsIgnoreCase("pg_catalog")) {
        infoDb = false
        status("using pg_catalog") // virtual schema, catalog stays loaded
      } else {
        infoDb = false
        useDatabase(target)
      }
    }
    else if (up.startsWith("SET ")) setSession(stmt)
    else if (up.startsWith("SHOW DATABASES") || up.startsWith("SHOW SCHEMAS") ||
      up.startsWith("SHOW FULL DATABASES") || up.startsWith("SHOW FULL SCHEMAS"))
      showDatabases(stmt)
    else if (up.startsWith("ALTER DATABASE")) {
      // SET/UNSET database options; only ttl affects query results
      val kv = "(?is)SET\\s+'?([A-Za-z_][A-Za-z0-9_.]*)'?\\s*=\\s*'([^']*)'".r
      val nm = stmt.split("\\s+")(2)
      val db = unquote(nm)
      if (!dbOpts.contains(db))
        throw new IllegalArgumentException(s"database $db not found")
      kv.findFirstMatchIn(stmt).foreach { m =>
        val (k, v) = (m.group(1).toLowerCase(Locale.ROOT), m.group(2))
        // database-level ttl cannot be 'instant' (ttl/show_ttl.result)
        if (k == "ttl" && v == "instant")
          throw new IllegalArgumentException("database ttl cannot be instant")
        if (k == "ttl" && v.nonEmpty && v != "forever") parseTtlMs(v)
        // only the known database options are stored; unknown keys (e.g.
        // 'invalid.compaction.option') error (alter/alter_database.result)
        val known = Set("ttl", "memtable.type", "append_mode", "merge_mode",
          "skip_wal", "sst_format")
        if (!known(k) && !k.startsWith("compaction."))
          throw new IllegalArgumentException(s"Invalid database option key: $k")
        dbOpts.put(db, dbOpts(db).filterNot(_._1 == k) :+ (k -> v))
        // a database-level ttl change re-resolves for every table in the
        // db that has no ttl of its own (ttl/database_ttl.result)
        if (k == "ttl" && db == currentDb) {
          val ms = v match {
            case "" | "forever" => None
            case "instant" => Some(0L)
            case x => Some(parseTtlMs(x))
          }
          catalog.tables.foreach { t =>
            if (!metaOf(t).tableOpts.exists(_._1 == "ttl")) {
              catalog.register(catalog.spec(t).copy(ttlMillis = ms))
              refreshView(t)
            }
          }
        }
      }
      if (up.contains("UNSET")) {
        val k = "'([^']*)'".r.findFirstMatchIn(
          stmt.substring(stmt.toUpperCase(Locale.ROOT).indexOf("UNSET")))
        k.foreach(m => dbOpts.put(db, dbOpts(db).filterNot(_._1 == m.group(1))))
      }
      status(s"database $db altered")
    }
    else if (up.startsWith("DESCRIBE ") || up.startsWith("DESC ")) {
      val rawTarget = stmt.split("\\s+").last.stripSuffix(";")
      val target = normTable(rawTarget)
      val infoQualified = rawTarget.toLowerCase(Locale.ROOT)
        .startsWith("information_schema.")
      val bare = target.stripPrefix("information_schema__schema__")
      if (bare.startsWith("pg_") && pgTableDescs.contains(bare))
        describeSystemTable(pgTableDescs(bare))
      else if (infoDb || infoQualified)
        InfoSchema.get(bare).map(t => describeSystemTable(
          t.cols.map(c => (c.name, c.gtype, if (c.nullable) "YES" else "NO"))))
          .getOrElse(describeTable(target))
      else describeTable(target)
    }
    else if (up.startsWith("COMMENT ON ")) commentOn(stmt)
    else if (up.startsWith("INSERT INTO")) insert(stmt)
    // MySQL-style REPLACE INTO: same write path; duplicate keys resolve
    // through the last_row merge view
    else if (up.startsWith("REPLACE INTO"))
      insert("INSERT" + stmt.substring("REPLACE".length))
    else if (up.startsWith("DELETE FROM")) delete(stmt)
    else if (up.startsWith("TRUNCATE")) truncateTable(stmt)
    else if (up.startsWith("COPY ")) copyStatement(stmt)
    else if (up.startsWith("CREATE FLOW") || up.startsWith("CREATE OR REPLACE FLOW"))
      createFlow(stmt)
    else if (up.startsWith("DROP FLOW")) {
      val f = unquote(stmt.split("\\s+")
        .filterNot(t => t.equalsIgnoreCase("IF") || t.equalsIgnoreCase("EXISTS")).last)
      flows.remove(f)
      flowMeta.remove(f)
      flowComments.remove(f)
      status("flow dropped")
    }
    else if (up.startsWith("SHOW CREATE FLOW")) {
      import spark.implicits._
      val f = unquote(stmt.split("\\s+").last)
      val (_, query) = flows.getOrElse(f,
        throw new IllegalArgumentException(s"flow $f not found"))
      val sinkT = flowMeta.get(f).map(_.sinkTable).getOrElse("?")
      val q = query.replaceAll("\\s+", " ").trim
        .replaceAll("(?i)\\s+as\\s+", " AS ")
        .replaceAll("(?i)\\s+from\\s+", " FROM ")
        .replaceAll("(?i)\\s+where\\s+", " WHERE ")
        .replaceAll("(?i)\\s+group\\s+by\\s+", " GROUP BY ")
        .replaceAll("(?i)\\s+having\\s+", " HAVING ")
      val withLine = flowMeta.get(f).map(_.opts).filter(_.nonEmpty)
        .map(o => "WITH (" +
          o.toSeq.sortBy(_._1).map { case (k, v) => s"$k = '$v'" }.mkString(", ") +
          ")").toSeq
      val commentLine = flowComments.get(f).map(c => s"COMMENT '$c'").toSeq
      val lines = Seq(s"CREATE FLOW IF NOT EXISTS $f",
        s"SINK TO $currentDb.$sinkT") ++ commentLine ++ withLine ++ Seq(s"AS $q")
      lines.zipWithIndex.map { case (l, i) => (if (i == 0) f else "", l) }
        .toDF("Flow", "Create Flow")
    }
    else if (up.startsWith("SHOW SEARCH_PATH")) {
      import spark.implicits._
      Seq(currentDb).toDF("search_path")
    }
    else if (up.startsWith("SHOW VARIABLES")) {
      import spark.implicits._
      val name = stmt.trim.stripSuffix(";").split("\\s+").last.toLowerCase(Locale.ROOT)
      // the MySQL sysvar table doesn't carry max_execution_time — the
      // reference answers with one empty name/value row (common/basic.result)
      if (name == "max_execution_time")
        Seq(("", "")).toDF("Variable_name", "Value")
      else {
        val value = name match {
          case "time_zone" | "timezone" => sessionTz
          case "system_time_zone" => "UTC"
          case v => sessionVars.getOrElse(v, "")
        }
        Seq(value).toDF(name.toUpperCase(Locale.ROOT))
      }
    }
    else if (up.startsWith("SHOW INDEX")) {
      // MySQL-shape index listing from declared metadata
      // (show/show_index.result, alter/change_col_*_options.result)
      import spark.implicits._
      val m = "(?is)^SHOW\\s+INDEX\\s+(?:FROM|IN)\\s+([A-Za-z_\"`][A-Za-z0-9_.\"`]*)".r
        .findFirstMatchIn(stmt.trim).getOrElse(throw new IllegalArgumentException(
          "Unexpected token while parsing SQL statement, expected: '{FROM | IN} table'"))
      val t = normTable(m.group(1))
      val df = indexRowsOf(t).sortBy(r => (r._3, r._4))
        .map { case (tb, nu, key, seq, c, nl, kind) =>
          (tb, nu, key, seq, c, "A", "", "", "", nl, kind, "", "", "YES", "") }
        .toDF("Table", "Non_unique", "Key_name", "Seq_in_index", "Column_name",
          "Collation", "Cardinality", "Sub_part", "Packed", "Null",
          "Index_type", "Comment", "Index_comment", "Visible", "Expression")
      "(?is)\\bWHERE\\s+(.+?)\\s*;?\\s*$".r.findFirstMatchIn(stmt)
        .map(w => df.where(w.group(1))).getOrElse(df)
    }
    else if (up.startsWith("SHOW PROCESSLIST") || up.startsWith("SHOW FULL PROCESSLIST")) {
      // one row: this session's own statement (the reference's catalog
      // process registry; show/show_process_list.result shapes)
      import spark.implicits._
      val q = stmt.trim.stripSuffix(";")
      val id = "127.0.0.1:4001/0"
      if (up.startsWith("SHOW FULL"))
        Seq((id, "greptime", "public", "unknown [unknown client addr]",
          "127.0.0.1:4001", "2026-01-01T00:00:00.000", "PT0.001S", q))
          .toDF("Id", "Catalog", "Schema", "Client", "Frontend", "StartTime",
            "ElapsedTime", "Query")
      else Seq((id, "greptime", q, "PT0.001S"))
        .toDF("Id", "Catalog", "Query", "ElapsedTime")
    }
    else if (up.startsWith("SHOW REGION")) {
      // one region per PARTITION rule (show/show_region.result)
      import spark.implicits._
      val m = ("(?is)^SHOW\\s+REGION\\s+FROM\\s+([A-Za-z_\"`][A-Za-z0-9_.\"`]*)" +
        "(?:\\s+IN\\s+\\S+)?(?:\\s+WHERE\\s+(.*))?\\s*;?\\s*$").r
        .findFirstMatchIn(stmt.trim).getOrElse(
          throw new IllegalArgumentException(s"cannot parse: $stmt"))
      val t = normTable(m.group(1))
      if (!catalog.tables.contains(t))
        throw new IllegalArgumentException(s"Table not found: $t")
      val n = metaOf(t).partitionClause.map(_._2.size).getOrElse(1).max(1)
      val df = (0 until n).map(i => (t, 4398046511104L + i, 0, "Yes"))
        .toDF("Table", "Region", "Peer", "Leader")
      Option(m.group(2)).map(w => df.where(w.trim.stripSuffix(";"))).getOrElse(df)
    }
    else if (up.startsWith("SHOW CHARACTER SET") || up.startsWith("SHOW CHARSET")) {
      import spark.implicits._
      showFilter(Seq(("utf8", "UTF-8 Unicode", "utf8_bin", 4))
        .toDF("Charset", "Description", "Default collation", "Maxlen"),
        "Charset", stmt)
    }
    else if (up.startsWith("SHOW COLLATION")) {
      import spark.implicits._
      showFilter(Seq(("utf8_bin", "utf8", 1, "Yes", "Yes", 1))
        .toDF("Collation", "Charset", "Id", "Default", "Compiled", "Sortlen"),
        "Collation", stmt)
    }
    else if (up.startsWith("SHOW FLOW STATUS")) {
      // flow_statistics filtered by name (flow/flow_status.sql); the
      // no-match result renders headerless-empty like the reference
      import spark.implicits._
      val like = "(?i)LIKE\\s+'([^']*)'".r.findFirstMatchIn(stmt).map(_.group(1))
      val rx = like.map(p => likeRegex(p).r)
      val names = flows.keys.toSeq.filter(f => rx.forall(_.matches(f))).sorted
      names.map { f =>
        val meta = flowMeta.get(f)
        val created = meta.map(_.createdMs).getOrElse(0L)
        (flowIdOf(f), f, new java.sql.Timestamp(created),
          flowLastExecMs.get(f).map(t => new java.sql.Timestamp(t)).orNull,
          Long.box(math.max(0L, (System.currentTimeMillis() - created) / 1000L)),
          Long.box(1L))
      }.toDF("flow_id", "flow_name", "start_time", "last_execution_time",
        "uptime_seconds", "state_size")
    }
    else if (up.startsWith("SHOW FLOWS")) {
      import spark.implicits._
      val like = "(?i)LIKE\\s+'([^']*)'".r.findFirstMatchIn(stmt).map(_.group(1))
      val rx = like.map(p => likeRegex(p).r)
      flows.keys.toSeq.filter(f => rx.forall(_.matches(f))).sorted.toDF("Flows")
    }
    else if (up.startsWith("PREPARE")) {
      val m = "(?is)^PREPARE\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+FROM\\s+'(.*)'\\s*;?\\s*$".r
        .findFirstMatchIn(stmt.trim).getOrElse(
          throw new IllegalArgumentException(s"cannot parse: $stmt"))
      preparedStmts.put(m.group(1), m.group(2).trim.stripSuffix(";"))
      status("prepared")
    }
    else if (up.startsWith("EXECUTE")) {
      val m = "(?is)^EXECUTE\\s+([A-Za-z_][A-Za-z0-9_]*)(?:\\s+USING\\s+(.*))?\\s*;?\\s*$".r
        .findFirstMatchIn(stmt.trim).getOrElse(
          throw new IllegalArgumentException(s"cannot parse: $stmt"))
      val tmpl = preparedStmts.getOrElse(m.group(1),
        throw new IllegalArgumentException(s"unknown prepared statement: ${m.group(1)}"))
      val args = Option(m.group(2)).map(splitTop(_).map(_.trim)).getOrElse(Nil)
      val it = args.iterator
      val substituted = new StringBuilder
      var inStr = false
      tmpl.foreach { c =>
        if (c == '\'') { inStr = !inStr; substituted.append(c) }
        else if (c == '?' && !inStr)
          substituted.append(if (it.hasNext) it.next()
            else throw new IllegalArgumentException(
              "Placeholder '?' was not provided a value for execution"))
        else substituted.append(c)
      }
      // evaluate EAGERLY: a parameter that cannot convert to the cast's
      // type must error at EXECUTE time (prepare/mysql_prepare.result).
      // localCheckpoint (NOT the graft.checkpoint.dir reliable variant)
      // on purpose: its blocks are reclaimed by the ContextCleaner once
      // the frame is GC'd, while reliable checkpoint files outlive the
      // frame — a long session EXECUTE-ing prepared statements would
      // accumulate one durable directory per execution. The knob is for
      // long iterative jobs (CC, SemDeDup), not this per-statement path.
      sql(substituted.toString).localCheckpoint(true)
    }
    else if (up.startsWith("DEALLOCATE")) {
      preparedStmts.remove(stmt.trim.split("\\s+").last.stripSuffix(";"))
      status("deallocated")
    }
    // ---- cursors (operator/src/statement/cursor.rs,
    //      sql/src/parsers/cursor_parser.rs) ---------------------------
    else if (up.startsWith("DECLARE")) {
      val m = ("(?is)^DECLARE\\s+(\"[^\"]+\"|[A-Za-z_][A-Za-z0-9_]*)\\s+" +
        "CURSOR\\s+FOR\\s+(.*?)\\s*;?\\s*$").r
        .findFirstMatchIn(stmt.trim).getOrElse(
          throw new IllegalArgumentException(s"cannot parse: $stmt"))
      val body = m.group(2).trim
      val bu = body.toUpperCase(Locale.ROOT)
      // the reference only accepts SELECT/WITH bodies (cursor_parser.rs)
      if (!bu.startsWith("SELECT") && !bu.startsWith("WITH"))
        throw new IllegalArgumentException(
          "Expect select query in cursor statement")
      val df = sql(body)
      // toLocalIterator streams one partition at a time — a cursor over
      // a huge result never materializes it on the driver; successive
      // FETCHes drain the iterator like the reference's
      // RecordBatchStreamCursor (common/recordbatch/src/cursor.rs)
      cursors.put(unquote(m.group(1)).toLowerCase(Locale.ROOT),
        (df.toLocalIterator(), df.schema))
      status("cursor declared")
    }
    else if (up.startsWith("FETCH")) {
      val m = ("(?is)^FETCH\\s+(\\d+)\\s+(?:FROM|IN)\\s+" +
        "(\"[^\"]+\"|[A-Za-z_][A-Za-z0-9_]*)\\s*;?\\s*$").r
        .findFirstMatchIn(stmt.trim).getOrElse(
          throw new IllegalArgumentException(s"cannot parse: $stmt"))
      val name = unquote(m.group(2)).toLowerCase(Locale.ROOT)
      val (it, schema) = cursors.getOrElse(name,
        throw new IllegalArgumentException(s"Cursor not found: $name"))
      val n = m.group(1).toLong
      val rows = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
      while (rows.length < n && it.hasNext) rows += it.next()
      spark.createDataFrame(
        java.util.Arrays.asList(rows.toArray: _*), schema)
    }
    else if (up.startsWith("CLOSE")) {
      val name = unquote(stmt.trim.split("\\s+").last.stripSuffix(";"))
        .toLowerCase(Locale.ROOT)
      cursors.remove(name)
      status("cursor closed")
    }
    else if (up.startsWith("TQL EVAL")) tqlEval(stmt)
    else if (up.startsWith("WITH") &&
        ("(?is)\\bTQL\\s+EVAL\\b".r.findFirstIn(stmt).isDefined ||
          ("(?is)\\bALIGN\\s+'".r.findFirstIn(stmt).isDefined &&
            "(?is)\\bRANGE\\s+'".r.findFirstIn(stmt).isDefined))) {
      val rw = rewriteTqlCtes(stmt)
      if (rw == stmt)
        throw new IllegalArgumentException(s"unsupported TQL in WITH: $stmt")
      sql(rw)
    }
    else if (up.startsWith("TQL EXPLAIN") || up.startsWith("TQL ANALYZE")) {
      import spark.implicits._
      val plan = tqlEval("TQL EVAL" + stmt.substring("TQL EXPLAIN".length))
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      plan.split("\n").toSeq.toDF("plan")
    }
    else if (up.contains("GREPTIME_PRIVATE") &&
        (up.contains("SEMANTIC_ENTITIES") || up.contains("SEMANTIC_RELATIONSHIPS"))) {
      // computed entity-graph registry: readable virtual tables, every
      // DDL/DML path rejected (system/semantic_graph.sql)
      if (!up.trim.startsWith("SELECT"))
        throw new IllegalArgumentException(
          "Cannot change read-only table: semantic_entities")
      semanticEntitiesDf().createOrReplaceTempView("__sem_entities")
      semanticRelationshipsDf().createOrReplaceTempView("__sem_rel")
      spark.sql(dialect(stmt)
        .replaceAll("(?i)greptime_private\\.semantic_entities", "__sem_entities")
        .replaceAll("(?i)greptime_private\\.semantic_relationships", "__sem_rel"))
    }
    else if (up.startsWith("ADMIN")) admin(stmt)
    else if (up.contains("INFORMATION_SCHEMA.") ||
        "(?s).*\\bPG_(CATALOG|NAMESPACE|CLASS|DATABASE|ATTRIBUTE|TYPE)\\b.*".r
          .matches(up) ||
        (infoDb && InfoSchema.readsBare(stmt))) {
      refreshInfoSchema()
      refreshPgCatalog()
      val qualified0 = if (infoDb) InfoSchema.qualifyBare(stmt) else stmt
      // pg_catalog surface (system/pg_catalog.sql): strip the schema
      // qualifier, map the tables to materialized views, fold the
      // postgres-only functions/operators
      var qualified = qualified0
        .replaceAll("(?i)\\bpg_catalog\\.", "")
        .replaceAll("(?i)\\bpg_namespace\\b", "__pg_namespace")
        .replaceAll("(?i)\\bpg_class\\b", "__pg_class")
        .replaceAll("(?i)\\bpg_database\\b", "__pg_database")
        .replaceAll("(?i)\\bpg_attribute\\b", "__pg_attribute")
        .replaceAll("(?i)\\bpg_type\\b", "__pg_type")
        .replaceAll("(?i)\\bpg_get_userbyid\\s*\\([^()]*\\)", "'postgres'")
        .replaceAll("(?i)\\bpg_table_is_visible\\s*\\([^()]*\\)", "true")
        .replaceAll("(?i)\\b(obj|col|shobj)_description\\s*\\([^()]*(?:\\([^()]*\\)[^()]*)*\\)",
          "CAST(NULL AS STRING)")
        .replaceAll("!~", " NOT RLIKE ")
      qualified = "(?i)'([A-Za-z_][A-Za-z0-9_]*)'::regclass(::oid)?".r
        .replaceAllIn(qualified, m => pgOidOf(normIdent(m.group(1))).toString)
      // psql/TimescaleDB introspection sugar (pg_catalog.result \dt/\d):
      // our identifiers never need quoting, so quote_ident folds away;
      // parse_ident over a literal is resolvable at rewrite time; the
      // search-path membership subquery collapses to its constant value
      qualified = qualified
        .replaceAll("(?i)\\bquote_ident\\s*\\(", "(")
      qualified = "(?i)array_length\\s*\\(\\s*parse_ident\\('([^']*)'\\)\\s*,\\s*1\\s*\\)".r
        .replaceAllIn(qualified, m => m.group(1).split("\\.").length.toString)
      qualified = "(?i)\\(\\s*parse_ident\\('([^']*)'\\)\\s*\\)\\s*\\[(\\d+)\\]".r
        .replaceAllIn(qualified, m => {
          val parts = m.group(1).split("\\.")
          val i = m.group(2).toInt
          scala.util.matching.Regex.quoteReplacement(
            if (i >= 1 && i <= parts.length) s"'${parts(i - 1)}'" else "NULL")
        })
      // the reference has no pg search_path setting — the membership
      // subquery matches nothing, every table renders schema-qualified
      // (pg_catalog.result: both my_db.foo AND public.numbers qualified)
      qualified = ("(?is)\\(\\s*SELECT\\s+CASE\\s+WHEN\\s+trim\\(s\\[i\\]\\).*?" +
        "string_to_array\\(current_setting\\('search_path'\\),','\\)\\s+s\\s*\\)").r
        .replaceAllIn(qualified, _ => "('')")
      spark.sql(InfoSchema.toViews(dialect(qualified)))
    }
    else if (up.startsWith("SELECT") && RangeSql.looksLikeRange(stmt))
      RangeSql.execute(spark, rewriteAtAt(stmt), name => {
        val spec = catalog.spec(name)
        (spark.table(name), spec.timeIndex, spec.tags)
      }, sessionTzOffsetMs)
    else {
      var out = reorderUsingJoin(stmt, spark.sql(dialect(stmt)))
      // the ns-fidelity rewrite leaves rendered columns named after the
      // wrapping call — restore the bare column name
      val NsRenderName = "__ns_render\\(`?(\\w+)`?, `?__nsr_\\w+`?\\)".r
      if (out.columns.exists(c => NsRenderName.pattern.matcher(c).matches))
        out = out.toDF(out.columns.map {
          case NsRenderName(c) => c
          case other => other
        }: _*)
      // a FROM-less scalar-subquery select yields NO row when the inner
      // query is empty (DataFusion; subquery/offset.result), where Spark
      // returns one NULL row
      val scalarOnly = "(?is)^SELECT\\s*\\(\\s*SELECT\\b[^;]*\\)\\s*(AS\\s+\\S+)?\\s*;?\\s*$".r
        .matches(stmt) && !"(?is)\\)\\s*(AS\\s+\\S+)?\\s*FROM\\b".r
        .findFirstIn(stmt).isDefined
      if (scalarOnly && out.columns.length == 1) {
        val rows = out.collect()
        if (rows.length == 1 && rows(0).isNullAt(0)) out.limit(0) else out
      } else out
    }
  }

  /** DataFusion's `SELECT *` output for NATURAL / USING joins keeps the
    * join columns in the RIGHT table's declared positions (left side
    * minus the common columns, then the right side in full — see
    * `join/natural_join.result`). Spark hoists the coalesced keys to the
    * front; reorder to the reference layout. Bails (returns df as-is) on
    * anything it can't fully resolve. */
  private def reorderUsingJoin(stmt: String, df: DataFrame): DataFrame = {
    val up = stmt.toUpperCase(Locale.ROOT)
    if (!up.matches("(?s)^SELECT\\s+\\*\\s+FROM\\s+.*")) return df
    if (!(up.contains("NATURAL") || up.contains("USING"))) return df
    if (up.matches("(?s).*\\bON\\b.*")) return df
    try {
      val fromTail = stmt.substring(up.indexOf("FROM") + 4)
      val stop = "(?i)\\b(WHERE|ORDER|GROUP|LIMIT|OFFSET|HAVING)\\b".r
        .findFirstMatchIn(fromTail).map(_.start).getOrElse(fromTail.length)
      val fromClause = fromTail.substring(0, stop).trim
      val ident = "(\"[^\"]+\"|`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)"
      val joinRx = ("(?i)\\s+(NATURAL\\s+)?(LEFT\\s+|RIGHT\\s+|FULL\\s+|INNER\\s+)?(OUTER\\s+)?JOIN\\s+" +
        ident + "(\\s+USING\\s*\\(([^)]*)\\))?").r
      val firstRx = ("^" + ident).r
      val t0 = firstRx.findFirstMatchIn(fromClause).getOrElse(return df).group(1)
      def cols(name: String): Seq[String] = spark.table(unquote(name)).columns.toSeq
      // provenance-tagged desired layout: the reference drops a USING /
      // NATURAL key only from the FIRST table's block; every joined-in
      // right table keeps its full declared schema (join/using_join
      // .result, multi-table case: user_id appears once per right table)
      var desired: Seq[(Int, String)] = cols(t0).map((0, _))
      var sparkLayout = cols(t0)
      val joins = joinRx.findAllMatchIn(fromClause).toSeq
      if (joins.isEmpty) return df
      for ((m, ji) <- joins.zipWithIndex) {
        val right = cols(m.group(4))
        val usingCols = Option(m.group(6))
          .map(_.split(",").map(c => unquote(c.trim)).toSeq)
        val keys = usingCols.getOrElse(
          sparkLayout.filter(c => right.exists(_.equalsIgnoreCase(c))))
        if (keys.isEmpty) return df
        val keySet = keys.map(_.toLowerCase(Locale.ROOT)).toSet
        def minus(xs: Seq[String]) = xs.filterNot(c => keySet(c.toLowerCase(Locale.ROOT)))
        desired = desired.filterNot { case (ti, c) =>
          ti == 0 && keySet(c.toLowerCase(Locale.ROOT))
        } ++ right.map((ji + 1, _))
        sparkLayout = keys ++ minus(sparkLayout) ++ minus(right)
      }
      val n = df.columns.length
      if (sparkLayout.length != n) return df
      if (!sparkLayout.zip(df.columns).forall { case (a, b) => a.equalsIgnoreCase(b) }) return df
      val tmp = (0 until n).map(i => s"__c$i")
      val used = new Array[Boolean](n)
      val perm = desired.map { case (_, name) =>
        // coalesced keys exist once in Spark's output but once per right
        // table in the reference layout — reuse the source column then
        val idx = (0 until n).find(j => !used(j) && sparkLayout(j).equalsIgnoreCase(name))
          .orElse((0 until n).find(j => sparkLayout(j).equalsIgnoreCase(name)))
          .getOrElse(return df)
        if (idx < n) used(idx) = true
        idx
      }
      df.toDF(tmp: _*)
        .select(perm.map(i => org.apache.spark.sql.functions.col(s"__c$i")): _*)
        .toDF(perm.map(df.columns): _*)
    } catch { case _: Throwable => df }
  }

  /** Register an existing Parquet table (e.g. external testdata). */
  def register(spec: TableSpec): Unit = {
    catalog.register(spec)
    catalog.createView(spec.name)
  }

  def refreshFlow(name: String, pinnedMs: Option[Long] = None): Unit = {
    val (flowDef, query) = flows.getOrElse(name,
      throw new IllegalArgumentException(s"unknown flow: $name"))
    flowMeta.get(name) match {
      case Some(meta) if meta.pending => // source never appeared — no-op
      case Some(meta) if meta.srcTable.exists(t =>
          !catalog.tables.contains(t) ||
            tableEpoch.getOrElse(t, 0L) != meta.srcEpoch) =>
        // the source was dropped (and possibly re-created): the flow is
        // bound to the old table id and stops updating (flow_rebuild)
        ()
      case Some(meta) =>
        flowLastExecMs.put(name, System.currentTimeMillis())
        val spec = catalog.spec(meta.sinkTable)
        // a streaming non-aggregating flow appends only the rows since
        // its LAST refresh (show_create_flow accumulates across evals);
        // an aggregating flow re-evaluates everything since creation
        val appendMode = meta.streaming && !aggregatingQuery(query)
        // batching flows re-evaluate every row in the time-windows
        // DIRTIED by writes since creation — a pre-creation row in a
        // dirty window IS included (flow_rebuild's "4 is also expected"),
        // while with no post-creation writes nothing evaluates at all
        // (flow_flush's empty sink). Streaming non-aggregating flows
        // instead append only the rows since their last refresh.
        if (appendMode) {
          val sinceSeq = flowLastSeq.getOrElse(name, meta.createSeq)
          meta.srcTable.foreach(s => refreshView(s, Some(sinceSeq)))
        } else meta.srcTable match {
          case Some(s) =>
            refreshView(s, Some(meta.createSeq))
            val BinRx = ("(?i)date_bin\\s*\\(\\s*INTERVAL\\s+'([^']+)'\\s*,\\s*" +
              "([A-Za-z_][A-Za-z0-9_]*)").r
            BinRx.findFirstMatchIn(query) match {
              case Some(mm) if spark.table(s).columns.contains(mm.group(2)) =>
                // time-windowed flow: only windows DIRTIED by new rows
                // re-evaluate; with none, nothing does (flow_flush)
                val ms = intervalMs(mm.group(1))
                val tsC = mm.group(2)
                def win(c: Column) =
                  floor(unix_millis(c.cast("timestamp")) / ms)
                val wins = spark.table(s)
                  .select(win(col(tsC)).as("w")).distinct()
                  .collect().map(_.getLong(0)).toSeq
                if (wins.isEmpty) { refreshView(s); return }
                // an instant-ttl source's pre-creation rows were already
                // consumed-and-dropped — only post-creation rows replay
                val seqF = if (catalog.spec(s).ttlMillis.contains(0L))
                  Some(meta.createSeq) else None
                refreshView(s, seqF,
                  rowFilter = Some(win(col(tsC)).isin(wins: _*)))
              case _ =>
                // no declared time window: the whole table re-evaluates
                // on every tick/flush (flow_rebuild's count(*), TQL avg) —
                // except an instant-ttl source, whose rows only exist
                // for the flow between arrival and consumption
                // (flow_advance_ttl keeps accumulating 20,22 then 23)
                if (!catalog.spec(s).ttlMillis.contains(0L)) refreshView(s)
            }
          case None => ()
        }
        // a scheduled flow evaluates with now()/current_timestamp()
        // PINNED to its schedule boundary — the reference's batching
        // engine plans each tick at the aligned instant, which
        // flow_scheduled_now_boundary asserts (create_time lands exactly
        // on the second, filters don't drift with wall clock)
        val evalQuery = meta.evalInterval match {
          case Some(_) =>
            // pinned to the SECOND boundary: finer-grained than the eval
            // interval (a '5m' flow still sees this tick's data,
            // flow_batch_join_subquery) yet exact enough that
            // flow_scheduled_now_boundary's create_time =
            // date_trunc('second', create_time) holds
            val pinned = pinnedMs.getOrElse(
              math.floorDiv(System.currentTimeMillis(), 1000L) * 1000L)
            rewriteOutsideQuotes(query)(
              _.replaceAll("(?i)\\b(?:now|current_timestamp)\\s*\\(\\s*\\)",
                s"timestamp_millis(${pinned}L)"))
          case None => query
        }
        var out =
          try flowQueryDf(evalQuery).toDF(meta.outNames: _*)
          finally meta.srcTable.foreach(s => refreshView(s))
        // a flow may project its own update_at literal — only fill the
        // engine timestamp when the query didn't (flow_last_non_null)
        if (!out.columns.contains("update_at"))
          out = out.withColumn("update_at", current_timestamp())
        if (meta.placeholder)
          out = out.withColumn("__ts_placeholder", timestamp_millis(lit(0L)))
        out = out.withColumn(SeqCol, lit(seqCounter.incrementAndGet()))
        // align to the sink's physical schema (declared metadata when the
        // sink parquet hasn't been materialized yet)
        val sinkP = new org.apache.hadoop.fs.Path(spec.path)
        val sinkFs = sinkP.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val target: StructType = {
          val declared = metaOf(meta.sinkTable).colMeta
          if (sinkFs.exists(sinkP) && sinkFs.listStatus(sinkP).nonEmpty) {
            val phys = graft.model.Catalog.schemaOf(spark, spec.path)
            // ALTER ADD COLUMN on the sink may exist only as declared
            // metadata (an empty-table ALTER writes no part file) — the
            // flow must still produce it (flow_aft_alter's sample_cnt)
            StructType(phys.fields ++
              declared.filterNot(m => phys.fieldNames.contains(m.name)).map(m =>
                StructField(m.name, sparkType(showCreateType(m.gtype)), m.nullable)))
          }
          else StructType(
            declared.map(m =>
              StructField(m.name, sparkType(showCreateType(m.gtype)), m.nullable))
              :+ StructField(SeqCol, LongType))
        }
        // a sink column the flow doesn't produce takes its DECLARED
        // default (show_create_flow: ts DEFAULT CURRENT_TIMESTAMP gives
        // each appended batch a distinct ts), else null
        val sinkDefaults = metaOf(meta.sinkTable).colMeta
          .flatMap(m => m.default.map(m.name -> _)).toMap
        val aligned = out.select(target.map(f =>
          (if (out.columns.contains(f.name)) col(s"`${f.name}`")
           else sinkDefaults.get(f.name)
             .map(d => scala.util.Try(expr(dialect(d)))
               .getOrElse(lit(null).cast(f.dataType)))
             .getOrElse(lit(null)))
            .cast(f.dataType).as(f.name)): _*)
        if (appendMode) {
          aligned.write.mode("append").parquet(spec.path)
          flowLastSeq.put(name, seqCounter.get())
        }
        else if (spec.mergeMode == MergeMode.LastNonNull)
          // the sink's own merge view coalesces per column (null keeps
          // the old value) — append and let storage-merge resolve, like
          // the reference region write path (flow_last_non_null)
          aligned.write.mode("append").parquet(spec.path)
        else if (flowDef.keys.nonEmpty)
          Flow.upsert(aligned, spec.path, flowDef.keys)
        else
          // keyless flow (global aggregate): full recompute replaces the sink
          Catalog.replaceDir(spark, spec.path)(aligned.write.mode("overwrite").parquet(_))
        refreshPath(spec.path)
        refreshView(meta.sinkTable)
      case None =>
        Flow.refreshOnce(spark.sql(dialect(query)), flowDef.copy(transform = identity))
    }
  }

  /** Cross-schema table references (select/multi_column_ref.sql,
    * select/qualified_view.sql, flow/flow_batch_join_subquery.sql):
    * `db.tbl` resolves to the per-schema mangled view. A FROM/JOIN
    * without a user alias gains the bare table name as alias so both
    * `db.tbl.col` and `tbl.col` column qualifiers keep resolving. */
  private[sql] def rewriteDbQualified(s0: String): String = {
    val dbs = (dbOpts.keySet ++ dbSaved.keySet) - currentDb - "public" -
      "information_schema" - "greptime_private" - "pg_catalog"
    if (dbs.isEmpty) return s0
    var s = s0
    val stopWords = Set("WHERE", "GROUP", "ORDER", "LIMIT", "ON", "JOIN",
      "LEFT", "RIGHT", "INNER", "FULL", "CROSS", "UNION", "HAVING", "USING",
      "VALUES", "SET", "WITH", "INTERSECT", "EXCEPT", "OFFSET")
    val tok = "(?:\"[^\"]+\"|`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)"
    for (d <- dbs if s.toLowerCase(Locale.ROOT).contains(d.toLowerCase(Locale.ROOT))) {
      // the db name may appear backtick-quoted (keywords_expressions'
      // CREATE DATABASE "SCHEMA" → `SCHEMA`.`TABLE` after ident rewrite)
      val dq = "(?:`" + java.util.regex.Pattern.quote(d) + "`|\\b" +
        java.util.regex.Pattern.quote(d) + ")"
      // FROM/JOIN db.tbl [alias]: mangle; add the bare name as alias when
      // the user gave none
      s = ("(?is)\\b(FROM|JOIN)\\s+" + dq + "\\.(" + tok + ")" +
        "(\\s+(?:AS\\s+)?[A-Za-z_][A-Za-z0-9_]*)?").r.replaceAllIn(s, m => {
        val bare = normIdent(m.group(2))
        val mangled = s"${d}__schema__$bare"
        val alias = Option(m.group(3)).map(_.trim)
          .filterNot(a => stopWords.contains(
            a.stripPrefix("AS ").stripPrefix("as ").trim.toUpperCase(Locale.ROOT)))
        scala.util.matching.Regex.quoteReplacement(alias match {
          case Some(a) => s"${m.group(1)} $mangled $a"
          case None =>
            val kept = Option(m.group(3)).getOrElse("")
            // backtick the implicit alias: the bare table name may be a
            // reserved word (keywords_expressions' "TABLE")
            s"${m.group(1)} $mangled `$bare`$kept"
        })
      })
      // column qualifiers db.tbl.col → tbl.col
      s = ("(?i)" + dq + "\\.(" + tok + ")\\.").r.replaceAllIn(s, m =>
        scala.util.matching.Regex.quoteReplacement(normIdent(m.group(1)) + "."))
      // any remaining db.tbl reference → the mangled name
      s = ("(?i)" + dq + "\\.(" + tok + ")").r.replaceAllIn(s, m =>
        scala.util.matching.Regex.quoteReplacement(
          s"${d}__schema__${normIdent(m.group(1))}"))
    }
    s
  }

  /** FROM-less `SELECT unnest(...)` forms (select/unnest.sql): nested
    * unnest flattens; multiple array generators ZIP positionally padded
    * with null; a struct unnest expands to its fields. Re-expressed as a
    * sequence-index explode with `try_element_at`. */
  private[sql] def rewriteScalarUnnest(sel0: String): String = {
    var s = sel0
    var changed = true
    while (changed) {
      val next = s.replaceAll("(?i)\\bunnest\\s*\\(\\s*unnest\\s*\\(",
        "unnest(flatten(")
      changed = next != s
      s = next
    }
    // collect balanced unnest(arg) spans
    def collect(str: String): Seq[(Int, Int, String)] = {
      val out = Seq.newBuilder[(Int, Int, String)]
      val rx = "(?i)\\bunnest\\s*\\(".r
      for (m <- rx.findAllMatchIn(str)) {
        var d = 0; var i = m.end - 1; var close = -1
        while (i < str.length && close < 0) {
          str.charAt(i) match {
            case '(' => d += 1
            case ')' => d -= 1; if (d == 0) close = i
            case _ =>
          }
          i += 1
        }
        if (close > 0) out += ((m.start, close + 1, str.substring(m.end, close).trim))
      }
      out.result()
    }
    val spans = collect(s)
    if (spans.isEmpty) return s
    val args = spans.map(_._3).distinct
    if (args.length == 1 && args.head.toLowerCase(Locale.ROOT).startsWith("struct")) {
      // struct unnest → one row of its fields
      return s"SELECT inline(array(${args.head}))"
    }
    // rewrite right-to-left so spans stay valid
    var out = s
    spans.sortBy(-_._1).foreach { case (a, b, arg) =>
      out = out.substring(0, a) + s"try_element_at(($arg), __i + 1)" +
        out.substring(b)
    }
    val sizes = args.map(a => s"size(($a))").mkString(", ")
    val great = if (args.length == 1) sizes else s"greatest($sizes)"
    // guard the generator: for an all-empty input `sequence(0, -1)` is
    // the DESCENDING sequence [0, -1], which would emit two null rows
    // where unnest of an empty array must emit zero
    s"$out FROM (SELECT explode(CASE WHEN ($great) <= 0 THEN array() " +
      s"ELSE sequence(0, $great - 1) END) AS __i)"
  }

  /** SHOW CHARACTER SET / COLLATION filter handling: `LIKE 'pat'`
    * matches against `likeCol`; a `WHERE cond` tail applies verbatim
    * (show/show_charset.sql, show/show_collation.sql). */
  private def showFilter(df: DataFrame, likeCol: String, stmt: String): DataFrame = {
    val like = "(?i)\\bLIKE\\s+'([^']*)'".r.findFirstMatchIn(stmt).map(_.group(1))
    val where = "(?is)\\bWHERE\\s+(.+)$".r.findFirstMatchIn(stmt)
      .map(_.group(1).trim.stripSuffix(";"))
    val d1 = like.map(p => df.where(col(likeCol).like(p))).getOrElse(df)
    where.map(w => d1.where(w)).getOrElse(d1)
  }

  // ---- metric engine (reference src/metric-engine) --------------------
  /** One shared physical storage region; logical tables project label
    * subsets onto it. */
  private[sql] final class PhyState {
    var everLogical: Boolean = false
    /** logical child → its stable __table_id, assigned once at CREATE
      * and never renumbered — a drop must not shift surviving ids (the
      * drop-time materialization writes rows stamped with the dropped
      * child's id, which would otherwise collide) */
    val childIds = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    private var nextChildId: Long = 1025L
    def addChild(name: String): Unit =
      if (!childIds.contains(name)) {
        childIds.put(name, nextChildId); nextChildId += 1
      }
    def children: Seq[String] = childIds.keys.toSeq
    val addedTags = scala.collection.mutable.LinkedHashSet.empty[String]
  }
  private[sql] val metricPhy =
    scala.collection.concurrent.TrieMap.empty[String, PhyState]
  private[sql] val logicalParent =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def showCreateTable(name: String): DataFrame = {
    import spark.implicits._
    val spec = catalog.spec(name)
    val meta = metaOf(name)
    val metas = meta.colMeta.filterNot(m => meta.droppedCols.contains(m.name))
    val colLines: Vector[Vector[String]] = metas.map { m =>
      val hinted = meta.j2Hints.get(m.name)
        .filter(_ => m.gtype == "Json2")
      val base = hinted match {
        case Some(_) => s"""  "${m.name}" JSON2("""
        case None =>
          s"""  "${m.name}" ${m.sqlType.getOrElse(showCreateType(m.gtype))}"""
      }
      val nul = if (m.nullable && m.name != spec.timeIndex) " NULL" else " NOT NULL"
      // the reference renders the default through its expression printer:
      // CURRENT_TIMESTAMP -> current_timestamp()
      val dft = m.default.map { d =>
        val norm =
          if (d.matches("(?i)current_timestamp(\\(\\))?")) "current_timestamp()"
          // timestamp string defaults render with the +0000 offset
          // (alter/alter_table_alter_column_set_default.result)
          else if (m.gtype.startsWith("Timestamp") &&
            d.matches("'[0-9]{4}-[0-9]{2}-[0-9]{2}[ T][^'+]*'"))
            d.dropRight(1) + "+0000'"
          else d
        s" DEFAULT $norm"
      }.getOrElse("")
      val idx = m.indexDecl.map(" " + _).getOrElse("")
      val cmt = m.comment.map(c => s" COMMENT '$c'").getOrElse("")
      hinted match {
        case Some(hs) =>
          // hint block: one line per hint, comma-separated, closing
          // paren carries the column options (json2_type_hints.result)
          val hintLines = hs.zipWithIndex.map { case (h, i) =>
            val pathQ = h.path.map(s => s""""$s"""").mkString(".")
            val line = s"    $pathQ ${h.sqlType}" +
              (if (h.nullable) " NULL" else " NOT NULL") +
              h.default.map(" DEFAULT " + _).getOrElse("")
            if (i < hs.size - 1) line + "," else line
          }
          (base +: hintLines) :+ ("  )" + nul + dft + cmt + idx)
        case None => Vector(base + nul + dft + cmt + idx)
      }
    }
    val keyLines = Vector(Vector(s"""  TIME INDEX ("${spec.timeIndex}")""")) ++
      (if (spec.tags.nonEmpty)
        Vector(Vector(spec.tags.map(t => s""""$t"""").mkString("  PRIMARY KEY (", ", ", ")")))
      else Vector.empty)
    val innerBlocks = colLines ++ keyLines
    // the statement-level comma lands on each block's LAST line
    val body = innerBlocks.zipWithIndex.flatMap { case (block, i) =>
      if (i < innerBlocks.size - 1) block.init :+ (block.last + ",")
      else block
    }
    val own = meta.tableOpts
    // a db-level ttl shows as an (inherited) table option; the WITH
    // block renders sorted by key (create/create_database_opts.result)
    val effective = (if (own.exists(_._1 == "ttl")) own
      else dbOpts.getOrElse(currentDb, Nil).find(_._1 == "ttl")
        .map(own :+ _).getOrElse(own)).sortBy(_._1)
    // the reference renders its well-known option keys bare and quotes
    // the rest (comment, memtable.type, ...); storage-tuning keys are
    // hidden but still leave an (empty) WITH block behind
    // (alter/alter_auto_flush_interval.result, alter/alter_format.result)
    val bareKeys = Set("ttl", "append_mode", "merge_mode", "skip_wal",
      "auto_flush_interval", "sst_format", "max_row_group_row_count",
      "physical_metric_table", "on_physical_table")
    val hiddenKeys = Set.empty[String]
    val visible = effective.filterNot(e => hiddenKeys(e._1))
    val hasHidden = effective.exists(e => hiddenKeys(e._1))
    val opts = visible
      .map { case (k, v) =>
        // echo the original quoting: bare for well-known keys and keys
        // the user wrote unquoted; quoted otherwise (create.result's
        // comment vs the flow sink's 'comment')
        val key =
          if (bareKeys(k)) k
          else if (k.matches("[A-Za-z_][A-Za-z0-9_]*") &&
            !meta.quotedOptNames.contains(k)) k
          else s"'$k'"
        val ev0 = (if (k == "ttl") humanDuration(v) else v)
          .replace("\\", "\\\\") // backslashes render escaped (CJK comment golden)
        // ReadableSize values normalize through a float rendering
        // ('1KiB' -> '1.0KiB', show/show_create.result)
        val ev =
          if (k == "write_buffer_size" && ev0.matches("\\d+[KMGT]i?B"))
            ev0.replaceFirst("(\\d+)", "$1.0")
          else ev0
        s"  $key = '$ev'" }
    // golden shape: ")", partition clause (or blank slot), ENGINE=<e>,
    // then the WITH block or a trailing blank. Logical metric tables
    // render their physical table's partition clause.
    val engineLabel = "ENGINE=" + meta.tableEngine
    val partLines: Vector[String] =
      logicalParent.get(name).flatMap(metaOf(_).partitionClause)
        .orElse(meta.partitionClause)
        .filter(_._2.nonEmpty)
        .map { case (cols, rules) =>
          (s"PARTITION ON COLUMNS (${cols.map(c => s""""$c"""").mkString(", ")}) (" +:
            rules.zipWithIndex.map { case (r, i) =>
              "  " + r + (if (i < rules.size - 1) "," else "") }.toVector) :+ ")"
        }.getOrElse(Vector(""))
    val lines = (s"""CREATE TABLE IF NOT EXISTS "$name" (""" +: body :+ ")") ++
      partLines ++ Vector(engineLabel) ++
      (if (opts.nonEmpty) ("WITH(" +: opts.zipWithIndex.map { case (o, i) =>
        if (i < opts.size - 1) o + "," else o } :+ ")")
      else if (hasHidden) Vector("WITH(", ")")
      else Vector(""))
    lines.zipWithIndex.map { case (l, i) => (if (i == 0) name else "", l) }
      .toDF("Table", "Create Table")
  }

  /** SQL LIKE pattern → anchored regex. */
  private def likeRegex(p: String): String =
    p.flatMap {
      case '%' => ".*"
      case '_' => "."
      case c if "\\.[]{}()*+?^$|".indexOf(c) >= 0 => "\\" + c
      case c => c.toString
    }

  /** SHOW CREATE TABLE t FOR POSTGRES_FOREIGN_TABLE — renders a Postgres
    * foreign-table DDL over the FDW server (show/show_create.result). */
  private def showCreateForeignTable(name: String): DataFrame = {
    import spark.implicits._
    val spec = catalog.spec(name)
    val meta = metaOf(name)
    val metas = meta.colMeta.filterNot(m => meta.droppedCols(m.name))
    def pgType(g: String): String = g match {
      case "Int8" | "Int16" | "UInt8" => "INT2"
      case "Int32" | "UInt16" | "UInt32" => "INT4"
      case "Int64" | "UInt64" => "INT8"
      case "Float32" => "FLOAT4"
      case "Float64" => "FLOAT8"
      case "String" => "VARCHAR"
      case "Boolean" => "BOOLEAN"
      case "Binary" => "BYTEA"
      case "Date" => "DATE"
      case t if t.startsWith("Timestamp") => "TIMESTAMP"
      case t if t.startsWith("Decimal") => "NUMERIC"
      case _ => "VARCHAR"
    }
    val cols = metas.zipWithIndex.map { case (m, i) =>
      s"""  "${m.name}" ${pgType(m.gtype)}""" +
        (if (i < metas.size - 1) "," else "")
    }
    val lines = (s"CREATE FOREIGN TABLE ft_$name (" +: cols :+ ")") ++
      Vector("SERVER greptimedb", s"OPTIONS (table_name '$name')")
    lines.zipWithIndex.map { case (l, i) => (if (i == 0) name else "", l) }
      .toDF("Table", "Create Table")
  }

  private def showTables(stmt: String): DataFrame = {
    import spark.implicits._
    val full = stmt.toUpperCase(Locale.ROOT).startsWith("SHOW FULL")
    val fromDb = "(?i)\\b(?:FROM|IN)\\s+([A-Za-z_\"`][A-Za-z0-9_\"`-]*)".r
      .findFirstMatchIn(stmt).map(m => unquote(m.group(1)))
    val like = "(?i)\\bLIKE\\s+'([^']*)'".r.findFirstMatchIn(stmt).map(_.group(1))
    val where = "(?is)\\bWHERE\\s+(.*)$".r.findFirstMatchIn(stmt).map(_.group(1).trim)
    val db = fromDb.getOrElse(if (infoDb) "information_schema" else currentDb)
    val rows: Seq[(String, String)] =
      if (db == "information_schema") InfoSchema.tables.map(t => (t.name, "LOCAL TEMPORARY"))
      else {
        val base: Seq[(String, String)] =
          if (db == currentDb)
            catalog.tables.map((_, "BASE TABLE")) ++ userViews.toSeq.map((_, "VIEW"))
          else dbSaved.get(db).map(_.specs.keys.toSeq.map((_, "BASE TABLE")))
            .getOrElse(throw new IllegalArgumentException(s"database $db not found"))
        // `numbers` is a public-schema builtin (table/src/table/numbers.rs)
        if (db == "public") base :+ ("numbers" -> "LOCAL TEMPORARY") else base
      }
    val colName = s"Tables_in_$db"
    var df = rows.sortBy(_._1).toDF(colName, "Table_type")
    like.foreach(p => df = df.filter(col(s"`$colName`").rlike("^" + likeRegex(p) + "$")))
    where.foreach(w => df = df.where(
      dialect(w).replaceAll("(?i)\\bTables\\b", s"`$colName`")))
    if (full) df else df.select(s"`$colName`")
  }

  private def showDatabases(stmt: String): DataFrame = {
    import spark.implicits._
    val full = stmt.toUpperCase(Locale.ROOT).startsWith("SHOW FULL")
    val like = "(?i)\\bLIKE\\s+'([^']*)'".r.findFirstMatchIn(stmt).map(_.group(1))
    val where = "(?is)\\bWHERE\\s+(.*)$".r.findFirstMatchIn(stmt).map(_.group(1).trim)
    val names = (dbOpts.keys.toSeq ++ Seq("information_schema", "greptime_private"))
      .distinct.sorted
    val filtered = names
      .filter(n => like.forall(p => n.matches("^" + likeRegex(p) + "$")))
    var df =
      if (!full) filtered.toDF("Database")
      else filtered.flatMap { n =>
        // ttl first, the rest alphabetical, one option per row with a
        // trailing blank row (create_database_opts.result)
        val opts = dbOpts.getOrElse(n, Nil)
        val ordered = opts.filter(_._1 == "ttl") ++
          opts.filterNot(_._1 == "ttl").sortBy(_._1)
        val lines = ordered.map { case (k, v) => s"'$k'='$v'" }
        if (lines.isEmpty) Seq((n, ""))
        else (n, lines.head) +: (lines.tail.map(("", _)) :+ ("", ""))
      }.toDF("Database", "Options")
    where.foreach(w => df = df.where(dialect(w)))
    df
  }

  // ---- databases ------------------------------------------------------

  private val CreateDbRx =
    "(?is)CREATE\\s+DATABASE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?('[^']+'|[A-Za-z_\"`][A-Za-z0-9_\"`]*)\\s*(?:WITH\\s*\\((.*)\\))?".r

  private def createDatabase(stmt: String): DataFrame = stmt match {
    case CreateDbRx(rawName, withPart) =>
      // single-quoted database names are accepted (create_database.result)
      val name = unquote(rawName.stripPrefix("'").stripSuffix("'"))
      if (!name.matches("[A-Za-z_][A-Za-z0-9_-]*"))
        throw new IllegalArgumentException(s"Invalid database name: $name")
      if (Set("pg_catalog", "information_schema", "greptime_private")
          .contains(name.toLowerCase(Locale.ROOT)))
        throw new IllegalArgumentException(
          s"Schema $name already exists") // reserved (system/pg_catalog.sql)
      if (dbOpts.contains(name) || dbSaved.contains(name)) {
        if ("(?is).*IF\\s+NOT\\s+EXISTS.*".r.matches(stmt.take(40)))
          return status(s"database $name exists")
        throw new IllegalArgumentException(s"database $name already exists")
      }
      val opts = Option(withPart).map(w => splitTop(w).flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k.trim.stripPrefix("'").stripSuffix("'")
          .toLowerCase(Locale.ROOT) -> v.trim.stripPrefix("'").stripSuffix("'"))
        case _ => None
      })).getOrElse(Nil)
      // validate a ttl option eagerly (alter_database negative tests)
      opts.find(_._1 == "ttl").map(_._2).filter(_.nonEmpty)
        .filterNot(v => v == "instant" || v == "forever").foreach(parseTtlMs)
      dbOpts.put(name, opts)
      dbSaved.put(name, EmptyDb)
      status(s"database $name created")
    case _ => throw new IllegalArgumentException(s"cannot parse: $stmt")
  }

  private def saveCurrentDb(): Unit =
    dbSaved.put(currentDb, DbState(
      catalog.tables.map(t => t -> catalog.spec(t)).toMap, tableMeta.toMap))

  /** Replace the visible tables and their records with `st`'s. */
  private def loadDb(st: DbState): Unit = {
    catalog.tables.foreach { t =>
      spark.catalog.dropTempView(t)
      catalog.deregister(t)
    }
    // external tables are temp views outside the catalog
    tableMeta.foreach { case (t, m) => m.external.foreach(_ => spark.catalog.dropTempView(t)) }
    tableMeta.clear()
    tableMeta ++= st.meta
    st.specs.values.foreach(catalog.register)
    st.specs.keys.foreach(t => refreshView(t))
    st.meta.foreach { case (t, m) =>
      m.external.foreach { case (fmt, loc) => externalView(t, fmt, loc) } }
  }

  private def useDatabase(name0: String): DataFrame = {
    // database names resolve case-insensitively (the reference corpus
    // issues `USE PUBLIC` against database `public`)
    val name =
      if (dbOpts.contains(name0) || dbSaved.contains(name0)) name0
      else (dbOpts.keysIterator ++ dbSaved.keysIterator)
        .find(_.equalsIgnoreCase(name0)).getOrElse(name0)
    if (name != currentDb) {
      val target = dbSaved.getOrElse(name,
        if (name == "public") EmptyDb
        else throw new IllegalArgumentException(s"database $name not found"))
      if (!dbOpts.contains(name) && name != "public")
        throw new IllegalArgumentException(s"database $name not found")
      saveCurrentDb()
      loadDb(target)
      currentDb = name
    }
    status(s"using $name")
  }

  private def dropDatabase(stmt: String): DataFrame = {
    val name = unquote(stmt.split("\\s+")
      .filterNot(t => t.equalsIgnoreCase("IF") || t.equalsIgnoreCase("EXISTS"))
      .last.stripPrefix("'").stripSuffix("'"))
    if (name == currentDb) {
      currentDb = "public"
      loadDb(dbSaved.getOrElse("public", EmptyDb))
    }
    // per-schema mangled tables/views of the dropped db go away too
    // (select/multi_column_ref.sql's DROP SCHEMA)
    val prefix = s"${name}__schema__"
    catalog.tables.filter(_.startsWith(prefix)).foreach { t =>
      spark.catalog.dropTempView(t)
      catalog.deregister(t)
      tableMeta.remove(t)
    }
    userViews.filter(_.startsWith(prefix)).foreach { v =>
      spark.catalog.dropTempView(v); userViews -= v; userViewDefs -= v
    }
    dbSaved.remove(name)
    dbOpts.remove(name)
    status(s"database $name dropped")
  }

  /** Spark type → reference `ConcreteDataType` display name, for tables
    * registered without DDL (external parquet). */
  private[sql] def greptimeNameOf(t: DataType): String = t match {
    case ByteType => "Int8"
    case ShortType => "Int16"
    case IntegerType => "Int32"
    case LongType => "Int64"
    case FloatType => "Float32"
    case DoubleType => "Float64"
    case StringType => "String"
    case BooleanType => "Boolean"
    case BinaryType => "Binary"
    case DateType => "Date"
    case TimestampType | TimestampNTZType => "TimestampMillisecond"
    case d: DecimalType => s"Decimal(${d.precision}, ${d.scale})"
    case other => other.simpleString.capitalize
  }

  /** `SHOW COLUMNS {FROM|IN} t [{FROM|IN} db] [LIKE p]` in the MySQL
    * 7-column shape (sql/src/statements/show.rs: Field | Type | Null |
    * Key | Default | Extra | Greptime_type), rows ordered by Field,
    * SQL types lowercased (show/show_columns.result). */
  /** (table, non_unique, key_name, seq, column, nullCell, index_type)
    * index rows of a table's declared metadata — shared by SHOW INDEX
    * and information_schema.statistics (show/show_index.sql compares
    * both against the same inventory). */
  private[sql] def indexRowsOf(t: String): Seq[(String, Int, String, Int, String, String, String)] = {
    val spec = catalog.spec(t)
    val metas = metaOf(t).colMeta
    def nullCell(c: String): String =
      if (c == spec.timeIndex) ""
      else if (metas.find(_.name == c).forall(_.nullable)) "YES" else ""
    // a metric PHYSICAL table leads its key with the internal
    // __table_id/__tsid columns and skip-indexes __table_id
    // (create/create_metric_table.result)
    // declared tags precede the internals; tags PROPAGATED from
    // logical tables follow them (show/show_create.result's phy)
    val pkCols: Seq[(String, String)] =
      metricPhy.get(t) match {
        case Some(ps) =>
          val added = ps.addedTags.toSet
          spec.tags.filterNot(added).map(c => c -> nullCell(c)) ++
            Seq("__table_id" -> "", "__tsid" -> "") ++
            spec.tags.filter(added).map(c => c -> nullCell(c))
        case None => spec.tags.map(c => c -> nullCell(c))
      }
    val pk = pkCols.zipWithIndex.map { case ((c, nl), i) =>
      (t, 0, "PRIMARY", i + 1, c, nl, "PRIMARY") }
    val phySkip =
      if (metricPhy.contains(t))
        Seq((t, 1, "SKIPPING_INDEX___table_id", 1, "__table_id", "", "SKIPPING"))
      else Nil
    val ti = phySkip ++ Seq((t, 1, "TIME INDEX", 1, spec.timeIndex,
      nullCell(spec.timeIndex), "TIME"))
    val decls = metas.flatMap(cm => cm.indexDecl.toSeq.flatMap { d =>
      Seq("FULLTEXT", "SKIPPING", "INVERTED")
        .filter(k => ("(?i)\\b" + k + "\\b").r.findFirstIn(d).isDefined)
        .map(kind =>
          (t, 1, s"${kind}_INDEX_${cm.name}", 1, cm.name, nullCell(cm.name), kind))
    })
    pk ++ ti ++ decls
  }

  private def showColumns(stmt: String): DataFrame = {
    import spark.implicits._
    val full = "(?is)^SHOW\\s+FULL\\s".r.findFirstIn(stmt.trim).isDefined
    val m = "(?is)^SHOW\\s+(?:FULL\\s+)?COLUMNS\\s+(?:FROM|IN)\\s+(\\S+)" +
      "(?:\\s+(?:FROM|IN)\\s+(\\S+))?(?:\\s+LIKE\\s+'([^']*)')?" +
      "(?:\\s+WHERE\\s+(.+?))?\\s*$"
    val rx = m.r
    stmt match {
      case rx(t, _, likeOpt, whereOpt) =>
        val name = normTable(t)
        // a VIEW has no stored column metadata — the reference returns
        // an empty result (view/create.result:155-163)
        if (!catalog.tables.contains(name) && userViews.contains(name)) {
          val empty = Seq.empty[(String, String, String, String, String, String, String)]
            .toDF("Field", "Type", "Null", "Key", "Default", "Extra", "Greptime_type")
          return empty.limit(0)
        }
        val spec = catalog.spec(name)
        val dropped = metaOf(name).droppedCols
        val metas = declaredCols(name).getOrElse(
          graft.model.Catalog.schemaOf(spark, spec.path)
            .filterNot(f => f.name == SeqCol)
            .map(f => ColMeta(f.name, greptimeNameOf(f.dataType), f.nullable, None, None))
            .toVector)
        val like = Option(likeOpt).map(likeRegex)
        val df0 = metas.filterNot(mm => dropped.contains(mm.name))
          .filter(mm => like.forall(p => mm.name.matches(p)))
          .sortBy(_.name)
          .map { mm =>
            val key =
              if (mm.name == spec.timeIndex) "TIME INDEX"
              else if (spec.tags.contains(mm.name)) "PRI" else ""
            val nul = if (mm.nullable && mm.name != spec.timeIndex) "YES" else "NO"
            val dft = mm.default
              .map(_.stripPrefix("'").stripSuffix("'"))
              .map(d => if (d.matches("(?i)current_timestamp(\\(\\))?"))
                "current_timestamp()" else d)
              .getOrElse("")
            (mm.name, showCreateType(mm.gtype).toLowerCase(Locale.ROOT),
              nul, key, dft, "", mm.gtype)
          } match {
            // SHOW FULL COLUMNS adds Collation/Comment/Privileges
            // (starrocks_compatibility.result: utf8_bin for strings)
            case rows if full => rows.map { case (f, tp, nul, key, dft, ex, gt) =>
              (f, tp, if (gt == "String") "utf8_bin" else "", nul, key, dft,
                "", "select,insert", ex, gt)
            }.toDF("Field", "Type", "Collation", "Null", "Key", "Default",
              "Comment", "Privileges", "Extra", "Greptime_type")
            case rows => rows
              .toDF("Field", "Type", "Null", "Key", "Default", "Extra", "Greptime_type")
          }
        // `SHOW COLUMNS ... WHERE Field = 'x'` filters on the output
        // columns (show/show_columns.sql)
        Option(whereOpt).map(w => df0.where(dialect(w))).getOrElse(df0)
      case _ => throw new IllegalArgumentException(
        "Unexpected token while parsing SQL statement, expected: '{FROM | IN} table'")
    }
  }

  /** DESC TABLE in the reference's six-column shape
    * (sql/src/statements.rs `prepare_describe_arrow`):
    * Column | Type | Key | Null | Default | Semantic Type. */
  private[sql] def describeTable(name: String): DataFrame = {
    import spark.implicits._
    val spec = catalog.spec(name)
    val dropped = metaOf(name).droppedCols
    val rows: Seq[(String, String, Boolean)] = declaredCols(name) match {
      case Some(metas) =>
        metas.filterNot(m => dropped.contains(m.name))
          .map(m => (m.name, m.gtype,
            m.nullable && m.name != spec.timeIndex))
      case None =>
        graft.model.Catalog.schemaOf(spark, spec.path)
          .filterNot(f => dropped.contains(f.name) || f.name == SeqCol)
          .map(f => (f.name, greptimeNameOf(f.dataType),
            f.nullable && f.name != spec.timeIndex))
    }
    val defaults = metaOf(name).colMeta
      .map(m => m.name -> m.default).toMap
    // a metric physical table that ever hosted a logical table exposes
    // the reserved __table_id/__tsid tags between its declared columns
    // and the logically-added ones (create_metric_table.result)
    val withReserved: Seq[(String, String, Boolean)] = metricPhy.get(name) match {
      case Some(ps) if ps.everLogical =>
        val at = rows.indexWhere(r => ps.addedTags.contains(r._1)) match {
          case -1 => rows.length
          case i => i
        }
        rows.take(at) ++ Seq(("__table_id", "UInt32", false),
          ("__tsid", "UInt64", false)) ++ rows.drop(at)
      case _ => rows
    }
    withReserved.map { case (n, t, nullable) =>
      val semantic =
        if (n == spec.timeIndex) "TIMESTAMP"
        else if (spec.tags.contains(n) || n == "__table_id" || n == "__tsid") "TAG"
        else "FIELD"
      val key = if (semantic == "TIMESTAMP" || semantic == "TAG") "PRI" else ""
      // the reference renders defaults through its expression printer:
      // CURRENT_TIMESTAMP -> current_timestamp() (create_type_alias.result)
      val default = defaults.getOrElse(n, None)
        .map(_.stripPrefix("'").stripSuffix("'"))
        .map(d => if (d.matches("(?i)current_timestamp(\\(\\))?")) "current_timestamp()" else d)
        .getOrElse("")
      (n, t, key, if (nullable) "YES" else "NO", default, semantic)
    }.toDF("Column", "Type", "Key", "Null", "Default", "Semantic Type")
  }

  // ---- INSERT ---------------------------------------------------------

  private val InsertRx =
    ("(?is)INSERT\\s+INTO\\s+(?:TABLE\\s+)?((?:\"[^\"]+\"|`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)" +
      "(?:\\.(?:\"[^\"]+\"|`[^`]+`|[A-Za-z_][A-Za-z0-9_]*))?)\\s*(\\([^)]*\\))?\\s*(VALUES.*|SELECT.*)").r

  /** Drop a `,` that directly precedes `)` outside string literals. */
  private def stripTupleTrailingCommas(s: String): String = {
    if (!s.contains(',')) return s
    val sb = new StringBuilder(s.length)
    var inQ = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ) { sb.append(c); if (c == '\'') inQ = false; i += 1 }
      else if (c == '\'') { sb.append(c); inQ = true; i += 1 }
      else if (c == ',') {
        var j = i + 1
        while (j < s.length && s.charAt(j).isWhitespace) j += 1
        if (j < s.length && s.charAt(j) == ')') i += 1 // drop the comma
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** `INSERT ... VALUES (DEFAULT, ...)`: the DEFAULT keyword resolves
    * to the column's declared default, else NULL
    * (insert/insert_default.result). */
  private def substituteDefaults(table: String, body: String,
      cols: Seq[String]): String = {
    if (!body.trim.toUpperCase(Locale.ROOT).startsWith("VALUES") ||
      !"(?i)\\bDEFAULT\\b".r.findFirstIn(body).isDefined) return body
    val meta = metaOf(table)
    val metas = meta.colMeta
    val defaults = metas
      .map(m => m.name -> meta.colDefaultResolved.get(m.name).orElse(m.default)).toMap
    val ti = scala.util.Try(catalog.spec(table).timeIndex).toOption
    val tuples = splitTop(body.trim.substring("VALUES".length)).map { t0 =>
      val t = t0.trim
      if (!t.startsWith("(")) t
      else splitTop(t.stripPrefix("(").stripSuffix(")")).zipWithIndex.map {
        case (f, i) if f.trim.equalsIgnoreCase("default") =>
          val cname = cols.lift(i).getOrElse("?")
          defaults.getOrElse(cname, None).getOrElse {
            // DEFAULT on the time index / a NOT NULL column without a
            // declared default is an error (insert/insert_default.result)
            if (ti.contains(cname) || metas.exists(m => m.name == cname && !m.nullable))
              throw new IllegalArgumentException(
                s"No valid default value can be built automatically, column: $cname")
            "NULL"
          }
        case (f, _) => f
      }.mkString("(", ", ", ")")
    }
    "VALUES " + tuples.mkString(", ")
  }

  private def insert(stmt: String): DataFrame = stmt match {
    case InsertRx(name0, colsOpt, body) =>
      val name = normTable(name0)
      val spec = catalog.spec(name)
      // ttl='instant': rows report 0 affected and are invisible to scans
      // (Catalog.readView filters them) but STILL persist so attached
      // flows can process them (flow/flow_advance_ttl streaming mode)
      val instant = spec.ttlMillis.contains(0L)
      val before = graft.model.Catalog.listing(spark, spec.path)
      val target = graft.model.Catalog.schemaOf(spark, spec.path, before)
      val cols = Option(colsOpt)
        .map(_.stripPrefix("(").stripSuffix(")").split(",").map(c => unquote(c)).toSeq)
        .getOrElse {
          // positional VALUES follow the declared (FIRST/AFTER-adjusted)
          // column order, not the physical parquet order
          val dropped = metaOf(name).droppedCols
          declaredCols(name).map(_.map(_.name).filterNot(dropped))
            .filter(_.nonEmpty)
            .getOrElse(target.map(_.name).toSeq.filterNot(_ == SeqCol))
        }
      // omitting the time index without a default is rejected
      // (insert/logical_metric_table.result t_default)
      if (!cols.exists(_.equalsIgnoreCase(spec.timeIndex)) &&
        !metaOf(name).colMeta
          .find(_.name == spec.timeIndex).exists(_.default.isDefined))
        throw new IllegalArgumentException(
          s"Invalid request for region, reason: missing required time index column ${spec.timeIndex}")
      // the reference accepts trailing commas after the last VALUES
      // tuple (promql/simple_histogram.sql) and INSIDE a tuple before
      // `)` (insert/append_mode.sql); Spark doesn't
      val cleanBody = stripTupleTrailingCommas(body.trim.replaceAll(",\\s*$", ""))
      // a literal with nonzero digits past µs switches the table onto
      // the ns-fidelity read path (rewrites in dialect())
      if (target.exists(_.name.startsWith("__nsr_")) &&
          "[.]\\d{6}\\d*[1-9]".r.findFirstIn(cleanBody).isDefined)
        editMeta(name)(_.copy(nsRemainder = true))
      if (cleanBody.toUpperCase(Locale.ROOT).startsWith("VALUES"))
        splitTop(cleanBody.substring("VALUES".length)).map(_.trim)
          .filter(_.startsWith("(")).foreach { t =>
            val n = splitTop(t.stripPrefix("(").stripSuffix(")")).size
            if (n != cols.size) throw new IllegalArgumentException(
              s"Invalid SQL, error: column count mismatch, columns: ${cols.size}, values: $n")
          }
      // a VALUES column that mixes numeric epoch literals with timestamp
      // exprs (now()) would fail Spark's inline-table coercion — wrap the
      // numerics in the epoch-ms convention up front
      // (system/semantic_graph.sql's `(now(), ...), (0, ...)`)
      def coerceMixedTs(valuesBody: String): String = {
        if (!valuesBody.trim.toUpperCase(Locale.ROOT).startsWith("VALUES"))
          return valuesBody
        val tsIdx = cols.zipWithIndex.filter { case (c, _) =>
          target.find(_.name == c).exists(f =>
            f.dataType == TimestampType || f.dataType == TimestampNTZType)
        }.map(_._2).toSet
        if (tsIdx.isEmpty) return valuesBody
        val tuples = splitTop(valuesBody.trim.substring("VALUES".length)).map(_.trim)
        if (tuples.isEmpty || !tuples.forall(_.startsWith("("))) return valuesBody
        val cells = tuples.map(t => splitTop(t.stripPrefix("(").stripSuffix(")")))
        val us = metaOf(name).tsLiteralUs
        def isNum(t: String) = t.matches("-?\\d+")
        def isStr(t: String) = t.startsWith("'") && t.endsWith("'")
        val needCoerce = tsIdx.filter { i =>
          val toks = cells.map(_.lift(i).map(_.trim).getOrElse(""))
          val kinds = toks.map(t =>
            if (isNum(t)) 0 else if (isStr(t)) 1 else 2).distinct
          kinds.size > 1
        }
        if (needCoerce.isEmpty) return valuesBody
        "VALUES " + cells.map(_.zipWithIndex.map { case (tok0, i) =>
          val tok = tok0.trim
          if (needCoerce(i) && isNum(tok))
            if (us > 0) s"TIMESTAMP_MICROS(CAST($tok AS BIGINT) * $us)"
            else s"TIMESTAMP_MICROS(CAST($tok AS BIGINT) div 1000)"
          else if (needCoerce(i) && isStr(tok)) s"CAST($tok AS TIMESTAMP)"
          else tok
        }.mkString("(", ", ", ")")).mkString(", ")
      }
      var df = spark.sql(dialect(coerceMixedTs(
        graft.functions.JsonSql.foldParseJsonLiterals(
          // parse_vec over a literal folds to the literal itself — the
          // aligned projection parses strings into VECTOR columns, and
          // inline VALUES reject non-foldable calls (types/vector)
          foldIntProducts(substituteDefaults(name, cleanBody, cols)
            .replaceAll("(?i)\\bparse_vec\\s*\\(\\s*('[^']*')\\s*\\)", "$1"))))))
      df = df.toDF(cols: _*)
      // JSON2 type hints validate + materialize defaults at write time
      // (types/json/json2_type_hints.sql); eager so a violation aborts
      // the statement with the reference's message
      metaOf(name).j2Hints.foreach { case (c, hs) =>
        if (cols.contains(c)) {
          val hintSpec = j2HintSpecJson(hs)
          df = df.withColumn(c,
            call_udf("__json2_hint", col(s"`$c`").cast(StringType), lit(hintSpec)))
          try df.select(col(s"`$c`")).foreach(_ => ())
          catch { case e: Throwable =>
            var cur: Throwable = e
            while (cur != null && !cur.isInstanceOf[IllegalArgumentException])
              cur = cur.getCause
            throw Option(cur).getOrElse(e)
          }
        }
      }
      // a VALUES cell that cannot cast to the column type fails the whole
      // statement, nothing inserted, checked before the in-statement dedup
      // drops any row (insert/mysql_insert.result: '15a'
      // into INT errors and the companion '16' row must not land)
      // type-changed columns store as STRING but validate/convert
      // against the CURRENT logical type (typeHistory semantics)
      val histCols = metaOf(name).typeHistory.keySet
      def curTypeOf(c: String): DataType = sparkType(showCreateType(
        metaOf(name).colMeta.find(_.name == c)
          .map(_.gtype).getOrElse("String")))
      val badCast = target.filter(f => cols.contains(f.name)).flatMap { f =>
        val srcType = df.schema(f.name).dataType
        val logical = if (histCols.contains(f.name)) curTypeOf(f.name) else f.dataType
        if (srcType == StringType && logical != StringType &&
          logical != BinaryType && logical != TimestampType &&
          logical != TimestampNTZType && logical != DateType &&
          // VECTOR literals parse via parse_vec, not a SQL cast
          !logical.isInstanceOf[ArrayType])
          Some(col(s"`${f.name}`").isNotNull &&
            expr(s"try_cast(`${f.name}` AS ${logical.sql})").isNull)
        else None
      }
      if (badCast.nonEmpty && !df.filter(badCast.reduce(_ || _)).isEmpty)
        throw new IllegalArgumentException(
          "Unable to convert value to column datatype")
      // align to full target schema: missing columns become nulls, the
      // sequence column is stamped per statement (write order for the
      // last_row / last_non_null merge views)
      // duplicate keys WITHIN one statement: the later row wins (write
      // order), mirroring the reference's ingest, which gives each row
      // of a batch its own sequence; dedup here because the
      // statement-level seq can't order rows inside the statement.
      // last_row keeps the newest row per key: max_by(struct(non-key
      // cols), write-order id) replaces the r10 row_number window
      // (optimization round 11, guide §2.3): the aggregate does partial
      // map-side combining and needs no partition sort, where the window
      // sorted every batch row after the shuffle; semantics are
      // identical because the order id is unique (no ties) and max_by
      // keeps exactly the newest row's full column struct per key.
      // last_non_null keeps, per field, the newest non-null value of the
      // key's rows (max_by skips a null ordering), as if each row were
      // its own write.
      // A VALUES body is an inline table (LocalRelation) whose rows the
      // statement text already holds, so it dedups in ONE partition: the
      // aggregate plans no exchange, and the statement is one write job
      // of one file.
      var dedupApplied = false
      if (spec.mergeMode != MergeMode.Append) {
        val pkCols = spec.primaryKey.filter(cols.contains)
        if (pkCols.nonEmpty) {
          val origCols = df.columns.toSeq
          val rest = origCols.filterNot(pkCols.contains)
          if (df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation]))
            df = df.coalesce(1)
          val byKey = df.withColumn("__ord", monotonically_increasing_id())
            .groupBy(pkCols.map(k => col(s"`$k`")): _*)
          df =
            if (rest.isEmpty) df.dropDuplicates(pkCols) // keys only: rows identical per key
            else if (spec.mergeMode == MergeMode.LastRow)
              byKey.agg(max_by(struct(rest.map(c => col(s"`$c`")): _*),
                col("__ord")).as("__r"))
              .select(origCols.map(c =>
                if (pkCols.contains(c)) col(s"`$c`")
                else col("__r").getField(c).as(c)): _*)
            else {
              val newestNonNull = rest.map(c =>
                max_by(col(s"`$c`"), when(col(s"`$c`").isNotNull, col("__ord"))).as(c))
              byKey.agg(newestNonNull.head, newestNonNull.tail: _*)
                .select(origCols.map(c => col(s"`$c`")): _*)
            }
          dedupApplied = true
        }
      }
      val seq = seqCounter.incrementAndGet()
      val numericTypes: Set[DataType] =
        Set(ByteType, ShortType, IntegerType, LongType)
      val aligned = target.map { f =>
        if (f.name == SeqCol && !cols.contains(SeqCol))
          lit(seq).cast(f.dataType).as(f.name)
        // hidden sub-µs remainder beside a TimestampNanosecond column:
        // digits 7-9 of a string literal's fraction, or epoch-ns % 1000
        // (types/timestamp/ts_precision_comparison.sql)
        else if (f.name.startsWith("__nsr_")) {
          val base = f.name.stripPrefix("__nsr_")
          val srcT = if (cols.contains(base))
            scala.util.Try(df.schema(base).dataType).toOption else None
          (srcT match {
            case Some(StringType) => expr(
              s"CAST(coalesce(CASE WHEN try_cast(`$base` AS BIGINT) IS NOT NULL " +
                s"THEN pmod(try_cast(`$base` AS BIGINT), 1000) " +
                s"WHEN instr(`$base`, '.') > 0 THEN try_cast(substring(rpad(" +
                s"substring(`$base`, instr(`$base`, '.') + 1), 9, '0')" +
                s", 7, 3) AS BIGINT) ELSE 0 END, 0) AS INT)")
            case Some(t) if numericTypes.contains(t) =>
              expr(s"CAST(pmod(CAST(`$base` AS BIGINT), 1000) AS INT)")
            case _ => lit(0)
          }).cast(IntegerType).as(f.name)
        }
        else if (cols.contains(f.name)) {
          val srcType = df.schema(f.name).dataType
          val isTs = f.dataType == TimestampType || f.dataType == TimestampNTZType
          // integer into TIME INDEX = epoch milliseconds (the reference's
          // TIMESTAMP(3) literal convention), not Spark's epoch seconds;
          // fractional numerics truncate toward zero first
          // (insert_select.result: memory=333.3 -> 00:00:00.333)
          if (isTs && (numericTypes.contains(srcType) ||
              srcType == DoubleType || srcType == FloatType ||
              srcType.isInstanceOf[DecimalType])) {
            val us = metaOf(name).tsLiteralUs
            val micros =
              // exact when in range; saturate instead of ANSI-overflowing
              // (types/string/scan_big_varchar.sql multiplies epoch
              // seconds past the µs-representable horizon)
              if (us > 0) expr(
                s"coalesce(try_multiply(CAST(`${f.name}` AS BIGINT), ${us}L), " +
                  // exact 64-bit WRAPPING multiply via decimal modulus:
                  // out-of-range epochs stay distinct (scan_big_varchar's
                  // doubling counts would collide under saturation)
                  s"CAST(CAST((CAST(CAST(`${f.name}` AS BIGINT) AS DECIMAL(38,0))" +
                  s" * $us % 18446744073709551616" +
                  s" + 27670116110564327424) % 18446744073709551616" +
                  s" - 9223372036854775808 AS DECIMAL(20,0)) AS BIGINT))")
              else expr(s"CAST(`${f.name}` AS BIGINT) div 1000")
            timestamp_micros(micros).cast(f.dataType).as(f.name)
          }
          else if (isTs && srcType == StringType) {
            // numeric strings follow the same epoch convention
            // (insert/mysql_insert.result: '3' -> 00:00:00.003);
            // non-numeric strings parse as datetimes
            val us = metaOf(name).tsLiteralUs
            val asNum = expr(s"try_cast(`${f.name}` AS BIGINT)")
            val micros =
              if (us > 0) asNum * lit(us) else expr(s"try_cast(`${f.name}` AS BIGINT) div 1000")
            when(asNum.isNotNull, timestamp_micros(micros).cast(f.dataType))
              .otherwise(col(s"`${f.name}`").cast(f.dataType)).as(f.name)
          }
          else if (histCols.contains(f.name))
            // normalize through the current logical type so the stored
            // string renders it faithfully ("1" vs "1.0")
            col(s"`${f.name}`").cast(curTypeOf(f.name)).cast(f.dataType).as(f.name)
          // VECTOR column from a '[1.0, 2.0]' literal (the reference
          // auto-parses; function/vector/vector_index.sql)
          else if (srcType == StringType && (f.dataType match {
              case ArrayType(FloatType, _) => true; case _ => false }))
            expr(s"parse_vec(`${f.name}`)").as(f.name)
          else col(s"`${f.name}`").cast(f.dataType).as(f.name)
        } else {
          // unspecified column: declared DEFAULT, else null
          // (datatypes/src/schema/constraint.rs)
          val d = metaOf(name).colDefaultResolved.get(f.name)
            .orElse(metaOf(name).colMeta
              .find(_.name == f.name).flatMap(_.default))
          val isTs = f.dataType == TimestampType || f.dataType == TimestampNTZType
          d.map { x =>
            // numeric default on a timestamp column = epoch millis
            // (insert/insert_default.result: DEFAULT -3 -> 23:59:59.997)
            if (isTs && x.matches("-?\\d+"))
              timestamp_micros(lit(x.toLong) * 1000L).cast(f.dataType).as(f.name)
            else if (histCols.contains(f.name))
              expr(dialect(x)).cast(curTypeOf(f.name)).cast(f.dataType).as(f.name)
            // VECTOR DEFAULT '[...]' parses, not casts (types/vector t2)
            else if ((f.dataType match {
                case ArrayType(FloatType, _) => true; case _ => false
              }) && x.trim.startsWith("'"))
              expr(s"parse_vec(${x.trim})").as(f.name)
            else expr(dialect(x)).cast(f.dataType).as(f.name)
          }.getOrElse(lit(null).cast(f.dataType).as(f.name))
        }
      }
      // a literal VALUES insert with no dedup/cast-drop has a known row
      // count — skip the extra count() job (halves insert latency; the
      // 1-second database-ttl test is wall-clock sensitive)
      val literalN: Option[Long] =
        if (cleanBody.toUpperCase(Locale.ROOT).startsWith("VALUES") &&
            badCast.isEmpty && !dedupApplied)
          Some(splitTop(cleanBody.substring("VALUES".length))
            .count(_.trim.startsWith("("))
            .toLong)
        else None
      // values truncate to the column's declared precision on write
      // (timestamp_precision_display.result: a TIMESTAMP(0) column
      // drops sub-second input; (3) drops sub-millisecond)
      val gtypeOf = metaOf(name).colMeta
        .map(c => c.name -> c.gtype).toMap
      val alignedP = target.zip(aligned).map { case (f, c) =>
        if (f.dataType == TimestampType || f.dataType == TimestampNTZType)
          gtypeOf.get(f.name) match {
            case Some("TimestampSecond") =>
              date_trunc("second", c).cast(f.dataType).as(f.name)
            case Some("TimestampMillisecond") =>
              date_trunc("millisecond", c).cast(f.dataType).as(f.name)
            case _ => c
          }
        else c
      }
      // the affected-row count rides the WRITE job via observe()
      // (optimization round 11, guide §1.2): the r10 path ran
      // df.count() and THEN the write — two full executions of the
      // batch pipeline (source scan + dedup shuffle each) per INSERT
      val out = df.select(alignedP: _*)
      val obs = literalN match {
        case Some(_) => None
        case None => Some(org.apache.spark.sql.Observation())
      }
      val outObs = obs.map(o =>
        out.observe(o, count(lit(1)).as("__n"))).getOrElse(out)
      outObs.write.mode("append").parquet(spec.path)
      val n = literalN.getOrElse(
        obs.get.get("__n").asInstanceOf[Long])
      // the append wrote columns aligned to `target`, so the merged
      // schema of the grown listing is unchanged — skip the next
      // statement's footer-union job
      graft.model.Catalog.primeSchemaCacheAfterAppend(spark, spec.path, before, target)
      refreshPath(spec.path)
      refreshView(name)
      logicalParent.get(name).foreach(refreshMetricPhyView)
      // SCHEDULED flows (EVAL INTERVAL) process source writes
      // continuously; flows without a schedule materialize only on
      // FLUSH_FLOW (flow_last_non_null: the un-flushed sibling flow's
      // windows must NOT recompute on the other flow's insert)
      flowMeta.foreach { case (fname, m) =>
        if (m.srcTable.contains(name) && m.evalInterval.isDefined)
          try refreshFlow(fname) catch {
            case e: Throwable =>
              System.err.println(s"[flow-refresh] $fname: ${String.valueOf(e.getMessage).take(160)}")
          }
      }
      status(s"inserted ${if (instant) 0L else n} rows into $name")
    case _ => throw new IllegalArgumentException(s"cannot parse: $stmt")
  }

  // ---- DELETE ---------------------------------------------------------

  private val DeleteRx =
    "(?is)DELETE\\s+FROM\\s+(\"[^\"]+\"|`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)(?:\\s+WHERE\\s+(.*))?".r

  /** DELETE FROM t [WHERE cond] — rewrite the table's Parquet as the
    * raw rows (all merge versions, with `__seq` kept) minus the matches
    * (operator/src/delete.rs). */
  private def delete(stmt: String): DataFrame = stmt match {
    case DeleteRx(rawName, condOpt) =>
      // same identifier folding as CREATE: unquoted names case-fold
      // (delete.result's `DELETE FROM MoNiToR` hits table `monitor`)
      val name = normTable(rawName)
      val spec = catalog.spec(name)
      // integer literals compared against the time index are epoch
      // units of the column's precision (TypeConversionRule)
      val condSql = Option(condOpt).map { c0 =>
        val us = metaOf(name).tsLiteralUs
        val ti = java.util.regex.Pattern.quote(spec.timeIndex)
        c0.replaceAll(
          s"(?i)\\b($ti)\\s*(=|!=|<>|<=|>=|<|>)\\s*(\\d+)\\b",
          if (us > 0) s"$$1 $$2 TIMESTAMP_MICROS(CAST($$3 AS BIGINT) * $us)"
          else s"$$1 $$2 TIMESTAMP_MICROS(CAST($$3 AS BIGINT) div 1000)")
      }
      val hit = coalesce(condSql.map(c => expr(dialect(c))).getOrElse(lit(true)), lit(false))
      val n = Catalog.rawRead(spark, spec.path).filter(hit).count()
      migrateParquet(spec)(_.filter(!hit))
      refreshView(name)
      status(s"deleted $n rows from $name")
    case _ => throw new IllegalArgumentException(s"cannot parse: $stmt")
  }

  /** TRUNCATE [TABLE] t — with or without the TABLE keyword, optionally
    * `FILE RANGE (a, b), ...` (mito region truncate); every form drops
    * all data (truncate/truncate.result pins FILE RANGE wiping the whole
    * table too). */
  private val TruncateRx =
    "(?is)TRUNCATE\\s+(?:TABLE\\s+)?([A-Za-z_\"`][A-Za-z0-9_.\"`-]*)\\s*(?:FILE\\s+RANGE\\b.*)?".r

  private def truncateTable(stmt: String): DataFrame = stmt.trim match {
    case TruncateRx(name0) =>
      val name = normTable(name0)
      if (!catalog.tables.contains(name))
        throw new IllegalArgumentException(
          s"Table not found: greptime.$currentDb.$name")
      migrateParquet(catalog.spec(name))(_.filter(lit(false)))
      refreshView(name)
      status(s"table $name truncated")
    case _ => throw new IllegalArgumentException(s"cannot parse: $stmt")
  }

  // ---- COPY TO/FROM (§2.1) --------------------------------------------
  // operator/src/statement.rs:269-307 (`COPY TABLE TO/FROM`,
  // `COPY (query) TO`, `COPY DATABASE`), options per
  // operator/src/statement/copy_table_from.rs: format, pattern (regex),
  // start_time/end_time ([start, end) on the time index),
  // timestamp_format/date_format (strftime rendering for text formats),
  // compression_type, LIMIT n (tables only).

  private def parseCopyOpts(withBody: Option[String]): Map[String, String] =
    withBody.map { b =>
      splitTop(b).flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(
          k.trim.toLowerCase(Locale.ROOT) ->
            v.trim.stripPrefix("'").stripSuffix("'")
              .stripPrefix("\"").stripSuffix("\""))
        case _ => None
      }).toMap
    }.getOrElse(Map.empty)

  private def parseCopyTime(s: String): java.time.Instant = {
    val t = s.trim.replace(' ', 'T')
    val withZone = if (t.endsWith("Z") || t.contains("+")) t else t + "Z"
    java.time.Instant.parse(
      // Instant.parse needs seconds — pad a bare "HH:mm" if ever given
      if (withZone.count(_ == ':') == 1) withZone.replace("Z", ":00Z") else withZone)
  }

  private def copyTimeFilter(df: DataFrame, tsCol: String,
      opts: Map[String, String]): DataFrame = {
    var out = df
    opts.get("start_time").foreach { s =>
      out = out.filter(col(s"`$tsCol`") >=
        lit(java.sql.Timestamp.from(parseCopyTime(s))).cast(df.schema(tsCol).dataType))
    }
    opts.get("end_time").foreach { s =>
      out = out.filter(col(s"`$tsCol`") <
        lit(java.sql.Timestamp.from(parseCopyTime(s))).cast(df.schema(tsCol).dataType))
    }
    out
  }

  /** strftime-render timestamp/date columns for text exports
    * (copy_to_fs.result timestamp_format='%m-%d-%Y'). */
  private def copyRenderTimes(df: DataFrame, opts: Map[String, String]): DataFrame = {
    val tsFmt = opts.get("timestamp_format")
    val dFmt = opts.get("date_format")
    if (tsFmt.isEmpty && dFmt.isEmpty) return df
    // java8API is on: TIMESTAMP_NTZ surfaces as LocalDateTime in UDFs
    val strf = udf((ts: java.time.LocalDateTime, fmt: String) =>
      if (ts == null) null
      else graft.functions.Registry.Strftime.format(java.sql.Timestamp.valueOf(ts), fmt))
    df.select(df.schema.fields.map { f =>
      f.dataType match {
        case TimestampType | TimestampNTZType if tsFmt.isDefined =>
          strf(col(s"`${f.name}`").cast(TimestampNTZType), lit(tsFmt.get)).as(f.name)
        case DateType if dFmt.isDefined =>
          strf(col(s"`${f.name}`").cast(TimestampNTZType), lit(dFmt.get)).as(f.name)
        case _ => col(s"`${f.name}`")
      }
    }.toSeq: _*)
  }

  private def copyWriteOpts(opts: Map[String, String]): graft.sources.Copy.Options =
    graft.sources.Copy.Options(
      format = opts.getOrElse("format", "parquet"),
      compression = opts.get("compression_type"),
      pattern = opts.get("pattern"))

  private def copyExtOf(opts: Map[String, String]): String =
    opts.getOrElse("format", "parquet").toLowerCase

  /** COPY <table> TO: export the visible (merged) rows as one file. */
  private def copyTableTo(name: String, path: String,
      opts: Map[String, String]): Long = {
    val spec = catalog.spec(name)
    var df = spark.table(name)
    df = copyTimeFilter(df, spec.timeIndex, opts)
    val n = df.count()
    graft.sources.Copy.exportSingleFile(
      copyRenderTimes(df, opts), path, copyWriteOpts(opts))
    n
  }

  /** COPY <table> FROM: read files, adapt to the table schema (casts,
    * DEFAULTs for missing columns, extras dropped — copy_table_from.rs),
    * filter the time range, append. */
  private def copyTableFrom(name: String, path: String,
      opts: Map[String, String], limit: Option[Long]): Long = {
    val spec = catalog.spec(name)
    val files = graft.sources.Copy.listSourceFiles(spark, path, opts.get("pattern"))
    val src0 = graft.sources.Copy.importFiles(spark, files, copyWriteOpts(opts))
    val srcCols = src0.schema.fields.map(f => f.name.toLowerCase(Locale.ROOT) -> f.name).toMap
    val target = graft.model.Catalog.schemaOf(spark, spec.path)
    val metas = metaOf(name).colMeta
    val seq = seqCounter.incrementAndGet()
    val aligned = target.map { f =>
      if (f.name == SeqCol) lit(seq).cast(f.dataType).as(f.name)
      else srcCols.get(f.name.toLowerCase(Locale.ROOT)) match {
        case Some(srcName) =>
          val srcType = src0.schema(srcName).dataType
          val isTs = f.dataType == TimestampType || f.dataType == TimestampNTZType
          // numeric into a timestamp column = epoch milliseconds, same
          // literal convention as INSERT
          if (isTs && (srcType == LongType || srcType == IntegerType ||
              srcType == DoubleType || srcType.isInstanceOf[DecimalType]))
            timestamp_micros(col(s"`$srcName`").cast(LongType) * 1000L)
              .cast(f.dataType).as(f.name)
          else col(s"`$srcName`").cast(f.dataType).as(f.name)
        case None =>
          val d = metaOf(name).colDefaultResolved.get(f.name)
            .orElse(metas.find(_.name == f.name).flatMap(_.default))
          val isTs = f.dataType == TimestampType || f.dataType == TimestampNTZType
          d.map { x =>
            if (isTs && x.matches("-?\\d+"))
              timestamp_micros(lit(x.toLong) * 1000L).cast(f.dataType).as(f.name)
            else expr(dialect(x)).cast(f.dataType).as(f.name)
          }.getOrElse(lit(null).cast(f.dataType).as(f.name))
      }
    }
    var df = src0.select(aligned: _*)
    df = copyTimeFilter(df, spec.timeIndex, opts)
    limit.foreach(n => df = df.limit(n.toInt))
    val n = df.count()
    df.write.mode("append").parquet(spec.path)
    refreshPath(spec.path)
    refreshView(name)
    n
  }

  private val CopyRx =
    ("(?is)COPY\\s+(DATABASE\\s+)?" +
      "(\\((?:[^()']|'[^']*'|\\([^()]*\\))*\\)|\"[^\"]+\"|`[^`]+`|[A-Za-z_][A-Za-z0-9_.]*)\\s+" +
      "(TO|FROM)\\s+'([^']+)'\\s*" +
      "(?:WITH\\s*\\((.*?)\\)\\s*)?" +
      "(?:LIMIT\\s+(\\S+)\\s*)?").r

  /** File-engine external table: a read-only view over files at a
    * location (reference `CREATE EXTERNAL TABLE ... WITH (location,
    * format)`, operator/src/statement/ddl.rs; pinned by
    * standalone/local_file_access.result). Schema is inferred from the
    * files; an explicit column list is accepted and used as-declared
    * names only (the file carries the types). */
  private val CreateExtRx =
    ("(?is)CREATE\\s+EXTERNAL\\s+TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?" +
      "(\"[^\"]+\"|`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)\\s*" +
      "(?:\\(([^)]*)\\))?\\s*WITH\\s*\\((.*)\\)").r
  private def createExternalTable(stmt: String): DataFrame = stmt.trim match {
    case CreateExtRx(name0, _, withBody) =>
      val name = normIdent(unquote(name0))
      val opts = parseCopyOpts(Some(withBody))
      val loc = opts.getOrElse("location", throw new IllegalArgumentException(
        "Invalid SQL, error: location is required for external table"))
      val fmt = opts.getOrElse("format", "parquet").toLowerCase(Locale.ROOT)
      externalView(name, fmt, loc)
      editMeta(name)(_.copy(external = Some((fmt, loc))))
      status("external table created")
    case _ => throw new IllegalArgumentException(
      s"cannot parse CREATE EXTERNAL TABLE: $stmt")
  }
  private def externalView(name: String, fmt: String, loc: String): Unit = {
    var r = spark.read.format(fmt)
    if (fmt == "csv")
      r = r.option("header", "true").option("inferSchema", "true")
    r.load(loc).createOrReplaceTempView(name)
  }

  /** `COMMENT ON TABLE|COLUMN|FLOW <target> IS '<text>'|NULL` —
    * reference operator/src/statement.rs comment statements; pinned by
    * common/comment.result (SHOW CREATE + information_schema echoes). */
  private val CommentOnRx =
    ("(?is)COMMENT\\s+ON\\s+(TABLE|COLUMN|FLOW)\\s+" +
      "([A-Za-z0-9_.\"`]+)\\s+IS\\s+(NULL|'(?:[^']|'')*')\\s*").r
  private def commentOn(stmt: String): DataFrame = stmt.trim match {
    case CommentOnRx(kind, target, value) =>
      val cmt: Option[String] =
        if (value.equalsIgnoreCase("NULL")) None
        else Some(value.substring(1, value.length - 1).replace("''", "'"))
      kind.toUpperCase(Locale.ROOT) match {
        case "TABLE" =>
          val t = normTable(target)
          if (!catalog.tables.contains(t))
            throw new IllegalArgumentException(
              s"Table not found: greptime.$currentDb.$t")
          editMeta(t) { m =>
            val rest = m.tableOpts.filterNot(_._1 == "comment")
            m.copy(tableOpts = rest ++ cmt.map("comment" -> _))
          }
        case "COLUMN" =>
          val i = target.lastIndexOf('.')
          if (i <= 0) throw new IllegalArgumentException(
            "COMMENT ON COLUMN expects table.column")
          val t = normTable(target.substring(0, i))
          val c = normIdent(unquote(target.substring(i + 1)))
          val ms = declaredCols(t).getOrElse(
            throw new IllegalArgumentException(
              s"Table not found: greptime.$currentDb.$t"))
          if (!ms.exists(_.name == c))
            throw new IllegalArgumentException(s"Column not found: $c")
          editMeta(t)(_.copy(colMeta = ms.map(m =>
            if (m.name == c) m.copy(comment = cmt) else m)))
        case "FLOW" =>
          val f = unquote(target)
          if (!flows.contains(f))
            throw new IllegalArgumentException(s"flow $f not found")
          cmt match {
            case Some(c) => flowComments.put(f, c)
            case None => flowComments.remove(f)
          }
      }
      status("comment set")
    case _ => throw new IllegalArgumentException(s"cannot parse COMMENT ON: $stmt")
  }

  private def copyStatement(stmt: String): DataFrame = stmt.trim match {
    case CopyRx(dbKw, target, dir0, path, withBody, limitTok) =>
      // local paths must stay inside the copy root — reject traversal
      // (operator's object-store path guard; local_file_access.result)
      if (!path.contains("://") && path.split("[/\\\\]+").contains(".."))
        throw new IllegalArgumentException(
          s"Local filesystem path '$path' is outside the configured copy " +
            "root or is unsafe: '..' path components are not allowed; use " +
            "a path relative to the copy root or use S3, OSS, GCS, or AzBlob")
      val opts = parseCopyOpts(Option(withBody))
      val toDir = dir0.equalsIgnoreCase("TO")
      val limit: Option[Long] = Option(limitTok).map { t =>
        if (dbKw != null) throw new IllegalArgumentException(
          "Invalid SQL, error: limit is not supported in COPY DATABASE")
        if (!t.matches("\\d+")) throw new IllegalArgumentException(
          s"Unexpected token while parsing SQL statement, expected: 'the number of maximum rows', found: $t")
        t.toLong
      }
      val n: Long =
        if (dbKw != null) {
          // COPY DATABASE <db> TO/FROM '<dir>': one file per table
          val ext = copyExtOf(opts)
          val tables = catalog.tables.filterNot(_.contains("__schema__"))
          if (toDir)
            tables.map(t => copyTableTo(t, s"${path.stripSuffix("/")}/$t.$ext", opts)).sum +
              tableMeta.collect { case (t, m) if m.external.isDefined => t }.toSeq.sorted.map { t =>
                val df = spark.table(t)
                val cnt = df.count()
                graft.sources.Copy.exportSingleFile(df,
                  s"${path.stripSuffix("/")}/$t.$ext", copyWriteOpts(opts))
                cnt
              }.sum
          else {
            val p = new org.apache.hadoop.fs.Path(path)
            val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            if (!fs.exists(p)) throw new IllegalArgumentException(s"path not found: $path")
            fs.listStatus(p).filter(_.isFile).map(_.getPath.getName).toSeq
              .flatMap { fn =>
                val i = fn.indexOf('.')
                val base = if (i <= 0) fn else fn.substring(0, i)
                if (tables.contains(base))
                  Some(copyTableFrom(base, s"${path.stripSuffix("/")}/$fn", opts, None))
                else None
              }.sum
          }
        } else if (target.startsWith("(")) {
          // COPY (query) TO
          if (!toDir) throw new IllegalArgumentException("COPY (query) FROM is not supported")
          val df = sql(target.substring(1, target.length - 1))
          val cnt = df.count()
          graft.sources.Copy.exportSingleFile(
            copyRenderTimes(df, opts), path, copyWriteOpts(opts))
          cnt
        } else {
          val name = normTable(target)
          if (!catalog.tables.contains(name))
            throw new IllegalArgumentException(
              s"Table not found: greptime.$currentDb.$name")
          if (toDir) copyTableTo(name, path, opts)
          else copyTableFrom(name, path, opts, limit)
        }
      status(s"copied $n rows")
    case _ => throw new IllegalArgumentException(s"cannot parse COPY: $stmt")
  }

  // ---- ADMIN stubs ----------------------------------------------------

  /** ADMIN fn(...) — result is a single cell under a column named by
    * the statement itself (sqlness golden shape): FLUSH_FLOW returns
    * the refreshed sink's row count, storage admin fns return `0`. */
  private def admin(stmt: String): DataFrame = {
    import spark.implicits._
    val fn = stmt.stripPrefix("ADMIN").stripPrefix("admin").trim
    val cell =
      if (fn.toLowerCase(Locale.ROOT).startsWith("flush_flow")) {
        // returns the refreshed row count like the reference (every
        // golden redacts it via SQLNESS REPLACE → ` FLOW_FLUSHED  `,
        // which applies to BOTH sides of the compare)
        val name = fn.substring(fn.indexOf('(') + 1, fn.lastIndexOf(')'))
          .trim.stripPrefix("'").stripSuffix("'")
        refreshFlow(name)
        val n = flowMeta.get(name)
          .flatMap(m => scala.util.Try(
            spark.table(m.sinkTable).count()).toOption)
          .getOrElse(0L)
        String.valueOf(n)
      } else {
        // compaction materializes TTL expiry: fully-expired rows are
        // physically dropped, so a later LOOSER ttl cannot resurrect
        // them (ttl/alter_table_ttl.result, ttl/database_ttl.result)
        val fnl = fn.toLowerCase(Locale.ROOT)
        // ADMIN BUILD_INDEX('t'): index SSTs written before the index
        // declaration existed; idempotent
        // (function/admin/build_index_table{,_error,_restart}.sql)
        if (fnl.startsWith("build_index")) {
          val argsRaw = fn.substring(fn.indexOf('(') + 1, fn.lastIndexOf(')')).trim
          if (argsRaw.isEmpty) throw new IllegalArgumentException(
            "1004(InvalidArguments), Expected 1 args, but actual 0")
          if (!argsRaw.startsWith("'")) throw new IllegalArgumentException(
            "1004(InvalidArguments), Failed to build admin function args: " +
              s"failed to cast $argsRaw")
          val name = normTable(argsRaw.stripPrefix("'").stripSuffix("'"))
          if (!catalog.tables.contains(name)) throw new IllegalArgumentException(
            "1002(Unexpected), Failed to execute admin function build_index: " +
              s"Execution error: Table not found: greptime.public.$name")
          addSstIndexEntries(name)
        }
        else if (fnl.startsWith("compact_table") || fnl.startsWith("flush_table")) {
          // first argument only — compact_table('t', 'swcs', '86400')
          // carries strategy options after the table name
          val name = normTable(fn.substring(fn.indexOf('(') + 1, fn.lastIndexOf(')'))
            .split(',')(0).trim.stripPrefix("'").stripSuffix("'"))
          // flushing a metric physical region covers its logical children
          // (ttl/metric_engine_ttl.result)
          val targets = name +: metricPhy.get(name)
            .map(_.children).getOrElse(Nil)
          targets.filter(catalog.tables.contains).foreach { t =>
            val spec = catalog.spec(t)
            spec.ttlMillis.foreach { ttl =>
              if (ttl == 0L) migrateParquet(spec)(_.filter(lit(false)))
              else migrateParquet(spec)(_.filter(
                col(s"`${spec.timeIndex}`") >=
                  (current_timestamp() - expr(s"INTERVAL $ttl MILLISECOND"))))
              refreshView(t)
            }
            // compaction materializes the merge view (SURVEY §7.3(c)):
            // the Parquet is rewritten to the deduped snapshot + a
            // manifest (seq bound, file listing), after which a clean
            // steady-state scan is window-free and later appends merge
            // as delta-vs-snapshot (Catalog.compactionAwareRead).
            // flush_table does NOT merge — the reference only dedups
            // across SSTs at compaction.
            if (fnl.startsWith("compact_table") &&
                spec.mergeMode != MergeMode.Append) {
              val upTo = seqCounter.get()
              migrateParquet(spec)(df => Catalog.compactSnapshot(df, spec))
              Catalog.writeCompactionManifest(spark, spec.path, upTo)
              refreshView(t)
            }
            if (fnl.startsWith("flush_table")) {
              recordSstFlush(t)
              // flushed = restart-durable
              editMeta(t)(_.copy(durableSeq = seqCounter.get()))
            }
            // JSON2 shredding generations (types/json/json2.sql)
            if (metaOf(t).colMeta.exists(_.gtype == "Json2")) {
              val at = seqCounter.get()
              editMeta(t)(m => m.copy(j2Boundaries =
                if (fnl.startsWith("compact_table")) Vector(at) else m.j2Boundaries :+ at))
              refreshView(t)
            }
          }
        }
        "0"
      }
    Seq(cell).toDF(stmt)
  }

  private[sql] def status(msg: String): DataFrame = {
    import spark.implicits._
    Seq(msg).toDF("status")
  }
}
