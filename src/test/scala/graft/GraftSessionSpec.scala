package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sql.GraftSession

class GraftSessionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = LocalSession(4)

  lazy val g = new GraftSession(spark)

  test("create table / insert / select with merge semantics") {
    g.sql("""CREATE TABLE host_cpu (
        ts TIMESTAMP(3) TIME INDEX,
        host STRING PRIMARY KEY,
        val DOUBLE
      )""")
    g.sql("INSERT INTO host_cpu VALUES (TIMESTAMP'2024-01-01 00:00:00', 'h1', 1.0)")
    g.sql("INSERT INTO host_cpu VALUES (TIMESTAMP'2024-01-01 00:00:00', 'h1', 9.0)")
    g.sql("INSERT INTO host_cpu VALUES (TIMESTAMP'2024-01-01 00:00:10', 'h2', 2.0)")
    // default merge = last_row upsert on (host, ts)
    val rows = g.sql("SELECT host, val FROM host_cpu ORDER BY host").collect()
    assert(rows.length == 2)
    assert(rows.map(r => r.getString(0) -> r.getDouble(1)).toSet ==
      Set("h1" -> 9.0, "h2" -> 2.0))
  }

  test("show tables / describe table semantic roles") {
    assert(g.sql("SHOW TABLES").collect().map(_.getString(0)).contains("host_cpu"))
    // reference six-column shape: Column|Type|Key|Null|Default|Semantic Type
    val d = g.sql("DESC TABLE host_cpu").collect()
      .map(r => r.getString(0) -> r.getString(5)).toMap
    assert(d("ts") == "TIMESTAMP" && d("host") == "TAG" && d("val") == "FIELD")
  }

  test("append_mode table keeps duplicates") {
    g.sql("""CREATE TABLE logs (ts TIMESTAMP TIME INDEX, msg STRING)
             WITH (append_mode = 'true')""")
    g.sql("INSERT INTO logs VALUES (TIMESTAMP'2024-01-01 00:00:00', 'dup')")
    g.sql("INSERT INTO logs VALUES (TIMESTAMP'2024-01-01 00:00:00', 'dup')")
    assert(g.sql("SELECT * FROM logs").count() == 2)
  }

  test("@@ operator rewrites to matches_term") {
    assert(g.rewriteAtAt("SELECT * FROM logs WHERE msg @@ 'dup'") ==
      "SELECT * FROM logs WHERE matches_term(msg, 'dup')")
    val n = g.sql("SELECT * FROM logs WHERE msg @@ 'dup'").count()
    assert(n == 2)
  }

  test("create flow + admin flush_flow refresh the sink") {
    g.sql("""CREATE TABLE cpu (ts TIMESTAMP TIME INDEX, host STRING PRIMARY KEY, v DOUBLE)""")
    g.sql("""CREATE FLOW cpu_sum SINK TO cpu_sum_sink EXPIRE AFTER '1h'
             AS SELECT host, count(*) AS n, sum(v) AS total FROM cpu GROUP BY host""")
    // the sink is auto-created empty; only rows written AFTER flow
    // creation become visible, and only on flush (reference semantics)
    assert(g.sql("SELECT * FROM cpu_sum_sink").count() == 0)
    g.sql("INSERT INTO cpu VALUES (TIMESTAMP'2024-01-01 00:00:01', 'h1', 1.0)")
    g.sql("INSERT INTO cpu VALUES (TIMESTAMP'2024-01-01 00:00:02', 'h1', 4.0)")
    g.sql("ADMIN flush_flow('cpu_sum')")
    val rows = g.sql("SELECT host, n, total FROM cpu_sum_sink").collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Double]("total") == 5.0)
  }

  test("TQL EVAL over a registered metric table") {
    g.sql("""CREATE TABLE metric1 (ts TIMESTAMP TIME INDEX, host STRING PRIMARY KEY, v DOUBLE)""")
    g.sql("INSERT INTO metric1 VALUES (TIMESTAMP'1970-01-01 00:00:05', 'a', 3.0)")
    g.sql("INSERT INTO metric1 VALUES (TIMESTAMP'1970-01-01 00:00:15', 'a', 7.0)")
    val out = g.sql("TQL EVAL (0, 20, '5s') metric1").collect()
    // instant vector: lookback picks the latest sample at each step;
    // selector shape follows the declared column order (ts, host, v)
    assert(out.nonEmpty)
    // java8API sessions return java.time.Instant for LTZ timestamps
    val atT20 = out.filter(_.getAs[java.time.Instant](0).toEpochMilli == 20000L)
    assert(atT20.length == 1 && atT20(0).getDouble(2) == 7.0)
  }

  test("create view / drop view") {
    g.sql("CREATE VIEW big_logs AS SELECT msg FROM logs WHERE msg @@ 'dup'")
    assert(g.sql("SELECT count(*) AS n FROM big_logs").head().getLong(0) == 2L)
    g.sql("DROP VIEW big_logs")
  }

  test("alter table add/drop column without rewriting data") {
    g.sql("""CREATE TABLE alt (ts TIMESTAMP TIME INDEX, host STRING PRIMARY KEY, v DOUBLE)""")
    g.sql("INSERT INTO alt VALUES (TIMESTAMP'2024-01-01 00:00:00', 'h1', 1.0)")
    g.sql("ALTER TABLE alt ADD COLUMN note STRING")
    // old rows surface the new column as null
    assert(g.sql("SELECT note FROM alt").head().isNullAt(0))
    g.sql("INSERT INTO alt (ts, host, v, note) VALUES (TIMESTAMP'2024-01-01 00:00:01', 'h2', 2.0, 'x')")
    assert(g.sql("SELECT note FROM alt WHERE host = 'h2'").head().getString(0) == "x")
    g.sql("ALTER TABLE alt DROP COLUMN v")
    assert(!g.sql("SELECT * FROM alt").columns.contains("v"))
    val d = g.sql("DESC TABLE alt").collect().map(_.getString(0)).toSet
    assert(d == Set("ts", "host", "note"))
  }

  test("RANGE SQL: the reference's calculate.sql shape") {
    g.sql("""CREATE TABLE rhost (ts TIMESTAMP(3) TIME INDEX, host STRING PRIMARY KEY, val BIGINT)""")
    g.sql("""INSERT INTO rhost VALUES
      (TIMESTAMP'1970-01-01 00:00:00', 'host1', 0),
      (TIMESTAMP'1970-01-01 00:00:05', 'host1', null),
      (TIMESTAMP'1970-01-01 00:00:10', 'host1', 1),
      (TIMESTAMP'1970-01-01 00:00:15', 'host1', null),
      (TIMESTAMP'1970-01-01 00:00:20', 'host1', 2),
      (TIMESTAMP'1970-01-01 00:00:00', 'host2', 3),
      (TIMESTAMP'1970-01-01 00:00:05', 'host2', null),
      (TIMESTAMP'1970-01-01 00:00:10', 'host2', 4),
      (TIMESTAMP'1970-01-01 00:00:15', 'host2', null),
      (TIMESTAMP'1970-01-01 00:00:20', 'host2', 5)""")
    // reference range/calculate.sql: 2 * min(val) RANGE '5s' ALIGN '5s';
    // without FILL only populated slots appear; null vals stay null
    val got = g.sql(
      "SELECT unix_millis(ts) AS t, host, 2 * min(val) RANGE '5s' AS v FROM rhost ALIGN '5s' ORDER BY host, t")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getLong(2)))
    assert(got.toSeq == Seq(
      (0L, "host1", 0L), (5000L, "host1", null), (10000L, "host1", 2L),
      (15000L, "host1", null), (20000L, "host1", 4L),
      (0L, "host2", 6L), (5000L, "host2", null), (10000L, "host2", 8L),
      (15000L, "host2", null), (20000L, "host2", 10L)))
  }

  test("RANGE SQL: FILL variants and scalar nesting") {
    val prev = g.sql(
      "SELECT unix_millis(ts) AS t, host, min(val) RANGE '5s' FILL PREV AS v FROM rhost ALIGN '5s' ORDER BY host, t")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getLong(2)))
    assert(prev.filter(_._2 == "host1").map(_._3).toSeq == Seq(0L, 0L, 1L, 1L, 2L))
    // integral FILL consts keep the column type (reference Int64 semantics)
    val const = g.sql(
      "SELECT unix_millis(ts) AS t, host, min(val) RANGE '5s' FILL 6 AS v FROM rhost ALIGN '5s' ORDER BY host, t")
      .collect().map(r => r.getLong(2))
    assert(const.contains(6L))
    // scalar nesting outside the annotation + WHERE + query-level FILL
    val nested = g.sql(
      """SELECT unix_millis(ts) AS t, host, floor(min(val) RANGE '5s') + 1 AS v
         FROM rhost WHERE host = 'host2' ALIGN '5s' FILL PREV ORDER BY t""")
      .collect().map(r => r.getLong(2))
    assert(nested.toSeq == Seq(4L, 4L, 5L, 5L, 6L))
  }

  test("information_schema tables and columns") {
    val tables = g.sql(
      "SELECT table_name, table_type FROM information_schema.tables ORDER BY table_name")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(tables.contains("host_cpu") && tables("host_cpu") == "BASE TABLE")
    val cols = g.sql(
      """SELECT column_name, semantic_type FROM information_schema.columns
         WHERE table_name = 'host_cpu' ORDER BY column_name""")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cols == Map("ts" -> "TIMESTAMP", "host" -> "TAG", "val" -> "FIELD"))
  }

  test("TQL EXPLAIN returns a physical plan") {
    val plan = g.sql("TQL EXPLAIN (0, 20, '5s') metric1")
      .collect().map(_.getString(0)).mkString("\n")
    assert(plan.contains("Physical Plan"))
  }

  test("INSERT INTO TABLE syntax (reference dialect)") {
    g.sql("INSERT INTO TABLE logs VALUES (TIMESTAMP'2024-01-01 00:00:01', 'via-table-kw')")
    assert(g.sql("SELECT * FROM logs WHERE msg = 'via-table-kw'").count() == 1)
  }

  test("admin stub returns the sqlness golden single-cell shape") {
    val r = g.sql("ADMIN compact_table('cpu')").collect()
    assert(r(0).getString(0) == "0")
  }

  test("cursors: DECLARE / successive FETCH / CLOSE") {
    g.sql("""CREATE TABLE cur_t (ts TIMESTAMP TIME INDEX, v DOUBLE)""")
    g.sql("INSERT INTO cur_t VALUES (1000, 1.0), (2000, 2.0), (3000, 3.0), (4000, 4.0), (5000, 5.0)")
    g.sql("DECLARE c1 CURSOR FOR SELECT v FROM cur_t ORDER BY ts")
    // successive fetches DRAIN the stream (cursor.rs take() semantics)
    assert(g.sql("FETCH 2 FROM c1").collect().map(_.getDouble(0)).toSeq == Seq(1.0, 2.0))
    assert(g.sql("FETCH 2 FROM c1").collect().map(_.getDouble(0)).toSeq == Seq(3.0, 4.0))
    // past the end: remaining rows only, then empty
    assert(g.sql("FETCH 9 IN c1").collect().map(_.getDouble(0)).toSeq == Seq(5.0))
    assert(g.sql("FETCH 9 FROM c1").collect().isEmpty)
    g.sql("CLOSE c1")
    assertThrows[IllegalArgumentException](g.sql("FETCH 1 FROM c1"))
    // non-SELECT body rejected (cursor_parser.rs ensure!)
    assertThrows[IllegalArgumentException](
      g.sql("DECLARE c2 CURSOR FOR INSERT INTO cur_t VALUES (6000, 6.0)"))
    g.sql("DROP TABLE cur_t")
  }

  // ---- rewrite statements: each replaces the table's (or sink's) dir ----

  private def rows(q: String): Seq[String] =
    g.sql(q).collect().map(_.toSeq.mkString("|")).toSeq

  test("DELETE with an integer time-index literal removes the matching rows") {
    g.sql("CREATE TABLE del_t (ts TIMESTAMP(3) TIME INDEX, host STRING PRIMARY KEY, v DOUBLE)")
    g.sql("INSERT INTO del_t VALUES (1000, 'a', 1.0), (2000, 'a', 2.0), (3000, 'b', 3.0)")
    // 2000 is epoch milliseconds at TIMESTAMP(3): rows at 2 s and 3 s match
    assert(rows("DELETE FROM del_t WHERE ts >= 2000") == Seq("deleted 2 rows from del_t"))
    assert(rows("SELECT unix_millis(ts), host, v FROM del_t ORDER BY ts") == Seq("1000|a|1.0"))
    assert(rows("DELETE FROM del_t WHERE ts = 1000 AND host = 'b'") ==
      Seq("deleted 0 rows from del_t"))
    g.sql("INSERT INTO del_t VALUES (2000, 'a', 2.5)")
    assert(rows("SELECT unix_millis(ts), host, v FROM del_t ORDER BY ts") ==
      Seq("1000|a|1.0", "2000|a|2.5"))
  }

  test("TRUNCATE empties the table, which then takes new rows") {
    g.sql("CREATE TABLE trunc_t (ts TIMESTAMP(3) TIME INDEX, host STRING PRIMARY KEY, v DOUBLE)")
    g.sql("INSERT INTO trunc_t VALUES (1000, 'a', 1.0), (2000, 'b', 2.0)")
    assert(rows("TRUNCATE TABLE trunc_t") == Seq("table trunc_t truncated"))
    assert(rows("SELECT count(*) FROM trunc_t") == Seq("0"))
    g.sql("INSERT INTO trunc_t VALUES (3000, 'c', 3.0)")
    assert(rows("SELECT unix_millis(ts), host, v FROM trunc_t") == Seq("3000|c|3.0"))
  }

  test("ADMIN compact_table on a duration-TTL table drops expired rows and merges versions") {
    g.sql("CREATE TABLE ttl_t (ts TIMESTAMP(3) TIME INDEX, host STRING PRIMARY KEY, v DOUBLE) " +
      "WITH (ttl = '1h')")
    val now = System.currentTimeMillis()
    g.sql(s"INSERT INTO ttl_t VALUES (1000, 'old', 1.0), ($now, 'new', 2.0)")
    g.sql(s"INSERT INTO ttl_t VALUES ($now, 'new', 3.0)")
    // a duration TTL defers expiry to compaction: the old row still reads
    assert(rows("SELECT host, v FROM ttl_t ORDER BY host") == Seq("new|3.0", "old|1.0"))
    g.sql("ADMIN compact_table('ttl_t')").collect()
    assert(rows("SELECT host, v FROM ttl_t ORDER BY host") == Seq("new|3.0"))
    // on disk: the expired row and the overwritten version are gone
    assert(g.catalog.raw("ttl_t").select("host", "v").collect()
      .map(_.toSeq.mkString("|")).toSeq == Seq("new|3.0"))
  }

  test("a keyless (global-aggregate) flow replaces its sink on every refresh") {
    g.sql("CREATE TABLE gsrc (ts TIMESTAMP(3) TIME INDEX, host STRING PRIMARY KEY, v DOUBLE)")
    g.sql("CREATE FLOW gtotal SINK TO gtotal_sink AS SELECT count(*) AS n, sum(v) AS total FROM gsrc")
    g.sql("INSERT INTO gsrc VALUES (1000, 'a', 1.0), (2000, 'b', 2.0)")
    g.sql("ADMIN flush_flow('gtotal')")
    assert(rows("SELECT n, total FROM gtotal_sink") == Seq("2|3.0"))
    g.sql("INSERT INTO gsrc VALUES (3000, 'c', 4.0), (1000, 'a', 10.0)")
    g.sql("ADMIN flush_flow('gtotal')")
    // (1000, a) was overwritten: 3 rows, 10 + 2 + 4
    assert(rows("SELECT n, total FROM gtotal_sink") == Seq("3|16.0"))
    // replaced, not appended: the sink holds the last refresh's file only
    assert(graft.model.Catalog.listing(g.spark, g.catalog.spec("gtotal_sink").path)
      .get.files.size == 1)
  }

  test("re-ADD of a dropped column reads null for the old rows") {
    g.sql("CREATE TABLE readd_t (ts TIMESTAMP(3) TIME INDEX, host STRING PRIMARY KEY, " +
      "v DOUBLE, note STRING)")
    g.sql("INSERT INTO readd_t VALUES (1000, 'a', 1.0, 'old')")
    g.sql("ALTER TABLE readd_t DROP COLUMN note")
    g.sql("ALTER TABLE readd_t ADD COLUMN note STRING")
    assert(rows("SELECT host, v, note FROM readd_t") == Seq("a|1.0|null"))
    g.sql("INSERT INTO readd_t VALUES (2000, 'b', 2.0, 'new')")
    assert(rows("SELECT host, v, note FROM readd_t ORDER BY ts") ==
      Seq("a|1.0|null", "b|2.0|new"))
  }

  test("restart() keeps a skip_wal table's flushed rows and drops the rest") {
    g.sql("CREATE TABLE wal_t (ts TIMESTAMP(3) TIME INDEX, host STRING PRIMARY KEY, v DOUBLE) " +
      "WITH ('skip_wal' = 'true')")
    g.sql("INSERT INTO wal_t VALUES (1000, 'a', 1.0)")
    g.sql("ADMIN flush_table('wal_t')").collect()
    g.sql("INSERT INTO wal_t VALUES (2000, 'b', 2.0), (1000, 'a', 5.0)")
    g.sql("INSERT INTO trunc_t VALUES (4000, 'd', 4.0)")
    g.restart()
    assert(rows("SELECT unix_millis(ts), host, v FROM wal_t") == Seq("1000|a|1.0"))
    // a table without skip_wal keeps everything
    assert(rows("SELECT unix_millis(ts), host FROM trunc_t ORDER BY ts") ==
      Seq("3000|c", "4000|d"))
  }

  // ---- per-table metadata through RENAME, DROP and USE ----
  // Each case runs in its own session: USE and restart() act on the
  // whole session.

  private def rowsOf(s: GraftSession, q: String): Seq[String] =
    s.sql(q).collect().map(_.toSeq.mkString("|")).toSeq

  private def showCreate(s: GraftSession, t: String): Seq[String] =
    s.sql(s"SHOW CREATE TABLE $t").collect().map(_.getString(1)).toSeq

  test("RENAME keeps the column's type history") {
    val s = new GraftSession(spark)
    s.sql("CREATE TABLE m1 (ts TIMESTAMP(3) TIME INDEX, h STRING PRIMARY KEY, i DOUBLE)")
    s.sql("INSERT INTO m1 VALUES (1000, 'a', 0.1)")
    s.sql("ALTER TABLE m1 MODIFY COLUMN i BOOLEAN")
    s.sql("ALTER TABLE m1 MODIFY COLUMN i INT")
    // 0.1 was written as DOUBLE: it reads through DOUBLE -> INT as 0
    assert(rowsOf(s, "SELECT h, i FROM m1") == Seq("a|0"))
    s.sql("ALTER TABLE m1 RENAME m1r")
    assert(rowsOf(s, "SELECT h, i FROM m1r") == Seq("a|0"))
  }

  test("RENAME keeps the table options: skip_wal still governs restart()") {
    val s = new GraftSession(spark)
    s.sql("CREATE TABLE w1 (ts TIMESTAMP(3) TIME INDEX, h STRING PRIMARY KEY, v DOUBLE) " +
      "WITH ('skip_wal' = 'true')")
    s.sql("INSERT INTO w1 VALUES (1000, 'a', 1.0)")
    s.sql("ALTER TABLE w1 RENAME w1r")
    assert(showCreate(s, "w1r").takeRight(3) == Seq("WITH(", "  skip_wal = 'true'", ")"))
    s.restart()
    // the one row was never flushed, so a skip_wal table loses it
    assert(rowsOf(s, "SELECT count(*) FROM w1r") == Seq("0"))
  }

  test("DROP clears the type history: a re-created table migrates on MODIFY") {
    val s = new GraftSession(spark)
    val ddl = "CREATE TABLE d1 (ts TIMESTAMP(3) TIME INDEX, h STRING PRIMARY KEY, i DOUBLE)"
    s.sql(ddl)
    s.sql("ALTER TABLE d1 MODIFY COLUMN i STRING")
    s.sql("DROP TABLE d1")
    s.sql(ddl)
    s.sql("INSERT INTO d1 VALUES (1000, 'a', 0.5)")
    s.sql("ALTER TABLE d1 MODIFY COLUMN i STRING")
    s.sql("INSERT INTO d1 VALUES (2000, 'b', 'abc')")
    assert(rowsOf(s, "SELECT h, i FROM d1 ORDER BY ts") == Seq("a|0.5", "b|abc"))
  }

  test("USE keeps each database's PARTITION clause") {
    val s = new GraftSession(spark)
    s.sql("CREATE TABLE pt (ts TIMESTAMP(3) TIME INDEX, h STRING PRIMARY KEY, v DOUBLE) " +
      "PARTITION ON COLUMNS (h) (h < 'm', h >= 'm')")
    val table = Seq(
      """CREATE TABLE IF NOT EXISTS "pt" (""",
      """  "ts" TIMESTAMP(3) NOT NULL,""",
      """  "h" STRING NULL,""",
      """  "v" DOUBLE NULL,""",
      """  TIME INDEX ("ts"),""",
      """  PRIMARY KEY ("h")""",
      ")")
    val partitioned = table ++ Seq("""PARTITION ON COLUMNS ("h") (""",
      "  h < 'm',", "  h >= 'm'", ")", "ENGINE=mito", "")
    assert(showCreate(s, "pt") == partitioned)
    s.sql("CREATE DATABASE d2")
    s.sql("USE d2")
    s.sql("CREATE TABLE pt (ts TIMESTAMP(3) TIME INDEX, h STRING PRIMARY KEY, v DOUBLE)")
    assert(showCreate(s, "pt") == table ++ Seq("", "ENGINE=mito", ""))
    s.sql("DROP TABLE pt")
    s.sql("USE public")
    assert(showCreate(s, "pt") == partitioned)
  }

  test("USE round trip: each database reads its own table metadata") {
    val s = new GraftSession(spark)
    val ddl = "CREATE TABLE t (ts TIMESTAMP(3) TIME INDEX, h STRING PRIMARY KEY, i DOUBLE)"
    s.sql(ddl)
    s.sql("INSERT INTO t VALUES (1000, 'a', 2.5)")
    s.sql("ALTER TABLE t MODIFY COLUMN i INT")
    s.sql("CREATE DATABASE d2")
    s.sql("USE d2")
    s.sql(ddl)
    s.sql("INSERT INTO t VALUES (1000, 'b', 1.5)")
    s.sql("ALTER TABLE t MODIFY COLUMN i SET DEFAULT 7.5")
    s.sql("INSERT INTO t (ts, h) VALUES (2000, 'c')")
    s.sql("COMMENT ON TABLE t IS 'd2 table'")
    val comments = Seq("d2|d2 table", "public|")
    def checkPublic(): Unit = {
      // 2.5 was written as DOUBLE and reads through DOUBLE -> INT as 2
      assert(rowsOf(s, "SELECT h, i FROM t ORDER BY ts") == Seq("a|2"))
      assert(rowsOf(s, "DESC TABLE t") == Seq(
        "ts|TimestampMillisecond|PRI|NO||TIMESTAMP", "h|String|PRI|YES||TAG",
        "i|Int32||YES||FIELD"))
      assert(rowsOf(s, "SELECT table_schema, table_comment FROM information_schema.tables " +
        "WHERE table_name = 't' ORDER BY table_schema") == comments)
    }
    def checkD2(): Unit = {
      assert(rowsOf(s, "SELECT h, i FROM t ORDER BY ts") == Seq("b|1.5", "c|7.5"))
      assert(rowsOf(s, "DESC TABLE t") == Seq(
        "ts|TimestampMillisecond|PRI|NO||TIMESTAMP", "h|String|PRI|YES||TAG",
        "i|Float64||YES|7.5|FIELD"))
      assert(rowsOf(s, "SELECT table_schema, table_comment FROM information_schema.tables " +
        "WHERE table_name = 't' ORDER BY table_schema") == comments)
    }
    checkD2()
    s.sql("USE public")
    checkPublic()
    s.sql("USE d2")
    checkD2()
    s.sql("DROP DATABASE d2")
    assert(rowsOf(s, "SHOW SEARCH_PATH") == Seq("public"))
    assert(rowsOf(s, "SELECT h, i FROM t ORDER BY ts") == Seq("a|2"))
    assert(rowsOf(s, "DESC TABLE t") == Seq(
      "ts|TimestampMillisecond|PRI|NO||TIMESTAMP", "h|String|PRI|YES||TAG",
      "i|Int32||YES||FIELD"))
    assert(rowsOf(s, "SELECT table_schema, table_comment FROM information_schema.tables " +
      "WHERE table_name = 't'") == Seq("public|"))
  }

  test("RENAME keeps everything SHOW CREATE TABLE renders") {
    val s = new GraftSession(spark)
    val cols = "ts TIMESTAMP(3) TIME INDEX, h STRING PRIMARY KEY, v DOUBLE"
    // (DDL, a SHOW CREATE line the case is about)
    Seq(
      s"CREATE TABLE r_opt ($cols) WITH ('comment' = 'c1', write_buffer_size = '1KiB')" ->
        "  'comment' = 'c1',",
      s"CREATE TABLE r_part ($cols) PARTITION ON COLUMNS (h) (h < 'm', h >= 'm')" ->
        "  h < 'm',",
      s"CREATE TABLE r_phy ($cols) ENGINE=metric WITH ('physical_metric_table' = '')" ->
        "ENGINE=metric",
      "CREATE TABLE r_j2 (ts TIMESTAMP(3) TIME INDEX, j JSON2(a.b INT, c STRING NOT NULL))" ->
        "    \"c\" STRING NOT NULL"
    ).foreach { case (ddl, line) =>
      val t = "CREATE TABLE (\\w+)".r.findFirstMatchIn(ddl).get.group(1)
      s.sql(ddl)
      val before = showCreate(s, t)
      assert(before.contains(line), before)
      s.sql(s"ALTER TABLE $t RENAME ${t}_new")
      assert(showCreate(s, s"${t}_new") ==
        before.updated(0, before.head.replace(s""""$t"""", s""""${t}_new"""")))
    }
  }

  test("RENAME carries the table's SST entries and DROP removes them") {
    val s = new GraftSession(spark)
    val ddl = "CREATE TABLE t1 (ts TIMESTAMP(3) TIME INDEX, h STRING PRIMARY KEY, v DOUBLE)"
    val ssts = "SELECT count(*) FROM information_schema.ssts_manifest"
    s.sql(ddl)
    s.sql("INSERT INTO t1 VALUES (1000, 'a', 1.0)")
    s.sql("ADMIN flush_table('t1')").collect()
    assert(rowsOf(s, ssts) == Seq("1"))
    s.sql("ALTER TABLE t1 RENAME t2")
    assert(rowsOf(s, ssts) == Seq("1"))
    s.sql("DROP TABLE t2")
    assert(rowsOf(s, ssts) == Seq("0"))
    s.sql(ddl)
    assert(rowsOf(s, ssts) == Seq("0"))
  }

  test("SHOW FLOWS, SHOW FLOW STATUS and SHOW COLUMNS match LIKE patterns as LIKE") {
    val s = new GraftSession(spark)
    s.sql("CREATE TABLE src (ts TIMESTAMP(3) TIME INDEX, h STRING PRIMARY KEY, v DOUBLE)")
    Seq("fx1", "f_1").foreach(f => s.sql(
      s"CREATE FLOW $f SINK TO ${f}_sink AS SELECT h, count(*) AS n FROM src GROUP BY h"))
    // '.' is a literal character and '_' any one character
    assert(rowsOf(s, "SHOW FLOWS LIKE 'f.1'").isEmpty)
    assert(rowsOf(s, "SHOW FLOWS LIKE 'f_1'") == Seq("f_1", "fx1"))
    assert(rowsOf(s, "SHOW FLOW STATUS LIKE 'f.1'").isEmpty)
    assert(s.sql("SHOW FLOW STATUS LIKE 'f_%'").count() == 2)
    // '(' is a literal character, not a regex group
    assert(rowsOf(s, "SHOW COLUMNS FROM src LIKE 'h(%'").isEmpty)
    assert(s.sql("SHOW COLUMNS FROM src LIKE '%s'").collect().map(_.getString(0)).toSeq ==
      Seq("ts"))
  }

  test("an external table belongs to the database that created it") {
    val s = new GraftSession(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_ext").resolve("ext").toString
    spark.range(3).write.parquet(dir)
    s.sql(s"CREATE EXTERNAL TABLE ext WITH (location = '$dir', format = 'parquet')")
    assert(rowsOf(s, "SELECT count(*) FROM ext") == Seq("3"))
    s.sql("CREATE DATABASE d2")
    s.sql("USE d2")
    val e = intercept[Exception](s.sql("SELECT count(*) FROM ext").collect())
    assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), e.getMessage)
    s.sql("USE public")
    assert(rowsOf(s, "SELECT count(*) FROM ext") == Seq("3"))
    s.sql("DROP TABLE ext")
    intercept[Exception](s.sql("SELECT count(*) FROM ext").collect())
  }
}
