package graft.tools

import java.time.format.DateTimeFormatter

import org.apache.spark.sql.SparkSession

import scala.util.{Failure, Success, Try}

import graft.LocalSession
import graft.sql.GraftSession

/** Golden-corpus runner: executes the reference's own sqlness test files
  * (reference `tests/README.md:1-15` — `.sql` input + `.result` expected
  * output) through GraftSession and compares result CELLS against the
  * `.result` goldens. Headers are the reference's internal naming —
  * values are the contract. Statements in unsupported dialect (`::`
  * casts, DataFusion-only functions, `arrow_typeof`, ...) count as
  * skipped; any executed comparison must match exactly.
  *
  * Shared by GoldenRangeSpec and the GoldenRound*Spec suites (pinned
  * assertions) and GoldenSweep (the discovery tool that reports
  * per-file pass/skip counts).
  */
object GoldenRunner {

  sealed trait Expected
  case object NonQuery extends Expected
  case object ErrorExpected extends Expected
  final case class Table(rows: Seq[Seq[String]], header: Seq[String] = Nil,
      rawBlock: Seq[String] = Nil) extends Expected

  /** `replaces`: `-- SQLNESS REPLACE <pattern> <replacement>` directives
    * preceding the statement — the golden was written AFTER applying
    * them, so our rendered cells must apply them too. */
  /** sortMode: 0 = none, 1 = bare SORT_RESULT (sqlness sorted ALL block
    * lines — header lands among the rows), 2 = SORT_RESULT <h> <t>
    * (header/tail kept in place, data rows sorted). */
  final case class Entry(sql: String, expected: Expected,
      replaces: Seq[(String, String)] = Nil, sortMode: Int = 0,
      sleepMs: Long = 0L, protocol: String = "",
      restart: Boolean = false) {
    def sortResult: Boolean = sortMode > 0
  }

  final case class Outcome(compared: Int, skipped: Int, problems: Seq[String],
      errSkipped: Int = 0)

  /** Column indices of the statement's outermost ORDER BY keys, resolved
    * against the effective (compared) column layout. None when any key
    * is not a plain output column or positional ordinal — callers then
    * fall back to strict positional compare. */
  private[tools] def orderKeyIdxs(sql: String, cols: Seq[String]): Option[Seq[Int]] = {
    val obs = "(?is)\\bORDER\\s+BY\\s+".r.findAllMatchIn(sql).toSeq
    if (obs.isEmpty) return None
    // the LAST occurrence is textually the outermost clause in corpus
    // query shapes (subquery ORDER BYs come earlier in the statement)
    val tail = sql.substring(obs.last.end)
    val up = tail.toUpperCase
    var depth = 0; var cut = tail.length; var i = 0
    while (i < tail.length && cut == tail.length) {
      tail.charAt(i) match {
        case '(' => depth += 1
        case ')' => if (depth == 0) cut = i else depth -= 1
        case ';' if depth == 0 => cut = i
        case _ =>
          if (depth == 0 &&
            (up.startsWith("LIMIT", i) || up.startsWith("OFFSET", i)) &&
            (i == 0 || !Character.isLetterOrDigit(tail.charAt(i - 1)))) cut = i
      }
      i += 1
    }
    val clause = tail.substring(0, cut)
    val parts = Seq.newBuilder[String]
    depth = 0; var last = 0
    for (j <- clause.indices) clause.charAt(j) match {
      case '(' => depth += 1
      case ')' => depth -= 1
      case ',' if depth == 0 => parts += clause.substring(last, j); last = j + 1
      case _ =>
    }
    parts += clause.substring(last)
    val lower = cols.map(_.trim.toLowerCase)
    val idxs = parts.result().map { p0 =>
      val p = p0.trim
        .replaceAll("(?is)\\s+(ASC|DESC)\\b", "")
        .replaceAll("(?is)\\s+NULLS\\s+(FIRST|LAST)\\b", "").trim
      if (p.matches("\\d+")) {
        val k = p.toInt - 1
        if (k >= 0 && k < cols.length) Some(k) else None
      } else {
        val bare = p.toLowerCase
          .replaceAll("^[a-z_][a-z0-9_]*\\.", "")
          .stripPrefix("`").stripSuffix("`")
          .stripPrefix("\"").stripSuffix("\"")
        val k = lower.indexOf(bare)
        if (k >= 0) Some(k)
        else { val f = lower.indexOf(p.toLowerCase); if (f >= 0) Some(f) else None }
      }
    }
    if (idxs.nonEmpty && idxs.forall(_.isDefined)) Some(idxs.map(_.get)) else None
  }

  /** Ordered-compare tolerance: rows may permute ONLY within runs of
    * equal ORDER-BY key cells (tie order is engine-internal); any
    * permutation across distinct keys — e.g. a reversed sort — fails. */
  private[tools] def tieRunsEqual(got: Seq[Seq[String]], want: Seq[Seq[String]],
      keys: Seq[Int]): Boolean = {
    if (got.length != want.length) return false
    def key(r: Seq[String]) =
      keys.map(i => if (i < r.length) r(i).trim else "").mkString("")
    def joined(r: Seq[String]) = r.map(_.trim).mkString("|")
    val gk = got.map(key); val wk = want.map(key)
    if (gk != wk) return false
    var s = 0; var ok = true
    while (s < gk.length && ok) {
      var e2 = s + 1
      while (e2 < gk.length && gk(e2) == gk(s)) e2 += 1
      if ((s until e2).map(i => joined(got(i))).sorted !=
          (s until e2).map(i => joined(want(i))).sorted) ok = false
      s = e2
    }
    ok
  }

  /** Strip a trailing `-- comment` from a statement line, respecting
    * single-quoted strings (the corpus has inline comments after VALUES
    * tuples, e.g. `(7, 1000),   -- 111`). */
  private def stripInlineComment(l: String): String = {
    if (l.trim.startsWith("-- SQLNESS")) return l.trim // directive, keep
    // golden TABLE lines are data, not SQL — a result cell may contain
    // `--` (function/string/repeat.result: `Start----------End`)
    if (l.startsWith("|") || l.startsWith("+")) return l
    var quotes = 0
    var i = 0
    while (i < l.length - 1) {
      if (l.charAt(i) == '\'') quotes += 1
      else if (l.charAt(i) == '-' && l.charAt(i + 1) == '-' && quotes % 2 == 0)
        return l.substring(0, i)
      i += 1
    }
    l
  }

  def parseResult(path: String): Seq[Entry] = {
    // corpus files contain emoji / raw bytes (alter_database.result);
    // never crash the runner on malformed UTF-8
    implicit val codec: scala.io.Codec = scala.io.Codec.UTF8
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    val lines = scala.io.Source.fromFile(path).getLines().map(stripInlineComment).toVector
    val entries = Vector.newBuilder[Entry]
    var i = 0
    var pendingReplaces = Vector.empty[(String, String)]
    var pendingSort = 0
    var pendingSleep = 0L
    var pendingProtocol = ""
    var pendingRestart = false
    val replaceRx = "^--\\s*SQLNESS\\s+REPLACE\\s+(\\S+)\\s*(.*)$".r
    while (i < lines.length) {
      val line = lines(i).trim
      if (line.isEmpty || line.startsWith("--")) {
        replaceRx.findFirstMatchIn(line).foreach { m =>
          pendingReplaces :+= (m.group(1) -> m.group(2).trim)
        }
        if (line.matches("(?i)^--\\s*SQLNESS\\s+SORT_RESULT\\s*$")) pendingSort = 1
        else if (line.matches("(?i)^--\\s*SQLNESS\\s+SORT_RESULT\\s+\\d+\\s+\\d+\\s*$")) pendingSort = 2
        "(?i)^--\\s*SQLNESS\\s+SLEEP\\s+(\\d+)(m?s)\\s*$".r.findFirstMatchIn(line).foreach { m =>
          pendingSleep = m.group(1).toLong * (if (m.group(2) == "s") 1000 else 1)
        }
        // MySQL/Postgres wire protocols render timestamps at full µs
        // precision (copy/copy_from_fs_*.result)
        "(?i)^--\\s*SQLNESS\\s+PROTOCOL\\s+(MYSQL|POSTGRES)\\s*$".r
          .findFirstMatchIn(line).foreach(m => pendingProtocol = m.group(1).toLowerCase)
        // ARG restart=true: the runner restarts the server before the
        // next statement (skip_wal.result loses unflushed memtables)
        if (line.matches("(?i)^--\\s*SQLNESS\\s+ARG\\s+restart=true\\s*$"))
          pendingRestart = true
        i += 1
      }
      else {
        val stmt = new StringBuilder
        var done = false
        while (i < lines.length && !done) {
          val l = lines(i).trim
          if (!l.startsWith("--")) {
            stmt.append(' ').append(lines(i))
            if (l.endsWith(";")) done = true
          }
          i += 1
        }
        while (i < lines.length && lines(i).trim.isEmpty) i += 1
        val expected: Expected =
          if (i >= lines.length) NonQuery
          else if (lines(i).startsWith("Affected Rows:")) { i += 1; NonQuery }
          else if (lines(i).startsWith("affected_rows:")) { i += 1; NonQuery }
          else if (lines(i).startsWith("Error:") ||
              lines(i).startsWith("Failed to execute query")) {
            // the MySQL/Postgres protocol files render errors client-style
            while (i < lines.length && lines(i).trim.nonEmpty) i += 1
            ErrorExpected
          } else if (lines(i).startsWith("+")) {
            val rows = Vector.newBuilder[Seq[String]]
            var headerCells: Seq[String] = Nil
            // SORT_RESULT sorts the RENDERED LINES of the block, so the
            // header row lands among the data rows — keep every | line
            // and let run() drop the header by name.
            var header = pendingSort != 1
            val rawLines = Vector.newBuilder[String]
            while (i < lines.length && lines(i).trim.nonEmpty) {
              val l = lines(i)
              rawLines += l
              if (l.startsWith("|")) {
                val cells = l.split("\\|", -1).drop(1).dropRight(1).map(_.trim).toSeq
                if (header) { header = false; headerCells = cells }
                else rows += cells
              }
              i += 1
            }
            Table(rows.result(), headerCells, rawLines.result())
          } else NonQuery
        // mysql-protocol transcripts prefix statements with protocol
        // echoes — strip them (insert/mysql_insert)
        val sqlText = stmt.result().trim.stripSuffix(";")
          .replaceFirst("(?i)^(affected_rows:\\s*\\d+\\s*)+", "")
        entries += Entry(sqlText, expected, pendingReplaces, pendingSort,
          pendingSleep, pendingProtocol, pendingRestart)
        pendingReplaces = Vector.empty
        pendingSort = 0
        pendingSleep = 0L
        pendingProtocol = ""
        pendingRestart = false
      }
    }
    entries.result()
  }

  // `uuuu` = signed proleptic year: -19578 and +262142 render like the
  // reference's arrow formatter (insert/nullable_tag.result)
  private val TsFmt = DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss")
  private val TsFmtMs = DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSS")
  private val TsFmtUs = DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSSSSS")
  private val TsFmtNs = DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSSSSSSSS")

  private def fmtLdt(t: java.time.LocalDateTime): String = {
    val n = t.getNano
    if (n == 0) t.format(TsFmt)
    else if (n % 1000000 == 0) t.format(TsFmtMs)
    else if (n % 1000 == 0) t.format(TsFmtUs)
    else t.format(TsFmtNs)
  }

  def cell(v: Any): String = v match {
    case null => ""
    case t: java.sql.Timestamp =>
      // NOT toLocalDateTime: the legacy hybrid calendar mangles era
      // fields for far BC/AD dates (insert/nullable_tag.result -19578)
      fmtLdt(java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochSecond(t.getTime / 1000, t.getNanos),
        java.time.ZoneOffset.UTC))
    case t: java.time.LocalDateTime => fmtLdt(t)
    case i: java.time.Instant =>
      fmtLdt(java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    // DataFusion renders f64 specials Rust-style: inf / -inf (NaN is NaN)
    case d: java.lang.Double =>
      if (d.isInfinite) (if (d > 0) "inf" else "-inf") else d.toString
    case f: java.lang.Float =>
      if (f.isInfinite) (if (f > 0) "inf" else "-inf") else f.toString
    // MonthDayNano intervals render DataFusion-style: "14 mons 3 days
    // 4 hours 5 mins 6.000100000 secs" (types/interval/interval.result)
    case ci: org.apache.spark.unsafe.types.CalendarInterval =>
      val parts = Seq.newBuilder[String]
      if (ci.months != 0) parts += s"${ci.months} mons"
      if (ci.days != 0) parts += s"${ci.days} days"
      var us = ci.microseconds
      val h = us / 3600000000L; us %= 3600000000L
      val mi = us / 60000000L; us %= 60000000L
      val sWhole = us / 1000000L; val frac = us % 1000000L
      if (h != 0) parts += s"$h hours"
      if (mi != 0) parts += s"$mi mins"
      if (sWhole != 0 || frac != 0)
        parts += (
          if (frac == 0) s"$sWhole secs"
          else {
            val sign = if (sWhole == 0 && frac < 0) "-" else ""
            s"$sign$sWhole.${"%09d".format(math.abs(frac) * 1000)} secs"
          })
      val out = parts.result()
      if (out.isEmpty) "0 secs" else out.mkString(" ")
    // Duration rendering follows the reference's mix: zero → chrono's
    // "P0D" (types/timestamp/timestamp.result), whole seconds →
    // "PT900S" (join/inequality_joins.result), fractional →
    // "HH:MM:SS.fff" at 3/6/9 digits (types/timestamp/timestamp_types)
    case d: java.time.Duration =>
      val nanos = d.getNano
      if (d.isZero) "P0D"
      else if (nanos == 0) s"PT${d.getSeconds}S"
      else {
        val s = d.getSeconds
        val frac0 = "%09d".format(nanos)
        val frac =
          if (frac0.endsWith("000000")) frac0.take(3)
          else if (frac0.endsWith("000")) frac0.take(6)
          else frac0
        f"${s / 3600}%02d:${s / 60 % 60}%02d:${s % 60}%02d.$frac"
      }
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    // a bare VECTOR column renders as its f32-LE byte encoding in hex
    // (types/vector/vector.result: [1,2,3] -> 0000803f0000004000004040);
    // array<float> exists only as the VECTOR type in this dialect
    case s: scala.collection.Seq[_] if s.nonEmpty && s.head.isInstanceOf[Float] =>
      s.asInstanceOf[scala.collection.Seq[Float]].flatMap { f =>
        val bits = java.lang.Float.floatToIntBits(f)
        Seq(bits & 0xFF, (bits >> 8) & 0xFF, (bits >> 16) & 0xFF, (bits >> 24) & 0xFF)
      }.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ", ", "]")
    case a: Array[_] => a.map(cell).mkString("[", ", ", "]")
    case true => "true"
    case false => "false"
    case other => other.toString
  }

  /** Numeric cells compare by value: Spark types some results integer
    * where DataFusion uses float ("0" vs "0.0"); last-ulp float noise
    * (corr, regr_*) is canonized away at 12 significant digits. */
  def canon(x: String): String =
    try {
      val bd = BigDecimal(x)
      bd.round(new java.math.MathContext(12))
        .bigDecimal.stripTrailingZeros.toPlainString
    } catch {
      case _: NumberFormatException =>
        // MySQL/PG protocol transcripts render datetimes with a space
        // where sqlness uses 'T' (insert/mysql_insert.result)
        if (x.matches("\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}(\\.\\d+)?"))
          x.replaceFirst(" ", "T")
        else x
    }

  /** In-process stall reporter: if a statement runs >90s, dump all
    * thread stacks once (works even when jstack attach is starved). */
  private val stallDeadline = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)
  private val stallStmt = new java.util.concurrent.atomic.AtomicReference[String]("")
  private lazy val stallWatcher: Thread = {
    val t = new Thread(() => {
      while (true) {
        Thread.sleep(5000)
        if (System.nanoTime() > stallDeadline.get()) {
          stallDeadline.set(Long.MaxValue)
          System.err.println(s"[golden-stall] ${stallStmt.get().take(200)}")
          import scala.jdk.CollectionConverters._
          Thread.getAllStackTraces.asScala.foreach { case (th, st) =>
            if (st.nonEmpty && th.getState == Thread.State.RUNNABLE) {
              System.err.println(s"  --- ${th.getName}")
              st.take(14).foreach(f => System.err.println(s"    at $f"))
            }
          }
          System.err.flush()
        }
      }
    }, "golden-stall-watcher")
    t.setDaemon(true)
    t.start()
    t
  }

  /** GOLDEN_TRACE=jobs also logs every Spark job submission with its
    * call site — pinpoints which statement schedules a stray scan. */
  private val jobTraceInstalled = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def installJobTrace(spark: SparkSession): Unit =
    if (sys.env.get("GOLDEN_TRACE").contains("jobs") &&
        jobTraceInstalled.compareAndSet(false, true))
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          System.err.println(s"[golden-job] ${j.jobId} stages=${j.stageIds.mkString(",")} " +
            s"group=${Option(j.properties).map(_.getProperty("spark.jobGroup.id")).getOrElse("?")} " +
            s"desc=${Option(j.properties).map(p => String.valueOf(p.getProperty("spark.job.description")).take(60)).getOrElse("?")}")
      })

  /** Split a statement batch on ';' outside single/double quotes. */
  private[tools] def splitStatements(sql: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    val cur = new StringBuilder
    var q: Char = 0
    for (ch <- sql) {
      if (q != 0) { cur += ch; if (ch == q) q = 0 }
      else ch match {
        case '\'' | '"' => q = ch; cur += ch
        case ';' => parts += cur.result(); cur.clear()
        case c => cur += c
      }
    }
    if (cur.nonEmpty) parts += cur.result()
    parts.result().map(_.trim).filter(_.nonEmpty)
  }

  def run(spark: SparkSession, resultFile: String): Outcome = {
    installJobTrace(spark)
    val g = new GraftSession(spark)
    // the distributed corpus runs against the reference's 3-datanode
    // test cluster — emulate that membership in cluster_info/ssts
    g.distributedCluster = resultFile.contains("/distributed/")
    stallWatcher // ensure started
    var compared = 0
    var skipped = 0
    var errSkipped = 0
    // job-group name is PER-RUN unique: the sharded sweep runs files on
    // concurrent threads of one context, and cancelling a shared group
    // name would cancel every sibling shard's running jobs
    val jobGroup = s"golden-stmt-${java.util.UUID.randomUUID().toString.take(8)}"
    val problems = Seq.newBuilder[String]
    val trace = sys.env.contains("GOLDEN_TRACE")
    // sqlness substitutes ${SQLNESS_HOME} with its working dir (COPY
    // corpus paths) — give each file an isolated scratch dir
    val sqlnessHome = java.nio.file.Files
      .createTempDirectory("sqlness_home").toString
    // bare relative paths (standalone/local_file_access.sql's COPY TO
    // 'dir/file.parquet') resolve against the local FS working dir —
    // point it at the scratch home so tests never write into the repo
    try org.apache.hadoop.fs.FileSystem
      .getLocal(spark.sparkContext.hadoopConfiguration)
      .setWorkingDirectory(new org.apache.hadoop.fs.Path(sqlnessHome))
    catch { case _: Throwable => () }
    parseResult(resultFile).map(e0 =>
      e0.copy(sql = e0.sql.replace("${SQLNESS_HOME}", sqlnessHome))).foreach { e =>
      if (e.sleepMs > 0) Thread.sleep(e.sleepMs) // SQLNESS SLEEP (ttl tests)
      if (e.restart) g.restart() // SQLNESS ARG restart=true
      stallStmt.set(e.sql)
      stallDeadline.set(System.nanoTime() + 90L * 1000 * 1000 * 1000)
      // each statement runs under a job group: a statement that throws
      // mid-evaluation can leave an ASYNC broadcast-exchange job running,
      // which then races a following DROP's file deletion
      // (tql/case_sensitive's cross-schema error + drop) — the group is
      // cancelled on failure so no orphan scan outlives its statement
      spark.sparkContext.setJobGroup(jobGroup, e.sql.take(120),
        interruptOnCancel = true)
      if (trace) { System.err.println(s"[golden-exec] ${e.sql.take(150)}"); System.err.flush() }
      val upSql = e.sql.toUpperCase
      val isExplain = upSql.startsWith("EXPLAIN") ||
        upSql.startsWith("TQL EXPLAIN") || upSql.startsWith("TQL ANALYZE")
      if (isExplain) {
        // plan text is engine-internal (DataFusion vs Catalyst) — execute
        // for parser coverage but never compare plans against goldens
        Try(g.sql(e.sql
          .replaceFirst("(?is)^TQL\\s+(EXPLAIN|ANALYZE)\\s+(VERBOSE\\s+)?", "TQL EVAL ")
          .replaceFirst("(?is)^EXPLAIN\\s+(ANALYZE\\s+)?(VERBOSE\\s+)?", "")).collect())
        skipped += 1
      }
      else Try {
        // a golden entry may glue several statements with interior ';'
        // (pg_catalog issue-7313: two SELECTs, one block) — sqlness sent
        // them as one batch whose FIRST result was recorded. Split
        // outside quotes, run all, compare the first.
        val parts = splitStatements(e.sql)
        val first = g.sql(parts.head)
        parts.tail.foreach(p => Try(g.sql(p)))
        first
      } match {
        case Failure(ex) =>
          spark.sparkContext.cancelJobGroup(jobGroup)
          e.expected match {
            case _: Table =>
              // an exception where the golden expects a TABLE is a
              // missing capability, not noise — counted separately so a
              // regression that turns comparisons into exceptions can't
              // hide inside the plan-text skip count
              skipped += 1
              errSkipped += 1
              if (trace) System.err.println(
                s"[golden-skip] ${e.sql.take(120)} -> ${ex.getClass.getSimpleName}: ${String.valueOf(ex.getMessage).take(200)}")
            case ErrorExpected => // reference also errors — fine
            case NonQuery =>
              problems += s"setup failed: ${e.sql.take(80)} -> ${String.valueOf(ex.getMessage).take(120)}"
          }
        case Success(df) =>
          e.expected match {
            case Table(want, wantHeader, rawBlock)
                if want.isEmpty && wantHeader.isEmpty &&
                  rawBlock.exists(_.contains("|")) =>
              // a REPLACE-collapsed golden (`[\s\-]+` folded the whole
              // rendered table, newlines included, into one `++|..|++`
              // line, e.g. function/system.result): render our table
              // sqlness-style, apply the directives to the full block,
              // compare strings
              Try(df.collect().map(_.toSeq.map(v => cell(v))).toSeq) match {
                case Failure(ex) =>
                  spark.sparkContext.cancelJobGroup(jobGroup)
                  skipped += 1
                  errSkipped += 1
                  if (trace) System.err.println(
                    s"[golden-skip-exec] ${e.sql.take(120)} -> ${ex.getClass.getSimpleName}: ${String.valueOf(ex.getMessage).take(200)}")
                case Success(rows0) =>
                  val expanded = rows0.flatMap { r =>
                    val maxLines = r.map(_.count(_ == '\n') + 1).max
                    if (maxLines == 1) Seq(r)
                    else (0 until maxLines).map { li =>
                      r.map { c =>
                        val ls = c.split("\n", -1)
                        if (li < ls.length) ls(li) else ""
                      }
                    }
                  }
                  val hdr = df.columns.toSeq
                  val all = hdr +: expanded
                  val w = hdr.indices.map(j => all.map(r =>
                    if (j < r.length) r(j).length else 0).max)
                  def line(r: Seq[String]) = r.zipWithIndex
                    .map { case (c, j) => " " + c.padTo(w(j), ' ') + " " }
                    .mkString("|", "|", "|")
                  val sep = w.map(x => "-" * (x + 2)).mkString("+", "+", "+")
                  val block = (Seq(sep, line(hdr), sep) ++
                    expanded.map(line) :+ sep).mkString("\n")
                  val gotLine = e.replaces.foldLeft(block) { case (acc, (p, r)) =>
                    Try(acc.replaceAll(p, r)).getOrElse(acc)
                  }.trim
                  val wantLine = rawBlock.mkString("\n").trim
                  if (gotLine == wantLine) compared += 1
                  else problems += s"MISMATCH: ${e.sql.take(100)} [collapsed]" +
                    s"\n  got:  $gotLine\n  want: $wantLine"
              }
            case Table(want, wantHeader, _) =>
              val ordered = e.sql.toUpperCase.contains("ORDER BY")
              Try(df.collect().map(_.toSeq.map(v => cell(v))).toSeq) match {
                case Failure(ex) =>
                  spark.sparkContext.cancelJobGroup(jobGroup)
                  skipped += 1
                  errSkipped += 1
                  if (trace) System.err.println(
                    s"[golden-skip-exec] ${e.sql.take(120)} -> ${ex.getClass.getSimpleName}: ${String.valueOf(ex.getMessage).take(200)}")
                case Success(raw00) =>
                  // a multiline cell renders as continuation ROWS in the
                  // reference's pretty-printer (information_schema.flows'
                  // flow_definition) — expand the same way
                  val raw0 = raw00.flatMap { r =>
                    val maxLines = r.map(_.count(_ == '\n') + 1).max
                    if (maxLines == 1) Seq(r)
                    else (0 until maxLines).map { li =>
                      r.map { c =>
                        val ls = c.split("\n", -1)
                        if (li < ls.length && (li == 0 || ls.length > 1)) ls(li) else ""
                      }
                    }
                  }
                  // line-spanning REPLACE directives (flow's FLUSH_FLOW
                  // count redaction) operate on the RENDERED table —
                  // render ours sqlness-style, replace, re-parse rows
                  // ... or on the rendered pipes (flow_status's
                  // `(\|\s+[0-9]+\s+\|)` flow_id redaction) — per-cell
                  // replacement never sees a '|'
                  val spanning = e.replaces.exists(p =>
                    p._1.contains("\\n") || p._1.contains("\\|"))
                  // column ORDER is plan-internal (TQL projections differ
                  // between engines); when the golden header names match
                  // ours as a multiset, compare in the golden's order
                  val ourCols = df.columns.toSeq
                  val colPerm: Option[Seq[Int]] =
                    if (wantHeader.nonEmpty && wantHeader.length == ourCols.length &&
                      wantHeader.map(_.toLowerCase).sorted != ourCols.map(_.toLowerCase).sorted) None
                    else if (wantHeader.nonEmpty && wantHeader.length == ourCols.length &&
                      wantHeader.map(_.toLowerCase) != ourCols.map(_.toLowerCase)) {
                      val used = new Array[Boolean](ourCols.length)
                      val p = wantHeader.flatMap { h =>
                        val idx = ourCols.indices.find(j =>
                          !used(j) && ourCols(j).equalsIgnoreCase(h))
                        idx.foreach(used(_) = true)
                        idx
                      }
                      if (p.length == ourCols.length) Some(p) else None
                    } else None
                  val raw1 =
                    if (spanning) {
                      val hdr = df.columns.toSeq
                      val all = hdr +: raw0
                      val w = hdr.indices.map(j => all.map(r =>
                        if (j < r.length) r(j).length else 0).max)
                      def line(r: Seq[String]) = r.zipWithIndex
                        .map { case (c, j) => " " + c.padTo(w(j), ' ') + " " }
                        .mkString("|", "|", "|")
                      val sep = w.map(x => "-" * (x + 2)).mkString("+", "+", "+")
                      val block = (Seq(sep, line(hdr), sep) ++
                        raw0.map(line) :+ sep).mkString("\n")
                      val replaced = e.replaces.foldLeft(block) { case (acc, (p, r)) =>
                        Try(acc.replaceAll(p, r)).getOrElse(acc)
                      }
                      replaced.split("\n").toSeq.filter(_.startsWith("|")).drop(1)
                        .map(_.split("\\|", -1).drop(1).dropRight(1).map(_.trim).toSeq)
                    } else raw0
                  val raw = colPerm match {
                    case Some(p) => raw1.map(r =>
                      if (r.length == p.length) p.map(r) else r)
                    case None => raw1
                  }
                  // apply the file's SQLNESS REPLACE directives to the
                  // raw cells (the golden was written post-replacement),
                  // then canonize numerics
                  val padMangled = e.replaces.exists(_._2 == "_")
                  def strip(c: String): String =
                    if (padMangled) c.replaceAll("^_+|_+$", "") else c
                  // cells are space-padded in the rendered table sqlness
                  // replaced over — pad before applying `\s`-anchored
                  // patterns, trim after
                  // canonize numerics BEFORE the replaces: sqlness saw the
                  // reference's rendering ("1", not our "1.0"), so
                  // \s\d\s-style patterns must see the canonical form
                  // (promql/sort.result)
                  // protocol transcripts render timestamps at fixed µs
                  // precision — pad our seconds/millis renderings
                  val ProtoTsRx = "^(\\d{4,}-\\d\\d-\\d\\dT\\d\\d:\\d\\d:\\d\\d)(?:\\.(\\d+))?$".r
                  // PG's interval codec renders fractional durations at
                  // fixed µs precision (types/timestamp/timestamp.result:
                  // 918 ms → 00:00:00.918000)
                  val ProtoDurRx = "^(\\d\\d:\\d\\d:\\d\\d)\\.(\\d+)$".r
                  def protoTs(c: String): String =
                    if (e.protocol != "postgres") c
                    else c match {
                      case ProtoTsRx(base, frac) =>
                        base + "." + Option(frac).getOrElse("").padTo(6, '0').take(6)
                      case ProtoDurRx(base, frac) =>
                        base + "." + frac.padTo(6, '0').take(6)
                      case _ => c
                    }
                  val got = raw.map(_.map(c => protoTs(canon(strip(
                    if (spanning) c
                    else e.replaces.foldLeft(" " + canon(c) + " ") { case (acc, (p, r)) =>
                      Try(acc.replaceAll(p, r)).getOrElse(acc)
                    }.trim)))))
                  // SORT_RESULT blocks carry the header line as a row
                  val header = df.columns.map(_.trim.toLowerCase).toSeq
                  val wantRows =
                    if (e.sortMode == 1)
                      want.filterNot(_.map(c => strip(c).trim.toLowerCase) == header)
                    else want
                  // postgres-protocol goldens render booleans t/f
                  val pgBools = got.flatten.toSet.subsetOf(Set("true", "false")) &&
                    wantRows.flatten.map(strip).toSet.subsetOf(Set("t", "f"))
                  // mysql-protocol goldens render booleans 0/1 — but only
                  // BOOLEAN-typed columns: a VARCHAR cell containing the
                  // literal text 'true' must compare as-is
                  val myBools = e.protocol == "mysql"
                  val boolCols: Seq[Boolean] = {
                    val ours = df.schema.fields
                      .map(_.dataType == org.apache.spark.sql.types.BooleanType).toSeq
                    colPerm.map(p => p.map(ours)).getOrElse(ours)
                  }
                  val wantC = wantRows.map(_.map(c => canon(strip(c)) match {
                    case "t" if pgBools => "true"
                    case "f" if pgBools => "false"
                    case x => x
                  }))
                  val gotMy =
                    if (myBools) got.map(_.zipWithIndex.map { case (c, j) =>
                      if (j < boolCols.length && boolCols(j)) c match {
                        case "true" => "1"; case "false" => "0"; case x => x
                      } else c
                    })
                    // postgres wire renders booleans t/f; column-typed so
                    // mixed-type rows (pg_catalog issue-7313) map too
                    else if (e.protocol == "postgres" && !pgBools)
                      got.map(_.zipWithIndex.map { case (c, j) =>
                        if (j < boolCols.length && boolCols(j)) c match {
                          case "true" => "t"; case "false" => "f"; case x => x
                        } else c
                      })
                    else got
                  // rows compare pipe-joined: a result cell that itself
                  // contains '|' (string_agg) parses as extra cells from
                  // the golden table — joining makes that benign. Cells
                  // compare trimmed: the golden table parser trims, so
                  // our side must too (SHOW CREATE indentation).
                  val gotJ = gotMy.map(_.map(_.trim).mkString("|"))
                  val wantJ = wantC.map(_.mkString("|"))
                  val (a, b) =
                    if (ordered && !e.sortResult) (gotJ, wantJ)
                    else (gotJ.sorted, wantJ.sorted)
                  // ordered compare tolerates permutations ONLY within
                  // runs of equal ORDER-BY key cells (tie order is
                  // engine-internal); a broken sort direction fails.
                  val effCols = colPerm.map(p => p.map(ourCols)).getOrElse(ourCols)
                  val tieOk = ordered && !e.sortResult && a != b &&
                    orderKeyIdxs(e.sql, effCols)
                      .exists(k => tieRunsEqual(gotMy, wantC, k))
                  // column-permutation fallback: TQL projections order
                  // columns differently per plan shape (and name value
                  // columns by expression) — rows whose sorted cell
                  // multisets agree are the same data in another layout
                  def cellSorted(rows: Seq[Seq[String]]) =
                    rows.map(_.map(_.trim).sorted.mkString("|")).sorted
                  // ... but only where column order is genuinely
                  // plan-dependent (TQL/EXPLAIN) or the golden header
                  // provably names another column layout — plain SQL
                  // keeps strict positional cells, so swapped column
                  // values cannot pass as equal
                  val upSql = e.sql.trim.toUpperCase
                  val cellFallbackOk = upSql.startsWith("TQL") ||
                    upSql.startsWith("EXPLAIN") ||
                    (wantHeader.nonEmpty &&
                      wantHeader.map(_.trim.toLowerCase) !=
                        df.columns.map(_.trim.toLowerCase).toSeq)
                  if (a == b || tieOk ||
                    (cellFallbackOk && cellSorted(gotMy) == cellSorted(wantC)))
                    compared += 1
                  else {
                    val d = a.indices.find(i => i >= b.length || a(i) != b(i))
                      .getOrElse(math.min(a.length, b.length))
                    val (cg, cw) = (cellSorted(gotMy), cellSorted(wantC))
                    val cd = cg.indices.find(i => i >= cw.length || cg(i) != cw(i))
                      .getOrElse(math.min(cg.length, cw.length))
                    problems += s"MISMATCH: ${e.sql.take(100)} [rows got=${a.length} want=${b.length} firstDiff=$d cellDiff=$cd]" +
                      s"\n  got:  ${a.slice(d, d + 3)}\n  want: ${b.slice(d, d + 3)}" +
                      s"\n  cgot: ${cg.slice(cd, cd + 2)}\n  cwant:${cw.slice(cd, cd + 2)}"
                  }
              }
            case _ => // DDL/DML success
          }
      }
      // end-of-statement: kill any stage still in flight (AQE can leave
      // a materialization job running after collect() short-circuits on
      // an empty side) — a stray scan must not race the next DROP
      spark.sparkContext.cancelJobGroup(jobGroup)
      spark.sparkContext.clearJobGroup()
    }
    stallDeadline.set(Long.MaxValue)
    Outcome(compared, skipped, problems.result(), errSkipped)
  }
}

/** Sweep the whole sqlness corpus and report per-file outcomes — dev
  * tool for deciding which files to pin in GoldenRangeSpec and the
  * GoldenRound*Spec suites. */
object GoldenSweep {
  /** Corpus roots beyond standalone/common that carry comparable (not
    * plan-text) semantics. optimizer/ and tql-explain-analyze/ are
    * EXPLAIN-output files (engine-internal plan text, excluded by
    * design); distributed/explain is likewise skipped. */
  val ExtraRoots: Seq[String] = Seq(
    "/root/reference/tests/cases/standalone/copy",
    "/root/reference/tests/cases/standalone/create",
    "/root/reference/tests/cases/standalone/limit",
    "/root/reference/tests/cases/standalone/flow-tql",
    "/root/reference/tests/cases/standalone/information_schema",
    "/root/reference/tests/cases/standalone/local_file_access.result",
    "/root/reference/tests/cases/distributed/flow-tql",
    "/root/reference/tests/cases/distributed/repartition",
    "/root/reference/tests/cases/distributed/function",
    "/root/reference/tests/cases/distributed/information_schema",
    "/root/reference/tests/cases/distributed/local_file_access.result")

  /** Files allowed to carry runtime-errored comparisons (errs>0)
    * without failing the sweep — each a documented, deliberate
    * divergence. aggregate/sum: ANSI Spark raises on the near-Long.Max
    * SUM two's-complement wrap where DataFusion wraps (README). */
  val ErrAllowlist: Seq[String] = Seq("aggregate/sum")

  def main(args: Array[String]): Unit = {
    println(s"[allowlist] files permitted runtime errs: ${ErrAllowlist.mkString(", ")}")
    val roots: Seq[String] =
      if (args.nonEmpty && args(0) == "all")
        Seq("/root/reference/tests/cases/standalone/common") ++ ExtraRoots
      else if (args.nonEmpty) Seq(args(0))
      else Seq("/root/reference/tests/cases/standalone/common")
    // files are independent (each run() gets a fresh GraftSession +
    // scratch warehouse), so the sweep shards across GOLDEN_SHARDS
    // worker threads, each on its OWN spark.newSession() (isolated temp
    // views / function registry, shared context). Sequential: ~19 min;
    // 4 shards: under 8 — the per-commit-gate budget (r5 task #8).
    val shards = sys.env.get("GOLDEN_SHARDS").map(_.toInt).getOrElse(4)
    val spark = LocalSession(math.max(8, shards * 8))
    // 8 shuffle partitions whatever the core count; a shard's
    // newSession() starts from the context conf, so it sets them again
    def sweepConf(s: SparkSession): SparkSession = {
      s.conf.set("spark.sql.shuffle.partitions", "8"); s
    }
    sweepConf(spark)
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    // recurse: the corpus nests files (common/types/float/*.result,
    // common/function/string/*.result); a flat listing misses 72 files
    def resultsUnder(d: java.io.File): Seq[java.io.File] = {
      val (dirs, files) = d.listFiles().sortBy(_.getName).partition(_.isDirectory)
      files.filter(_.getName.endsWith(".result")).toSeq ++
        dirs.flatMap(resultsUnder)
    }
    val entries = roots.flatMap { root =>
      val rootFile0 = new java.io.File(root)
      val single = rootFile0.isFile
      val rootFile = if (single) rootFile0.getParentFile else rootFile0
      val dirs = if (single) Array.empty[java.io.File]
        else rootFile.listFiles().filter(_.isDirectory)
          .filter(d => only.forall(_.contains(d.getName))).sortBy(_.getName)
      val topFiles = if (single) Array(rootFile0)
        else rootFile.listFiles().filter(f =>
          f.isFile && f.getName.endsWith(".result") && only.isEmpty).sortBy(_.getName)
      (topFiles.toSeq ++ dirs.flatMap(resultsUnder)).map { f =>
        (rootFile.getName + "/" +
          rootFile.toPath.relativize(f.toPath).toString.stripSuffix(".result"),
          f.getPath)
      }
    }
    val nOk = new java.util.concurrent.atomic.AtomicInteger(0)
    val nFail = new java.util.concurrent.atomic.AtomicInteger(0)
    val nCompared = new java.util.concurrent.atomic.AtomicInteger(0)
    val nSkipped = new java.util.concurrent.atomic.AtomicInteger(0)
    val nErrs = new java.util.concurrent.atomic.AtomicInteger(0)
    def process(session: org.apache.spark.sql.SparkSession,
        rel: String, path: String): Unit = {
      val out = Try(GoldenRunner.run(session, path)) match {
        case Success(o) => o
        case Failure(ex) => GoldenRunner.Outcome(0, 0, Seq(s"RUNNER CRASH: ${ex.getMessage}"))
      }
      // a runtime error where the golden expects a table is a missing
      // capability — it FAILS the file so "ok=N" stays falsifiable,
      // unless the divergence is documented on the allowlist
      val errAllowed = out.errSkipped > 0 && ErrAllowlist.exists(rel.endsWith)
      val ok = out.problems.isEmpty && (out.errSkipped == 0 || errAllowed)
      val flag = if (ok) "OK  " else "FAIL"
      if (ok) nOk.incrementAndGet() else nFail.incrementAndGet()
      nCompared.addAndGet(out.compared)
      nSkipped.addAndGet(out.skipped)
      nErrs.addAndGet(out.errSkipped)
      println(f"[$flag] $rel%-40s compared=${out.compared}%-4d skipped=${out.skipped}%-4d errs=${out.errSkipped}%-3d problems=${out.problems.size}")
      sys.env.get("GOLDEN_VERBOSE").foreach { _ =>
        out.problems.take(3).foreach(p => println("    " + p.replace("\n", "\n    ")))
      }
    }
    // local_file_access files COPY to BARE relative paths, resolved via
    // the JVM-global local-FS working directory run() repoints per file
    // — racy across shards, so they run sequentially after the join.
    // (The stall-watcher deadline is also cross-thread; under shards a
    // stall dump may name a neighbor's statement — diagnostics only.)
    val (seqEntries, parEntries) =
      entries.partition(_._1.contains("local_file_access"))
    val groups = parEntries.zipWithIndex
      .groupBy(_._2 % shards).toSeq.sortBy(_._1)
      .map(_._2.map(_._1))
    val threads = groups.map { g =>
      val t = new Thread(() => {
        val session = sweepConf(spark.newSession())
        g.foreach { case (rel, path) => process(session, rel, path) }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    seqEntries.foreach { case (rel, path) => process(spark, rel, path) }
    println(s"[TOTAL] files ok=$nOk fail=$nFail compared=$nCompared " +
      s"skipped=$nSkipped errs=$nErrs")
    spark.stop()
  }
}
