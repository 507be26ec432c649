package graft.sql

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.MergeMode
import graft.promql.{PromEval, PromParser}
import graft.promql.PromQL.{EvalParams, Metric}
import graft.streaming.Flow
import graft.streaming.Flow.FlowDef

/** Flows + TQL — CREATE FLOW / scheduled refresh / FLUSH_FLOW, TQL
  * EVAL and TQL-in-CTE, PREPARE/EXECUTE and cursors (reference:
  * flow/src/adapter.rs, query/src/promql). Mechanical extraction from
  * GraftSession (round-4 verdict #5); bodies unchanged — the sqlness
  * sweep is the no-change gate. */
private[sql] trait GraftFlowTql { self: GraftSession =>
  // ---- CREATE FLOW (§2.10) --------------------------------------------

  private[sql] val CreateFlowRx =
    ("(?is)CREATE\\s+(?:OR\\s+REPLACE\\s+)?FLOW\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_]*)\\s+" +
      // the sink name may be single-quoted (distributed/flow-tql/
      // tsid_on_phy.sql: SINK TO 'test_tsid_output')
      "SINK\\s+TO\\s+'?([A-Za-z0-9_/.:-]+)'?\\s*" +
      "(?:EVAL\\s+INTERVAL\\s+'([^']*)'\\s*)?" +     // batching refresh period
      "(?:EXPIRE\\s+AFTER\\s+'?([^'\\s]+)'?\\s*)?" + // state retention
      "(?:EVAL\\s+INTERVAL\\s+'([^']*)'\\s*)?" +
      "(?:COMMENT\\s+'([^']*)'\\s*)?" +
      "(?:WITH\\s*\\((.*?)\\)\\s*)?AS\\s+((?:SELECT|WITH|TQL).*)").r

  /** Catalog tables a flow query reads — matches both the bare name and
    * the `db."table"` spelling of per-schema mangled tables
    * (flow/flow_batch_join_subquery.sql joins two qualified sources). */
  private[sql] def flowSourceTables(query: String, sink: String): Seq[String] = {
    // TQL bodies: only PromQL SELECTOR names are sources — a token scan
    // would match table `tql` against the TQL keyword itself
    // (flow-tql/flow_tql_cte.sql creates exactly that table)
    if (query.trim.toUpperCase(Locale.ROOT).startsWith("TQL")) {
      import PromParser._
      def sels(e: Expr): Seq[String] = e match {
        case s: Selector => Seq(s.name)
        case Call(_, as) => as.flatMap(sels)
        case Agg(_, _, _, p, b) => p.toSeq.flatMap(sels) ++ sels(b)
        case Binary(_, l, r, _, _) => sels(l) ++ sels(r)
        case Subquery(e2, _, _, _) => sels(e2)
        case Unary(e2) => sels(e2)
        case _ => Nil
      }
      return parseTqlHead(query.trim).toSeq.flatMap { case (_, promql) =>
        (try Some(PromParser.parse(promql)) catch { case _: Throwable => None })
          .toSeq.flatMap(sels)
      }.distinct.filter(t => t != sink && catalog.tables.contains(t)).sorted
    }
    catalog.tables.filter { t =>
      val rx = t.split("__schema__", 2) match {
        case Array(d, tb) =>
          "(?i)\\b" + java.util.regex.Pattern.quote(d) +
            "\\s*\\.\\s*[\"`]?" + java.util.regex.Pattern.quote(tb) + "[\"`]?"
        case _ => "(?i)\\b" + java.util.regex.Pattern.quote(t) + "\\b"
      }
      t != sink && rx.r.findFirstIn(query).isDefined
    }.sorted
  }

  /** A flow body may be plain SELECT, a CTE query, or TQL EVAL
    * (flow/flow_tql_avg.sql, flow/flow_scheduled_late_overlap.sql). */
  private[sql] def flowQueryDf(query: String): DataFrame = {
    val u = query.trim.toUpperCase(Locale.ROOT)
    if (u.startsWith("TQL")) tqlEval(query.trim)
    else if (u.startsWith("WITH") &&
        "(?is)\\bTQL\\s+EVAL\\b".r.findFirstIn(query).isDefined)
      sql(rewriteTqlCtes(query))
    else spark.sql(dialect(query))
  }

  /** Per-flow sink metadata: sink table, renamed output columns, and
    * whether the sink carries the reference's __ts_placeholder column. */
  private[sql] case class FlowMeta(sinkTable: String, outNames: Seq[String],
      placeholder: Boolean, srcTable: Option[String] = None,
      createSeq: Long = 0L,
      opts: Map[String, String] = Map.empty,
      evalInterval: Option[String] = None,
      streaming: Boolean = false,
      pending: Boolean = false,
      srcEpoch: Long = 0L,
      createdMs: Long = 0L,
      updatedMs: Long = 0L)
  private[sql] val flowMeta = scala.collection.concurrent.TrieMap.empty[String, FlowMeta]
  /** stable ids + last-refresh stamps for information_schema.flows /
    * flow_statistics (reference flows.rs, flow_statistics.rs) */
  private[sql] val flowIds = scala.collection.concurrent.TrieMap.empty[String, Int]
  private[sql] val flowIdCounter = new java.util.concurrent.atomic.AtomicInteger(1023)
  private[sql] val flowLastExecMs = scala.collection.concurrent.TrieMap.empty[String, Long]
  private[sql] def flowIdOf(name: String): Int =
    flowIds.getOrElseUpdate(name, flowIdCounter.incrementAndGet())
  /** created stays across CREATE OR REPLACE; updated bumps (flow_view) */
  private[sql] def flowStamp(name: String): (Long, Long) = {
    val now = System.currentTimeMillis()
    (flowMeta.get(name).map(_.createdMs).filter(_ > 0).getOrElse(now), now)
  }
  /** last source sequence a streaming flow appended through */
  private[sql] val flowLastSeq = scala.collection.concurrent.TrieMap.empty[String, Long]

  /** last schedule boundary a scheduled flow ticked at (read-time
    * catch-up; see [[catchUpScheduledFlows]]) */
  private[sql] val flowLastTickMs = scala.collection.concurrent.TrieMap.empty[String, Long]

  /** The reference's batching engine ticks an EVAL INTERVAL flow on a
    * background schedule. Emulated deterministically: when a flow's
    * SINK is read, evaluate once per schedule boundary elapsed since
    * the last tick, with now() pinned at each boundary
    * (distributed/flow-tql/flow_eval_interval_schedule.result pins >=2
    * distinct scheduled ticks after a 5 s sleep on a '1s' flow).
    * Restricted to flows whose query references now()/
    * current_timestamp — for any other query a tick on an unchanged
    * source is an idempotent upsert, observationally a no-op. */
  private[sql] def catchUpScheduledFlows(stmt: String): Unit = {
    if (flowMeta.isEmpty) return
    flowMeta.foreach { case (f, m) =>
      m.evalInterval.foreach { iv =>
        val usesNow = flows.get(f).exists { case (_, q) =>
          "(?i)\\b(now|current_timestamp)\\s*\\(".r.findFirstIn(q).isDefined }
        val sinkRead = ("(?i)\\b" +
          java.util.regex.Pattern.quote(m.sinkTable) + "\\b").r
          .findFirstIn(stmt).isDefined
        if (usesNow && sinkRead) {
          val ivMs = math.max(1000L, scala.util.Try(intervalMs(iv))
            .getOrElse(PromParser.parseDuration(iv)))
          val nowB = math.floorDiv(System.currentTimeMillis(), 1000L) * 1000L
          var last = flowLastTickMs.getOrElse(f,
            math.floorDiv(m.createdMs, 1000L) * 1000L)
          // bound the backfill to the trailing window — older ticks on
          // the same data are subsumed by the newer ones
          if (nowB - last > 20L * ivMs) last = nowB - 20L * ivMs
          while (last + ivMs <= nowB) {
            last += ivMs
            flowLastTickMs.put(f, last)
            try refreshFlow(f, Some(last)) catch {
              case e: Throwable => System.err.println(
                s"[flow-tick] $f: ${String.valueOf(e.getMessage).take(160)}")
            }
          }
        }
      }
    }
  }
  /** PREPARE name FROM '...' templates (prepare/mysql_prepare.sql) */
  private[sql] val preparedStmts = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Open cursors: name → (partition-streaming row iterator, schema).
    * DECLARE/FETCH/CLOSE (operator/src/statement/cursor.rs). */
  private[sql] val cursors = scala.collection.concurrent.TrieMap
    .empty[String, (java.util.Iterator[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType)]
  /** DDL procedure log for information_schema.procedure_info */
  private[sql] val procedureLog =
    scala.collection.mutable.ListBuffer.empty[(String, String)]
  /** per-table generation counter: DROP TABLE bumps it, so a flow bound
    * to the old incarnation stops refreshing (flow_rebuild.result pins
    * that a re-created source is "a different table" to the flow) */
  private[sql] val tableEpoch = scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Top-level select-list items of the flow query. */
  private[sql] def selectList(query: String): Seq[String] = {
    val up = query.toUpperCase(Locale.ROOT)
    val start = up.indexOf("SELECT") + "SELECT".length
    // find the top-level FROM
    var i = start; var depth = 0
    var from = -1
    while (i < query.length && from < 0) {
      val c = query.charAt(i)
      if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (depth == 0 && up.startsWith("FROM", i) &&
        (i == 0 || !Character.isLetterOrDigit(up.charAt(i - 1))) &&
        (i + 4 >= up.length || !Character.isLetterOrDigit(up.charAt(i + 4)))) from = i
      i += 1
    }
    val list = query.substring(start, if (from < 0) query.length else from)
      .replaceFirst("(?is)^\\s*DISTINCT\\s+", "")
    splitTop(list)
  }

  /** DataFusion-style output names for the flow's select items: aliases
    * win; an unaliased `fn(col)` becomes `fn(table.col)` (the auto sink
    * column "sum(numbers_input_basic.number)" in flow_basic.result). */
  private[sql] def flowOutputNames(query: String, sparkNames: Seq[String]): Seq[String] = {
    // WITH/TQL bodies: the engine's own output names stand
    if (!query.trim.toUpperCase(Locale.ROOT).startsWith("SELECT"))
      return sparkNames
    val table = "(?is)\\bFROM\\s+(\"[^\"]+\"|`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)".r
      .findFirstMatchIn(query).map(m => normTable(m.group(1)))
    val items = selectList(query)
    if (items.length != sparkNames.length) return sparkNames
    val aliasRx = "(?is)\\s+AS\\s+(\"[^\"]+\"|`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)\\s*$".r
    val fnRx = "(?s)^([A-Za-z_][A-Za-z0-9_]*)\\s*\\((.*)\\)$".r
    items.zip(sparkNames).map { case (item0, sparkName) =>
      val item = item0.trim
      aliasRx.findFirstMatchIn(item) match {
        case Some(m) => normIdent(m.group(1))
        case None => item match {
          case _ if item.matches("[A-Za-z_][A-Za-z0-9_]*") => normIdent(item)
          case fnRx(fn, args) =>
            // DataFusion's generated name qualifies source-column refs
            // at ANY depth: `sum(abs(number))` on numbers_input_df_func
            // names the sink column `sum(abs(numbers_input_df_func
            // .number))` (flow_call_df_func.sql) — qualify exactly the
            // identifiers that are columns of the source table
            val cols: Set[String] = table.toSeq.flatMap(t =>
              scala.util.Try(spark.table(t).columns.toSeq).getOrElse(Nil))
              .map(_.toLowerCase(Locale.ROOT)).toSet
            val qual = "(?<![A-Za-z0-9_.])([A-Za-z_][A-Za-z0-9_]*)(?![A-Za-z0-9_]*\\s*\\()".r
              .replaceAllIn(args, m =>
                if (table.isDefined && cols.contains(m.group(1).toLowerCase(Locale.ROOT)))
                  s"${table.get}.${m.group(1)}"
                else m.group(1))
            s"${fn.toLowerCase(Locale.ROOT)}($qual)"
          case _ => sparkName
        }
      }
    }
  }

  private[sql] def sqlTypeTok(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INT"
    case ShortType => "SMALLINT"
    case ByteType => "TINYINT"
    case DoubleType => "DOUBLE"
    case FloatType => "FLOAT"
    case BooleanType => "BOOLEAN"
    case DateType => "DATE"
    case TimestampType | TimestampNTZType => "TIMESTAMP(3)"
    case BinaryType => "BINARY"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case _ => "STRING"
  }

  /** flow WITH-option keys the reference accepts (flows.rs options
    * validation — anything else errors, show_create_flow's
    * `access_key_id` case). */
  private[sql] val flowOptionKeys =
    Set("defer_on_missing_source", "keys", "flow_type", "batching_interval",
      "experimental_enable_incremental_read")

  /** CREATE FLOW ... AS TQL EVAL validation, mirroring the reference's
    * flow TQL parser + const-eval (flow-tql/flow_tql.result):
    *  - range bounds must be now()-relative;
    *  - a top-level `+ '...'::interval` tail folds to an
    *    IntervalMonthDayNano, which is not extractable as a timestamp;
    *  - a negative duration bound fails the seconds→Duration convert;
    *  - the source must carry exactly ONE f64 value column. */
  private[sql] def validateTqlFlow(query: String): Unit = {
    import PromParser._
    val (args, promql) = parseTqlHead(query.trim).getOrElse(return)
    args.take(2).foreach { a =>
      if (!a.toLowerCase(Locale.ROOT).contains("now"))
        throw new IllegalArgumentException(
          "Invalid TQL syntax: sql parser error: Expected expression containing `now()`")
      if ("(?i)\\+\\s*'[^']*'\\s*::\\s*interval\\s*$".r.findFirstIn(a.trim).isDefined)
        throw new IllegalArgumentException(
          "Invalid TQL syntax: Failed to evaluate TQL expression: " +
            "Failed to extract a timestamp value")
    }
    val (sMs, eMs) = (tqlTimeMs(args(0)), tqlTimeMs(args(1)))
    if (sMs < 0 || eMs < 0)
      throw new IllegalArgumentException(
        "Failed to convert float seconds to duration: " +
          "cannot convert float seconds to Duration: value is negative")
    def sels(e: Expr): Seq[Selector] = e match {
      case s: Selector => Seq(s)
      case Call(_, as) => as.flatMap(sels)
      case Agg(_, _, _, p, b) => p.toSeq.flatMap(sels) ++ sels(b)
      case Binary(_, l, r, _, _) => sels(l) ++ sels(r)
      case Subquery(e2, _, _, _) => sels(e2)
      case Unary(e2) => sels(e2)
      case _ => Nil
    }
    (try Some(PromParser.parse(promql)) catch { case _: Throwable => None })
      .toSeq.flatMap(sels).foreach { s =>
        val fs = tqlFieldsOf(s.name)
        if (fs.length > 1)
          throw new IllegalArgumentException(
            s"Invalid query: TQL query only supports one f64 value column, " +
              s"table `greptime.$currentDb.${s.name}` has ${fs.length} f64 value columns")
      }
  }

  /** Plan-derived sink layout for a TQL flow whose sink doesn't exist:
    * (rename old→new for the value column, sink column order, PK). */
  private[sql] def tqlSinkShape(query: String)
      : Option[(Map[String, String], Seq[String], Seq[String])] = {
    import PromParser._
    val (_, promql) = parseTqlHead(query.trim).getOrElse(return None)
    val ast = try PromParser.parse(promql) catch { case _: Throwable => return None }
    ast match {
      case Agg("count_values", _, _, Some(StringLit(dst)), sel: Selector)
          if catalog.tables.contains(sel.name) =>
        val f = valueFieldOf(sel.name).getOrElse(return None)
        // the value lands in qdf under the source's field name (tqlReshape)
        val nm = s"count(${sel.name}.$f)"
        Some((Map(f -> nm), Seq(nm, "ts", dst), Seq(dst)))
      case Call(fn, Seq(sel: Selector)) if sel.rangeMs.isDefined &&
          catalog.tables.contains(sel.name) =>
        val f = valueFieldOf(sel.name).getOrElse(return None)
        val spec = catalog.spec(sel.name)
        val nm = s"prom_${fn.toLowerCase(Locale.ROOT)}(ts_range,$f,${spec.timeIndex}," +
          s"Int64(${sel.rangeMs.get}))"
        // tagged source: tags follow the value, keyed in declared order
        Some((Map(f -> nm), Seq("ts", nm) ++ spec.tags, spec.tags))
      case _ => None
    }
  }

  /** Simplest-form TQL CTE in CREATE FLOW (flow-tql/flow_tql_cte.sql):
    * `WITH name [(aliases)] AS (TQL EVAL ...) SELECT * FROM name` — the
    * reference's flow engine accepts EXACTLY this shape (matching CTE
    * name incl. quoted case) and rejects everything else. */
  private[sql] val FlowTqlCteRx =
    ("(?is)^\\s*WITH\\s+(\"[^\"]+\"|[A-Za-z_][A-Za-z0-9_]*)\\s*" +
      "(?:\\(([^)]*)\\))?\\s*AS\\s*\\(\\s*(TQL\\s+EVAL.*?)\\)\\s*" +
      "SELECT\\s+\\*\\s+FROM\\s+(\"[^\"]+\"|[A-Za-z_][A-Za-z0-9_]*)\\s*;?\\s*$").r

  private[sql] def createFlow(stmt: String): DataFrame = stmt match {
    case CreateFlowRx(name, sink, ev1, expire, ev2, cmtPart, withPart, query0) =>
      Option(cmtPart).foreach(flowComments.put(name, _))
      val query00 = rewriteFlowIntDiv(query0)
      // resolve the WITH-TQL-CTE form down to its inner TQL EVAL; CTE
      // column aliases rename the TQL outputs positionally
      val (query, cteAliases): (String, Seq[String]) =
        if (query00.trim.toUpperCase(Locale.ROOT).startsWith("WITH") &&
            "(?is)\\bTQL\\s+EVAL\\b".r.findFirstIn(query00).isDefined) {
          FlowTqlCteRx.findFirstMatchIn(query00.trim) match {
            case Some(mm) =>
              def tok(t: String): String =
                if (t.startsWith("\"")) t.substring(1, t.length - 1)
                else t.toLowerCase(Locale.ROOT)
              if (tok(mm.group(1)) != tok(mm.group(4)))
                throw new IllegalArgumentException(
                  "Invalid flow query: WITH is only supported for the " +
                    "simplest TQL CTE in CREATE FLOW")
              (mm.group(3).trim,
                Option(mm.group(2)).map(_.split(",").map(a => unquote(a.trim)).toSeq)
                  .getOrElse(Nil))
            case None => throw new IllegalArgumentException(
              "Invalid flow query: WITH is only supported for the " +
                "simplest TQL CTE in CREATE FLOW")
          }
        } else (query00, Nil)
      val up0 = stmt.toUpperCase(Locale.ROOT)
      val orReplace = up0.contains("OR REPLACE")
      val ifNotExists = up0.contains("IF NOT EXISTS")
      // the reference rejects combining the two (show_create_flow.result:
      // `CREATE OR REPLACE FLOW IF NOT EXISTS` errors, old flow remains)
      if (orReplace && ifNotExists)
        throw new IllegalArgumentException(
          "create flow: OR REPLACE and IF NOT EXISTS cannot be used together")
      if (flows.contains(name)) {
        if (ifNotExists && !orReplace) return status(s"flow $name exists")
        if (!orReplace)
          throw new IllegalArgumentException(s"flow $name already exists")
      }
      val opts: Map[String, String] = Option(withPart).map { w =>
        splitTop(w).flatMap(_.split("=", 2) match {
          case Array(k, v) => Some(k.trim.toLowerCase(Locale.ROOT) ->
            v.trim.stripPrefix("'").stripSuffix("'"))
          case _ => None
        }).toMap
      }.getOrElse(Map.empty)
      opts.keys.find(!flowOptionKeys.contains(_)).foreach(k =>
        throw new IllegalArgumentException(s"invalid flow option: $k"))
      val evalInterval = Option(ev1).orElse(Option(ev2))
      val sinkName = normTable(sink)
      val isTqlFlow = query.trim.toUpperCase(Locale.ROOT).startsWith("TQL")
      if (isTqlFlow) validateTqlFlow(query)
      // evaluate once for the output schema (also validates the query) —
      // with defer_on_missing_source a missing source registers the flow
      // in pending state instead (flow/flow_pending.sql)
      val qdf =
        try flowQueryDf(query)
        catch {
          case e: Throwable
              if opts.get("defer_on_missing_source").contains("true") =>
            flows.put(name, (FlowDef(name, "", Nil, identity,
              expireAfter = Option(expire), allowUnpartitioned = true), query))
            val (createdMs, updatedMs) = flowStamp(name)
            flowIdOf(name)
            flowMeta.put(name, FlowMeta(sinkName, Nil, placeholder = false,
              srcTable = None, createSeq = seqCounter.get(), opts = opts,
              evalInterval = evalInterval, pending = true,
              createdMs = createdMs, updatedMs = updatedMs))
            return status(s"flow $name pending")
        }
      // TQL flows auto-create their sink with the PLAN-derived value
      // column name (flow-tql/flow_tql.result: count_values →
      // "count(src.field)" laid out [value, ts, dst]; range fns →
      // "prom_fn(ts_range,field,ts,Int64(range))" laid out [ts, value])
      val tqlShape: Option[(Map[String, String], Seq[String], Seq[String])] =
        if (isTqlFlow && !catalog.tables.contains(sinkName)) tqlSinkShape(query)
        else None
      val names0 = flowOutputNames(query, qdf.schema.fieldNames.toSeq)
        .map(n => tqlShape.flatMap(_._1.get(n)).getOrElse(n))
      val names =
        if (cteAliases.nonEmpty && cteAliases.length == names0.length) cteAliases
        else names0
      val isTsType = (dt: DataType) =>
        dt == TimestampType || dt == TimestampNTZType
      val tsOut = names.zip(qdf.schema.fields)
        .find { case (_, f) => isTsType(f.dataType) }.map(_._1)
      val preExisting = catalog.tables.contains(sinkName)
      val srcTable0 = flowSourceTables(query, sinkName).headOption
      // incremental reads need an append-only source: an upsert source
      // would require old-value compensation (flow_incremental_aggr.sql)
      if (opts.get("experimental_enable_incremental_read").contains("true") &&
          srcTable0.exists(t => catalog.spec(t).mergeMode != MergeMode.Append))
        throw new IllegalArgumentException(
          "Incremental aggregate reads only support append-only source tables")
      if (!preExisting && tqlShape.isDefined) {
        // TQL flow sink: plan-derived layout, NO update_at column
        // (flow-tql/flow_tql.result SHOW CREATE pins the exact shape)
        val Some((_, order, pk)) = tqlShape
        val fieldByName = names.zip(qdf.schema.fields).toMap
        val colDefs = order.filter(fieldByName.contains)
          .map(n => s""""$n" ${sqlTypeTok(fieldByName(n).dataType)}""")
        val ti = tsOut.getOrElse("__ts_placeholder")
        val pkC = if (pk.nonEmpty)
          Seq(pk.map(k => s""""$k"""").mkString("PRIMARY KEY (", ", ", ")"))
        else Nil
        createTable(s"""CREATE TABLE IF NOT EXISTS "$sinkName" (""" +
          (colDefs ++ Seq(s"""TIME INDEX ("$ti")""") ++ pkC).mkString(", ") +
          ") WITH ('comment' = 'Auto created table by flow engine')")
      }
      else if (!preExisting) {
        // auto-create the sink the way the reference flow engine does
        // (flow_auto_sink_table.result): outputs, update_at, and a
        // __ts_placeholder time index when no output is a timestamp
        val items = selectList(query)
        val colDefs = names.zip(qdf.schema.fields).zipWithIndex.map {
          case ((n, f), i) =>
            // 3-arg date_bin (with a string origin) yields nanosecond
            // precision in the reference, 2-arg stays millisecond
            // (flow_basic's ngx_country vs flow_auto_sink_table)
            def dateBin3Args(it: String): Boolean = {
              val lo = it.toLowerCase(Locale.ROOT)
              val at = lo.indexOf("date_bin")
              if (at < 0) false
              else {
                val args = it.substring(it.indexOf('(', at) + 1)
                splitTop(args.substring(0, {
                  var d = 1; var j = 0
                  while (j < args.length && d > 0) {
                    if (args.charAt(j) == '(') d += 1
                    else if (args.charAt(j) == ')') d -= 1
                    if (d > 0) j += 1
                  }
                  j
                })).size >= 3
              }
            }
            val tok =
              if (isTsType(f.dataType) && items.lift(i).exists(dateBin3Args))
                "TIMESTAMP(9)"
              else sqlTypeTok(f.dataType)
            s""""$n" $tok"""
        }
        val ti = tsOut.getOrElse("__ts_placeholder")
        // TQL flow sinks carry no update_at (flow-tql/flow_tql_cte.result)
        val extras = (if (isTqlFlow) Nil else Seq(""""update_at" TIMESTAMP(3)""")) ++
          (if (tsOut.isEmpty) Seq(""""__ts_placeholder" TIMESTAMP(3)""") else Nil)
        // SELECT DISTINCT flows key the sink by the distinct columns
        val isDistinct = "(?is)^\\s*SELECT\\s+DISTINCT\\b".r.findFirstIn(query).isDefined
        val gbKeys =
          if (isDistinct)
            names.zip(qdf.schema.fields)
              .filterNot { case (n, f) => n == ti || isTsType(f.dataType) }.map(_._1)
          else inferGroupByKeys(query)
            .map(normIdent).filter(k => names.contains(k) && k != ti)
        val pk = if (gbKeys.nonEmpty)
          Seq(gbKeys.map(k => s""""$k"""").mkString("PRIMARY KEY (", ", ", ")"))
        else Nil
        // streaming-mode fallback (ttl'd source) labels the sink with the
        // flow id; batching mode uses the generic comment
        val comment =
          if (flowModeStreaming(query, srcTable0))
            s"Sink table for flow flow-id=${1024 + flows.size}" // streaming-mode fallback
          else "Auto created table by flow engine"
        createTable((s"""CREATE TABLE IF NOT EXISTS "$sinkName" (""" +
          (colDefs ++ extras ++ Seq(s"""TIME INDEX ("$ti")""") ++ pk).mkString(", ") +
          s") WITH ('comment' = '$comment')"))
      }
      val spec = catalog.spec(sinkName)
      // a PRE-CREATED sink maps flow outputs POSITIONALLY onto its
      // declared columns (flow_null: `time_window` lands in `ts`) —
      // except when all output names already exist in the sink (TQL
      // flows emit [value, sensor, ts] against a (value, ts, sensor)
      // sink: align by NAME, flow_tql_avg.result)
      val finalNames =
        if (preExisting) {
          val declared = metaOf(sinkName).colMeta.map(_.name)
          if (names.length > declared.length)
            throw new IllegalArgumentException(
              s"flow $name: ${names.length} outputs exceed sink $sinkName's " +
                s"${declared.length} columns")
          if (names.toSet.subsetOf(declared.toSet)) {
            // partial column coverage needs per-column merge on the sink:
            // without merge_mode=last_non_null the reference rejects the
            // plan at CREATE FLOW time (flow_last_non_null's 2nd section)
            // columns with a declared default (and the engine's own
            // update_at/placeholder) are fillable — only a defaultless
            // uncovered column demands per-column merge
            val defaulted = metaOf(sinkName).colMeta
              .filter(_.default.isDefined).map(_.name).toSet
            val missing = declared.toSet -- names.toSet -- defaulted -
              "update_at" - "__ts_placeholder"
            if (missing.nonEmpty && spec.mergeMode != MergeMode.LastNonNull)
              throw new IllegalArgumentException(
                "Failed to rewrite plan: flow output misses sink columns " +
                  missing.mkString(", "))
            names
          }
          else {
            // positional mapping must be type-sound: a numeric output
            // cannot land in a timestamp column (show_create_flow's
            // n1,n2 → (number, ts) replace errors in the reference)
            val declMeta = metaOf(sinkName).colMeta
            names.zip(qdf.schema.fields).zipWithIndex.foreach {
              case ((_, f), i) =>
                val declTs = declMeta.lift(i)
                  .exists(m => showCreateType(m.gtype).startsWith("TIMESTAMP"))
                if (declTs && !isTsType(f.dataType))
                  throw new IllegalArgumentException(
                    s"flow $name: output ${f.name} (${f.dataType.simpleString}) " +
                      s"cannot map onto timestamp column ${declMeta(i).name}")
            }
            declared.take(names.length).toSeq
          }
        } else names
      // SELECT DISTINCT flows upsert on the distinct columns — a later
      // eval over only-new rows must not replace earlier sink rows
      // (flow_advance_ttl: dis accumulates 20,22 then 23)
      val distinctKeys =
        if ("(?is)^\\s*SELECT\\s+DISTINCT\\b".r.findFirstIn(query).isDefined)
          names.zip(qdf.schema.fields)
            .filterNot { case (_, f) => isTsType(f.dataType) }.map(_._1)
        else Nil
      // a TQL flow upserts on the PromQL grouping labels + ts
      // (flow_tql_avg: avg by(sensor) keys the sink on sensor)
      val tqlByKeys =
        if (isTqlFlow)
          ("(?i)\\bby\\s*\\(([^)]*)\\)".r.findFirstMatchIn(query)
            .map(_.group(1).split(",").map(_.trim).toSeq).getOrElse(Nil) ++
            tqlShape.map(_._3).getOrElse(Nil))
            .distinct.filter(names.contains)
        else Nil
      val rawKeys = opts.get("keys").map(_.split(",").map(_.trim).toSeq)
        .getOrElse(((if (distinctKeys.nonEmpty) distinctKeys
          else if (tqlByKeys.nonEmpty) tqlByKeys
          else inferGroupByKeys(query).map(normIdent).filter(names.contains)) ++
          tsOut.toSeq).distinct)
      val upsertKeys = rawKeys.flatMap { k =>
        val i = names.indexOf(k)
        if (i >= 0 && i < finalNames.length) Some(finalNames(i)) else None
      }.distinct
      // in-session sinks are small catalog tables; the 100TB path is a
      // FlowDef with time-bucket partitionBy (see streaming/Flow.scala)
      val flowDef = FlowDef(name, spec.path, upsertKeys, identity,
        expireAfter = Option(expire), allowUnpartitioned = true)
      flows.put(name, (flowDef, query))
      // the flow only sees rows written AFTER its creation (flow_flush:
      // pre-existing rows stay invisible even after FLUSH_FLOW)
      val streaming = flowModeStreaming(query, srcTable0)
      val (createdMs, updatedMs) = flowStamp(name)
      flowIdOf(name)
      flowMeta.put(name,
        FlowMeta(sinkName, finalNames, placeholder = !preExisting && tsOut.isEmpty,
          srcTable = srcTable0, createSeq = seqCounter.get(), opts = opts,
          evalInterval = evalInterval, streaming = streaming,
          srcEpoch = srcTable0.map(t => tableEpoch.getOrElse(t, 0L)).getOrElse(0L),
          createdMs = createdMs, updatedMs = updatedMs))
      flowLastSeq.put(name, seqCounter.get())
      // the reference flow engine materializes nothing at creation time —
      // rows appear on FLUSH_FLOW / the eval interval (flow_flush.result)
      status(s"flow $name created")
    case _ => throw new IllegalArgumentException(s"cannot parse: $stmt")
  }

  /** Flow execution mode (flows.rs mode selection, pinned by
    * flow_advance_ttl + flow_no_aggr): an instant-ttl source or a
    * non-aggregating query falls back to streaming; aggregations run
    * as batching flows. */
  private[sql] def aggregatingQuery(query: String): Boolean = {
    val u = query.toUpperCase(Locale.ROOT)
    u.matches("(?s).*\\bGROUP\\s+BY\\b.*") ||
      u.matches("(?s).*\\bBY\\s*\\(.*") || // TQL `by(...)` grouping
      "(?is)^\\s*SELECT\\s+DISTINCT\\b".r.findFirstIn(query).isDefined ||
      ("(?i)\\b(sum|count|avg|min|max|first_value|last_value|array_agg|" +
        "approx_\\w+|hll|uddsketch_\\w+|stddev\\w*|var\\w*)\\s*\\(").r
        .findFirstIn(query).isDefined
  }

  private[sql] def flowModeStreaming(query: String, srcTable: Option[String]): Boolean = {
    val instantSrc = srcTable.exists(s =>
      catalog.tables.contains(s) && catalog.spec(s).ttlMillis.contains(0L))
    // TQL flows always run in the batching engine — a plain-selector TQL
    // is not a streaming append (flow-tql/flow_tql_cte's sink comment +
    // flush rows pin batching behavior)
    if (query.trim.toUpperCase(Locale.ROOT).startsWith("TQL")) instantSrc
    else instantSrc || !aggregatingQuery(query)
  }

  /** DataFusion divides integer aggregates integrally (sum(int)/count →
    * Int64) while Spark's `/` always yields DOUBLE; rewrite a top-level
    * `a/b` select item to `a div b` when both operands analyze to
    * integral types (flow_basic's avg_after_filter_num BIGINT sink). */
  private[sql] def rewriteFlowIntDiv(query: String): String = try {
    val m = "(?is)^(\\s*SELECT\\s+(?:DISTINCT\\s+)?)(.*?)(\\sFROM\\s.*)$".r
      .findFirstMatchIn(query).getOrElse(return query)
    val items = splitTop(m.group(2))
    val slash = items.map { it =>
      // top-level single '/' split (outside parens/quotes)
      var depth = 0; var pos = -1
      var i = 0
      while (i < it.length) {
        it.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case '\'' => i += 1 + it.substring(i + 1).indexOf('\'').max(0)
          case '/' if depth == 0 => pos = i
          case _ => ()
        }
        i += 1
      }
      (it, pos)
    }
    if (!slash.exists(_._2 > 0)) return query
    val rewritten = slash.map {
      case (it, -1) => it
      case (it, pos) =>
        val aliasRx = "(?is)^(.*?)(\\s+AS\\s+\\S+\\s*)$".r
        val (exprPart, alias) = it match {
          case aliasRx(e, a) => (e, a)
          case _ => (it, "")
        }
        val p2 = if (pos < exprPart.length) pos else -1
        if (p2 <= 0) it
        else {
          val (l, r) = (exprPart.substring(0, p2), exprPart.substring(p2 + 1))
          val probe = m.group(1) + items.mkString(", ") +
            s", ($l) AS __pl, ($r) AS __pr" + m.group(3)
          val sch = spark.sql(dialect(probe)).schema
          val integral = Set[DataType](LongType, IntegerType, ShortType, ByteType)
          if (integral(sch("__pl").dataType) && integral(sch("__pr").dataType))
            s"($l) div ($r)$alias"
          else it
        }
    }
    m.group(1) + rewritten.mkString(", ") + m.group(3)
  } catch { case _: Exception => query }

  /** Plain column identifiers in the final GROUP BY clause. */
  private[graft] def inferGroupByKeys(query: String): Seq[String] = {
    val gb = "(?is).*GROUP\\s+BY\\s+(.*?)(?:HAVING|ORDER\\s+BY|LIMIT|$).*".r
    query match {
      case gb(cols) =>
        splitTop(cols).filter(c => c.matches("[A-Za-z_][A-Za-z0-9_]*"))
      case _ => Nil
    }
  }

  // ---- TQL EVAL (§2.6) ------------------------------------------------

  /** Trailing `AS alias` on the PromQL body names the value column
    * (tql/tql-cte.sql, tql/basic.sql `{...} AS series`). */
  private[sql] val TqlValAliasRx = "(?is)^(.*?)\\s+AS\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$".r

  /** `TQL EVAL (args...) promql` with a PAREN-AWARE arg split — bounds
    * may be arbitrary expressions containing commas
    * (tql/basic.sql: `date_trunc('day', '...'::timestamp)`). */
  private[sql] def parseTqlHead(stmt: String): Option[(Seq[String], String)] = {
    val m = "(?is)^\\s*TQL\\s+EVAL\\s*\\(".r.findFirstMatchIn(stmt).getOrElse(
      return None)
    val open = m.end - 1
    var depth = 0; var i = open; var close = -1; var inStr = false
    while (i < stmt.length && close < 0) {
      val c = stmt.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) close = i
        case _ =>
      }
      i += 1
    }
    if (close < 0) return None
    val args = splitTop(stmt.substring(open + 1, close)).map(_.trim)
    if (args.length < 3 || args.length > 4) None
    else {
      // `TQL EVAL (s,e,step), expr` — the reference's grammar accepts an
      // optional comma before the query (tql/binary_operator.sql)
      Some((args, stmt.substring(close + 1).trim.stripPrefix(",").trim))
    }
  }

  /** Numeric field columns of a catalog table, declared order. */
  private[sql] def tqlFieldsOf(name: String): Seq[String] = {
    if (!catalog.tables.contains(name)) return Nil
    val spec = catalog.spec(name)
    scala.util.Try(spark.table(name)).toOption.map(_.schema.fields
      .filter(f => !spec.tags.contains(f.name) && f.name != spec.timeIndex &&
        (f.dataType == DoubleType || f.dataType == FloatType ||
          f.dataType == LongType || f.dataType == IntegerType))
      .map(_.name).toSeq).getOrElse(Nil)
  }

  /** GreptimeDB multi-field PromQL: a binary operator between selectors
    * whose tables carry SEVERAL field columns pairs the fields
    * POSITIONALLY — `data / data` on (val1,val2,val3) yields three value
    * columns `lhs.valN / rhs.valN` (tql/binary_operator.sql; the
    * reference plans this in promql/src/planner.rs via its field-column
    * matrix). Each pair evaluates as an ordinary single-field binary and
    * the results join back on (labels, ts). */
  private[sql] def tqlMultiField(promql: String, ep: EvalParams): Option[DataFrame] = {
    import PromParser._
    val ast = try PromParser.parse(promql) catch { case _: Throwable => return None }
    ast match {
      case Binary(op, l: Selector, r: Selector, boolMod, matching)
          if graft.promql.PromQL.ArithOps.contains(op) && !boolMod =>
        def fieldsOf(sel: Selector): Seq[String] = {
          val explicit = sel.matchers.filter(_.label == "__field__").map(_.value)
          if (explicit.nonEmpty) explicit else tqlFieldsOf(sel.name)
        }
        val lf = fieldsOf(l); val rf = fieldsOf(r)
        if ((lf.length < 2 && rf.length < 2) || lf.length != rf.length ||
          lf.isEmpty) return None
        val metrics = catalog.tables.map(t => t -> metricOf(t)).toMap
        val ev = new PromEval(spark, metrics, ep)
        def single(sel: Selector, f: String): Selector =
          sel.copy(matchers =
            sel.matchers.filterNot(_.label == "__field__") :+
              Matcher("__field__", "=", f))
        val parts = lf.zip(rf).map { case (a, b) =>
          ev.eval(Binary(op, single(l, a), single(r, b), boolMod, matching)) match {
            case Right(iv) => (s"lhs.$a $op rhs.$b", iv)
            case Left(_) => return None
          }
        }
        val labels = parts.head._2.labels
        val keys = labels :+ "__ts"
        val joined = parts.map { case (nm, iv) =>
          iv.df.select(keys.map(c => col(s"`$c`")) :+ col("__val").as(nm): _*)
        }.reduce((a, b) => a.join(b, keys, "inner"))
        Some(joined.select(
          (timestamp_millis(col("__ts")).as("ts") +:
            parts.map { case (nm, _) => col(s"`$nm`") }) ++
            labels.sorted.map(c => col(s"`$c`")): _*))
      case _ => None
    }
  }

  private[sql] def tqlEval(stmt: String): DataFrame = parseTqlHead(stmt) match {
    case Some((args, promql0)) =>
      val startMs = tqlTimeMs(args(0))
      val endMs = tqlTimeMs(args(1))
      // a bare number is SECONDS, fractions included
      // (promql/binary_time_fn.sql steps by 120, tql/basic.sql by 0.5)
      def durMs(s0: String): Long = {
        val s = s0.stripPrefix("'").stripSuffix("'")
        if (s.matches("\\d+(\\.\\d+)?")) (s.toDouble * 1000.0).toLong
        else PromParser.parseDuration(s)
      }
      val stepMs = durMs(args(2))
      val lookbackMs = args.lift(3).map(durMs).getOrElse(300000L)
      val (promql, valAlias) = promql0.trim match {
        case TqlValAliasRx(body, a)
            // `... offset 50s` and range selectors end in durations, not
            // aliases; only treat the tail as an alias after ')' or an
            // identifier that isn't itself the whole query
            if body.trim.endsWith(")") || body.trim.endsWith("]") ||
              body.trim.endsWith("}") =>
          (body.trim, Some(a))
        case p => (p, None)
      }
      tqlMultiField(promql, EvalParams(startMs, endMs, stepMs, lookbackMs))
        .foreach(df => return df)
      // a whole-body double-quoted string is a PromQL STRING literal:
      // its raw text repeats as the value at every step
      // (tql/literal_only.sql `"1+1"` → rows of the string "1+1")
      val StrLitRx = "(?s)^\"([^\"]*)\"$".r
      promql match {
        case StrLitRx(sv) =>
          val steps = math.max((endMs - startMs) / math.max(stepMs, 1L), 0L)
          return spark.range(0, steps + 1)
            .select(timestamp_millis(lit(startMs) + col("id") * lit(stepMs)).as("ts"),
              lit(sv).as("value"))
        case _ =>
      }
      val metrics = catalog.tables.map(t => t -> metricOf(t)).toMap
      val df = new PromEval(spark, metrics,
        EvalParams(startMs, endMs, stepMs, lookbackMs)).evalQuery(promql)
      tqlReshape(promql, df, valAlias)
    case None
        if "(?is)^\\s*TQL\\s+EVAL\\s+[A-Za-z_{]".r.findFirstIn(stmt).isDefined =>
      // range-less `TQL EVAL <expr>` evaluates over an empty range —
      // zero rows, zero columns (promql/timestamp_fn.result issue 6707)
      spark.emptyDataFrame
    case _ => throw new IllegalArgumentException(s"cannot parse: $stmt")
  }

  // ---- TQL EVAL inside CTEs (tql/tql-cte.sql) -------------------------

  private[sql] var tqlCteN = 0

  /** `WITH name [(cols)] AS (TQL EVAL ...)` — evaluate each TQL CTE
    * eagerly into a temp view, leaving a plain-SQL WITH for Spark. The
    * reference plans these inline (query/src/planner.rs); eager
    * evaluation is equivalent because a TQL result is bounded by its
    * (start, end, step) grid. */
  private[sql] def rewriteTqlCtes(stmt: String): String = {
    val HeadRx = ("(?is)([A-Za-z_][A-Za-z0-9_]*)\\s*" +
      "(\\(\\s*[A-Za-z_][A-Za-z0-9_]*(?:\\s*,\\s*[A-Za-z_][A-Za-z0-9_]*)*\\s*\\))?" +
      "\\s+AS\\s*\\(").r
    var s = stmt
    var changed = true
    while (changed) {
      changed = false
      for (m <- HeadRx.findAllMatchIn(s).toList if !changed) {
        val open = m.end - 1
        var depth = 0; var i = open; var inStr = false; var close = -1
        while (i < s.length && close < 0) {
          val c = s.charAt(i)
          if (inStr) { if (c == '\'') inStr = false }
          else c match {
            case '\'' => inStr = true
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) close = i
            case _ =>
          }
          i += 1
        }
        val body = if (close > 0) s.substring(open + 1, close).trim else ""
        // a RANGE-select CTE body (cte/cte.sql's `AVG(latency) RANGE
        // '2s' ... ALIGN '2s'`) evaluates eagerly the same way — its
        // result is bounded by the source's aligned grid
        val isRangeBody = close > 0 && {
          val up = body.toUpperCase(Locale.ROOT)
          up.startsWith("SELECT") && up.contains(" ALIGN ") &&
            "(?i)\\bRANGE\\s+'".r.findFirstIn(body).isDefined
        }
        if (isRangeBody) {
          var df = sql(body)
          Option(m.group(2)).foreach { lst =>
            val names = lst.trim.stripPrefix("(").stripSuffix(")")
              .split(",").map(_.trim).toIndexedSeq
            df = df.toDF(names: _*)
          }
          tqlCteN += 1
          val view = s"__tql_cte_$tqlCteN"
          df.createOrReplaceTempView(view)
          s = s.substring(0, m.start) +
            s"${m.group(1)} AS (SELECT * FROM $view)" + s.substring(close + 1)
          changed = true
        }
        else if (close > 0 && body.toUpperCase(Locale.ROOT).startsWith("TQL")) {
          var df = tqlEval(body)
          Option(m.group(2)).foreach { lst =>
            val names = lst.trim.stripPrefix("(").stripSuffix(")")
              .split(",").map(_.trim).toIndexedSeq
            // the alias list maps positionally onto the reference PLAN's
            // schema: for an aggregation that is Aggregate's output
            // [ts, by-labels, value] (tql-cte.result's EXPLAIN pins
            // `labels.ts AS ts, sum(labels.cpu) AS summary`) while our
            // rendered shape is [value, by-labels, ts] — reorder first
            val isAgg = parseTqlHead(body).map(_._2).exists { p =>
              try PromParser.parse(p.trim.replaceAll(
                "(?is)\\s+AS\\s+[A-Za-z_][A-Za-z0-9_]*\\s*$", ""))
                .isInstanceOf[PromParser.Agg]
              catch { case _: Throwable => false }
            }
            if (isAgg && df.columns.length >= 2) {
              val cs = df.columns
              df = df.select((cs.last +: cs.drop(1).dropRight(1).toSeq :+ cs.head)
                .map(col): _*)
            }
            df = df.toDF(names: _*)
          }
          tqlCteN += 1
          val view = s"__tql_cte_$tqlCteN"
          df.createOrReplaceTempView(view)
          s = s.substring(0, m.start) +
            s"${m.group(1)} AS (SELECT * FROM $view)" + s.substring(close + 1)
          changed = true
        }
      }
    }
    s
  }

  /** Reorder/retype TQL output to the reference planner's column shape
    * (pinned by the tql/promql sqlness corpus): ts is rendered as a
    * timestamp, and column order depends on the top-level expression —
    * bare selector → [value, (labels∪ts) by name]; aggregation →
    * [value, by-labels, ts]; range-fn / scalar / default →
    * [ts, value, labels]. */
  private[sql] def tqlReshape(promql: String, df: DataFrame,
      valAlias: Option[String] = None): DataFrame = {
    def lcol(n: String): org.apache.spark.sql.Column = col(s"`$n`")
    import PromParser._
    val labels = df.columns.filterNot(Set("__ts", "__val")).toSeq
    if (!df.columns.contains("__ts") || !df.columns.contains("__val")) return df
    val ts = timestamp_millis(col("__ts")).as("ts")
    val v = col("__val")
    val setOps = Set("and", "or", "unless")
    def isLit(e: Expr): Boolean = e match {
      case _: NumberLit | _: StringLit => true
      case Call("scalar", _) => true
      case _ => false
    }
    // shape mirrors the reference planner's projection for each plan
    // form (pinned by tql/ + promql/ sqlness goldens)
    def shapeOf(e: Expr): String = e match {
      case Selector(_, _, None, _, _) => "selector"
      case Selector(_, _, Some(_), _, _) => "range"
      case Agg(_, _, _, _, _) => "agg"
      case Call("scalar", _) => "scalar"
      case Call(fn, _) if fn == "label_join" || fn == "label_replace" => "label"
      case Call(_, _) => "range"
      case Binary(op, lhs, rhs, boolMod, _) =>
        val comparison = Set("==", "!=", ">", "<", ">=", "<=").contains(op)
        if (setOps.contains(op.toLowerCase(Locale.ROOT))) shapeOf(lhs)
        else if (isLit(lhs) && isLit(rhs)) "scalar"
        else if (comparison && !boolMod)
          // filter comparison keeps the child plan's projection
          shapeOf(if (isLit(lhs)) rhs else lhs)
        else if (isLit(lhs) || isLit(rhs)) {
          // arithmetic/bool with a literal: NumberLit keeps the child
          // shape; scalar()/time() re-projects to [labels, ts, value]
          val lit = if (isLit(lhs)) lhs else rhs
          lit match {
            case _: NumberLit | _: StringLit =>
              shapeOf(if (isLit(lhs)) rhs else lhs)
            case _ => "vecbinary"
          }
        } else "vecbinary"
      case Unary(inner) => shapeOf(inner)
      case Subquery(inner, _, _, _) => shapeOf(inner)
      case _ => "range"
    }
    def firstSel(x: Expr): Option[String] = x match {
      case Selector(n, _, _, _, _) => Some(n)
      case Binary(_, l, rr, _, _) => firstSel(l).orElse(firstSel(rr))
      case Call(_, as) => as.flatMap(firstSel(_).toSeq).headOption
      case Agg(_, _, _, _, b) => firstSel(b)
      case Subquery(inner, _, _, _) => firstSel(inner)
      case Unary(inner) => firstSel(inner)
      case _ => None
    }
    val ast = try Some(PromParser.parse(promql)) catch { case _: Throwable => None }
    val shape = ast.map(shapeOf).getOrElse("range")
    val table = ast.flatMap(firstSel).filter(catalog.tables.contains)
    val cols: Seq[org.apache.spark.sql.Column] = shape match {
      case "selector" =>
        table match {
          case Some(t) =>
            val spec = catalog.spec(t)
            val declared = declaredCols(t).map(_.map(_.name))
              .getOrElse(spark.table(t).columns.toVector)
              .filterNot(metaOf(t).droppedCols)
            def toCol(c: String): Option[org.apache.spark.sql.Column] =
              if (c == spec.timeIndex) Some(ts)
              else if (labels.contains(c)) Some(lcol(c))
              else if (!spec.tags.contains(c)) Some(v) // the value field
              else None
            // labels joined in by set ops (or-union pads the rhs-only
            // columns, e.g. `l`) aren't in the table's declared schema —
            // keep them at the end
            val extra = labels.filterNot(declared.contains).sorted.map(lcol)
            // non-ms time index is cast by the planner, which moves the
            // ts column to the end: [fields, tags, ts]
            (if (metaOf(t).tsLiteralUs != 1000L)
              (declared.filterNot(c => c == spec.timeIndex || spec.tags.contains(c))
                .flatMap(toCol) ++
                declared.filter(spec.tags.contains).flatMap(toCol)) :+ ts
            else declared.flatMap(toCol)) ++ extra
          case None => (v +: labels.sorted.map(lcol)) :+ ts
        }
      case "agg" => (v +: labels.map(lcol)) :+ ts
      case "scalar" => Seq(ts, v)
      case "vecbinary" => labels.sorted.map(lcol) ++ Seq(ts, v)
      case "label" =>
        // new/destination label first, then the original labels
        val dst = ast.flatMap {
          case Call(_, args) => args.collectFirst { case StringLit(s) => s }
          case _ => None
        }
        val rest = labels.filterNot(dst.contains).sorted
        Seq(ts, v) ++ (dst.filter(labels.contains).toSeq ++ rest).map(lcol)
      case _ => (ts +: Seq(v)) ++ labels.map(lcol)
    }
    val out = df.select(cols: _*)
    // name the value column like the reference planner: an explicit
    // `AS alias` wins, else the first selector's value-field name
    // (tql/tql-cte.sql relies on these names in the outer SELECT)
    valAlias.orElse(table.flatMap(valueFieldOf))
      .filterNot(out.columns.contains)
      .map(n => out.withColumnRenamed("__val", n)).getOrElse(out)
  }

  /** First numeric non-tag/non-time field of a table — the column the
    * PromQL planner treats as the metric value (mirrors [[metricOf]]). */
  private[sql] def valueFieldOf(name: String): Option[String] = {
    val spec = catalog.spec(name)
    catalog.read(name).schema.fields.find(f =>
      !spec.tags.contains(f.name) && f.name != spec.timeIndex &&
        (f.dataType == DoubleType || f.dataType == FloatType ||
          f.dataType == LongType || f.dataType == IntegerType)).map(_.name)
  }

  private[sql] def tqlTimeMs(s: String): Long = {
    // strip quotes only when they wrap the WHOLE token — an expression
    // like `'…'::timestamp + interval …` must stay intact (tql/basic.sql)
    val s1 = s.trim
    val t =
      if (s1.length >= 2 && s1.startsWith("'") && s1.endsWith("'") &&
          !s1.substring(1, s1.length - 1).contains("'"))
        s1.substring(1, s1.length - 1)
      else s1
    if (t.matches("\\d+")) t.toLong * 1000L // epoch seconds, like the reference
    else if (t.matches("\\d+\\.\\d+")) (t.toDouble * 1000.0).toLong // fractional s
    else if (t.matches("[0-9TZ:. +-]+")) java.time.Instant.parse(
      if (t.endsWith("Z")) t else t.replace(" ", "T") + "Z").toEpochMilli
    else {
      // expression bound, e.g. `now() - '1m'::interval`
      // (flow/flow_tql_avg.sql) — evaluate through the dialect layer;
      // truncated to whole seconds like the reference's grid timestamps.
      // An INTERVAL-typed bound (tql/basic.sql `now() - now()`) reads as
      // an offset from the epoch.
      val e = dialect(t)
      val ms =
        try spark.sql(s"SELECT unix_millis(CAST(($e) AS TIMESTAMP))")
          .head.getLong(0)
        catch {
          case _: Exception =>
            spark.sql(s"SELECT unix_millis(timestamp_millis(0) + ($e))")
              .head.getLong(0)
        }
      math.floorDiv(ms, 1000L) * 1000L
    }
  }

  /** Table → PromQL metric: tags are labels, first double/float field is
    * the value, time index normalized to epoch-ms. */
  private[sql] def metricOf(name: String): Metric = {
    val spec = catalog.spec(name)
    // the registered VIEW, not the raw storage: a logical metric table's
    // tag columns exist only in the view over its physical region
    // (promql/tsid_binary_join_regression.sql), and the view also
    // carries backfills/casts. Tables without any numeric field fall
    // back to the raw read, whose __seq column stands in as the value
    // (pinned by GraftSessionSpec's TQL-over-logs case).
    val df = scala.util.Try(spark.table(name)).toOption
      .filter(_.schema.fields.exists(f =>
        !spec.tags.contains(f.name) && f.name != spec.timeIndex &&
          (f.dataType == DoubleType || f.dataType == FloatType ||
            f.dataType == LongType || f.dataType == IntegerType)))
      .getOrElse(catalog.read(name))
    val tsType = df.schema(spec.timeIndex).dataType
    val tsMsCol = tsType match {
      case LongType => col(spec.timeIndex) // assume epoch-ms longs
      case _ => unix_millis(col(spec.timeIndex).cast("timestamp"))
    }
    val valueCol = df.schema.fields
      .find(f => !spec.tags.contains(f.name) && f.name != spec.timeIndex &&
        (f.dataType == DoubleType || f.dataType == FloatType ||
          f.dataType == LongType || f.dataType == IntegerType))
      .map(_.name)
      .getOrElse(throw new IllegalArgumentException(s"$name: no value field"))
    Metric(
      df.withColumn("__ms", tsMsCol)
        .withColumn("__value", col(s"`$valueCol`").cast("double")),
      "__ms", "__value", spec.tags)
  }

}
