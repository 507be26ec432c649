package graft.sql

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import graft.operators.RangeSelect
import graft.operators.RangeSelect.{Fill, RangeAgg}
import graft.promql.PromParser

/** SQL surface of the RANGE query (SURVEY.md §2.5) — the reference's
  * `RangePlanRewriter` (query/src/range_select/plan_rewrite.rs)
  * re-expressed as a two-phase rewrite:
  *
  *  1. every `<aggExpr> RANGE 'd' [FILL f]` annotation is lifted out of
  *     the SELECT list (arbitrary scalar nesting around it stays in the
  *     outer list, exactly like the reference's rewriter); each
  *     distinct range duration becomes one [[RangeSelect]] pass, joined
  *     on (ts, by) when durations differ
  *  2. the outer SELECT — with each annotated subexpression replaced by
  *     its generated alias — runs through `spark.sql` over the phase-1
  *     result, so scalar math / ORDER BY / LIMIT get Catalyst verbatim
  *
  * Grammar: `SELECT ... FROM t [WHERE c] ALIGN 'd' [TO 'origin'|TO ts]
  * [BY (cols)] [FILL f] [ORDER BY ... / LIMIT ...]`; FILL per expr
  * overrides the query-level default (plan_rewrite.rs semantics).
  */
object RangeSql {

  def looksLikeRange(sql: String): Boolean = {
    val u = sql.toUpperCase(Locale.ROOT)
    u.contains(" RANGE ") && u.contains(" ALIGN ")
  }

  private final case class Annotated(text: String, rangeMs: Long,
      fill: Option[Fill], alias: String)

  private def parseFill(tok: String): Fill = tok.toUpperCase(Locale.ROOT) match {
    case "NULL" => Fill.Null
    case "PREV" => Fill.Prev
    case "LINEAR" => Fill.Linear
    // integral consts stay integral so the filled column keeps its type
    case n if n.matches("-?\\d+") => Fill.Const(n.toLong)
    case n => Fill.Const(BigDecimal(n).toDouble)
  }

  private def splitTopComma(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]; var depth = 0; val cur = new StringBuilder
    s.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.result().trim; cur.clear()
      case c => cur += c
    }
    val last = cur.result().trim
    if (last.nonEmpty) out += last
    out.result()
  }

  /** Walk left from the RANGE keyword to the start of the annotated
    * operand: a parenthesized group or call, plus a leading identifier
    * (the function name). */
  private def operandStart(s: String, rangeKw: Int): Int = {
    var end = rangeKw
    while (true) {
      var i = end - 1
      while (i >= 0 && s.charAt(i).isWhitespace) i -= 1
      require(i >= 0 && s.charAt(i) == ')',
        s"RANGE must follow an aggregate call or (...) group: ${s.substring(0, rangeKw)}")
      var depth = 0
      var start = -1
      while (i >= 0 && start < 0) {
        s.charAt(i) match {
          case ')' => depth += 1
          case '(' =>
            depth -= 1
            if (depth == 0) {
              var j = i - 1
              while (j >= 0 && (s.charAt(j).isLetterOrDigit || s.charAt(j) == '_')) j -= 1
              start = j + 1
            }
          case _ =>
        }
        i -= 1
      }
      if (start < 0)
        throw new IllegalArgumentException(s"unbalanced parens before RANGE in: $s")
      // `f(p) WITHIN GROUP (ORDER BY x)`: the captured group is the
      // sorted-set suffix — keep walking back over the owning call
      // (range/calculate.sql's approx_percentile_cont)
      val prefix = s.substring(0, start)
      val within = "(?is)^(.*?)\\bWITHIN\\s+(?:GROUP\\s*)?$".r.findFirstMatchIn(prefix)
      if (within.isDefined) end = within.get.group(1).length
      else return start
    }
    -1 // unreachable
  }

  // ---- INTERVAL expressions in RANGE/ALIGN (range/interval.sql) -------

  /** `INTERVAL '1' day` / `'1 day'::INTERVAL` / sums / redundant casts →
    * milliseconds; None when the text isn't an interval expression. */
  private[sql] def intervalExprMs(text0: String): Option[Long] = {
    def strip(t0: String): String = {
      var t = t0.trim
      var changed = true
      while (changed) {
        changed = false
        val dropped = t.replaceAll("(?i)::\\s*INTERVAL", "").trim
        if (dropped != t) { t = dropped; changed = true }
        if (t.startsWith("(") && t.endsWith(")")) {
          // only strip when the parens match each other
          var d = 0; var ok = true
          t.zipWithIndex.foreach { case (c, i) =>
            if (c == '(') d += 1
            else if (c == ')') { d -= 1; if (d == 0 && i < t.length - 1) ok = false }
          }
          if (ok && d == 0) { t = t.substring(1, t.length - 1).trim; changed = true }
        }
      }
      t
    }
    def unitMs(u: String): Option[Long] = u.toLowerCase(Locale.ROOT) match {
      case "millisecond" | "milliseconds" | "ms" => Some(1L)
      case "second" | "seconds" | "s" => Some(1000L)
      case "minute" | "minutes" | "m" => Some(60000L)
      case "hour" | "hours" | "h" => Some(3600000L)
      case "day" | "days" | "d" => Some(86400000L)
      case "week" | "weeks" | "w" => Some(7L * 86400000L)
      case _ => None
    }
    def one(t0: String): Option[Long] = {
      val t = strip(t0)
      val lit = "(?i)^(?:INTERVAL\\s+)?'([^']+)'\\s*([A-Za-z]+)?$".r
      t match {
        case lit(body, unit0) =>
          Option(unit0) match {
            case Some(u) => unitMs(u).flatMap(ms =>
              body.trim.toLongOption.map(_ * ms))
            case None =>
              val hm = "^(\\d+)\\s*([A-Za-z]+)$".r
              body.trim match {
                case hm(n, u) => unitMs(u).map(n.toLong * _)
                case _ => None
              }
          }
        case _ => None
      }
    }
    // top-level '+'/'-' chain (range/to.sql subtracts intervals)
    val t = strip(text0)
    var depth = 0; var inStr = false; var sign = 1
    val parts = Seq.newBuilder[(Int, String)]; val cur = new StringBuilder
    t.foreach {
      case '\'' => inStr = !inStr; cur += '\''
      case '(' if !inStr => depth += 1; cur += '('
      case ')' if !inStr => depth -= 1; cur += ')'
      case '+' if !inStr && depth == 0 =>
        parts += ((sign, cur.result())); cur.clear(); sign = 1
      case '-' if !inStr && depth == 0 && cur.toString.trim.nonEmpty =>
        parts += ((sign, cur.result())); cur.clear(); sign = -1
      case c => cur += c
    }
    parts += ((sign, cur.result()))
    val ps = parts.result().map { case (sg, p) => one(p).map(_ * sg) }
    if (ps.exists(_.isEmpty)) None else Some(ps.flatten.sum)
  }

  /** Replace `RANGE (<interval expr>)` / `ALIGN (<interval expr>)` with
    * the quoted-duration spelling the main parser handles. */
  private def normalizeIntervalForms(stmt0: String): String = {
    var s = stmt0
    var changed = true
    while (changed) {
      changed = false
      val kw = "(?i)\\b(RANGE|ALIGN)\\s*\\(".r
      for (m <- kw.findAllMatchIn(s).toList if !changed) {
        val open = m.end - 1
        var d = 0; var i = open; var close = -1; var inStr = false
        while (i < s.length && close < 0) {
          val c = s.charAt(i)
          if (inStr) { if (c == '\'') inStr = false }
          else c match {
            case '\'' => inStr = true
            case '(' => d += 1
            case ')' => d -= 1; if (d == 0) close = i
            case _ =>
          }
          i += 1
        }
        if (close > 0) intervalExprMs(s.substring(open, close + 1)).foreach { ms =>
          s = s.substring(0, m.start) + s"${m.group(1)} '${ms}ms'" +
            s.substring(close + 1)
          changed = true
        }
      }
    }
    s
  }

  /** DataFusion within-aggregate ORDER BY on COMMUTATIVE aggregates
    * (range/nest.sql `min(val ORDER BY ts)`) — the order is irrelevant,
    * drop it. first/last_value keep their ORDER BY: Catalyst's
    * expression parser evaluates them with DataFusion's stable-sort tie
    * behavior (pinned by range/special_aggr.sql). */
  private def rewriteOrderedAggs(s: String): String =
    ("(?i)\\b(min|max|sum|count|avg)\\s*\\(" +
      "([^()]*?)\\s+ORDER\\s+BY\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s*(?:ASC|DESC)?\\s*\\)").r
      .replaceAllIn(s, m => scala.util.matching.Regex.quoteReplacement(
        s"${m.group(1)}(${m.group(2).trim})"))

  /** `first_value/last_value(x ORDER BY k [ASC|DESC] [NULLS ...][, ...])`
    * inside a RANGE bucket (range/special_aggr.sql): sort-struct
    * encoding over collect_list. Key directions fold into the encoded
    * sort value (numeric keys negate for DESC); null placement follows
    * the PG/DataFusion defaults (ASC→NULLS LAST, DESC→NULLS FIRST); the
    * time index rides as the trailing key, reproducing DataFusion's
    * stable-sort tie behavior (ties resolve in scan = ts order). */
  private def rewriteFirstLast(text: String, tsCol: String,
      schema: org.apache.spark.sql.types.StructType): String = {
    val rx = ("(?i)\\b(first_value|last_value)\\s*\\(\\s*" +
      "([A-Za-z_][A-Za-z0-9_.]*)\\s+ORDER\\s+BY\\s+([^()]+)\\)").r
    rx.replaceAllIn(text, m => {
      val fn = m.group(1).toLowerCase(Locale.ROOT)
      val valueCol = m.group(2)
      val specs = m.group(3).split(",").map(_.trim).filter(_.nonEmpty)
      val keyExprs = specs.zipWithIndex.flatMap { case (spec, i) =>
        val up = spec.toUpperCase(Locale.ROOT)
        val col = spec.split("\\s+")(0)
        val desc = "\\bDESC\\b".r.findFirstIn(up).isDefined
        val nullsFirst =
          if (up.contains("NULLS FIRST")) true
          else if (up.contains("NULLS LAST")) false
          else desc
        val nullFlag =
          if (nullsFirst) s"(CASE WHEN $col IS NULL THEN 0 ELSE 1 END)"
          else s"(CASE WHEN $col IS NULL THEN 1 ELSE 0 END)"
        // a string key can't be encoded as a negatable double — keep it
        // as a native struct field (array_sort orders strings
        // lexicographically); DESC on one has no encoding, reject
        val bare = col.split("\\.").last
        val isString = schema.fields.exists(f =>
          f.name.equalsIgnoreCase(bare) &&
            f.dataType == org.apache.spark.sql.types.StringType)
        val keyVal =
          if (isString) {
            require(!desc,
              s"first_value/last_value ORDER BY $col DESC: descending " +
                "order on a string key is not supported")
            s"coalesce($col, '')"
          }
          else if (desc) s"coalesce(-CAST($col AS DOUBLE), 0D)"
          else s"coalesce(CAST($col AS DOUBLE), 0D)"
        Seq(s"$nullFlag AS __n$i", s"$keyVal AS __k$i")
      }
      val pos = if (fn == "first_value") "1" else "-1"
      scala.util.matching.Regex.quoteReplacement(
        s"element_at(array_sort(collect_list(struct(${keyExprs.mkString(", ")}, " +
          s"$tsCol AS __t, $valueCol AS __v))), $pos).__v")
    })
  }

  /** DataFusion type names in CASTs (range/{calculate,by}.sql
    * `::INT64`, `as INT64`). */
  private def mapDfTypes(s: String): String = s
    .replaceAll("(?i)\\bINT64\\b", "BIGINT")
    .replaceAll("(?i)\\bINT32\\b", "INT")
    .replaceAll("(?i)\\bFLOAT64\\b", "DOUBLE")
    .replaceAll("(?i)\\bFLOAT32\\b", "FLOAT")

  /** Range-expression dialect shims the main SQL path's rewriter would
    * have applied: `covar` → covar_samp (DataFusion's covar is the
    * sample covariance) and `approx_percentile_cont(p) WITHIN GROUP
    * (ORDER BY x [DESC])` → the t-digest aggregate, rendered in the
    * ORDER BY column's own type (range/calculate.result: BIGINT input
    * truncates, all-null buckets stay NULL via FILTER). */
  private def rewriteRangeAggDialect(text: String,
      schema: org.apache.spark.sql.types.StructType): String = {
    var s = text.replaceAll("(?i)\\bcovar\\s*\\(", "covar_samp(")
    val rx = ("(?is)\\bapprox_percentile_cont\\s*\\(\\s*([0-9.]+)\\s*\\)\\s*" +
      "WITHIN\\s+GROUP\\s*\\(\\s*ORDER\\s+BY\\s+([A-Za-z_][A-Za-z0-9_.]*)" +
      "\\s*(ASC|DESC)?\\s*\\)").r
    s = rx.replaceAllIn(s, m => {
      val (p, x) = (m.group(1), m.group(2))
      val desc = Option(m.group(3)).exists(_.equalsIgnoreCase("DESC"))
      val q = if (desc) s"(1.0 - $p)" else p
      val integral = schema.fields.find(_.name.equalsIgnoreCase(x))
        .exists(_.dataType match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType => true
          case _ => false
        })
      val call = s"__approx_pct_td(CAST($x AS DOUBLE), CAST(1.0 AS DOUBLE), $q)" +
        s" FILTER (WHERE $x IS NOT NULL)"
      scala.util.matching.Regex.quoteReplacement(
        if (integral) s"CAST($call AS BIGINT)" else s"CAST($call AS DOUBLE)")
    })
    s
  }

  def execute(spark: SparkSession, sql: String,
      resolveTable: String => (DataFrame, String, Seq[String]),
      defaultOriginMs: Long = 0L): DataFrame = {
    var stmt = rewriteOrderedAggs(
      normalizeIntervalForms(sql.trim.stripSuffix(";")))

    // ---- nested sources (range/nest.sql) ------------------------------
    // `FROM ( subquery ) [AS alias]`: a range-subquery evaluates
    // recursively with the outer running as plain SQL over it; a plain
    // subquery becomes the range query's source view
    val fromParen = "(?is)\\bFROM\\s*\\(".r.findFirstMatchIn(stmt)
    fromParen.foreach { fm =>
      val open = fm.end - 1
      var d = 0; var i = open; var close = -1; var inStr = false
      while (i < stmt.length && close < 0) {
        val c = stmt.charAt(i)
        if (inStr) { if (c == '\'') inStr = false }
        else c match {
          case '\'' => inStr = true
          case '(' => d += 1
          case ')' => d -= 1; if (d == 0) close = i
          case _ =>
        }
        i += 1
      }
      require(close > 0, s"unbalanced FROM ( in: $stmt")
      val sub = stmt.substring(open + 1, close).trim
      val after0 = stmt.substring(close + 1)
      val keywords = Set("WHERE", "ALIGN", "ORDER", "GROUP", "LIMIT", "BY",
        "UNION", "HAVING", "FILL", "TO")
      val aliasM = "(?is)^\\s*(?:AS\\s+)?([A-Za-z_][A-Za-z0-9_]*)".r
        .findFirstMatchIn(after0)
        .filterNot(a => keywords.contains(a.group(1).toUpperCase(Locale.ROOT)))
      val after = aliasM.map(a => after0.substring(a.end)).getOrElse(after0)
      val view = s"__range_src_${System.nanoTime()}"
      if (looksLikeRange(sub)) {
        // inner range query; outer is plain SQL
        execute(spark, sub, resolveTable, defaultOriginMs)
          .createOrReplaceTempView(view)
        var outerSql = stmt.substring(0, fm.start) + s" FROM $view" + after
        aliasM.foreach(a =>
          outerSql = outerSql.replaceAll("\\b" + a.group(1) + "\\.", ""))
        return spark.sql(outerSql)
      } else {
        spark.sql(sub).createOrReplaceTempView(view)
        stmt = stmt.substring(0, fm.start) + s" FROM $view" + after
        aliasM.foreach(a =>
          stmt = stmt.replaceAll("\\b" + a.group(1) + "\\.", ""))
      }
    }

    // `TO (expr)` with arbitrary nesting: extract with a balanced scan
    // before the tail regex (range/to.sql's now()-(now()+1h))
    var toExprStored: Option[String] = None
    "(?i)\\bTO\\s*\\(".r.findFirstMatchIn(stmt).foreach { tm =>
      val open = tm.end - 1
      var d = 0; var i = open; var close = -1; var inStr = false
      while (i < stmt.length && close < 0) {
        val c = stmt.charAt(i)
        if (inStr) { if (c == '\'') inStr = false }
        else c match {
          case '\'' => inStr = true
          case '(' => d += 1
          case ')' => d -= 1; if (d == 0) close = i
          case _ =>
        }
        i += 1
      }
      if (close > 0) {
        toExprStored = Some(stmt.substring(open, close + 1))
        stmt = stmt.substring(0, tm.start) + "TO '__toexpr__'" +
          stmt.substring(close + 1)
      }
    }

    // `BY (items...)` with nested call parens (range/by.sql's
    // BY (length(host))): balanced-scan extraction before the tail
    // regex; items restore after the parse. Lookbehinds keep ORDER BY /
    // GROUP BY out of scope.
    var byStoredItems: Option[Seq[String]] = None
    "(?i)(?<!ORDER)(?<!GROUP)\\s+BY\\s*\\(".r.findFirstMatchIn(stmt).foreach { bm =>
      val open = bm.end - 1
      var d = 0; var i = open; var close = -1; var inStr = false
      while (i < stmt.length && close < 0) {
        val c = stmt.charAt(i)
        if (inStr) { if (c == '\'') inStr = false }
        else c match {
          case '\'' => inStr = true
          case '(' => d += 1
          case ')' => d -= 1; if (d == 0) close = i
          case _ =>
        }
        i += 1
      }
      val body = if (close > 0) stmt.substring(open + 1, close).trim else ""
      if (close > 0 && body.contains("(")) {
        val items = splitTopComma(body)
        byStoredItems = Some(items)
        stmt = stmt.substring(0, bm.start) + " BY (" +
          items.indices.map(i0 => s"__byx$i0").mkString(", ") + ")" +
          stmt.substring(close + 1)
      }
    }

    // ---- tail clauses: FROM / WHERE / ALIGN / TO / BY / FILL / ORDER --
    val tailRx =
      ("(?is)^(SELECT\\s+.*?)\\s+FROM\\s+([A-Za-z_][A-Za-z0-9_]*)" +
        "(?:\\s+WHERE\\s+(.*?))?" +
        "\\s+ALIGN\\s+'([^']+)'" +
        "(?:\\s+TO\\s+('[^']*'|\\([^()]*(?:\\([^()]*\\)[^()]*)*\\)|\\S+))?" +
        "(?:\\s+BY\\s+\\(([^)]*)\\))?" +
        "(?:\\s+FILL\\s+(\\w+))?" +
        "(\\s*ORDER\\s+BY\\s+.*|\\s*LIMIT\\s+.*)?$").r

    val m = tailRx.findFirstMatchIn(stmt).getOrElse(
      throw new IllegalArgumentException(s"cannot parse RANGE query: $stmt"))
    val selectPart = m.group(1)
    val table = m.group(2)
    val whereOpt = Option(m.group(3))
    val alignMs = PromParser.parseDuration(m.group(4))
    val toOpt = Option(m.group(5))
    val byOpt = Option(m.group(6))
    val defaultFill = Option(m.group(7)).map(parseFill)
    // leading space is not guaranteed by the tail regex: the corpus has
    // `ALIGN '5s'ORDER BY ...` (range/fill.sql:27) — re-add it
    val trailer = Option(m.group(8)).map(" " + _.trim).getOrElse("")

    // ---- lift RANGE annotations out of the select list ---------------
    val rangeRx = "(?i)\\bRANGE\\s+'([^']+)'(?:\\s+FILL\\s+(\\w+))?".r
    val annots = scala.collection.mutable.ListBuffer.empty[Annotated]
    var outer = selectPart
    var idx = 0
    var mm = rangeRx.findFirstMatchIn(outer)
    while (mm.isDefined) {
      val g = mm.get
      val start = operandStart(outer, g.start)
      val alias = s"__r$idx"
      // `count(distinct *)` counts distinct source ROWS — on the merged
      // time-series view every (pk, ts) row is unique, so it equals
      // count(*) (special_aggr.result pins 3 per 3-row bucket)
      val text = outer.substring(start, g.start).trim
        .replaceAll("(?i)count\\s*\\(\\s*distinct\\s+\\*\\s*\\)", "count(*)")
      annots += Annotated(text,
        PromParser.parseDuration(g.group(1)),
        Option(g.group(2)).map(parseFill), alias)
      outer = outer.substring(0, start) + alias + outer.substring(g.end)
      idx += 1
      mm = rangeRx.findFirstMatchIn(outer)
    }
    require(annots.nonEmpty, s"no RANGE expressions in: $stmt")

    // ---- phase 1: aggregate per distinct range duration ---------------
    val (df0, tsCol, tags) =
      try resolveTable(table)
      catch {
        case _: Exception =>
          // nested-subquery views aren't catalog tables: time index is
          // the first timestamp-typed column, grouping comes from BY
          val df = spark.table(table)
          val ts = df.schema.fields.find(f =>
            f.dataType == TimestampType || f.dataType == TimestampNTZType)
            .map(_.name).getOrElse("ts")
          (df, ts, Seq.empty[String])
      }
    val isTsType = df0.schema(tsCol).dataType == TimestampType ||
      df0.schema(tsCol).dataType == TimestampNTZType
    // WHERE runs against the source's own types, BEFORE the ts→ms
    // rewrite (range/nest.sql filters ts against a timestamp literal)
    var base = df0
    whereOpt.foreach(w => base = base.filter(expr(w)))
    if (isTsType)
      base = base.withColumn(tsCol, unix_millis(col(tsCol).cast("timestamp")))

    // BY items may be expressions (`BY (length(host))`, `BY (2)`); each
    // non-identifier item becomes a computed key column, and the outer
    // select text references it by the generated name
    val byItems = byOpt.map(splitTopComma).getOrElse(tags).map { it =>
      // restore balanced-scan-extracted BY expressions
      "__byx(\\d+)".r.findFirstMatchIn(it.trim)
        .flatMap(m => byStoredItems.map(_(m.group(1).toInt))).getOrElse(it)
    }
    val by = byItems.zipWithIndex.map { case (item0, i) =>
      val item = mapDfTypes(item0)
      if (item.matches("[A-Za-z_][A-Za-z0-9_]*")) item
      else {
        val alias = s"__by$i"
        base = base.withColumn(alias, expr(item))
        // the outer select still spells the original (pre-type-mapped)
        // text — rewrite both spellings to the computed key column
        for (spelling <- Seq(item, item0).distinct)
          outer = outer.replaceAll(
            "(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(spelling) + "(?![A-Za-z0-9_])",
            alias)
        alias
      }
    }
    val alignTo = toOpt.map { t =>
      val v = t.stripPrefix("'").stripSuffix("'")
      if (v.matches("-?\\d+")) v.toLong
      else if (v == "__toexpr__" || v.startsWith("(")) {
        val body = if (v == "__toexpr__") toExprStored.get else v
        // TO (expr): evaluate; a timestamp is the origin, an interval
        // offsets the epoch (range/to.sql's now()-(now()+1h) → 23:00
        // day buckets)
        spark.sql(s"SELECT $body").collect()(0).get(0) match {
          case d: java.time.Duration => d.toMillis
          case i: java.time.Instant => i.toEpochMilli
          case ts: java.sql.Timestamp => ts.getTime
          case l: java.time.LocalDateTime =>
            l.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
          case x: java.lang.Number => x.longValue()
          case other => throw new IllegalArgumentException(
            s"cannot use TO expression result: $other")
        }
      }
      else if ("[+-]\\d{2}:\\d{2}$".r.findFirstIn(v).isDefined)
        // explicit zone offset (range/to.sql TO '...+01:00')
        java.time.OffsetDateTime.parse(v.replace(' ', 'T')).toInstant.toEpochMilli
      else java.time.Instant.parse(if (v.endsWith("Z")) v else v + "Z").toEpochMilli
    }.getOrElse(defaultOriginMs)

    // Collect-buffering aggregates at a large fan-out route through the
    // per-series fold (RangeSelect.FoldAgg) instead of the slot explode:
    // `percentile WITHIN GROUP ... RANGE '1h' ALIGN '15s'` would
    // otherwise serialize every input row into 240 aggregation buffers
    // (the reference's RangeSelectStream, plan.rs:967, folds instead).
    val pctRx = ("(?is)^\\s*approx_percentile_cont\\s*\\(\\s*([0-9.]+)\\s*\\)" +
      "\\s*WITHIN\\s+GROUP\\s*\\(\\s*ORDER\\s+BY\\s+([A-Za-z_][A-Za-z0-9_]*)" +
      "\\s*(ASC|DESC)?\\s*\\)\\s*$").r
    // first/last over the TIME INDEX: the other collect-buffering RANGE
    // aggregate (element_at(array_sort(collect_list(...)))) with a
    // fold-expressible order; arbitrary sort keys stay on the explode
    val flRx = ("(?is)^\\s*(first_value|last_value)\\s*\\(\\s*" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s+ORDER\\s+BY\\s+([A-Za-z_][A-Za-z0-9_]*)" +
      "\\s*(ASC|DESC)?\\s*\\)\\s*$").r
    def numericBack(dt: org.apache.spark.sql.types.DataType)
        : Option[Any => Any] = {
      import org.apache.spark.sql.types._
      dt match {
        case DoubleType => Some(identity)
        case FloatType => Some(v => v.asInstanceOf[java.lang.Double].floatValue())
        case LongType => Some(v => v.asInstanceOf[java.lang.Double].longValue())
        case IntegerType => Some(v => v.asInstanceOf[java.lang.Double].intValue())
        case ShortType => Some(v => v.asInstanceOf[java.lang.Double].shortValue())
        case ByteType => Some(v => v.asInstanceOf[java.lang.Double].byteValue())
        case _ => scala.None // decimal/string keep the lossless explode
      }
    }
    def asFoldAgg(a: Annotated): Option[RangeSelect.FoldAgg] = {
      if ((a.rangeMs + alignMs - 1) / alignMs < RangeSelect.FoldFanoutMin)
        return scala.None
      val fill = a.fill.orElse(defaultFill).getOrElse(Fill.None)
      val pct = pctRx.findFirstMatchIn(a.text).flatMap { mm =>
        base.schema.fieldNames.find(_.equalsIgnoreCase(mm.group(2))).map { x =>
          val p = mm.group(1).toDouble
          val q = if (Option(mm.group(3)).exists(_.equalsIgnoreCase("DESC")))
            1.0 - p else p
          val integral = base.schema(x).dataType match {
            case org.apache.spark.sql.types.ByteType |
                 org.apache.spark.sql.types.ShortType |
                 org.apache.spark.sql.types.IntegerType |
                 org.apache.spark.sql.types.LongType => true
            case _ => false
          }
          val td = graft.operators.RangeFolds.percentileTDigest(q)
          val ev: graft.operators.RangeFolds.Eval =
            if (integral) s => td(s).map(_.asInstanceOf[Double].toLong) else td
          RangeSelect.FoldAgg(a.alias, x, ev, fill = fill,
            dataType = if (integral) org.apache.spark.sql.types.LongType
              else org.apache.spark.sql.types.DoubleType)
        }
      }
      pct.orElse(flRx.findFirstMatchIn(a.text).flatMap { mm =>
        val fn = mm.group(1).toLowerCase(Locale.ROOT)
        val desc = Option(mm.group(4)).exists(_.equalsIgnoreCase("DESC"))
        for {
          x <- base.schema.fieldNames.find(_.equalsIgnoreCase(mm.group(2)))
          _ <- Option.when(mm.group(3).equalsIgnoreCase(tsCol))(())
          back <- numericBack(base.schema(x).dataType)
        } yield {
          import graft.operators.RangeFolds
          val raw = (fn, desc) match {
            case ("first_value", false) => RangeFolds.firstValueByTime
            case ("last_value", false) => RangeFolds.lastValueByTime
            case ("first_value", true) => RangeFolds.firstValueByTimeDesc
            case _ => RangeFolds.lastValueByTimeDesc
          }
          val conv: RangeFolds.Eval =
            s => raw(s).map(v => if (v == null) null else back(v))
          RangeSelect.FoldAgg(a.alias, x, conv, fill = fill,
            dataType = base.schema(x).dataType)
        }
      })
    }

    val groups = annots.toList.groupBy(_.rangeMs)
    val parts = groups.map { case (rangeMs, as) =>
      val folded = as.map(a => a -> asFoldAgg(a))
      val explodeAggs = folded.collect { case (a, scala.None) =>
        RangeAgg(a.alias,
          _ => expr(rewriteRangeAggDialect(
            rewriteFirstLast(a.text, tsCol, base.schema), base.schema)),
          a.fill.orElse(defaultFill).getOrElse(Fill.None))
      }
      RangeSelect(base, tsCol, by, alignMs, rangeMs, explodeAggs, alignTo,
        foldAggs = folded.collect { case (_, Some(f)) => f })
    }.toList
    val joined = parts.reduce { (a, b) =>
      a.join(b, (tsCol +: by).toSeq, "full_outer")
    }

    // ---- phase 2: outer projection over the aggregated frame ----------
    val restored = if (isTsType)
      joined.withColumn(tsCol, timestamp_millis(col(tsCol)))
    else joined
    val view = s"__range_${System.nanoTime()}"
    restored.createOrReplaceTempView(view)
    spark.sql(s"${mapDfTypes(outer)} FROM $view$trailer")
  }
}
