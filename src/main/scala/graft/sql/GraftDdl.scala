package graft.sql

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.{Catalog, MergeMode, SemanticType, TableSpec}

/** DDL surface — CREATE/DROP/ALTER TABLE, views, column metadata and
  * session variables (reference: sql/src/statements/{create,alter}.rs,
  * operator/src/statement/ddl.rs). Mechanical extraction from
  * GraftSession (round-4 verdict #5); bodies unchanged — the sqlness
  * sweep is the no-change gate. */
private[sql] trait GraftDdl { self: GraftSession =>
  // ---- CREATE TABLE ---------------------------------------------------

  /** Internal ingestion-sequence column: stamped on INSERT, used by the
    * read view to order duplicate (pk, ts) writes, hidden from SQL. */
  private[sql] val SeqCol = "__seq"

  private[sql] val CreateTableHeadRx =
    ("(?is)CREATE\\s+TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?" +
      "((?:\"[^\"]+\"|`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)" +
      "(?:\\.(?:\"[^\"]+\"|`[^`]+`|[A-Za-z_][A-Za-z0-9_]*))?)\\s*\\(").r

  /** Schema-qualified names ("S"."T") live in an isolated namespace: the
    * composite key keeps them unreachable from bare-name lookups
    * (tql/case_sensitive.result: bare MemTotal must NOT resolve to
    * AnotherSchema.MemTotal). */
  private[sql] def normTable(raw0: String): String = {
    val raw = raw0.trim
    val qual = ("^(\"[^\"]+\"|`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)" +
      "\\.(\"[^\"]+\"|`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)$").r
    raw match {
      case qual(a, b) => normIdent(a) + "__schema__" + normIdent(b)
      case _ => normIdent(raw)
    }
  }

  /** Column index modifier → SHOW CREATE rendering with the reference's
    * default parameters merged in (create/create_with_{fulltext,
    * skipping_index}.result). */
  private[sql] def indexDeclOf(item: String): Option[String] = {
    def kindOpts(kind: String): Option[String] =
      s"(?is)\\b$kind\\s+INDEX(\\s+WITH\\s*\\(([^)]*)\\))?".r
        .findFirstMatchIn(item).map(m => Option(m.group(2)).getOrElse(""))
    def opts(w: String, defaults: Seq[(String, String)]): Seq[(String, String)] = {
      val declared = splitTop(w).flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k.trim.stripPrefix("'").stripSuffix("'")
          .toLowerCase(Locale.ROOT) -> v.trim.stripPrefix("'").stripSuffix("'"))
        case _ => None
      })
      (defaults.filterNot(d => declared.exists(_._1 == d._1)) ++ declared).sortBy(_._1)
    }
    def render(kind: String, w: String, defaults: Seq[(String, String)]): String =
      s"$kind INDEX WITH(" +
        opts(w, defaults).map { case (k, v) => s"$k = '$v'" }.mkString(", ") + ")"
    // a column may stack several index declarations; render in the
    // reference's order FULLTEXT, SKIPPING, INVERTED (show_create.result
    // test_column_constrain_composite_indexes)
    val parts = Seq.newBuilder[String]
    kindOpts("FULLTEXT").foreach { w =>
      // the bloom-tuning defaults are backend-specific: a tantivy
      // backend renders without them (change_col_fulltext_options.result)
      val tantivy = "(?i)backend\\s*=\\s*'?tantivy'?".r.findFirstIn(w).isDefined
      val defaults =
        if (tantivy) Seq("analyzer" -> "English", "case_sensitive" -> "false")
        else Seq("analyzer" -> "English", "backend" -> "bloom",
          "case_sensitive" -> "false", "false_positive_rate" -> "0.01",
          "granularity" -> "10240")
      parts += render("FULLTEXT", w, defaults)
    }
    kindOpts("SKIPPING").foreach(w =>
      parts += render("SKIPPING", w, Seq("false_positive_rate" -> "0.01",
        "granularity" -> "10240", "type" -> "BLOOM")))
    kindOpts("INVERTED").foreach(_ => parts += "INVERTED INDEX")
    val r = parts.result()
    if (r.isEmpty) None else Some(r.mkString(" "))
  }
  /** Quoted datetime default → `TIMESTAMP_MICROS(n)` under the CURRENT
    * session timezone; non-timestamp or non-literal defaults unchanged. */
  private[sql] def resolveTsDefault(gtype: String, d: String): String = {
    if (!gtype.startsWith("Timestamp")) return d
    val rx = ("^'([0-9]{4}-[0-9]{2}-[0-9]{2})[ T]" +
      "([0-9]{2}:[0-9]{2}(?::[0-9]{2})?(?:\\.[0-9]+)?)\\s*(Z|[+-][0-9:]+)?'$").r
    d.trim match {
      case rx(date, time0, off) =>
        try {
          val time = if (time0.count(_ == ':') == 1) time0 + ":00" else time0
          val zone = Option(off) match {
            case Some("Z") => java.time.ZoneId.of("UTC")
            case Some(o) => java.time.ZoneOffset.of(o)
            case None => java.time.ZoneId.of(
              spark.conf.get("spark.sql.session.timeZone", "UTC"))
          }
          val ldt = java.time.LocalDateTime.parse(s"${date}T$time")
          val inst = ldt.atZone(zone).toInstant
          s"TIMESTAMP_MICROS(${inst.getEpochSecond * 1000000L + inst.getNano / 1000L})"
        } catch { case _: Exception => d }
      case _ => d
    }
  }

  /** Reference type-name canonicalization (datatypes/src/data_type.rs
    * `ConcreteDataType` display names) from the declared SQL token. */
  private[sql] def greptimeTypeName(tok: String): String = {
    val u0 = tok.trim.toUpperCase(Locale.ROOT)
    // MySQL `INT UNSIGNED` two-token form → UInt* (show_create.result)
    if (u0.endsWith(" UNSIGNED"))
      return greptimeTypeName(u0.stripSuffix(" UNSIGNED")) match {
        case "Int8" => "UInt8"
        case "Int16" => "UInt16"
        case "Int32" => "UInt32"
        case "Int64" => "UInt64"
        case other => other
      }
    val u = u0
    val base = u.takeWhile(_ != '(').trim // `TIMESTAMP (9)` spaced form
    val args = if (u.contains('(')) u.dropWhile(_ != '(').stripPrefix("(").stripSuffix(")").trim else ""
    base match {
      // int2/int4/int8 are Postgres BYTE-width aliases
      // (create/create_type_alias.result: int8 -> BIGINT)
      case "TINYINT" => "Int8"
      case "SMALLINT" | "INT16" | "INT2" => "Int16"
      case "INT" | "INTEGER" | "INT32" | "INT4" => "Int32"
      case "BIGINT" | "INT64" | "INT8" => "Int64"
      case "UINT8" => "UInt8"
      case "UINT16" => "UInt16"
      case "UINT32" => "UInt32"
      case "UINT64" => "UInt64"
      case "FLOAT" | "FLOAT32" | "REAL" | "FLOAT4" => "Float32"
      case "DOUBLE" | "FLOAT64" | "FLOAT8" => "Float64"
      case "STRING" | "TEXT" | "VARCHAR" | "CHAR" |
           "TINYTEXT" | "MEDIUMTEXT" | "LONGTEXT" => "String"
      case "BOOLEAN" | "BOOL" => "Boolean"
      case "BINARY" | "BLOB" | "VARBINARY" | "BYTEA" => "Binary"
      case "DATE" => "Date"
      case "DATETIME" => "TimestampMicrosecond"
      case "TIMESTAMP" => args match {
        case "0" => "TimestampSecond"
        case "6" => "TimestampMicrosecond"
        case "9" => "TimestampNanosecond"
        case _ => "TimestampMillisecond"
      }
      case "TIMESTAMPSECOND" | "TIMESTAMP_S" | "TIMESTAMP_SEC" => "TimestampSecond"
      case "TIMESTAMPMILLISECOND" | "TIMESTAMP_MS" => "TimestampMillisecond"
      case "TIMESTAMPMICROSECOND" | "TIMESTAMP_US" => "TimestampMicrosecond"
      case "TIMESTAMPNANOSECOND" | "TIMESTAMP_NS" => "TimestampNanosecond"
      case "DECIMAL" | "NUMERIC" =>
        if (args.isEmpty) "Decimal(38, 10)"
        else {
          val p = args.split(",").map(_.trim)
          s"Decimal(${p(0)}, ${if (p.length > 1) p(1) else "0"})"
        }
      case "JSON" => "Json"
      // JSON2 is the shredded variant type — distinct semantics (per-SST
      // schema-union rendering, dot-path access; types/json/json2.sql)
      case "JSON2" => "Json2"
      case "VECTOR" => s"Vector($args)"
      case "INTERVAL" => "IntervalMonthDayNano"
      case other => other.toLowerCase(Locale.ROOT).capitalize
    }
  }

  private[sql] def unquote(ident: String): String = {
    val t = ident.trim
    // doubled quote chars inside a quoted identifier unescape to one
    // (keywords/escaped_quotes.sql: "COL""UMN" names column COL"UMN)
    if (t.startsWith("`")) t.stripPrefix("`").stripSuffix("`").replace("``", "`")
    else if (t.startsWith("\""))
      t.stripPrefix("\"").stripSuffix("\"").replace("\"\"", "\"")
    else t
  }

  /** DataFusion identifier normalization: UNQUOTED identifiers fold to
    * lowercase, quoted ones keep their case (create/upper_case_table_name
    * pins `AbCdEfGe` resolving as `abcdefge`). */
  private[sql] def normIdent(ident: String): String = {
    val t = ident.trim
    val n = if (t.startsWith("\"") || t.startsWith("`")) unquote(t)
      else t.toLowerCase(Locale.ROOT)
    // Spark temp-view names reject @/# (create/create.result's fuzzed
    // names) — map them to stable tokens
    n.replace("@", "__x40__").replace("#", "__x23__")
  }

  /** One column definition: name TYPE [NULL|NOT NULL] [DEFAULT expr]
    * [TIME INDEX] [PRIMARY KEY] [inverted/fulltext/skipping index
    * specs — performance hints, accepted and ignored] [COMMENT '...'].
    * (sql/src/statements/create.rs column grammar.) */
  private[sql] case class ColDef(name: String, typeTok: String, nullable: Boolean,
      default: Option[String], isTimeIndex: Boolean, isPrimaryKey: Boolean)

  private[sql] val DefaultRx =
    "(?is)\\bDEFAULT\\s+('[^']*'|[A-Za-z_][A-Za-z0-9_]*\\s*\\([^)]*\\)|-?[A-Za-z0-9_.+-]+)".r

  private[sql] def parseColumnDef(item0: String): ColDef = {
    val item = item0.trim
    val nameTok = item.takeWhile(!_.isWhitespace)
    val rest = item.drop(nameTok.length).trim
    val restUp = rest.toUpperCase(Locale.ROOT)
    val typeTok0 = {
      val ws0 = rest.takeWhile(!_.isWhitespace)
      // `TIMESTAMP (9)` — args may follow after a space
      // (types/timestamp/timestamp_precision.sql)
      val ws =
        if (!ws0.contains('(') &&
            rest.drop(ws0.length).dropWhile(_.isWhitespace).startsWith("("))
          rest.take(rest.indexOf('(', ws0.length) + 1) // unbalanced → extended below
        else ws0
      // a space inside the args must not cut the token
      // (`DECIMAL(3, 2)` in types/decimal/decimal_ops.sql)
      if (ws.count(_ == '(') != ws.count(_ == ')')) {
        var depth = 0; var i = 0; var stop = -1
        while (i < rest.length && stop < 0) {
          rest.charAt(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) stop = i
            case _ =>
          }
          i += 1
        }
        if (stop >= 0) rest.substring(0, stop + 1) else ws
      } else ws
    }
    // `INT UNSIGNED` style two-token types (show/show_create.result)
    val typeTok =
      if (restUp.drop(typeTok0.length).trim.startsWith("UNSIGNED"))
        typeTok0 + " UNSIGNED"
      else typeTok0
    // a JSON2 hint block carries NOT NULL / DEFAULT text INSIDE the
    // type parens — column options parse from the remainder only
    // (types/json/json2_type_hints.sql)
    val optSrc =
      if (typeTok.toUpperCase(Locale.ROOT).startsWith("JSON2") &&
          typeTok.contains('(')) rest.drop(typeTok.length)
      else rest
    val optUp = optSrc.toUpperCase(Locale.ROOT)
    ColDef(
      normIdent(nameTok),
      typeTok,
      nullable = !optUp.contains("NOT NULL"),
      default = DefaultRx.findFirstMatchIn(optSrc).map(_.group(1)),
      isTimeIndex = optUp.contains("TIME INDEX"),
      isPrimaryKey = optUp.contains("PRIMARY KEY"))
  }

  private[sql] def splitTop(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var inQuote = false // single-quoted SQL strings may contain , and ( )
    val cur = new StringBuilder
    s.foreach {
      case c if inQuote => cur += c; if (c == '\'') inQuote = false
      case '\'' => cur += '\''; inQuote = true
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.result().trim; cur.clear()
      case c => cur += c
    }
    val last = cur.result().trim
    if (last.nonEmpty) out += last
    out.result()
  }

  private[sql] def sparkType(t: String): DataType = {
    val u1 = t.trim.toUpperCase(Locale.ROOT)
    if (u1.endsWith(" UNSIGNED"))
      return sparkType("U" + u1.stripSuffix(" UNSIGNED") match {
        case "UTINYINT" => "UINT8"
        case "USMALLINT" | "UINT2" => "UINT16"
        case "UINT" | "UINTEGER" | "UINT4" => "UINT32"
        case "UBIGINT" | "UINT8" => "UINT64"
        case other => other.drop(1)
      })
    val u = u1
    val base = u.takeWhile(_ != '(').trim // `TIMESTAMP (9)` spaced form
    base match {
      case "STRING" | "TEXT" | "VARCHAR" | "CHAR" |
           "TINYTEXT" | "MEDIUMTEXT" | "LONGTEXT" => StringType
      case "BOOLEAN" | "BOOL" => BooleanType
      case "TINYINT" => ByteType
      case "INT16" | "SMALLINT" | "INT2" => ShortType
      case "INT32" | "INT" | "INTEGER" | "INT4" => IntegerType
      case "INT64" | "BIGINT" | "INT8" => LongType
      case "UINT8" | "UINT16" => IntegerType
      case "UINT32" => LongType
      // UInt64 → Decimal(20,0) per SURVEY §1.2 (full range, no overflow)
      case "UINT64" => DecimalType(20, 0)
      case "FLOAT32" | "FLOAT" | "REAL" | "FLOAT4" => FloatType
      case "FLOAT64" | "DOUBLE" | "FLOAT8" => DoubleType
      case "DECIMAL" | "NUMERIC" =>
        val args = u.dropWhile(_ != '(').stripPrefix("(").stripSuffix(")")
        if (args.isEmpty) DecimalType(38, 10)
        else {
          val parts = args.split(",").map(_.trim.toInt)
          DecimalType(parts(0), if (parts.length > 1) parts(1) else 0)
        }
      case "TIMESTAMP" | "DATETIME" | "TIMESTAMPSECOND" | "TIMESTAMPMILLISECOND" |
        "TIMESTAMPMICROSECOND" | "TIMESTAMPNANOSECOND" |
        "TIMESTAMP_S" | "TIMESTAMP_MS" | "TIMESTAMP_US" | "TIMESTAMP_NS" | "TIMESTAMP_SEC" =>
        TimestampType // precision folded to µs
      case "DATE" => DateType
      case "TIME" | "DURATION" => LongType
      case "INTERVAL" => DayTimeIntervalType()
      case "BINARY" | "BLOB" | "VARBINARY" | "BYTEA" => BinaryType
      case "JSON" | "JSON2" => StringType
      case "VECTOR" => ArrayType(FloatType, containsNull = false)
      case other => throw new IllegalArgumentException(s"unknown type: $other")
    }
  }

  private[sql] val CreateLikeRx =
    ("(?is)CREATE\\s+TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?" +
      "(\"[^\"]+\"|`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)\\s+LIKE\\s+" +
      "(\"[^\"]+\"|`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)\\s*").r

  private[sql] def createTable(stmt: String): DataFrame = {
    // CREATE TABLE x LIKE y: clone y's declared schema (create/create.sql)
    CreateLikeRx.findFirstMatchIn(stmt).filter(_.matched.trim == stmt.trim).foreach { m =>
      val target = m.group(1)
      val src = normTable(m.group(2))
      val spec = catalog.spec(src)
      val metas = metaOf(src).colMeta
      val colsSql = metas.map { cm =>
        s""""${cm.name}" ${showCreateType(cm.gtype)}""" +
          (if (!cm.nullable) " NOT NULL" else "") +
          cm.default.map(" DEFAULT " + _).getOrElse("") +
          (if (cm.name == spec.timeIndex) " TIME INDEX" else "")
      } ++ (if (spec.tags.nonEmpty)
        Seq(spec.tags.map(t => s""""$t"""").mkString("PRIMARY KEY (", ", ", ")"))
      else Nil)
      return createTable(s"CREATE TABLE $target (${colsSql.mkString(", ")})")
    }
    val head = CreateTableHeadRx.findFirstMatchIn(stmt).getOrElse(
      throw new IllegalArgumentException(s"cannot parse: $stmt"))
    val name = normTable(head.group(1))
    if (catalog.tables.contains(name)) {
      if ("(?is)CREATE\\s+TABLE\\s+IF\\s+NOT\\s+EXISTS.*".r.matches(stmt))
        return status(s"table $name exists")
      throw new IllegalArgumentException(s"table $name already exists")
    }
    // balanced-paren scan: regex greediness would swallow the WITH clause
    val open = head.end - 1
    var depth = 0; var i = open; var close = -1
    while (i < stmt.length && close < 0) {
      stmt.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) close = i
        case _ =>
      }
      i += 1
    }
    require(close > 0, s"unbalanced parens: $stmt")
    val colsPart = stmt.substring(open + 1, close)
    val withPart = {
      val tail = stmt.substring(close + 1)
      val rx = "(?is).*WITH\\s*\\((.*)\\).*".r
      tail match { case rx(w) => w; case _ => null }
    }

    {
      var timeIndex: Option[String] = None
      var tiCount = 0
      var tags = Vector.empty[String]
      var hintsByCol = Map.empty[String, Vector[J2Hint]]
      var tsUs = TableMeta.Empty.tsLiteralUs
      val fields = Vector.newBuilder[StructField]

      val metas = Vector.newBuilder[ColMeta]
      splitTop(colsPart).foreach { item =>
        val u = item.toUpperCase(Locale.ROOT)
        if (u.startsWith("PRIMARY KEY")) {
          tags ++= item.substring(item.indexOf('(') + 1, item.lastIndexOf(')'))
            .split(",").map(c => normIdent(c)).filter(_.nonEmpty)
        } else if (u.startsWith("TIME INDEX")) {
          // the reference rejects multi-column and duplicate TIME INDEX
          // constraints (create/create.result)
          val cols = item.substring(item.indexOf('(') + 1, item.lastIndexOf(')'))
            .split(",").map(c => normIdent(c.trim)).filter(_.nonEmpty)
          if (cols.length != 1) throw new IllegalArgumentException(
            "Invalid time index: it should contain only one column in time index")
          tiCount += 1
          if (!timeIndex.contains(cols.head)) timeIndex = Some(cols.head)
        } else {
          val cd = parseColumnDef(item)
          if (cd.isTimeIndex) {
            val gt = greptimeTypeName(cd.typeTok)
            if (!gt.startsWith("Timestamp")) throw new IllegalArgumentException(
              s"Invalid column option, column name: ${cd.name}, " +
                "error: time index column data type should be timestamp")
            val explicitNull = u.matches("(?s).*\\bNULL\\b.*") && !u.contains("NOT NULL")
            if (explicitNull) throw new IllegalArgumentException(
              s"Invalid column option, column name: ${cd.name}, " +
                "error: time index column can't be null")
            timeIndex = Some(cd.name)
            tiCount += 1
          }
          if (cd.isPrimaryKey) tags :+= cd.name
          val gtype = greptimeTypeName(cd.typeTok)
          if (cd.isTimeIndex || timeIndex.contains(cd.name))
            tsUs = gtype match {
              case "TimestampSecond" => 1000000L
              case "TimestampMicrosecond" => 1L
              case "TimestampNanosecond" => -1L
              case _ => 1000L
            }
          if (gtype == "Json2" && cd.typeTok.contains('(')) {
            val hs = parseJ2Hints(cd.typeTok)
            if (hs.nonEmpty) hintsByCol += cd.name -> hs
          }
          val sqlTok =
            if (cd.typeTok.toUpperCase(Locale.ROOT) == "VARBINARY") Some("VARBINARY")
            else None
          metas += ColMeta(cd.name, gtype, cd.nullable, cd.default,
            sqlType = sqlTok, indexDecl = indexDeclOf(item),
            comment = "(?is)\\bCOMMENT\\s+'((?:[^']|'')*)'".r
              .findFirstMatchIn(item).map(_.group(1)))
          fields += StructField(cd.name, sparkType(cd.typeTok), cd.nullable)
          // TimestampNanosecond columns carry a hidden sub-µs remainder
          // (0-999) beside the µs-storage column: Spark timestamps stop
          // at µs, the reference's ns unit doesn't
          // (types/timestamp/ts_precision_comparison.sql)
          if (gtype == "TimestampNanosecond")
            fields += StructField(s"__nsr_${cd.name}", IntegerType, nullable = true)
        }
      }
      if (tiCount > 1) throw new IllegalArgumentException(
        s"Invalid time index: expected only one time index constraint but actual $tiCount")
      var metasV = metas.result()
      // duplicate column defs error before anything registers
      // (create_metric_table.result pins the index-pair message shape)
      metasV.map(_.name).zipWithIndex.groupBy(_._1).find(_._2.size > 1).foreach {
        case (dup, idxs) => throw new IllegalArgumentException(
          s"Invalid SQL, error: column name `$dup` is duplicated at index " +
            s"${idxs.head._2} and ${idxs(1)._2}")
      }

      def unq(s: String): String = {
        val t = s.trim
        if (t.length >= 2 && (t.head == '\'' || t.head == '"') && t.last == t.head)
          t.substring(1, t.length - 1)
        else t
      }
      val optSeq: Seq[(String, String)] = Option(withPart).map { w =>
        splitTop(w).flatMap { kv =>
          kv.split("=", 2) match {
            case Array(k, v) =>
              Some(unq(k).toLowerCase(Locale.ROOT) -> unq(v))
            case _ => None
          }
        }
      }.getOrElse(Nil)
      // SHOW CREATE echoes the original key quoting: WITH(COMMENT='x')
      // renders bare, WITH('comment'='x') quoted (create/create.result
      // vs the flow sink comment)
      val quoted = Option(withPart).toSeq.flatMap(w =>
        splitTop(w).flatMap(_.split("=", 2) match {
          case Array(k, _) if k.trim.startsWith("'") =>
            Some(unq(k).toLowerCase(Locale.ROOT))
          case _ => None
        })).toSet
      // database options inherit into the table at create time — except
      // ttl (resolved dynamically so ALTER DATABASE SET ttl keeps
      // affecting existing tables) and compaction.* (db-level only,
      // create/create_database_opts.result)
      val inheritable = dbOpts.getOrElse(currentDb, Nil)
        .filterNot { case (k, _) => k.startsWith("compaction.") || k == "ttl" }
        .filterNot { case (k, _) => optSeq.exists(_._1 == k) }
      val opts: Map[String, String] = (optSeq ++ inheritable).toMap

      // ---- engine + PARTITION ON clause (metric engine, §SURVEY 2.1) --
      val tail = stmt.substring(close + 1)
      val engine = "(?i)\\bENGINE\\s*=\\s*([A-Za-z_]+)".r
        .findFirstMatchIn(tail).map(_.group(1).toLowerCase(Locale.ROOT))
        .getOrElse("mito")
      val partRx = "(?is)PARTITION\\s+ON\\s+COLUMNS\\s*\\(([^)]*)\\)\\s*\\(".r
      val partClause: Option[(Seq[String], Seq[String])] =
        partRx.findFirstMatchIn(tail).map { pm =>
          var d = 1; var j = pm.end
          while (j < tail.length && d > 0) {
            tail.charAt(j) match {
              case '(' => d += 1
              case ')' => d -= 1
              case _ => ()
            }
            j += 1
          }
          val cols = pm.group(1).split(",").map(c => unquote(c.trim)).toSeq
            .filter(_.nonEmpty)
          val rules = splitTop(tail.substring(pm.end, j - 1)).map(
            _.trim.replaceAll("\\s+", " ")
              .replaceAll("[`\"]", "") // identifiers render unquoted
              .replaceAll("(?i)\\band\\b", "AND").replaceAll("(?i)\\bor\\b", "OR"))
            .filter(_.nonEmpty)
          (cols, rules)
        }
      val isMetricPhy = engine == "metric" && opts.contains("physical_metric_table")
      val isMetricLogical = engine == "metric" && opts.contains("on_physical_table")
      if (isMetricPhy) {
        // index.* options validate eagerly (create_metric_table.result)
        opts.get("index.type").foreach { t =>
          if (!Set("skipping", "inverted", "none").contains(t))
            throw new IllegalArgumentException(
              s"Failed to parse region options: Invalid index type: $t")
        }
      }
      var inheritTtl: Option[Long] = None
      var inheritMerge: Option[MergeMode] = None
      if (isMetricLogical) {
        val phyName = normTable(opts("on_physical_table"))
        val phy = metricPhy.getOrElse(phyName, throw new IllegalArgumentException(
          s"physical table $phyName not found"))
        val phyMetas = metaOf(phyName).colMeta
        val phySpec = catalog.spec(phyName)
        val myTags = tags.distinct.toSet
        // logical partition rule must equal the physical one verbatim
        partClause.foreach { case (_, rules) =>
          val phyRules = metaOf(phyName).partitionClause.map(_._2).getOrElse(Nil)
          if (rules.nonEmpty && rules != phyRules)
            throw new IllegalArgumentException(
              "Invalid partition rule: logical table partition rule must " +
                "match the corresponding physical table's")
        }
        // validate each column against the physical schema
        metasV.foreach { m =>
          val isTag = myTags.contains(m.name)
          val isTs = timeIndex.contains(m.name)
          if (isTs) {
            val phyTs = phyMetas.find(_.name == phySpec.timeIndex)
            if (phyTs.exists(_.gtype != m.gtype))
              throw new IllegalArgumentException(
                s"Unexpected request: Metric has differenttime unit than the physical region")
          } else if (isTag) {
            if (m.gtype != "String")
              throw new IllegalArgumentException(
                "Column type mismatch. Expect String(StringType { size_type: Utf8 }), " +
                  s"got ${m.gtype}(${m.gtype}Type)")
          } else {
            phyMetas.find(_.name == m.name) match {
              case None => throw new IllegalArgumentException(
                s"Adding field column ${m.name} to physical table")
              case Some(pm) if pm.gtype != m.gtype =>
                throw new IllegalArgumentException(
                  s"Column type mismatch. Expect ${pm.gtype}(${pm.gtype}Type), " +
                    s"got ${m.gtype}(${m.gtype}Type)")
              case _ => ()
            }
          }
        }
        // inherit the physical table's partition columns as extra tags
        val phyPartCols = metaOf(phyName).partitionClause.map(_._1).getOrElse(Nil)
        phyPartCols.filterNot(c => metasV.exists(_.name == c)).foreach { c =>
          metasV :+= ColMeta(c, "String", nullable = true, None)
          tags :+= c
        }
        // logical tables expose columns alphabetically (DESC t1 pins
        // host, ts, val; SELECT * and positional INSERT follow)
        metasV = metasV.sortBy(_.name)
        tags = tags.distinct.sortBy(identity)
        // add new tags to the physical table schema
        val phyAdd = tags.filterNot(t => phyMetas.exists(_.name == t))
        if (phyAdd.nonEmpty) {
          val phyOpts = metaOf(phyName).tableOpts.toMap
          val decor = phyOpts.get("index.type") match {
            case Some("skipping") =>
              val fpr = phyOpts.getOrElse("index.false_positive_rate", "0.01")
              val gran = phyOpts.getOrElse("index.granularity", "10240")
              Some(s"SKIPPING INDEX WITH(false_positive_rate = '$fpr', " +
                s"granularity = '$gran', type = 'BLOOM')")
            case _ => None
          }
          editMeta(phyName)(m => m.copy(colMeta = m.colMeta ++
            phyAdd.map(t => ColMeta(t, "String", nullable = true, None,
              indexDecl = decor))))
          catalog.register(phySpec.copy(tags = (phySpec.tags ++ phyAdd).distinct))
          phy.addedTags ++= phyAdd
        }
        phy.everLogical = true
        phy.addChild(name)
        logicalParent.put(name, phyName)
        inheritTtl = catalog.spec(phyName).ttlMillis
        // logical tables share the physical region's storage semantics
        // (create_metric_table.result: append-mode phy → duplicate rows
        // survive in t1)
        inheritMerge = Some(catalog.spec(phyName).mergeMode)
      }
      if (isMetricPhy)
        metricPhy.put(name, new PhyState())

      // a table with its own compaction.* options is marked as
      // overriding the database's (create_database_opts.result)
      val withOverride =
        if (optSeq.exists(_._1.startsWith("compaction.")) &&
          !optSeq.exists(_._1 == "compaction.override"))
          optSeq :+ ("compaction.override" -> "true")
        else optSeq

      val ti = timeIndex.getOrElse(
        throw new IllegalArgumentException(s"table $name: TIME INDEX is mandatory"))
      // tags are dropped from primary key if they equal the time index
      val mergeMode =
        if (opts.get("append_mode").exists(_.toLowerCase == "true")) MergeMode.Append
        else opts.get("merge_mode").map(MergeMode.parse)
          .orElse(inheritMerge).getOrElse(MergeMode.LastRow)
      // table ttl, else inherited from the database (table/src/requests.rs
      // database-level TTL); 'instant' drops every historical row
      val ttlOpt = opts.get("ttl")
        .orElse(dbOpts.getOrElse(currentDb, Nil).toMap.get("ttl"))
      val ttl = ttlOpt.flatMap {
        case "instant" => Some(0L)
        case "forever" | "" => None
        case v => Some(parseTtlMs(v))
      }.orElse(inheritTtl)
      val path = opts.getOrElse("path", s"$warehouse/${currentDb}__$name")

      tableMeta.put(name, TableMeta(colMeta = metasV, tsLiteralUs = tsUs,
        j2Hints = hintsByCol, tableOpts = withOverride ++ inheritable,
        quotedOptNames = quoted, tableEngine = engine, partitionClause = partClause))
      val declaredFields = fields.result()
      val orderedFields = metasV.flatMap { m =>
        val f = declaredFields.find(_.name == m.name).getOrElse(
          StructField(m.name, sparkType(showCreateType(m.gtype)), m.nullable))
        // ns columns carry their hidden sub-µs remainder companion
        if (m.gtype == "TimestampNanosecond")
          Seq(f, StructField(s"__nsr_${m.name}", IntegerType, nullable = true))
        else Seq(f)
      }
      val schema = StructType(orderedFields :+ StructField(SeqCol, LongType))
      val spec = TableSpec(name, path, ti, tags.distinct, mergeMode, ttl,
        seqColumn = Some(opts.getOrElse("seq_column", SeqCol)))
      catalog.register(spec)
      // materialize an empty table so the view exists immediately
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        spec.annotate(schema)).write.mode("ignore").parquet(path)
      refreshView(name)
      procedureLog += (("metasrv-procedure::CreateTable",
        s"greptime/$currentDb/table/$name"))
      status(s"table $name created")
    }
  }

  /** Read view with the internal sequence column and any ALTER-dropped
    * columns hidden; ADD COLUMN DEFAULT backfills and MODIFY COLUMN
    * casts applied; columns in declared (FIRST/AFTER-adjusted) order. */
  /** A metric physical table scans as the union of its logical children
    * with the reserved __table_id/__tsid tags computed per row
    * (insert/logical_metric_table.result pins the fxhash tsid values). */
  /** One logical child's rows in the physical view's column shape. */
  private[sql] def phyShapedRows(phyName: String, child: String,
      tableId: Long): DataFrame = {
    val ps = metricPhy(phyName)
    val metas = metaOf(phyName).colMeta
    val declared = metas.filterNot(m => ps.addedTags.contains(m.name))
    val added = metas.filter(m => ps.addedTags.contains(m.name))
    val cdf = spark.table(child)
    val cTags = catalog.spec(child).tags.sorted
    def colOr(n: String): org.apache.spark.sql.Column =
      if (cdf.columns.contains(n)) col(s"`$n`") else lit(null).cast("string")
    val cols: Seq[org.apache.spark.sql.Column] =
      declared.map(m => colOr(m.name).as(m.name)) ++
        Seq(lit(tableId).cast("long").as("__table_id"),
          call_udf("__graft_tsid",
            array(cTags.map(lit): _*),
            array(cTags.map(t => col(s"`$t`").cast("string")): _*)).as("__tsid")) ++
        added.map(m => colOr(m.name).as(m.name))
    cdf.select(cols: _*)
  }

  private[sql] def refreshMetricPhyView(phyName: String): Unit = {
    val ps = metricPhy.getOrElse(phyName, return)
    if (!ps.everLogical) return
    val kids = ps.children.filter(catalog.tables.contains)
    val parts = kids.map(c => phyShapedRows(phyName, c, ps.childIds(c)))
    // rows RETAINED from dropped logical tables: the physical region
    // owns the data, a logical DROP only removes the route to it
    // (insert/logical_metric_table.result keeps all 4 rows after both
    // drops) — dropOneTable materializes them into the phy's own dir
    val ownRows: Option[DataFrame] = scala.util.Try(catalog.spec(phyName))
        .toOption.flatMap { spec =>
      val p = new org.apache.hadoop.fs.Path(spec.path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p) && fs.listStatus(p).nonEmpty)
        Some(graft.model.Catalog.rawRead(spark, spec.path))
      else None
    }
    (parts ++ ownRows)
      .reduceOption(_.unionByName(_, allowMissingColumns = true)).foreach(
        _.createOrReplaceTempView(phyName))
  }

  private[sql] def refreshView(name: String, seqFloor: Option[Long] = None,
      rowFilter: Option[Column] = None): Unit = {
    if (metricPhy.get(name).exists(_.everLogical) && seqFloor.isEmpty &&
        rowFilter.isEmpty) {
      refreshMetricPhyView(name)
      return
    }
    // a seqFloor/rowFilter means a flow is evaluating: instant-ttl rows
    // (never visible to plain scans) ARE visible to the flow engine
    val spec0 = catalog.spec(name)
    var df =
      if ((seqFloor.isDefined || rowFilter.isDefined) &&
          spec0.ttlMillis.contains(0L))
        Catalog.readView(catalog.raw(name), spec0.copy(ttlMillis = None))
      else catalog.read(name)
    seqFloor.foreach(s => df = df.filter(col(SeqCol) > s))
    rowFilter.foreach(f => df = df.filter(f))
    val meta = metaOf(name)
    // rows predating an ALTER ... DEFAULT read the default
    meta.backfills.foreach { case (c, d, seqAt) =>
      if (df.columns.contains(c))
        df = df.withColumn(c,
          when(col(s"`$c`").isNull && col(SeqCol) < seqAt, expr(dialect(d)))
            .otherwise(col(s"`$c`")))
    }
    // type-changed columns: each row casts its write-time type to the
    // current one, selected by write sequence (alter_table.result); the
    // casts are LOSSY like the reference's: a value the narrower type
    // can't hold reads as NULL, never an ANSI error (change_col_type.sql's
    // 'greptime' back to INTEGER)
    meta.typeHistory.foreach { case (c, hist) =>
      if (df.columns.contains(c)) {
        val curG = meta.colMeta
          .find(_.name == c).map(_.gtype).getOrElse("String")
        val cur = showCreateType(curG)
        def chain(from: String): org.apache.spark.sql.Column =
          expr(s"try_cast(try_cast(`$c` AS ${showCreateType(from)}) AS $cur)")
        val base: org.apache.spark.sql.Column = chain(curG) // rows written under the current type
        val cased = hist.foldRight(base) { case ((w, t), acc) =>
          when(col(SeqCol) <= w, chain(t)).otherwise(acc)
        }
        df = df.withColumn(c, cased)
      }
    }
    // JSON2 columns render against their flush batch's deep-union shape
    // (shredded "flat" SST semantics — types/json/json2.sql). Schema
    // derivation collects the column's documents; bounded per refresh
    // and gated to JSON2 tables, this is golden-dialect introspection,
    // not the scale path.
    val j2cols = meta.colMeta
      .filter(_.gtype == "Json2").map(_.name)
    for (c <- j2cols if df.columns.contains(c)) {
      val bounds = meta.j2Boundaries
      val rows = df.select(col(SeqCol).cast(LongType), col(s"`$c`").cast(StringType))
        .collect().map(r => (if (r.isNullAt(0)) 0L else r.getLong(0),
          if (r.isNullAt(1)) null else r.getString(1)))
      if (rows.nonEmpty) {
        def batchOf(seq: Long): Int = {
          val i = bounds.indexWhere(seq <= _)
          if (i < 0) bounds.size else i
        }
        val schemas: Map[Int, String] = rows.groupBy(r => batchOf(r._1))
          .map { case (b, rs) =>
            b -> graft.functions.JsonSql.shredSchema(rs.map(_._2).toSeq) }
        val caseCol = schemas.toSeq.sortBy(_._1).foldLeft(lit(null).cast(StringType)) {
          case (acc, (b, sch)) =>
            val cond =
              if (b < bounds.size) col(SeqCol) <= bounds(b) &&
                (if (b == 0) lit(true) else col(SeqCol) > bounds(b - 1))
              else (if (bounds.isEmpty) lit(true) else col(SeqCol) > bounds.last)
            when(cond, lit(sch)).otherwise(acc)
        }
        df = df.withColumn(c,
          call_udf("__json2_apply", col(s"`$c`"), caseCol))
      }
    }
    df = df.drop(SeqCol +: meta.droppedCols.toSeq: _*)
    // declared order drives SELECT * and DESC; case-collision shadow
    // columns (alter/add_col.sql "IdC") surface as their default value,
    // aliased in the SAME single select — any later by-name reference
    // would be ambiguous under case-insensitive resolution
    val shadowMap = meta.shadowCols
      .map { case (cn, d, tok) => cn -> ((d, tok)) }.toMap
    val declared = meta.colMeta.map(_.name)
    val cols = declared.flatMap { n =>
      if (df.columns.contains(n)) Some(col(s"`$n`"))
      else shadowMap.get(n).map { case (d, tok) =>
        d.map(x => expr(dialect(x))).getOrElse(lit(null))
          .cast(sparkType(tok)).as(n)
      }
    }
    val extraAll = df.columns.filterNot(declared.contains)
    // sub-µs remainder companions stay hidden from the user-facing
    // view (SELECT * must not show them); the __nsq_ variant below
    // keeps them for the ns-fidelity statement rewrites
    val extra = extraAll.filterNot(_.startsWith("__nsr_"))
    // flow-sink columns carry dots/parens in their names — backtick
    if (cols.nonEmpty) {
      if (extraAll.exists(_.startsWith("__nsr_")))
        df.select(cols ++ extraAll.map(c => col(s"`$c`")): _*)
          .createOrReplaceTempView(s"__nsq_$name")
      df = df.select(cols ++ extra.map(c => col(s"`$c`")): _*)
    }
    df.createOrReplaceTempView(name)
    rebuildViews()
  }

  /** TTL durations accept compact ('90s') and humantime verbose
    * ('1 second', '6 hours') forms, possibly multi-part ('1h 30m'). */
  private[sql] def parseTtlMs(s: String): Long = {
    val part = "(?i)(\\d+)\\s*(milliseconds?|ms|seconds?|minutes?|hours?|days?|weeks?|months?|years?|[smhdwy])".r
    val parts = part.findAllMatchIn(s.trim).toSeq
    if (parts.isEmpty || parts.map(_.matched.replaceAll("\\s+", "").length).sum !=
      s.replaceAll("\\s+", "").length)
      throw new IllegalArgumentException(s"bad ttl: $s")
    parts.map { m =>
      val unit = m.group(2).toLowerCase(Locale.ROOT)
      m.group(1).toLong * (unit.head match {
        case 'm' if unit.startsWith("ms") || unit.startsWith("milli") => 1L
        case 'm' if unit.startsWith("month") => 2630016000L // humantime 30.44d
        case 'm' => 60000L
        case 's' => 1000L
        case 'h' => 3600000L
        case 'd' => 86400000L
        case 'w' => 604800000L
        case 'y' => 31557600000L // humantime 365.25d
      })
    }.sum
  }

  // ---- views + ALTER TABLE (sql/src/statements/{create,alter}.rs) ----

  private[sql] val CreateViewRx =
    ("(?is)CREATE\\s+(?:OR\\s+REPLACE\\s+)?VIEW\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?" +
      "((?:\"[^\"]+\"|`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)" +
      "(?:\\.(?:\"[^\"]+\"|`[^`]+`|[A-Za-z_][A-Za-z0-9_]*))?)" +
      "\\s*(\\([^)]*\\))?\\s+AS\\s+(.*)").r

  /** CREATE VIEW-created view names (SHOW VIEWS / SHOW TABLES listing). */
  private[sql] val userViews = scala.collection.mutable.LinkedHashSet.empty[String]
  /** view name -> (normalized CREATE statement, dialected query) — the
    * statement feeds SHOW CREATE VIEW; the query re-executes after every
    * base-table refresh so views stay live (view/show_create.result). */
  private[sql] val userViewDefs =
    scala.collection.mutable.LinkedHashMap.empty[String, (String, String)]

  /** re-derive every stored view from its SQL; a view whose base is gone
    * drops so reads fail like the reference's invalidated views */
  private[sql] def rebuildViews(): Unit =
    userViewDefs.foreach { case (v, (_, query)) =>
      try spark.sql(query).createOrReplaceTempView(v)
      catch { case _: Exception => spark.catalog.dropTempView(v) }
    }

  private[sql] def createView(stmt: String): DataFrame = stmt match {
    case CreateViewRx(name0, colList, query0) =>
      val name = normTable(name0) // `s.b` → mangled per-schema view name
      val up = stmt.toUpperCase(Locale.ROOT)
      if (up.contains("OR REPLACE") && up.contains("IF NOT EXISTS"))
        throw new IllegalArgumentException(
          "Create Or Replace and If Not Exist cannot be used together")
      // a TABLE of that name blocks view creation under every modifier
      // (view/create.result: plain, IF NOT EXISTS and OR REPLACE all fail)
      if (catalog.tables.contains(normIdent(name)))
        throw new IllegalArgumentException(
          s"Table already exists: `greptime.$currentDb.$name`")
      if (userViews.contains(name) && up.contains("IF NOT EXISTS") &&
        !up.contains("OR REPLACE"))
        return status(s"view $name exists")
      if (userViews.contains(name) && !up.contains("OR REPLACE") &&
        !up.contains("IF NOT EXISTS"))
        throw new IllegalArgumentException(s"view $name already exists")
      // optional column-alias list: CREATE VIEW v (a, b) AS ...
      val query = Option(colList).filter(_.trim.nonEmpty) match {
        case Some(cols) => s"SELECT * FROM ($query0) AS __view_cols$cols"
        case None => query0
      }
      val dialected = dialect(query)
      spark.sql(dialected).createOrReplaceTempView(name)
      userViews += name
      // SHOW CREATE VIEW re-renders the parsed statement: whitespace
      // collapses and binary operators get spaced (`n+1` -> `n + 1`)
      userViewDefs(name) =
        (stmt.replaceAll("\\s+", " ")
          .replaceAll("(?<=[A-Za-z0-9_)])\\s*([+*/-])\\s*(?=[A-Za-z0-9_(])", " $1 ")
          .trim,
          dialected)
      status(s"view $name created")
    case _ => throw new IllegalArgumentException(s"cannot parse: $stmt")
  }

  /** Parse + validate the hint block of `JSON2 ( path TYPE [opts], ... )`.
    * Error shapes follow the reference parser (create_parser/json.rs). */
  private[sql] def parseJ2Hints(typeTok: String): Vector[J2Hint] = {
    def bad(msg: String): Nothing =
      throw new IllegalArgumentException(s"Invalid SQL, error: $msg")
    val inner = typeTok.substring(typeTok.indexOf('(') + 1,
      typeTok.lastIndexOf(')'))
    val hints = Vector.newBuilder[J2Hint]
    var seen = Vector.empty[Vector[String]]
    splitTop(inner).filter(_.nonEmpty).foreach { item =>
      val pathTok = item.takeWhile(!_.isWhitespace)
      val rest = item.drop(pathTok.length).trim
      // dotted path; segments may be quoted ("user"."age")
      val path = {
        val segs = Vector.newBuilder[String]
        val cur = new StringBuilder
        var inQ = false
        pathTok.foreach {
          case '"' => inQ = !inQ
          case '.' if !inQ => segs += cur.result(); cur.clear()
          case c => cur += c
        }
        segs += cur.result()
        segs.result().map(s => if (s == s.toUpperCase(Locale.ROOT) &&
          s == s.toLowerCase(Locale.ROOT)) s else normIdent(s))
      }
      if (path.length > 50)
        bad("JSON2 type hint path cannot exceed 50 segments")
      if (path.exists(_.isEmpty))
        bad("JSON2 type hint path segment cannot be empty")
      val typeDecl = rest.takeWhile(!_.isWhitespace)
      val afterType0 = rest.drop(typeDecl.length).trim
      val (typeFull, afterType) =
        if (afterType0.toUpperCase(Locale.ROOT).startsWith("UNSIGNED"))
          (typeDecl + " UNSIGNED", afterType0.drop("UNSIGNED".length).trim)
        else (typeDecl, afterType0)
      val (sqlT, arrowT) = greptimeTypeName(typeFull) match {
        case "String" => ("STRING", "String")
        case "Int8" | "Int16" | "Int32" | "Int64" => ("BIGINT", "Int64")
        case "UInt8" | "UInt16" | "UInt32" | "UInt64" =>
          ("BIGINT UNSIGNED", "UInt64")
        case "Float32" | "Float64" => ("DOUBLE", "Float64")
        case "Boolean" => ("BOOLEAN", "Boolean")
        case _ => bad("unsupported JSON2 type hint data type: " +
          typeFull.toUpperCase(Locale.ROOT))
      }
      val up = afterType.toUpperCase(Locale.ROOT)
      val nullable = !up.contains("NOT NULL")
      val dflt = DefaultRx.findFirstMatchIn(afterType).map(_.group(1))
      dflt.foreach { d =>
        if (!d.matches("(?i)'(?:[^']|'')*'|[+-]?\\d+(\\.\\d+)?([eE][+-]?\\d+)?|TRUE|FALSE|NULL"))
          bad("JSON2 type hint DEFAULT only supports literal values")
        if (d.equalsIgnoreCase("NULL") && !nullable)
          bad(s"invalid DEFAULT for JSON2 type hint '${path.mkString(".")}': " +
            "Default value should not be null for non null column")
      }
      seen.foreach { p =>
        if (p == path)
          bad(s"duplicated JSON2 type hint path '${path.mkString(".")}'")
        if (p.startsWith(path) || path.startsWith(p))
          bad(s"JSON2 type hint path '${path.mkString(".")}' conflicts with " +
            s"'${p.mkString(".")}'")
      }
      seen :+= path
      hints += J2Hint(path, sqlT, arrowT, nullable,
        dflt.filterNot(_.equalsIgnoreCase("NULL")))
    }
    hints.result()
  }

  /** Wire form handed to the __json2_hint UDF: JSON array of hint
    * objects with the DEFAULT literal folded to a JSON value. */
  private[sql] def j2HintSpecJson(hints: Vector[J2Hint]): String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = m.createArrayNode()
    hints.foreach { h =>
      val o = arr.addObject()
      val p = o.putArray("path")
      h.path.foreach(p.add)
      o.put("type", h.arrowType)
      o.put("nullable", h.nullable)
      h.default.foreach { d =>
        if (d.startsWith("'"))
          o.put("default", d.stripPrefix("'").stripSuffix("'").replace("''", "'"))
        else if (d.equalsIgnoreCase("TRUE")) o.put("default", true)
        else if (d.equalsIgnoreCase("FALSE")) o.put("default", false)
        else if (h.arrowType == "Float64") o.put("default", d.toDouble)
        else if (h.arrowType == "Int64" || h.arrowType == "UInt64")
          o.put("default", d.toLong)
        else o.put("default", d)
      }
    }
    arr.toString
  }

  private[sql] val AlterHeadRx =
    "(?is)ALTER\\s+TABLE\\s+(\"[^\"]+\"|`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)\\s+(.*)".r

  /** ALTER TABLE (sql/src/statements/alter.rs `AlterTableOperation`):
    * ADD COLUMN [IF NOT EXISTS] (multi, comma-chained) with DEFAULT /
    * PRIMARY KEY / FIRST / AFTER placement, DROP COLUMN, MODIFY COLUMN
    * type change, RENAME, SET/UNSET table options. Index DDL (SET
    * INVERTED/FULLTEXT/SKIPPING INDEX) is a performance hint — accepted
    * as a no-op. */
  private[sql] def alterTable(stmt: String): DataFrame = stmt match {
    case AlterHeadRx(rawName, tail0) =>
      val name = unquote(rawName)
      val spec = catalog.spec(name)
      val tail = tail0.trim
      val up = tail.toUpperCase(Locale.ROOT)
      def editOpts(f: Seq[(String, String)] => Seq[(String, String)]): Unit =
        editMeta(name)(m => m.copy(tableOpts = f(m.tableOpts)))
      if (up.matches("(?s)^ADD\\s+COLUMN\\b.*")) {
        // the metric engine forbids structural alters on physical tables
        // (alter/alter_physical_table.result)
        if (metricPhy.contains(name))
          throw new IllegalArgumentException(
            "Alter request to physical region is forbidden")
        // comma-chained clauses: ADD COLUMN a ..., ADD COLUMN b ...
        splitTop(tail).foreach { clause =>
          val body = clause.trim.replaceAll("(?is)^ADD\\s+COLUMN\\s+", "")
          alterAddColumn(name, body)
        }
        // a logical metric table keeps alphabetical column order and
        // propagates new tags onto the physical table
        logicalParent.get(name).foreach { phyName =>
          editMeta(name)(m => m.copy(colMeta = m.colMeta.sortBy(_.name)))
          val mySpec = catalog.spec(name)
          catalog.register(mySpec.copy(tags = mySpec.tags.sorted))
          val phySpec = catalog.spec(phyName)
          val newTags = mySpec.tags.filterNot(phySpec.tags.contains)
            .filterNot(t => metaOf(phyName).colMeta.exists(_.name == t))
          if (newTags.nonEmpty) {
            editMeta(phyName)(m => m.copy(colMeta = m.colMeta ++
              newTags.map(t => ColMeta(t, "String", nullable = true, None))))
            catalog.register(phySpec.copy(tags = (phySpec.tags ++ newTags).distinct))
            metricPhy.get(phyName).foreach(_.addedTags ++= newTags)
          }
          refreshView(name)
        }
      } else if (up.matches("(?s)^DROP\\s+COLUMN\\b.*")) {
        val colName = unquote(tail.split("\\s+").last)
        if (metricPhy.contains(name))
          throw new IllegalArgumentException(
            s"Not allowed to remove index column $colName from table $name")
        editMeta(name)(m => m.copy(droppedCols = m.droppedCols + colName,
          colMeta = m.colMeta.filterNot(_.name == colName)))
      } else if (up.matches("(?s)^(MODIFY|CHANGE)\\s+COLUMN\\b.*")) {
        // comma-chained clauses each carry their own column + action
        splitTop(tail).foreach { clause =>
          val body = clause.trim.replaceAll("(?is)^(MODIFY|CHANGE)\\s+COLUMN\\s+", "").trim
          val bodyUp = body.toUpperCase(Locale.ROOT)
          val colName = unquote(body.takeWhile(!_.isWhitespace))
          def editCol(f: ColMeta => ColMeta): Unit = editMeta(name)(m =>
            m.copy(colMeta = m.colMeta.map(c => if (c.name == colName) f(c) else c)))
          if (bodyUp.contains("UNSET") && bodyUp.contains("INDEX")) {
            editCol(_.copy(indexDecl = None))
          } else if (bodyUp.contains("SET") && bodyUp.contains("INDEX")) {
            // SET FULLTEXT/SKIPPING/INVERTED INDEX [WITH(...)]
            // (alter/change_col_fulltext_options.result)
            editCol(_.copy(indexDecl = indexDeclOf(body)))
          } else if (bodyUp.contains("SET DEFAULT")) {
            val d = body.replaceAll("(?is).*?SET\\s+DEFAULT\\s+", "").trim
            editCol(_.copy(default = Some(d)))
          } else if (bodyUp.contains("DROP DEFAULT")) {
            editCol(_.copy(default = None))
            // the resolved-at-DDL-time copy must go too, or DEFAULT
            // keywords keep resolving to the dropped value
            // (alter_table_alter_column_drop_default.result)
            editMeta(name)(m =>
              m.copy(colDefaultResolved = m.colDefaultResolved - colName))
          } else if (bodyUp.contains("INDEX")) {
            // bare index hints: no-op
          } else {
            // MODIFY COLUMN <name> <type>: cast in the read view.
            // Rejections mirror alter/change_col_type.result: a quoted
            // name is case-sensitive; key columns can't change type;
            // the cast must be expressible.
            val rawTok = body.takeWhile(!_.isWhitespace)
            val schemaCols = spark.table(name).schema.fields
            val exact = schemaCols.exists(_.name == colName)
            val ci = schemaCols.find(_.name.equalsIgnoreCase(colName))
            if ((rawTok.startsWith("\"") && !exact) || ci.isEmpty)
              throw new IllegalArgumentException(
                s"Column $colName not exists in table $name")
            if (spec.tags.contains(ci.get.name))
              throw new IllegalArgumentException(
                s"Not allowed to change primary key index column '${ci.get.name}'")
            if (ci.get.name == spec.timeIndex)
              throw new IllegalArgumentException(
                s"Not allowed to change timestamp index column '${ci.get.name}' datatype")
            // NOT NULL columns reject type changes
            // (alter/change_col_type_not_null.result)
            if (metaOf(name).colMeta
                .find(_.name == ci.get.name).exists(!_.nullable))
              throw new IllegalArgumentException(
                s"Invalid alter table($name) request: column '${ci.get.name}' " +
                  "must be nullable to ensure safe conversion.")
            val typeTok = body.drop(rawTok.length)
              .trim.takeWhile(!_.isWhitespace)
            if (typeTok.toUpperCase(Locale.ROOT).startsWith("INTERVAL"))
              throw new IllegalArgumentException("interval columns are not supported")
            val t = sparkType(typeTok)
            if (!org.apache.spark.sql.catalyst.expressions.Cast.canCast(ci.get.dataType, t))
              throw new IllegalArgumentException(
                s"column '${ci.get.name}' cannot be cast automatically to type '$typeTok'")
            // Per-write-time type semantics (mito keeps each SST's
            // schema; alter_table.result: a float 0.1 written before
            // `MODIFY i BOOLEAN` then `MODIFY i INTEGER` reads 0, and
            // `MODIFY i STRING` reads back "0.1"). Storage widens to
            // STRING once; every row casts original-type -> current at
            // read, selected by its write sequence.
            val cn = ci.get.name
            val oldG = metaOf(name).colMeta
              .find(_.name == cn).map(_.gtype)
              .getOrElse(greptimeNameOf(ci.get.dataType))
            val newG = greptimeTypeName(typeTok)
            if (oldG != newG) {
              if (!metaOf(name).typeHistory.contains(cn))
                migrateParquet(spec)(df =>
                  df.withColumn(cn, col(s"`$cn`").cast("string")))
              val written = (seqCounter.get(), oldG)
              // the declared default converts through the cast chain
              // (DESC pins 0.1 -> BOOLEAN -> INTEGER as 1)
              val newDefault = metaOf(name).colMeta
                .find(_.name == cn).flatMap(_.default).flatMap { d =>
                  try {
                    val v = spark.sql(
                      s"SELECT CAST(CAST($d AS ${showCreateType(oldG)}) AS " +
                        s"${showCreateType(newG)})").first().get(0)
                    Option(v).map(_.toString)
                  } catch { case _: Exception => Some(d) }
                }
              editMeta(name)(m => m.copy(
                typeHistory = m.typeHistory +
                  (cn -> (m.typeHistory.getOrElse(cn, Vector.empty) :+ written)),
                colMeta = m.colMeta.map(c =>
                  if (c.name == cn) c.copy(gtype = newG, default = newDefault) else c)))
            }
          }
        }
      } else if (up.startsWith("RENAME")) {
        val rawNew = tail.substring("RENAME".length).trim
          .replaceFirst("(?i)^TO\\s+", "")
        val newName = normIdent(rawNew.stripPrefix("'").stripSuffix("'"))
        // the reference validates rename targets (alter/rename_table.result)
        if (!newName.matches("[A-Za-z_][A-Za-z0-9_]*"))
          throw new IllegalArgumentException(s"Invalid table name: $newName")
        if (catalog.tables.contains(newName))
          throw new IllegalArgumentException(s"table $newName already exists")
        catalog.deregister(name)
        catalog.register(spec.copy(name = newName))
        tableMeta.remove(name).foreach(tableMeta.put(newName, _))
        sstFiles.mapInPlace(e => if (e.table == name) e.copy(table = newName) else e)
        sstIndexEntries.mapInPlace(e => if (e.table == name) e.copy(table = newName) else e)
        spark.catalog.dropTempView(name)
        refreshView(newName)
        return status(s"table $name renamed to $newName")
      } else if (up.startsWith("SET")) {
        // table options; ttl / append_mode / merge_mode affect queries,
        // storage tuning options are accepted as no-ops; option keys may
        // be quoted ('ttl') or bare (ttl) — ttl/alter_table_ttl uses both
        val kv = "(?is)'?([A-Za-z_][A-Za-z0-9_.]*)'?\\s*=\\s*(?:'([^']*)'|NULL)".r
        kv.findAllMatchIn(tail).foreach { m =>
          val v = Option(m.group(2)).filter(_.nonEmpty)
          val key = m.group(1).toLowerCase(Locale.ROOT)
          key match {
            case "ttl" =>
              val ms = v.flatMap {
                case "instant" => Some(0L)
                case "forever" => None
                case x => Some(parseTtlMs(x))
              }
              catalog.register(catalog.spec(name).copy(ttlMillis = ms))
              // a physical table's ttl governs its logical children
              // (ttl/metric_engine_ttl.result)
              metricPhy.get(name).foreach(_.children.foreach { c =>
                if (catalog.tables.contains(c)) {
                  catalog.register(catalog.spec(c).copy(ttlMillis = ms))
                  refreshView(c)
                }
              })
            case "append_mode" =>
              val toAppend = v.contains("true")
              val cur = catalog.spec(name)
              // append mode can be turned ON, never OFF
              // (alter/alter_append_mode.result)
              if (!toAppend && cur.mergeMode == MergeMode.Append)
                throw new IllegalArgumentException(
                  "Invalid request to alter table: append mode cannot be disabled")
              if (toAppend && cur.mergeMode != MergeMode.Append) {
                // the merged history compacts physically before append
                // semantics begin: pre-alter duplicates stay merged
                if (cur.mergeMode == MergeMode.LastRow)
                  migrateParquet(cur)(Catalog.dedupLastRow(_, cur))
                else migrateParquet(cur)(Catalog.dedupLastNonNull(_, cur))
                // append tables carry no merge_mode option
                editOpts(_.filterNot(_._1 == "merge_mode"))
              }
              catalog.register(cur.copy(
                mergeMode = if (toAppend) MergeMode.Append else MergeMode.LastRow))
            case "merge_mode" =>
              v.foreach(x => catalog.register(catalog.spec(name).copy(mergeMode = MergeMode.parse(x))))
            case "skip_wal" =>
              // skip_wal can only be enabled; disabling errors
              // (common/skip_wal.result)
              if (!v.contains("true"))
                throw new IllegalArgumentException(
                  "Invalid set table option request: Invalid set region " +
                    s"option request, key: skip_wal, value: ${v.getOrElse("")}")
              // rows written while the WAL was on stay restart-durable
              editMeta(name)(_.copy(durableSeq = seqCounter.get()))
            case _ => ()
          }
          val stored =
            if (key == "ttl" && v.isEmpty) Seq(key -> "forever") // SET ttl=NULL
            else v.map(key -> _).toSeq
          editOpts(_.filterNot(_._1 == key) ++ stored)
          // any compaction.twcs.* option implies the twcs strategy
          // (alter_table_options.result renders compaction.type = 'twcs')
          if (key.startsWith("compaction.twcs."))
            editOpts(o => if (o.exists(_._1 == "compaction.type")) o
              else o :+ ("compaction.type" -> "twcs"))
        }
      } else if (up.startsWith("UNSET")) {
        "'([^']*)'".r.findFirstMatchIn(tail).foreach { m =>
          val key = m.group(1).toLowerCase(Locale.ROOT)
          if (key == "skip_wal")
            throw new IllegalArgumentException(
              "Invalid unset table option request: Invalid set region " +
                "option request, key: skip_wal")
          if (key == "ttl") catalog.register(spec.copy(ttlMillis = None))
          editOpts(_.filterNot(_._1 == key))
        }
      } else throw new IllegalArgumentException(s"cannot parse: $stmt")
      refreshView(name)
      status(s"table $name altered")
    case _ => throw new IllegalArgumentException(s"cannot parse: $stmt")
  }

  /** Invalidate Spark's cached file listing for a table path after any
    * physical write. Without this, a plan resolved before an in-place
    * rewrite reads the OLD file names through the cached
    * InMemoryFileIndex and dies with FAILED_READ_FILE.FILE_NOT_EXIST —
    * a benign retry at sandbox scale, a correctness race with
    * concurrent readers at cluster scale. */
  private[graft] def refreshPath(path: String): Unit =
    try spark.catalog.refreshByPath(path)
    catch { case _: Throwable => () }

  /** One-off physical rewrite of a table's Parquet (type migration /
    * dropped-column purge). DDL-time only — reads stay lazy; the
    * reference migrates lazily per-file, which Parquet mergeSchema
    * cannot express for type changes. */
  private[sql] def migrateParquet(spec: TableSpec)(f: DataFrame => DataFrame): Unit = {
    val in = Catalog.rawRead(spark, spec.path)
    val out = f(in)
    Catalog.replaceDir(spark, spec.path)(out.write.mode("overwrite").parquet(_))
    // a rewrite that kept the schema (compaction, TTL, truncate) spares
    // the next read its footer-union job
    Catalog.primeSchemaCacheAfterRewrite(spark, spec.path, in.schema, out.schema)
  }

  private[sql] def alterAddColumn(name: String, body0: String): Unit = {
    val spec = catalog.spec(name)
    val ifNotExists = "(?is)^IF\\s+NOT\\s+EXISTS\\s+".r.findFirstIn(body0).isDefined
    var body = body0.replaceAll("(?is)^IF\\s+NOT\\s+EXISTS\\s+", "").trim
    // placement: FIRST | AFTER <col> (alter.rs AddColumnLocation)
    val afterRx = "(?is)\\s+AFTER\\s+([A-Za-z_\"`][A-Za-z0-9_\"`]*)\\s*$".r
    val after = afterRx.findFirstMatchIn(body).map(m => unquote(m.group(1)))
    body = afterRx.replaceAllIn(body, "")
    val first = "(?is)\\s+FIRST\\s*$".r.findFirstIn(body).isDefined
    body = body.replaceAll("(?is)\\s+FIRST\\s*$", "")
    val cd = parseColumnDef(body)
    // a NOT NULL column without a default cannot be added to an existing
    // table (alter/add_incorrect_col.result) — and must leave NO side
    // effects behind
    if (!cd.nullable && cd.default.isEmpty)
      throw new IllegalArgumentException(
        s"Invalid column option, column name: ${cd.name}, " +
          "error: no default value can be built for NOT NULL column")
    // interval columns are rejected (reference issue #5422)
    if (cd.typeTok.toUpperCase(Locale.ROOT).startsWith("INTERVAL"))
      throw new IllegalArgumentException("interval columns are not supported")
    // reject trailing junk (reference: `ADD COLUMN x int xxx` errors and
    // the table stays unchanged — add_incorrect_col.result)
    val leftovers = body.split("\\s+").drop(2).mkString(" ")
      .toUpperCase(Locale.ROOT)
      .replaceAll("DEFAULT\\s+('[^']*'|[A-Za-z_][A-Za-z0-9_]*\\s*\\([^)]*\\)|-?[A-Za-z0-9_.+-]+)", "")
      .replaceAll("NOT\\s+NULL|NULL|TIME\\s+INDEX|PRIMARY\\s+KEY", "")
      .replaceAll("(FULLTEXT|INVERTED|SKIPPING)?\\s*INDEX(\\s*WITH\\s*\\([^)]*\\))?", "")
      .trim
    if (leftovers.nonEmpty)
      throw new IllegalArgumentException(s"cannot parse column def: $body")
    val metas = metaOf(name).colMeta
    val wasDropped = metaOf(name).droppedCols.contains(cd.name)
    if (metas.exists(_.name == cd.name) && !wasDropped) {
      if (ifNotExists) return
      throw new IllegalArgumentException(s"column ${cd.name} already exists")
    }
    val t = sparkType(cd.typeTok)
    // a quoted name that collides case-insensitively with an existing
    // column ("IdC" vs idc, alter/add_col.sql) cannot share a parquet
    // file under Spark's case-insensitive resolution — keep it as a
    // SHADOW column: declared metadata + default-valued in the view
    if (metas.exists(m => m.name.equalsIgnoreCase(cd.name) && m.name != cd.name)) {
      editMeta(name)(m => m.copy(
        shadowCols = m.shadowCols :+ ((cd.name, cd.default, cd.typeTok)),
        colMeta = metas :+
          ColMeta(cd.name, greptimeTypeName(cd.typeTok), cd.nullable, cd.default)))
      if (cd.isPrimaryKey)
        catalog.register(spec.copy(tags = spec.tags :+ cd.name))
      refreshView(name)
      return
    }
    val existing = graft.model.Catalog.schemaOf(spark, spec.path)
    if (!existing.fieldNames.contains(cd.name)) {
      val widened = StructType(existing :+ StructField(cd.name, t, cd.nullable))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], widened)
        .write.mode("append").parquet(spec.path)
      refreshPath(spec.path)
    } else if (wasDropped) {
      // re-ADD of a DROPped column: the old values are gone in the
      // reference; purge them so only the new default shows
      // (alter/drop_add_col.result)
      migrateParquet(spec)(df =>
        df.withColumn(cd.name, lit(null).cast(t)))
    }
    val meta = ColMeta(cd.name, greptimeTypeName(cd.typeTok), cd.nullable, cd.default)
    val withoutOld = metas.filterNot(_.name == cd.name)
    val placed =
      if (first) meta +: withoutOld
      else after match {
        case Some(a) =>
          val i = withoutOld.indexWhere(_.name == a)
          if (i < 0) withoutOld :+ meta
          else (withoutOld.take(i + 1) :+ meta) ++ withoutOld.drop(i + 1)
        case None => withoutOld :+ meta
      }
    editMeta(name)(m => m.copy(colMeta = placed, droppedCols = m.droppedCols - cd.name))
    if (cd.isPrimaryKey)
      catalog.register(spec.copy(tags = spec.tags :+ cd.name))
    // rows written before this ALTER read the column default (reference
    // add_col_default.result): gate on the ingest sequence. Timestamp
    // string defaults resolve against the session tz NOW, not at read.
    cd.default.foreach { d =>
      val resolved = resolveTsDefault(meta.gtype, d)
      val seqAt = seqCounter.incrementAndGet()
      editMeta(name)(m => m.copy(
        colDefaultResolved =
          if (resolved != d) m.colDefaultResolved + (cd.name -> resolved)
          else m.colDefaultResolved,
        backfills = m.backfills :+ ((cd.name, resolved, seqAt))))
    }
  }

  /** DROP TABLE [IF EXISTS] t1[, t2...]: without IF EXISTS every named
    * table must exist BEFORE anything is dropped (drop/drop_table.result:
    * `DROP TABLE foo, bar` with bar missing errors and foo survives). */
  private[sql] def dropTable(stmt: String): DataFrame = {
    val ifExists = "(?i)\\bIF\\s+EXISTS\\b".r.findFirstIn(stmt).isDefined
    val body = stmt.replaceAll("(?is)^DROP\\s+TABLE\\s+(IF\\s+EXISTS\\s+)?", "")
    val names = body.split(",").map(_.trim).filter(_.nonEmpty).map(normTable)
    val known = catalog.tables.toSet
    if (!ifExists) names.find(n => !known.contains(n)).foreach { missing =>
      throw new IllegalArgumentException(
        s"Table not found: greptime.$currentDb.${missing.replace("__schema__", ".")}")
    }
    names.foreach(dropOneTable)
    status(s"table ${names.mkString(", ")} dropped")
  }

  private[sql] def dropOneTable(name: String): Unit = {
    // a physical metric region refuses to drop while logical tables
    // still use it (create_metric_table.result)
    metricPhy.get(name).foreach { ps =>
      if (ps.childIds.nonEmpty)
        throw new IllegalArgumentException(
          "Physical region is busy, there are still some logical regions using it")
      metricPhy.remove(name)
    }
    val parentPhy = logicalParent.remove(name)
    parentPhy.foreach { phy =>
      // the physical region OWNS the rows — materialize this logical
      // table's contribution into the phy's own dir before the route
      // (and the child's parquet) disappears
      // (insert/logical_metric_table.result keeps the rows)
      metricPhy.get(phy).foreach { ps =>
        ps.childIds.get(name).foreach { tid =>
          if (catalog.tables.contains(name) &&
              scala.util.Try(catalog.spec(phy)).isSuccess) {
            val dest = catalog.spec(phy).path
            scala.util.Try(
              phyShapedRows(phy, name, tid)
                .write.mode("append").parquet(dest))
            refreshPath(dest)
          }
        }
        ps.childIds.remove(name)
      }
    }
    // flows bound to this incarnation stop refreshing (flow_rebuild)
    tableEpoch.put(name, tableEpoch.getOrElse(name, 0L) + 1L)
    spark.catalog.dropTempView(name)
    // a subsequent CREATE TABLE of the same name must start empty
    catalog.deregister(name).foreach { spec =>
      if (spec.path.startsWith(warehouse)) {
        val p = new org.apache.hadoop.fs.Path(spec.path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
        refreshPath(spec.path)
      }
    }
    // a re-CREATE of the same name must not see stale metadata
    // (alter/change_col_type: leftover MODIFY casts broke the new table)
    tableMeta.remove(name)
    sstFiles.filterInPlace(_.table != name)
    sstIndexEntries.filterInPlace(_.table != name)
    // a logical metric table's physical view unions its children's
    // files — rebuild AFTER this table's parquet is gone so a later
    // scan doesn't chase deleted part files
    // (insert/logical_metric_table's FAILED_READ_FILE race)
    parentPhy.foreach(phy => scala.util.Try(refreshMetricPhyView(phy)))
  }

  /** MySQL/Postgres-compatible session SET forms the reference accepts
    * (system/{max_execution_time,set_unsupported,pg_catalog}.sql):
    * `SET [SESSION|LOCAL|GLOBAL] [@@][scope.]var = v`, `SET NAMES x`,
    * `SET search_path TO x`. Time zone variants apply to the session;
    * everything else is accepted as a no-op like the reference. */
  /** session variables readable via `@@name` / helper functions */
  /** Session time zone as SET (may exceed Java's ±18h fixed-offset cap). */
  private[sql] var sessionTz: String = "UTC"

  /** Offset of the session tz at epoch, ms east of UTC — the RANGE
    * default ALIGN origin (reference aligns '1d' buckets to local
    * calendar midnight; range/to.result). */
  private[sql] def tzOffsetOf(tz: String): Long = {
    val fixed = "([+-])(\\d{1,2}):(\\d{2})".r
    tz match {
      case fixed(sg, h, m) =>
        (if (sg == "-") -1L else 1L) * (h.toLong * 3600000L + m.toLong * 60000L)
      case z =>
        try java.time.ZoneId.of(z).getRules
          .getOffset(java.time.Instant.EPOCH).getTotalSeconds * 1000L
        catch { case _: Exception => 0L }
    }
  }

  private[sql] def sessionTzOffsetMs: Long = tzOffsetOf(sessionTz)

  private[sql] val sessionVars = scala.collection.mutable.Map[String, String](
    "max_execution_time" -> "0", "read_preference" -> "leader",
    "tx_isolation" -> "REPEATABLE-READ",
    "transaction_isolation" -> "REPEATABLE-READ",
    "version_comment" -> "GreptimeDB")
  /** warnings from the previous statement only (SHOW WARNINGS contract) */
  private[graft] var lastWarnings: Seq[(String, Int, String)] = Nil

  private[sql] def setSession(stmt: String): DataFrame = {
    val body = stmt.trim.replaceFirst("(?is)^SET\\s+", "")
      .replaceFirst("(?is)^(SESSION|LOCAL|GLOBAL)\\s+", "")
    val up = body.toUpperCase(Locale.ROOT)
    if (up.startsWith("NAMES")) return status("names set")
    if (up.startsWith("SEARCH_PATH")) return status("search_path set")
    val kv = "(?is)@{0,2}([A-Za-z_][A-Za-z0-9_.]*)\\s*(?:=|\\bTO\\b)\\s*(.+)".r
    body match {
      case kv(rawKey, rawVal) =>
        val key = rawKey.toLowerCase(Locale.ROOT).replaceFirst("^(session|local|global)\\.", "")
        val v = rawVal.trim.stripPrefix("'").stripSuffix("'")
        key match {
          case "time_zone" | "timezone" =>
            // offsets normalize to ±HH:MM (system/timezone.result echoes
            // '+8:00' back as '+08:00'; Java also requires the padded form)
            sessionTz = "([+-])(\\d{1,2}):(\\d{2})".r.findFirstMatchIn(v.trim)
              .filter(_.matched == v.trim)
              .map(m => f"${m.group(1)}${m.group(2).toInt}%02d:${m.group(3)}")
              .getOrElse(v)
            // Java zones cap fixed offsets at ±18h; the reference accepts
            // up to ±23:59 (range/to.result '+23:00') — keep our own copy
            // for RANGE align-origin math and set Spark's when legal
            try spark.conf.set("spark.sql.session.timeZone", sessionTz)
            catch { case _: Exception => () }
            // date_format applies only the RESIDUAL offset Spark's own
            // LTZ→local conversion doesn't already cover
            tzOffsetRef.set(sessionTzOffsetMs -
              tzOffsetOf(spark.conf.get("spark.sql.session.timeZone")))
          case "read_preference" =>
            if (!Set("leader", "follower").contains(v.toLowerCase(Locale.ROOT)))
              throw new IllegalArgumentException(
                s"Invalid read preference expr $v in set variable statement")
            sessionVars(key) = v
          case "max_execution_time" => sessionVars(key) = v
          case "autocommit" | "sql_mode" | "wait_timeout" | "net_write_timeout" |
               "interactive_timeout" => () // accepted silently (MySQL compat)
          case other =>
            sessionVars(other) = v
            lastWarnings = Seq(("Warning", 1000,
              s"Unsupported set variable ${other.toUpperCase(Locale.ROOT)}"))
        }
        status(s"$key set")
      case _ => throw new IllegalArgumentException(s"cannot parse SET: $stmt")
    }
  }

}
