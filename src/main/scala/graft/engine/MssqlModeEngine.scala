package graft.engine

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, Statement}
import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, to_timestamp}

import graft.naming.SqlEscape.mssqlIdentifier
import graft.types.{ColumnSchema, Constraint, MssqlType}

/** An in-JVM MSSQL-DIALECT database engine: the SOURCE-side twin of
  * [[MySqlModeEngine]] — a strict T-SQL front end (lexer + validator +
  * translator + INFORMATION_SCHEMA emulation) over embedded Derby,
  * reachable through plain JDBC at `jdbc:graftmssql:…`.
  *
  * Why it exists: the reference EXTRACTS from MSSQL
  * (/root/reference/src/extract/extractor.rs) — `[bracket]`
  * identifiers, INFORMATION_SCHEMA.TABLES/COLUMNS probe shapes, and
  * the type surface ANSI engines don't have: `tinyint` (unsigned
  * 0..255, format.rs:34 decodes it as U8), `rowversion` (metadata
  * still reports it as "timestamp", mssql_type.rs:32-35) and
  * `datetimeoffset` (decoded to UTC, format.rs:140-161). With no
  * MSSQL server in the sandbox those read-side quirks were only ever
  * fixture-tested; this shim drives them through a live JDBC wire.
  * Like its MySQL twin it is STRICT: ANSI double-quoted or MySQL
  * backtick identifiers, MySQL `SET FOREIGN_KEY_CHECKS`, `@@session`
  * variables and unknown escape idioms are rejected loudly, so a
  * renderer that leaks the wrong dialect at the source boundary fails
  * the oracle gate instead of being silently accepted.
  *
  * Dialect handling per statement:
  *  - `CREATE TABLE [t] (…)` — T-SQL column definitions are parsed
  *    (declared MSSQL type, nullability, inline PRIMARY KEY / UNIQUE /
  *    REFERENCES / CHECK / DEFAULT), recorded in the emulated
  *    INFORMATION_SCHEMA catalog, and the DDL is re-emitted for Derby
  *    with the MSSQL→Derby storage type rules below.
  *  - everything else — lexed into literals (`''`-escaped only:
  *    T-SQL treats backslash as a plain character) / `[bracket]`
  *    identifiers (`]]`-escaped) / bare text with `N'…'` national
  *    prefixes dropped, re-emitted as ANSI.
  *
  * INFORMATION_SCHEMA emulation: on first connect the engine creates
  * a real Derby schema `INFORMATION_SCHEMA` holding a `TABLES` view
  * over `SYS.SYSTABLES` and a `COLUMNS` view over the recorded
  * per-column catalog — so the extractor-shaped probes
  * (extractor.rs:29-31, 54-83) execute as real SQL over a live
  * catalog. Deviation: the reference's CONSTRAINTS column is a
  * correlated CASE over five INFORMATION_SCHEMA views glued with
  * T-SQL `+` concatenation (extractor.rs:60-80); the shim's catalog
  * precomputes the same constraint string (same format, same
  * PK > FK > UNIQUE > CHECK > DEFAULT precedence, extractor CASE
  * order) at DDL time instead of re-deriving it per probe.
  *
  * MSSQL → Derby storage types: tinyint→SMALLINT (holds 0..255),
  * rowversion/timestamp→BIGINT (a counter, not a time),
  * datetimeoffset→VARCHAR (the offset-bearing text; the READ path
  * converts to UTC — [[MssqlSchemaSource.read]]), money/smallmoney→
  * DECIMAL(19,4)/(10,4), n(var)char→(VAR)CHAR, (n)text/xml→CLOB,
  * image/varbinary→BLOB, datetime/datetime2/smalldatetime→TIMESTAMP,
  * bit→SMALLINT, uniqueidentifier→CHAR(36), float→DOUBLE.
  */
object MssqlModeEngine {
  val fetchedTables = new AtomicLong
  val infoSchemaProbes = new AtomicLong
  val translatedStatements = new AtomicLong

  def resetCounters(): Unit = {
    fetchedTables.set(0); infoSchemaProbes.set(0)
    translatedStatements.set(0)
  }

  private lazy val registered: Unit = {
    DriverManager.registerDriver(new MssqlModeDriver)
    org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(MssqlSparkDialect)
  }

  /** Build a shim URL; `rest` is the Derby tail, e.g.
    * `memory:msdb_x;create=true`.
    */
  def url(rest: String): String = { registered; s"jdbc:graftmssql:$rest" }

  val UrlPrefix = "jdbc:graftmssql:"

  /** Per-column decode from the shim's Derby storage back to the
    * CANONICAL Spark type for the declared MSSQL type (SURVEY §1.2) —
    * Spark's JDBC reader maps Derby SMALLINT to `IntegerType`, so
    * without this fold `tinyint`/`smallint` silently widen to INT32
    * and `bit` loses its 0/1 domain:
    *  - tinyint → ShortType (U8 range 0..255, format.rs:34 — no
    *    signed byte fits it), smallint → ShortType;
    *  - bit → BooleanType (format.rs:22-24 renders 0/1; SqlLiteral
    *    does the same on the write side);
    *  - datetimeoffset (stored as offset-bearing text) → the UTC
    *    instant, format.rs:140-161's offset-subtraction. The parse is
    *    LENIENT in fraction width — DATETIMEOFFSET(0..7) renderings
    *    all carry 0-7 fraction digits — but FAIL-LOUD on text that
    *    still doesn't parse: `to_timestamp` alone returns NULL on
    *    mismatch, which would silently corrupt data instead of
    *    failing the strict-shim way.
    */
  private[engine] def canonicalDecode(
      c: ColumnSchema): Option[org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    c.dataType match {
      case MssqlType.TinyInt | MssqlType.SmallInt =>
        Some(_.cast(org.apache.spark.sql.types.ShortType))
      case MssqlType.Bit =>
        Some(_.cast(org.apache.spark.sql.types.BooleanType))
      case MssqlType.DateTime => Some { in =>
        // MSSQL datetime is 1/300-second ticks. The server quantizes
        // at INSERT (round to nearest tick, halves up: .125 → tick 38)
        // and the reference decodes ticks with INTEGER millisecond
        // division (format.rs:191-218 from_sec_fragments:
        // ms = ticks*1000/300, so tick 38 is .126, not MSSQL's
        // displayed .127). Emulate the composition exactly, in long
        // arithmetic: .999 rolls into the next second.
        val micros = unix_micros(in)
        val usInSec = pmod(micros, lit(1000000L))
        val ticks = (usInSec * 300L + 500000L).divide(1000000L)
          .cast(org.apache.spark.sql.types.LongType)
        val usOut = (ticks * 1000L).divide(300L)
          .cast(org.apache.spark.sql.types.LongType) * 1000L
        timestamp_micros(micros - usInSec + usOut)
      }
      case MssqlType.SmallDateTime => Some { in =>
        // MSSQL smalldatetime is MINUTE-precision on the wire — the
        // reference reconstructs it from whole days + minutes
        // (format.rs:177-189 from_minutes, no seconds slot). The
        // server rounds at INSERT: seconds ≥ 29.999 go up, else
        // truncate. The shim stores full TIMESTAMPs, so emulate the
        // storage rounding at decode (exact long arithmetic in µs).
        val micros = unix_micros(in)
        val rem = pmod(micros, lit(60000000L)) // negative-safe
        timestamp_micros(micros - rem +
          when(rem >= 29999000L, 60000000L).otherwise(0L))
      }
      case MssqlType.DateTimeOffset => Some { in =>
        // normalize '… HH:mm:ss[.f{1,7}] ±hh:mm' to exactly 7
        // fraction digits, then parse with the fixed pattern
        val base = regexp_extract(in,
          "^(\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2})", 1)
        val frac = regexp_extract(in, "\\.(\\d{1,7})\\s", 1)
        val off = regexp_extract(in, "([+-]\\d{2}:\\d{2})$", 1)
        val norm = concat(base, lit("."), rpad(
          when(frac === "", "0").otherwise(frac), 7, "0"),
          lit(" "), off)
        // try_to_timestamp, not to_timestamp: under ANSI mode the
        // plain form throws its own (wrong-message) error before the
        // raise_error below can name the column and value
        val parsed = try_to_timestamp(norm,
          lit("yyyy-MM-dd HH:mm:ss.SSSSSSS XXX"))
        when(in.isNull, lit(null).cast("timestamp"))
          .when(parsed.isNotNull, parsed)
          .otherwise(raise_error(concat(
            lit(s"mssql-mode: unparseable datetimeoffset in " +
              s"${c.columnName}: '"), in, lit("'"))).cast("timestamp"))
      }
      case _ => None
    }
  }
}

/** Spark-side dialect for the shim URL: identifiers quote as
  * `[brackets]` (the strict engine rejects ANSI double quotes), so
  * `spark.read`/`write.jdbc` against the shim emit T-SQL-shaped
  * statements — the same quoting the reference's generated queries
  * use (sql.rs:3-10).
  */
private object MssqlSparkDialect extends org.apache.spark.sql.jdbc.JdbcDialect {
  override def canHandle(url: String): Boolean =
    url.startsWith(MssqlModeEngine.UrlPrefix)
  override def quoteIdentifier(colName: String): String =
    mssqlIdentifier(colName)
  override def getCatalystType(sqlType: Int, typeName: String, size: Int,
      md: org.apache.spark.sql.types.MetadataBuilder)
      : Option[org.apache.spark.sql.types.DataType] =
    // MSSQL real is a 4-byte float (SURVEY §1.2: real → FloatType);
    // Spark's URL-agnostic default widens REAL to DoubleType
    if (sqlType == java.sql.Types.REAL)
      Some(org.apache.spark.sql.types.FloatType)
    else None
}

/** Strict T-SQL statement classifier + translator. */
object MssqlDialect {

  private def fail(msg: String, sql: String): Nothing =
    throw new IllegalArgumentException(
      s"mssql-mode: $msg in statement: ${sql.take(160)}")

  private sealed trait Tok
  private final case class Lit(value: String) extends Tok
  private final case class Ident(name: String) extends Tok
  private final case class Other(text: String) extends Tok

  private def lex(sql: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    val sb = new StringBuilder
    def flush(): Unit =
      if (sb.nonEmpty) { out += Other(sb.toString); sb.clear() }
    val n = sql.length
    var i = 0
    while (i < n) {
      sql.charAt(i) match {
        case 'N' | 'n' if i + 1 < n && sql.charAt(i + 1) == '\'' &&
            (i == 0 || !sql.charAt(i - 1).isLetterOrDigit) =>
          // national-string prefix: N'…' — drop the N, keep the literal
          i += 1
        case '\'' =>
          flush()
          val v = new StringBuilder
          i += 1
          var done = false
          while (!done) {
            if (i >= n) fail("unterminated string literal", sql)
            sql.charAt(i) match {
              case '\'' if i + 1 < n && sql.charAt(i + 1) == '\'' =>
                v.append('\''); i += 2
              case '\'' => done = true; i += 1
              // T-SQL backslash is a PLAIN character — copied, never
              // an escape (unlike the MySQL twin's unescape table)
              case c => v.append(c); i += 1
            }
          }
          out += Lit(v.toString)
        case '[' =>
          flush()
          val v = new StringBuilder
          i += 1
          var done = false
          while (!done) {
            if (i >= n) fail("unterminated bracket identifier", sql)
            sql.charAt(i) match {
              case ']' if i + 1 < n && sql.charAt(i + 1) == ']' =>
                v.append(']'); i += 2
              case ']' => done = true; i += 1
              case c => v.append(c); i += 1
            }
          }
          if (v.isEmpty) fail("empty bracket identifier", sql)
          out += Ident(v.toString)
        case '"' =>
          fail("double-quoted identifier is not MSSQL dialect (use [brackets])", sql)
        case '`' =>
          // only OUTSIDE literal spans: a backtick inside N'…' is data
          // (the old whole-text pre-check wrongly rejected it)
          fail("backtick identifier is not MSSQL dialect", sql)
        case c => sb.append(c); i += 1
      }
    }
    flush()
    out.result()
  }

  private def ansiLiteral(v: String): String =
    "'" + v.replace("'", "''") + "'"

  private def ansiIdent(name: String): String =
    "\"" + name.replace("\"", "\"\"") + "\""

  /** MSSQL declared type → Derby storage type, applied (like the ANSI
    * flavor's rules) only to type-defining DDL and only on
    * literal-masked, identifier-quoted text. Order matters: longest /
    * most-specific names first (datetimeoffset before datetime,
    * smallmoney before money, nvarchar(max) before nvarchar).
    */
  private[engine] val typeRules: Seq[(String, String)] = Seq(
    "nvarchar\\s*\\(\\s*max\\s*\\)" -> "CLOB",
    "varchar\\s*\\(\\s*max\\s*\\)" -> "CLOB",
    "varbinary\\s*\\(\\s*max\\s*\\)" -> "BLOB",
    "varbinary\\s*\\(\\d+\\)" -> "BLOB",
    "binary\\s*\\(\\d+\\)" -> "BLOB",
    "nvarchar" -> "VARCHAR",
    "nchar" -> "CHAR",
    "ntext" -> "CLOB",
    "text" -> "CLOB",
    "image" -> "BLOB",
    "xml" -> "CLOB",
    "rowversion" -> "BIGINT",
    "timestamp" -> "BIGINT", // T-SQL timestamp IS rowversion
    // time carries as its rendered string (SURVEY: MySQL TIME
    // round-trips poorly through JDBC; the reference renders
    // '%H:%M:%S%.f' text, format.rs:72-86) — Derby TIME would
    // truncate the 100 ns fraction
    "time\\s*\\(\\s*\\d+\\s*\\)" -> "VARCHAR(18)",
    "time" -> "VARCHAR(18)",
    "datetimeoffset\\s*\\(\\s*\\d+\\s*\\)" -> "VARCHAR(48)",
    "datetimeoffset" -> "VARCHAR(48)",
    "datetime2\\s*\\(\\s*\\d+\\s*\\)" -> "TIMESTAMP",
    "datetime2" -> "TIMESTAMP",
    "smalldatetime" -> "TIMESTAMP",
    "datetime" -> "TIMESTAMP",
    "smallmoney" -> "DECIMAL(10,4)",
    "money" -> "DECIMAL(19,4)",
    "tinyint" -> "SMALLINT",
    "bit" -> "SMALLINT",
    "uniqueidentifier" -> "CHAR(36)",
    "float\\s*\\(\\s*\\d+\\s*\\)" -> "DOUBLE",
    "float" -> "DOUBLE")
    // NOT \b delimiters: several patterns end in ')' where \b fails
    // (')' then ' ' has no word boundary), silently skipping the
    // parenthesized rule and double-applying the bare one
    // ("DATETIMEOFFSET(7)" → "VARCHAR(48)(7)")
    .map { case (re, to) => s"""(?i)(?<!["\\w])$re(?![\\w"])""" -> to }

  /** One recorded catalog row for the emulated
    * INFORMATION_SCHEMA.COLUMNS (extractor.rs:54-83 output shape).
    */
  final case class MetaColumn(
      table: String,
      column: String,
      ordinal: Int,
      dataType: String,
      charMaxLen: Option[Int],
      numPrecision: Option[Int],
      numScale: Option[Int],
      isNullable: Boolean,
      constraints: String)

  sealed trait Routed
  /** Translated ANSI text, ready for Derby. */
  final case class Translated(sql: String) extends Routed
  /** Translated CREATE TABLE + the catalog rows to record. */
  final case class CreateTable(sql: String, meta: Seq[MetaColumn])
      extends Routed

  def route(sql: String): Routed = {
    require(!sql.trim.toUpperCase.startsWith("SET FOREIGN_KEY_CHECKS"),
      s"mssql-mode: SET FOREIGN_KEY_CHECKS is MySQL dialect: ${sql.take(120)}")
    val translated = translate(sql)
    if (sql.trim.toUpperCase.startsWith("CREATE TABLE"))
      CreateTable(translated, parseCreateMeta(sql))
    else Translated(translated)
  }

  /** Full translation: lex → re-emit ANSI, with the storage type rules
    * applied only to type-defining DDL and only on non-literal text.
    */
  def translate(sql: String): String = {
    val toks = lex(sql)
    val upper = sql.trim.toUpperCase
    val isTypeDdl = upper.startsWith("CREATE TABLE") ||
      upper.startsWith("ALTER TABLE")
    val masked = new StringBuilder
    val lits = Vector.newBuilder[String]
    var litIdx = 0
    toks.foreach {
      case Other(t) => masked.append(t)
      case Ident(nm) => masked.append(ansiIdent(nm))
      case Lit(v) =>
        lits += ansiLiteral(v)
        masked.append('\u0001').append(litIdx).append('\u0001')
        litIdx += 1
    }
    var text = masked.toString
    // session variables are checked on the MASKED text: '@@' inside a
    // string literal is data, not a variable reference
    if (text.contains("@@"))
      fail("session variables are not MSSQL dialect", sql)
    if (isTypeDdl)
      text = typeRules.foldLeft(text) { case (acc, (re, to)) =>
        acc.replaceAll(re, to)
      }
    else
      // T-SQL binary literals (format.rs:17's 0xHEX wire form) →
      // Derby's typed hex: string literals are masked out and
      // identifiers already double-quoted, so a '0x…' inside data or
      // a name can't match (lookbehind rejects word/quote prefixes)
      text = text.replaceAll(
        "(?i)(?<![\\w'\"])0x([0-9a-fA-F]*)(?![\\w])",
        "CAST(X'$1' AS BLOB)")
    val litArr = lits.result()
    litArr.indices.foldLeft(text) { (acc, k) =>
      acc.replace("\u0001" + k + "\u0001", litArr(k))
    }
  }

  /** Re-emit raw T-SQL with every string literal's CONTENT removed
    * (each becomes `''`) and bracket identifiers kept in bracket form
    * — for keyword/anchor scans that must never see literal data
    * (a ' WHERE ' or '[rv] =' INSIDE a string is data, not syntax).
    */
  private[engine] def maskLiterals(sql: String): String =
    lex(sql).map {
      case Other(t) => t
      case Ident(nm) => "[" + nm.replace("]", "]]") + "]"
      case Lit(_) => "''"
    }.mkString

  // ---- CREATE TABLE meta parsing --------------------------------------

  private val createRe =
    "(?is)^\\s*CREATE\\s+TABLE\\s+\\[([^\\]]+)\\]\\s*\\((.*)\\)\\s*$".r

  /** Split a column-definition list on top-level commas (parens,
    * literals AND bracketed identifiers nest — an apostrophe or comma
    * inside `[o'brien]`-style names is part of the NAME, and `]]` is
    * the escaped close bracket; same states as [[blankMasks]]).
    */
  private def splitDefs(body: String): Seq[String] = {
    val out = ListBuffer.empty[String]
    val sb = new StringBuilder
    var depth = 0
    var inLit = false
    var inBr = false
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (inLit) {
        sb.append(c)
        if (c == '\'') inLit = false
      } else if (inBr) {
        sb.append(c)
        if (c == ']') {
          if (i + 1 < body.length && body.charAt(i + 1) == ']') {
            sb.append(']'); i += 1
          } else inBr = false
        }
      } else c match {
        case '\'' => inLit = true; sb.append(c)
        case '[' => inBr = true; sb.append(c)
        case '(' => depth += 1; sb.append(c)
        case ')' => depth -= 1; sb.append(c)
        case ',' if depth == 0 => out += sb.toString.trim; sb.clear()
        case _ => sb.append(c)
      }
      i += 1
    }
    if (sb.toString.trim.nonEmpty) out += sb.toString.trim
    out.toSeq
  }

  /** Read one balanced `( … )` group starting at `from` (which must
    * point at the opening paren); returns the inner text.
    */
  private def balancedParen(s: String, from: Int): String = {
    var depth = 0
    var i = from
    val sb = new StringBuilder
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '(') { depth += 1; if (depth > 1) sb.append(c) }
      else if (c == ')') {
        depth -= 1
        if (depth == 0) return sb.toString
        sb.append(c)
      } else if (depth >= 1) sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** Length-preserving blank-out masks for column-definition parsing
    * (the discipline of the UPDATE-guard literal mask: every masked
    * char becomes a space, so keyword scans can never match data and
    * every index into the masked text is valid in the original — the
    * old raw-text scans let `DEFAULT 'NOT NULL'` flip nullability, a
    * 'check' inside a literal fabricate a CHECK constraint, and a
    * toUpperCase-copy index drift past 'ß'-style length-changing case
    * mappings).
    *
    * ONE bracket- and escape-aware walk producing both masks:
    * `_1` = literal contents blanked, bracket contents intact
    * (extraction positions — refRe/defaultRe read identifier payloads
    * from it); `_2` = literal AND bracketed-identifier contents
    * blanked (keyword location — a column named `[unique]` or a
    * `DEFAULT 'NOT NULL'` can match nothing). A single state machine,
    * because two independent walks can DISAGREE about where a literal
    * ends: a legal bracketed identifier containing an apostrophe
    * (`[o'brien] ... DEFAULT 'NOT NULL'`) toggled the old
    * literal-only walk's quote state and inverted masking for the
    * rest of the column definition. `''` (escaped quote, content) and
    * `]]` (escaped close bracket, content) are consumed as single
    * tokens of their span.
    */
  private def blankMasks(s: String): (String, String) = {
    val lit = s.toCharArray // literals blanked
    val kw = s.toCharArray // literals + bracket contents blanked
    var state = 0 // 0 = plain, 1 = in '...' literal, 2 = in [...] ident
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      state match {
        case 0 =>
          if (c == '\'') state = 1
          else if (c == '[') state = 2
        case 1 =>
          if (c == '\'') {
            if (i + 1 < s.length && s.charAt(i + 1) == '\'') {
              lit(i) = ' '; kw(i) = ' '
              lit(i + 1) = ' '; kw(i + 1) = ' '
              i += 1
            } else state = 0
          } else { lit(i) = ' '; kw(i) = ' ' }
        case _ =>
          if (c == ']') {
            if (i + 1 < s.length && s.charAt(i + 1) == ']') {
              kw(i) = ' '; kw(i + 1) = ' '
              i += 1
            } else state = 0
          } else kw(i) = ' '
      }
      i += 1
    }
    (new String(lit), new String(kw))
  }

  /** Index of the `)` matching the `(` at `open` (both in `s`), or
    * `s.length` if unbalanced — mirrors balancedParen's to-end
    * fallback. Run on MASKED text so parens inside literals or
    * bracketed identifiers never skew the depth.
    */
  private def matchingParen(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '(') depth += 1
      else if (c == ')') { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    s.length
  }

  /** Last case-insensitive occurrence of `word` in `s` scanned with
    * regionMatches on the original — no toUpperCase copy, no index
    * drift.
    */
  private def lastKeywordAt(s: String, word: String): Int = {
    var found = -1
    var i = 0
    while (i <= s.length - word.length) {
      if (s.regionMatches(true, i, word, 0, word.length)) found = i
      i += 1
    }
    found
  }

  private val colDefRe =
    "(?is)^\\[([^\\]]+)\\]\\s+([a-z0-9]+)\\s*(\\(\\s*([a-z0-9]+)\\s*(?:,\\s*(\\d+)\\s*)?\\))?(.*)$".r

  private val refRe =
    "(?is)REFERENCES\\s+\\[([^\\]]+)\\]\\s*\\(\\s*\\[([^\\]]+)\\]\\s*\\)".r

  private val defaultRe =
    "(?is)DEFAULT\\s+('(?:[^']|'')*'|[^\\s,]+)".r

  private def parseCreateMeta(sql: String): Seq[MetaColumn] = sql match {
    case createRe(table, body) =>
      splitDefs(body).zipWithIndex.flatMap { case (defText, idx) =>
        defText match {
          case colDefRe(name, rawType, _, arg1, arg2, rest) =>
            val tpe = rawType.toLowerCase match {
              case "rowversion" => "timestamp" // metadata parity
              case other => other
            }
            val charMax = tpe match {
              case "char" | "nchar" | "varchar" | "nvarchar" | "binary" |
                  "varbinary" =>
                Option(arg1).map(a =>
                  if (a.equalsIgnoreCase("max")) -1 else a.toInt)
              case "text" | "ntext" | "image" | "xml" => Some(-1)
              case _ => None
            }
            val (p, s) = tpe match {
              case "decimal" | "numeric" =>
                (Option(arg1).map(_.toInt), Option(arg2).map(_.toInt))
              case "money" => (Some(19), Some(4))
              case "smallmoney" => (Some(10), Some(4))
              case _ => (None, None)
            }
            // constraint keywords are LOCATED on masked text (literal
            // contents and bracketed-identifier contents blanked,
            // length-preserving) and their payloads EXTRACTED from the
            // original by the masked span — a literal can never flip
            // nullability or fabricate a constraint, and no uppercase
            // copy ever indexes the original
            val (litMaskDef, kwMaskDef) = blankMasks(defText)
            val kwRest = kwMaskDef.substring(defText.length - rest.length)
              .toUpperCase
            val pk = kwRest.contains("PRIMARY KEY")
            val notNull = pk || kwRest.contains("NOT NULL")
            // reference CASE precedence (extractor.rs:62-70):
            // PK > FK > UNIQUE > CHECK > DEFAULT — one slot per column
            val constraint: String =
              if (pk) "PRIMARY KEY"
              else refRe.findFirstMatchIn(litMaskDef) match {
                // groups are bracket contents — untouched by litMask
                case Some(m) => s"FOREIGN KEY,${m.group(1)},${m.group(2)}"
                case None =>
                  if (kwRest.contains("UNIQUE")) "UNIQUE"
                  else {
                    val checkAt = lastKeywordAt(kwMaskDef, "CHECK")
                    val openAt =
                      if (checkAt >= 0) kwMaskDef.indexOf('(', checkAt)
                      else -1
                    if (openAt >= 0)
                      s"CHECK (${defText.substring(openAt + 1,
                        matchingParen(kwMaskDef, openAt))})"
                    else defaultRe.findFirstMatchIn(litMaskDef) match {
                      case Some(m) =>
                        s"DEFAULT ${defText.substring(m.start(1), m.end(1))}"
                      case None => ""
                    }
                  }
              }
            Some(MetaColumn(table, name, idx + 1, tpe, charMax, p, s,
              isNullable = !notNull, constraints = constraint))
          case _ =>
            // table-level clause (e.g. composite PK / named CONSTRAINT).
            // The reference's constraint surface is strictly PER-COLUMN
            // (extractor.rs:63-70 reads one slot per COLUMNS row), so
            // the emulated catalog has nowhere to record these —
            // REJECT LOUDLY rather than silently dropping a constraint
            // a future fixture might rely on.
            throw new IllegalArgumentException(
              "mssql-mode: table-level constraint clauses are not " +
                "supported by the emulated INFORMATION_SCHEMA (the " +
                "reference's surface is per-column, extractor.rs:63-70)" +
                s" — rewrite as an inline column constraint: $defText")
        }
      }
    case _ =>
      throw new IllegalArgumentException(
        s"mssql-mode: unsupported CREATE TABLE shape: ${sql.take(160)}")
  }
}

/** JDBC driver for `jdbc:graftmssql:…` — wraps the embedded Derby
  * driver with the T-SQL front end and bootstraps the emulated
  * INFORMATION_SCHEMA on connect.
  */
final class MssqlModeDriver extends Driver {
  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith(MssqlModeEngine.UrlPrefix)

  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      val derbyUrl = "jdbc:derby:" + url.stripPrefix(MssqlModeEngine.UrlPrefix)
      val underlying = DriverManager.getConnection(derbyUrl, info)
      MssqlModeBootstrap.ensure(underlying)
      Proxy.newProxyInstance(getClass.getClassLoader,
        Array(classOf[Connection]),
        new MssqlModeConnHandler(underlying)).asInstanceOf[Connection]
    }

  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    java.util.logging.Logger.getLogger("graft.mssqlmode")
}

/** Creates the INFORMATION_SCHEMA views once per backing database
  * (idempotent: Derby's already-exists errors are the happy path on
  * reconnect).
  */
private object MssqlModeBootstrap {
  def ensure(c: Connection): Unit = {
    val st = c.createStatement()
    try Seq(
      "CREATE SCHEMA INFORMATION_SCHEMA",
      """CREATE TABLE INFORMATION_SCHEMA.COLUMNS_META (
        |  TABLE_NAME VARCHAR(128) NOT NULL,
        |  COLUMN_NAME VARCHAR(128) NOT NULL,
        |  ORDINAL_POSITION INT NOT NULL,
        |  DATA_TYPE VARCHAR(32) NOT NULL,
        |  CHARACTER_MAXIMUM_LENGTH INT,
        |  NUMERIC_PRECISION INT,
        |  NUMERIC_SCALE INT,
        |  IS_NULLABLE VARCHAR(3) NOT NULL,
        |  "CONSTRAINTS" VARCHAR(512) NOT NULL)""".stripMargin,
      "CREATE VIEW INFORMATION_SCHEMA.COLUMNS AS " +
        "SELECT * FROM INFORMATION_SCHEMA.COLUMNS_META",
      // user base tables only: Derby system catalogs are TABLETYPE 'S',
      // and the emulation's own catalog table lives in the
      // INFORMATION_SCHEMA schema it must not report
      "CREATE VIEW INFORMATION_SCHEMA.TABLES (TABLE_NAME, TABLE_TYPE) AS " +
        "SELECT t.TABLENAME, 'BASE TABLE' FROM SYS.SYSTABLES t " +
        "JOIN SYS.SYSSCHEMAS s ON t.SCHEMAID = s.SCHEMAID " +
        "WHERE t.TABLETYPE = 'T' AND s.SCHEMANAME <> 'INFORMATION_SCHEMA'",
      // the database-wide rowversion counter (MSSQL @@DBTS): one
      // monotonic sequence per database, auto-assigned on INSERT
      "CREATE SEQUENCE INFORMATION_SCHEMA.ROWVERSION_SEQ AS BIGINT " +
        "START WITH 1 INCREMENT BY 1 NO CYCLE"
    ).foreach { ddl =>
      try { st.execute(ddl); () }
      catch {
        case e: java.sql.SQLException
            if Seq("X0Y32", "X0Y68").contains(e.getSQLState) => ()
      }
    } finally st.close()
  }

  def recordMeta(c: Connection,
      meta: Seq[MssqlDialect.MetaColumn]): Unit = {
    val ps = c.prepareStatement(
      "INSERT INTO INFORMATION_SCHEMA.COLUMNS_META VALUES (?,?,?,?,?,?,?,?,?)")
    try meta.foreach { m =>
      ps.setString(1, m.table)
      ps.setString(2, m.column)
      ps.setInt(3, m.ordinal)
      ps.setString(4, m.dataType)
      m.charMaxLen match {
        case Some(v) => ps.setInt(5, v)
        case None => ps.setNull(5, java.sql.Types.INTEGER)
      }
      m.numPrecision match {
        case Some(v) => ps.setInt(6, v)
        case None => ps.setNull(6, java.sql.Types.INTEGER)
      }
      m.numScale match {
        case Some(v) => ps.setInt(7, v)
        case None => ps.setNull(7, java.sql.Types.INTEGER)
      }
      ps.setString(8, if (m.isNullable) "YES" else "NO")
      ps.setString(9, m.constraints)
      ps.executeUpdate()
    } finally ps.close()
  }
}

/** MSSQL rowversion emulation (mssql_type.rs:32-35's column kind):
  * the value is a database-wide modification counter the SERVER
  * assigns — `INSERT` statements must not name the column (real MSSQL
  * rejects "Cannot insert an explicit value into a timestamp
  * column"), and every inserted row draws the next counter value.
  * Implemented with a per-database Derby sequence; the INSERT rewrite
  * appends the column and a `NEXT VALUE FOR` expression per row
  * tuple, quote- and paren-aware.
  */
private object MssqlRowversion {

  private val insertRe =
    "(?is)^\\s*INSERT\\s+INTO\\s+\\[([^\\]]+)\\]\\s*\\(([^)]*)\\)".r
      .unanchored

  private val updateRe =
    "(?is)^\\s*UPDATE\\s+\\[([^\\]]+)\\]\\s+SET\\s".r.unanchored

  private val SeqExpr = "NEXT VALUE FOR INFORMATION_SCHEMA.ROWVERSION_SEQ"

  /** The table's rowversion column, if any (catalog DATA_TYPE is
    * "timestamp" — mssql_type.rs:32-35 metadata parity).
    */
  private def rowversionColumn(conn: Connection, table: String): Option[String] = {
    val ps = conn.prepareStatement(
      "SELECT COLUMN_NAME FROM INFORMATION_SCHEMA.COLUMNS_META " +
        "WHERE TABLE_NAME = ? AND DATA_TYPE = 'timestamp'")
    try {
      ps.setString(1, table)
      val rs = ps.executeQuery()
      try if (rs.next()) Some(rs.getString(1)) else None
      finally rs.close()
    } finally ps.close()
  }

  /** Rewrite a TRANSLATED insert (ANSI text) for the raw T-SQL it came
    * from: reject explicit rowversion values; append the auto column
    * otherwise. Non-INSERT statements pass through untouched. Returns
    * one statement per VALUES tuple — Derby allows only ONE sequence
    * reference per statement, so a multi-row insert becomes N
    * single-row inserts, each drawing its own counter value in tuple
    * order (matching MSSQL, where every inserted row gets a distinct
    * rowversion).
    */
  def apply(conn: Connection, raw: String, translated: String): Seq[String] =
    raw match {
      case insertRe(table, colList) =>
        rowversionColumn(conn, table) match {
          case None => Seq(translated)
          case Some(rv) =>
            val listed = "\\[([^\\]]+)\\]".r
              .findAllMatchIn(colList).map(_.group(1)).toSeq
            if (listed.exists(_.equalsIgnoreCase(rv)))
              throw new IllegalArgumentException(
                s"mssql-mode: cannot insert an explicit value into the " +
                  s"rowversion column [$rv] of [$table] — the server " +
                  "assigns it (MSSQL timestamp-column semantics)")
            appendAutoColumn(translated, rv)
        }
      case updateRe(table) =>
        rowversionColumn(conn, table) match {
          case None => Seq(translated)
          case Some(rv) =>
            // MSSQL bumps rowversion on every UPDATE, one distinct
            // value per modified row (Derby's NEXT VALUE in a SET
            // clause draws per row too — verified), and rejects
            // explicit assignment ("Cannot update a timestamp column")
            // scan on literal-MASKED text: a string value containing
            // ' WHERE ' must not truncate the SET span, and one
            // containing '[rv] =' must not trip the rejection.
            // regionMatches on the original (not a toUpperCase copy
            // whose length can drift under full case mapping).
            val setSpan = {
              val m = MssqlDialect.maskLiterals(raw)
              def find(kw: String, from: Int): Int = {
                var i = from
                while (i <= m.length - kw.length) {
                  if (m.regionMatches(true, i, kw, 0, kw.length)) return i
                  i += 1
                }
                -1
              }
              val from = find(" SET ", 0) + 5
              val to = find(" WHERE ", from) match {
                case -1 => m.length
                case w => w
              }
              m.substring(from, to)
            }
            if (s"(?i)\\[${java.util.regex.Pattern.quote(rv)}\\]\\s*=".r
                .findFirstIn(setSpan).isDefined)
              throw new IllegalArgumentException(
                s"mssql-mode: cannot update the rowversion column [$rv] " +
                  s"of [$table] — the server assigns it " +
                  "(MSSQL timestamp-column semantics)")
            val setEnd = firstKeywordEnd(translated, "SET")
            if (setEnd < 0) throw new IllegalArgumentException(
              s"mssql-mode: malformed UPDATE: ${translated.take(120)}")
            Seq(translated.substring(0, setEnd) +
              s""" "$rv" = $SeqExpr,""" + translated.substring(setEnd))
        }
      case _ => Seq(translated)
    }

  /** End index of the first unquoted occurrence of `kw` as a word in
    * translated ANSI text (''-literals and ""-identifiers skipped),
    * or -1.
    */
  private def firstKeywordEnd(sql: String, kw: String): Int = {
    var i = 0
    val n = sql.length
    var quote: Char = 0
    while (i < n) {
      val c = sql.charAt(i)
      if (quote != 0) {
        if (c == quote) {
          if (i + 1 < n && sql.charAt(i + 1) == quote) i += 1 else quote = 0
        }
      } else if (c == '\'' || c == '"') quote = c
      else if (sql.regionMatches(true, i, kw, 0, kw.length) &&
          (i == 0 || !sql.charAt(i - 1).isLetterOrDigit) &&
          (i + kw.length >= n || !sql.charAt(i + kw.length).isLetterOrDigit))
        return i + kw.length
      i += 1
    }
    -1
  }

  /** `INSERT INTO "t" ("a","b") VALUES (x,y), (z,w)` →
    * `INSERT INTO "t" ("a","b","rv") VALUES (x, y, NEXT VALUE …)` and
    * `… VALUES (z, w, NEXT VALUE …)` — one STATEMENT per tuple,
    * because Derby allows a sequence reference only once per
    * statement (and types untyped NULLs only in a direct INSERT
    * VALUES, ruling out the derived-table form). Scans quote-aware
    * (''-escaped literals, ""-escaped identifiers) and depth-aware
    * (CAST(...) nests) to find the column-list close, the VALUES
    * keyword, and the depth-0 tuple boundaries; works for literal
    * multi-row inserts and `?`-parameter prepared inserts alike.
    */
  private[engine] def appendAutoColumn(sql: String, rv: String): Seq[String] = {
    var quote: Char = 0
    var depth = 0
    var colClose = -1
    var valuesAt = -1
    var i = 0
    val n = sql.length
    // pass 1: locate the column-list close and the VALUES keyword
    while (i < n && valuesAt < 0) {
      val c = sql.charAt(i)
      if (quote != 0) {
        if (c == quote) {
          if (i + 1 < n && sql.charAt(i + 1) == quote) i += 1
          else quote = 0
        }
      } else c match {
        case '\'' | '"' => quote = c
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0 && colClose < 0) colClose = i
        case _ if depth == 0 && colClose >= 0 &&
            sql.regionMatches(true, i, "VALUES", 0, 6) =>
          valuesAt = i
        case _ => ()
      }
      i += 1
    }
    if (colClose < 0 || valuesAt < 0)
      throw new IllegalArgumentException(
        "mssql-mode: cannot auto-assign rowversion for INSERT without " +
          s"an explicit column list and VALUES: ${sql.take(120)}")
    val head = sql.substring(0, colClose) + s", \"$rv\")" +
      sql.substring(colClose + 1, valuesAt) + "VALUES "
    // pass 2: split the tuple list on depth-0 commas
    val tuples = Vector.newBuilder[String]
    val cur = new StringBuilder
    quote = 0; depth = 0
    i = valuesAt + 6
    while (i < n) {
      val c = sql.charAt(i)
      if (quote != 0) {
        cur.append(c)
        if (c == quote) {
          if (i + 1 < n && sql.charAt(i + 1) == quote) {
            cur.append(quote); i += 1
          } else quote = 0
        }
      } else c match {
        case '\'' | '"' => quote = c; cur.append(c)
        case '(' => depth += 1; cur.append(c)
        case ')' => depth -= 1; cur.append(c)
        case ',' if depth == 0 => tuples += cur.toString; cur.clear()
        case other => cur.append(other)
      }
      i += 1
    }
    tuples += cur.toString
    tuples.result().map { t =>
      val tt = t.trim
      if (!(tt.startsWith("(") && tt.endsWith(")")))
        throw new IllegalArgumentException(
          s"mssql-mode: malformed VALUES tuple for rowversion insert: $tt")
      head + tt.dropRight(1) + s", $SeqExpr)"
    }
  }
}

private final class MssqlModeConnHandler(underlying: Connection)
    extends InvocationHandler {
  override def invoke(proxy: AnyRef, method: Method, args: Array[AnyRef]): AnyRef =
    try method.getName match {
      case "createStatement" =>
        val st = method.invoke(underlying, args: _*).asInstanceOf[Statement]
        Proxy.newProxyInstance(getClass.getClassLoader,
          Array(classOf[Statement]),
          new MssqlModeStmtHandler(st, underlying))
      case "prepareStatement" | "prepareCall" | "nativeSQL"
          if args != null && args.nonEmpty && args(0).isInstanceOf[String] =>
        val raw = args(0).asInstanceOf[String]
        if (raw.toUpperCase.contains("INFORMATION_SCHEMA."))
          MssqlModeEngine.infoSchemaProbes.incrementAndGet()
        val sql = MssqlDialect.route(raw) match {
          case MssqlDialect.Translated(s) =>
            MssqlRowversion(underlying, raw, s) match {
              case Seq(one) => one
              case _ => throw new IllegalArgumentException(
                "mssql-mode: multi-row INSERT into a rowversion table " +
                  "is not preparable (one counter draw per statement); " +
                  "use Statement.execute or single-row tuples")
            }
          case _: MssqlDialect.CreateTable =>
            throw new IllegalArgumentException(
              "mssql-mode: CREATE TABLE must go through Statement.execute " +
                "(the catalog recording is not preparable)")
        }
        method.invoke(underlying, (sql +: args.drop(1)): _*)
      case _ => method.invoke(underlying, args: _*)
    } catch { case e: InvocationTargetException => throw e.getCause }
}

private final class MssqlModeStmtHandler(underlying: Statement,
    conn: Connection) extends InvocationHandler {
  override def invoke(proxy: AnyRef, method: Method, args: Array[AnyRef]): AnyRef =
    try method.getName match {
      case "execute" | "executeQuery" | "executeUpdate" | "executeLargeUpdate" |
          "addBatch"
          if args != null && args.nonEmpty && args(0).isInstanceOf[String] =>
        val raw = args(0).asInstanceOf[String]
        if (raw.toUpperCase.contains("INFORMATION_SCHEMA."))
          MssqlModeEngine.infoSchemaProbes.incrementAndGet()
        MssqlDialect.route(raw) match {
          case MssqlDialect.CreateTable(sql, meta) =>
            if (method.getName == "addBatch")
              throw new IllegalArgumentException(
                "mssql-mode: CREATE TABLE not valid via addBatch")
            MssqlModeEngine.translatedStatements.incrementAndGet()
            val out = method.invoke(underlying, (sql +: args.drop(1)): _*)
            MssqlModeBootstrap.recordMeta(conn, meta)
            out
          case MssqlDialect.Translated(sql) =>
            MssqlModeEngine.translatedStatements.incrementAndGet()
            MssqlRowversion(conn, raw, sql) match {
              case Seq(one) =>
                method.invoke(underlying, (one +: args.drop(1)): _*)
              case many =>
                // a rowversion multi-row insert became one statement
                // per tuple (sequence-draw rule); fold the results
                // back into the caller's expected shape. MSSQL executes
                // the original as ONE atomic statement, so under
                // autocommit the N tuples must commit or roll back
                // together — a mid-list failure must not keep earlier
                // tuples. Via addBatch that atomicity is NOT
                // reproducible (executeBatch under autocommit commits
                // each queued entry separately, and wrapping the WHOLE
                // batch in one txn would over-atomize the caller's
                // unrelated entries), so reject it loudly — the same
                // contract as the prepare path above.
                if (method.getName == "addBatch")
                  throw new IllegalArgumentException(
                    "mssql-mode: multi-row INSERT into a rowversion " +
                      "table is not batchable (MSSQL runs it as one " +
                      "atomic statement; executeBatch under autocommit " +
                      "cannot) — use Statement.execute or single-row " +
                      "tuples")
                def runAll(): Seq[AnyRef] = many.map(s2 =>
                  method.invoke(underlying, (s2 +: args.drop(1)): _*))
                val rets =
                  if (!conn.getAutoCommit)
                    runAll()
                  else {
                    conn.setAutoCommit(false)
                    try {
                      val r = runAll()
                      conn.commit()
                      r
                    } catch {
                      case e: Throwable =>
                        try conn.rollback()
                        catch { case _: java.sql.SQLException => () }
                        throw e
                    } finally conn.setAutoCommit(true)
                  }
                method.getName match {
                  case "executeUpdate" =>
                    Integer.valueOf(rets.map(_.asInstanceOf[Integer].intValue).sum)
                  case "executeLargeUpdate" =>
                    java.lang.Long.valueOf(
                      rets.map(_.asInstanceOf[java.lang.Long].longValue).sum)
                  case _ => rets.last // execute: Boolean
                }
            }
        }
      case _ => method.invoke(underlying, args: _*)
    } catch { case e: InvocationTargetException => throw e.getCause }
}

/** Live [[SchemaSource]] over the MSSQL-mode wire — the shim-backed
  * rendering of the reference's DatabaseExtractor
  * (extractor.rs:25-128): the table list and per-column schema come
  * from INFORMATION_SCHEMA queries in the extractor's own shape
  * (SELECTed over the live wire, NOT JDBC DatabaseMetaData — that is
  * [[JdbcSchemaSource]]'s portable path), the constraint strings
  * decode through [[Constraint.fromString]] (constraints.rs:16-55),
  * and the scan applies the extractor's decode quirks: rowversion
  * arrives as the counter it is, and datetimeoffset text converts to
  * UTC exactly like format.rs:140-161.
  */
final class MssqlSchemaSource(url: String, numPartitions: Int = 8)
    extends SchemaSource {

  /** A close failure is attached to a failure of `f` as suppressed,
    * never in its place.
    */
  private def withConn[T](f: Connection => T): T =
    scala.util.Using.resource(DriverManager.getConnection(url))(f)

  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[ColumnSchema]]

  /** extractor.rs:29-31 — the reference's exact probe text. */
  override def fetchTables(): Seq[String] = withConn { c =>
    MssqlModeEngine.fetchedTables.incrementAndGet()
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(
        "SELECT TABLE_NAME FROM INFORMATION_SCHEMA.TABLES " +
          "WHERE TABLE_TYPE = 'BASE TABLE'")
      val out = ListBuffer.empty[String]
      try while (rs.next()) out += rs.getString(1)
      finally rs.close()
      out.toSeq.sorted
    } finally st.close()
  }

  override def getTableSchema(table: String): Seq[ColumnSchema] =
    schemaCache.getOrElseUpdate(table, probeSchema(table))

  /** extractor.rs:54-94 — INFORMATION_SCHEMA.COLUMNS with the
    * CONSTRAINTS string column, decoded through the same
    * [[MssqlType]] / [[Constraint.fromString]] path the fixture
    * source uses (schema.rs/constraints.rs parity).
    */
  private def probeSchema(table: String): Seq[ColumnSchema] = withConn { c =>
    // [CONSTRAINTS] is bracket-quoted: the word is reserved in the
    // backing store's grammar (MSSQL itself would accept it bare, as
    // the reference's alias does)
    val ps = c.prepareStatement(
      "SELECT c.COLUMN_NAME, c.DATA_TYPE, c.CHARACTER_MAXIMUM_LENGTH, " +
        "c.NUMERIC_PRECISION, c.NUMERIC_SCALE, c.IS_NULLABLE, " +
        "c.[CONSTRAINTS] FROM INFORMATION_SCHEMA.COLUMNS c " +
        "WHERE c.TABLE_NAME = ? ORDER BY c.ORDINAL_POSITION")
    try {
      ps.setString(1, table)
      val rs = ps.executeQuery()
      val out = ListBuffer.empty[ColumnSchema]
      try while (rs.next()) {
        val name = rs.getString(1)
        val typeName = rs.getString(2)
        val mssql = MssqlType.fromString(typeName).getOrElse(
          throw new MigrationException.UnknownSourceType(table, name, typeName))
        def optInt(i: Int): Option[Int] = {
          val v = rs.getInt(i); if (rs.wasNull()) None else Some(v)
        }
        val constraint = Constraint.fromString(rs.getString(7)) match {
          case Right(cOpt) => cOpt
          case Left(err) => throw new IllegalArgumentException(
            s"mssql-mode probe: $table.$name: $err")
        }
        out += ColumnSchema(name, mssql,
          characterMaximumLength = optInt(3),
          numericPrecision = optInt(4),
          numericScale = optInt(5),
          isNullable = rs.getString(6).equalsIgnoreCase("YES"),
          constraints = constraint)
      } finally rs.close()
      out.toSeq
    } finally ps.close()
  }

  /** Distributed scan over the T-SQL wire ([bracket]-quoted via the
    * registered Spark dialect), under [[PartitionedScan]]'s rule like
    * the portable source. Decode quirks applied on the way out:
    * datetimeoffset columns (stored as their offset-bearing text)
    * convert to UTC instants — format.rs:140-161's offset-subtraction
    * — so downstream sees one timeline, which is exactly what the
    * reference's literal renderer emits.
    */
  override def read(spark: SparkSession, table: String): DataFrame = {
    val schema = getTableSchema(table)
    val raw = PartitionedScan.read(spark, url, table, schema,
      mssqlIdentifier, () => DriverManager.getConnection(url), numPartitions,
      new java.util.Properties)
    schema.foldLeft(raw) { (df, c) =>
      MssqlModeEngine.canonicalDecode(c).fold(df)(
        e => df.withColumn(c.columnName, e(col(c.columnName))))
    }
  }
}
