package graft.engine

import java.sql.{Connection, DriverManager, Types}

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.naming.SqlEscape.mysqlIdentifier
import graft.types.{ColumnSchema, Constraint, MssqlType}

/** Statement-level dialect adapter for the JDBC target. The pipeline
  * renders MySQL-dialect SQL (the reference's target,
  * /root/reference/src/insert/query.rs); a MySQL target executes it
  * verbatim, while the ANSI flavor rewrites just enough (identifier
  * quoting, type tokens, FK-toggle support) to drive an embedded ANSI
  * database such as Derby — which is also what the e2e tests run
  * against, since the container has no MySQL server.
  */
sealed trait SqlFlavor extends Serializable {
  /** Rewrite one rendered MySQL-dialect statement for this target. */
  def translate(sql: String): String

  /** (off, on) FK-check toggles around a transactional batch
    * (inserter.rs:88-111), when the target supports them.
    */
  def fkToggle: Option[(String, String)]

  /** `SELECT @@max_allowed_packet` equivalent, if the target has the
    * concept (inserter.rs:113-119).
    */
  def maxPacketSql: Option[String]

  /** Whether the target accepts the reference's QUOTED decimal
    * literals (format.rs:42-55 renders numerics as `'12.3456'`; the
    * MySQL wire coerces them). ANSI engines reject CHAR→DECIMAL in
    * VALUES, so the renderer emits bare numeric text instead — a
    * per-target literal capability, not a renderer-parity change.
    */
  def quotedDecimalLiterals: Boolean
}

/** Pass-through: the rendered SQL is already MySQL. */
case object MySqlFlavor extends SqlFlavor {
  override def translate(sql: String): String = sql
  override val fkToggle: Option[(String, String)] =
    Some(("SET FOREIGN_KEY_CHECKS=0", "SET FOREIGN_KEY_CHECKS=1"))
  override val maxPacketSql: Option[String] = Some("SELECT @@max_allowed_packet")
  override val quotedDecimalLiterals: Boolean = true
}

/** ANSI targets (embedded Derby in tests): double-quoted identifiers,
  * ANSI type names, no FK toggle / packet variable. Identifier
  * translation is applied only where data literals cannot appear (DDL,
  * and the INSERT head before VALUES), so string values containing
  * backticks are never corrupted.
  */
case object AnsiFlavor extends SqlFlavor {
  private def quoteIdents(s: String): String = s.replace('`', '"')

  /** `0xHEX` binary literals (SqlLiteral's format.rs:17-parity
    * rendering, fine for MySQL wires) → Derby's typed hex form.
    * Literal-aware: a '0x…' INSIDE a single-quoted string value is
    * data and must not be touched, so scan quote state by hand
    * ('' stays an escape — one quoted span, not two).
    */
  // boundary classes mirroring the regex form: \w plus the quote
  // chars that guard the left edge ((?<![\w'"]))
  private def isWordChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_'
  private def isHexGuard(c: Char): Boolean =
    isWordChar(c) || c == '\'' || c == '"'

  private[engine] def hexToTypedBlob(text: String): String = {
    val out = new StringBuilder(text.length)
    var i = 0
    val n = text.length
    var inStr = false
    while (i < n) {
      val c = text.charAt(i)
      if (inStr) {
        out.append(c)
        if (c == '\'') {
          if (i + 1 < n && text.charAt(i + 1) == '\'') {
            out.append('\''); i += 1
          } else inStr = false
        }
        i += 1
      } else if (c == '\'') {
        out.append(c); inStr = true; i += 1
      } else if ((c == '0') && i + 1 < n &&
          (text.charAt(i + 1) == 'x' || text.charAt(i + 1) == 'X') &&
          (i == 0 || !isHexGuard(text.charAt(i - 1)))) {
        var j = i + 2
        while (j < n && Character.digit(text.charAt(j), 16) >= 0) j += 1
        // mirror the regex form's boundaries ((?<![\w'"])0x[0-9a-f]+
        // (?![\w])): at least one hex digit and no word char following
        // — '0x' alone or '0xg…' is not a hex literal, copy through
        if (j > i + 2 && (j >= n || !isWordChar(text.charAt(j)))) {
          out.append("CAST(X'").append(text.substring(i + 2, j))
            .append("' AS BLOB)")
          i = j
        } else {
          out.append(c); i += 1
        }
      } else {
        out.append(c); i += 1
      }
    }
    out.toString
  }

  // quote lookarounds keep the rules off double-quoted identifiers: a
  // column legitimately named "text" or "datetime" is left alone
  // (shared with the MySQL-mode engine shim, which applies them to
  // literal-masked text where the same invariant holds)
  private[engine] val typeRules: Seq[(String, String)] = Seq(
    "longtext" -> "CLOB",
    "text" -> "CLOB",
    "longblob" -> "BLOB",
    "varbinary\\(\\d+\\)" -> "BLOB",
    "binary\\(\\d+\\)" -> "BLOB",
    "datetime\\(\\d+\\)" -> "TIMESTAMP",
    "datetime" -> "TIMESTAMP",
    // time values arrive as the reference's rendered '%H:%M:%S%.f'
    // strings (format.rs:72-86); Derby TIME drops fractions, so ANSI
    // targets carry the text (MySQL targets keep real `time`)
    "time\\(\\d+\\)" -> "VARCHAR(18)",
    "time" -> "VARCHAR(18)",
    "tinyint unsigned" -> "SMALLINT",
    "smallint unsigned" -> "INTEGER",
    "int unsigned" -> "BIGINT",
    "bigint unsigned" -> "BIGINT",
    "tinyint" -> "SMALLINT",
    "float\\(\\d+, \\d+\\)" -> "DOUBLE",
    "float" -> "DOUBLE",
    "real\\(\\d+, \\d+\\)" -> "REAL")
    // NOT \b delimiters: the parenthesized patterns end in ')' where
    // \b fails (no word boundary between ')' and ' '/','), silently
    // skipping the sized rule and leaving e.g. varbinary(16) — or
    // double-applying a bare rule after it
    .map { case (re, to) => s"""(?i)(?<!["\\w])$re(?![\\w"])""" -> to } :+
    // ANSI has no explicit NULL nullability keyword (NOT NULL stays)
    ("(?i)(?<!NOT) NULL\\b" -> "")

  override def translate(sql: String): String = {
    val upper = sql.toUpperCase
    if (upper.startsWith("INSERT INTO")) {
      // values after VALUES are data literals; the renderer escapes
      // them for MySQL's backslash-escape mode, so for an ANSI target
      // (backslash = plain character) every doubled backslash must
      // come back down to one — sound precisely because every
      // backslash in OUR generated literals was doubled by
      // SqlEscape.sqlString (quotes are ''-escaped, ANSI-compatible)
      // locate " VALUES" OUTSIDE backtick-quoted identifiers — a
      // column legitimately named with the word would otherwise split
      // the statement mid-identifier (the raw-text bug class the
      // strict shims were cured of)
      val at = {
        var i = 0
        var found = -1
        var inTick = false
        while (found < 0 && i < sql.length) {
          val c = sql.charAt(i)
          if (c == '`') inTick = !inTick
          // regionMatches on the ORIGINAL string: indexing a
          // toUpperCase copy would misalign after any char whose
          // full case mapping changes length ('ß' → "SS")
          else if (!inTick && sql.regionMatches(true, i, " VALUES", 0, 7))
            found = i
          i += 1
        }
        found
      }
      if (at < 0) quoteIdents(sql)
      else quoteIdents(sql.substring(0, at)) +
        hexToTypedBlob(sql.substring(at).replace("\\\\", "\\"))
    } else if (upper.startsWith("CREATE TABLE") ||
        upper.startsWith("ALTER TABLE")) {
      // type-defining DDL: requote + retype — with single-quoted
      // literal spans MASKED first, because constraint ALTERs
      // legitimately carry them (CHECK clause text, DEFAULT values;
      // SqlDdl.createConstraints) and a DEFAULT like 'new text' must
      // not become 'new CLOB' under the type rules.
      // Identifiers are backtick-quoted in the rendered SQL and become
      // double-quoted before the type rules run, so a column named
      // "text" or "datetime" is not a bare \b-word and never matches.
      val lits = Vector.newBuilder[String]
      val masked = new StringBuilder
      var i = 0
      while (i < sql.length) sql.charAt(i) match {
        case '\'' =>
          var j = i + 1
          while (j < sql.length && !(sql.charAt(j) == '\'' &&
            (j + 1 >= sql.length || sql.charAt(j + 1) != '\'')))
            j += (if (sql.charAt(j) == '\'') 2 else 1)
          val end = math.min(j + 1, sql.length)
          lits += sql.substring(i, end)
          masked.append('\u0001') // sentinel: never in our DDL
          i = end
        case c => masked.append(c); i += 1
      }
      val typed = typeRules.foldLeft(quoteIdents(masked.toString)) {
        case (acc, (re, to)) => acc.replaceAll(re, to)
      }
      lits.result().foldLeft(typed)((acc, l) =>
        acc.replaceFirst("\u0001", java.util.regex.Matcher.quoteReplacement(l)))
    } else {
      // everything else (SELECT COUNT(*), DROP, TRUNCATE, resets):
      // identifier quoting only — type keywords must stay untouched
      quoteIdents(sql)
    }
  }

  override val fkToggle: Option[(String, String)] = None
  override val maxPacketSql: Option[String] = None
  override val quotedDecimalLiterals: Boolean = false
}

/** Live JDBC implementation of [[SchemaSource]] — the production
  * boundary the reference's DatabaseExtractor fills over MSSQL
  * (/root/reference/src/extract/extractor.rs:25-128). The schema probe
  * uses JDBC DatabaseMetaData (the portable equivalent of the
  * reference's INFORMATION_SCHEMA.COLUMNS + constraint-usage query);
  * the full scan is `spark.read.jdbc`, partitioned on an integral
  * primary-key column when one exists so a large source table is ranged
  * across executors instead of streamed through one connection — the
  * Spark-native upgrade of the reference's single-connection
  * `stream_rows`.
  */
final class JdbcSchemaSource(url: String, numPartitions: Int = 8,
    user: Option[String] = None, password: Option[String] = None)
    extends SchemaSource {

  private def connect(): Connection = user match {
    case Some(u) => DriverManager.getConnection(url, u, password.getOrElse(""))
    case None => DriverManager.getConnection(url)
  }

  /** A close failure is attached to a failure of `f` as suppressed,
    * never in its place.
    */
  private def withConn[T](f: Connection => T): T =
    scala.util.Using.resource(connect())(f)

  // one probe per table per source instance: Migrator fetches the
  // schema and read() needs only the PK column — without the cache
  // every table paid the 3 metadata round-trips twice
  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[ColumnSchema]]

  /** Base tables of the connection's current schema
    * (extractor.rs:25-49: TABLE_TYPE = 'BASE TABLE').
    */
  override def fetchTables(): Seq[String] = withConn { c =>
    val rs = c.getMetaData.getTables(null, c.getSchema, "%", Array("TABLE"))
    val out = ListBuffer.empty[String]
    while (rs.next()) out += rs.getString("TABLE_NAME")
    rs.close()
    out.toSeq.sorted
  }

  /** Column metadata + key constraints (extractor.rs:51-94). JDBC type
    * codes present as the MSSQL types the mapping registry understands;
    * primary/imported keys come from the metadata key probes (the
    * portable rendering of the reference's TABLE_CONSTRAINTS /
    * REFERENTIAL_CONSTRAINTS joins).
    */
  override def getTableSchema(table: String): Seq[ColumnSchema] =
    schemaCache.getOrElseUpdate(table, probeTableSchema(table))

  private def probeTableSchema(table: String): Seq[ColumnSchema] = withConn { c =>
    val md = c.getMetaData

    val pks = {
      val rs = md.getPrimaryKeys(null, c.getSchema, table)
      val out = ListBuffer.empty[String]
      while (rs.next()) out += rs.getString("COLUMN_NAME")
      rs.close()
      out.toSet
    }
    val fks = {
      val rs = md.getImportedKeys(null, c.getSchema, table)
      val out = ListBuffer.empty[(String, (String, String))]
      while (rs.next()) out += (rs.getString("FKCOLUMN_NAME") ->
        (rs.getString("PKTABLE_NAME"), rs.getString("PKCOLUMN_NAME")))
      rs.close()
      out.toMap
    }
    val uniques = DerbyConstraintProbe.uniqueColumns(c, table, pks)
    val checks = DerbyConstraintProbe.checkClauses(c, table)

    val rs = md.getColumns(null, c.getSchema, table, "%")
    val cols = ListBuffer.empty[ColumnSchema]
    while (rs.next()) {
      val name = rs.getString("COLUMN_NAME")
      val jdbcType = rs.getInt("DATA_TYPE")
      val size = rs.getInt("COLUMN_SIZE")
      val scale = rs.getInt("DECIMAL_DIGITS")
      val nullable = rs.getInt("NULLABLE") != java.sql.DatabaseMetaData.columnNoNulls
      val columnDefault = Option(rs.getString("COLUMN_DEF")).map(_.trim)
        .filter(_.nonEmpty)
      val (mssql, len, prec, sc) = jdbcType match {
        case Types.BIT | Types.BOOLEAN => (MssqlType.Bit, None, None, None)
        case Types.TINYINT => (MssqlType.TinyInt, None, None, None)
        case Types.SMALLINT => (MssqlType.SmallInt, None, None, None)
        case Types.INTEGER => (MssqlType.Int, None, None, None)
        case Types.BIGINT => (MssqlType.BigInt, None, None, None)
        case Types.DECIMAL | Types.NUMERIC =>
          (MssqlType.Decimal, None, Some(size), Some(scale))
        case Types.DOUBLE | Types.FLOAT => (MssqlType.Float, None, None, None)
        case Types.REAL => (MssqlType.Real, None, None, None)
        case Types.CHAR => (MssqlType.Char, Some(size), None, None)
        case Types.NCHAR => (MssqlType.NChar, Some(size), None, None)
        // varchar(max)/nvarchar(max)/varbinary(max): drivers report
        // plain VARCHAR etc. with COLUMN_SIZE 2^31-1 (not LONGVARCHAR);
        // normalize to the -1 MAX encoding so the mapper promotes to
        // longtext/longblob like the reference's
        // CHARACTER_MAXIMUM_LENGTH = -1 probe does
        case Types.VARCHAR =>
          (MssqlType.Varchar, Some(if (size >= 1073741823) -1 else size),
            None, None)
        case Types.NVARCHAR | Types.LONGNVARCHAR =>
          (MssqlType.NVarchar, Some(if (size >= 1073741823) -1 else size),
            None, None)
        case Types.LONGVARCHAR | Types.CLOB =>
          (MssqlType.Text, Some(-1), None, None)
        case Types.BINARY => (MssqlType.Binary, Some(size), None, None)
        case Types.VARBINARY =>
          (MssqlType.VarBinary, Some(if (size >= 1073741823) -1 else size),
            None, None)
        case Types.LONGVARBINARY | Types.BLOB =>
          (MssqlType.Image, Some(-1), None, None)
        case Types.DATE => (MssqlType.Date, None, None, None)
        case Types.TIMESTAMP => (MssqlType.DateTime2, None, None, None)
        case Types.TIME => (MssqlType.Time, None, None, None)
        case other =>
          throw new MigrationException.UnknownSourceType(
            table, name, s"jdbc:$other")
      }
      // single constraint slot per column, with the reference
      // extractor's CASE precedence (extractor.rs:62-70): PRIMARY KEY
      // > FOREIGN KEY > UNIQUE > CHECK > DEFAULT. A column holding a
      // higher-ranked constraint loses the lower-ranked ones on both
      // engines (schema-model parity). UNIQUE/CHECK come from the
      // live catalog probes (getIndexInfo / SYS.SYSCHECKS), DEFAULT
      // from getColumns COLUMN_DEF — the full five-kind surface the
      // reference probes via INFORMATION_SCHEMA (extractor.rs:63-77),
      // previously reachable only through the fixture SchemaSource.
      val constraint: Option[Constraint] =
        if (pks.contains(name)) Some(Constraint.PrimaryKey)
        else fks.get(name).map { case (rt, rc) => Constraint.ForeignKey(rt, rc) }
          .orElse(if (uniques.contains(name)) Some(Constraint.Unique) else None)
          .orElse(checks.get(name).map(Constraint.Check(_)))
          .orElse(columnDefault.map(Constraint.Default(_)))
      cols += ColumnSchema(name, mssql, len, prec, sc, nullable, constraint)
    }
    rs.close()
    cols.toSeq
  }

  /** Distributed scan under [[PartitionedScan]]'s rule, over
    * ANSI-quoted identifiers.
    */
  override def read(spark: SparkSession, table: String): DataFrame = {
    val props = new java.util.Properties
    user.foreach(props.setProperty("user", _))
    password.foreach(props.setProperty("password", _))
    PartitionedScan.read(spark, url, table, getTableSchema(table),
      n => s""""$n"""", () => connect(), numPartitions, props)
  }
}

/** The live sources' one scan rule. The read is range-partitioned on
  * the first integral primary-key column in column order, whether the
  * key has one column or several, with bounds probed by one MIN/MAX
  * query; each executor then pulls its own key range over its own
  * connection. A key column is never null, so every row lands in
  * exactly one partition, and the write, which runs inside the scan's
  * partitions, fans out with it. A table with no integral key column,
  * or whose key spans a single value, keeps the reference's
  * one-stream read.
  */
private[engine] object PartitionedScan {

  private val integral: Set[MssqlType] =
    Set(MssqlType.TinyInt, MssqlType.SmallInt, MssqlType.Int, MssqlType.BigInt)

  /** `quote` is the source's identifier quoting; `connect` opens the
    * bounds probe's connection, which is closed here.
    */
  def read(spark: SparkSession, url: String, table: String,
      schema: Seq[ColumnSchema], quote: String => String,
      connect: () => Connection, numPartitions: Int,
      props: java.util.Properties): DataFrame = {
    val dbtable = quote(table)
    val key = schema.find(c => c.constraints.contains(Constraint.PrimaryKey) &&
      integral(c.dataType)).map(c => quote(c.columnName))
    val bounds = key.flatMap { k =>
      scala.util.Using.Manager { use =>
        val rs = use(use(use(connect()).createStatement())
          .executeQuery(s"SELECT MIN($k), MAX($k) FROM $dbtable"))
        if (rs.next() && rs.getObject(1) != null)
          Some((rs.getLong(1), rs.getLong(2))) else None
      }.get
    }
    (key, bounds) match {
      case (Some(k), Some((lo, hi))) if hi > lo =>
        spark.read.jdbc(url, dbtable, k, lo, hi, numPartitions, props)
      case _ => spark.read.jdbc(url, dbtable, props)
    }
  }
}

/** Live JDBC implementation of [[TargetWriter]] — the production
  * boundary the reference's DatabaseInserter fills over MySQL
  * (/root/reference/src/insert/inserter.rs:33-200). Each operation
  * opens its own connection (executor partition tasks each execute
  * packet-sized batches, so connection setup amortizes to noise; a
  * long-lived deployment would swap in a pool behind the same
  * methods), and every batch runs as one transaction with FK checks
  * toggled off/on when the flavor supports it, rolled back on error —
  * inserter.rs:88-111 exactly.
  */
final class JdbcTargetWriter(
    url: String,
    flavor: SqlFlavor = MySqlFlavor,
    defaultMaxPacket: Long = 16777216L,
    user: Option[String] = None,
    password: Option[String] = None) extends TargetWriter {

  /** A close failure is attached to a failure of `f` as suppressed,
    * never in its place.
    */
  private def withConn[T](f: Connection => T): T =
    scala.util.Using.resource(user match {
      case Some(u) => DriverManager.getConnection(url, u, password.getOrElse(""))
      case None => DriverManager.getConnection(url)
    })(f)

  private def exec(c: Connection, sql: String): Unit =
    scala.util.Using.resource(c.createStatement())(_.execute(sql): Unit)

  /** inserter.rs:88-111: BEGIN; FK off; statements; FK on; COMMIT —
    * rollback and rethrow on any failure. The connection is closed
    * right after, so auto-commit is not reset: on a connection the
    * failure already closed, the reset would throw "No current
    * connection" in place of the real error. A failed rollback rides
    * along as suppressed.
    */
  private def transactional(statements: Seq[String]): Unit = withConn { c =>
    c.setAutoCommit(false)
    try {
      flavor.fkToggle.foreach { case (off, _) => exec(c, off) }
      statements.foreach(s => exec(c, flavor.translate(s)))
      flavor.fkToggle.foreach { case (_, on) => exec(c, on) }
      c.commit()
    } catch {
      case e: Throwable =>
        val err = new RuntimeException(
          s"Cannot execute transaction query: ${statements.headOption
            .map(_.take(100)).getOrElse("EMPTY QUERY")}. Error: ${e.getMessage}", e)
        try c.rollback() catch { case r: Throwable => err.addSuppressed(r) }
        throw err
    }
  }

  override def maxAllowedPacket: Long = flavor.maxPacketSql match {
    case None => defaultMaxPacket
    case Some(q) => withConn { c =>
      val st = c.createStatement()
      val rs = st.executeQuery(q)
      val v = if (rs.next()) rs.getLong(1) else defaultMaxPacket
      rs.close(); st.close()
      v
    }
  }

  override def showTables(): Seq[String] = withConn { c =>
    val rs = c.getMetaData.getTables(null, c.getSchema, "%", Array("TABLE"))
    val out = ListBuffer.empty[String]
    while (rs.next()) out += rs.getString("TABLE_NAME")
    rs.close()
    out.toSeq.sorted
  }

  /** The reset script arrives as one `DROP/TRUNCATE TABLE x;` line per
    * table (SqlDdl.resetQuery); all lines run in one transaction
    * (inserter.rs:121-150).
    */
  override def executeReset(sql: String): Unit =
    transactional(sql.linesIterator.map(_.stripSuffix(";")).filter(_.nonEmpty).toSeq)

  override def tableExists(table: String): Boolean =
    showTables().exists(_.equalsIgnoreCase(table))

  override def rowCount(table: String): Long = withConn { c =>
    val st = c.createStatement()
    val rs = st.executeQuery(
      flavor.translate(s"SELECT COUNT(*) FROM ${mysqlIdentifier(table)}"))
    val n = if (rs.next()) rs.getLong(1) else 0L
    rs.close(); st.close()
    n
  }

  override def createTable(sql: String): Unit = transactional(Seq(sql))

  override def executeBatch(sql: String, rowCount: Int): Unit =
    transactional(Seq(sql))

  /** Constraint DDL arrives as `SET FOREIGN_KEY_CHECKS=0; ALTER TABLE
    * ...` (SqlDdl.createConstraints); the FK toggle is re-expressed
    * through the flavor (dropped on targets without it).
    */
  override def createConstraints(sql: String): Unit =
    transactional(SqlDdl.splitStatements(sql)
      .filterNot(_.toUpperCase.startsWith("SET FOREIGN_KEY_CHECKS")))

  override def quotedDecimalLiterals: Boolean = flavor.quotedDecimalLiterals
}

/** Live catalog probes for the constraint kinds JDBC DatabaseMetaData
  * has no portable call for — UNIQUE, CHECK — completing the five-kind
  * constraint surface the reference's extractor reads from
  * INFORMATION_SCHEMA (extractor.rs:63-77: PRIMARY KEY / FOREIGN KEY /
  * UNIQUE / CHECK(...) / DEFAULT ...). PK/FK/DEFAULT stay on the
  * portable metadata calls in [[JdbcSchemaSource]]; these two read
  * the standard index metadata and (for CHECK) the Derby system
  * catalog, degrading to empty on engines without it — the reference
  * equally reads engine-specific INFORMATION_SCHEMA views.
  */
private[engine] object DerbyConstraintProbe {

  /** Columns under a SINGLE-column UNIQUE constraint. Primary path:
    * SYS.SYSCONSTRAINTS TYPE='U' joined to the backing conglomerate
    * for the column positions — getIndexInfo(unique=true) alone is
    * NOT enough on Derby, which backs a UNIQUE on a nullable column
    * with a "unique when not null" index reported as NON_UNIQUE.
    * Fallback on non-Derby engines: the portable unique-index probe
    * (minus the PK's backing index). Multi-column unique constraints
    * have no slot in the reference's per-column model and are
    * skipped, like its CONSTRAINT_COLUMN_USAGE scalar subquery
    * silently collapses them.
    */
  def uniqueColumns(c: Connection, table: String,
      pkCols: Set[String]): Set[String] =
    try {
      val schema = Option(c.getSchema).getOrElse("APP")
      val ordered = orderedColumns(c, schema, table)
      val st = c.prepareStatement(
        """SELECT cg.DESCRIPTOR
          |FROM SYS.SYSCONSTRAINTS cons
          |JOIN SYS.SYSKEYS k ON k.CONSTRAINTID = cons.CONSTRAINTID
          |JOIN SYS.SYSCONGLOMERATES cg
          |  ON cg.CONGLOMERATEID = k.CONGLOMERATEID
          |JOIN SYS.SYSTABLES t ON cons.TABLEID = t.TABLEID
          |JOIN SYS.SYSSCHEMAS s ON t.SCHEMAID = s.SCHEMAID
          |WHERE t.TABLENAME = ? AND s.SCHEMANAME = ?
          |  AND cons.TYPE = 'U'""".stripMargin)
      st.setString(1, table)
      st.setString(2, schema)
      val rs = st.executeQuery()
      val out = Set.newBuilder[String]
      while (rs.next()) {
        val desc = rs.getObject(1)
        val positions = desc.getClass.getMethod("baseColumnPositions")
          .invoke(desc).asInstanceOf[Array[Int]].toSeq
        positions match {
          case Seq(p) if p >= 1 && p <= ordered.size => out += ordered(p - 1)
          case _ => () // multi-column unique: no per-column slot
        }
      }
      rs.close(); st.close()
      out.result()
    } catch {
      case _: java.sql.SQLException | _: ReflectiveOperationException |
          _: ClassCastException =>
        uniqueIndexColumns(c, table, pkCols)
    }

  private def orderedColumns(c: Connection, schema: String,
      table: String): Vector[String] = {
    val rs = c.getMetaData.getColumns(null, schema, table, "%")
    val out = ListBuffer.empty[String]
    while (rs.next()) out += rs.getString("COLUMN_NAME")
    rs.close()
    out.toVector // ordinal order: catalog positions are 1-based
  }

  private def uniqueIndexColumns(c: Connection, table: String,
      pkCols: Set[String]): Set[String] = {
    val rs = c.getMetaData.getIndexInfo(null, c.getSchema, table,
      /* unique = */ true, /* approximate = */ false)
    val byIndex = scala.collection.mutable.Map
      .empty[String, ListBuffer[String]]
    while (rs.next()) {
      val idx = rs.getString("INDEX_NAME")
      val col = rs.getString("COLUMN_NAME")
      if (idx != null && col != null)
        byIndex.getOrElseUpdate(idx, ListBuffer.empty) += col
    }
    rs.close()
    byIndex.values.collect {
      case cols if cols.size == 1 && !pkCols.contains(cols.head) => cols.head
    }.toSet
  }

  /** column -> check clause for SINGLE-column check constraints, from
    * SYS.SYSCHECKS (Derby's catalog; empty on other engines). The
    * referenced column comes from the catalog's ReferencedColumns
    * descriptor (read reflectively — the descriptor class lives in the
    * Derby jar), with a defensive fallback that matches the check text
    * against the table's column names.
    */
  def checkClauses(c: Connection, table: String): Map[String, String] = {
    val sql =
      """SELECT ck.CHECKDEFINITION, ck.REFERENCEDCOLUMNS
        |FROM SYS.SYSCHECKS ck
        |JOIN SYS.SYSCONSTRAINTS cons ON ck.CONSTRAINTID = cons.CONSTRAINTID
        |JOIN SYS.SYSTABLES t ON cons.TABLEID = t.TABLEID
        |JOIN SYS.SYSSCHEMAS s ON t.SCHEMAID = s.SCHEMAID
        |WHERE t.TABLENAME = ? AND s.SCHEMANAME = ?""".stripMargin
    try {
      val schema = Option(c.getSchema).getOrElse("APP")
      val ordered = {
        val rs = c.getMetaData.getColumns(null, schema, table, "%")
        val out = ListBuffer.empty[String]
        while (rs.next()) out += rs.getString("COLUMN_NAME")
        rs.close()
        out.toVector // ordinal order: positions in the descriptor are 1-based
      }
      val st = c.prepareStatement(sql)
      st.setString(1, table)
      st.setString(2, schema)
      val rs = st.executeQuery()
      val out = Map.newBuilder[String, String]
      while (rs.next()) {
        val raw = rs.getString(1).trim
        // Derby stores the parenthesized search condition; strip ONE
        // balanced outer layer so the clause slots into the
        // reference's 'CHECK (...)' rendering without double parens
        val clause =
          if (raw.startsWith("(") && raw.endsWith(")"))
            raw.substring(1, raw.length - 1).trim
          else raw
        val positions: Seq[Int] =
          try {
            val desc = rs.getObject(2)
            desc.getClass.getMethod("getReferencedColumnPositions")
              .invoke(desc).asInstanceOf[Array[Int]].toSeq
          } catch {
            case _: ReflectiveOperationException | _: ClassCastException =>
              // fallback: match QUOTED identifier tokens only — a raw
              // substring mis-binds when one column name is a prefix
              // of another (ID vs WIDTH) or appears inside a string
              // literal; Derby's stored clause quotes identifiers, so
              // an unquoted hit is data, not a reference
              ordered.zipWithIndex.collect {
                case (col, i) if clause.contains("\"" + col + "\"") => i + 1
              }
          }
        positions match {
          case Seq(p) if p >= 1 && p <= ordered.size =>
            out += ordered(p - 1) -> clause
          case _ => () // multi-column check: no per-column slot
        }
      }
      rs.close(); st.close()
      out.result()
    } catch {
      case _: java.sql.SQLException => Map.empty // not a Derby catalog
    }
  }
}
