package graft

import java.sql.DriverManager

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine._
import graft.types.{Constraint, MssqlType}

/** The strict MSSQL-dialect source shim (engine/MssqlModeEngine.scala):
  * T-SQL lexing/translation, the emulated INFORMATION_SCHEMA catalog,
  * and the extractor-parity decode quirks (tinyint as unsigned small
  * value, rowversion reported as "timestamp", datetimeoffset → UTC)
  * — the reference's read-side surface (extractor.rs:25-128,
  * format.rs:34,140-161, mssql_type.rs:32-35) over a live JDBC wire.
  */
class MssqlModeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // ---- dialect unit surface --------------------------------------------

  test("brackets translate to ANSI quotes; N'…' prefix drops") {
    assert(MssqlDialect.translate("SELECT [a], [b]]c] FROM [t]") ==
      """SELECT "a", "b]c" FROM "t"""")
    assert(MssqlDialect.translate("SELECT N'café' FROM [t]") ==
      """SELECT 'café' FROM "t"""")
    // a column fittingly named n is NOT a national prefix
    assert(MssqlDialect.translate("SELECT n FROM [t]") ==
      """SELECT n FROM "t"""")
  }

  test("T-SQL literals: '' unescapes, backslash stays a plain character") {
    assert(MssqlDialect.translate("SELECT 'O''Brien'") == "SELECT 'O''Brien'")
    assert(MssqlDialect.translate("SELECT 'a\\nb'") == "SELECT 'a\\nb'")
    // backticks and double quotes INSIDE a literal are data (the
    // strictness rejections apply only outside literal spans)
    assert(MssqlDialect.translate("SELECT 'a`b\"c'") == "SELECT 'a`b\"c'")
  }

  test("strictness: wrong-dialect statements are rejected loudly") {
    intercept[IllegalArgumentException](
      MssqlDialect.translate("""SELECT "a" FROM t"""))
    intercept[IllegalArgumentException](
      MssqlDialect.translate("SELECT `a` FROM t"))
    intercept[IllegalArgumentException](
      MssqlDialect.route("SET FOREIGN_KEY_CHECKS=0"))
    intercept[IllegalArgumentException](
      MssqlDialect.route("SELECT @@max_allowed_packet"))
  }

  test("CREATE TABLE maps the MSSQL-only types to Derby storage") {
    val t = MssqlDialect.translate(
      "CREATE TABLE [q] ([a] TINYINT, [b] ROWVERSION, " +
        "[c] DATETIMEOFFSET(7), [d] MONEY, [e] UNIQUEIDENTIFIER, " +
        "[f] NVARCHAR(80), [g] NVARCHAR(max), [h] DATETIME2(6))")
    assert(t.contains(""""a" SMALLINT"""))
    assert(t.contains(""""b" BIGINT"""))
    assert(t.contains(""""c" VARCHAR(48)"""))
    assert(t.contains(""""d" DECIMAL(19,4)"""))
    assert(t.contains(""""e" CHAR(36)"""))
    assert(t.contains(""""f" VARCHAR(80)"""))
    assert(t.contains(""""g" CLOB"""))
    assert(t.contains(""""h" TIMESTAMP"""))
    // type tokens inside literals stay data: a DEFAULT 'money' is not
    // a type slot (the same invariant the ANSI flavor upholds)
    val lit = MssqlDialect.translate(
      "CREATE TABLE [p] ([x] NVARCHAR(20) DEFAULT 'money text')")
    assert(lit.contains("'money text'"))
  }

  // ---- live wire -------------------------------------------------------

  private def withDb[T](name: String)(f: String => T): T = {
    val rest = s"memory:mssqlspec_$name;create=true"
    val url = MssqlModeEngine.url(rest)
    try f(url)
    finally {
      try DriverManager.getConnection(
        s"jdbc:derby:$rest".replace(";create=true", ";drop=true"))
      catch { case _: java.sql.SQLException => () }
    }
  }

  test("INFORMATION_SCHEMA emulation answers the extractor's probes") {
    withDb("isch") { url =>
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        st.execute(
          "CREATE TABLE [w] ([id] INT NOT NULL PRIMARY KEY, " +
            "[sku] NVARCHAR(20) UNIQUE, " +
            "[grade] INT CHECK ([grade] > 0), " +
            "[owner] INT REFERENCES [w]([id]), " +
            "[state] VARCHAR(10) DEFAULT 'new', " +
            "[rv] ROWVERSION NOT NULL)")
        // extractor.rs:29-31 shape
        val rs = st.executeQuery(
          "SELECT TABLE_NAME FROM INFORMATION_SCHEMA.TABLES " +
            "WHERE TABLE_TYPE = 'BASE TABLE'")
        assert(rs.next() && rs.getString(1) == "w")
        assert(!rs.next())
        rs.close(); st.close()
      } finally c.close()

      val src = new MssqlSchemaSource(url)
      assert(src.fetchTables() == Seq("w"))
      val schema = src.getTableSchema("w")
      val byName = schema.map(s => s.columnName -> s).toMap
      assert(byName("id").constraints == Some(Constraint.PrimaryKey))
      assert(!byName("id").isNullable)
      assert(byName("sku").constraints == Some(Constraint.Unique))
      assert(byName("sku").dataType == MssqlType.NVarchar)
      assert(byName("sku").characterMaximumLength == Some(20))
      assert(byName("grade").constraints ==
        Some(Constraint.Check("[grade] > 0")))
      assert(byName("owner").constraints ==
        Some(Constraint.ForeignKey("w", "id")))
      assert(byName("state").constraints ==
        Some(Constraint.Default("'new'")))
      // rowversion reports as "timestamp" (mssql_type.rs:32-35 parity)
      assert(byName("rv").dataType == MssqlType.RowVersion)
    }
  }

  test("constraint parsing is literal- and bracket-mask-aware") {
    withDb("mask") { url =>
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        st.execute(
          "CREATE TABLE [m] ([id] INT NOT NULL PRIMARY KEY, " +
            // constraint keywords INSIDE a DEFAULT literal are data:
            // they must not flip nullability or fabricate constraints
            "[a] VARCHAR(30) DEFAULT 'NOT NULL unique check (x', " +
            // a REAL CHECK after a 'ß'-laden literal (an uppercase-copy
            // index drifts: each ß → SS) whose body itself contains a
            // literal with ')' (raw paren-matching closes early)
            "[b] VARCHAR(30) DEFAULT 'ßßßßßßßß' CHECK ([b] <> 'ß)'), " +
            // 'check' inside a BRACKETED IDENTIFIER after the real
            // CHECK: a raw lastIndexOf lands on the identifier and
            // loses the constraint
            "[d_check] INT CHECK ([d_check] > 0), " +
            // an APOSTROPHE inside a bracketed identifier is part of
            // the NAME, not a literal delimiter: two independent
            // literal/bracket walks disagreed here — the ' toggled the
            // literal-only walk's state and INVERTED masking for the
            // rest of the definition, so the 'NOT NULL' literal's
            // keywords became visible (nullability flipped) and real
            // keywords after it got blanked
            "[o'brien] VARCHAR(20) DEFAULT 'NOT NULL', " +
            "[c] INT REFERENCES [m]([id]))")
        st.close()
      } finally c.close()

      val src = new MssqlSchemaSource(url)
      val byName = src.getTableSchema("m").map(s => s.columnName -> s).toMap
      assert(byName("a").isNullable)
      assert(byName("a").constraints ==
        Some(Constraint.Default("'NOT NULL unique check (x'")))
      assert(byName("b").constraints ==
        Some(Constraint.Check("[b] <> 'ß)'")))
      assert(byName("d_check").constraints ==
        Some(Constraint.Check("[d_check] > 0")))
      assert(byName("o'brien").isNullable,
        "a 'NOT NULL' DEFAULT literal after [o'brien] must stay data")
      assert(byName("o'brien").constraints ==
        Some(Constraint.Default("'NOT NULL'")))
      assert(byName("c").constraints == Some(Constraint.ForeignKey("m", "id")))
    }
  }

  test("scan decodes datetimeoffset to UTC and round-trips quirk types") {
    withDb("scan") { url =>
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        st.execute(
          "CREATE TABLE [q] ([id] INT NOT NULL PRIMARY KEY, " +
            "[tiny] TINYINT, [rv] ROWVERSION, [dto] DATETIMEOFFSET(7), " +
            "[m] MONEY)")
        st.execute(
          "INSERT INTO [q] ([id],[tiny],[dto],[m]) VALUES " +
            "(1, 127, '2021-03-04 05:06:07.1230000 +02:00', 1.5), " +
            "(2, 0, '2020-12-31 23:30:00.0000000 -01:30', -2.25), " +
            "(3, NULL, NULL, NULL)")
        st.close()
      } finally c.close()

      val src = new MssqlSchemaSource(url, numPartitions = 2)
      val df = src.read(spark, "q").orderBy(col("id"))
      val rows = df.collect()
      assert(rows.length == 3)
      // format.rs:140-161: local wall time minus offset = UTC instant
      assert(rows(0).getAs[java.sql.Timestamp]("dto").toInstant ==
        java.time.Instant.parse("2021-03-04T03:06:07.123Z"))
      assert(rows(1).getAs[java.sql.Timestamp]("dto").toInstant ==
        java.time.Instant.parse("2021-01-01T01:00:00Z"))
      assert(rows(2).isNullAt(rows(2).fieldIndex("dto")))
      // Spark's JDBC read widens the stored SMALLINT to IntegerType;
      // the source folds it back to the canonical ShortType
      // (SURVEY §1.2: tinyint is U8, format.rs:34)
      assert(df.schema("tiny").dataType ==
        org.apache.spark.sql.types.ShortType)
      assert(rows(0).getAs[Short]("tiny") == 127)
      // the shim auto-assigned the database-wide counter in insert order
      assert(rows(0).getAs[Long]("rv") == 1L)
      assert(rows(2).getAs[Long]("rv") == 3L)
      // the scan range-partitioned on the numeric PK over the T-SQL wire
      assert(src.read(spark, "q").rdd.getNumPartitions == 2)
    }
  }

  test("scan ranges a composite key on its first integral column") {
    withDb("ck") { url =>
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        st.execute("CREATE TABLE [ck] ([ok] BIGINT NOT NULL, " +
          "[ln] INT NOT NULL, [v] NVARCHAR(20))")
        st.execute("INSERT INTO [ck] ([ok],[ln],[v]) VALUES " +
          (for (ok <- 1 to 20; ln <- 1 to 3) yield s"($ok, $ln, N'v$ok.$ln')")
            .mkString(", "))
        st.close()
      } finally c.close()
      // the reference's probe reports every column of a composite key
      // as PRIMARY KEY; the shim's DDL takes inline per-column keys
      // only, so the catalog rows are written on the backing store
      val raw = DriverManager.getConnection("jdbc:derby:memory:mssqlspec_ck")
      try {
        val st = raw.createStatement()
        assert(st.executeUpdate("UPDATE INFORMATION_SCHEMA.COLUMNS_META " +
          "SET \"CONSTRAINTS\" = 'PRIMARY KEY' " +
          "WHERE TABLE_NAME = 'ck' AND COLUMN_NAME IN ('ok', 'ln')") == 2)
        st.close()
      } finally raw.close()

      val df = new MssqlSchemaSource(url, numPartitions = 4).read(spark, "ck")
      assert(df.rdd.getNumPartitions == 4)
      val plain = spark.read.jdbc(url, "[ck]", new java.util.Properties)
      assert(df.count() == 60 && plain.count() == 60)
      assert(df.exceptAll(plain).isEmpty && plain.exceptAll(df).isEmpty)
    }
  }

  test("scan folds bit to BooleanType and smallint keeps its width") {
    withDb("canon") { url =>
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        st.execute("CREATE TABLE [b] ([id] INT NOT NULL PRIMARY KEY, " +
          "[flag] BIT, [sm] SMALLINT)")
        st.execute("INSERT INTO [b] ([id],[flag],[sm]) VALUES " +
          "(1, 1, -32768), (2, 0, 32767), (3, NULL, NULL)")
        st.close()
      } finally c.close()
      val df = new MssqlSchemaSource(url).read(spark, "b").orderBy(col("id"))
      assert(df.schema("flag").dataType ==
        org.apache.spark.sql.types.BooleanType)
      assert(df.schema("sm").dataType ==
        org.apache.spark.sql.types.ShortType)
      val rows = df.collect()
      assert(rows(0).getAs[Boolean]("flag"))
      assert(!rows(1).getAs[Boolean]("flag"))
      assert(rows(2).isNullAt(rows(2).fieldIndex("flag")))
      assert(rows(0).getAs[Short]("sm") == Short.MinValue)
      assert(rows(1).getAs[Short]("sm") == Short.MaxValue)
    }
  }

  test("datetimeoffset parse is fraction-lenient but fail-loud on junk") {
    withDb("dtolen") { url =>
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        st.execute("CREATE TABLE [d] ([id] INT NOT NULL PRIMARY KEY, " +
          "[dto] DATETIMEOFFSET(3))")
        // DATETIMEOFFSET(0)/(3) renderings carry 0/3 fraction digits —
        // the exact-7-digit pattern alone would NULL these silently
        st.execute("INSERT INTO [d] ([id],[dto]) VALUES " +
          "(1, '2021-03-04 05:06:07 +02:00'), " +
          "(2, '2021-03-04 05:06:07.123 +00:00'), " +
          "(3, '2021-03-04 05:06:07.1234560 -05:30')")
        st.close()
      } finally c.close()
      val src = new MssqlSchemaSource(url)
      val rows = src.read(spark, "d").orderBy(col("id")).collect()
      assert(rows(0).getAs[java.sql.Timestamp]("dto").toInstant ==
        java.time.Instant.parse("2021-03-04T03:06:07Z"))
      assert(rows(1).getAs[java.sql.Timestamp]("dto").toInstant ==
        java.time.Instant.parse("2021-03-04T05:06:07.123Z"))
      assert(rows(2).getAs[java.sql.Timestamp]("dto").toInstant ==
        java.time.Instant.parse("2021-03-04T10:36:07.123456Z"))

      // junk text must RAISE, not silently corrupt to NULL — write the
      // bad row through raw Derby (the strict front end would reject
      // nothing here: it's just a VARCHAR column underneath)
      val raw = DriverManager.getConnection(url)
      try {
        val st = raw.createStatement()
        st.execute("INSERT INTO [d] ([id],[dto]) VALUES (4, 'not a date')")
        st.close()
      } finally raw.close()
      val e = intercept[Exception] {
        src.read(spark, "d").collect()
      }
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse("")).toSeq
      assert(chain(e).exists(_.contains("unparseable datetimeoffset")))
    }
  }

  test("0x literals translate to typed hex; literal-masked on both wires") {
    // shim wire (T-SQL → Derby)
    assert(MssqlDialect.translate("INSERT INTO [b] VALUES (1, 0xDEADbeef)")
      == """INSERT INTO "b" VALUES (1, CAST(X'DEADbeef' AS BLOB))""")
    // '0x…' inside string data must survive untouched
    assert(MssqlDialect.translate("INSERT INTO [b] VALUES ('see 0x00 ok')")
      == """INSERT INTO "b" VALUES ('see 0x00 ok')""")
    // ANSI target wire (MySQL-rendered inserts → Derby)
    assert(AnsiFlavor.translate(
      "INSERT INTO `b` (`k`,`v`,`t`) VALUES (1, 0xcafe, 'not 0xff data')")
      == "INSERT INTO \"b\" (\"k\",\"v\",\"t\") VALUES " +
        "(1, CAST(X'cafe' AS BLOB), 'not 0xff data')")
  }

  test("ANSI VALUES locator and hex rewrite respect boundaries") {
    // identifier with 'ß' before VALUES: full case mapping lengthens a
    // toUpperCase copy ('ß' → "SS"), so the locator must match on the
    // ORIGINAL string — a shifted split corrupted the statement
    assert(AnsiFlavor.translate("INSERT INTO `straße` (`a`) VALUES ('x')")
      == "INSERT INTO \"straße\" (\"a\") VALUES ('x')")
    // 0x with no hex digits or with a trailing word char is NOT a
    // binary literal — mirror the regex path's boundaries
    assert(AnsiFlavor.translate("INSERT INTO `t` (`a`,`b`) VALUES (0x, 0xgg)")
      == "INSERT INTO \"t\" (\"a\",\"b\") VALUES (0x, 0xgg)")
    assert(AnsiFlavor.translate("INSERT INTO `t` (`a`) VALUES (0xff)")
      == "INSERT INTO \"t\" (\"a\") VALUES (CAST(X'ff' AS BLOB))")
  }

  test("multi-row rowversion INSERT is atomic under autocommit") {
    withDb("rvatomic") { url =>
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        st.execute("CREATE TABLE [t] ([id] INT NOT NULL PRIMARY KEY, " +
          "[rv] ROWVERSION)")
        // the per-tuple sequence-draw split must keep MSSQL's
        // single-statement atomicity: the duplicate key in tuple 3
        // rolls back tuples 1-2 as well
        intercept[Exception] {
          st.execute("INSERT INTO [t] ([id]) VALUES (1), (2), (1)")
        }
        val rs = st.executeQuery("SELECT COUNT(*) FROM [t]")
        rs.next()
        assert(rs.getLong(1) == 0L,
          "mid-list failure must roll back earlier tuples")
        rs.close()
        assert(c.getAutoCommit, "autocommit must be restored")
        // a clean multi-row insert still lands with per-row counters
        st.execute("INSERT INTO [t] ([id]) VALUES (7), (8)")
        val rs2 = st.executeQuery("SELECT COUNT(DISTINCT [rv]) FROM [t]")
        rs2.next(); assert(rs2.getLong(1) == 2L)
        rs2.close()
        st.close()
      } finally c.close()
    }
  }

  test("multi-row rowversion INSERT via addBatch is rejected; " +
    "single-row batches still work") {
    withDb("rvbatch") { url =>
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        st.execute("CREATE TABLE [t] ([id] INT NOT NULL PRIMARY KEY, " +
          "[rv] ROWVERSION)")
        // executeBatch under autocommit commits each queued entry
        // separately, so the per-tuple split could not reproduce
        // MSSQL's single-statement atomicity — reject at queue time
        val e = intercept[IllegalArgumentException] {
          st.addBatch("INSERT INTO [t] ([id]) VALUES (1), (2)")
        }
        assert(e.getMessage.contains("not batchable"))
        // single-row tuples are one statement each — batchable as usual
        st.addBatch("INSERT INTO [t] ([id]) VALUES (1)")
        st.addBatch("INSERT INTO [t] ([id]) VALUES (2)")
        st.executeBatch()
        val rs = st.executeQuery("SELECT COUNT(DISTINCT [rv]) FROM [t]")
        rs.next(); assert(rs.getLong(1) == 2L)
        rs.close(); st.close()
      } finally c.close()
    }
  }

  test("UPDATE rowversion guard scans literal-masked text") {
    withDb("rvmask") { url =>
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        st.execute("CREATE TABLE [m] ([id] INT NOT NULL PRIMARY KEY, " +
          "[v] VARCHAR(60), [rv] ROWVERSION)")
        st.execute("INSERT INTO [m] ([id],[v]) VALUES (1, 'a')")
        // '[rv] =' INSIDE a string literal is data — must not trip the
        // cannot-update-rowversion rejection
        st.execute(
          "UPDATE [m] SET [v] = 'text with [rv] = 9 inside' WHERE [id] = 1")
        val rs = st.executeQuery("SELECT [v],[rv] FROM [m] WHERE [id] = 1")
        rs.next()
        assert(rs.getString(1) == "text with [rv] = 9 inside")
        assert(rs.getLong(2) == 2L) // the guard still bumped the counter
        rs.close()
        // ' WHERE ' INSIDE a literal must not truncate the SET span: a
        // real rowversion assignment after it is still rejected
        val e = intercept[Exception] {
          st.execute(
            "UPDATE [m] SET [v] = 'a WHERE b', [rv] = 9 WHERE [id] = 1")
        }
        def chain(t: Throwable): Seq[String] =
          Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
            .map(x => Option(x.getMessage).getOrElse("")).toSeq
        assert(chain(e).exists(_.contains("rowversion")))
        st.close()
      } finally c.close()
    }
  }

  test("smalldatetime decode rounds to the minute at 29.999 s") {
    withDb("sdt") { url =>
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        st.execute("CREATE TABLE [s] ([id] INT NOT NULL PRIMARY KEY, " +
          "[sdt] SMALLDATETIME)")
        st.execute("INSERT INTO [s] ([id],[sdt]) VALUES " +
          "(1, '2021-03-04 05:06:29'), " + // < 29.999 → truncate
          "(2, '2021-03-04 05:06:30'), " + // ≥ 29.999 → round up
          "(3, '2020-12-31 23:59:45'), " + // year rollover
          "(4, NULL)")
        st.close()
      } finally c.close()
      val rows = new MssqlSchemaSource(url).read(spark, "s")
        .orderBy(col("id")).collect()
      def i(r: Int) = rows(r).getAs[java.sql.Timestamp]("sdt").toInstant
      assert(i(0) == java.time.Instant.parse("2021-03-04T05:06:00Z"))
      assert(i(1) == java.time.Instant.parse("2021-03-04T05:07:00Z"))
      assert(i(2) == java.time.Instant.parse("2021-01-01T00:00:00Z"))
      assert(rows(3).isNullAt(rows(3).fieldIndex("sdt")))
    }
  }

  test("datetime/smalldatetime decode matches the reference formulas " +
      "on randomized timestamps") {
    // seeded PRNG: deterministic corpus, fresh coverage of the middle
    // mass between the hand-picked boundary cases
    val rnd = new scala.util.Random(0xd7133L)
    val base = java.time.Instant.parse("2015-01-01T00:00:00Z").toEpochMilli
    val samples = Seq.tabulate(60) { i =>
      val ms = base + math.abs(rnd.nextLong() % (300L * 24 * 3600 * 1000))
      (i + 1, ms)
    }
    def dtExpected(ms: Long): Long = {
      // server tick quantization (round half up) composed with the
      // reference's integer tick->ms division (format.rs:191-218)
      val msInSec = ms % 1000
      val ticks = (msInSec * 1000 * 300 + 500000) / 1000000
      ms - msInSec + ticks * 1000 / 300
    }
    def sdtExpected(ms: Long): Long = {
      val rem = ms % 60000
      ms - rem + (if (rem >= 29999) 60000L else 0L)
    }
    withDb("dtprop") { url =>
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        st.execute("CREATE TABLE [p] ([id] INT NOT NULL PRIMARY KEY, " +
          "[dt] DATETIME, [sdt] SMALLDATETIME)")
        val fmt = java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
          .withZone(java.time.ZoneOffset.UTC)
        val rows = samples.map { case (id, ms) =>
          val t = fmt.format(java.time.Instant.ofEpochMilli(ms))
          s"($id, '$t', '$t')"
        }
        st.execute("INSERT INTO [p] ([id],[dt],[sdt]) VALUES " +
          rows.mkString(", "))
        st.close()
      } finally c.close()
      val got = new MssqlSchemaSource(url).read(spark, "p")
        .orderBy(col("id")).collect()
      samples.foreach { case (id, ms) =>
        val r = got(id - 1)
        assert(r.getAs[java.sql.Timestamp]("dt").getTime == dtExpected(ms),
          s"datetime id=$id ms=$ms")
        assert(r.getAs[java.sql.Timestamp]("sdt").getTime == sdtExpected(ms),
          s"smalldatetime id=$id ms=$ms")
      }
    }
  }

  test("rowversion auto-assigns across tables; explicit insert rejected") {
    withDb("rvauto") { url =>
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        st.execute("CREATE TABLE [a] ([id] INT NOT NULL PRIMARY KEY, " +
          "[rv] ROWVERSION)")
        st.execute("CREATE TABLE [b] ([id] INT NOT NULL PRIMARY KEY, " +
          "[rv] ROWVERSION)")
        // counter is DATABASE-wide, like @@DBTS: interleaved inserts
        // across tables draw from one sequence
        st.execute("INSERT INTO [a] ([id]) VALUES (10), (11)")
        st.execute("INSERT INTO [b] ([id]) VALUES (20)")
        st.execute("INSERT INTO [a] ([id]) VALUES (12)")
        val rs = st.executeQuery("SELECT [id], [rv] FROM [a] ORDER BY [id]")
        val got = Iterator.continually(rs)
          .takeWhile(_.next()).map(r => (r.getInt(1), r.getLong(2))).toList
        rs.close()
        assert(got == List((10, 1L), (11, 2L), (12, 4L)))

        // naming the column is the MSSQL error, not a silent accept
        val e = intercept[Exception] {
          st.execute("INSERT INTO [a] ([id],[rv]) VALUES (13, 99)")
        }
        def chain(t: Throwable): Seq[String] =
          Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
            .map(x => Option(x.getMessage).getOrElse("")).toSeq
        assert(chain(e).exists(_.contains("rowversion")))

        // UPDATE bumps the counter, one distinct value per touched row
        st.execute("CREATE TABLE [u] ([id] INT NOT NULL PRIMARY KEY, " +
          "[v] INT, [rv] ROWVERSION)")
        st.execute("INSERT INTO [u] ([id],[v]) VALUES (1, 10), (2, 20)")
        st.execute("UPDATE [u] SET [v] = [v] + 1 WHERE [id] >= 1")
        val rs2 = st.executeQuery("SELECT [id],[v],[rv] FROM [u] ORDER BY [id]")
        val got2 = Iterator.continually(rs2).takeWhile(_.next())
          .map(r => (r.getInt(1), r.getInt(2), r.getLong(3))).toList
        rs2.close()
        // seq was at 4 after the [a]/[b] inserts above (+reject draws
        // nothing); [u]'s two inserts took 5,6; the update drew 7,8
        assert(got2.map(_._2) == List(11, 21))
        assert(got2.map(_._3) == List(7L, 8L))
        // explicit assignment to rowversion in SET is the MSSQL error
        val e2 = intercept[Exception] {
          st.execute("UPDATE [u] SET [rv] = 99 WHERE [id] = 1")
        }
        assert(chain(e2).exists(_.contains("rowversion")))
        // ...but rowversion in the WHERE clause is fine (that is the
        // whole point of the type: bookmark predicates)
        val rs3 = st.executeQuery(
          "SELECT COUNT(*) FROM [u] WHERE [rv] > 7")
        assert(rs3.next() && rs3.getLong(1) == 1L)
        rs3.close()
        st.close()
      } finally c.close()
    }
  }

  test("DECIMAL(12,2) keeps exact scale over the wire (raw type pin)") {
    // The driver-facing queries render DECIMAL outputs as strings
    // (the driver's hash cannot verify DECIMAL columns) — this pins
    // the RAW wire type and exact scale-padded values underneath, so
    // the envelope cast can never mask a precision bug.
    withDb("decpin") { url =>
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        st.execute("CREATE TABLE [dp] ([id] INT NOT NULL PRIMARY KEY, " +
          "[bal] DECIMAL(12,2))")
        st.execute("INSERT INTO [dp] ([id],[bal]) VALUES " +
          "(1, 250.00), (2, 0.5), (3, -25.50), (4, 900)")
        val rs = st.executeQuery("SELECT [id],[bal] FROM [dp] ORDER BY [id]")
        val raw = Iterator.continually(rs).takeWhile(_.next())
          .map(r => (r.getInt(1), r.getBigDecimal(2))).toList
        rs.close(); st.close()
        // JDBC hands back scale-2 BigDecimals: 0.5 → 0.50, 900 → 900.00
        assert(raw.map(_._2.toPlainString) ==
          List("250.00", "0.50", "-25.50", "900.00"))
        assert(raw.forall(_._2.scale == 2))
      } finally c.close()
      val df = new MssqlSchemaSource(url).read(spark, "dp")
      val balType = df.schema("bal").dataType
      assert(balType == org.apache.spark.sql.types.DecimalType(12, 2),
        s"wire type drifted: $balType")
      val strs = df.orderBy(col("id"))
        .select(col("bal").cast("string")).collect().map(_.getString(0))
      assert(strs.toSeq == Seq("250.00", "0.50", "-25.50", "900.00"))
    }
  }

  test("bookmark predicates push down into the shim scan") {
    withDb("push") { url =>
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        st.execute("CREATE TABLE [bk] ([id] INT NOT NULL PRIMARY KEY, " +
          "[rv] ROWVERSION)")
        st.execute("INSERT INTO [bk] ([id]) VALUES (1), (2), (3)")
        st.close()
      } finally c.close()
      val df = new MssqlSchemaSource(url).read(spark, "bk")
        .filter(col("rv") > 2L)
      // the incremental pass must cost O(changed rows): the rowversion
      // predicate has to reach the JDBC source, not run post-scan
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") &&
        plan.replaceAll("\\s+", " ").matches("(?s).*PushedFilters:.*rv.*"),
        s"rv predicate not pushed:\n$plan")
      assert(df.collect().map(_.getAs[Int]("id")).toSeq == Seq(3))
    }
  }

  test("table-level constraint clauses are rejected loudly") {
    withDb("tlc") { url =>
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        val e = intercept[Exception] {
          st.execute("CREATE TABLE [cp] ([a] INT NOT NULL, " +
            "[b] INT NOT NULL, PRIMARY KEY ([a], [b]))")
        }
        def chain(t: Throwable): Seq[String] =
          Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
            .map(x => Option(x.getMessage).getOrElse("")).toSeq
        assert(chain(e).exists(_.contains("table-level constraint")))
        st.close()
      } finally c.close()
    }
  }

  test("spark write.jdbc appends through the bracket-quoting dialect") {
    withDb("append") { url =>
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        st.execute("CREATE TABLE [r] ([k] BIGINT NOT NULL PRIMARY KEY, " +
          "[v] NVARCHAR(30))")
        st.close()
      } finally c.close()
      import spark.implicits._
      Seq((1L, "a'b"), (2L, "c\\d")).toDF("k", "v")
        .write.mode("append").jdbc(url, "[r]", new java.util.Properties)
      val back = spark.read.jdbc(url, "[r]", new java.util.Properties)
        .orderBy(col("k")).collect()
      assert(back.map(_.getString(1)).toSeq == Seq("a'b", "c\\d"))
    }
  }
}
