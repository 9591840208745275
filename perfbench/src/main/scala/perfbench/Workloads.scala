package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.sql.{Connection, DriverManager}

import scala.collection.mutable.ListBuffer
import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.engine._
import graft.mapping.{TableSchemaMapper, TypeRegistry}
import graft.naming.SnakeCase

/** One timed operation and its correctness gate.
  *
  * @param wallS     wall time of the operation alone (gate excluded)
  * @param rows      target rows committed, or result rows returned
  * @param units     tables migrated, or queries answered
  * @param attempted tables or queries attempted
  * @param failed    tables or queries that failed or gave a wrong result
  * @param perKey    wall seconds per query (analytics only)
  * @param outDir    result directory the Python side hashes (analytics)
  */
final case class Op(wallS: Double, rows: Long, units: Int, attempted: Int,
    failed: Int, perKey: Seq[(String, Double)] = Nil, outDir: String = "",
    windows: Seq[(String, Long, Long)] = Nil)

/** A benchmark workload: a repeatable set-up step, then operations. */
trait Workload {
  /** Set-up that can be repeated in one process (source seeding). */
  def prepare(): Unit
  def prepareRepeats: Int

  /** One operation, optionally traced, followed by its correctness gate.
    * `corrupt` damages one target row or result before the gate runs.
    */
  def run(tracer: Option[Tracer], corrupt: Boolean): Op

  /** Direct calls into the migration layers on this workload's inputs
    * (traced runs only): per-table metric name -> value.
    */
  def layerCalls(tracer: Tracer): Seq[(String, String, Double)] = Nil

  def close(): Unit = ()
}

object Workload {
  /** `packetBytes` overrides a migration workload's packet size; it
    * exists to reproduce the defects listed in the README.
    */
  def apply(name: String, spark: SparkSession, data: String, seed: Long,
      runDir: String, packetBytes: Option[Int]): Workload = name match {
    case "wire_fact" => new WireFact(spark, data, packetBytes)
    case "wire_dims" => new WireDims(spark, data, seed, packetBytes)
    case "script_fact" => new ScriptFact(spark, data, runDir, packetBytes)
    case "analytics_mix" => new AnalyticsMix(spark, data, seed, runDir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Embedded-Derby helpers for seeding sources and checking targets. */
object Derby {
  private val nonce = new java.util.concurrent.atomic.AtomicInteger

  def freshUrl(prefix: String): String =
    s"jdbc:derby:memory:${prefix}_${nonce.incrementAndGet()};create=true"

  def drop(url: String): Unit =
    try DriverManager.getConnection(url.replace(";create=true", ";drop=true"))
    catch { case _: java.sql.SQLException => () } // a drop always "fails"

  def withConn[T](url: String)(f: Connection => T): T = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  def exec(c: Connection, sql: String): Unit = {
    val st = c.createStatement()
    try st.execute(sql) finally st.close()
  }

  def sqlType(dt: DataType): String = dt match {
    case StringType => "VARCHAR(256)" // indexable, unlike Spark's CLOB
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case DoubleType => "DOUBLE"
    case TimestampType | TimestampNTZType => "TIMESTAMP"
    case other => sys.error(s"no Derby type for $other")
  }

  /** Create `table` with `schema` and insert `rows` in the given order. */
  def seed(c: Connection, table: String, schema: StructType,
      rows: Iterable[Row], notNull: Set[String] = Set.empty): Unit = {
    val cols = schema.fields.map { f =>
      s""""${f.name}" ${sqlType(f.dataType)}""" +
        (if (notNull(f.name)) " NOT NULL" else "")
    }
    exec(c, s"""CREATE TABLE "$table" (${cols.mkString(", ")})""")
    c.setAutoCommit(false)
    val ps = c.prepareStatement(
      s"""INSERT INTO "$table" VALUES (${schema.fields.map(_ => "?").mkString(", ")})""")
    try {
      var n = 0
      rows.foreach { r =>
        var i = 0
        while (i < r.length) {
          ps.setObject(i + 1, r.get(i) match {
            case t: java.time.LocalDateTime => java.sql.Timestamp.valueOf(t)
            case v => v
          })
          i += 1
        }
        ps.addBatch(); n += 1
        if (n % 1000 == 0) ps.executeBatch()
      }
      ps.executeBatch()
      c.commit()
    } finally { ps.close(); c.setAutoCommit(true) }
  }

  /** Row count and an order-independent content checksum: the wrapping
    * sum of a 64-bit digest of each row's normalized values.
    */
  def checksum(c: Connection, quotedTable: String): (Long, Long) = {
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT * FROM $quotedTable")
      val n = rs.getMetaData.getColumnCount
      val md = MessageDigest.getInstance("MD5")
      var count = 0L
      var sum = 0L
      val sb = new StringBuilder
      while (rs.next()) {
        sb.clear()
        var i = 1
        while (i <= n) {
          sb.append(normalize(rs.getObject(i))).append('\u0001')
          i += 1
        }
        val d = md.digest(sb.toString.getBytes("UTF-8"))
        sum += java.nio.ByteBuffer.wrap(d).getLong
        count += 1
      }
      rs.close()
      (count, sum)
    } finally st.close()
  }

  private def normalize(v: Any): String = v match {
    case null => "\u0000"
    case c: java.sql.Clob => c.getSubString(1, c.length.toInt)
    case n: java.lang.Number =>
      new java.math.BigDecimal(n.toString).stripTrailingZeros.toPlainString
    case other => other.toString
  }

  /** Constraints in the target catalog: SYS.SYSCONSTRAINTS rows plus
    * columns carrying a DEFAULT, as `mig_pipeline_jdbc` counts them.
    */
  def constraintCount(c: Connection, table: String): Long = {
    val st = c.prepareStatement(
      "SELECT COUNT(*) FROM SYS.SYSCONSTRAINTS cons " +
        "JOIN SYS.SYSTABLES t ON cons.TABLEID = t.TABLEID WHERE t.TABLENAME = ?")
    val cons = try {
      st.setString(1, table)
      val rs = st.executeQuery()
      try { rs.next(); rs.getLong(1) } finally rs.close()
    } finally st.close()
    val rs = c.getMetaData.getColumns(null, null, table, "%")
    var defaults = 0L
    try while (rs.next())
      if (Option(rs.getString("COLUMN_DEF")).exists(_.trim.nonEmpty)) defaults += 1
    finally rs.close()
    cons + defaults
  }
}

/** No-op sink for the traced batching pass: counts batches and times
  * each partition's whole write loop, open to close.
  */
final class NoopSink(loopNs: org.apache.spark.util.LongAccumulator,
    batches: org.apache.spark.util.LongAccumulator) extends BatchSink {
  private var t0 = 0L
  override def open(partitionId: Int): Unit = t0 = System.nanoTime()
  override def execute(sql: String, rows: Int): Unit = batches.add(1L)
  override def close(): Unit = loopNs.add(System.nanoTime() - t0)
}

/** Shared driver of the three migration workloads: build a fresh target,
  * run `Migrator.run` (timed alone), then gate every table.
  */
abstract class MigrationWorkload(spark: SparkSession,
    packetBytes: Option[Int]) extends Workload {
  protected def baseOptions: MigrationOptions
  protected lazy val options: MigrationOptions =
    packetBytes.fold(baseOptions)(p => baseOptions.copy(maxPacketBytes = p))
  /** A fresh source per operation, so no schema probe is served from a
    * previous operation's cache.
    */
  protected def newSource(): SchemaSource
  /** A fresh target and the action that disposes of it. */
  protected def newTarget(): (TargetWriter, () => Unit)
  /** Tables of `results` whose target content is wrong. */
  protected def gate(target: TargetWriter, results: Seq[MigrationResult]): Seq[String]
  protected def corruptOne(target: TargetWriter, results: Seq[MigrationResult]): Unit
  protected def expectedTables: Int

  private def outputName(table: String): String =
    if (options.formatSnakeCase) SnakeCase(table) else table

  def run(tracer: Option[Tracer], corrupt: Boolean): Op = {
    val (target, dispose) = newTarget()
    val source = newSource()
    try {
      val execs = tracer.map(_ =>
        spark.sparkContext.collectionAccumulator[ExecRec]("perfbench.execs"))
      val (src, wr) = (tracer, execs) match {
        case (Some(t), Some(acc)) => (new TimedSource(source, t, spark, outputName),
          new TimedWriter(target, t, acc))
        case _ => (source, target)
      }
      val migrator = new Migrator(spark, src, wr, TypeRegistry.withDefaults(), options)
      val opId = tracer.map(_.nextId()).getOrElse(0L)
      tracer.foreach(_.parent = opId)
      val t0 = System.nanoTime()
      val outcome = Try(migrator.run())
      val t1 = System.nanoTime()
      for (t <- tracer; acc <- execs) Trace.finishMigration(t, opId, t0, t1, acc)
      outcome match {
        case Failure(e) =>
          System.err.println(s"[perfbench] migration failed: ${e.getMessage}")
          Op((t1 - t0) / 1e9, 0L, 0, expectedTables, expectedTables)
        case Success(results) =>
          if (corrupt) corruptOne(target, results)
          val bad = gate(target, results)
          bad.foreach(b => System.err.println(s"[perfbench] gate failed: $b"))
          val missing = math.max(0, expectedTables - results.size)
          Op((t1 - t0) / 1e9, results.map(_.rowsMigrated).sum, results.size,
            expectedTables, bad.size + missing)
      }
    } finally dispose()
  }

  /** Scan, render, batch and map each table directly, outside Migrator,
    * on the same source and options.
    */
  override def layerCalls(tracer: Tracer): Seq[(String, String, Double)] = {
    val sc = spark.sparkContext
    val registry = TypeRegistry.withDefaults()
    val quoted = newTarget() match { case (w, dispose) =>
      try w.quotedDecimalLiterals finally dispose() }
    val source = newSource()
    source.fetchTables().flatMap { table =>
      val out = outputName(table)
      sc.setLocalProperty(Tracer.KeyProperty, s"layer:$out")
      val schema = source.getTableSchema(table)
      val t0 = System.nanoTime()
      val mapped = TableSchemaMapper.mapSchema(registry, table, schema,
        options.formatSnakeCase).fold(e => sys.error(e), identity)
      val t1 = System.nanoTime()
      tracer.record("mapping.map", out, t0, t1)
      val df = source.read(spark, table)
      val parts = df.rdd.getNumPartitions

      val scanNs = sc.longAccumulator
      def drain(): Unit = df.foreachPartition { (it: Iterator[Row]) =>
        val s0 = System.nanoTime()
        while (it.hasNext) it.next()
        scanNs.add(System.nanoTime() - s0)
      }
      drain() // warms the source, so the three timed passes start alike
      scanNs.reset()
      tracer.time("engine.source.scan", out)(drain())
      val renderNs = sc.longAccumulator
      val renderBytes = sc.longAccumulator
      tracer.time("engine.render", out) {
        df.foreachPartition { (it: Iterator[Row]) =>
          var ns = 0L
          var bytes = 0L
          while (it.hasNext) {
            val row = it.next()
            val r0 = System.nanoTime()
            val tuple = SqlLiteral.valueTuple(row.toSeq, quoted)
            ns += System.nanoTime() - r0
            bytes += tuple.getBytes("UTF-8").length
          }
          renderNs.add(ns); renderBytes.add(bytes)
        }
      }
      val loopNs = sc.longAccumulator
      val batches = sc.longAccumulator
      val rows = tracer.time("engine.batch", out) {
        BatchedInsertWriter.write(df, SqlDdl.insertStatement(out, mapped),
          options.maxPacketBytes, new NoopSink(loopNs, batches), quoted)
      }
      val scanMs = scanNs.value / 1e6
      val renderMs = renderNs.value / 1e6
      Seq(
        ("engine.source.scan_partitions", out, parts.toDouble),
        ("engine.source.scan_ms", out, scanMs),
        ("engine.render.ms", out, renderMs),
        ("engine.render.bytes", out, renderBytes.value.toDouble),
        ("engine.batch.ms", out,
          math.max(0.0, loopNs.value / 1e6 - scanMs - renderMs)),
        ("engine.batch.count", out, batches.value.toDouble),
        ("engine.batch.rows", out, rows.toDouble),
        ("mapping.map_ms", out, (t1 - t0) / 1e6))
    }
  }
}

/** Fact tables over the live wire: Derby → `JdbcTargetWriter(AnsiFlavor)`.
  * The seed fixes the order rows were inserted into the source.
  */
final class WireFact(spark: SparkSession, data: String, packetBytes: Option[Int])
    extends MigrationWorkload(spark, packetBytes) {
  private val tables = Seq("orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"))
  private var srcUrl = ""
  private var targetUrl = ""
  private var expected: Map[String, (Long, Long)] = Map.empty

  protected val baseOptions = MigrationOptions(maxPacketBytes = 32768,
    maxConcurrentTasks = 2)
  protected def newSource(): SchemaSource = new JdbcSchemaSource(srcUrl, numPartitions = 4)
  protected val expectedTables = tables.size

  def prepareRepeats = 3

  def prepare(): Unit = {
    if (srcUrl.nonEmpty) Derby.drop(srcUrl)
    srcUrl = Derby.freshUrl("pb_fact_src")
    Derby.withConn(srcUrl) { c =>
      tables.foreach { case (t, pk) =>
        val df = spark.read.parquet(s"$data/$t.parquet")
        Derby.seed(c, t, df.schema, df.collect(), pk.toSet)
        Derby.exec(c, s"""ALTER TABLE "$t" ADD PRIMARY KEY (${pk.map(k => s""""$k"""").mkString(", ")})""")
      }
      expected = tables.map { case (t, _) => t -> Derby.checksum(c, s""""$t"""") }.toMap
    }
  }

  protected def newTarget(): (TargetWriter, () => Unit) = {
    val url = Derby.freshUrl("pb_fact_dst")
    targetUrl = url
    (new JdbcTargetWriter(url, AnsiFlavor), () => Derby.drop(url))
  }

  protected def gate(target: TargetWriter, results: Seq[MigrationResult]): Seq[String] =
    Derby.withConn(targetUrl) { c =>
      results.filter(r => Derby.checksum(c, s""""${r.tableName}"""") != expected(r.tableName))
        .map(r => s"${r.tableName}: count/checksum differ from the source")
    }

  protected def corruptOne(target: TargetWriter, results: Seq[MigrationResult]): Unit =
    Derby.withConn(targetUrl) { c =>
      Derby.exec(c, """UPDATE "orders" SET "o_totalprice" = "o_totalprice" + 1 WHERE "o_orderkey" = 0""")
    }

  override def close(): Unit = if (srcUrl.nonEmpty) Derby.drop(srcUrl)
}

/** Many small constrained tables over the live wire: the fixed cost per
  * table dominates. The seed picks the table names and supplier rows.
  */
final class WireDims(spark: SparkSession, data: String, seed: Long,
    packetBytes: Option[Int]) extends MigrationWorkload(spark, packetBytes) {
  private val copies = 20
  private val words = Vector("Alpha", "Bravo", "Delta", "Echo", "Kilo", "Lima",
    "Oscar", "Sierra", "Tango", "Victor", "Yankee", "Zulu")
  private val rng = new Random(seed)
  // per copy: a seed-chosen tag, so table names differ between seeds
  private val tags = (0 until copies).map(k => s"${words(rng.nextInt(words.size))}$k")
  private val region = spark.read.parquet(s"$data/region.parquet")
  private val nation = spark.read.parquet(s"$data/nation.parquet")
  private val supplier = spark.read.parquet(s"$data/supplier.parquet")
  private val regionRows = region.collect().toSeq
  private val nationRows = nation.collect().toSeq
  private val supplierRows = supplier.orderBy("s_suppkey").collect().toSeq
  // a seed-chosen 90% of the supplier rows of each copy, in seeded order
  private val subsets = tags.map(_ =>
    rng.shuffle(supplierRows).take(supplierRows.size * 9 / 10))
  private var srcUrl = ""
  private var targetUrl = ""
  private var expected: Map[String, (Long, Long)] = Map.empty

  protected val baseOptions = MigrationOptions(maxPacketBytes = 32768,
    maxConcurrentTasks = 4, formatSnakeCase = true, createConstraints = true)
  protected def newSource(): SchemaSource = new JdbcSchemaSource(srcUrl, numPartitions = 4)
  protected val expectedTables = copies * 3
  // target constraints per table kind: region DEFAULT; nation PK+UNIQUE;
  // supplier FK+CHECK
  private def expectedConstraints(table: String): Long =
    if (table.startsWith("region")) 1L else 2L

  def prepareRepeats = 3

  def prepare(): Unit = {
    if (srcUrl.nonEmpty) Derby.drop(srcUrl)
    srcUrl = Derby.freshUrl("pb_dims_src")
    Derby.withConn(srcUrl) { c =>
      tags.zip(subsets).foreach { case (tag, sup) =>
        val (r, n, s) = (s"Region$tag", s"Nation$tag", s"Supplier$tag")
        Derby.seed(c, r, region.schema, regionRows)
        Derby.seed(c, n, nation.schema, nationRows, Set("n_nationkey"))
        Derby.seed(c, s, supplier.schema, sup)
        Seq(
          s"""ALTER TABLE "$n" ADD CONSTRAINT PK_$tag PRIMARY KEY ("n_nationkey")""",
          s"""ALTER TABLE "$n" ADD CONSTRAINT UQ_$tag UNIQUE ("n_name")""",
          s"""ALTER TABLE "$s" ADD CONSTRAINT FK_$tag FOREIGN KEY ("s_nationkey") REFERENCES "$n" ("n_nationkey")""",
          s"""ALTER TABLE "$s" ADD CONSTRAINT CK_$tag CHECK ("s_acctbal" > -10000)""",
          s"""ALTER TABLE "$r" ALTER COLUMN "r_name" DEFAULT 'none'"""
        ).foreach(Derby.exec(c, _))
      }
      expected = tags.flatMap(t => Seq(s"Region$t", s"Nation$t", s"Supplier$t"))
        .map(t => SnakeCase(t) -> Derby.checksum(c, s""""$t"""")).toMap
    }
  }

  protected def newTarget(): (TargetWriter, () => Unit) = {
    val url = Derby.freshUrl("pb_dims_dst")
    targetUrl = url
    (new JdbcTargetWriter(url, AnsiFlavor), () => Derby.drop(url))
  }

  protected def gate(target: TargetWriter, results: Seq[MigrationResult]): Seq[String] =
    Derby.withConn(targetUrl) { c =>
      results.flatMap { r =>
        val t = r.tableName
        val sum = Derby.checksum(c, s""""$t"""")
        val cons = Derby.constraintCount(c, t)
        if (!expected.get(t).contains(sum)) Some(s"$t: count/checksum differ from the source")
        else if (cons != expectedConstraints(t)) Some(s"$t: $cons constraints, want ${expectedConstraints(t)}")
        else None
      }
    }

  protected def corruptOne(target: TargetWriter, results: Seq[MigrationResult]): Unit =
    Derby.withConn(targetUrl) { c =>
      val t = results.map(_.tableName).filter(_.startsWith("nation")).min
      Derby.exec(c, s"""UPDATE "$t" SET "n_name" = 'corrupt' WHERE "n_nationkey" = 0""")
    }

  override def close(): Unit = if (srcUrl.nonEmpty) Derby.drop(srcUrl)
}

/** All ten fixture tables into the SQL-script sink: literal rendering and
  * batching do the work, with no JDBC at all.
  */
final class ScriptFact(spark: SparkSession, data: String, runDir: String,
    packetBytes: Option[Int]) extends MigrationWorkload(spark, packetBytes) {
  private var expected: Map[String, Long] = Map.empty
  private val n = new java.util.concurrent.atomic.AtomicInteger

  protected val baseOptions = MigrationOptions(maxPacketBytes = 1048576,
    maxConcurrentTasks = 4, formatSnakeCase = true, createConstraints = true)
  protected def newSource(): SchemaSource = new ParquetFixtureSource(data, spark)
  protected def expectedTables = expected.size

  def prepareRepeats = 3

  def prepare(): Unit = {
    expected = newSource().fetchTables().map(t =>
      SnakeCase(t) -> spark.read.parquet(s"$data/$t.parquet").count()).toMap
  }

  protected def newTarget(): (TargetWriter, () => Unit) = {
    val dir = Paths.get(runDir, s"script_${n.incrementAndGet()}")
    (new ScriptTargetWriter(dir.toString), () => deleteTree(dir))
  }

  protected def gate(target: TargetWriter, results: Seq[MigrationResult]): Seq[String] =
    results.flatMap { r =>
      val got = target.rowCount(r.tableName)
      if (expected.get(r.tableName).contains(got) && r.rowsMigrated == got) None
      else Some(s"${r.tableName}: $got rows in the script, want ${expected.get(r.tableName)}")
    }

  protected def corruptOne(target: TargetWriter, results: Seq[MigrationResult]): Unit =
    target.executeBatch("INSERT INTO `region` VALUES (99, 'CORRUPT') ", 1)

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }
}

/** Eight extension queries through `SparkEntry.queries`, in a
  * seed-chosen order. Each result is written out; the Python side hashes
  * it against the pinned DuckDB oracle result.
  */
final class AnalyticsMix(spark: SparkSession, data: String, seed: Long,
    runDir: String) extends Workload {
  private val names = new Random(seed).shuffle(AnalyticsMix.queries)
  private val fns = SparkEntry.queries
  private val pass = new java.util.concurrent.atomic.AtomicInteger

  def prepare(): Unit = ()
  def prepareRepeats = 0

  def run(tracer: Option[Tracer], corrupt: Boolean): Op = {
    val dir = s"$runDir/results/pass${pass.incrementAndGet()}"
    val sc = spark.sparkContext
    var failed = 0
    val opId = tracer.map(_.nextId()).getOrElse(0L)
    val opStart = System.nanoTime()
    val windows = ListBuffer.empty[(String, Long, Long)]
    val times = names.map { name =>
      sc.setLocalProperty(Tracer.KeyProperty, name)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val ok = Try {
        val df = fns(name)(spark, data)
        val out = if (corrupt && name == names.head) df.union(df.limit(1)) else df
        out.write.mode("overwrite").parquet(s"$dir/$name")
      }
      val t1 = System.nanoTime()
      windows += ((name, w0, System.currentTimeMillis()))
      tracer.foreach(_.record(s"queries.$name", name, t0, t1, parentId = opId))
      ok.failed.foreach { e =>
        System.err.println(s"[perfbench] $name failed: ${e.getMessage}"); failed += 1 }
      name -> (t1 - t0) / 1e9
    }
    sc.setLocalProperty(Tracer.KeyProperty, null)
    val wall = times.map(_._2).sum
    tracer.foreach(_.record("op.analytics_mix", "", opStart, System.nanoTime(),
      parentId = 0L, id = opId))
    val rows = names.map { n =>
      Try(spark.read.parquet(s"$dir/$n").count()).getOrElse(0L) }.sum
    Op(wall, rows, names.size - failed, names.size, failed, times, dir,
      windows.toList)
  }
}

object AnalyticsMix {
  val queries: Seq[String] = Seq("evs_ingest_multibatch",
    "dd_incremental_components", "sim_hnsw_append_stream", "ta_kneser_ney",
    "mig_data_diff", "q14_asof_join", "ev_rfm", "mm_video_neardup")
}
