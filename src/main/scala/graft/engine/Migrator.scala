package graft.engine

import java.util.concurrent.atomic.AtomicBoolean
import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.mapping.{TableSchemaMapper, TypeRegistry}
import graft.naming.SnakeCase

/** End-to-end migration orchestration, the reference's
  * `DatabaseMigrator` (/root/reference/src/migrate/migrator.rs:42-210):
  *
  *  1. packet-size guard against the target's max_allowed_packet;
  *  2. fetch + whitelist-filter tables (exact match; whitelisted but
  *     absent tables are reported);
  *  3. optional DROP/TRUNCATE reset of existing targets
  *     (case-insensitive intersection with SHOW TABLES);
  *  4. per-table migration fanned out under a permit bound, fail-fast:
  *     the first failure cancels all queued tables (reported as
  *     skipped); within a table Spark parallelizes the scan+write
  *     across partitions — parallelism the reference never had;
  *  5. optional constraints pass over CREATED tables only, best-effort;
  *  6. unused column-override warnings + totals.
  */
final class Migrator(
    spark: SparkSession,
    source: SchemaSource,
    writer: TargetWriter,
    registry: TypeRegistry,
    options: MigrationOptions) {

  /** Warnings the reference logs; collected so tests (and callers) can
    * assert on them.
    */
  val warnings = scala.collection.mutable.ListBuffer.empty[String]

  def run(): Seq[MigrationResult] = {
    require(options.maxConcurrentTasks > 0,
      s"maxConcurrentTasks must be positive, got ${options.maxConcurrentTasks}")
    val allowed = writer.maxAllowedPacket
    if (options.maxPacketBytes > allowed)
      throw new MigrationException.PacketTooLarge(options.maxPacketBytes, allowed)

    val tables = fetchAndFilterTables()
    val outputNames = tables.map(outputName)

    resetTables(outputNames)

    val results = runMigrations(tables)

    if (options.createConstraints) constraintsPass(results, outputNames)

    val unused = registry.unusedColumnOverrides
    if (unused.nonEmpty)
      warnings += s"Unused column overrides: ${unused.mkString(", ")}"

    results
  }

  private def outputName(table: String): String =
    if (options.formatSnakeCase) SnakeCase(table) else table

  /** migrator.rs:99-119 — whitelist retain + missing-table warning. */
  private def fetchAndFilterTables(): Seq[String] = {
    val all = source.fetchTables()
    if (options.whitelistedTables.isEmpty) all
    else {
      val missing = options.whitelistedTables.filterNot(all.contains)
      if (missing.nonEmpty)
        warnings += s"Whitelisted tables not found: ${missing.mkString(", ")}"
      all.filter(options.whitelistedTables.contains)
    }
  }

  /** inserter.rs:121-150 — case-insensitive intersect with SHOW TABLES,
    * then a DROP or TRUNCATE script.
    */
  private def resetTables(outputNames: Seq[String]): Unit = {
    val action =
      if (options.dropTables) Some(SqlDdl.Drop)
      else if (options.truncateTables) Some(SqlDdl.Truncate)
      else None
    action.foreach { a =>
      val existing = writer.showTables()
      // retain the SERVER's casing, not the desired output casing:
      // on a case-sensitive target (MySQL on Linux), dropping 'users'
      // when the table is 'Users' fails the whole reset — the
      // reference keeps all_tables entries for the same reason
      // (inserter.rs reset_tables)
      val targets = existing.filter(e =>
        outputNames.exists(_.equalsIgnoreCase(e)))
      if (targets.nonEmpty) writer.executeReset(SqlDdl.resetQuery(targets, a))
    }
  }

  /** migrator.rs:121-210 — bounded parallel fan-out with fail-fast. */
  private def runMigrations(tables: Seq[String]): Seq[MigrationResult] = {
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(options.maxConcurrentTasks, math.max(tables.size, 1))))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // concurrency is bounded by the fixed pool itself (sized at
    // min(maxConcurrentTasks, tables)); the reference needed an
    // explicit Semaphore because tokio spawns unbounded tasks
    // (migrator.rs:122) — a JVM fixed pool IS the gate
    val cancelled = new AtomicBoolean(false)

    // Futures never fail: each resolves to an outcome, so every
    // continuation schedules before the pool shuts down (a failing
    // future would tear the pool down under its siblings' callbacks).
    sealed trait Outcome
    case class Done(r: MigrationResult) extends Outcome
    case class Skipped(table: String) extends Outcome
    case class Failed(table: String, e: Throwable) extends Outcome

    val futures = tables.map { table =>
      Future[Outcome] {
        if (cancelled.get()) Skipped(table)
        else Try(migrateTable(table)) match {
          case Success(r) => Done(r)
          case Failure(e) =>
            cancelled.set(true) // fail-fast: queued tables skip
            Failed(table, e)
        }
      }
    }

    val outcomes =
      try Await.result(Future.sequence(futures), Duration.Inf)
      finally pool.shutdown()

    val skipped = outcomes.collect { case Skipped(t) => t }
    if (skipped.nonEmpty) // migrator.rs:198-206
      warnings += s"Skipped after failure: ${skipped.mkString(", ")}"
    outcomes.collectFirst { case Failed(t, e) =>
      throw new MigrationException.TaskPanicked(t, e)
    }
    outcomes.collect { case Done(r) => r }
  }

  /** table_migrator.rs:43-114 — one table end to end. */
  private def migrateTable(table: String): MigrationResult = {
    val out = outputName(table)
    val sourceSchema = source.getTableSchema(table)
    val mapped = TableSchemaMapper.mapSchema(
      registry, table, sourceSchema, options.formatSnakeCase) match {
      case Left(err) => throw new MigrationException.SchemaMappingFailed(table, err)
      case Right(m) => m
    }

    val exists = writer.tableExists(out)
    if (exists && writer.rowCount(out) > 0)
      throw new MigrationException.TableAlreadyHasRows(out)
    if (!exists) writer.createTable(SqlDdl.createTable(out, mapped))

    val df = source.read(spark, table)
    val rows = BatchedInsertWriter.write(
      df,
      SqlDdl.insertStatement(out, mapped),
      options.maxPacketBytes,
      new TargetBatchSink(writer),
      writer.quotedDecimalLiterals)

    MigrationResult(out, mapped, created = !exists, rowsMigrated = rows)
  }

  /** constraints_creator.rs:18-47 — created tables only, best-effort. */
  private def constraintsPass(results: Seq[MigrationResult],
      outputNames: Seq[String]): Unit = {
    results.filter(_.created).foreach { r =>
      val (sql, skipped) =
        SqlDdl.createConstraints(r.tableName, r.schema, outputNames)
      skipped.foreach(s => warnings += s"Skipped FK in ${r.tableName}: $s")
      sql.foreach { q =>
        try writer.createConstraints(q)
        catch {
          case e: Exception =>
            warnings += s"Constraint creation failed for ${r.tableName}: ${e.getMessage}"
        }
      }
    }
  }
}

/** Bridges executor-side batches back to the TargetWriter: each
  * batch is one `executeBatch` call, which for [[JdbcTargetWriter]]
  * opens, commits and closes its own connection. `open`/`close` are
  * left as no-ops.
  */
private final class TargetBatchSink(writer: TargetWriter) extends BatchSink {
  override def execute(sql: String, rows: Int): Unit =
    writer.executeBatch(sql, rows)
}
