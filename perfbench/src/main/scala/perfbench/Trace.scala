package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.CollectionAccumulator

import graft.engine.{SchemaSource, TargetWriter}
import graft.types.ColumnSchema

/** One timed call at a layer boundary. `parent` is the id of the span
  * that caused it (0 for an operation), and every span of one traced
  * run carries the same `run` id.
  */
final case class Span(run: String, id: Long, parent: Long, name: String,
    key: String, startNs: Long, endNs: Long, bytes: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One `executeBatch` call, timed inside the partition task that made it
  * and shipped back to the driver through an accumulator: the writer is
  * serialized into each task, so a field on it would count on a copy.
  */
final case class ExecRec(table: String, startNs: Long, endNs: Long,
    bytes: Long, rows: Int)

/** In-memory span store of one traced run. Nothing is written until the
  * run ends (`PerfMain` dumps `spans` as JSON lines).
  */
final class Tracer(val run: String) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]
  @volatile var parent: Long = 0L

  def nextId(): Long = ids.incrementAndGet()

  def record(name: String, key: String, t0: Long, t1: Long,
      bytes: Long = 0L, parentId: Long = parent, id: Long = nextId()): Long = {
    spans.add(Span(run, id, parentId, name, key, t0, t1, bytes))
    id
  }

  def time[T](name: String, key: String = "")(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally record(name, key, t0, System.nanoTime())
  }

  /** Spans recorded since `mark` (ids are increasing). */
  def since(mark: Long): Seq[Span] =
    spans.asScala.filter(_.id > mark).toSeq.sortBy(_.startNs)

  def mark: Long = ids.get()
}

object Tracer {
  /** The table a rendered statement names: the first backquoted token. */
  def tableOf(sql: String): String = sql.split('`').lift(1).getOrElse("")

  /** Spark local property naming the table or query a job belongs to. */
  val KeyProperty = "perfbench.key"
}

/** Times every [[SchemaSource]] call and tags the calling thread's Spark
  * jobs with the table they serve. Every trait method is forwarded.
  */
final class TimedSource(inner: SchemaSource, tracer: Tracer,
    spark: SparkSession, outputName: String => String) extends SchemaSource {

  override def fetchTables(): Seq[String] =
    tracer.time("engine.source.fetch_tables")(inner.fetchTables())

  override def getTableSchema(table: String): Seq[ColumnSchema] = {
    // Migrator runs each table on its own pool thread, from the schema
    // probe through the write job: tag that thread's jobs here. Spans
    // are keyed by the target name, as the writer's calls are.
    spark.sparkContext.setLocalProperty(Tracer.KeyProperty, outputName(table))
    tracer.time("engine.source.probe", outputName(table))(
      inner.getTableSchema(table))
  }

  override def read(spark: SparkSession, table: String): DataFrame =
    tracer.time("engine.source.read", outputName(table))(inner.read(spark, table))
}

/** Times every [[TargetWriter]] call. Driver-side calls land in the
  * tracer directly; `executeBatch` runs inside partition tasks, so its
  * timings travel back through `execs`. Every trait method is
  * forwarded, `quotedDecimalLiterals` included: inheriting the trait's
  * default would send quoted decimals to an ANSI target.
  */
final class TimedWriter(inner: TargetWriter, @transient tracer: Tracer,
    execs: CollectionAccumulator[ExecRec]) extends TargetWriter {

  override def maxAllowedPacket: Long =
    tracer.time("engine.target.meta")(inner.maxAllowedPacket)

  override def showTables(): Seq[String] =
    tracer.time("engine.target.meta")(inner.showTables())

  override def executeReset(sql: String): Unit =
    tracer.time("engine.target.ddl")(inner.executeReset(sql))

  override def tableExists(table: String): Boolean =
    tracer.time("engine.target.meta", table)(inner.tableExists(table))

  override def rowCount(table: String): Long =
    tracer.time("engine.target.meta", table)(inner.rowCount(table))

  override def createTable(sql: String): Unit =
    tracer.time("engine.target.ddl", Tracer.tableOf(sql))(inner.createTable(sql))

  override def executeBatch(sql: String, rowCount: Int): Unit = {
    val t0 = System.nanoTime()
    inner.executeBatch(sql, rowCount)
    execs.add(ExecRec(Tracer.tableOf(sql), t0, System.nanoTime(),
      sql.getBytes("UTF-8").length.toLong, rowCount))
  }

  override def createConstraints(sql: String): Unit =
    tracer.time("engine.target.constraint", Tracer.tableOf(sql))(
      inner.createConstraints(sql))

  override def quotedDecimalLiterals: Boolean = inner.quotedDecimalLiterals
}

/** Task metrics per Spark job, tagged with the job's key property and
  * submission time so they can be attributed to a table or a query.
  */
final class JobProbe extends SparkListener {
  final class JobStats(val key: String, val submitMs: Long) {
    val tasks = new AtomicLong
    val taskMs = new AtomicLong
    val cpuNs = new AtomicLong
    val delayMs = new AtomicLong
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    val spill = new AtomicLong
    val gcMs = new AtomicLong
  }
  val jobs = new ConcurrentHashMap[Int, JobStats]
  private val stageJob = new ConcurrentHashMap[Int, JobStats]

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val key = Option(j.properties)
      .flatMap(p => Option(p.getProperty(Tracer.KeyProperty))).getOrElse("")
    val st = new JobStats(key, j.time)
    jobs.put(j.jobId, st)
    j.stageIds.foreach(s => stageJob.put(s, st))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val st = stageJob.get(t.stageId)
    val m = t.taskMetrics
    if (st != null && m != null) {
      st.tasks.incrementAndGet()
      st.taskMs.addAndGet(m.executorRunTime)
      st.cpuNs.addAndGet(m.executorCpuTime)
      st.delayMs.addAndGet(math.max(0L, t.taskInfo.duration -
        m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - t.taskInfo.gettingResultTime))
      st.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      st.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      st.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      st.gcMs.addAndGet(m.jvmGCTime)
    }
  }

  def reset(): Unit = { jobs.clear(); stageJob.clear() }
}

/** Host and JVM counters sampled around a run: CPU steal from
  * /proc/stat, the 1-minute load average and collector time.
  */
object Window {
  def stealMs(): Long =
    try {
      val cpu = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = cpu.getLines().next().trim.split("\\s+")
        // cpu user nice system idle iowait irq softirq steal ...
        if (f.length > 8) f(8).toLong * 1000L / 100L else 0L
      } finally cpu.close()
    } catch { case _: Exception => 0L }

  def load1(): Double =
    try {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.getLines().next().split(" ")(0).toDouble finally s.close()
    } catch { case _: Exception => 0.0 }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}

object Trace {
  /** Close a traced migration: turn the task-side execute records into
    * spans, derive one span per table (its first call to its last, the
    * constraint pass excluded), hang each call under its table, and
    * record the operation span itself.
    */
  def finishMigration(t: Tracer, opId: Long, t0: Long, t1: Long,
      execs: CollectionAccumulator[ExecRec]): Unit = {
    execs.value.asScala.foreach(e =>
      t.record("engine.target.execute", e.table, e.startNs, e.endNs, e.bytes))
    val calls = t.spans.asScala.filter(s => s.parent == opId &&
      s.key.nonEmpty && s.name != "engine.target.constraint").toSeq
    val tableIds = calls.groupBy(_.key).map { case (table, ss) =>
      table -> t.record("engine.migrator.table", table,
        ss.map(_.startNs).min, ss.map(_.endNs).max, parentId = opId)
    }
    val moved = calls.map(_.id).toSet
    t.spans.removeIf(s => moved(s.id))
    calls.foreach(s => t.spans.add(s.copy(parent = tableIds(s.key))))
    t.record("op.migration", "", t0, t1, parentId = 0L, id = opId)
  }

  /** Spans of operation `opId`, at any depth. */
  def under(t: Tracer, opId: Long): Seq[Span] = {
    val all = t.spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    def walk(id: Long): Seq[Span] =
      kids.getOrElse(id, Nil).flatMap(s => s +: walk(s.id))
    walk(opId)
  }
}
