package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusBridge
import org.apache.spark.sql.SparkSession

import graft.{GraftRuntime, SparkEntry}

/** Runs one workload in one process and writes `result.json` (and, when
  * traced, `spans.jsonl` and `per_key.tsv`) into the run directory.
  * `run.py` builds this, makes the inputs and prints the result.
  *
  * Usage: PerfMain --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --run-dir DIR [--corrupt 1] [--packet-bytes N]
  *   or: PerfMain --dump-oracle FILE (the oracle SQL of the analytics mix)
  */
object PerfMain {

  /** A closed loop needs a few operations for a median. */
  private val MinOps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    a.get("--dump-oracle") match {
      case Some(file) => dumpOracle(file)
      case None => run(a)
    }
  }

  private def dumpOracle(file: String): Unit = {
    val sql = SparkEntry.oracleSql
    val pairs = AnalyticsMix.queries.map(n => s"${Json.str(n)}: ${Json.str(sql(n))}")
    Files.write(Paths.get(file), pairs.mkString("{", ",\n", "}\n").getBytes("UTF-8"))
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
    }

  private def seconds[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  private def run(a: Map[String, String]): Unit = {
    val name = a("--workload")
    val seed = a("--seed").toLong
    val budget = a("--seconds").toDouble
    val traced = a("--trace") == "1"
    val data = a("--data")
    val runDir = a("--run-dir")
    val corrupt = a.get("--corrupt").contains("1")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val steal0 = Window.stealMs()
    val gc0 = Window.gcMs()

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/spark-local")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    GraftRuntime.silenceKnownBenignWarnings()
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    try {
      val w = Workload(name, spark, data, seed, runDir, a.get("--packet-bytes").map(_.toInt))
      // set-up: the repeatable step (source seeding) at its median, plus
      // session start and one warm-up operation, gated like the rest
      val prepS = (1 to w.prepareRepeats).map(_ => seconds(w.prepare())._1)
      val (warmS, warm) = seconds(w.run(None, corrupt = false))
      val setupS = sessionS + median(prepS) + warmS

      val plain = ListBuffer.empty[Op]
      val tracedOps = ListBuffer.empty[(Op, Map[String, Double])]
      val batchMs = ListBuffer.empty[Double]
      val perKey = ListBuffer.empty[(String, String, Double)]
      val tracer = new Tracer(s"$name-$seed-${System.currentTimeMillis()}")
      val probe = new JobProbe
      val m0 = System.nanoTime()
      def elapsed = (System.nanoTime() - m0) / 1e9
      if (!traced) {
        while (plain.size < MinOps || elapsed < budget) plain += w.run(None, corrupt)
      } else {
        // alternate untraced and traced operations, so the overhead is
        // read from one window
        while (tracedOps.size < 2 || elapsed < budget) {
          plain += w.run(None, corrupt)
          probe.reset()
          sc.addSparkListener(probe)
          val mark = tracer.mark
          val w0 = System.currentTimeMillis()
          val op = w.run(Some(tracer), corrupt)
          BusBridge.drain(sc)
          sc.removeSparkListener(probe)
          val opSpan = tracer.since(mark).find(_.parent == 0L)
          val (m, keyed, execMs) = Layers.perOp(tracer, opSpan, op, probe, w0)
          tracedOps += ((op, m))
          batchMs ++= execMs
          if (tracedOps.size == 1) perKey ++= keyed
        }
        perKey ++= w.layerCalls(tracer)
      }
      val storageMb = sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
      val all = warm +: (plain.toList ++ tracedOps.map(_._1))
      val attempted = all.map(_.attempted).sum
      val failed = all.map(_.failed).sum

      def e2e(ops: Seq[Op]): Map[String, Double] = Map(
        "setup_s" -> setupS,
        "rows_per_s" -> median(ops.map(o => o.rows / o.wallS)),
        "tables_per_s" -> median(ops.map(o => o.units / o.wallS)),
        "mix_s" -> median(ops.map(_.wallS)))
      val window = Map(
        "host.steal_ms" -> (Window.stealMs() - steal0).toDouble,
        "host.load1" -> Window.load1(),
        "jvm.gc_ms" -> (Window.gcMs() - gc0).toDouble)
      val plainM = e2e(plain.toList)
      val layer: Map[String, Double] =
        if (!traced) Map.empty
        else {
          val tracedM = e2e(tracedOps.map(_._1).toList)
          Layers.summarize(tracedOps.map(_._2).toList, batchMs.toList, perKey.toList) ++
            window ++
            Map(
              "storage_mb" -> storageMb,
              "failed_ops_frac" -> failed.toDouble / attempted,
              "trace.overhead_rows_per_s" -> (tracedM("rows_per_s") - plainM("rows_per_s")),
              "trace.overhead_tables_per_s" -> (tracedM("tables_per_s") - plainM("tables_per_s")),
              "trace.overhead_mix_s" -> (tracedM("mix_s") - plainM("mix_s")))
        }

      Files.createDirectories(Paths.get(runDir))
      if (traced) {
        val spans = tracer.spans.asScala.toSeq.sortBy(_.startNs).map { s =>
          s"""{"run":${Json.str(s.run)},"id":${s.id},"parent":${s.parent},""" +
            s""""name":${Json.str(s.name)},"key":${Json.str(s.key)},""" +
            s""""start_ns":${s.startNs},"end_ns":${s.endNs},"bytes":${s.bytes}}"""
        }
        Files.write(Paths.get(runDir, "spans.jsonl"), spans.asJava)
        Files.write(Paths.get(runDir, "per_key.tsv"),
          ("metric\tkey\tvalue" +: perKey.map { case (m, k, v) => s"$m\t$k\t$v" }).asJava)
      }
      val result =
        s"""{"workload":${Json.str(name)},"attempted":$attempted,"failed":$failed,""" +
          s""""samples":${plain.size},"traced_samples":${tracedOps.size},""" +
          s""""op_s":${plain.map(_.wallS).mkString("[", ",", "]")},""" +
          s""""end_to_end":${Json.obj(plainM ++ Map("storage_mb" -> storageMb,
            "failed_ops_frac" -> failed.toDouble / attempted))},""" +
          s""""setup":${Json.obj(Map("session_s" -> sessionS, "warmup_s" -> warmS) ++
            prepS.zipWithIndex.map { case (p, i) => s"prepare_${i + 1}_s" -> p })},""" +
          s""""window":${Json.obj(window)},"per_layer":${Json.obj(layer)},""" +
          s""""per_query":${Json.obj(plain.toList.flatMap(_.perKey).groupBy(_._1)
            .map { case (q, ts) => s"queries.${q}_s" -> median(ts.map(_._2)) })},""" +
          s""""result_dirs":${all.filter(_.outDir.nonEmpty).map(o => Json.str(o.outDir)).mkString("[", ",", "]")}}"""
      Files.write(Paths.get(runDir, "result.json"), result.getBytes("UTF-8"))
      w.close()
    } finally spark.stop()
  }
}

/** Per-layer metrics of one traced operation and their summary. */
object Layers {
  def perOp(t: Tracer, opSpan: Option[Span], op: Op, probe: JobProbe,
      w0: Long): (Map[String, Double], Seq[(String, String, Double)], Seq[Double]) = {
    val spans = opSpan.map(s => Trace.under(t, s.id)).getOrElse(Nil)
    def named(n: String) = spans.filter(_.name == n)
    def ms(n: String) = named(n).map(_.ms).sum
    val execs = named("engine.target.execute")
    val tables = named("engine.migrator.table")
    val opMs = op.wallS * 1e3
    // the fan-out starts when the last untargeted call before the
    // first table ends (table listing, packet probe, reset)
    val firstTable = if (tables.isEmpty) 0L else tables.map(_.startNs).min
    val fanout = (spans.filter(s => s.key.isEmpty && s.startNs < firstTable)
      .map(_.endNs) ++ opSpan.map(_.startNs)).max
    val jobs = probe.jobs.asScala.values.toSeq
    def sparkOf(js: Seq[probe.JobStats]): Seq[(String, Double)] = Seq(
      "spark.jobs" -> js.size.toDouble,
      "spark.tasks" -> js.map(_.tasks.get).sum.toDouble,
      "spark.task_ms" -> js.map(_.taskMs.get).sum.toDouble,
      "spark.task_cpu_ms" -> js.map(_.cpuNs.get).sum / 1e6,
      "spark.scheduler_delay_ms" -> js.map(_.delayMs.get).sum.toDouble,
      "spark.shuffle_read_mb" -> js.map(_.shuffleRead.get).sum / 1048576.0,
      "spark.shuffle_write_mb" -> js.map(_.shuffleWrite.get).sum / 1048576.0,
      "spark.spill_mb" -> js.map(_.spill.get).sum / 1048576.0,
      "spark.gc_ms" -> js.map(_.gcMs.get).sum.toDouble)
    // per table: by the job's key; per query: by the query's time window
    val byKey: Seq[(String, Seq[probe.JobStats])] =
      if (op.windows.nonEmpty)
        op.windows.map { case (q, s, e) => q -> jobs.filter(j => j.submitMs >= s && j.submitMs <= e) }
      else jobs.groupBy(_.key).toSeq.filter(_._1.nonEmpty)
    val keyed = byKey.flatMap { case (k, js) => sparkOf(js).map { case (m, v) => (m, k, v) } } ++
      tables.map(s => ("engine.migrator.table_ms", s.key, s.ms)) ++
      op.perKey.map { case (q, s) => (s"queries.${q}_s", q, s) }
    val m = Map(
      "engine.target.execute_ms" -> execs.map(_.ms).sum,
      "engine.target.execute_calls" -> execs.size.toDouble,
      "engine.target.bytes" -> execs.map(_.bytes).sum.toDouble,
      "engine.source.probe_ms" -> ms("engine.source.probe"),
      "engine.source.probe_calls" -> named("engine.source.probe").size.toDouble,
      "engine.target.ddl_ms" -> ms("engine.target.ddl"),
      "engine.target.meta_ms" -> ms("engine.target.meta"),
      "engine.target.meta_calls" -> named("engine.target.meta").size.toDouble,
      "engine.target.constraint_ms" -> ms("engine.target.constraint"),
      "engine.migrator.critical_table_ms" -> (0.0 +: tables.map(_.ms)).max,
      "engine.migrator.concurrency" -> (if (opMs > 0) tables.map(_.ms).sum / opMs else 0.0),
      "engine.migrator.table_wait_ms" -> tables.map(s => (s.startNs - fanout) / 1e6).sum) ++
      sparkOf(jobs.filter(_.submitMs >= w0)) ++
      op.perKey.map { case (q, s) => s"queries.${q}_s" -> s }
    (m, keyed, execs.map(_.ms))
  }

  /** Mean per traced operation; the execute p90 is over all batches. */
  def summarize(ops: Seq[Map[String, Double]], batches: Seq[Double],
      perKey: Seq[(String, String, Double)]): Map[String, Double] = {
    val keys = ops.flatMap(_.keys).distinct
    val mean = keys.map(k => k -> ops.map(_.getOrElse(k, 0.0)).sum / ops.size).toMap
    def layer(m: String) = perKey.filter(_._1 == m).map(_._3)
    val calls = mean.getOrElse("engine.target.execute_calls", 0.0)
    val batchCount = layer("engine.batch.count").sum
    val partitions = layer("engine.source.scan_partitions")
    (mean - "engine.target.bytes") ++ Map(
      "engine.target.execute_p90_ms" -> PerfMain.percentile(batches, 0.9),
      "engine.target.bytes_per_batch" ->
        (if (calls > 0) mean("engine.target.bytes") / calls else 0.0),
      "engine.source.scan_partitions" ->
        (if (partitions.isEmpty) 0.0 else partitions.sum / partitions.size),
      "engine.source.scan_ms" -> layer("engine.source.scan_ms").sum,
      "engine.render.ms" -> layer("engine.render.ms").sum,
      "engine.render.bytes" -> layer("engine.render.bytes").sum,
      "engine.batch.ms" -> layer("engine.batch.ms").sum,
      "engine.batch.count" -> batchCount,
      "engine.batch.rows_per_batch" ->
        (if (batchCount > 0) layer("engine.batch.rows").sum / batchCount else 0.0),
      "mapping.map_ms" -> layer("mapping.map_ms").sum)
  }
}

/** Just enough JSON for flat result files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${str(k)}:${if (v.isNaN || v.isInfinite) "null" else v.toString}"
    }.mkString("{", ",", "}")
}
