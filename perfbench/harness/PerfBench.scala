// Lives under org.apache.spark only to drain the listener bus
// (`LiveListenerBus.waitUntilEmpty`, private[spark]) before a traced query's
// counters are read; everything else it calls is public API.
package org.apache.spark.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** Benchmark harness: runs one workload's operations in whole rounds on one
  * `local[N]` session and writes `result.json` into the run's output
  * directory. `perfbench/run.py` generates the inputs, writes the spec this
  * reads, and checks the results it dumps.
  *
  * Every operation is timed from the call that builds its DataFrame until
  * `collect()` has returned the full result (all columns, final order), in
  * wall time and in the CPU time the JVM spent meanwhile, split into the
  * program's own threads, the JIT compiler and the garbage collector.
  * Between operations, outside the timed window, every cross-query memo,
  * the SQL cache and all persisted RDDs are cleared and a GC is forced.
  *
  * With `trace 1` a SparkListener attributes each operation's jobs, stages,
  * tasks and task metrics to the layer that launched them (a local property
  * set around the build call, the action, and the cold Tables probe), and
  * the query's planning tracker and executed plan give the plan layer.
  */
object PerfBench {

  /** An operation and the base tables its DuckDB oracle reads. */
  final case class Op(name: String, tables: Seq[String])

  private def tablesOf(name: String): Seq[String] =
    graft.SparkEntry.oracleSql.get(name).toSeq.flatMap { sql =>
      graft.Tables.names.filter(t => s"\\b$t\\b".r.findFirstIn(sql).isDefined)
    }

  /** run.py's spec: `key<TAB>value` lines, and one `op<TAB>name` line per
    * operation in round order. */
  final class Spec(lines: Seq[Array[String]]) {
    private val (opLines, kvLines) = lines.partition(_(0) == "op")
    private val kv = kvLines.map(a => a(0) -> a(1)).toMap
    def apply(k: String): String = kv(k)
    val ops: Seq[Op] = opLines.map(a => Op(a(1), tablesOf(a(1))))
  }

  // ---- per-layer counters ------------------------------------------------

  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, gcMs, shuffleWrite, shuffleRead, spill = 0L
    var batches, batchMs, commitMs = 0L
    val stateRows = mutable.Map.empty[java.util.UUID, Long]
  }

  /** Sums task metrics per layer ("phase" local property of the job). */
  final class Collector extends SparkListener {
    private val accs = mutable.Map.empty[String, Acc]
    private val stagePhase = mutable.Map.empty[Int, String]
    @volatile var current = "none"

    private def acc(p: String): Acc = accs.getOrElseUpdate(p, new Acc)

    def snapshot(): Map[String, Acc] = synchronized {
      val s = accs.toMap
      accs.clear(); stagePhase.clear()
      s
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties).flatMap(pr => Option(pr.getProperty("perfbench.phase")))
        .getOrElse(current)
      acc(p).jobs += 1
      e.stageInfos.foreach(s => stagePhase(s.stageId) = p)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      acc(stagePhase.getOrElse(e.stageInfo.stageId, current)).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = acc(stagePhase.getOrElse(e.stageId, current))
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case q: QueryProgressEvent => synchronized {
        // streaming micro-batches run on the query's own thread, which
        // inherits the phase property but reports progress without it
        val a = acc("build")
        val p = q.progress
        a.batches += 1
        a.batchMs += p.batchDuration
        a.commitMs += p.stateOperators.map(_.commitTimeMs).sum
        a.stateRows(p.runId) = p.stateOperators.map(_.numRowsTotal).sum
      }
      case _ =>
    }
  }

  // ---- helpers ------------------------------------------------------------

  private def now(): Long = System.nanoTime()

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  // HotSpot's own threads (thread names as /proc truncates them to 15 chars)
  private val jitThread = "^C[12] CompilerThre".r
  private val gcThread = "^(GC Thread|G1 |VM Thread)".r

  /** CPU time in ns: (whole JVM, JIT compiler threads, GC threads). The JVM
    * total comes from the process clock, so threads that ended still count;
    * the HotSpot threads are long-lived (the launcher turns off dynamic
    * compiler threads), and are read from each thread's schedstat. */
  final case class Cpu(all: Long, jit: Long, gc: Long) {
    def -(o: Cpu): Cpu = Cpu(all - o.all, jit - o.jit, gc - o.gc)
    /** The program's own threads: everything but JIT and GC. */
    def app: Long = all - jit - gc
  }
  private def cpuNow(): Cpu = {
    var jit, gc = 0L
    for (d <- new File("/proc/self/task").listFiles()) {
      try {
        val name = Files.readString(Paths.get(d.getPath, "comm")).trim
        val isJit = jitThread.findFirstIn(name).isDefined
        if (isJit || gcThread.findFirstIn(name).isDefined) {
          val ns = Files.readString(Paths.get(d.getPath, "schedstat")).trim.split(" ")(0).toLong
          if (isJit) jit += ns else gc += ns
        }
      } catch { case _: java.io.IOException => }  // the thread has ended
    }
    Cpu(osBean.getProcessCpuTime, jit, gc)
  }
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  private def num(v: Double): String = String.format(Locale.ROOT, "%.6f", Double.box(v))
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  /** (steal, total) jiffies of the machine's CPUs from /proc/stat: time the
    * host ran something else while this machine's CPUs wanted to run. */
  private def stealJiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").drop(1).take(8).map(_.toLong)
    (f(7), f.sum)
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** Shuffle exchanges the query actually ran, through AQE stages and
    * subqueries; a reused exchange adds none. */
  private def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case _: ReusedExchangeExec => 0
    case e: ShuffleExchangeLike => 1 + e.children.map(exchanges).sum
    case o => o.children.map(exchanges).sum + o.subqueries.map(exchanges).sum
  }

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spec = new Spec(scala.io.Source.fromFile(args(0)).getLines()
      .map(_.split("\t")).toSeq)
    val cores = spec("cores")
    val seconds = spec("seconds").toDouble
    val trace = spec("trace") == "1"
    val out = spec("out")
    val data = spec("data")
    val textFiles = spec("text").split(",").toSeq
    val edgeFiles = spec("edges").split(",").toSeq
    val term = spec("grep_term")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val bootS = (System.currentTimeMillis() - jvmStart) / 1e3
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val collector = new Collector
    def phase(p: String): Unit = { collector.current = p; sc.setLocalProperty("perfbench.phase", p) }

    val registry = graft.SparkEntry.queries
    def build(op: Op): DataFrame = op.name match {
      case "mr_wc" => graft.operators.WordCount.overTextFiles(spark, textFiles)
      case "mr_grep" => graft.operators.Grep.overTextFiles(spark, textFiles, term)
      case "mr_vertex_degree" => graft.operators.VertexDegree.overTextFiles(spark, edgeFiles)
      case n => registry(n)(spark, data)
    }
    // the text applications are checked in their output order; registry
    // results as row multisets, as the DuckDB oracles define them
    val ordered = Set("mr_wc", "mr_grep", "mr_vertex_degree")

    def reset(): Double = {
      val t0 = now()
      graft.Tables.reset()
      graft.queries.DedupQueries.reset()
      graft.queries.GraphQueries.reset()
      graft.queries.PipelineQueries.reset()
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      secs(t0, now())
    }

    /** One operation: build the DataFrame, optimize and plan it (the steps
      * `collect()` would take first, forced one at a time so each is timed),
      * then collect the full result. `window` spans all four. */
    final case class Run(window: Double, cpu: Cpu, buildS: Double, optS: Double, planS: Double,
        execS: Double, df: DataFrame, rows: Array[Row])
    def runOp(op: Op): Run = {
      phase("build")
      val c0 = cpuNow()
      val t0 = now()
      val df = build(op)
      val t1 = now()
      phase("execute")
      df.queryExecution.optimizedPlan
      val t2 = now()
      df.queryExecution.executedPlan
      val t3 = now()
      val rows = df.collect()
      val t4 = now()
      val c4 = cpuNow()
      phase("none")
      Run(secs(t0, t4), c4 - c0, secs(t0, t1), secs(t1, t2), secs(t2, t3), secs(t3, t4), df, rows)
    }

    // warm-up: untimed passes over every operation, so codegen, JIT and
    // file-system caches are filled before the first timed round (an
    // operation that throws here throws again, and is counted, when timed)
    for (_ <- 1 to spec("warmup").toInt; op <- spec.ops) {
      try runOp(op) catch { case _: Exception => phase("none") }
      reset()
    }
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    val resultsDir = new File(out, "results"); resultsDir.mkdirs()
    val first = mutable.Map.empty[String, Seq[String]]
    val rounds = mutable.ArrayBuffer.empty[String]
    val resets = mutable.ArrayBuffer.empty[Double]
    val profile = mutable.ArrayBuffer.empty[String]
    val failures = mutable.ArrayBuffer.empty[String]
    val mismatches = mutable.LinkedHashSet.empty[String]

    def canon(op: Op, rows: Array[Row]): Seq[String] = {
      val s = rows.toSeq.map(_.toString)
      if (ordered(op.name)) s else s.sorted
    }

    /** Dump the first timed round's rows for run.py's checks. */
    def dump(op: Op, df: DataFrame, rows: Array[Row]): Unit = {
      phase("check")
      if (ordered(op.name)) {
        val w = new PrintWriter(new File(resultsDir, s"${op.name}.tsv"), "UTF-8")
        try rows.foreach(r => w.println(r.toSeq.mkString("\t"))) finally w.close()
      } else {
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(new File(resultsDir, op.name).getPath)
        graft.SparkEntry.oracleSql.get(op.name).foreach(sql =>
          Files.writeString(Paths.get(resultsDir.getPath, s"${op.name}.sql"), sql))
      }
      phase("none")
    }

    /** Cold calls into the Tables layer for the tables `op` reads. */
    def tablesProbe(op: Op): (Double, Double) = {
      graft.Tables.reset()
      phase("tables")
      var loadS, countS = 0.0
      op.tables.foreach { t =>
        val t0 = now(); graft.Tables.load(spark, data, t); val t1 = now()
        graft.Tables.rowCount(spark, data, t); val t2 = now()
        loadS += secs(t0, t1); countS += secs(t1, t2)
      }
      phase("none")
      graft.Tables.reset()  // the next query resolves its tables cold
      (loadS, countS)
    }

    /** The traced query's per-layer metrics, read before the reset so the
      * reset's GC also clears the probe's garbage. */
    def profileOf(round: Int, op: Op, run: Run): Seq[(String, String)] = {
      sc.listenerBus.waitUntilEmpty()
      val layers = collector.snapshot()
      val (loadS, countS) = tablesProbe(op)
      sc.listenerBus.waitUntilEmpty()
      val tab = collector.snapshot().getOrElse("tables", new Acc)
      val b = layers.getOrElse("build", new Acc)
      val x = layers.getOrElse("execute", new Acc)
      val qe = run.df.queryExecution
      // analysis ran eagerly inside the build call; time it again on the
      // query's own logical plan
      val a0 = now()
      spark.sessionState.analyzer.executeAndCheck(qe.logical, new QueryPlanningTracker)
      val analysisS = secs(a0, now())
      val mb = 1024.0 * 1024.0
      Seq(
        "round" -> round.toString, "op" -> str(op.name), "rows" -> run.rows.length.toString,
        "window_s" -> num(run.window), "cpu_s" -> num(run.cpu.app / 1e9),
        "jvm.jit_cpu_s" -> num(run.cpu.jit / 1e9), "jvm.gc_cpu_s" -> num(run.cpu.gc / 1e9),
        "Tables.load_s" -> num(loadS), "Tables.load_jobs" -> tab.jobs.toString,
        "Tables.rowCount_s" -> num(countS),
        "queries.build_s" -> num(run.buildS), "queries.build_jobs" -> b.jobs.toString,
        "queries.build_executor_s" -> num(b.runMs / 1e3),
        "plan.analysis_s" -> num(analysisS), "plan.optimization_s" -> num(run.optS),
        "plan.planning_s" -> num(run.planS), "plan.exchanges" -> exchanges(qe.executedPlan).toString,
        "execute.s" -> num(run.execS), "execute.jobs" -> x.jobs.toString,
        "execute.stages" -> x.stages.toString, "execute.tasks" -> x.tasks.toString,
        "execute.executor_run_s" -> num(x.runMs / 1e3),
        "execute.busy_frac" -> num(x.runMs / 1e3 / (cores.toDouble * run.execS)),
        "execute.shuffle_write_mb" -> num((b.shuffleWrite + x.shuffleWrite) / mb),
        "execute.shuffle_read_mb" -> num((b.shuffleRead + x.shuffleRead) / mb),
        "execute.spill_mb" -> num((b.spill + x.spill) / mb),
        "execute.gc_s" -> num((b.gcMs + x.gcMs) / 1e3),
        "streaming.batches" -> b.batches.toString,
        "streaming.batch_s" -> num(b.batchMs / 1e3),
        "streaming.state_commit_s" -> num(b.commitMs / 1e3),
        "streaming.state_rows" -> b.stateRows.values.sum.toString)
    }

    // Whole rounds until the program's CPU time over the timed windows adds
    // up to `seconds`: neither the time spent on dumps and resets between
    // windows nor the host's load changes the number of rounds, so every
    // run medians over the same rounds of JIT warm-up. A traced run
    // alternates untraced and traced rounds, untraced first, so the
    // listener's overhead is the difference of their walls; it runs at
    // least three, so a traced round can be compared with an untraced one
    // other than the first, which JIT compilation still slows.
    val minRounds = if (trace) 3 else 1
    var measured = 0.0
    var round = 0
    while (round < minRounds || measured < seconds) {
      round += 1
      val traced = trace && round % 2 == 0
      if (traced) sc.addSparkListener(collector)
      val steal0 = stealJiffies()
      val times = spec.ops.map { op =>
        val run =
          try runOp(op)
          catch { case e: Exception =>
            phase("none")
            failures += s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
            null
          }
        if (run != null) {
          val c = canon(op, run.rows)
          first.get(op.name) match {
            case None => first(op.name) = c; dump(op, run.df, run.rows)
            case Some(prev) => if (prev != c) mismatches += op.name
          }
        }
        val prof = if (traced && run != null) profileOf(round, op, run) else Nil
        if (traced && run == null) { sc.listenerBus.waitUntilEmpty(); collector.snapshot() }
        val r = reset()
        resets += r
        if (prof.nonEmpty) profile += obj(prof :+ ("reset_s" -> num(r)))
        val window = if (run != null) run.window else -1.0
        val cpu = if (run != null) run.cpu else Cpu(-1000000000L, 0L, 0L)
        measured += math.max(cpu.app / 1e9, 0.0)
        obj(Seq("op" -> str(op.name), "window_s" -> num(window), "cpu_s" -> num(cpu.app / 1e9),
          "jit_cpu_s" -> num(cpu.jit / 1e9), "gc_cpu_s" -> num(cpu.gc / 1e9)))
      }
      if (traced) { sc.listenerBus.waitUntilEmpty(); sc.removeSparkListener(collector) }
      val steal1 = stealJiffies()
      val steal = (steal1._1 - steal0._1).toDouble / math.max(steal1._2 - steal0._2, 1L)
      rounds += obj(Seq("traced" -> traced.toString, "steal" -> num(steal),
        "ops" -> times.mkString("[", ",", "]")))
    }

    val json = obj(Seq(
      "setup_s" -> num(setupS),
      "boot_s" -> num(bootS),
      "tables" -> obj(spec.ops.map(o => o.name -> o.tables.map(str).mkString("[", ",", "]"))),
      "peak_rss_mb" -> num(peakRssMb()),
      "rounds" -> rounds.mkString("[", ",", "]"),
      "reset_s" -> resets.map(num).mkString("[", ",", "]"),
      "failures" -> failures.map(str).mkString("[", ",", "]"),
      "mismatches" -> mismatches.toSeq.map(str).mkString("[", ",", "]"),
      "never_ok" -> spec.ops.map(_.name).filterNot(first.contains).map(str).mkString("[", ",", "]"),
      "profile" -> profile.mkString("[", ",", "]")))
    Files.writeString(Paths.get(out, "result.json"), json)
    spark.stop()
  }
}
