package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.core.{Scratch, Sessions, Tables}
import graft.sources.{DataWriter, FileType}

/** One benchmark run in one JVM, driven by `perfbench/run.py`.
  *
  * A closed loop with one client: the ops of a workload run one at a time,
  * in an order shuffled per pass from `--seed`, until `--seconds` have
  * passed (at least [[MinPasses]] whole passes). Set-up (session, table
  * registration, [[WarmupPasses]] untimed passes over every op in list
  * order, the first of which writes each result as parquet for the
  * correctness check) is timed separately and ends at the first timed op. Each op is the
  * builder call from `SparkEntry.queries` followed by the workload's sink:
  * `DataWriter.write` as parquet, or Spark's noop sink. Between ops and
  * between passes the run releases cached blocks and state stores and
  * collects garbage off the clock, like graft.Bench; after the last pass it
  * reads the live heap.
  *
  * An op that throws yields no time; it is listed under `failures`.
  *
  * With `--trace 1` the run registers [[Recorder]]'s listeners and
  * alternates plain passes with traced ones (recording, forced
  * `executedPlan`, output-file count): plain, traced, plain, ..., at least
  * [[MinTracedPasses]] passes, ending on a plain one. Every traced pass
  * lies between two plain ones, so the analysis can price the tracing work
  * against its neighbours, whatever the JIT still gains from pass to pass.
  *
  * Everything measured goes, raw, to the `--report` JSON; `run.py` turns it
  * into metrics. Arguments are `--key value` pairs, all required. */
object Harness {
  final case class Op(name: String, pass: Int, traced: Boolean, startMs: Long,
                      buildNs: Long, planNs: Long, sinkNs: Long, files: Int)
  final case class Pass(index: Int, traced: Boolean, wallNs: Long, cpuNs: Long,
                        gcMs: Long)
  final case class Failure(name: String, phase: String, error: String)

  /** A builder that always throws: the self-test's proof that a failing op
    * is counted as failed and never timed. */
  val FailOp = "selftest_fail"

  /** Untimed passes before the timed ones. The first runs every op cold;
    * after it the JIT still compiles for several passes, and how long it
    * keeps at it varies from run to run. */
  val WarmupPasses = 2

  /** Timed passes per run at least, so `pass_s` is always a median. */
  val MinPasses = 3

  /** Passes of a traced run at least: plain, traced, plain. */
  val MinTracedPasses = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val names = a("queries").split(",").toSeq
    val unknown = names.filterNot(n => n == FailOp || SparkEntry.queries.contains(n))
    if (unknown.nonEmpty) {
      System.err.println(s"[perfbench] unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val builders: Map[String, (SparkSession, String) => DataFrame] = names.map { n =>
      n -> SparkEntry.queries.getOrElse(n,
        (_: SparkSession, _: String) => throw new IllegalStateException("deliberately failing op"))
    }.toMap
    val data = a("data")
    val out = a("out")
    val parquetSink = a("sink") == "parquet"
    val traced = a("trace") == "1"

    val mx = ManagementFactory.getRuntimeMXBean
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jit = ManagementFactory.getCompilationMXBean
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs: Long = gcBeans.map(_.getCollectionTime).sum

    // The engine's streaming fixtures stage and checkpoint under its scratch
    // root; remember what was there so this run removes only its own dirs.
    val scratchRoot = new File(Scratch.checkpointBase).getParentFile
    val scratchBefore = graftDirs(scratchRoot) - new File(Scratch.checkpointBase).getName

    val t0 = System.nanoTime()
    val listenerConf =
      if (traced) Map("spark.sql.streaming.streamingQueryListeners" -> classOf[StreamRecorder].getName)
      else Map.empty[String, String]
    val spark = Sessions.local(appName = "perfbench", cores = a("cores").toInt,
      extraConf = listenerConf)
    if (traced) spark.sparkContext.addSparkListener(new Recorder.Listener)
    val sessionNs = System.nanoTime() - t0
    Tables.registerViews(spark, data)
    val registerNs = System.nanoTime() - t0 - sessionNs

    var quiesceNs = 0L
    // gcs: 0 between ops, 1 between passes, 3 before the heap reading
    def quiesce(gcs: Int): Unit = {
      val q0 = System.nanoTime()
      try org.apache.spark.sql.graft.Bridge.stopStateStores() catch { case _: Throwable => () }
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      // before a heap reading, wait until the blocks are gone
      try spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = gcs > 1))
      catch { case _: Throwable => () }
      if (gcs == 1) System.gc()
      // repeated, with pauses: each collection hands Spark's ContextCleaner
      // dead broadcasts and shuffles, which it releases on its own thread
      // before the next one
      if (gcs > 1) (1 to gcs).foreach { _ => System.gc(); Thread.sleep(300) }
      quiesceNs += System.nanoTime() - q0
    }

    val failures = ArrayBuffer.empty[Failure]
    def runOp(name: String, pass: Int, trace: Boolean, parquet: Boolean): Option[Op] = {
      val dir = s"$out/$name"
      val startMs = System.currentTimeMillis()
      val n0 = System.nanoTime()
      var phase = "build"
      try {
        val df = builders(name)(spark, data)
        val n1 = System.nanoTime()
        phase = "plan"
        if (trace) df.queryExecution.executedPlan
        val n2 = System.nanoTime()
        phase = "sink"
        if (parquet) DataWriter.write(df, FileType.Parquet, dir)
        else df.write.format("noop").mode("overwrite").save()
        val n3 = System.nanoTime()
        val files = if (trace && parquet) partFiles(dir) else 0
        Some(Op(name, pass, trace, startMs, n1 - n0, n2 - n1, n3 - n2, files))
      } catch {
        case e: Throwable =>
          val where = if (pass < 0) "warmup" else s"pass $pass"
          failures += Failure(name, s"$where/$phase", String.valueOf(e.getMessage).take(300))
          None
      }
    }

    // Warmup: every op once per warmup pass, in list order; the first pass
    // writes each result for the correctness check.
    val w0 = System.nanoTime()
    (1 to WarmupPasses).foreach { w =>
      names.foreach { n => runOp(n, -w, trace = false, parquet = w == 1 || parquetSink); quiesce(0) }
      quiesce(1)
    }
    val warmupNs = System.nanoTime() - w0
    val setupQuiesceNs = quiesceNs
    val jitSetupMs = jit.getTotalCompilationTime

    val rng = new scala.util.Random(a("seed").toLong)
    val ops = ArrayBuffer.empty[Op]
    val passes = ArrayBuffer.empty[Pass]
    val firstOpMs = System.currentTimeMillis()
    val loop0 = System.nanoTime()
    val seconds = a("seconds").toDouble
    val minPasses = if (traced) MinTracedPasses else MinPasses
    var p = 0
    // a traced run stops only after a plain (even) pass
    while (p < minPasses || (System.nanoTime() - loop0) / 1e9 < seconds ||
           (traced && p % 2 == 0)) {
      val order = rng.shuffle(names)
      val trace = traced && p % 2 == 1
      if (trace) Recorder.beginTraced()
      val cpu0 = os.getProcessCpuTime
      val gc0 = gcMs
      val q0 = quiesceNs
      val p0 = System.nanoTime()
      order.foreach { n => runOp(n, p, trace, parquetSink).foreach(ops += _); quiesce(0) }
      val wall = System.nanoTime() - p0 - (quiesceNs - q0)
      val cpu = os.getProcessCpuTime - cpu0
      val gc = gcMs - gc0
      if (trace) Recorder.endTraced()
      quiesce(1)
      passes += Pass(p, trace, wall, cpu, gc)
      p += 1
    }
    quiesce(3)
    val liveHeapBytes = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    quiesce(0)
    val jvmFlags = mx.getInputArguments.asScala.toSeq
    val jitTotalMs = jit.getTotalCompilationTime
    // stop() drains the listener bus, so the recorder is complete after it
    try spark.sparkContext.setLogLevel("ERROR") catch { case _: Throwable => () }
    spark.stop()

    val scratchAfter = graftDirs(scratchRoot) -- scratchBefore
    scratchAfter.foreach(n => deleteTree(new File(scratchRoot, n)))

    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    writeFile(s"$out/oracle_sql.json", Json.obj(oracle.map { case (k, v) => k -> Json.str(v) }.toSeq))

    val stageCols = Seq("id", "attempt", "tasks", "submit_ms", "end_ms", "run_ms",
      "cpu_ns", "gc_ms", "spill_bytes", "in_bytes", "in_rows", "out_bytes",
      "out_rows", "sh_write_bytes", "sh_write_rows", "sh_read_bytes",
      "sh_read_rows", "fetch_wait_ms", "sched_delay_ms")
    val report = Json.obj(Seq(
      "process_start_ms" -> mx.getStartTime.toString,
      "first_op_ms" -> firstOpMs.toString,
      "session_s" -> Json.num(sessionNs / 1e9),
      "register_s" -> Json.num(registerNs / 1e9),
      "warmup_s" -> Json.num(warmupNs / 1e9),
      "setup_quiesce_s" -> Json.num(setupQuiesceNs / 1e9),
      "quiesce_s" -> Json.num((quiesceNs - setupQuiesceNs) / 1e9),
      "jit_setup_s" -> Json.num(jitSetupMs / 1e3),
      "jit_total_s" -> Json.num(jitTotalMs / 1e3),
      "live_heap_bytes" -> liveHeapBytes.toString,
      "jvm_flags" -> Json.arr(jvmFlags.map(Json.str)),
      "no_oracle" -> Json.arr(names.filterNot(n => n == FailOp || oracle.contains(n)).map(Json.str)),
      "failures" -> Json.arr(failures.toSeq.map(f => Json.obj(Seq(
        "name" -> Json.str(f.name), "phase" -> Json.str(f.phase), "error" -> Json.str(f.error))))),
      "passes" -> Json.arr(passes.toSeq.map(x => Json.obj(Seq(
        "index" -> x.index.toString, "traced" -> x.traced.toString,
        "wall_ns" -> x.wallNs.toString, "cpu_ns" -> x.cpuNs.toString,
        "gc_ms" -> x.gcMs.toString)))),
      "ops" -> Json.arr(ops.toSeq.map(o => Json.obj(Seq(
        "name" -> Json.str(o.name), "pass" -> o.pass.toString,
        "traced" -> o.traced.toString, "start_ms" -> o.startMs.toString,
        "build_ns" -> o.buildNs.toString, "plan_ns" -> o.planNs.toString,
        "sink_ns" -> o.sinkNs.toString, "files" -> o.files.toString)))),
      "jobs" -> Json.arr(Recorder.jobs.toSeq.map(j =>
        Json.arr(Seq(j.id, j.startMs, j.endMs).map(_.toString)))),
      "stage_cols" -> Json.arr(stageCols.map(Json.str)),
      "stages" -> Json.arr(Recorder.stages.toSeq.map(s => Json.arr(s.productIterator.map(_.toString).toSeq))),
      "sql" -> Json.arr(Recorder.sql.map(q => Json.obj(Seq(
        "start_ms" -> q.startMs.toString, "exchanges" -> q.exchanges.toString,
        "broadcasts" -> q.broadcasts.toString, "codegen" -> q.codegen.toString)))),
      "batches" -> Json.arr(Recorder.batches.toSeq.map(b => Json.obj(Seq(
        "start_ms" -> b.startMs.toString,
        "durations" -> Json.obj(b.durations.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }),
        "state_commit_ms" -> b.stateCommitMs.toString,
        "state_rows" -> b.stateRows.toString,
        "state_mem_bytes" -> b.stateMemBytes.toString))))
    ))
    writeFile(a("report"), report)
    System.out.flush()
    sys.exit(0)
  }

  private def graftDirs(root: File): Set[String] =
    Option(root.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("graft")).map(_.getName).toSet

  private def deleteTree(f: File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
    ()
  }

  private def partFiles(dir: String): Int =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .count(f => f.isFile && f.getName.startsWith("part-"))

  private def writeFile(path: String, s: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.print(s) finally w.close()
  }
}

/** Minimal JSON text builders: values are passed in already rendered. */
object Json {
  def str(v: String): String = {
    val sb = new StringBuilder("\"")
    v.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
