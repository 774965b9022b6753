package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.GraftSession
import graft.sources.Tables

/** One closed-loop benchmark run in this JVM: set up a GraftSession
  * several times, run a cold pass and then warm passes for the given
  * number of seconds, run the untimed correctness checks, and write a
  * JSON report (see perfbench/README.md for every field).
  *
  * Usage: Main --workload <census_etl|index_maintain>
  *   --seed <n> --seconds <n> --trace <0|1> --data <dir> --work <dir>
  *   --cores <n> --report <file>
  */
object Main {
  val SetupReps = 3
  val MaxWarmPasses = 40

  final case class Opts(
      workload: String, seed: Long, seconds: Int, trace: Boolean,
      dataDir: String, workDir: String, cores: Int, report: String)

  def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0, s"arguments must be --key value pairs, got: ${args.mkString(" ")}")
    val kv = args.grouped(2).map(a => a(0) -> a(1)).toMap
    val known = Set("--workload", "--seed", "--seconds", "--trace", "--data", "--work", "--cores", "--report")
    val unknown = kv.keySet -- known
    require(unknown.isEmpty, s"unknown arguments: ${unknown.mkString(", ")}")
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    def int(k: String) =
      try need(k).toLong
      catch { case _: NumberFormatException => throw new IllegalArgumentException(s"$k must be an integer, got '${need(k)}'") }
    val o = Opts(
      need("--workload"), int("--seed"), int("--seconds").toInt, need("--trace") == "1",
      need("--data"), need("--work"), int("--cores").toInt, need("--report"))
    require(Workloads.Names.contains(o.workload), s"unknown workload '${o.workload}' (expected one of ${Workloads.Names.mkString(", ")})")
    require(o.seed >= 0, s"--seed must be >= 0, got ${o.seed}")
    require(o.seconds >= 1, s"--seconds must be >= 1, got ${o.seconds}")
    require(Set("0", "1").contains(need("--trace")), s"--trace must be 0 or 1, got '${need("--trace")}'")
    require(o.cores >= 1, s"--cores must be >= 1, got ${o.cores}")
    Tables.All.foreach { t =>
      require(new java.io.File(o.dataDir, s"$t.parquet").exists, s"input table $t.parquet missing under ${o.dataDir}")
    }
    o
  }

  final case class OpRecord(
      name: String, family: String, kind: String, timed: Boolean, pass: Int,
      wallS: Double, error: Option[String], trace: Option[OpTrace])

  final case class PassRecord(index: Int, traced: Boolean, ops: Seq[OpRecord], filesLive: Long) {
    def timedOps: Seq[OpRecord] = ops.filter(o => o.timed && o.error.isEmpty)
    def wallS: Double = timedOps.map(_.wallS).sum
  }

  /** Heap still in use after a full collection: the live data the
    * run retains (codegen cache, broadcast and shuffle state, plans).
    */
  def liveHeapBytes(): Long = {
    System.gc()
    // Spark's ContextCleaner frees broadcast and shuffle blocks whose
    // owners a collection found dead, asynchronously: collect again
    // after it has had time, a few times, and keep the lowest reading
    (1 to 3).map { _ =>
      Thread.sleep(300)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min
  }

  /** The largest heap use any collection left behind, from the JVM's
    * GC notifications (garbage not yet reached by a collection counts).
    */
  final class GcWatch extends NotificationListener {
    private val heapPools =
      ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    @volatile var peakAfterGc = 0L
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect { case (k, u) if heapPools(k) => u.getUsed }.sum
        synchronized { peakAfterGc = math.max(peakAfterGc, used) }
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }
  }

  /** Scan every input table, then run two generic plans (shuffled
    * join + aggregate, window) so the engine's common paths are
    * compiled before the cold pass, which then measures what is
    * specific to each operation.
    */
  def warmUp(spark: SparkSession, dataDir: String): Unit = {
    import org.apache.spark.sql.functions._
    Tables.All.foreach(t => Workloads.noop(Tables.read(spark, dataDir, t)))
    val li = Tables.lineitem(spark, dataDir)
    val orders = Tables.orders(spark, dataDir)
    Workloads.noop(
      li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(sum(col("l_quantity")), count(lit(1))))
    Workloads.noop(
      li.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber")))))
  }

  /** Operations attempted (every pass's operations and every check)
    * and one record per failed operation or check: nothing that failed
    * is dropped, however often it failed.
    */
  def tally(passes: Seq[PassRecord], checks: Seq[(String, Option[String])]): (Int, Seq[Map[String, Any]]) = {
    val ops = passes.flatMap(_.ops)
    val failed = ops.filter(_.error.isDefined).map(r => Map("name" -> r.name, "kind" -> r.kind, "pass" -> r.pass, "error" -> r.error)) ++
      checks.collect { case (n, Some(e)) => Map("name" -> n, "kind" -> "check", "error" -> e) }
    (ops.size + checks.size, failed)
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val launchMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val gc = new GcWatch
    val warehouse = new java.io.File(o.workDir, "warehouse").getAbsolutePath
    new java.io.File(o.workDir).mkdirs()

    // --- set-up, repeated: session start, input scan warm-up, and the
    // workload's own preparation
    var spark: SparkSession = null
    var workload: Workload = null
    val setups = (1 to SetupReps).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = GraftSession
        .builder(s"local[${o.cores}]", o.cores)
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.local.dir", new java.io.File(o.workDir, "spark-local").getAbsolutePath)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      warmUp(spark, o.dataDir)
      val t2 = System.nanoTime()
      workload = Workloads(o.workload, spark, o.dataDir, o.seed)
      workload.prepare()
      val t3 = System.nanoTime()
      Map(
        "session_start_s" -> (t1 - t0) / 1e9, "scan_warm_s" -> (t2 - t1) / 1e9,
        "prepare_s" -> (t3 - t2) / 1e9, "total_s" -> (t3 - t0) / 1e9,
        "end_ms" -> System.currentTimeMillis().toDouble)
    }
    val runner = new Runner(spark, workload, o.seed, new java.io.File(warehouse))
    import runner.runPass
    // --- timed passes: one cold pass, then warm passes until the
    // measuring window closes (traced runs mix untraced and traced
    // warm passes so the tracing overhead is measured in-run)
    val measureStart = System.nanoTime()
    val cold = runPass(0, o.trace)
    runner.sampleHeap()
    val warm = mutable.ArrayBuffer[PassRecord]()
    // one index_maintain cycle outlasts the window, so untraced runs
    // take one warm cycle there; traced runs need an untraced settling
    // pass, a traced and an untraced pass for the overhead
    val minWarm = if (o.trace) 3 else 1
    val warmStart = System.nanoTime()
    while (warm.size < MaxWarmPasses && (warm.size < minWarm || System.nanoTime() - warmStart < o.seconds * 1e9)) {
      val i = warm.size + 1
      // traced runs: warm pass 1 settles untraced, then T U U T T U U T
      // ..., so the JIT's remaining warm-up biases neither side of the
      // overhead comparison
      warm += runPass(i, o.trace && i >= 2 && (i - 2) % 4 % 3 == 0)
    }
    val measuredS = (System.nanoTime() - measureStart) / 1e9
    val peakAfterGc = gc.peakAfterGc
    // the live heap grew with every pass in every run measured (plan
    // and codegen caches fill), so two samples bound it
    runner.sampleHeap()

    // --- untimed correctness checks
    val outDir = new java.io.File(o.workDir, "out").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
    val checkStart = System.nanoTime()
    val checks = workload.checks(outDir).map { case (name, f) =>
      name -> (try f() catch { case e: Throwable => Some(s"$name: ${describe(e)}") })
    }

    // --- metrics
    val (attempted, failures) = tally(cold +: warm.toSeq, checks)
    val untracedWarm = warm.filterNot(_.traced).toSeq
    val tracedWarm = warm.filter(_.traced).toSeq
    val endToEnd = mutable.LinkedHashMap[String, Any](
      "setup_s" -> median(setups.map(_("total_s"))),
      // process launch to the end of the first set-up: JVM start, class
      // loading and the first session, which the repeats do not pay
      "launch_s" -> (setups.head("end_ms") - launchMs) / 1000.0,
      "cold_s" -> cold.wallS,
      "warm_s" -> median(untracedWarm.map(_.wallS)),
      "live_heap_mb" -> runner.heapPeak / (1024.0 * 1024.0))
    if (o.workload == "index_maintain") {
      Seq("rebuild", "append", "compact", "lookup").foreach { k =>
        endToEnd(s"${k}_s") = median(untracedWarm.map(_.timedOps.filter(_.kind == k).map(_.wallS).sum))
      }
      endToEnd ++= workload.summary.view.filterKeys(_.startsWith("stored_bytes_per_input_byte"))
    }

    val layers =
      if (o.trace)
        Some(layerMetrics(o, setups, cold, tracedWarm, untracedWarm.filter(_.index >= 2), workload) +
          ("jvm.peak_heap_after_gc_mb" -> peakAfterGc / (1024.0 * 1024.0)))
      else None
    val spans = if (o.trace) spanRecords(o, cold +: warm.toSeq) else Nil
    if (o.trace) {
      val f = new java.io.File(o.workDir, s"trace-${o.workload}-seed${o.seed}.jsonl")
      java.nio.file.Files.writeString(f.toPath, spans.map(Json(_)).mkString("", "\n", "\n"))
    }

    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "cores" -> o.cores, "data_dir" -> o.dataDir,
      "setups" -> setups,
      "launch_to_first_op_s" -> (runner.firstTimedMs - launchMs) / 1000.0,
      "peak_heap_after_gc_mb" -> peakAfterGc / (1024.0 * 1024.0),
      "measured_s" -> measuredS,
      "check_s" -> (System.nanoTime() - checkStart) / 1e9,
      "passes" -> (cold +: warm.toSeq).map { p =>
        Map("index" -> p.index, "traced" -> p.traced, "wall_s" -> p.wallS,
          "ops" -> p.ops.filter(_.timed).map(r =>
            Map("name" -> r.name, "family" -> r.family, "kind" -> r.kind, "wall_s" -> r.wallS, "error" -> r.error)))
      },
      "attempted" -> attempted,
      "failed" -> failures.size,
      "failures" -> failures,
      "checked" -> checks.map(_._1),
      "end_to_end" -> endToEnd,
      "per_layer" -> layers,
      "summary" -> workload.summary)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.report), Json(report))
    spark.stop()
  }

  /** Per-layer metrics, each summed over the operations of a pass and
    * averaged over the traced warm passes; codegen figures are the
    * cold pass's (warm passes compile almost nothing).
    */
  def layerMetrics(
      o: Opts, setups: Seq[Map[String, Double]], cold: PassRecord,
      traced: Seq[PassRecord], untraced: Seq[PassRecord], workload: Workload): Map[String, Double] = {
    def traces(p: PassRecord) = p.ops.filter(_.timed).flatMap(_.trace)
    def perPass(f: PassRecord => Double): Double = traced.map(f).sum / math.max(traced.size, 1)
    def sumT(f: OpTrace => Double)(p: PassRecord): Double = traces(p).map(f).sum
    val m = mutable.LinkedHashMap[String, Double]()
    m("session.start_s") = median(setups.map(_("session_start_s")))
    m("sources.scan_warm_s") = median(setups.map(_("scan_warm_s")))
    m("setup.prepare_s") = median(setups.map(_("prepare_s")))
    OpTrace.SelfLayers.foreach(k => m(k) = perPass(sumT(_.selfTimes.toMap.apply(k))))
    m("codegen.compile_s") = sumT(_.compileS)(cold)
    m("codegen.compiles") = sumT(_.compiles.toDouble)(cold)
    m("codegen.warm_compile_s") = perPass(sumT(_.compileS))
    m("queries.eager_jobs") = perPass(sumT(t => t.jobs.values.count { case (s, _) =>
      t.builds.exists { case (a, b) => a <= s && s <= b } }.toDouble))
    m("scheduler.jobs") = perPass(sumT(_.jobs.size.toDouble))
    m("scheduler.stages") = perPass(sumT(_.stages.size.toDouble))
    m("scheduler.tasks") = perPass(sumT(_.tasks.toDouble))
    m("executor.run_s") = perPass(sumT(_.runMs / 1000.0))
    m("executor.cpu_s") = perPass(sumT(_.cpuNs / 1e9))
    m("executor.gc_s") = perPass(sumT(_.gcMs / 1000.0))
    val wall = perPass(sumT(_.wallS))
    m("executor.busy_frac") = m("executor.run_s") / (wall * o.cores)
    val skew = traced.flatMap(traces).map(_.skewParts)
    m("executor.stage_skew") = skew.map(_._1).sum.toDouble / math.max(skew.map(_._2).sum, 1L)
    m("executor.peak_mem_bytes") = traced.flatMap(traces).map(_.peakMem.toDouble).foldLeft(0.0)(math.max)
    m("shuffle.write_bytes") = perPass(sumT(_.shuffleWrite.toDouble))
    m("shuffle.read_bytes") = perPass(sumT(_.shuffleRead.toDouble))
    m("shuffle.fetch_wait_s") = perPass(sumT(_.fetchWaitMs / 1000.0))
    m("shuffle.spill_bytes") = perPass(sumT(_.spill.toDouble))
    m("sources.input_bytes") = perPass(sumT(_.inputBytes.toDouble))
    m("warehouse.bytes_written") = perPass(sumT(_.outputBytes.toDouble))
    m("warehouse.files_written") = perPass(sumT(_.filesWritten.toDouble))
    m("warehouse.files_live") = perPass(_.filesLive.toDouble)
    m("trace.wall_s") = wall
    m("trace.overhead_frac") = median(traced.map(_.wallS)) / median(untraced.map(_.wallS)) - 1.0
    Seq("relational", "geo", "audit").foreach { f =>
      m(s"queries.$f.warm_s") = perPass(p => p.timedOps.filter(r => r.kind == "query" && r.family == f).map(_.wallS).sum)
    }
    Workloads.IndexFamilies.foreach { f =>
      Seq("rebuild", "append", "compact", "lookup").foreach { k =>
        m(s"index.$f.${k}_s") = perPass(p => p.timedOps.filter(r => r.family == f && r.kind == k).map(_.wallS).sum)
      }
    }
    Seq("rebuild", "append", "compact", "lookup").foreach { k =>
      m(s"index.${k}_s") = perPass(p => p.timedOps.filter(r => r.kind == k).map(_.wallS).sum)
    }
    val s = workload.summary
    Seq("after_append", "after_compact").foreach { a =>
      m(s"index.stored_bytes_per_input_byte_$a") =
        s.get(s"stored_bytes_per_input_byte_$a").map(_.asInstanceOf[Double]).getOrElse(0.0)
    }
    m.toMap
  }

  /** Spans workload → pass → operation → {build, catalyst phase,
    * execute → job → stage}; the spans of one operation share its id.
    */
  def spanRecords(o: Opts, passes: Seq[PassRecord]): Seq[Map[String, Any]] = {
    val out = mutable.ArrayBuffer[Map[String, Any]]()
    def span(kind: String, name: String, op: Long, parent: String, id: String, a: Long, b: Long,
        attrs: Map[String, Any] = Map.empty): Unit =
      out += Map("id" -> id, "parent" -> parent, "op" -> op, "kind" -> kind, "name" -> name,
        "start_ms" -> a, "end_ms" -> b) ++ attrs
    val traced = passes.filter(_.ops.exists(_.trace.isDefined))
    val all = traced.flatMap(_.ops.flatMap(_.trace))
    if (all.nonEmpty) span("workload", o.workload, 0, null, "w", all.map(_.startMs).min, all.map(_.endMs).max)
    traced.foreach { p =>
      val ts = p.ops.flatMap(_.trace)
      val pid = s"p${p.index}"
      span("pass", pid, 0, "w", pid, ts.map(_.startMs).min, ts.map(_.endMs).max)
      p.ops.foreach { r =>
        r.trace.foreach { t =>
          val qid = s"o${t.id}"
          span(if (t.kind == "query") "query" else "phase", s"${t.name}/${t.kind}", t.id, pid, qid, t.startMs, t.endMs,
            Map("timed" -> r.timed, "self" -> t.selfTimes.toMap, "wall_s" -> t.wallS, "error" -> r.error,
              "codegen_compile_s" -> t.compileS, "codegen_compiles" -> t.compiles))
          t.builds.zipWithIndex.foreach { case ((a, b), i) => span("build", "build", t.id, qid, s"$qid.b$i", a, b) }
          t.phases.zipWithIndex.foreach { case ((n, a, b), i) => span("plan", n, t.id, qid, s"$qid.c$i", a, b) }
          t.executions.foreach { case (e, (a, b)) => span("execute", s"execution $e", t.id, qid, s"$qid.e$e", a, b) }
          t.jobs.foreach { case (j, (a, b)) =>
            // a job belongs to the SQL execution running when it starts
            // (eager jobs inside the query builder have none)
            val parent = t.executions
              .collectFirst { case (e, (ea, eb)) if ea <= a && a <= eb => s"$qid.e$e" }
              .getOrElse(qid)
            span("job", s"job $j", t.id, parent, s"$qid.j$j", a, b)
            t.jobStages.getOrElse(j, Nil).foreach { st =>
              t.stages.get(st).foreach { case (sa, sb) =>
                span("stage", s"stage $st", t.id, s"$qid.j$j", s"$qid.s$st", sa, sb,
                  Map("tasks" -> t.taskMs.get(st).map(_.size).getOrElse(0)))
              }
            }
          }
        }
      }
    }
    out.toSeq
  }
}

/** Runs a workload's passes on one session: times every operation,
  * records its error instead of stopping, and, for traced passes,
  * installs the [[Tracer]] and fills an [[OpTrace]] per operation.
  */
final class Runner(spark: SparkSession, workload: Workload, seed: Long, warehouse: java.io.File) {
  import Main.{OpRecord, PassRecord}

  private val sc = spark.sparkContext
  private val tracer = new Tracer
  private var tracing = false
  private var nextId = 0L
  var firstTimedMs = -1L
  var heapPeak = 0L

  private def setTracing(on: Boolean): Unit = if (on != tracing) {
    if (on) { sc.addSparkListener(tracer); spark.listenerManager.register(tracer) }
    else { sc.removeSparkListener(tracer); spark.listenerManager.unregister(tracer) }
    tracing = on
  }

  private def warehouseFiles(): Set[String] =
    if (!warehouse.exists) Set.empty
    else org.apache.commons.io.FileUtils.listFiles(warehouse, null, true).asScala.map(_.getPath).toSet

  def runOp(op: Op, pass: Int): OpRecord = {
    nextId += 1
    val t = if (tracing) new OpTrace(nextId, op.name, op.family, op.kind, pass) else null
    val filesBefore = if (t != null) warehouseFiles() else Set.empty[String]
    val step = new Step {
      def build[T](f: => T): T = {
        val a = System.currentTimeMillis()
        try f
        finally if (t != null) t.synchronized(t.builds += ((a, System.currentTimeMillis())))
      }
    }
    val (cg0, cgn0) = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    if (op.timed && firstTimedMs < 0) firstTimedMs = System.currentTimeMillis()
    if (t != null) t.startMs = System.currentTimeMillis()
    tracer.current = t
    val n0 = System.nanoTime()
    val error =
      try { op.body(step); None }
      catch { case e: Throwable => Some(Main.describe(e)) }
    val wall = (System.nanoTime() - n0) / 1e9
    if (t != null) {
      t.endMs = System.currentTimeMillis()
      org.apache.spark.graft.ListenerBusDrain.drain(sc, 10000L)
      tracer.current = null
      t.wallS = (t.endMs - t.startMs) / 1000.0
      t.compileS = (CodeGenerator.compileTime - cg0) / 1e9
      t.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgn0
      t.filesWritten = (warehouseFiles() -- filesBefore).size.toLong
    }
    error.foreach(e => System.err.println(s"[perfbench] ${op.name}/${op.kind} (pass $pass) FAILED: $e"))
    OpRecord(op.name, op.family, op.kind, op.timed, pass, wall, error, Option(t))
  }

  def runPass(index: Int, traced: Boolean): PassRecord = {
    setTracing(traced)
    val ops = workload.pass(index, seed).map(runOp(_, index))
    setTracing(false)
    PassRecord(index, traced, ops, if (traced) warehouseFiles().size.toLong else 0L)
  }

  /** Samples the live heap into [[heapPeak]]. */
  def sampleHeap(): Unit = heapPeak = math.max(heapPeak, Main.liveHeapBytes())
}
