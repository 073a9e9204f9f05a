package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.{Engine, Q, SparkEntry}
import graft.plans.TopKAggExec
import graft.tpcds.TpcdsData
import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed-loop load for the graft engine: one client issues the queries
  * of a workload back to back on a `local[cores]` session, through the
  * engine's public entry points only (`Engine.session`, `Engine.table`,
  * `SparkEntry.all(name).build`, the noop sink, Spark listener APIs).
  *
  * Usage:
  *   PerfBench prep                       generate the TPC-DS tables
  *   PerfBench run  <key=value>...        one measured run, see `Conf`
  *
  * A run is: one set-up, timed from JVM start; one cold pass; one
  * untimed check pass that dumps every result as parquet for the oracle
  * compare; a settle pass, then warm passes, until `seconds` have passed
  * since the check pass; and a second untimed check pass, so that state
  * carried across the warm passes shows in a result too.
  * The seed sets the query order of every pass. With `trace=1` a
  * listener records jobs, stages, tasks and blocks, every query becomes
  * a span tree (query → build / plan / exec → job → stage), and warm
  * passes alternate traced and untraced so that the record carries the
  * tracing overhead. Everything lands in `<out>/record.json` and, when
  * traced, `<out>/spans.jsonl`.
  */
object PerfBench {

  final case class Conf(
      queries: Seq[String], data: String, out: String, seed: Long,
      seconds: Double, trace: Boolean, cores: Int) {
    def tpcds: Boolean = queries.exists(_.startsWith("tpcds_"))
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "prep" :: Nil =>
      val s = Engine.session(appName = "perfbench-prep")
      TpcdsData.ensure(s)
      s.stop()
    case "run" :: kvs =>
      val m = kvs.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
      run(Conf(
        queries = Files.readAllLines(Paths.get(m("queries"))).toArray(Array.empty[String])
          .toSeq.map(_.trim).filter(_.nonEmpty),
        data = m("data"), out = m("out"), seed = m("seed").toLong,
        seconds = m("seconds").toDouble, trace = m("trace") == "1",
        cores = m("cores").toInt))
    case _ =>
      System.err.println("usage: PerfBench prep | run key=value...")
      sys.exit(2)
  }

  // ── clocks ─────────────────────────────────────────────────────────────
  private val nano0 = System.nanoTime()
  private val epochUs0 = System.currentTimeMillis() * 1000L
  /** Epoch microseconds on the monotonic clock (spans mix with the
    * millisecond epoch times Spark puts on job and stage events). */
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  /** Clock ticks per second of the CPU times in /proc (USER_HZ, 100 on
    * every Linux architecture the JVM runs on). */
  private val ClockTicks = 100.0

  private def statTicks(stat: String): Long = {
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    f(11).toLong + f(12).toLong // utime, stime
  }

  private def readStat(p: java.nio.file.Path): String =
    try new String(Files.readAllBytes(p)) catch { case _: java.io.IOException => "" }

  private def isJit(stat: String): Boolean = {
    val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
    comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")
  }

  /** CPU seconds of the whole process (every thread, ended ones and GC
    * threads included) minus the JIT compiler threads: how much of the
    * JIT's warm-up lands inside a pass varies from run to run. The JVM
    * runs with -XX:-UseDynamicNumberOfCompilerThreads, so compiler
    * threads never end and their time never stays in the process total. */
  def cpuS(): Double = {
    val tasks = Files.list(Paths.get("/proc/self/task"))
    val jit = try tasks.iterator.asScala.map(t => readStat(t.resolve("stat")))
      .filter(st => st.nonEmpty && isJit(st)).map(statTicks).sum
    finally tasks.close()
    (statTicks(readStat(Paths.get("/proc/self/stat"))) - jit) / ClockTicks
  }

  /** Heap readings per run: after the settle pass and the first two warm
    * passes. A fixed count, because Spark's status store grows with every
    * job and later passes would make the peak depend on how many passes
    * the machine's speed allowed. The cold pass is left out: after it,
    * one run in four or five held 10-45 MB more than usual through all
    * three collections of a reading. */
  val HeapReadings = 3

  /** Heap in use right after a full collection, as the collector itself
    * reports it (allocation racing the read would add noise), once the
    * listener bus has no events queued: the least of three collections
    * 100 ms apart. Between collections Spark's ContextCleaner drops the
    * broadcast and shuffle blocks that an earlier one found unreachable.
    * How many events are still queued after a pass, and how much cleaning
    * is pending after any single collection, varies from run to run. */
  def heapAfterGcMb(sc: org.apache.spark.SparkContext): Double = {
    PerfbenchBus.drain(sc)
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    }.min
  }

  // ── set-up ─────────────────────────────────────────────────────────────
  final case class Setup(total: Double, session: Double, tables: Double)

  /** Session with extensions plus the first touch (file listing and
    * footer read) of every input table; `startUs` is the JVM's start, so
    * JVM start-up, class loading and the first SparkContext count too. */
  private def setUp(c: Conf, startUs: Long): (SparkSession, Setup) = {
    val s = Engine.session(c.cores, "perfbench")
    val t1 = nowUs
    Engine.tableNames.foreach(t => Engine.table(s, c.data, t).schema)
    if (c.tpcds)
      TpcdsData.tables.foreach(t => s.read.parquet(s"${TpcdsData.dir}/$t.parquet").schema)
    val t2 = nowUs
    (s, Setup((t2 - startUs) / 1e6, (t1 - startUs) / 1e6, (t2 - t1) / 1e6))
  }

  // ── one query ──────────────────────────────────────────────────────────
  /** One timed query: `t0`..`t1` is the build, `t1`..`t2` the noop write
    * (planning and execution). Times are epoch microseconds. */
  final case class QRun(
      pass: Int, name: String, t0: Long, t1: Long, t2: Long,
      error: Option[String], codegenNs: Long, compiles: Long,
      probe: Option[Probe] = None) {
    def latency: Double = (t2 - t0) / 1e6
  }

  /** What a traced query adds: planning phases, operator metrics of the
    * executed write plan, and the storage still held after it returned. */
  final case class Probe(
      analysisS: Double, optimizationS: Double, physicalS: Double,
      graftRulesS: Double, planStartUs: Long, planEndUs: Long,
      sortMs: Long, aggMs: Long, joinBuildMs: Long, windowSingle: Int,
      topk: Int, resultRows: Long, heldMb: Double, addedMb: Double)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timed(s: SparkSession, pass: Int, name: String, q: Q, data: String,
      rec: Option[Recorder]): QRun = {
    val sc = s.sparkContext
    val heldBefore = if (rec.isDefined) heldMb(sc) else 0.0
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val cg0 = CodeGenerator.compileTime
    val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = nowUs
    var t1 = t0
    var built: DataFrame = null
    val err = try {
      built = q.build(s, data)
      t1 = nowUs
      rec.foreach(_.watch(built.sparkSession))
      noop(built)
      None
    } catch {
      case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
    }
    val t2 = nowUs
    sc.clearJobGroup()
    System.err.println(f"[perfbench] pass $pass%d $name%s ${(t2 - t0) / 1e6}%.3f s" +
      err.map(" FAILED " + _).getOrElse(""))
    val base = QRun(pass, name, t0, if (err.isEmpty) t1 else t2, t2, err,
      CodeGenerator.compileTime - cg0,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0)
    rec match {
      case Some(r) if err.isEmpty =>
        PerfbenchBus.drain(sc)
        base.copy(probe = Some(probe(s, built, r.lastWrite.getAndSet(null), heldBefore)))
      case _ => base
    }
  }

  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
    case q: QueryStageExec => walk(q.plan)(f)
    case _ => f(p); p.children.foreach(walk(_)(f))
  }

  /** Storage held by persisted or checkpointed RDDs right now. */
  private def heldMb(sc: org.apache.spark.SparkContext): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  private def probe(s: SparkSession, built: DataFrame, write: QueryExecution,
      heldBefore: Double): Probe = {
    def phase(qe: QueryExecution, k: String) = Option(qe).flatMap(_.tracker.phases.get(k))
    def dur(qe: QueryExecution, k: String) = phase(qe, k).map(_.durationMs / 1e3).getOrElse(0.0)
    def graftRules(qe: QueryExecution) = Option(qe).map(_.tracker.rules.collect {
      case (rule, sum) if rule.startsWith("graft.") => sum.totalTimeNs
    }.sum).getOrElse(0L)
    val writePhases = Seq("optimization", "planning").flatMap(phase(write, _))
    var sortMs, aggMs, joinMs, rows = 0L
    var single, topk = 0
    if (write != null) walk(write.executedPlan) { p =>
      def m(k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
      if (rows == 0 && p.metrics.contains("numOutputRows")) rows = m("numOutputRows")
      p match {
        case _: SortExec => sortMs += m("sortTime")
        case _: BaseAggregateExec => aggMs += m("aggTime")
        case _: ShuffledHashJoinExec | _: BroadcastExchangeExec => joinMs += m("buildTime")
        case w: WindowExec if w.partitionSpec.isEmpty => single += 1
        case _: TopKAggExec => topk += 1
        case _ =>
      }
    }
    val held = heldMb(s.sparkContext)
    Probe(
      analysisS = dur(built.queryExecution, "analysis") + dur(write, "analysis"),
      optimizationS = dur(write, "optimization"), physicalS = dur(write, "planning"),
      graftRulesS = (graftRules(built.queryExecution) + graftRules(write)) / 1e9,
      planStartUs = writePhases.map(_.startTimeMs * 1000L).minOption.getOrElse(0L),
      planEndUs = writePhases.map(_.endTimeMs * 1000L).maxOption.getOrElse(0L),
      sortMs = sortMs, aggMs = aggMs, joinBuildMs = joinMs, windowSingle = single,
      topk = topk, resultRows = rows, heldMb = held, addedMb = held - heldBefore)
  }

  // ── passes ─────────────────────────────────────────────────────────────
  final case class Pass(
      index: Int, kind: String, traced: Boolean, startUs: Long, endUs: Long,
      cpuS: Double, heapMb: Double, queries: Seq[QRun], counters: Option[Counters]) {
    def wall: Double = (endUs - startUs) / 1e6
  }

  def order(c: Conf, pass: Int): Seq[String] =
    new Random(c.seed * 1000003L + pass).shuffle(c.queries)

  def run(c: Conf): Unit = {
    val runStart = nowUs
    val (spark, setup) = setUp(c, ManagementFactory.getRuntimeMXBean.getStartTime * 1000L)
    val all = SparkEntry.all
    val unknown = c.queries.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val rec = if (c.trace) Some(new Recorder) else None
    rec.foreach(r => spark.sparkContext.addSparkListener(r))
    val passes = ArrayBuffer.empty[Pass]
    val failures = mutable.LinkedHashMap.empty[String, String]

    def timedPass(kind: String, traced: Boolean): Pass = {
      val idx = passes.size
      val r = rec.filter(_ => traced)
      rec.foreach(_.on = traced)
      val before = r.map(_.snapshot(spark.sparkContext))
      val c0 = cpuS()
      val t0 = nowUs
      val qs = order(c, idx).map(n => timed(spark, idx, n, all(n), c.data, r))
      val t1 = nowUs
      val cpu = cpuS() - c0
      rec.foreach(_.on = false)
      val counters = r.map(_.snapshot(spark.sparkContext).minus(before.get))
      qs.foreach(q => q.error.foreach(e => failures.getOrElseUpdate(q.name, e)))
      val heap =
        if (kind != "cold" && passes.count(!_.heapMb.isNaN) < HeapReadings)
          heapAfterGcMb(spark.sparkContext)
        else Double.NaN
      val p = Pass(idx, kind, traced, t0, t1, cpu, heap, qs, counters)
      passes += p
      p
    }

    /** Untimed: every result once, dumped for the oracle compare. */
    def checkPass(kind: String): Pass = {
      val idx = passes.size
      val t0 = nowUs
      val dir = s"${c.out}/results/$kind"
      order(c, idx).foreach { n =>
        try all(n).build(spark, c.data).coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/$n")
        catch { case e: Throwable =>
          failures.getOrElseUpdate(n, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
        }
      }
      val p = Pass(idx, kind, traced = false, t0, nowUs, 0, Double.NaN, Nil, None)
      passes += p
      p
    }

    timedPass("cold", c.trace)
    checkPass("check")
    val warmStart = nowUs
    // the first pass after the check pass is still measurably slower than
    // the ones after it, while the JIT compiler threads are still busy:
    // it is timed but counts in no metric, so a metric does not depend on
    // how many passes the window holds
    timedPass("settle", traced = false)
    // traced runs interleave untraced and traced passes as U T T U, so a
    // pass-to-pass warm-up trend cancels out of the overhead estimate
    var k = 0
    while ((nowUs - warmStart) / 1e6 < c.seconds || k < (if (c.trace) 4 else 2)) {
      timedPass("warm", c.trace && (k % 4 == 1 || k % 4 == 2))
      k += 1
    }
    val runEnd = nowUs
    checkPass("check_end")
    rec.foreach(_ => PerfbenchBus.drain(spark.sparkContext))
    Report.write(c, setup, passes.toSeq, failures.toMap, rec, runStart, runEnd,
      all.filter { case (n, _) => c.queries.contains(n) }
        .collect { case (n, q) if q.oracle.isDefined => n -> q.oracle.get })
    rec.foreach(_.unwatchAll())
    Engine.clearCache(spark)
    spark.stop()
  }
}

// ── listener side ────────────────────────────────────────────────────────

/** Cumulative counters; per-pass numbers are differences of snapshots. */
final case class Counters(
    blocksPut: Long, storagePeakBytes: Long, taskFailures: Long) {
  def minus(o: Counters): Counters =
    Counters(blocksPut - o.blocksPut, storagePeakBytes, taskFailures - o.taskFailures)
}

/** Per-job aggregates of the job's tasks. */
final class JobRec(val id: Int, val group: String, val startMs: Long, val stageIds: Seq[Int]) {
  var endMs: Long = -1
  var tasks, runMs, cpuNs, gcMs, schedWaitMs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes, inputRecords = 0L
  val stages = ArrayBuffer.empty[(Int, Long, Long)] // (stageId, submitMs, completeMs)
}

/** Records jobs, stages, tasks and block updates while `on`. Listener
  * callbacks come from the single listener-bus thread; readers drain the
  * bus first and then read under the same lock. */
final class Recorder extends SparkListener {
  @volatile var on = false
  val jobs = ArrayBuffer.empty[JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val blocks = mutable.Map.empty[String, Long]
  private var storageNow, storagePeak, blocksPut, taskFailures = 0L
  val lastWrite = new java.util.concurrent.atomic.AtomicReference[QueryExecution]()

  /** The write's QueryExecution: the last action a query runs. */
  private val writes: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) lastWrite.set(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  private val watched = mutable.Set.empty[SparkSession]

  /** Listens to the writes of `s`. A query may build its DataFrame in a
    * session of its own (the TPC-DS corpus uses a child session), and a
    * session's listeners hear only that session's queries. */
  def watch(s: SparkSession): Unit = if (watched.add(s)) s.listenerManager.register(writes)

  def unwatchAll(): Unit = { watched.foreach(_.listenerManager.unregister(writes)); watched.clear() }

  def snapshot(sc: org.apache.spark.SparkContext): Counters = {
    PerfbenchBus.drain(sc)
    synchronized {
      val c = Counters(blocksPut, storagePeak, taskFailures)
      storagePeak = storageNow
      c
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val j = new JobRec(e.jobId, group, e.time, e.stageIds)
    jobs += j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.reverseIterator.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(stageSubmit(e.stageInfo.stageId) = _)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageJob.get(i.stageId).foreach(j =>
      j.stages += ((i.stageId, i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L))))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != Success) taskFailures += 1
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.inputBytes += m.inputMetrics.bytesRead
      j.inputRecords += m.inputMetrics.recordsRead
      stageSubmit.get(e.stageId).foreach(s =>
        j.schedWaitMs += math.max(0L, e.taskInfo.launchTime - s))
    }
  }

  /** RDD blocks only: persisted and checkpointed data, not broadcasts. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (!i.blockId.isRDD) return
    val name = i.blockId.name
    val size = i.memSize + i.diskSize
    val old = blocks.getOrElse(name, 0L)
    if (i.storageLevel.isValid && size > 0) {
      if (on) blocksPut += 1
      blocks(name) = size
      storageNow += size - old
    } else {
      blocks.remove(name)
      storageNow -= old
    }
    storagePeak = math.max(storagePeak, storageNow)
  }
}
