package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import perfbench.PerfBench._

/** Turns one run's passes into the record: end-to-end metrics from the
  * untraced passes, per-layer metrics and self times from the traced
  * ones, and the span file. */
object Report {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p * s.size).toInt - 1))
    }

  final case class Span(id: Int, parent: Int, pass: Int, kind: String, name: String,
      startUs: Long, endUs: Long) {
    def dur: Long = math.max(0L, endUs - startUs)
  }

  /** Jobs of one traced query, split by the phase they started in. */
  private def jobsOf(q: QRun, jobs: Seq[JobRec]): Seq[JobRec] = {
    val slackUs = 5000L // Spark stamps jobs with the millisecond wall clock
    jobs.filter { j =>
      val s = j.startMs * 1000L
      (j.group == null || j.group == q.name) && s >= q.t0 - slackUs && s <= q.t2 + slackUs
    }
  }

  private def spans(passes: Seq[Pass], jobs: Seq[JobRec], runStart: Long, runEnd: Long): Seq[Span] = {
    val out = ArrayBuffer.empty[Span]
    def add(parent: Int, pass: Int, kind: String, name: String, s: Long, e: Long): Int = {
      out += Span(out.size, parent, pass, kind, name, s, e)
      out.size - 1
    }
    val run = add(-1, -1, "run", "run", runStart, runEnd)
    passes.filter(_.traced).foreach { p =>
      val ps = add(run, p.index, "pass", p.kind, p.startUs, p.endUs)
      p.queries.foreach { q =>
        val qs = add(ps, p.index, "query", q.name, q.t0, q.t2)
        val bs = add(qs, p.index, "build", q.name, q.t0, q.t1)
        val planEnd = q.probe.filter(_.planEndUs > 0).map { pr =>
          val s = math.max(q.t1, pr.planStartUs)
          val e = math.min(q.t2, math.max(s, pr.planEndUs))
          add(qs, p.index, "plan", q.name, s, e)
          e
        }.getOrElse(q.t1)
        val es = add(qs, p.index, "exec", q.name, planEnd, q.t2)
        jobsOf(q, jobs).foreach { j =>
          val parent = if (j.startMs * 1000L < q.t1) bs else es
          val js = add(parent, p.index, "job", s"${q.name}#${j.id}", j.startMs * 1000L,
            math.max(j.startMs, j.endMs) * 1000L)
          j.stages.foreach { case (sid, s, e) =>
            if (s > 0 && e > 0) add(js, p.index, "stage", s"${q.name}#${j.id}.$sid", s * 1000L, e * 1000L)
          }
        }
      }
    }
    out.toSeq
  }

  /** A span's duration minus the part of it that its children cover. */
  private def selfTimes(all: Seq[Span]): Map[Int, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered, curS, curE = 0L
      var open = false
      iv.foreach { case (a, b) =>
        if (!open || a > curE) { if (open) covered += curE - curS; curS = a; curE = b; open = true }
        else curE = math.max(curE, b)
      }
      if (open) covered += curE - curS
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Per-layer numbers of one traced pass. */
  private def layer(p: Pass, jobs: Seq[JobRec], cores: Int, self: Map[String, Double]): Map[String, Double] = {
    val qs = p.queries.filter(_.error.isEmpty)
    val byPhase = qs.map(q => q -> jobsOf(q, jobs).partition(_.startMs * 1000L < q.t1))
    val buildJobs = byPhase.flatMap(_._2._1)
    val execJobs = byPhase.flatMap(_._2._2)
    val allJobs = buildJobs ++ execJobs
    val probes = qs.flatMap(_.probe)
    def sumP(f: Probe => Double) = probes.map(f).sum
    val execS = qs.map { q =>
      val planEnd = q.probe.map(_.planEndUs).filter(_ > q.t1).getOrElse(q.t1)
      (q.t2 - math.min(q.t2, planEnd)) / 1e6
    }.sum
    val execTaskS = execJobs.map(_.runMs).sum / 1e3
    val rows = probes.map(_.resultRows).sum.toDouble
    val mb = 1048576.0
    val counters = p.counters.get
    Map(
      "build.s" -> qs.map(q => (q.t1 - q.t0) / 1e6).sum,
      "build.share" -> qs.map(q => (q.t1 - q.t0) / 1e6).sum / math.max(1e-9, qs.map(_.latency).sum),
      "build.jobs" -> buildJobs.size.toDouble,
      "build.task_s" -> buildJobs.map(_.runMs).sum / 1e3,
      "plan.analysis_s" -> sumP(_.analysisS),
      "plan.optimization_s" -> sumP(_.optimizationS),
      "plan.physical_s" -> sumP(_.physicalS),
      "plan.graft_rules_s" -> sumP(_.graftRulesS),
      "codegen.compile_s" -> qs.map(_.codegenNs).sum / 1e9,
      "codegen.compiles" -> qs.map(_.compiles).sum.toDouble,
      "exec.s" -> execS,
      "exec.jobs" -> execJobs.size.toDouble,
      "exec.stages" -> execJobs.map(_.stages.size).sum.toDouble,
      "exec.tasks" -> execJobs.map(_.tasks).sum.toDouble,
      "exec.task_s" -> execTaskS,
      "exec.cpu_s" -> execJobs.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> execJobs.map(_.gcMs).sum / 1e3,
      "exec.sched_wait_s" -> execJobs.map(_.schedWaitMs).sum / 1e3,
      "exec.core_util" -> execTaskS / math.max(1e-9, execS * cores),
      "exec.shuffle_write_mb" -> allJobs.map(_.shuffleWrite).sum / mb,
      "exec.shuffle_read_mb" -> allJobs.map(_.shuffleRead).sum / mb,
      "exec.spill_mb" -> allJobs.map(_.spill).sum / mb,
      "exec.input_mb" -> allJobs.map(_.inputBytes).sum / mb,
      "exec.scan_rows_per_result_row" -> allJobs.map(_.inputRecords).sum / math.max(1.0, rows),
      "exec.task_failures" -> counters.taskFailures.toDouble,
      "op.sort_ms" -> sumP(_.sortMs.toDouble),
      "op.agg_ms" -> sumP(_.aggMs.toDouble),
      "op.join_build_ms" -> sumP(_.joinBuildMs.toDouble),
      "op.window_single_partition_n" -> sumP(_.windowSingle.toDouble),
      "op.topk_fused_n" -> sumP(_.topk.toDouble),
      "storage.blocks_put" -> counters.blocksPut.toDouble,
      "storage.peak_mb" -> counters.storagePeakBytes / mb,
      "storage.held_mb_after" -> probes.map(_.heldMb).maxOption.getOrElse(0.0)
    ) ++ self
  }

  def write(c: Conf, setup: Setup, passes: Seq[Pass], failures: Map[String, String],
      rec: Option[Recorder], runStart: Long, runEnd: Long, oracles: Map[String, String]): Unit = {
    val warm = passes.filter(_.kind == "warm")
    val plain = warm.filterNot(_.traced)
    val lat = plain.flatMap(_.queries.filter(_.error.isEmpty).map(_.latency))
    val cold = passes.find(_.kind == "cold").get
    val e2e = Seq(
      "setup_s" -> setup.total,
      "cold_pass_s" -> cold.wall,
      "warm_pass_s" -> median(plain.map(_.wall)),
      "cpu_s" -> median(plain.map(_.cpuS)),
      "peak_heap_mb" -> passes.map(_.heapMb).filterNot(_.isNaN).max)

    val jobs = rec.map(r => r.synchronized(r.jobs.toSeq)).getOrElse(Nil)
    val sp = if (c.trace) spans(passes, jobs, runStart, runEnd) else Nil
    val self = selfTimes(sp)
    val tracedWarm = warm.filter(_.traced)
    val layers: Seq[(String, Double)] = if (!c.trace) Nil else {
      val perPass = tracedWarm.map { p =>
        val selfByKind = sp.filter(_.pass == p.index).groupBy(_.kind)
          .map { case (k, ss) => s"self.${k}_s" -> ss.map(s => self(s.id)).sum / 1e6 }
        layer(p, jobs, c.cores, selfByKind)
      }
      val keys = perPass.flatMap(_.keys).distinct.sorted
      val coldQs = cold.queries
      keys.map(k => k -> median(perPass.map(_.getOrElse(k, 0.0)))) ++ Seq(
        "engine.session_s" -> setup.session,
        "engine.tables_s" -> setup.tables,
        "codegen.cold_compile_s" -> coldQs.map(_.codegenNs).sum / 1e9,
        "codegen.cold_compiles" -> coldQs.map(_.compiles).sum.toDouble,
        "trace.warm_pass_s" -> median(tracedWarm.map(_.wall)),
        "trace.overhead_frac" ->
          (median(tracedWarm.map(_.wall)) / median(plain.map(_.wall)) - 1.0),
        "query.p50_s" -> pct(lat, 0.5),
        "query.p90_s" -> pct(lat, 0.9),
        "query.samples" -> lat.size.toDouble)
    }

    val J = Json
    val perQuery = passes.flatMap(p => p.queries.map { q =>
      J.obj(Seq("pass" -> p.index, "kind" -> p.kind, "traced" -> p.traced, "name" -> q.name,
        "latency_s" -> q.latency, "build_s" -> (q.t1 - q.t0) / 1e6,
        "codegen_s" -> q.codegenNs / 1e9, "error" -> q.error.orNull) ++
        q.probe.toSeq.flatMap(pr => Seq("held_mb_after" -> pr.heldMb,
          "held_mb_added" -> pr.addedMb,
          "result_rows" -> pr.resultRows, "analysis_s" -> pr.analysisS,
          "optimization_s" -> pr.optimizationS, "physical_s" -> pr.physicalS,
          "window_single_partition_n" -> pr.windowSingle, "topk_fused_n" -> pr.topk)))
    })
    val record = J.obj(Seq(
      "seed" -> c.seed, "cores" -> c.cores, "trace" -> c.trace,
      "queries" -> c.queries, "failures" -> failures,
      "end_to_end" -> e2e.toMap, "per_layer" -> layers.toMap,
      "setup" -> J.obj(Seq("total_s" -> setup.total, "session_s" -> setup.session,
        "tables_s" -> setup.tables)),
      "passes" -> passes.map(p => J.obj(Seq("index" -> p.index, "kind" -> p.kind,
        "traced" -> p.traced, "wall_s" -> p.wall, "cpu_s" -> p.cpuS,
        "heap_after_gc_mb" -> p.heapMb, "order" -> p.queries.map(_.name)))),
      "per_query" -> perQuery,
      "oracle" -> oracles))
    Files.writeString(Paths.get(s"${c.out}/record.json"), record.s)
    if (c.trace) Files.write(Paths.get(s"${c.out}/spans.jsonl"),
      sp.map(s => J.obj(Seq("id" -> s.id, "parent" -> s.parent, "pass" -> s.pass,
        "kind" -> s.kind, "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "self_us" -> self(s.id))).s).mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Just enough JSON writing for the record. */
object Json {
  final case class Raw(s: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }).s
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case x => str(x.toString)
  }

  def obj(kv: Seq[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))
}
