package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => JFiles, Paths}
import scala.collection.mutable

final case class RunResult(setupS: Double, warm: Seq[PassResult],
    passes: Seq[(PassResult, Boolean)], heapMb: Double, tracer: Tracer)

final class Runner(conf: Main.Conf) {
  def run(): RunResult = {
    val t0 = System.nanoTime()
    val spark = Main.session(conf)
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, tracer, conf)
    val workload = Workloads(conf.workload)
    val rng = new scala.util.Random(conf.seed)
    // set-up ends after two warm-up passes at the target size: the
    // first checks every output, the second runs exactly like a timed
    // pass (one checking pass leaves the first timed pass measurably
    // slower than the rest)
    val warm = Seq(workload.pass(ctx, rng, -1, check = true),
      workload.pass(ctx, rng, 0, check = false))
    val setupS = (System.nanoTime() - t0) / 1e9
    // traced runs interleave untraced and traced passes as U T T U …
    // (two of each at least), so the tracing overhead is measured in the
    // same run and a drift across the run cancels out of it
    val minPasses = if (conf.trace) 4 else 3
    val passes = mutable.ArrayBuffer.empty[(PassResult, Boolean)]
    val start = System.nanoTime()
    while (passes.size < minPasses ||
        (System.nanoTime() - start) / 1e9 < conf.seconds) {
      val traced = conf.trace && (passes.size % 4 == 1 || passes.size % 4 == 2)
      if (traced) tracer.start()
      val p = try workload.pass(ctx, rng, passes.size + 1, check = false)
        finally if (traced) tracer.stop()
      passes += ((p, traced))
    }
    settle()
    val heapMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    RunResult(setupS, warm, passes.toSeq, heapMb, tracer)
  }

  /** Full GC, then wait (at most 3 s) until storage memory has not
    * changed for 200 ms: the context cleaner drops the blocks of
    * unreachable pins asynchronously after a GC, and the live heap
    * should not depend on how far it got. */
  private def settle(): Unit = {
    System.gc()
    var last = -1L
    var stableMs, waitedMs = 0
    while (stableMs < 200 && waitedMs < 3000) {
      val used = org.apache.spark.perfbench.ListenerBus.storageMemoryUsed()
      if (used == last) stableMs += 20 else { stableMs = 0; last = used }
      Thread.sleep(20)
      waitedMs += 20
    }
    System.gc()
  }
}

/** Metric names, units and computation; prints every metric by name and
  * unit, writes the record file, and ends stdout with the JSON line. */
object Report {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "total_s" -> "s", "op_p50_s" -> "s",
    "op_tail_s" -> "s", "heap_live_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "entry.build_s" -> "s", "entry.build_jobs" -> "count",
    "entry.build_task_cpu_s" -> "s", "entry.pinned_bytes" -> "bytes",
    "plan.s" -> "s", "plan.analysis_s" -> "s", "plan.optimization_s" -> "s",
    "plan.planning_s" -> "s",
    "exec.s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_cpu_s" -> "s", "exec.cpu_util" -> "ratio",
    "exec.serial_stage_s" -> "s", "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes", "exec.fetch_wait_s" -> "s",
    "exec.spill_bytes" -> "bytes", "exec.failed_tasks" -> "count",
    "sources.input_records" -> "count", "sources.input_bytes" -> "bytes",
    "sources.write_s" -> "s", "sources.bytes_written" -> "bytes",
    "sources.files_written" -> "count",
    "sources.state_bytes_per_input_byte" -> "ratio",
    "state.fold_s" -> "s", "state.kll_fold_s" -> "s", "state.ingest_s" -> "s",
    "state.read_s" -> "s", "state.rows_kept_frac" -> "ratio",
    "state.index_read_amplification" -> "ratio",
    "jvm.gc_s" -> "s", "trace.overhead_frac" -> "ratio")

  /** Counters whose pass-to-pass repeatability is reported. */
  val counters: Seq[String] = Seq("entry.build_jobs", "entry.pinned_bytes",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.failed_tasks",
    "sources.input_records", "sources.input_bytes", "sources.bytes_written",
    "sources.files_written")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The tail percentile: the highest one with at least ten samples
    * beyond it, but never below p90; returns (value, percentile,
    * samples beyond). Nearest-rank. */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val s = xs.sorted
    val n = s.length
    val rule = if (n > 10) 100 * (n - 10) / n else 0
    val p = math.min(99, math.max(90, rule))
    val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
    (s(rank - 1), p, n - rank)
  }

  /** Per-layer values of one traced pass, plus its self-time accounting
    * (layer → seconds, summing to the pass's timed regions). */
  def layers(r: RunResult, p: PassResult, cpus: Int): (Map[String, Double], Map[String, Double]) = {
    val tr = r.tracer
    val root = p.rootSpan.get
    val parent = tr.spans.map(s => s.id -> s.parent).toMap
    def under(id: Int, anc: Int): Boolean =
      id == anc || (parent.contains(id) && parent(id) >= 0 && under(parent(id), anc))
    val spans = tr.spans.filter(s => s.id != root && under(s.id, root))
    val ids = spans.map(_.id).toSet
    val jobs = tr.jobs.filter(j => ids(j.span))
    val byName = spans.groupBy(_.name).withDefaultValue(Seq.empty)
    def dur(name: String) = byName(name).map(_.seconds).sum
    def jobsIn(name: String) = {
      val inside = byName(name).map(_.id)
      jobs.filter(j => inside.exists(a => under(j.span, a)))
    }
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    m ++= p.extra.filter(kv => perLayer.exists(_._1 == kv._1))
    val build = jobsIn("build")
    m("entry.build_s") = dur("build")
    m("entry.build_jobs") = build.size
    m("entry.build_task_cpu_s") = build.map(_.cpuNs).sum / 1e9
    m("plan.s") = dur("plan")
    val exec = jobsIn("exec")
    m("exec.s") = dur("exec")
    m("exec.jobs") = exec.size
    m("exec.stages") = exec.map(_.stages).sum
    m("exec.tasks") = exec.map(_.tasks).sum
    m("exec.task_cpu_s") = exec.map(_.cpuNs).sum / 1e9
    m("exec.cpu_util") =
      if (m("exec.s") > 0) m("exec.task_cpu_s") / (m("exec.s") * cpus) else 0.0
    m("exec.serial_stage_s") = exec.map(_.serialStageNs).sum / 1e9
    m("exec.shuffle_write_bytes") = exec.map(_.shuffleWrite).sum
    m("exec.shuffle_read_bytes") = exec.map(_.shuffleRead).sum
    m("exec.fetch_wait_s") = exec.map(_.fetchWaitMs).sum / 1e3
    m("exec.spill_bytes") = exec.map(_.spill).sum
    m("exec.failed_tasks") = jobs.map(_.failedTasks).sum
    m("sources.input_records") = jobs.map(_.inputRecords).sum
    m("sources.input_bytes") = jobs.map(_.inputBytes).sum
    m("sources.write_s") = dur("store.create") + dur("store.appendInto")
    m("state.fold_s") = dur("fold")
    m("state.kll_fold_s") = dur("kll_fold")
    m("state.ingest_s") = dur("ingest")
    val considered = p.extra.getOrElse("index_rows_before", 0.0) +
      p.extra.getOrElse("batch_rows", 0.0)
    m("state.index_read_amplification") =
      if (considered > 0) jobsIn("ingest").map(_.inputRecords).sum / considered
      else 0.0
    m("jvm.gc_s") = p.ops.map(_.gcNs).sum / 1e9
    // self time: a span's duration minus what its child spans and its
    // own jobs cover; job time goes to the layer of the span that ran it
    val acct = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).toSeq
      val own = jobs.filter(_.span == s.id).map(j => (j.start, j.end)).toSeq
      val jobNs = Tracer.covered(own, s.start, s.end)
      val selfNs = (s.end - s.start) - Tracer.covered(kids ++ own, s.start, s.end)
      val layer = if (s.layer == "op") "unattributed" else s.layer
      acct(layer) += selfNs / 1e9
      if (jobNs > 0) acct(s"$layer.jobs") += jobNs / 1e9
    }
    (m.toMap, acct.toMap)
  }

  def emit(c: Main.Conf, r: RunResult): Unit = {
    val untraced = r.passes.filterNot(_._2).map(_._1)
    val traced = r.passes.filter(_._2).map(_._1)
    val all = r.warm ++ r.passes.map(_._1)
    val attempted = all.map(_.ops.size).sum
    val failed = math.min(attempted,
      all.map(p => p.ops.count(!_.ok) + p.failedChecks).sum)
    val lat = untraced.flatMap(_.ops.map(_.seconds))
    val (tailV, tailP, beyond) = tail(lat)
    val totals = untraced.map(_.total)
    val e2e = Map("setup_s" -> r.setupS, "total_s" -> median(totals),
      "op_p50_s" -> median(lat), "op_tail_s" -> tailV, "heap_live_mb" -> r.heapMb)
    val perPass = traced.map(p => layers(r, p, c.cpus))
    val layerVals: Map[String, Double] = perLayer.map { case (k, _) =>
      k -> median(perPass.map(_._1.getOrElse(k, 0.0)))
    }.toMap ++ Map("trace.overhead_frac" ->
      (if (traced.nonEmpty) median(traced.map(_.total)) / median(totals) - 1 else 0.0))
    val repeat = counters.map { k =>
      val vs = perPass.map(_._1.getOrElse(k, 0.0))
      k -> (vs, vs.distinct.size <= 1)
    }
    val metrics = if (c.trace) perLayer.map { case (k, u) => (k, layerVals(k), u) }
      else endToEnd.map { case (k, u) => (k, e2e(k), u) }

    val lines = mutable.ArrayBuffer.empty[String]
    lines += s"workload ${c.workload} seed ${c.seed} trace ${if (c.trace) 1 else 0} " +
      s"passes ${r.passes.size} (traced ${traced.size}) ops ${lat.size}"
    metrics.foreach { case (k, v, u) => lines += f"metric $k%-36s $v%.6g $u" }
    lines += f"detail op_tail_s is p$tailP over n=${lat.size} ($beyond beyond it)"
    lines += f"detail failed_frac ${failed.toDouble / attempted}%.4f ($failed of $attempted)"
    lines += "detail warm-up passes (check, plain) " +
      r.warm.map(p => f"${p.total}%.3f").mkString(" ")
    lines += "detail pass totals " + totals.map(t => f"$t%.3f").mkString(" ") +
      (if (traced.nonEmpty) " | traced " + traced.map(t => f"${t.total}%.3f").mkString(" ") else "")
    traced.zip(perPass).foreach { case (p, (_, acct)) =>
      lines += f"account pass total ${p.total}%.3f s: " + acct.toSeq.sortBy(_._1)
        .map { case (k, v) => f"$k $v%.3f" }.mkString(", ") +
        f" (sum ${acct.values.sum}%.3f)"
    }
    if (c.trace) repeat.foreach { case (k, (vs, exact)) =>
      lines += s"repeat $k ${if (exact) "exact" else "varies"} " +
        vs.map(v => f"$v%.0f").mkString(" ")
    }
    lines.foreach(println)

    val summary = Json.obj(Seq(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> v, "unit" -> u))
      })))
    if (c.record.nonEmpty) {
      val rec = Json.obj(Seq(
        "workload" -> c.workload, "seed" -> c.seed, "seconds" -> c.seconds,
        "trace" -> c.trace, "cpus" -> c.cpus, "summary" -> summary,
        "end_to_end" -> Json.obj(e2e.toSeq),
        "op_tail" -> Json.obj(Seq("percentile" -> tailP, "n" -> lat.size,
          "beyond" -> beyond)),
        "failed_frac" -> failed.toDouble / attempted,
        "pass_totals" -> totals, "traced_pass_totals" -> traced.map(_.total),
        "op_seconds" -> Json.obj(untraced.flatMap(_.ops).groupBy(_.name).toSeq
          .sortBy(_._1).map { case (k, os) => k -> os.map(_.seconds) }),
        "warm_up_op_seconds" -> r.warm.map(p => Json.obj(p.ops.map(o => o.name -> o.seconds))),
        "per_layer" -> Json.obj(layerVals.toSeq.sortBy(_._1)),
        "per_pass_layers" -> perPass.map(pp => Json.obj(pp._1.toSeq.sortBy(_._1))),
        "accounting" -> perPass.map(pp => Json.obj(pp._2.toSeq.sortBy(_._1))),
        "counter_repeats" -> Json.obj(repeat.map { case (k, (vs, exact)) =>
          k -> Json.obj(Seq("exact" -> exact, "values" -> vs))
        }),
        "spans" -> r.tracer.spans.map(s => Json.obj(Seq("id" -> s.id,
          "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
          "start_ns" -> s.start, "end_ns" -> s.end))),
        "jobs" -> r.tracer.jobs.map(j => Json.obj(Seq("job" -> j.jobId,
          "span" -> j.span, "start_ns" -> j.start, "end_ns" -> j.end,
          "stages" -> j.stages, "tasks" -> j.tasks, "cpu_ns" -> j.cpuNs,
          "input_records" -> j.inputRecords, "shuffle_write" -> j.shuffleWrite)))))
      JFiles.write(Paths.get(c.record), (rec + "\n").getBytes(UTF_8))
    }
    println(summary)
  }
}

/** Minimal JSON rendering for the summary and the record file. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }

  def obj(kv: Seq[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + render(v) }.mkString("{", ",", "}"))

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""

  def render(v: Any): String = v match {
    case r: Raw => r.s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}
