package layerbench

/** Per-layer metrics of the traced passes: each is a per-pass total (or
  * ratio of totals), reported as the median over the traced passes. */
final class LayerReport(listener: LayerListener, cores: Int, outputRows: Map[String, Long]) {
  import Runner.say

  /** Counts that a later change may cite only if they repeat exactly. */
  val countNames: Seq[String] = Seq(
    "queries.build_jobs", "operators.rounds", "plan.exchanges", "exec.jobs", "exec.stages",
    "exec.tasks", "scan.rows_read", "shuffle.write_bytes", "shuffle.read_bytes", "output.rows")

  private def counts(p: PassRun, k: KeyRun, phase: String): Counts =
    listener.get(s"${p.index}/${k.key}/$phase")

  def perPass(p: PassRun): Seq[(String, Double, String)] = {
    val ok = p.keys.filter(_.error.isEmpty)
    val all = new Counts
    val exec = new Counts
    var buildJobs = 0L
    var noTaskMs = 0L
    p.keys.foreach { k =>
      val phases = Seq("build", "plan", "exec").map(ph => ph -> counts(p, k, ph)).toMap
      val keyAll = new Counts
      phases.values.foreach(keyAll += _)
      all += keyAll
      exec += phases("exec")
      buildJobs += phases("build").jobs
      noTaskMs += Stats.uncovered(k.startMs, k.endMs, keyAll.intervals.toSeq)
    }
    val execS = p.keys.map(_.execNs).sum / 1e9
    val outRows = ok.map(k => outputRows.getOrElse(k.key, 0L)).sum
    val self = Span.selfTimes(p.spans)
    def selfMs(name: String) = p.spans.filter(_.name == name).map(s => self(s.id)).sum / 1e6
    Seq(
      ("tables.load_ms", p.tablesNs / 1e6, "ms"),
      ("scan.bytes_read", all.bytesRead.toDouble, "bytes"),
      ("scan.rows_read", all.rowsRead.toDouble, "count"),
      ("scan.rows_per_output_row", Stats.ratio(all.rowsRead.toDouble, outRows.toDouble), "rows/row"),
      ("output.rows", outRows.toDouble, "count"),
      ("queries.build_ms", p.keys.map(_.buildNs).sum / 1e6, "ms"),
      ("queries.build_jobs", buildJobs.toDouble, "count"),
      ("operators.rounds", ok.map(_.rounds).sum.toDouble, "count"),
      ("driver.no_task_ms", noTaskMs.toDouble, "ms"),
      ("plan.ms", p.keys.map(_.planNs).sum / 1e6, "ms"),
      ("plan.exchanges", ok.map(_.exchanges).sum.toDouble, "count"),
      ("exec.ms", execS * 1e3, "ms"),
      ("exec.jobs", exec.jobs.toDouble, "count"),
      ("exec.stages", exec.stages.toDouble, "count"),
      ("exec.tasks", exec.tasks.toDouble, "count"),
      ("exec.task_s", exec.taskMs / 1e3, "s"),
      ("exec.core_util", Stats.coreUtil(exec.taskMs / 1e3, execS, cores), "frac"),
      ("exec.gc_ms", p.keys.map(_.execGcMs).sum.toDouble, "ms"),
      ("shuffle.write_bytes", all.shuffleWrite.toDouble, "bytes"),
      ("shuffle.read_bytes", all.shuffleRead.toDouble, "bytes"),
      ("shuffle.spill_bytes", all.spill.toDouble, "bytes"),
      ("span.pass_self_ms", selfMs("pass"), "ms"),
      ("span.key_self_ms", selfMs("key"), "ms"),
      ("pass.wall_ms", p.wallNs / 1e6, "ms"))
  }

  def report(traced: Seq[PassRun], warmNs: Long, overheadQps: Double): Seq[(String, Double, String)] = {
    val rows = traced.map(perPass)
    traced.foreach { p =>
      val selfSum = Span.selfTimes(p.spans).values.sum / 1e6
      say(f"pass ${p.index}: span self times sum to $selfSum%.3f ms; pass wall ${p.wallNs / 1e6}%.3f ms")
    }
    def values(n: String) = rows.map(_.find(_._1 == n).get._2)
    val repeat = countNames.partition(n => values(n).distinct.size == 1)
    say(s"counts equal in all ${rows.size} traced passes: ${repeat._1.mkString(" ")}")
    say(s"counts that differ between traced passes: ${repeat._2.mkString(" ")}")
    val named = rows.head.filterNot(m => m._1 == "pass.wall_ms" || m._1 == "output.rows").map { case (n, _, unit) =>
      (n, Stats.median(values(n)), unit)
    }
    named ++ Seq(
      ("warmup.pass_ms", warmNs / 1e6, "ms"),
      ("trace.overhead_qps", overheadQps, "1/s"))
  }
}
