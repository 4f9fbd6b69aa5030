package layerbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** One key's run inside a pass. Times are nanoseconds; `startMs`/`endMs`
  * are wall-clock milliseconds, comparable with task launch times. `cpuNs`
  * is the CPU time the JVM's threads spent inside the key (see `ThreadCpu`).
  * `output` is the row count and digest, in the pass that checks outputs. */
final case class KeyRun(
    key: String, error: Option[String], output: Option[(Long, String)],
    buildNs: Long, planNs: Long, execNs: Long, totalNs: Long, cpuNs: Long,
    startMs: Long, endMs: Long, execGcMs: Long,
    rounds: Int, exchanges: Int)

final case class PassRun(
    index: Int, wallNs: Long, tablesNs: Long, tablesCpuNs: Long, keys: Seq[KeyRun], spans: Seq[Span])

/** Closed loop with one client: one driver thread runs every key of the
  * workload once per pass, in a fresh child session, timing each key's full
  * declared output (a noop write) and the calls into each layer. */
object Runner {
  val Setups = 3
  val MinPasses = 2

  final case class Opts(
      data: String, workload: String, seed: Long, seconds: Double, trace: Boolean,
      expected: Option[String], record: Option[String], train: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    if (m.get("train").contains("1")) Opts(need("data"), "", 0, 0, false, None, None, train = true)
    else Opts(need("data"), need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.get("trace").contains("1"), m.get("expected"), m.get("record"), train = false)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    if (o.train) train(o.data) else run(o)
  }

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** One pass over the keys of the workloads in BENCHMARK.json, so that a
    * JVM started with `-XX:ArchiveClassesAtExit` archives the classes a run
    * loads. */
  def train(data: String): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores)
    val keys = (Workloads.olap ++ Workloads.mining).sorted
    val pass = new PassRunner(spark, data, graft.SparkEntry.queries, cores).run(0, keys, None)
    say(f"training pass: ${pass.wallNs / 1e9}%.1f s over ${keys.size} keys")
    spark.stop()
  }

  def run(o: Opts): Unit = {
    val keys = Workloads.all.getOrElse(o.workload, sys.error(s"unknown workload ${o.workload}"))
    val queries = graft.SparkEntry.queries
    keys.foreach(k => require(queries.contains(k), s"no query key $k"))
    val cores = Runtime.getRuntime.availableProcessors
    val rnd = new Random(o.seed)
    val expected = o.expected.map(readExpected).getOrElse(Map.empty)

    // Set-up, several times: start the session and load every table. Each
    // set-up's wall time and its threads' CPU time (taken before the
    // session stops and its threads end).
    val setups = (1 to Setups).map { i =>
      val cpu0 = ThreadCpu.snapshot()
      val t0 = System.nanoTime()
      val spark = session(cores)
      loadTables(spark, o.data)
      val dt = System.nanoTime() - t0
      val cpu = ThreadCpu.since(cpu0)
      if (i < Setups) spark.stop()
      (dt, cpu)
    }
    val spark = SparkSession.active

    // The warm-up pass collects each key's output instead of writing it to
    // the noop sink, and that output is what the check below compares. The
    // pass is untimed, so the check stays outside every timed span, and the
    // run needs no extra pass for it.
    val runner = new PassRunner(spark, o.data, queries, cores)
    val warm = runner.run(0, rnd.shuffle(keys), None, check = true)
    say(f"warm-up pass: ${warm.wallNs / 1e9}%.2f s, ${warm.keys.count(_.error.isEmpty)}/${keys.size} keys ok")

    // Measured passes. With --trace 1 untraced and traced passes run in
    // pairs, alternating which goes first, so both kinds see the same JIT
    // and host state and their difference is the tracing overhead.
    val sc = spark.sparkContext
    val listener = if (o.trace) Some(new LayerListener) else None
    val plain, traced0 = ArrayBuffer.empty[PassRun]
    def next = plain.size + traced0.size + 1
    def tracedPass(l: LayerListener): Unit = {
      sc.addSparkListener(l)
      traced0 += runner.run(next, rnd.shuffle(keys), Some(l))
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(l)
    }
    val t0 = System.nanoTime()
    while (plain.size < MinPasses || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      val tracedFirst = plain.size % 2 == 1
      if (tracedFirst) listener.foreach(tracedPass)
      plain += runner.run(next, rnd.shuffle(keys), None)
      if (!tracedFirst) listener.foreach(tracedPass)
    }
    val (untraced, traced) = (plain.toSeq, traced0.toSeq)
    say("measured pass walls: " + untraced.map(p => f"${p.wallNs / 1e9}%.2f s").mkString(" "))
    val heapMb = liveHeapMb()
    val measured = untraced ++ traced

    val outputs = warm.keys.map(k => k.key -> k.output).toMap
    o.record.foreach { path =>
      val lines = keys.map(k => outputs(k).fold(s"$k\t-1\t-")(x => s"$k\t${x._1}\t${x._2}"))
      Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    val mismatched = keys.filter { k =>
      val ok = (outputs(k), expected.get(k)) match {
        case (Some((rows, dig)), Some((eRows, eDig))) => rows == eRows && (eDig == "-" || dig == eDig)
        case (Some(_), None) => o.record.isDefined
        case _ => false
      }
      if (!ok) say(s"check failed: $k got ${outputs(k)} expected ${expected.get(k)}")
      !ok
    }
    val attempted = measured.map(_.keys.size).sum
    val threw = measured.flatMap(_.keys).filter(_.error.isDefined)
    (warm.keys ++ threw).filter(_.error.isDefined).map(k => k.key -> k.error.get).distinct
      .foreach { case (k, e) => say(s"$k threw: $e") }
    val failed = threw.size + mismatched.size
    val failedFrac = Stats.ratio(failed, attempted)
    val correct = failed == 0

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val wall = Best(untraced, _.tablesNs, _.totalNs)
        val cpu = Best(untraced, _.tablesCpuNs, _.cpuNs)
        // A tail percentile is reported only where one run leaves at least
        // ten samples above it; at or below the median it adds nothing.
        val tail = Stats.tailPercentile(cpu.keys.size).filter(_ > 50)
        say(tail.fold(s"no percentile above p50 has 10 of ${cpu.keys.size} key samples above it; tail not reported")(
          p => f"key CPU p$p = ${Stats.percentile(cpu.keys, p)}%.4f s over ${cpu.keys.size} keys"))
        say(f"failed_frac = $failed/$attempted = $failedFrac%.4f")
        say(s"${untraced.size} measured passes; $Setups set-ups, wall / CPU: " +
          setups.map { case (w, c) => f"${w / 1e9}%.3f / ${c / 1e9}%.3f s" }.mkString(", "))
        say("fastest key latency: " + wall.byKey(keys).map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
        say("least key CPU: " + cpu.byKey(keys).map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
        untraced.foreach(p => say(f"pass ${p.index} CPU in run order: tables=${p.tablesCpuNs / 1e9}%.3f " +
          p.keys.map(k => f"${k.key}=${k.cpuNs / 1e9}%.3f").mkString(" ")))
        // Wall-clock figures, printed but not reported as metrics: on a
        // shared host other tenants' load moves them by up to 2x for minutes.
        say(f"wall: queries_per_s ${wall.rate}%.4f 1/s, latency_p50_s ${Stats.median(wall.keys)}%.4f s")
        Seq(
          ("cpu_s_per_query", Stats.ratio(cpu.total, cpu.keys.size), "s"),
          ("cpu_p50_s", Stats.median(cpu.keys), "s"),
          ("ok_frac", 1.0 - failedFrac, "frac"),
          ("heap_live_mb", heapMb, "MB"),
          ("setup_s", Stats.median(setups.map(_._2 / 1e9)), "s"))
      } else {
        val rowsOut = outputs.collect { case (k, Some((r, _))) => k -> r }
        val qps = (ps: Seq[PassRun]) =>
          Stats.ratio(ps.flatMap(_.keys).count(_.error.isEmpty), ps.map(_.wallNs).sum / 1e9)
        val layer = new LayerReport(listener.get, cores, rowsOut)
        val wall = Best(untraced, _.tablesNs, _.totalNs)
        layer.report(traced, warm.wallNs, qps(traced) - qps(untraced)) ++ Seq(
          ("wall.queries_per_s", wall.rate, "1/s"),
          ("wall.latency_p50_s", Stats.median(wall.keys), "s"))
      }

    metrics.foreach { case (n, v, u) => say(f"$n%-28s $v%.6g $u") }
    spark.stop()
    val m = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${m.mkString(", ")}}}""")
  }

  /** Loads every table; one that fails is reported and left to fail the
    * keys that read it, so the run still measures the others. */
  def loadTables(spark: SparkSession, data: String): Long = {
    val t0 = System.nanoTime()
    graft.Tables.names.foreach { t =>
      try graft.Tables(spark, data, t).schema
      catch { case NonFatal(e) => say(s"table $t did not load: ${brief(e)}") }
    }
    System.nanoTime() - t0
  }

  def readExpected(path: String): Map[String, (Long, String)] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).map { l =>
      val Array(k, rows, dig) = l.split("\t")
      k -> (rows.toLong, dig)
    }.toMap

  /** Heap in use after full collections. Spark's context cleaner frees
    * broadcast and shuffle state only once a collection has found it
    * unreachable, so collect, give the cleaner time, and collect again. */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def brief(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".replaceAll("\\s+", " ").take(200)

  def say(s: String): Unit = println(s"[layerbench] $s")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}

/** Each step's least measured cost over the passes, in seconds: the table
  * loads of a fresh session, and each key that did not throw. The least of
  * several passes repeats far better than a mean, as a slow stretch on a
  * shared host lasts seconds (`Bench` keeps the min of two samples too). */
final case class Best(tables: Double, perKey: Seq[(String, Double)]) {
  val keys: Seq[Double] = perKey.map(_._2).filterNot(_.isNaN)
  /** One pass made of the least cost of each step. */
  val total: Double = tables + keys.sum
  /** Keys per second of that pass. */
  def rate: Double = Stats.ratio(keys.size, total)
  /** Per key, most costly first, in the order of `keys`' names. */
  def byKey(names: Seq[String]): Seq[(String, Double)] = {
    val m = perKey.toMap
    names.sorted.map(k => k -> m(k)).sortBy(-_._2)
  }
}

object Best {
  def apply(passes: Seq[PassRun], tables: PassRun => Long, key: KeyRun => Long): Best = {
    val names = passes.head.keys.map(_.key).sorted
    val best = Stats.bestPass(passes.map(p => tables(p) / 1e9 +: p.keys.sortBy(_.key).map(k =>
      if (k.error.isEmpty) key(k) / 1e9 else Double.NaN)))
    Best(best.head, names.zip(best.tail))
  }
}

/** CPU time of the JVM's application threads: the driver thread and every
  * thread Spark starts. JIT compiler and garbage-collector threads are not
  * among them. Unlike wall time, it does not grow while the host runs other
  * tenants' virtual CPUs instead of this machine's. */
object ThreadCpu {
  private val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU nanoseconds so far of each live thread, by thread id. */
  def snapshot(): Map[Long, Long] = {
    val ids = mx.getAllThreadIds
    ids.zip(mx.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** CPU nanoseconds the live threads spent since `before`; a thread started
    * since then counts from zero. A thread that ended in between is lost,
    * which Spark's pooled threads rarely do within a pass. */
  def since(before: Map[Long, Long]): Long =
    snapshot().iterator.map { case (id, t) => t - before.getOrElse(id, 0L) }.sum
}

/** Runs one pass: a fresh child session, every table loaded through
  * `graft.Tables`, then each key's build, plan and execute. */
final class PassRunner(
    spark: SparkSession, data: String,
    queries: Map[String, (SparkSession, String) => DataFrame], cores: Int) {
  private var nextSpan = 0
  private def span(parent: Int, name: String, start: Long, end: Long, out: ArrayBuffer[Span]): Int = {
    nextSpan += 1
    out += Span(nextSpan, parent, name, start, end)
    nextSpan
  }

  def run(index: Int, order: Seq[String], listener: Option[LayerListener], check: Boolean = false): PassRun = {
    val spans = ArrayBuffer.empty[Span]
    val sc = spark.sparkContext
    val p0 = System.nanoTime()
    val cpu0 = ThreadCpu.snapshot()
    val s = spark.newSession()
    val tablesNs = Runner.loadTables(s, data)
    val tEnd = System.nanoTime()
    val tablesCpuNs = ThreadCpu.since(cpu0)
    val runs = order.map { key =>
      def phase[T](name: String)(f: => T): (T, Long) = {
        if (listener.isDefined) sc.setJobGroup(s"$index/$key/$name", name, interruptOnCancel = false)
        val t = System.nanoTime()
        val r = f
        (r, System.nanoTime() - t)
      }
      val cpuK0 = ThreadCpu.snapshot()
      val k0 = System.nanoTime()
      val ms0 = System.currentTimeMillis()
      var output: Option[(Long, String)] = None
      var times = Vector.empty[Long]
      var exchanges = 0
      var gc = 0L
      val err = try {
        val (d, b) = phase("build")(queries(key)(s, data))
        times :+= b
        val (plan, p) = phase("plan")(d.queryExecution.executedPlan)
        times :+= p
        exchanges = PassRunner.exchanges(plan)
        val g0 = Runner.gcMs()
        if (check) {
          val (rows, e) = phase("exec")(d.collect())
          times :+= e
          val text = rows.map(Stats.canon)
          output = Some((text.length.toLong, Stats.digest(text)))
        } else {
          val (_, e) = phase("exec")(d.write.format("noop").mode("overwrite").save())
          times :+= e
        }
        gc = Runner.gcMs() - g0
        None
      } catch { case NonFatal(e) => Some(Runner.brief(e)) }
      finally if (listener.isDefined) sc.clearJobGroup()
      val k1 = System.nanoTime()
      val cpuNs = ThreadCpu.since(cpuK0)
      val t = times.padTo(3, 0L)
      val rounds = graft.operators.LastIterations.get(key).getOrElse(0)
      KeyRun(key, err, output, t(0), t(1), t(2), k1 - k0, cpuNs, ms0, System.currentTimeMillis(),
        gc, rounds, exchanges) -> k0
    }
    val p1 = System.nanoTime()
    if (listener.isDefined) {
      val pass = span(0, "pass", p0, p1, spans)
      span(pass, "tables.load", tEnd - tablesNs, tEnd, spans)
      runs.foreach { case (k, k0) =>
        val key = span(pass, "key", k0, k0 + k.totalNs, spans)
        var t = k0
        Seq("queries.build" -> k.buildNs, "plan" -> k.planNs, "exec" -> k.execNs).foreach {
          case (n, d) => span(key, n, t, t + d, spans); t += d
        }
      }
    }
    PassRun(index, p1 - p0, tablesNs, tablesCpuNs, runs.map(_._1), spans.toSeq)
  }
}

object PassRunner {
  /** Shuffle and broadcast exchanges in a physical plan. Under adaptive
    * execution, counted in the plan it holds before running any stage. */
  def exchanges(plan: SparkPlan): Int = {
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case e: Exchange => 1 + e.children.map(walk).sum
      case other => (other.children ++ other.subqueries).map(walk).sum
    }
    walk(plan)
  }
}
