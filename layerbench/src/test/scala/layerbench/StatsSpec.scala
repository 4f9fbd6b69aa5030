package layerbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail percentile keeps at least ten samples above its rank") {
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(200).contains(90))
    // 24 samples: rank ceil(0.58 * 24) = 14 leaves 10 above; p59 gives rank 15.
    assert(Stats.tailPercentile(24).contains(58))
    assert(Stats.tailPercentile(20).contains(50))
    assert(Stats.tailPercentile(10).isEmpty)
    for (n <- 11 to 300; p <- Stats.tailPercentile(n)) {
      val rank = math.ceil(p / 100.0 * n).toInt
      assert(n - rank >= 10, s"n=$n p=$p")
      if (p < 90) assert(n - math.ceil((p + 1) / 100.0 * n).toInt < 10, s"n=$n p=$p is not the highest")
    }
  }

  test("nearest-rank percentile and median") {
    val xs = (1 to 24).map(_.toDouble)
    assert(Stats.percentile(xs, 58) == 14.0)
    assert(Stats.percentile(xs.reverse, 58) == 14.0)
    assert(Stats.percentile(Seq(3.0), 90) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Nil) == 0.0)
  }

  test("best pass takes each step's fastest time and skips failed runs") {
    val nan = Double.NaN
    val best = Stats.bestPass(Seq(Seq(1.0, 5.0, nan, nan), Seq(2.0, 4.0, 3.0, nan)))
    assert(best.take(3) == Seq(1.0, 4.0, 3.0))
    assert(best(3).isNaN)
    assert(Stats.bestPass(Seq(Seq(2.0, 1.0))) == Seq(2.0, 1.0))
  }

  test("span self time is duration minus the union of its children") {
    val spans = Seq(
      Span(1, 0, "pass", 0, 100),
      Span(2, 1, "tables.load", 0, 10),
      Span(3, 1, "key", 10, 60),
      Span(4, 3, "queries.build", 10, 30),
      Span(5, 3, "plan", 30, 35),
      Span(6, 3, "exec", 35, 55),
      Span(7, 1, "key", 60, 95),
      Span(8, 7, "exec", 60, 95))
    val self = Span.selfTimes(spans)
    assert(self(1) == 5)
    assert(self(3) == 5)
    assert(self(7) == 0)
    assert(self(4) == 20)
    assert(self.values.sum == 100, "self times of a nested tree add up to the root")
  }

  test("uncovered time merges overlapping covers and clips them to the span") {
    assert(Stats.uncovered(0, 100, Nil) == 100)
    assert(Stats.uncovered(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 200L))) == 100 - 30 - 10)
    assert(Stats.uncovered(50, 60, Seq((0L, 100L))) == 0)
    assert(Stats.uncovered(10, 5, Nil) == 0)
  }

  test("core utilisation is task time over wall time times cores, 0 when empty") {
    assert(Stats.coreUtil(8.0, 4.0, 4) == 0.5)
    assert(Stats.coreUtil(0.0, 0.0, 4) == 0.0)
    assert(Stats.coreUtil(3.0, 0.0, 4) == 0.0)
    assert(Stats.ratio(1, 0) == 0.0)
  }

  test("digest ignores row order and summation noise, and sees content") {
    val rows = Seq(Row(1L, "a", 0.1 + 0.2), Row(2L, null, 1.5), Row(3L, "c", Seq(1, 2)))
    val a = Stats.digest(rows.map(Stats.canon))
    val b = Stats.digest(rows.reverse.map(Stats.canon))
    assert(a == b)
    val noisy = Seq(Row(1L, "a", 0.3), Row(2L, null, 1.5), Row(3L, "c", Seq(1, 2)))
    assert(Stats.digest(noisy.map(Stats.canon)) == a)
    val changed = Seq(Row(1L, "a", 0.31), Row(2L, null, 1.5), Row(3L, "c", Seq(1, 2)))
    assert(Stats.digest(changed.map(Stats.canon)) != a)
    val dup = rows :+ rows.head
    assert(Stats.digest(dup.map(Stats.canon)) != a, "a duplicated row changes the digest")
  }

  test("canonical text of values") {
    assert(Stats.canon(null) == "\\N")
    assert(Stats.canon(-0.0) == "0")
    assert(Stats.canon(1.0) == "1")
    assert(Stats.canon(Map("b" -> 1, "a" -> 2)) == "{a->2,b->1}")
    assert(Stats.canon(Row(1, Row(2.5f, Seq("x")))) == "(1,(2.5,[x]))")
  }

  private def key(name: String, ns: Long, cpuNs: Long, threw: Boolean = false) =
    KeyRun(name, if (threw) Some("boom") else None, None, 0, 0, 0, ns, cpuNs, 0, 0, 0, 0, 0)

  test("best of passes sums each step's least cost and leaves out keys that threw in every pass") {
    val p1 = PassRun(1, 0, 2000000000L, 1000000000L,
      Seq(key("b", 3000000000L, 1000000000L), key("a", 1000000000L, 4000000000L), key("c", 1, 1, threw = true)), Nil)
    val p2 = PassRun(2, 0, 1000000000L, 2000000000L,
      Seq(key("c", 1, 1, threw = true), key("a", 2000000000L, 2000000000L), key("b", 2000000000L, 3000000000L)), Nil)
    val wall = Best(Seq(p1, p2), _.tablesNs, _.totalNs)
    assert(wall.tables == 1.0)
    assert(wall.keys == Seq(1.0, 2.0))
    assert(wall.total == 4.0)
    assert(wall.rate == 0.5)
    assert(wall.byKey(Seq("a", "b", "c")).take(2) == Seq("b" -> 2.0, "a" -> 1.0))
    val cpu = Best(Seq(p1, p2), _.tablesCpuNs, _.cpuNs)
    assert(cpu.total == 1.0 + 2.0 + 1.0)
  }

  test("thread CPU counts a thread started after the snapshot") {
    val before = ThreadCpu.snapshot()
    @volatile var stop = false
    val t = new Thread(() => { var x = 0L; while (!stop) x += 1 })
    t.start()
    Thread.sleep(300)
    val spent = ThreadCpu.since(before)
    stop = true
    t.join()
    assert(spent >= 50000000L, s"$spent ns")
  }
}
