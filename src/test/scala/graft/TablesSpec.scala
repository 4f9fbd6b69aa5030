package graft

import org.apache.spark.sql.types._

/** Schema-drift canary over the [[Tables]] catalog.
  *
  * The driver regenerates /root/testdata between rounds and has already
  * shipped the events `ts` column three ways (TIMESTAMP(NANOS), raw-Long
  * nanos, timestamp[us]/NTZ); the round-9 layout change made every
  * events-backed key fail analysis while all other suites stayed green.
  * This suite touches every table and every column through the SAME
  * loader the contract queries use, so the next physical-layout drift
  * fails HERE with a named assertion instead of as 30 silently-missing
  * correctness keys.
  */
class TablesSpec extends BaseSpec {

  // Columns the contract queries consume, per table. A regenerated file
  // may legally ADD columns; dropping or renaming any of these breaks keys.
  private val required: Map[String, Seq[String]] = Map(
    "region"     -> Seq("r_regionkey", "r_name"),
    "nation"     -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer"   -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier"   -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part"       -> Seq("p_partkey", "p_name", "p_type", "p_size", "p_retailprice"),
    "orders"     -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                        "o_orderdate", "o_orderpriority"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                        "l_returnflag", "l_linestatus", "l_shipdate"),
    "events"     -> Seq("event_id", "ts", "user_id", "event_type", "value"),
    "documents"  -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label")
  )

  test("every table loads, has rows, and carries its contract columns") {
    Tables.names.foreach { name =>
      val df = Tables(spark, sf, name)
      val missing = required(name).filterNot(df.columns.contains)
      assert(missing.isEmpty, s"$name is missing contract columns: $missing")
      assert(df.count() > 0, s"$name is empty at sf0.001")
    }
  }

  test("events ts normalizes to µs TimestampType whatever the file layout") {
    val ev = Tables(spark, sf, "events")
    assert(ev.schema("ts").dataType == TimestampType,
      s"events.ts must normalize to TimestampType, got ${ev.schema("ts").dataType}")
    // unix_micros must be usable downstream (the 30+ consumers' contract)
    // and land in a sane epoch range (1990..2100), catching an off-by-10³
    // ns/µs/ms mixup that a bare type check would miss.
    import org.apache.spark.sql.functions._
    val Array(lo, hi) = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val y1990 = 631152000000000L
    val y2100 = 4102444800000000L
    assert(lo > y1990 && hi < y2100,
      s"events.ts µs range [$lo, $hi] outside plausible epoch bounds — unit drift?")
  }

  test("every contract column is selectable end-to-end (no lazy analysis trap)") {
    // Materialize one row of every required column: analysis-only breakage
    // (the round-9 failure mode) surfaces at .collect, not at schema time.
    required.foreach { case (name, cols) =>
      val df = Tables(spark, sf, name)
      df.select(cols.map(org.apache.spark.sql.functions.col): _*).limit(1).collect()
    }
  }

  /** Spark jobs started while `f` runs, counted by a listener. The listener
    * bus is asynchronous, so a marker job follows `f`; once the listener
    * has seen the marker, it has seen every job started before it. */
  private def jobsDuring(f: => Unit): Int = {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(j.properties.getProperty("spark.jobGroup.id")).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setJobGroup("tables-spec-load", "load")
      try f finally sc.clearJobGroup()
      sc.setJobGroup("tables-spec-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      var spins = 0
      while (!groups.contains("tables-spec-marker") && spins < 300) { Thread.sleep(20); spins += 1 }
      assert(groups.contains("tables-spec-marker"), "listener never saw the marker job")
      groups.toArray.count(_ == "tables-spec-load")
    } finally sc.removeSparkListener(l)
  }

  test("a second session opens every table without a Spark job, same schemas") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val first = Tables.names.map(t => Tables(s1, sf, t).schema)
    val again = jobsDuring {
      assert(Tables.names.map(t => Tables(s2, sf, t).schema) == first)
      // the streaming source resolves its schema through the same cache
      graft.streaming.StreamOps.eventStream(s2, sf)
    }
    assert(again == 0, s"second session's table loads started $again Spark jobs")
    Tables.evict(s1); Tables.evict(s2)
  }

  test("a parquet file rewritten with another schema is re-inferred, never stale") {
    import java.nio.file.{Files, StandardCopyOption}
    import spark.implicits._
    val dir = Files.createTempDirectory("tables-spec")
    // Spark writes a directory; move its single part file into place, so the
    // table is one parquet FILE, the layout the schema cache applies to.
    def put(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val out = dir.resolve(tag).toString
      df.coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, dir.resolve("t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    try {
      put(Seq((1L, "a")).toDF("k", "v"), "v1")
      val s1 = spark.newSession()
      assert(Tables(s1, dir.toString, "t").columns.toSeq == Seq("k", "v"))
      put(Seq((2L, 3.5, true)).toDF("k", "x", "flag"), "v2")
      val s2 = spark.newSession()
      val t2 = Tables(s2, dir.toString, "t")
      assert(t2.columns.toSeq == Seq("k", "x", "flag"),
        s"rewritten file served a stale schema: ${t2.schema.simpleString}")
      assert(t2.as[(Long, Double, Boolean)].collect().toSeq == Seq((2L, 3.5, true)))
      Tables.evict(s1); Tables.evict(s2)
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
  }

  test("each session gets the schema Spark infers under its parquet settings") {
    // events.ts is written as timestamp[us] without UTC adjustment: it infers
    // as TIMESTAMP_NTZ by default and as TIMESTAMP with NTZ inference off, so
    // a schema cached under one setting must not be served under the other
    val path = s"$sf/events.parquet"
    def session(ntz: Boolean) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", ntz.toString)
      s
    }
    Tables.read(session(ntz = true), path)
    val off = session(ntz = false)
    assert(Tables.read(off, path).schema == off.read.parquet(path).schema)
  }
}
