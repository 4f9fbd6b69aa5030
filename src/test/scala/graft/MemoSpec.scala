package graft

/** SessionMemo contract (r9, ADVICE): compute-once per key, nested
  * different-key computes (Spark jobs inside a memoized compute routinely
  * memoize their own sub-plans), racing threads on one key share one
  * compute, and eviction drops a session's entries. */
class MemoSpec extends BaseSpec {

  test("computes once per key and caches the value") {
    val memo = new SessionMemo[String, Int]
    var calls = 0
    def get(k: String) = memo.getOrCompute(spark, k) { calls += 1; calls }
    assert(get("a") == 1 && get("a") == 1 && calls == 1)
    assert(get("b") == 2 && calls == 2)
    assert(memo.sizeFor(spark) == 2)
  }

  test("nested different-key compute works (old bin-locked form threw ISE)") {
    val memo = new SessionMemo[String, Int]
    // keys chosen to land anywhere — the old computeIfAbsent held a bin
    // lock across f, so a nested computeIfAbsent could throw
    // IllegalStateException (same bin) or deadlock; the holder form nests.
    val v = memo.getOrCompute(spark, "outer") {
      10 + memo.getOrCompute(spark, "inner") { 5 }
    }
    assert(v == 15)
    assert(memo.getOrCompute(spark, "inner") { fail("must be cached") } == 5)
  }

  test("racing threads on one key run a single compute") {
    val memo = new SessionMemo[String, Int]
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (1 to 16).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = memo.getOrCompute(spark, "hot") {
            Thread.sleep(50); calls.incrementAndGet(); 42
          }
        })
      }
      assert(futs.map(_.get()).toSet == Set(42))
      assert(calls.get() == 1, s"compute ran ${calls.get()} times under contention")
    } finally pool.shutdown()
  }

  test("evict drops the session's entries; next get recomputes") {
    val memo = new SessionMemo[String, Int]
    var calls = 0
    memo.getOrCompute(spark, "k") { calls += 1; calls }
    assert(memo.sizeFor(spark) == 1)
    memo.evict(spark)
    assert(memo.sizeFor(spark) == 0)
    assert(memo.getOrCompute(spark, "k") { calls += 1; calls } == 2)
  }

  test("Tables.evict drops the session's table entries; next load re-reads") {
    val s = spark.newSession()
    val region = Tables(s, sf, "region")
    Tables(s, sf, "nation")
    assert(Tables(s, sf, "region") eq region)
    assert(Tables.memo.sizeFor(s) == 2)
    Tables.evict(s)
    assert(Tables.memo.sizeFor(s) == 0)
    assert(Tables(s, sf, "region") ne region)
    Tables.evict(s)
  }

  test("every iterative key self-registers its round counter for Bench") {
    // Bench attributes slow iterative keys via LastIterations; the
    // bindings register at query-group init, which SparkEntry.queries
    // forces — exactly the order Bench observes them in.
    assert(SparkEntry.queries.nonEmpty)
    val keys = graft.operators.LastIterations.registeredKeys
    for (k <- Seq("m_graph_pagerank", "m_graph_lp", "m_graph_ppr",
                  "m_graph_kcore", "q_graph_bfs", "m_graph_sssp",
                  "m_text_bpe", "m_graph_betweenness", "m_graph_ktruss"))
      assert(keys.contains(k), s"iterative key $k lost its Bench attribution")
    // unregistered keys and never-run counters read as None, not a sentinel
    assert(graft.operators.LastIterations.get("q_scan_count").isEmpty)
  }
}
