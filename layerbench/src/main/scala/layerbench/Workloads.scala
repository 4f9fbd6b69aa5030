package layerbench

/** The query keys each workload runs once per pass. Each list is a subset
  * of its family, sized so that a cold JVM can set up, warm up, measure two
  * passes and check the outputs in under a minute. See README.md for why
  * each workload was chosen and which layer it stresses. */
object Workloads {
  /** Relational path: scans, joins, aggregates, windows. Every key has a
    * DuckDB oracle. `q_win_distribution` is the key whose Window a
    * `count()` would prune. */
  val olap: Seq[String] =
    Seq(1, 5, 13, 18, 21).map(i => s"q_sql_tpch_q$i") :+ "q_win_distribution"

  /** Dual-path operators: count gates, collects and driver kernels, so most
    * jobs start inside the query call rather than in the final write. One
    * graph key only: the graph keys share a memoised edge table whose cost
    * lands on whichever of them runs first, which would make the median
    * latency depend on the seed. */
  val mining: Seq[String] =
    Seq("m_graph_pagerank", "m_dbscan", "m_mine_fpgrowth", "m_dedup_minhash")

  /** Trajectory and time-series distance kernels (the `functions` layer).
    * Not in BENCHMARK.json; run by hand. */
  val traj: Seq[String] =
    Seq("frechet", "hausdorff", "edr", "lcss").map(d => s"m_traj_$d") ++
      Seq("m_time_dtw", "m_time_matrixprofile", "q_traj_sim")

  val all: Map[String, Seq[String]] = Map("olap" -> olap, "mining" -> mining, "traj" -> traj)
}
