package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Catalog over the driver-generated parquet testdata (TESTDATA.md).
  *
  * Opening a table has two costs, cached at two scopes:
  *
  *  - Per PROCESS, the parquet schema ([[read]]). Spark infers a file's
  *    schema with a Spark job of its own (footer reads across the
  *    cluster), once per `spark.read.parquet` call. The inferred
  *    `StructType` is cached process-wide per file, so every session after
  *    the first that opens an unchanged file passes it to the reader and
  *    runs no job. An entry is invalidated when the file's length or
  *    modification time changes (one `getFileStatus` per open), or when the
  *    session's parquet reader settings differ from the ones the schema was
  *    inferred under. Directories are never cached: their files can change
  *    without their own status changing.
  *  - Per SESSION, the DataFrame ([[apply]]), memoized per (session, sfDir,
  *    table) in a [[SessionMemo]], so it is released when the session's
  *    context stops or on [[evict]]. What is cached is the LOGICAL PLAN
  *    OBJECT only — never materialized data — so Catalyst still sees the raw
  *    scan node and pushes filters / prunes columns into the vectorized
  *    parquet reader exactly as with a fresh read; the memo also gives the
  *    object identity [[SessionMemo]] callers key on.
  */
object Tables {
  import org.apache.spark.sql.functions._

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private[graft] val memo = new SessionMemo[(String, String), DataFrame]

  /** (qualified path, parquet reader settings) -> (length, mtime, schema).
    * Keyed without the file stamp, so a rewritten file replaces its entry
    * instead of adding one. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Map[String, String]), (Long, Long, StructType)]

  /** `spark.read.parquet(path)`, with the schema taken from the process-wide
    * cache when this process has already read the unchanged file under the
    * same parquet reader settings. A missing path falls through to Spark's
    * own error. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val st = try Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    st.filter(_.isFile) match {
      case None => spark.read.parquet(path)
      case Some(f) =>
        val key = (f.getPath.toString, spark.conf.getAll.filter(_._1.contains("parquet")))
        Option(schemas.get(key)) match {
          case Some((len, mtime, s)) if len == f.getLen && mtime == f.getModificationTime =>
            spark.read.schema(s).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            schemas.put(key, (f.getLen, f.getModificationTime, df.schema))
            df
        }
    }
  }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    memo.getOrCompute(spark, (sfDir, name)) {
      if (name == "events") {
        // The generator has shipped `ts` three ways across rounds — parquet
        // TIMESTAMP(NANOS) (Spark 4 rejects it unless read as raw Long via
        // nanosAsLong), native timestamp[us] (reads as TIMESTAMP_NTZ), and
        // plain TIMESTAMP — so the loader dispatches on the file's actual
        // type instead of assuming one layout. Every branch lands on the
        // same contract the 30+ events consumers rely on: `ts` is a µs
        // TimestampType whose unix_micros equal DuckDB's epoch_us over the
        // same file (oracle side: epoch_us(CAST(ts AS TIMESTAMP)) truncates
        // ns and no-ops on µs, so one SQL text covers all layouts).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        // NTZ→TIMESTAMP cast interprets the naive value in the session zone;
        // UTC makes it epoch-preserving, matching DuckDB's naive epoch_us.
        // ASSERT rather than set: every entry point (Verify, Bench, the
        // test session, GoldenGen) pins UTC at session construction, and a
        // table load silently mutating session config would change the
        // behavior of unrelated tz-sensitive expressions mid-session
        // depending on whether/when events was first touched.
        require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
          "events loader requires spark.sql.session.timeZone=UTC (pin it " +
            "at session construction); refusing to mutate session config")
        val raw = read(spark, s"$sfDir/events.parquet")
        raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          case org.apache.spark.sql.types.TimestampNTZType =>
            raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
          case _ => raw
        }
      } else {
        read(spark, s"$sfDir/$name.parquet")
      }
    }

  /** Drop every table `spark` has loaded — for a caller discarding a
    * `newSession` child whose context stays live (context stop evicts on
    * its own). */
  def evict(spark: SparkSession): Unit = memo.evict(spark)
}
