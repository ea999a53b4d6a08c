package graft

import org.apache.spark.sql.SparkSession

/** Tuned session factory for the graft engine.
  *
  * Local mode mirrors the cluster posture: AQE on (runtime re-plan,
  * skew-join splitting, coalesced shuffle reads), shuffle parallelism
  * sized to the machine instead of Spark's default 200, UTC session
  * time zone for oracle parity, and the graft extensions (native
  * `cosine_sim` expression) registered.
  *
  * The memory page is a fixed 4 MB (`spark.buffer.pageSize`), not
  * Spark's default `nextPow2(execution pool / cores / 16)`, which is
  * 32 MB under a 4 GB heap and 64 MB under 7 GB or 32 GB. Every
  * code-generated hash aggregate builds a fast map that takes one
  * whole page when it starts, whatever its key count, and the 10
  * fused rounds of a one-partition PageRank plan a partial and a
  * final aggregate each: 20 pages held by one task. On the 2,000-page
  * wiki pass (about 2,000 keys a map, 4 cores, 4 GB heap) the task
  * peak fell from 650 MB to 90 MB and the process's peak RSS from
  * 2,179 MB to 1,593 MB (medians of 10 runs each). On-heap pages are
  * `long[]`s, and above 1 MB G1 allocates them as humongous objects,
  * each of which can start a young pause of its own. Not 1 MB:
  * Spark allows 8,192 pages a task, so the page size caps what one
  * task can address (8 GB at 1 MB, below the ~19 GB execution pool
  * a lone task can take under a 32 GB heap; 32 GB at 4 MB), and a
  * 4 MB page still holds the fast map's full 65,536 rows of up to
  * 64 bytes. A caller may still set the key on the returned builder.
  */
object GraftSession {
  def builder(cores: String): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) — read as nano-epoch
      // longs (Tables.events converts to micros).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The testdata timestamps are written without isAdjustedToUTC;
      // Spark 4 would infer TIMESTAMP_NTZ, which breaks epoch
      // arithmetic (`unix_micros`) and diverges from DuckDB's naive
      // reading. With a UTC session zone, plain TIMESTAMP is
      // value-identical to the oracle's naive timestamps.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.buffer.pageSize", "4m")
      .withExtensions(new GraftExtensions)

  /** Default local session: core count from SPARK_GRAFT_CPUS (driver
    * contract) falling back to all cores.
    */
  def local(): SparkSession = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "*")
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
