package graft

import org.apache.spark.sql.SparkSession

/** The one owner of graft's session policy. Every main and the test
  * fixture get their session here, because part of graft's Hive 2.3.10
  * semantics lives in session settings rather than in query code (the
  * TIMESTAMP mapping of SURVEY.md §2 needs the zone and both parquet
  * timestamp settings below), and per-caller copies of them drift.
  */
object GraftSession {
  /** A local session on `cores` executor threads with one shuffle
    * partition per core. */
  def local(cores: Int): SparkSession = local(cores, cores)

  /** As above, with a pinned shuffle-partition count (the test fixture's
    * plan shapes, PlanDump's). */
  def local(cores: Int, shufflePartitions: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // Hive TIMESTAMP is timezone-less: pinned to UTC, Spark's
      // TimestampType behaves as TimestampNTZType in practice
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet stores ts as TIMESTAMP(NANOS); read as long, converted
      // to a µs timestamp in Tables.events (matches DuckDB's ns→µs cast).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // write µs (not INT96) so DuckDB and pyarrow read the same values
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // managed tables (join_smb's bucketed sides) go to tmp, not ./spark-warehouse
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")
      .getOrCreate()
}
