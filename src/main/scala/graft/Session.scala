package graft

import org.apache.spark.sql.SparkSession

/** The one local session the harness mains (`Bench`, `Verify`, `Smoke`,
  * `Explain`, `Profile`, `ScaleUp`) run on, so a bench timing, an oracle
  * dump and a smoke check all see the same engine:
  *  - graft's SQL extensions (functions, rules, data sources);
  *  - `local[cpus]` with one shuffle partition per core;
  *  - session time zone UTC: on a non-UTC host the `date_trunc`/`to_date`
  *    buckets (and thus results and measured work) would silently diverge
  *    from the oracle-checked semantics;
  *  - parquet timestamps written as `TIMESTAMP_MICROS`, not Spark's INT96
  *    default: INT96 carries no usable column statistics, so every written
  *    table would lose ts min/max in the Delta mirror's `add.stats` and the
  *    Iceberg mirror's bounds, and time-range file skipping would no-op.
  *    MICROS is the form every engine (the DuckDB oracle included) reads;
  *  - the UI off and the warehouse under the temp dir.
  */
object Session {
  def local(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(graft.functions.GraftExtensions.register)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", sys.props("java.io.tmpdir") + "/graft_warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
