package graft

import org.apache.spark.sql.SparkSession

/** The one local session factory: every graft main and the test suites
  * build Bench's session here, so a probe, an audit or a demo runs the
  * same program the bench times.
  *
  *  - `local[cpus]` with shuffle partitions = cpus, AQE on, UI off;
  *  - [[GraftExtensions]] (the SQL surface and its plan rules);
  *  - UTC session time zone;
  *  - `nanosAsLong`: events.parquet carries TIMESTAMP(NANOS), which
  *    Spark 4 rejects; it reads as bigint nanos and queries convert
  *    with `ts div 1000` to µs, matching DuckDB's ns→µs truncation.
  *
  * The width defaults to `SPARK_GRAFT_CPUS` (32 when unset); a caller
  * that needs a fixed width passes it. Log level stays with the caller.
  */
object Session {
  private def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def local(cpus: Int = envCpus): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .withExtensions(new GraftExtensions)
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .getOrCreate()
}
