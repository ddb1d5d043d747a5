package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession's settings are decided. Every main, the
  * CLI and the test sessions build through [[get]], so the sessions that
  * time queries run the same settings as the one [[Verify]] grades.
  * Callers differ only in their app name; the CLI also passes its
  * deployment master, and tests pin `cpus`. */
object Sessions {
  /** Local parallelism: `SPARK_GRAFT_CPUS` if set, else every core. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  // Isolated warehouse per JVM: a stale spark-warehouse/<db>.db dir from
  // a previous run is invisible to a fresh in-memory catalog, so DROP
  // DATABASE no-ops and CREATE dies on LOCATION_ALREADY_EXISTS. Lazy, so
  // the getOrCreate calls that return the existing session do not make
  // a new temp dir each time.
  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("graft_wh").toString

  /** The JVM's session: `local[cpus]` (or `master`, a deployment
    * address) with `cpus` shuffle partitions. */
  def get(app: String, cpus: Int = Sessions.cpus,
          master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.sql.session.timeZone", "UTC")
      // µs (not INT96/ns) on disk: pyarrow then reads timestamp[us], the
      // same unit DuckDB produces, so timestamp cells hash identically.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // events.ts is TIMESTAMP(NANOS); set once at session build (a
      // per-read conf toggle is racy — see Tables.t).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // generated random map keys may collide; keep map building total
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The remaining WindowExec no-partition warnings all come from the
    // Doris-SQL surface queries whose TEXT says OVER () — semantics we
    // must execute as written over bounded aggregates. The structural
    // guard is PlanShapeSpec's funnel lint (allowlisted, stale entries
    // fail); silencing the logger keeps the stderr tail carrying real
    // signal.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
