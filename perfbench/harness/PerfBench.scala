package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` writes a properties file and
  * starts one JVM per mode:
  *
  *  - `setup`:  build the session, report process-start → ready, exit.
  *  - `run`:    cold pass, `warm_passes` warm passes, then the output
  *              check pass (results written as parquet for `run.py` to
  *              digest). With `trace=1` every other warm pass runs with
  *              [[Tracer]]'s listeners and the kernel microbench
  *              ([[Kernels]]) runs after the passes.
  *  - `golden`: one check pass plus the oracle SQL map, for `golden.py`.
  *
  * The program is driven only through its public entry points:
  * `SparkEntry.queries(name)(spark, dir)`, a noop-format write that
  * materialises the result, and `Broadcasts.release` between queries.
  * Gates are left in their default (on) state. */
object PerfBench {

  final case class Sample(query: String, pass: Int, startMs: Double,
                          buildEndMs: Double, endMs: Double, error: Option[String]) {
    def wallMs: Double = endMs - startMs
  }

  /** Epoch milliseconds with sub-ms resolution, on the same clock as
    * Spark's listener event times. */
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try props.load(in) finally in.close()
    def conf(k: String): String = Option(props.getProperty(k))
      .getOrElse(throw new IllegalArgumentException(s"missing setting '$k'"))

    val scratch = Paths.get(conf("scratch")).toAbsolutePath
    // Must precede the first touch of any query module: some capture the
    // landing root in an object-level val at initialisation.
    graft.Land.root = scratch.resolve("land").toString
    val cpus = conf("cpus").toInt
    val settings = sessionSettings(cpus, scratch)
    val builder = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
    settings.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val out = ArrayBuffer[(String, Any)](
      "setup_s" -> setupS,
      "settings" -> settings.toMap,
      "gates" -> (if (graft.Gates.enabled) "on" else "off"),
      "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1L << 20))

    conf("mode") match {
      case "setup" =>
      case "golden" =>
        out += "check_errors" -> checkPass(spark, conf("sf_dir"),
          conf("queries").split(",").toSeq, Paths.get(conf("check_dir")))
        out += "oracle_sql" -> graft.SparkEntry.oracleSql
      case "run" =>
        out ++= runWorkload(spark, cpus, conf("sf_dir"),
          conf("queries").split(",").toSeq, conf("seed").toLong,
          conf("warm_passes").toInt, conf("trace") == "1",
          Paths.get(conf("check_dir")), Paths.get(conf("trace_file")))
    }
    spark.stop()
    out += "peak_rss_mb" -> peakRssMb()
    Files.writeString(Paths.get(conf("out")), Json(out.toSeq))
  }

  /** Session settings, copied from `graft.Verify` (the graded
    * correctness surface). Only the scratch locations and the loopback
    * driver address differ, so that nothing is written outside the
    * benchmark's own directory. */
  def sessionSettings(cpus: Int, scratch: Path): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.warehouse.dir" -> scratch.resolve("warehouse").toString,
    "spark.local.dir" -> scratch.resolve("spark-local").toString,
    "spark.hadoop.hadoop.tmp.dir" -> scratch.resolve("tmp").toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.mapKeyDedupPolicy" -> "LAST_WIN",
    "spark.ui.enabled" -> "false",
    "spark.driver.host" -> "127.0.0.1",
    "spark.driver.bindAddress" -> "127.0.0.1")

  private def runWorkload(spark: SparkSession, cpus: Int, sfDir: String,
                          queries: Seq[String], seed: Long, warmPasses: Int,
                          trace: Boolean, checkDir: Path,
                          traceFile: Path): Seq[(String, Any)] = {
    val registry = graft.SparkEntry.queries
    val samples = ArrayBuffer[Sample]()
    val passWalls = ArrayBuffer[(Int, Boolean, Double)]() // (pass, traced, ms)

    def runQuery(name: String, pass: Int, tracer: Option[Tracer]): Sample = {
      val t0 = nowMs()
      var tb = t0
      val err = try {
        tracer.foreach(_.enter(name, pass, "build"))
        val df = registry(name)(spark, sfDir)
        tb = nowMs()
        tracer.foreach { t => t.built(df); t.enter(name, pass, "exec") }
        df.write.format("noop").mode("overwrite").save()
        None
      } catch {
        case e: Throwable =>
          Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500))
      } finally tracer.foreach(_.leave())
      val t1 = nowMs()
      if (tb == t0) tb = t1
      graft.operators.Broadcasts.release(spark)
      Sample(name, pass, t0, tb, t1, err)
    }

    val traced = scala.collection.mutable.Set[Int]()
    def runPass(pass: Int, tracer: Option[Tracer]): Unit = {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
      tracer.foreach { t => t.attach(); traced += pass }
      val t0 = nowMs()
      order.foreach(q => samples += runQuery(q, pass, tracer))
      passWalls += ((pass, tracer.isDefined, nowMs() - t0))
      tracer.foreach(_.detach())
    }

    val codegen0 = Tracer.codegenSnapshot()
    runPass(0, None)
    val codegen1 = Tracer.codegenSnapshot()

    // A fixed number of warm passes, so that every run of a workload has
    // the same structure (the JIT keeps warming for several passes; a
    // time box would give faster code more, warmer passes). A traced run
    // alternates traced and untraced passes, traced first, so that the
    // tracing overhead is measured within one run.
    val tracer = if (trace) Some(new Tracer(spark, cpus)) else None
    (1 to warmPasses).foreach(p => runPass(p, tracer.filter(_ => p % 2 == 1)))
    val traceOut = ArrayBuffer[(String, Any)]()
    tracer.foreach { t =>
      val kernels = Kernels.run(seed)
      traceOut ++= t.report(samples.filter(s => traced(s.pass)).toSeq, traced.size, traceFile)
      traceOut += "codegen" -> Tracer.codegenDelta(codegen0, codegen1)
      traceOut += "kernels" -> kernels
    }

    val checkErrors = checkPass(spark, sfDir, queries, checkDir)
    Seq(
      "samples" -> samples.map(s => Map(
        "query" -> s.query, "pass" -> s.pass, "ms" -> s.wallMs,
        "build_ms" -> (s.buildEndMs - s.startMs), "error" -> s.error.orNull)).toSeq,
      "passes" -> passWalls.map { case (p, t, ms) =>
        Map("pass" -> p, "traced" -> t, "ms" -> ms) }.toSeq,
      "check_errors" -> checkErrors,
      "landed_bytes" -> treeBytes(Paths.get(graft.Land.root)),
      "trace" -> traceOut.toSeq)
  }

  /** Untimed: each query once more, result written as a single parquet
    * file per query (as `graft.Verify` writes it) for digesting. */
  def checkPass(spark: SparkSession, sfDir: String, queries: Seq[String],
                checkDir: Path): Map[String, String] = {
    val registry = graft.SparkEntry.queries
    queries.sorted.flatMap { name =>
      val err = try {
        registry(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(checkDir.resolve(name).toString)
        None
      } catch {
        case e: Throwable =>
          Some(name -> s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500))
      }
      graft.operators.Broadcasts.release(spark)
      err
    }.toMap
  }

  def treeBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** VmHWM of this process: the resident-set high-water mark. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans, null). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
      kv.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
