package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Drift guard for the one session recipe: a session from [[Sessions]]
  * carries every setting, and no other source builds its own. */
class SessionsSpec extends SparkSpec {

  test("a Sessions session carries every setting of the recipe") {
    assert(spark.sparkContext.master === "local[4]")
    Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.mapKeyDedupPolicy" -> "LAST_WIN"
    ).foreach { case (k, v) => assert(spark.conf.get(k) === v, k) }
    assert(spark.sparkContext.uiWebUrl.isEmpty, "UI must be off")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    assert(wh.split('/').last.startsWith("graft_wh"), wh)
    import org.apache.logging.log4j.{Level, LogManager}
    assert(LogManager.getRootLogger.getLevel === Level.WARN)
    assert(LogManager.getLogger("org.apache.spark.sql.execution.window.WindowExec")
      .getLevel === Level.ERROR)
  }

  // Sessions.scala is the recipe; the two specs build their own session
  // because the builder.withExtensions install route is their subject.
  private val ownBuilder = Set(
    "src/main/scala/graft/Sessions.scala",
    "src/test/scala/graft/GraftExtensionsSpec.scala",
    "src/test/scala/graft/plans/RangeJoinRewriteSpec.scala")

  test("no source builds a SparkSession outside Sessions and the allow-list") {
    val builder = """SparkSession\s*\.\s*[Bb]uilder""".r
    val sources = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      Files.walk(Paths.get(root)).iterator().asScala.map(_.toString)
        .filter(_.endsWith(".scala"))
    }
    val offenders = sources.filterNot(ownBuilder)
      .filter(p => builder.findFirstIn(Files.readString(Paths.get(p))).isDefined)
    assert(offenders.isEmpty, s"build sessions through graft.Sessions.get: $offenders")
    assert(ownBuilder.subsetOf(sources.toSet), "stale allow-list entry")
  }
}
