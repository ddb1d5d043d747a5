package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's observer. It registers its own listeners (a
  * `SparkListener` for jobs, stages, tasks and cached blocks, and a
  * `QueryExecutionListener` for Catalyst's phase tracker) and tags every
  * job with the query and phase that started it through a local
  * property. Nothing inside the program is instrumented.
  *
  * Spans: query → {build, exec} → job → stage. Each span's self time is
  * its duration minus what its children cover. Children are clipped to
  * their parent and an overlap between siblings is credited to the
  * earlier-started one, so the self times of a query's spans partition
  * its wall time exactly (checked for every query). The job and stage
  * time that clipping drops is reported as `trace.clipped_ms`; its part
  * outside the parent span, `trace.outside_parent_ms`, shows a job tagged
  * to a query but running outside that query's build or exec window
  * (the rest is stages or jobs running side by side). */
final class Tracer(spark: SparkSession, cpus: Int) {
  import Tracer._

  private final class JobRec(val id: Int, val start: Long, val span: String,
                             val stageIds: Seq[Int]) {
    @volatile var end: Long = -1L
    val agg = new Agg
  }
  private final class StageRec(val id: Int, val job: Int, val submit: Long) {
    @volatile var end: Long = -1L
  }
  private final class Agg {
    var tasks, failed, runMs, cpuNs, gcMs = 0L
    var shRead, shWrite, spill, input, output = 0L
  }
  private final case class Plan(startMs: Long, analysis: Long, optimization: Long, planning: Long,
                                executed: Boolean)

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[Plan]()
  private val blocks = new java.util.HashMap[String, Long]()
  @volatile private var cached = 0L
  @volatile private var cachedPeak = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      span.foreach { s =>
        jobs.put(e.jobId, new JobRec(e.jobId, e.time, s, e.stageIds))
        e.stageIds.foreach(stageJob.put(_, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val si = e.stageInfo
      Option(stageJob.get(si.stageId)).filter(jobs.containsKey).foreach { j =>
        stages.put((si.stageId, si.attemptNumber()),
          new StageRec(si.stageId, j, si.submissionTime.getOrElse(System.currentTimeMillis())))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(stages.get((si.stageId, si.attemptNumber())))
        .foreach(_.end = si.completionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        val a = j.agg
        a.synchronized {
          a.tasks += 1
          if (!e.taskInfo.successful) a.failed += 1
          val m = e.taskMetrics
          if (m != null) {
            a.runMs += m.executorRunTime
            a.cpuNs += m.executorCpuTime
            a.gcMs += m.jvmGCTime
            a.shRead += m.shuffleReadMetrics.totalBytesRead
            a.shWrite += m.shuffleWriteMetrics.bytesWritten
            a.spill += m.diskBytesSpilled
            a.input += m.inputMetrics.bytesRead
            a.output += m.outputMetrics.bytesWritten
          }
        }
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) blocks.synchronized {
        val size = b.memSize + b.diskSize
        val old = Option(blocks.put(b.blockId.name, size)).getOrElse(0L)
        cached += size - old
        if (cached > cachedPeak) cachedPeak = cached
      }
    }
    // Unpersist drops the blocks without a block update per block.
    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = blocks.synchronized {
      val prefix = s"rdd_${e.rddId}_"
      val it = blocks.entrySet.iterator
      while (it.hasNext) {
        val b = it.next()
        if (b.getKey.startsWith(prefix)) { cached -= b.getValue; it.remove() }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = addPlan(qe, executed = true)
  }

  private def addPlan(qe: QueryExecution, executed: Boolean): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    if (ph.nonEmpty)
      plans.add(Plan(ph.values.map(_.startTimeMs).min, ms("analysis"), ms("optimization"),
        ms("planning"), executed))
  }

  /** A query's result DataFrame is analysed when the query body builds
    * it, but only the write command that materialises it executes; its
    * analysis time is read from its own tracker. */
  def built(df: DataFrame): Unit = addPlan(df.queryExecution, executed = false)

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Tag the jobs the calling thread starts from now on. */
  def enter(query: String, pass: Int, phase: String): Unit =
    spark.sparkContext.setLocalProperty(SpanKey, s"$pass|$query|$phase")

  def leave(): Unit = spark.sparkContext.setLocalProperty(SpanKey, null)

  /** Wait until every queued listener event is delivered, then detach. */
  def detach(): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Layer metrics per traced warm pass, plus the span file. */
  def report(samples: Seq[PerfBench.Sample], passes: Int, traceFile: Path): Seq[(String, Any)] = {
    val js = jobs.values.asScala.toSeq.filter(_.end >= 0).sortBy(_.start)
    val jobsOf = js.groupBy(j => j.span.split('|').take(2).mkString("|"))
    val stagesOf = stages.values.asScala.toSeq.filter(_.end >= 0).groupBy(_.job)

    val spans = ArrayBuffer[Map[String, Any]]()
    var nextId = 0
    var clipped, outside = 0.0
    var driverSelf = 0.0
    samples.foreach { s =>
      val key = s"${s.pass}|${s.query}"
      val qId = nextId
      val bId = qId + 1
      val eId = qId + 2
      nextId += 3
      val queryJobs = jobsOf.getOrElse(key, Nil)
      val nodes = ArrayBuffer[Node]()
      val root = Node(qId, -1, "query", s.query, s.startMs, s.endMs)
      val build = Node(bId, qId, "build", s.query, s.startMs, s.buildEndMs)
      val exec = Node(eId, qId, "exec", s.query, s.buildEndMs, s.endMs)
      nodes ++= Seq(root, build, exec)
      queryJobs.foreach { j =>
        val parent = if (j.span.endsWith("|build")) bId else eId
        val jn = Node(nextId, parent, "job", s"job ${j.id}", j.start.toDouble, j.end.toDouble)
        nextId += 1
        nodes += jn
        stagesOf.getOrElse(j.id, Nil).sortBy(_.submit).foreach { st =>
          nodes += Node(nextId, jn.id, "stage", s"stage ${st.id}", st.submit.toDouble, st.end.toDouble)
          nextId += 1
        }
      }
      val own = selfTimes(nodes.toSeq)
      val gap = own.values.map(_.self).sum - s.wallMs
      if (math.abs(gap) > 1e-3)
        throw new IllegalStateException(s"span self times of ${s.query} pass ${s.pass} miss its wall time by $gap ms")
      val byId = nodes.map(n => n.id -> n).toMap
      nodes.filter(n => n.kind == "job" || n.kind == "stage").foreach { n =>
        val p = byId(n.parent)
        clipped += (n.end - n.start) - own(n.id).share
        outside += (n.end - n.start) - measure(intersect((n.start, n.end), (p.start, p.end)).toSeq)
      }
      val jobCover = measure(union(queryJobs.map(j => (j.start.toDouble, j.end.toDouble)))
        .flatMap(iv => intersect(iv, (s.startMs, s.endMs))))
      driverSelf += s.wallMs - jobCover
      nodes.foreach { n =>
        spans += Map("id" -> n.id, "parent" -> n.parent, "kind" -> n.kind, "name" -> n.name,
          "query" -> s.query, "pass" -> s.pass, "start_ms" -> n.start, "end_ms" -> n.end,
          "self_ms" -> own(n.id).self)
      }
    }
    Files.writeString(traceFile, Json(Map("spans" -> spans.toSeq)))

    val windows = samples.map(s => (s.startMs, s.endMs))
    val ps = plans.asScala.toSeq.filter(p => windows.exists { case (a, b) => p.startMs >= a - 1 && p.startMs <= b + 1 })
    val aggs = js.map(_.agg)
    def sum(f: Agg => Long): Double = aggs.map(f).sum.toDouble
    val busy = measure(union(js.map(j => (j.start.toDouble, j.end.toDouble))))
    val runMs = sum(_.runMs)
    val mb = 1024.0 * 1024.0
    val n = math.max(passes, 1).toDouble
    val submitted = stages.values.asScala.map(_.id).toSet
    val declared = js.flatMap(_.stageIds).toSet
    Seq(
      "queries.build_ms" -> samples.map(s => s.buildEndMs - s.startMs).sum / n,
      "queries.build_jobs" -> js.count(_.span.endsWith("|build")) / n,
      "queries.exec_ms" -> samples.map(s => s.endMs - s.buildEndMs).sum / n,
      "driver.self_ms" -> driverSelf / n,
      "plan.executions" -> ps.count(_.executed) / n,
      "plan.analysis_ms" -> ps.map(_.analysis).sum / n,
      "plan.optimization_ms" -> ps.map(_.optimization).sum / n,
      "plan.planning_ms" -> ps.map(_.planning).sum / n,
      "jobs.count" -> js.size / n,
      "stages.count" -> stages.size / n,
      "stages.skipped" -> (declared -- submitted).size / n,
      "tasks.count" -> sum(_.tasks) / n,
      "jobs.busy_ms" -> busy / n,
      "exec.run_ms" -> runMs / n,
      "exec.cpu_ms" -> sum(_.cpuNs) / 1e6 / n,
      "exec.gc_ms" -> sum(_.gcMs) / n,
      "exec.parallel_eff" -> (if (busy > 0) runMs / (busy * cpus) else 0.0),
      "shuffle.read_mb" -> sum(_.shRead) / mb / n,
      "shuffle.write_mb" -> sum(_.shWrite) / mb / n,
      "spill.disk_mb" -> sum(_.spill) / mb / n,
      "io.input_mb" -> sum(_.input) / mb / n,
      "io.output_mb" -> sum(_.output) / mb / n,
      "cache.peak_mb" -> cachedPeak / mb,
      "tasks.failed" -> sum(_.failed) / n,
      "trace.clipped_ms" -> clipped / n,
      "trace.outside_parent_ms" -> outside / n,
      "spans" -> spans.size)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Node(id: Int, parent: Int, kind: String, name: String, start: Double, end: Double)
  /** The part of its parent's time a node was given, and what of it no
    * child took. */
  final case class Owned(share: Double, self: Double)

  type Iv = (Double, Double)

  def union(ivs: Seq[Iv]): Seq[Iv] =
    ivs.filter(iv => iv._2 > iv._1).sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  def intersect(iv: Iv, w: Iv): Option[Iv] = {
    val a = math.max(iv._1, w._1); val b = math.min(iv._2, w._2)
    if (b > a) Some((a, b)) else None
  }

  def measure(ivs: Seq[Iv]): Double = ivs.map(iv => iv._2 - iv._1).sum

  /** `set` minus `cut`, both sorted disjoint interval lists. */
  def minus(set: Seq[Iv], cut: Seq[Iv]): Seq[Iv] =
    set.flatMap { iv =>
      cut.foldLeft(Seq(iv)) { (pieces, c) =>
        pieces.flatMap { case (a, b) =>
          Seq((a, math.min(b, c._1)), (math.max(a, c._2), b)).filter(p => p._2 > p._1)
        }
      }
    }

  /** Self time of every node in one tree (`parent == -1` is the root):
    * a node owns the part of its parent's share that no earlier-started
    * sibling took, and keeps what none of its children take. */
  def selfTimes(nodes: Seq[Node]): Map[Int, Owned] = {
    val kids = nodes.groupBy(_.parent)
    val out = scala.collection.mutable.Map[Int, Owned]()
    def walk(n: Node, share: Seq[Iv]): Unit = {
      var left = share
      kids.getOrElse(n.id, Nil).sortBy(k => (k.start, k.id)).foreach { k =>
        val got = left.flatMap(intersect(_, (k.start, k.end)))
        left = minus(left, got)
        walk(k, got)
      }
      out(n.id) = Owned(measure(share), measure(left))
    }
    nodes.filter(_.parent == -1).foreach(r => walk(r, Seq((r.start, r.end))))
    out.toMap
  }

  /** (compilations, estimated total compile ms) from Spark's codegen
    * histogram; the total is mean × count of its sample reservoir. */
  def codegenSnapshot(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount)
  }

  def codegenDelta(a: (Long, Double), b: (Long, Double)): Map[String, Double] = Map(
    "codegen.classes" -> (b._1 - a._1).toDouble,
    "codegen.compile_ms" -> (b._2 - a._2))
}
