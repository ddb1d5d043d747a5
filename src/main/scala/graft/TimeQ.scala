package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Solo-times named queries: warm run, `Broadcasts.release`, timed run,
  * release — so each number is a full cold-cache per-query cost. Prints
  * one line per query with the timed run's job structure:
  * `TIMEQ <name> <secs> s jobs=J stages=S tasks=T task_s=X`, where
  * stages counts the stages that ran (skipped ones never complete) and
  * task_s sums their executor run time.
  * `runMain graft.TimeQ <sfDir> <query> [query...]` */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Sessions.get("graft-timeq")
    Land.root = "/tmp/graft_timeq_land"
    // TimeQ is a TIMING surface (Bench's fresh-JVM re-timer and the ×10
    // scale probes): same gate mode as Bench so sf0.1 and sf1 numbers
    // are always comparable. SPARK_GRAFT_GATES=on restores gate-priced
    // timing (and propagates into Bench's forked TimeQ children).
    Gates.configureForTiming()

    val jobs, stages, tasks, taskMs = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(e.stageInfo.numTasks)
        taskMs.addAndGet(e.stageInfo.taskMetrics.executorRunTime)
      }
    })
    // Listener events arrive asynchronously; draining the bus before the
    // counters reset and before they are read attributes exactly the
    // timed run's jobs to it. (`listenerBus` is Spark-internal, hence
    // the reflective call.)
    def drain(): Unit = {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }

    for (name <- args.tail) {
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save() // warm
      // same per-query discipline as Bench: earlier queries' persisted
      // frames must not evict/spill against the timed one
      graft.operators.Broadcasts.release(spark)
      drain()
      Seq(jobs, stages, tasks, taskMs).foreach(_.set(0))
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      drain()
      println(f"TIMEQ $name $secs%.2f s jobs=${jobs.get} stages=${stages.get} " +
        f"tasks=${tasks.get} task_s=${taskMs.get / 1000.0}%.2f")
      graft.operators.Broadcasts.release(spark)
    }
    spark.stop()
  }
}
