package graft

/** Dev measurement probe (guide §1): time selected declared queries with
  * per-query Spark job/stage/task counts, under optional session-conf
  * overrides, so an optimization's effect on scheduling overhead is
  * visible as a count delta, not just a wall-clock delta.
  *
  * Usage:
  *   tools/run_class.sh graft.DebugProbe [-c key=value ...] q1 q2 ...
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32).
  * Not part of the suite; prints one line per query:
  *   name sec=<best-of-2> jobs=<n> stages=<n> tasks=<n>  (counts: 2nd run)
  */
object DebugProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val (confArgs, names) = {
      var confs = List.empty[(String, String)]
      var qs = List.empty[String]
      var i = 0
      while (i < args.length) {
        if (args(i) == "-c" && i + 1 < args.length) {
          val kv = args(i + 1).split("=", 2)
          confs ::= (kv(0) -> kv(1)); i += 2
        } else { qs ::= args(i); i += 1 }
      }
      (confs.reverse, qs.reverse)
    }
    val spark = confArgs.foldLeft(GraftSession.builder(cpus)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    // task-metric decomposition: where does taskMs actually go?
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val deserMs = new java.util.concurrent.atomic.AtomicLong
    val gcTaskMs = new java.util.concurrent.atomic.AtomicLong
    val fetchMs = new java.util.concurrent.atomic.AtomicLong
    val resSerMs = new java.util.concurrent.atomic.AtomicLong
    // per-stage rows (id, name, tasks, runMs) for slow-stage attribution
    val stageRows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Int, Long)]
    val stageDump = sys.env.get("PROBE_STAGES").exists(_.nonEmpty)
    // busy interval union support: track job windows to estimate driver-only
    // gaps (wall time with NO job running = planning/codegen/driver work)
    val jobWindows = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        jobWindows.put(j.jobId, (j.time, Long.MaxValue)); ()
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val w = jobWindows.get(j.jobId)
        if (w != null) jobWindows.put(j.jobId, (w._1, j.time)); ()
      }
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val si = s.stageInfo
        stageRows.add((si.stageId, si.name.takeWhile(_ != '\n').take(60),
          si.numTasks, si.taskMetrics.executorRunTime)); ()
      }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
        val m = t.taskMetrics
        if (m != null) {
          runMs.addAndGet(m.executorRunTime)
          deserMs.addAndGet(m.executorDeserializeTime)
          gcTaskMs.addAndGet(m.jvmGCTime)
          fetchMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
          resSerMs.addAndGet(m.resultSerializationTime)
        }
        ()
      }
    })
    // same prewarm as Bench so shared stored frames aren't charged here
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      SparkEntry.queries.get("knn_top13").foreach(f => f(spark, sfDir).count())
      graft.queries.RelationalQueries.prewarmShared(spark, sfDir)
    } catch { case e: Throwable => System.err.println(s"[probe] prewarm failed: ${e.getMessage}") }
    for (n <- names) SparkEntry.queries.get(n) match {
      case None => println(s"$n UNKNOWN")
      case Some(fn) =>
        def once(): Double = {
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
        try {
          val a = once()
          // count scheduling activity on the second (steady-state) run
          val j0 = jobs.get(); val s0 = stages.get(); val t0 = tasks.get()
          val tm0 = taskMs.get()
          val rm0 = runMs.get(); val dm0 = deserMs.get(); val gm0 = gcTaskMs.get()
          val fm0 = fetchMs.get(); val rs0 = resSerMs.get()
          stageRows.clear()
          jobWindows.clear()
          val w0 = System.currentTimeMillis()
          val bs = once()
          val w1 = System.currentTimeMillis()
          // listener posts are async; give the bus a moment to drain
          Thread.sleep(300)
          // union of job windows clipped to [w0, w1]: wall time covered by
          // at least one running job; the remainder is driver-only time
          import scala.jdk.CollectionConverters._
          val ws = jobWindows.values.asScala.toSeq
            .map { case (s, e) => (math.max(s, w0), math.min(if (e == Long.MaxValue) w1 else e, w1)) }
            .filter(w => w._2 > w._1).sortBy(_._1)
          var covered = 0L; var cur = w0
          for ((s, e) <- ws) {
            if (s > cur) cur = s
            if (e > cur) { covered += e - cur; cur = e }
          }
          val driverMs = (w1 - w0) - covered
          val sec = math.min(a, bs)
          println(f"$n sec=$sec%.3f run2=$bs%.3f jobs=${jobs.get - j0} " +
            s"stages=${stages.get - s0} tasks=${tasks.get - t0} " +
            s"taskMs=${taskMs.get - tm0} driverGapMs=$driverMs " +
            s"runMs=${runMs.get - rm0} deserMs=${deserMs.get - dm0} " +
            s"gcMs=${gcTaskMs.get - gm0} fetchMs=${fetchMs.get - fm0} " +
            s"resSerMs=${resSerMs.get - rs0}")
          if (stageDump) {
            import scala.jdk.CollectionConverters._
            stageRows.asScala.toSeq.sortBy(-_._4).take(10).foreach {
              case (id, nm, nt, rm) =>
                println(s"    stage $id tasks=$nt runMs=$rm  $nm")
            }
          }
        } catch { case e: Throwable => println(s"$n FAILED: ${e.getMessage}") }
        spark.catalog.clearCache()
        System.gc()
    }
    spark.stop()
  }
}
