package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import scala.jdk.CollectionConverters._

/** Plan + job/stage profiler for declared queries, the one probe entry
  * point: for each query named by a prefix, print its formatted physical
  * plan, then run it `reps` times (post-warmup) and print every Spark job
  * with its wall time and task count plus the driver-side GAP before it
  * started, so a regression can be pinned to "more jobs", "slower
  * stages", or "driver-side work between actions" instead of guessed at.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.ProfileQ q81 q126 [reps]
  * (a numeric argument sets reps, default 2). Each query warms up once at
  * the `sf0.001` directory next to the SF dir, when there is one, and
  * once at the SF dir itself; that second run is the plan printed.
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val (repArgs, prefixArgs) =
      args.partition(a => a.nonEmpty && a.forall(_.isDigit))
    val prefixes = if (prefixArgs.isEmpty) Seq("q81") else prefixArgs.toSeq
    val reps = repArgs.headOption.map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
    val spark = graft.Graft.localBuilder().getOrCreate()
    val catalog = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    val queries = prefixes.map(p => catalog.find(_._1.startsWith(p))
      .getOrElse(sys.error(s"no query with prefix $p")))

    case class Job(id: Int, start: Long, site: String,
                   var end: Long = 0L, var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        jobs.put(js.jobId, Job(js.jobId, js.time, site))
        js.stageIds.foreach(sid => stageToJob.put(sid, js.jobId))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val j = jobs.get(je.jobId); if (j != null) j.end = je.time
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val ti = te.taskInfo; val tm = te.taskMetrics
        val dur = (ti.finishTime - ti.launchTime) / 1e3
        if (dur > 1.0 && tm != null)
          println(f"  TASK stage=${te.stageId} dur=$dur%.3f runTime=${tm.executorRunTime / 1e3}%.3f " +
            f"cpuTime=${tm.executorCpuTime / 1e9}%.3f deserTime=${tm.executorDeserializeTime / 1e3}%.3f " +
            f"gcTime=${tm.jvmGCTime / 1e3}%.3f")
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val jid = stageToJob.getOrDefault(sc.stageInfo.stageId, -1)
        val j = jobs.get(jid)
        if (j != null) j.tasks += sc.stageInfo.numTasks
        val si = sc.stageInfo
        val dur = (for (a <- si.completionTime; b <- si.submissionTime)
          yield (a - b) / 1e3).getOrElse(-1.0)
        if (dur > 0.05)
          println(f"  STAGE ${si.stageId}%4d dur=$dur%7.3f tasks=${si.numTasks} ${si.name.take(110)}")
      }
    }
    def gcMillis: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

    for ((name, fn) <- queries) {
      println(s"==== $name ====")
      // warmup (JIT + model caches), not profiled
      if (warmDir.isDirectory) fn(spark, warmDir.getPath).count()
      val warm = fn(spark, sfDir)
      warm.explain("formatted")
      warm.count()
      spark.sparkContext.addSparkListener(listener)
      for (r <- 1 to reps) {
        jobs.clear(); stageToJob.clear()
        val gc0 = gcMillis
        val can0 = graft.BenchUtil.canary()
        val t0 = System.currentTimeMillis()
        val n = fn(spark, sfDir).count()
        val dt = (System.currentTimeMillis() - t0) / 1e3
        val ccache = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getName.contains("CodeHeap")).map(p =>
            f"${p.getName.replace("CodeHeap '", "").replace("'", "").replace(" ", "")}=${p.getUsage.getUsed / 1024 / 1024}MB/${p.getUsage.getMax / 1024 / 1024}MB")
          .mkString(" ")
        println(f"  rep=$r gcDelta=${(gcMillis - gc0) / 1e3}%.3f canaryBefore=$can0%.3f " +
          f"canaryAfter=${graft.BenchUtil.canary()}%.3f $ccache")
        Thread.sleep(500) // listener bus is async
        val js = jobs.values.asScala.toSeq.sortBy(_.start)
        var prevEnd = t0
        var jobTime = 0.0
        println(f"PROFILE $name rep=$r rows=$n wall=$dt%.3f jobs=${js.size}")
        js.foreach { j =>
          val gap = (j.start - prevEnd) / 1e3
          val dur = (j.end - j.start) / 1e3
          jobTime += dur
          if (dur > 0.1 || gap > 0.1)
            println(f"  job=${j.id}%4d gapBefore=$gap%7.3f dur=$dur%7.3f tasks=${j.tasks} site=${j.site}")
          prevEnd = math.max(prevEnd, j.end)
        }
        val lastEnd = if (js.nonEmpty) js.map(_.end).max else t0
        println(f"  tailAfterLastJob=${(t0 + (dt * 1000).toLong - lastEnd) / 1e3}%.3f sumJobDur=$jobTime%.3f")
      }
      spark.sparkContext.removeSparkListener(listener)
    }
    spark.stop()
  }
}
