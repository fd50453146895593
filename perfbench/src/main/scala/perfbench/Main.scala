package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One workload: makes its inputs from the generated tables, then runs
  * checked passes over them. */
trait Workload {
  def inputSize: Long
  def prepare(tables: String, work: String): Unit
  def pass(traced: Boolean): PassOutcome
}

/** One pass: its wall time, operations attempted and failed, what failed,
  * and (traced passes) the workload's own layer figures. */
final case class PassOutcome(wall: Double, attempted: Long, failed: Long,
                             problems: Seq[String], layers: Map[String, Double])

/** The benchmark process: starts one local Spark session, makes the
  * workload's inputs several times, runs one checked warm pass at target
  * scale, then runs timed passes for the given seconds and writes the
  * result as JSON. With tracing it alternates untraced and traced passes
  * and reports per-layer figures and the tracing overhead instead.
  *
  * Usage: `Main --workload W --seed N --seconds S --trace 0|1 --tables DIR
  * --work DIR --out FILE --trace-dir DIR --expected TSV --launch-ms EPOCH_MS
  * --before-s S`, where `--before-s` is the set-up time spent before the
  * JVM started; or `Main --record DIR --tables DIR --work DIR` to record
  * the catalog digests.
  */
object Main {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val prepareReps = 3
  /** Input size: QA samples, or catalog queries per pass. */
  val workloads: Map[String, Long] = Map(
    "rcrag_stub" -> 7785L, "rcrag_http" -> 300L, "catalog" -> Catalog.queries.size.toLong)
  /** Fewest timed passes in an untraced run: `rcrag_stub`'s pass times
    * spread most between runs (JIT keeps speeding its passes up for
    * several passes), so its median takes three. */
  val minPasses: Map[String, Int] = Map("rcrag_stub" -> 3).withDefaultValue(2)
  /** Fewest passes of each kind in a traced run. */
  val minTracedRunPasses = 2

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.isFile) f.length() else 0L

  /** Run `f` with its Spark jobs outside the current pass's totals. */
  def offPass[T](spark: SparkSession)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.pass", null)
    try f finally sc.setLocalProperty("perfbench.pass", Trace.pass.toString)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(opt("work")).getAbsolutePath
    val tables = opt("tables")
    if (opt.contains("record")) { record(opt("record"), tables, work); return }
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val spark = session(work)
    val startS = (System.currentTimeMillis() - opt("launch-ms").toLong) / 1000.0
    val server = if (name == "rcrag_http")
      Some(new Loopback(seed, latencyMs = 5, rejectShare = 0.02, threads = cores)) else None
    val size = workloads.getOrElse(name, throw new IllegalArgumentException(s"unknown workload $name"))
    val workload: Workload = name match {
      case "rcrag_stub" | "rcrag_http" => new Rcrag(spark, seed, size.toInt, server)
      case "catalog" => new Catalog(spark, seed, Catalog.queries, Catalog.readExpected(opt("expected")))
    }
    val problems = mutable.ArrayBuffer.empty[String]
    val sc = spark.sparkContext
    try {
      // set-up: the inputs, made several times (the median counts), then
      // one checked warm pass at target scale
      var dir = ""
      val prepares = (1 to prepareReps).map { k =>
        val t0 = System.nanoTime()
        if (dir.nonEmpty) deleteRecursively(new File(dir))
        dir = s"$work/input-$k"
        new File(dir).mkdirs()
        Trace.pass = -k
        sc.setLocalProperty("perfbench.pass", Trace.pass.toString)
        workload.prepare(tables, dir)
        (System.nanoTime() - t0) / 1e9
      }
      val tw = System.nanoTime()
      problems ++= workload.pass(traced = false).problems.map(p => s"warm pass: $p")
      val warmS = (System.nanoTime() - tw) / 1e9
      val setupS = opt("before-s").toDouble + startS + median(prepares) + warmS
      val modelStoreMb = dirBytes(new File(sys.env.getOrElse("SPARK_GRAFT_MODEL_DIR", ""))) / 1e6

      // timed passes; with tracing, untraced and traced passes go in
      // U T T U order, so neither kind gets all the early (warmer-up) passes
      val listeners = new Listeners
      val outcomes = mutable.ArrayBuffer.empty[(Boolean, PassOutcome, Map[String, Double])]
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      def count(t: Boolean) = outcomes.count(_._1 == t)
      var p = 0
      def short(t: Boolean) =
        if (traced) count(t) < minTracedRunPasses else !t && count(t) < minPasses(name)
      while (System.nanoTime() < deadline || short(false) || short(true)) {
        p += 1
        val tracedPass = traced && (p % 4 == 2 || p % 4 == 3)
        Trace.pass = p
        sc.setLocalProperty("perfbench.pass", p.toString)
        if (tracedPass) {
          org.apache.spark.PerfbenchBridge.drainListeners(sc)
          listeners.resetExecutions()
          sc.addSparkListener(listeners); spark.listenerManager.register(listeners)
          Trace.on = true; ModelMeter.spans = true
        }
        val out = Trace.span(spark, "pass", "pass") { workload.pass(tracedPass) }
        var layers = Map.empty[String, Double]
        if (tracedPass) {
          Trace.on = false; ModelMeter.spans = false
          org.apache.spark.PerfbenchBridge.drainListeners(sc)
          sc.removeSparkListener(listeners); spark.listenerManager.unregister(listeners)
          layers = out.layers ++ sparkLayers(listeners, p, out.wall)
        }
        problems ++= out.problems.map(x => s"pass $p: $x")
        outcomes += ((tracedPass, out, layers))
      }
      val plain = outcomes.filter(!_._1).map(_._2).toSeq
      val attempted = outcomes.map(_._2.attempted).sum
      val failed = outcomes.map(_._2.failed).sum
      val metrics: Seq[(String, Double, String)] =
        if (!traced) Seq(
          ("setup_s", setupS, "s"),
          ("wall_s", median(plain.map(_.wall)), "s"),
          ("peak_rss_mb", peakRssMb(), "MB"))
        else {
          val tracedOut = outcomes.filter(_._1)
          val keys = tracedOut.flatMap(_._3.keys).distinct
          val med = keys.map(k => k -> median(tracedOut.map(_._3.getOrElse(k, 0.0)).toSeq)).toMap
          val wallT = median(tracedOut.map(_._2.wall).toSeq)
          PerLayer.all.map { case (k, unit) =>
            val v = k match {
              case "ops.modelstore_mb" => modelStoreMb
              case "trace.overhead_s" => wallT - median(plain.map(_.wall))
              case "trace.traced_wall_s" => wallT
              case _ => med.getOrElse(k, 0.0)
            }
            (k, v, unit)
          }
        }
      if (traced) {
        val spansPath = s"${opt("trace-dir")}/$name-seed$seed.jsonl"
        Trace.write(spansPath, listeners.jobs.values.toSeq)
        System.err.println(s"[perfbench] spans written to $spansPath")
        val self = Trace.selfSeconds(Trace.all.filter(_.pass > 0))
        val nTraced = math.max(1, count(true))
        self.toSeq.sortBy(-_._2).foreach { case (layer, s) =>
          System.err.println(f"[perfbench] self time per traced pass  $layer%-10s ${s / nTraced}%9.3f s")
        }
      }
      val result = Json.obj(
        "correct" -> (problems.isEmpty && failed == 0),
        "attempted" -> attempted,
        "failed" -> failed,
        "metrics" -> Json.obj(metrics.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }: _*),
        "workload" -> name, "seed" -> seed, "input_size" -> workload.inputSize,
        "passes" -> outcomes.size, "pass_walls_s" -> outcomes.map(_._2.wall),
        "failed_share" -> failed.toDouble / math.max(1L, attempted),
        "prepare_reps_s" -> prepares, "warm_s" -> warmS, "problems" -> problems.take(20).toSeq)
      val w = new java.io.PrintWriter(opt("out"), "UTF-8")
      try w.println(Json.render(result)) finally w.close()
    } finally {
      server.foreach(_.stop())
      spark.stop()
    }
  }

  /** Spark runtime figures of one traced pass from the benchmark's
    * listener: jobs, stages and tasks, task and CPU seconds, GC, shuffle
    * and spill, and the driver gap (pass wall minus time with a job
    * running); plus the layer times named by the pass's spans. */
  private def sparkLayers(l: Listeners, pass: Int, wall: Double): Map[String, Double] = {
    val t = l.totals.getOrElse(pass, new SparkTotals)
    val spans = Trace.all.filter(_.pass == pass)
    val byId = spans.map(s => s.id -> s).toMap
    def spanOf(j: JobRecord) = j.span.takeWhile(_ != ':').toLongOption.flatMap(byId.get)
    val jobs = l.jobs.values.toSeq.filter(j => spanOf(j).nonEmpty || j.pass == pass)
    def secs(prefix: String) = spans.filter(_.name.startsWith(prefix)).map(_.seconds).sum
    def jobsIn(prefix: String) = jobs.count(j => spanOf(j).exists(_.name.startsWith(prefix))).toDouble
    val exec = l.jobUnionSeconds(pass)
    val busy = t.runMs / 1000.0
    Map(
      "pipeline.annotate_s" -> secs("annotate"), "pipeline.counterfactual_s" -> secs("counterfactual"),
      "pipeline.sink_s" -> secs("sink"), "pipeline.eval_s" -> secs("eval"),
      "exprs.parse_s" -> secs("exprs.parse"), "exprs.score_s" -> secs("exprs.score"),
      "rel.build_s" -> secs("build:"), "rel.build_jobs" -> jobsIn("build:"),
      "rel.tables_load_s" -> secs("load:"), "rel.tables_load_jobs" -> jobsIn("load:"),
      "spark.plan_s" -> secs("plan:"),
      "plans.executions" -> l.executions.toDouble, "plans.tracker_s" -> l.planningMs / 1000.0,
      "spark.exec_s" -> exec,
      "spark.jobs" -> l.jobsOf(pass).size.toDouble,
      "spark.stages" -> t.stages.toDouble, "spark.tasks" -> t.tasks.toDouble,
      "spark.driver_gap_s" -> (wall - exec),
      "spark.task_busy_s" -> busy, "spark.cpu_s" -> t.cpuNs / 1e9,
      "spark.slot_util" -> busy / (wall * cores),
      "spark.gc_s" -> t.gcMs / 1000.0,
      "spark.shuffle_read_mb" -> t.shuffleRead / 1e6, "spark.shuffle_write_mb" -> t.shuffleWrite / 1e6,
      "spark.spill_mb" -> t.spill / 1e6) ++
      Trace.selfSeconds(spans).map { case (layer, s) => s"self.${layer}_s" -> s }
  }

  /** Record the catalog digests on the generated tables. */
  private def record(outDir: String, tables: String, work: String): Unit = {
    val spark = session(work)
    try {
      val names = Catalog.queries
      new File(outDir).mkdirs()
      Catalog.record(spark, tables, names, s"$outDir/catalog.tsv", s"$outDir/results")
      val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k.takeWhile(_ != '_')) }
      val w = new java.io.PrintWriter(s"$outDir/oracle_sql.json", "UTF-8")
      try w.println(Json.render(Json.obj(oracles.toSeq.map { case (k, v) => k -> v }: _*)))
      finally w.close()
    } finally spark.stop()
  }
}

/** The per-layer metrics a traced run reports, with units. */
object PerLayer {
  val all: Seq[(String, String)] = Seq(
    "pipeline.annotate_s" -> "s", "pipeline.counterfactual_s" -> "s", "pipeline.sink_s" -> "s",
    "pipeline.sink_mb" -> "MB", "pipeline.eval_s" -> "s",
    "pipeline.model.calls" -> "count", "pipeline.model.batches" -> "count",
    "pipeline.model.busy_s" -> "s", "pipeline.model.inflight_max" -> "count",
    "pipeline.model.inflight_mean" -> "count", "pipeline.model.calls_per_s" -> "1/s",
    "pipeline.model.retries" -> "count", "pipeline.model.useful_ratio" -> "ratio",
    "pipeline.model.server_p50_ms" -> "ms", "pipeline.model.server_p99_ms" -> "ms",
    "exprs.parse_s" -> "s", "exprs.score_s" -> "s",
    "rel.build_s" -> "s", "rel.build_jobs" -> "count",
    "rel.tables_load_s" -> "s", "rel.tables_load_jobs" -> "count",
    "ops.modelstore_mb" -> "MB",
    "spark.plan_s" -> "s", "plans.executions" -> "count", "plans.tracker_s" -> "s",
    "spark.exec_s" -> "s", "spark.jobs" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count", "spark.driver_gap_s" -> "s",
    "spark.task_busy_s" -> "s", "spark.cpu_s" -> "s", "spark.slot_util" -> "ratio",
    "spark.gc_s" -> "s", "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "self.pass_s" -> "s", "self.pipeline_s" -> "s", "self.rel_s" -> "s", "self.plans_s" -> "s",
    "self.spark_s" -> "s", "self.exprs_s" -> "s", "self.model_s" -> "s",
    "trace.traced_wall_s" -> "s", "trace.overhead_s" -> "s")
}

/** Minimal JSON rendering for the result file. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def render(v: Any): String = v match {
    case Obj(fs) => fs.map { case (k, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case null => "null"
    case x => str(x.toString)
  }
}
