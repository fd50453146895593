package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. Prints ONE final JSON line with per-query medians.
  *
  * Observability contract (the driver captures only the TAIL of stdout):
  *   - each query also gets its own `BENCHQ {...}` line as it finishes, so
  *     a crash mid-suite still leaves every completed timing in the log;
  *   - the final JSON line is compact (3-decimal seconds) and places
  *     `"metric":"total","value":N` at the END of the object, so even a
  *     head-truncated capture keeps the headline total;
  *   - a failing query never records time-to-exception as a sample: it is
  *     reported in `"errors"` and its median is -1.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.localBuilder()
      // the njobs ledger below reads per-group job counts from the status
      // store after the whole suite has run; the default retention (1000
      // jobs) would evict the early groups under 167 queries x reps
      .config("spark.ui.retainedJobs", "20000")
      .getOrCreate()
    // Warmup pass at the smallest SF: JIT + codegen + classloading for
    // every plan shape, so the timed pass measures the queries rather
    // than charging one arbitrary first query with JVM warmup.
    val warmupDir = "/root/testdata/sf0.001"
    // SPARK_GRAFT_ONLY=q81,q75 restricts the suite (and its warmup) to the
    // named qNN prefixes — the A/B and profiling path; unset = full suite
    // (the driver's mode).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(o => o.contains(n.takeWhile(_ != '_'))) }
    // SPARK_GRAFT_WARMUP=0 disables (attribution experiments: simulate a
    // cold suite head on purpose)
    if (sys.env.get("SPARK_GRAFT_WARMUP").forall(_ != "0") &&
        new java.io.File(warmupDir).isDirectory && warmupDir != sfDir)
      names.foreach { case (_, fn) =>
        try fn(spark, warmupDir).count() catch { case _: Throwable => () }
      }
    // Discarded sf-target head-warm pass (round-11 verdict item 2): the
    // sf0.001 warmup warms plan shapes but NOT the sf0.1-sized AQE/
    // scheduler path, so on a contended box the first fixed-order queries
    // (q02/q03/q04) inherited suite-start warm-up as their own time. Run
    // the first N queries once at the TARGET SF and discard the times
    // from the medians — but record them in the artifact: they are
    // first-touch-at-suite-head samples, exactly the attribution data
    // the r11 trio lacked. SPARK_GRAFT_HEAD_WARM=0 disables; it also
    // defaults OFF when SPARK_GRAFT_WARMUP=0 — that knob's documented
    // purpose is "simulate a cold suite head", which a default head-warm
    // pass would silently defeat (set HEAD_WARM explicitly to combine).
    val headWarmN = sys.env.get("SPARK_GRAFT_HEAD_WARM")
      .flatMap(_.toIntOption)
      .getOrElse(if (sys.env.get("SPARK_GRAFT_WARMUP").contains("0")) 0 else 5)
    val headWarm = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    names.take(math.max(0, headWarmN)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        headWarm(name) = (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => () }
    }
    // toIntOption: a malformed env value falls back to the default
    // instead of aborting the whole bench before any query runs
    val reps = math.max(1,
      sys.env.get("SPARK_GRAFT_REPS").flatMap(_.toIntOption).getOrElse(3))
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    val errors = scala.collection.mutable.Map.empty[String, String]
    def runOnce(name: String,
                fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        samples(name) = dt :: samples.getOrElse(name, Nil)
      } catch {
        case e: Throwable =>
          // record the failure, NOT the time-to-exception: a crashing
          // query must not masquerade as a plausible fast median.
          // Sanitize to printable ASCII minus quote/backslash BEFORE it is
          // ever interpolated into JSON (stdout line AND the artifact
          // file): any control char or escape-needing char would make
          // bench_latest.json unparseable — the exact failure the file
          // exists to prevent.
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\]", " ")
            .replaceAll("[^\\x20-\\x7e]", " ").take(160)
      }
    }
    // Canary timed at start AND end of the suite and recorded in the
    // final JSON so cross-round comparisons can separate environment
    // drift from code regressions (round 8's 1.75x shared-query jump was
    // partly machine noise with no control to prove it). ONE shared
    // definition (BenchUtil) across every tool that records it.
    def canary(): Double = BenchUtil.canary()
    val canaryStart = canary()
    // n repetitions, median per query: an n=1 timing cannot distinguish a
    // real regression from shuffle/GC jitter at sub-second magnitudes.
    // Repetitions iterate OVER the whole suite (rep-major), not per query,
    // so one rep's GC pause cannot inflate all 3 samples of one query.
    for (_ <- 1 to reps; (name, fn) <- names) runOnce(name, fn)
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // Stabilization phase: sub-second queries are the ones whose 3-rep
    // medians showed 9x-100x cross-run swings on identical binaries
    // (page cache / GC / JIT jitter dominates at that magnitude). Give
    // them extra samples under a global time budget so the median is
    // taken over >=7 observations; the budget caps worst-case cost.
    val extraBudgetSec =
      sys.env.get("SPARK_GRAFT_EXTRA_BUDGET").flatMap(_.toDoubleOption).getOrElse(60.0)
    val stabilizeBelow = 1.0
    var budget = extraBudgetSec
    val want = 7
    for (round <- (reps + 1) to want; (name, fn) <- names) {
      val xs = samples.getOrElse(name, Nil)
      if (budget > 0 && xs.nonEmpty && xs.size < want && median(xs) < stabilizeBelow
          && !errors.contains(name)) {
        val t0 = System.nanoTime()
        runOnce(name, fn)
        budget -= (System.nanoTime() - t0) / 1e9
      }
    }
    def r3(v: Double): String = BenchUtil.r3(v)
    val results = names.map { case (name, _) =>
      val xs = samples.getOrElse(name, Nil)
      name -> (if (xs.isEmpty) -1.0 else median(xs))
    }
    def short(name: String): String = name.takeWhile(_ != '_')
    // Shuffled-order rep (round-10 verdict item 3): the fixed
    // lexicographic run order cannot distinguish "qN is slow" from
    // "whatever runs in qN's slot inherits a contention window or a
    // neighbor's page-cache/GC state" — r10's q105/q106/q108 trio is
    // adjacent in run order, exactly the signature this check exists to
    // split. One extra rep over the whole suite in a SEEDED-shuffled
    // order records an order-check sample per query; a query whose
    // shuffled time moves >1.5x vs its fixed-order median (and >0.1 s
    // absolute, so sub-100 ms jitter cannot false-flag) is
    // order-sensitive: read its median as position-dependent, not
    // code-dependent. Samples stay SEPARATE from the medians so
    // round-over-round comparability of the headline numbers is
    // unchanged. SPARK_GRAFT_SHUFFLE_REP=0 disables.
    val shufSeed = sys.env.get("SPARK_GRAFT_SHUFFLE_SEED")
      .flatMap(_.toLongOption).getOrElse(20260814L)
    val shufSamples = scala.collection.mutable.Map.empty[String, Double]
    // a query whose ledger-tagged execution THREW still published the jobs
    // it launched before failing — an undercount that would read as a
    // phantom plan change next round (round-12 ADVICE); track failures and
    // suppress those rows from the njobs ledger below
    val ledgerFailed = scala.collection.mutable.Set.empty[String]
    val shufEnabled = sys.env.get("SPARK_GRAFT_SHUFFLE_REP").forall(_ != "0")
    if (shufEnabled) {
      val order = new scala.util.Random(shufSeed).shuffle(names)
      for ((name, fn) <- order if !errors.contains(name)) {
        // tag the rep with a job group: the njobs ledger below reads the
        // per-query job counts off THIS already-paid execution instead of
        // running a dedicated extra pass (setJobGroup is a local property
        // write — it cannot perturb the timing it rides on)
        spark.sparkContext.setJobGroup(s"njobs-$name", name, false)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          shufSamples(name) = (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => ledgerFailed += name }
        finally spark.sparkContext.clearJobGroup()
      }
    }
    // Steady-state job-count ledger (round-11 second wave): attribution
    // showed a local query's wall is mostly jobs × driver-side gap, so
    // the artifact records each query's cache-warm Spark job count — the
    // number that turns a future driver-box flag into an attribution
    // without a separate ProfileQ session (more jobs = more gap
    // exposure; a count that CHANGES between rounds = a plan change).
    // The counts ride on the shuffled rep's job groups (no extra pass);
    // with the shuffled rep disabled, one dedicated untimed warm pass
    // provides them. SPARK_GRAFT_NJOBS=0 disables.
    val njobs = scala.collection.mutable.Map.empty[String, Int]
    var njobsPartial = false
    if (sys.env.get("SPARK_GRAFT_NJOBS").forall(_ != "0")) {
      if (!shufEnabled) {
        for ((name, fn) <- names if !errors.contains(name)) {
          spark.sparkContext.setJobGroup(s"njobs-$name", name, false)
          try fn(spark, sfDir).count()
          catch { case _: Throwable => ledgerFailed += name }
          finally spark.sparkContext.clearJobGroup()
        }
      }
      def groupCount(n: String): Int =
        spark.sparkContext.statusTracker.getJobIdsForGroup(s"njobs-$n").length
      // async listener bus: drain to quiescence via the SHARED rule
      // (BenchUtil.pollQuiescent — same helper as the OpsSpec ledger).
      // An unsettled poll marks the whole ledger partial rather than
      // publishing undercounts as truth: a too-low njobs would read as a
      // phantom plan change next round.
      val (_, settled) = BenchUtil.pollQuiescent(
        () => names.iterator.map(p => groupCount(p._1)).sum, minValue = 1)
      njobsPartial = !settled
      names.foreach { case (name, _) =>
        val n = groupCount(name)
        if (n > 0 && !ledgerFailed(name)) njobs(name) = n
      }
    }
    // Cold-path column (round-11 verdict item 4): the fit-once cached-
    // model family's medians measure the WARM path only; a capacity
    // planner needs the fit cost as a number, not an argument. After all
    // timed phases, clear every model cache before each family query and
    // time one cold run (fit + query). Runs LAST so the refit cannot
    // pollute medians or the order check. SPARK_GRAFT_COLD=0 disables.
    val coldFamily = sys.env.getOrElse("SPARK_GRAFT_COLD",
      "q39,q42,q55,q75,q76,q102,q121,q125,q180")
    val cold = scala.collection.mutable.Map.empty[String, Double]
    val coldFit = scala.collection.mutable.Map.empty[String, Double]
    if (coldFamily != "0") {
      val fam = coldFamily.split(",").map(_.trim).filter(_.nonEmpty).toSet
      for ((name, fn) <- names
           if fam.contains(name.takeWhile(_ != '_')) && !errors.contains(name)) {
        // Since round 13 the ModelStore disk L2 sits under the in-memory
        // caches, so clearing only the L1s prices a NEW-JVM start (model
        // loaded from disk) — that is `cold`, the per-process number.
        // `coldfit` additionally wipes the disk store and prices the TRUE
        // refit — the once-per-corpus number. Fit first (populates the
        // store), then the disk-warm run.
        graft.ops.Similarity.clearCaches()
        graft.ml.Retrieval.clearCache()
        graft.ops.ModelStore.clear()
        val tf = System.nanoTime()
        val fitOk =
          try {
            fn(spark, sfDir).count()
            coldFit(name) = (System.nanoTime() - tf) / 1e9
            true
          } catch { case _: Throwable => false }
        // only price the disk-warm path when the refit actually
        // populated the store: a failed coldfit would otherwise publish
        // a full refit under the `cold` label — a phantom 2-5×
        // cold-start regression for the next round to chase
        if (fitOk) {
          graft.ops.Similarity.clearCaches()
          graft.ml.Retrieval.clearCache()
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            cold(name) = (System.nanoTime() - t0) / 1e9
          } catch { case _: Throwable => () }
        }
      }
    }
    // Serving-path quality block (round-14 verdict item 8): recall@5 of
    // the beam/IVF-PQ serving paths vs exact ground truth at THIS bench
    // SF, so quality drift gets the same round-over-round trend line as
    // wall time. Deterministic both sides — any movement is code, not
    // jitter. Runs after all timed phases; SPARK_GRAFT_RECALL=0 disables.
    val recallJson =
      if (sys.env.get("SPARK_GRAFT_RECALL").forall(_ != "0") &&
          only.isEmpty)
        BenchRecall.block(spark, sfDir)
      else ""
    val orderFlags = results.collect {
      case (name, med) if med > 0 && shufSamples.get(name).exists { s =>
        math.max(s / med, med / s) > 1.5 && math.abs(s - med) > 0.1
      } => short(name) + ":" + r3(shufSamples(name) / med)
    }
    // per-query lines: survive tail capture / mid-suite crashes, and carry
    // the full spread + sample count that the compact final line omits
    def benchqLine(name: String, med: Double): String = {
      val xs = samples.getOrElse(name, Nil)
      val spread = if (xs.isEmpty) -1.0 else xs.max - xs.min
      val shuf = shufSamples.get(name).map(s => s""","shuf":${r3(s)}""").getOrElse("")
      // a partial (non-quiescent) ledger publishes NO per-row counts — an
      // undercount would read as a phantom plan change next round
      val nj = if (njobsPartial) ""
        else njobs.get(name).map(n => s""","njobs":$n""").getOrElse("")
      val cd = cold.get(name).map(c => s""","cold":${r3(c)}""").getOrElse("") +
        coldFit.get(name).map(c => s""","coldfit":${r3(c)}""").getOrElse("")
      val err = errors.get(name).map(e => s""","err":"$e"""").getOrElse("")
      // raw samples (reverse-chronological): spread alone cannot localize
      // WHICH rep was slow — first-rep-only inflation vs steady slowness
      // is precisely the suite-head attribution question
      val raw = if (xs.isEmpty) "" else xs.map(r3).mkString(""","xs":[""", ",", "]")
      s"""{"name":"$name","median":${r3(med)},"spread":${r3(spread)},"n":${xs.size}$shuf$nj$cd$err$raw}"""
    }
    results.foreach { case (name, med) => println("BENCHQ " + benchqLine(name, med)) }
    // Final-line keys are the qNN prefix (the driver contract's own
    // example spells them "q1"): full names ride in the BENCHQ lines
    // above, and the abbreviation keeps the WHOLE final line (~1.5 KB for
    // 91 queries) inside the driver's 2000-char tail-capture window so it
    // parses instead of arriving head-truncated.
    val qs = results.map { case (k, v) => "\"" + short(k) + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val errJson = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + short(k) + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val canaryEnd = canary()
    println(s"CANARY start=${r3(canaryStart)} end=${r3(canaryEnd)}")
    // Canary-normalized drift vs the committed reference run
    // (bench_baseline.json: per-query medians + the canary of the box
    // that produced them). The canary ratio is pure machine speed, so
    // dividing it out of the per-query ratios separates code drift from
    // environment drift MECHANICALLY — a q127-class false alarm shows up
    // as raw ratio ≈ canary ratio, normalized ratio ≈ 1. Compact (median
    // + worst-3) so the final line stays inside the driver's 2000-char
    // tail capture.
    val normJson: String = {
      val basePath = "bench_baseline.json"
      try {
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(basePath))) {
          val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(basePath))
          // scan ONLY the "queries" map: a baseline refreshed from a
          // round-12+ final line also carries cold/headwarm maps whose
          // "qNN":N.NNN entries would otherwise overwrite the medians
          // (toMap keeps the last match — q39's baseline would silently
          // become its cold fit time)
          val qSlice = {
            val i = txt.indexOf("\"queries\":{")
            if (i < 0) txt
            else {
              val start = i + "\"queries\":{".length
              val end = txt.indexOf("}", start)
              if (end < 0) txt else txt.substring(start, end)
            }
          }
          val qre = """"(q[0-9a-z_]+)":([0-9.]+)""".r
          val baseQ = qre.findAllMatchIn(qSlice)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
          val cre = """"canary":([0-9.]+)""".r
          val baseCanary = cre.findFirstMatchIn(txt).map(_.group(1).toDouble)
          val canaryNow = math.min(canaryStart, canaryEnd)
          val cr = baseCanary.map(c => canaryNow / c).getOrElse(1.0)
          val norm = results.collect {
            case (name, v) if v > 0 && baseQ.getOrElse(short(name), -1.0) > 0.05 =>
              // min-of-reps alongside the median: on a contended box the
              // median absorbs scheduler-latency hits the CPU canary
              // cannot see (r12: q133 read 4.77x normalized while the
              // same binary ran 0.91x on a quiet box); the min is the
              // least-contended observation, so min >> baseline is code,
              // median >> min >> ... is environment
              val mn = samples.getOrElse(name, List(v)).min
              (short(name), (v / cr) / baseQ(short(name)),
                (mn / cr) / baseQ(short(name)))
          }
          if (norm.nonEmpty) {
            val med = norm.map(_._2).sorted.apply(norm.size / 2)
            // worst-3 RANKED BY MIN-OF-REPS ratio (the contention-robust
            // signal), each printed as min/median so the gap between the
            // two numbers IS the environment-vs-code attribution
            val worst = norm.sortBy(-_._3).take(3)
              .map { case (n, rm, rmin) => s"$n:${r3(rmin)}/${r3(rm)}" }
              .mkString(",")
            s""","norm":{"cratio":${r3(cr)},"med":${r3(med)},"worst":"$worst"}"""
          } else ""
        } else ""
      } catch { case _: Throwable => "" }
    }
    // Compact variance + order summaries for the driver tail (round-10
    // verdict item 7): medians alone hid the q105-trio's position
    // dependence. "spreadw" = worst-3 spread/median ratios (median
    // >0.1 s so jitter on 20 ms queries doesn't dominate); "order" =
    // every query the shuffled rep flagged, with its shuffled/median
    // ratio — empty flag string means run order did not matter.
    val spreadW = results.collect {
      case (name, med) if med > 0.1 && samples.getOrElse(name, Nil).size >= 2 =>
        val xs = samples(name)
        short(name) -> (xs.max - xs.min) / med
    }.sortBy(-_._2).take(3)
      .map { case (n, r) => s"$n:${r3(r)}" }.mkString(",")
    // "jobsw" = the 3 highest warm job counts — the queries most exposed
    // to per-job driver gap on a contended box; "(partial)" = the
    // listener bus never went quiescent, treat every count as a floor
    val jobsW = njobs.toSeq.sortBy(-_._2).take(3)
      .map { case (n, c) => s"${short(n)}:$c" }.mkString(",") +
      (if (njobsPartial) "(partial)" else "")
    val orderJson =
      s""","order":{"seed":$shufSeed,"flag":"${orderFlags.mkString(",")}"},"spreadw":"$spreadW","jobsw":"$jobsW""""
    // cold-path columns: `cold` = disk-warm new-JVM start (L1s cleared,
    // model loaded from the ModelStore), `coldfit` = true refit (store
    // wiped too) — next to their warm medians in "queries"
    val coldJson = (if (cold.isEmpty) "" else cold.toSeq.sortBy(_._1)
      .map { case (n, v) => "\"" + short(n) + "\":" + r3(v) }
      .mkString(""","cold":{""", ",", "}")) +
      (if (coldFit.isEmpty) "" else coldFit.toSeq.sortBy(_._1)
        .map { case (n, v) => "\"" + short(n) + "\":" + r3(v) }
        .mkString(""","coldfit":{""", ",", "}"))
    // discarded sf-target head-warm times (suite-head first-touch samples)
    val headWarmJson = if (headWarm.isEmpty) "" else headWarm.toSeq
      .map { case (n, v) => "\"" + short(n) + "\":" + r3(v) }
      .mkString(""","headwarm":{""", ",", "}")
    // total LAST in the object: even a head-truncated capture still ends
    // with ...,"metric":"total","value":N} so the headline is recoverable
    val finalJson =
      s"""{"queries":$qs,"errors":$errJson,"reps":$reps,"sf":"$sfDir","canary":{"start":${r3(canaryStart)},"end":${r3(canaryEnd)}}$normJson$orderJson$coldJson$headWarmJson$recallJson,"unit":"sec","metric":"total","value":${r3(total)}}"""
    println(finalJson)
    // Belt and suspenders: the artifact also lands in a file, so the
    // round record no longer depends on the driver's stdout tail-capture
    // at all (round 7's BENCH json arrived "parsed": null from the tail).
    // The file holds the same final line plus every BENCHQ line.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_latest.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      val benchqLines = results.map { case (name, med) => benchqLine(name, med) }
      val fileJson = benchqLines.mkString(
        s"""{"final":$finalJson,\n"benchq":[\n""", ",\n", "\n]}\n")
      java.nio.file.Files.write(p, fileJson.getBytes("UTF-8"))
      println(s"BENCH_FILE $outPath")
    } catch {
      case e: Throwable => println(s"BENCH_FILE_ERR ${e.getMessage}")
    }
    spark.stop()
  }
}
