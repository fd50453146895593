package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exprs.RcFunctions
import graft.pipeline.{ChatModel, HttpChatModel, Inference, Schemas, Sink, Stages}

/** The RC-RAG pipeline over planted QA samples: read JSONL → annotate →
  * both counterfactual branches → probability fusion → JSONL sink → read
  * back → `Stages.evalPipeline` → eval sink. The model is the in-process
  * stub or `HttpChatModel` against the loopback backend. */
final class Rcrag(spark: SparkSession, seed: Long, samples: Int, http: Option[Loopback])
    extends Workload {

  private val cfg = Inference.Config()
  private val expected = Plant.expected(seed, samples)
  private var samplesPath: String = _
  private var out: String = _
  private var rawCompletions: DataFrame = _
  private var parsedAnswers: DataFrame = _

  def inputSize: Long = samples

  private def model: ChatModel.Model = new Metered(http match {
    case Some(server) =>
      new HttpChatModel(server.url, "planted", timeoutMs = 10000, maxRetries = 3, retryBackoffMs = 5)
    case None => new Plant.StubModel(seed)
  })

  /** Samples as `cores` JSONL part files, so the pipeline reads them as
    * that many partitions. */
  def prepare(tables: String, dir: String): Unit = {
    val docs = spark.read.parquet(s"$tables/documents.parquet").select("text")
      .collect().map(_.getString(0)).toIndexedSeq
    samplesPath = s"$dir/samples"
    out = s"$dir/out"
    Plant.writeSamples(samplesPath, seed, samples, Main.cores, docs)
    rawCompletions = null
    parsedAnswers = null
  }

  def pass(traced: Boolean): PassOutcome = {
    ModelMeter.reset()
    http.foreach(_.reset())
    val t0 = System.nanoTime()
    val qa = spark.read.schema(Schemas.qaSample).json(samplesPath)
    val fused =
      if (!traced) Inference.inferDecideFuse(Inference.ragAnnotate(qa, model, cfg), model, cfg)
      else {
        val m = model
        val annotated = Trace.span(spark, "annotate", "pipeline") {
          Inference.ragAnnotate(qa, m, cfg).localCheckpoint()
        }
        Trace.span(spark, "counterfactual", "pipeline") {
          Inference.inferDecideFuse(annotated, m, cfg).localCheckpoint()
        }
      }
    Trace.span(spark, "sink", "pipeline") { Sink.appendJsonl(fused, s"$out/results") }
    val back = Trace.span(spark, "eval", "pipeline") {
      val back = spark.read.schema(Schemas.resultRecord).json(s"$out/results")
      Sink.writeEval(Stages.evalPipeline(back), s"$out/eval")
      back
    }
    val problems = Trace.span(spark, "check", "pass") { check(back, s"$out/eval") }
    val callProblem =
      if (ModelMeter.calls.get != expected.calls)
        Seq(s"model saw ${ModelMeter.calls.get} calls, planned ${expected.calls}")
      else Nil
    val wall = (System.nanoTime() - t0) / 1e9
    val layers = if (traced) layerMetrics(s"$out/results", wall) else Map.empty[String, Double]
    val nullRows = problems.nullRows
    Main.deleteRecursively(new java.io.File(out))
    val messages = problems.messages ++ callProblem
    PassOutcome(wall, samples, if (messages.isEmpty) nullRows else samples, messages, layers)
  }

  private final case class Problems(nullRows: Long, messages: Seq[String])

  /** Every sample's decision and the eval record against the plan. */
  private def check(back: DataFrame, evalDir: String): Problems = {
    val rows = back.select(col("id"), col("label_decision"), col("pred_decision"),
      (col("rag.answer").isNull || col("cf_use.answer").isNull || col("cf_quality.answer").isNull)
        .as("null_answer")).collect()
    val msgs = scala.collection.mutable.ArrayBuffer.empty[String]
    if (rows.length != samples) msgs += s"${rows.length} result rows for $samples samples"
    val seen = new java.util.BitSet(samples)
    var wrong = 0L
    var nullRows = 0L
    rows.foreach { r =>
      val id = r.getLong(0)
      val c = Plant.caseOf(seed, id)
      if (id < 0 || id >= samples || seen.get(id.toInt)) wrong += 1
      else {
        seen.set(id.toInt)
        if (r.getString(1) != c.label || r.getString(2) != c.predProbability) wrong += 1
      }
      if (r.getBoolean(3)) nullRows += 1
    }
    if (wrong > 0) msgs += s"$wrong samples with a decision other than planned"
    val eval = spark.read.schema(Schemas.evalRecord).json(evalDir).collect()
    if (eval.length != 1) msgs += s"${eval.length} eval records"
    else {
      val e = eval.head
      val counts = Seq("AK", "AD", "UK", "UD").map(k => e.getLong(e.fieldIndex(k)))
      val want = Seq(expected.ak, expected.ad, expected.uk, expected.ud)
      if (counts != want) msgs += s"AK/AD/UK/UD ${counts.mkString("/")}, planned ${want.mkString("/")}"
      expected.metrics.foreach { case (k, v) =>
        val got = e.getDouble(e.fieldIndex(k))
        if (got != v) msgs += s"$k $got, planned $v"
      }
    }
    Problems(nullRows, msgs.toSeq)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The per-layer figures of one traced pass, plus the `exprs` kernels
    * timed in isolation over checkpointed inputs. */
  private def layerMetrics(resultsDir: String, wall: Double): Map[String, Double] = {
    val sinkMb = Main.dirBytes(new java.io.File(resultsDir)) / 1e6
    val calls = ModelMeter.calls.get.toDouble
    val (modelMax, modelMean) = ModelMeter.inflight.read()
    val model = Map(
      "pipeline.sink_mb" -> sinkMb,
      "pipeline.model.calls" -> calls,
      "pipeline.model.batches" -> ModelMeter.batches.get.toDouble,
      "pipeline.model.busy_s" -> ModelMeter.busyNs.get / 1e9,
      "pipeline.model.calls_per_s" -> calls / wall) ++ (http match {
      case Some(s) =>
        val (mx, mean) = s.inflight.read()
        Map("pipeline.model.inflight_max" -> mx.toDouble, "pipeline.model.inflight_mean" -> mean,
          "pipeline.model.retries" -> s.tooMany.get.toDouble,
          "pipeline.model.useful_ratio" -> s.ok.get.toDouble / math.max(1L, s.requests.get),
          "pipeline.model.server_p50_ms" -> s.latency.quantileMs(0.5),
          "pipeline.model.server_p99_ms" -> s.latency.quantileMs(0.99))
      case None =>
        Map("pipeline.model.inflight_max" -> modelMax.toDouble, "pipeline.model.inflight_mean" -> modelMean,
          "pipeline.model.retries" -> 0.0, "pipeline.model.useful_ratio" -> 1.0)
    })
    if (rawCompletions == null) Main.offPass(spark) {
      val rows = (0L until samples).map { id =>
        (id, Plant.reference(seed, id), Plant.completion(seed, id, "rag"),
          Plant.completion(seed, id, "cf_use"), Plant.completion(seed, id, "cf_quality"))
      }
      import spark.implicits._
      rawCompletions = rows.toDF("id", "reference", "rag_raw", "use_raw", "quality_raw")
        .repartition(Main.cores).localCheckpoint()
      def parsed(c: String) = {
        val p = RcFunctions.dealPredictionUdf(col(c))
        struct(p.getField("reject").as("reject"), p.getField("answer").as("answer"),
          p.getField("evidence").as("evidence"))
      }
      parsedAnswers = rawCompletions.select(col("id"), col("reference"), parsed("rag_raw").as("rag"),
        parsed("use_raw").as("cf_use"), parsed("quality_raw").as("cf_quality"))
        .transform(Stages.expandRefs).localCheckpoint()
    }
    Main.offPass(spark) {
      Trace.span(spark, "exprs.parse", "exprs") {
        noop(rawCompletions.select(Seq("rag_raw", "use_raw", "quality_raw")
          .map(c => RcFunctions.dealPredictionUdf(col(c)).as(c)): _*))
      }
      Trace.span(spark, "exprs.score", "exprs") {
        noop(parsedAnswers.transform(Stages.annotate)
          .transform(Stages.decide("cf_use")).transform(Stages.decide("cf_quality")))
      }
    }
    model
  }
}
