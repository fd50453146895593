package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import graft.pipeline.ChatModel

/** QA samples with planted outcomes.
  *
  * Every sample's fate is fixed by the seed before the program sees it:
  * whether the RAG answer is right, whether it carries a refusal marker,
  * whether each counterfactual branch repeats the answer (keep) or changes
  * it (discard), and which branch the probability fusion trusts. The
  * model stub answers from the same plan, so the expected decision of
  * every sample, the AK/AD/UK/UD counts and the six risk metrics follow
  * from the plan alone, with no Spark, and every pass must reproduce them
  * exactly.
  */
object Plant {

  final case class Case(ragCorrect: Boolean, ragReject: Boolean,
                        useSame: Boolean, qualitySame: Boolean, fusion: Int) {
    def label: String = if (ragCorrect) "keep" else "discard"
    def du: String = if (useSame) "keep" else "discard"
    def dq: String = if (qualitySame) "keep" else "discard"
    def disagree: Boolean = du != dq
    private def overrideReject(d: String) = if (d == "keep" && ragReject) "discard" else d
    /** The pipeline's decision with probability fusion: 0 trusts cf_use,
      * 1 trusts cf_quality, 2 is a tie, which discards. */
    def predProbability: String = overrideReject(
      if (!disagree) du else fusion match { case 0 => du; case 1 => dq; case _ => "discard" })
    /** The decision `Stages.evalPipeline` re-derives with safety fusion. */
    def predSafety: String = overrideReject(if (!disagree) du else "discard")
    /** Model calls for this sample: rag, two branches, two fusion asks. */
    def calls: Int = if (disagree) 5 else 3
  }

  private def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 33)) * 0xff51afd7ed558ccdL
    x = (x ^ (x >>> 33)) * 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  /** Uniform in [0, 1) from (seed, id, salt). */
  def u(seed: Long, id: Long, salt: Int): Double =
    (mix(mix(seed * 31 + salt) ^ id) >>> 11).toDouble / (1L << 53).toDouble

  def caseOf(seed: Long, id: Long): Case = Case(
    ragCorrect = u(seed, id, 1) < 0.6,
    ragReject = u(seed, id, 2) < 0.1,
    useSame = u(seed, id, 3) < 0.7,
    qualitySame = u(seed, id, 4) < 0.7,
    fusion = (u(seed, id, 5) * 3).toInt)

  /** Words no document word is a substring of, and that contain no
    * refusal marker: a wrong answer never matches a reference by chance.
    * The RAG answer and the two branches draw from disjoint pools, so a
    * changed branch answer never matches a wrong RAG answer either. */
  private val distractors = Array(
    Array("umber", "ochre", "cobalt", "sienna"),
    Array("indigo", "maroon", "teal", "coral"),
    Array("ivory", "jade", "amber", "olive"))

  /** Content words of the generated `documents` corpus (`gen.py`). */
  private val answerWords = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "agg", "key", "query", "scan", "batch")

  private def docWords(seed: Long, id: Long, n: Int): Seq[String] =
    (0 until n).map(i => answerWords((u(seed, id, 100 + i) * answerWords.length).toInt))

  /** The gold answer: two document words; about one sample in four gets
    * an "X or Y" alternative, which `Stages.expandRefs` splits. */
  def reference(seed: Long, id: Long): Seq[String] = {
    val w = docWords(seed, id, 3)
    if (u(seed, id, 6) < 0.25) Seq(s"${w(0)} ${w(1)} or ${w(2)}") else Seq(s"${w(0)} ${w(1)}")
  }

  def goodAnswer(seed: Long, id: Long): String = reference(seed, id).head.split(" or ").head

  /** A wrong answer from pool 0 (RAG), 1 (cf_use) or 2 (cf_quality). */
  def wrongAnswer(seed: Long, id: Long, pool: Int): String = {
    val words = distractors(pool)
    def w(salt: Int) = words((u(seed, id, 10 * pool + salt) * words.length).toInt)
    s"${w(10)} ${w(11)}"
  }

  def ragAnswer(seed: Long, id: Long): String =
    if (caseOf(seed, id).ragCorrect) goodAnswer(seed, id) else wrongAnswer(seed, id, 0)

  private val IdTag = "\\(#(\\d+)\\)".r

  /** The planted completion for one conversation. The sample id is read
    * from the question's `(#id)` tag in the first user turn; the stage from
    * the last user turn (and, for fusion, the turn before it). */
  def complete(seed: Long, messages: Seq[ChatModel.Message]): String = {
    val users = messages.filter(_.role == "user").map(_.content)
    val id = IdTag.findFirstMatchIn(users.head).map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException("conversation without a sample tag"))
    def stageOf(prompt: String): String =
      if (prompt.startsWith("Answer the following question")) "rag"
      else if (prompt.startsWith("Assume that your answer is wrong due to")) "cf_use"
      else if (prompt.startsWith("Assume that your answer is wrong because")) "cf_quality"
      else if (prompt.startsWith("Provide the probability"))
        if (stageOf(users(users.size - 2)) == "cf_use") "probability_use" else "probability_quality"
      else throw new IllegalArgumentException(s"unplanned prompt: ${prompt.take(60)}")
    completion(seed, id, stageOf(users.last))
  }

  /** The planted completion of sample `id` at one stage: `rag`, `cf_use`,
    * `cf_quality`, or the fusion ask on either branch's conversation
    * (`probability_use`, `probability_quality`). */
  def completion(seed: Long, id: Long, stage: String): String = {
    val c = caseOf(seed, id)
    val rag = ragAnswer(seed, id)
    stage match {
      case "rag" =>
        val refusal = if (c.ragReject) " uncertain" else ""
        s"Answer: $rag\nEvidence: ## Passage-0 ##$refusal"
      case "cf_use" => s"${if (c.useSame) rag else wrongAnswer(seed, id, 1)} ## Passage-1 ##"
      case "cf_quality" => s"${if (c.qualitySame) rag else wrongAnswer(seed, id, 2)} ## Passage-2 ##"
      case _ =>
        val p = (c.fusion, stage == "probability_use") match {
          case (2, _) => "0.5"
          case (0, true) | (1, false) => "0.9"
          case _ => "0.2"
        }
        s"Probability: $p"
    }
  }

  /** In-process stub model: the planted completion, no I/O. */
  final class StubModel(seed: Long) extends ChatModel.Model {
    override def complete(batch: Seq[Seq[ChatModel.Message]]): Seq[Option[String]] =
      batch.map(m => Some(Plant.complete(seed, m)))
  }

  /** Write `n` samples as a directory of `parts` JSONL files (the
    * `Schemas.qaSample` shape), ids in contiguous ranges. Questions and
    * passages are drawn from the document texts. */
  def writeSamples(dir: String, seed: Long, n: Int, parts: Int, docs: IndexedSeq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    (0 until parts).foreach { p =>
      val from = n.toLong * p / parts
      Files.write(Paths.get(dir, f"part-$p%05d.json"),
        samplesJsonl(seed, from, n.toLong * (p + 1) / parts, docs).getBytes(StandardCharsets.UTF_8))
    }
  }

  private def samplesJsonl(seed: Long, from: Long, until: Long, docs: IndexedSeq[String]): String = {
    val mapper = new ObjectMapper()
    val sb = new java.lang.StringBuilder(((until - from) * 900).toInt)
    var id = from
    while (id < until) {
      val ref = reference(seed, id)
      def doc(salt: Int) = docs((u(seed, id, salt) * docs.size).toInt)
      val gold = s"${doc(40).take(120)} ${goodAnswer(seed, id)}"
      val node = mapper.createObjectNode()
      node.put("id", id)
      node.put("question",
        s"Which phrase follows '${doc(41).split(' ').head}' in the passage? (#$id)")
      val refs = node.putArray("reference"); ref.foreach(refs.add)
      val sparse = node.putArray("sparse_ctxs"); Seq(doc(42), doc(43), doc(44)).foreach(sparse.add)
      val dense = node.putArray("dense_ctxs"); Seq(gold, doc(45), doc(46), doc(47)).foreach(dense.add)
      val goldArr = node.putArray("gold_ctxs"); goldArr.add(gold)
      sb.append(mapper.writeValueAsString(node)).append('\n')
      id += 1
    }
    sb.toString
  }

  /** The expected evaluation record of `n` samples (safety re-fusion). */
  final case class Expected(ak: Long, ad: Long, uk: Long, ud: Long, calls: Long) {
    private val n = ak + ad + uk + ud
    def metrics: Seq[(String, Double)] = Seq(
      "risk" -> uk.toDouble / (ak + uk), "overcaution" -> ad.toDouble / (ud + ad),
      "recall" -> ak.toDouble / (ak + ad), "carefulness" -> ud.toDouble / (uk + ud),
      "alignment" -> (ak + ud).toDouble / n, "coverage" -> (ak + uk).toDouble / n)
  }

  def expected(seed: Long, n: Int): Expected = {
    var ak, ad, uk, ud, calls = 0L
    var id = 0L
    while (id < n) {
      val c = caseOf(seed, id)
      (c.label, c.predSafety) match {
        case ("keep", "keep") => ak += 1
        case ("keep", _) => ad += 1
        case (_, "keep") => uk += 1
        case _ => ud += 1
      }
      calls += c.calls
      id += 1
    }
    Expected(ak, ad, uk, ud, calls)
  }
}
