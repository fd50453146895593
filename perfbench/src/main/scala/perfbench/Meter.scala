package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import graft.pipeline.ChatModel

/** In-flight accounting: the maximum and the time-weighted mean of a
  * concurrency level over a window. */
final class Inflight {
  private var level, max = 0
  private var since = System.nanoTime()
  private var area = 0.0
  private var windowStart = since

  private def advance(now: Long): Unit = { area += level.toDouble * (now - since); since = now }
  def enter(): Unit = synchronized {
    advance(System.nanoTime()); level += 1; if (level > max) max = level
  }
  def exit(): Unit = synchronized { advance(System.nanoTime()); level -= 1 }
  def reset(): Unit = synchronized {
    val now = System.nanoTime(); since = now; windowStart = now; area = 0.0; max = level
  }
  /** (max, mean) since the last reset. */
  def read(): (Int, Double) = synchronized {
    val now = System.nanoTime(); advance(now)
    (max, if (now > windowStart) area / (now - windowStart) else 0.0)
  }
}

/** Counters for the model the benchmark hands to the pipeline. The
  * pipeline runs in local mode, so every task's copy of [[Metered]] updates
  * these JVM-wide counters. */
object ModelMeter {
  val calls = new AtomicLong
  val batches = new AtomicLong
  val nulls = new AtomicLong
  val busyNs = new AtomicLong
  val inflight = new Inflight
  @volatile var spans = false

  def reset(): Unit = {
    calls.set(0); batches.set(0); nulls.set(0); busyNs.set(0); inflight.reset()
  }
}

/** Wraps the model passed to `Inference`: counts calls, batches, null
  * completions, in-flight batches and seconds inside `complete`, and, when
  * tracing, records one span per batch. */
final class Metered(inner: ChatModel.Model) extends ChatModel.Model {
  override def complete(batch: Seq[Seq[ChatModel.Message]]): Seq[Option[String]] = {
    ModelMeter.inflight.enter()
    val t0 = System.nanoTime()
    try {
      val out = inner.complete(batch)
      ModelMeter.nulls.addAndGet(out.count(_.isEmpty).toLong)
      out
    } finally {
      val t1 = System.nanoTime()
      ModelMeter.inflight.exit()
      ModelMeter.calls.addAndGet(batch.size.toLong)
      ModelMeter.batches.incrementAndGet()
      ModelMeter.busyNs.addAndGet(t1 - t0)
      if (ModelMeter.spans) Trace.record("model.complete", "model", t0, t1)
    }
  }
}

/** A fixed-size latency histogram in 0.1 ms buckets up to 10 s. */
final class LatencyHistogram {
  private val buckets = new java.util.concurrent.atomic.AtomicLongArray(100001)
  private val n = new AtomicInteger
  def add(ns: Long): Unit = {
    buckets.incrementAndGet(math.min(100000L, ns / 100000L).toInt); n.incrementAndGet()
  }
  def reset(): Unit = { (0 until buckets.length).foreach(buckets.set(_, 0L)); n.set(0) }
  /** The q-quantile in milliseconds (bucket upper edge), 0 when empty. */
  def quantileMs(q: Double): Double = {
    val total = n.get
    if (total == 0) return 0.0
    val rank = math.ceil(q * total).toLong
    var seen = 0L
    var i = 0
    while (i < buckets.length) {
      seen += buckets.get(i)
      if (seen >= rank) return (i + 1) / 10.0
      i += 1
    }
    buckets.length / 10.0
  }
}
