package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.pipeline.ChatModel

/** The loopback model backend for `HttpChatModel`: an OpenAI-style
  * `chat/completions` endpoint on 127.0.0.1 that answers with the planted
  * completion after a fixed latency.
  *
  * - The latency is a scheduled reply: the handler parses the request,
  *   hands the response to a scheduler and returns, so no thread sleeps
  *   and the server's `threads` threads (handling and replies share one
  *   pool) never cap how many requests are in flight.
  * - A seeded `rejectShare` of distinct requests gets a 429 on its first
  *   attempt only; the retry succeeds. Which requests are rejected depends
  *   only on the seed and the request body, so request and retry counts
  *   repeat exactly. [[reset]] starts a new pass: counters to zero and
  *   every request is a first attempt again.
  * - Disable Nagle on accepted sockets (`-Dsun.net.httpserver.nodelay=true`
  *   on the JVM command line); without it a delayed ACK stalls small
  *   responses and the server, not the client, sets the call rate.
  */
final class Loopback(seed: Long, latencyMs: Long, rejectShare: Double, threads: Int) {
  private val mapper = new ObjectMapper()
  private val pool: ScheduledExecutorService = Executors.newScheduledThreadPool(threads)
  private val rejected = ConcurrentHashMap.newKeySet[String]()
  val requests = new AtomicLong
  val ok = new AtomicLong
  val tooMany = new AtomicLong
  val inflight = new Inflight
  val latency = new LatencyHistogram

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 256)
  server.setExecutor(pool)
  server.createContext("/v1/chat/completions", (ex: HttpExchange) => handle(ex))
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/v1/chat/completions"

  def reset(): Unit = {
    rejected.clear(); requests.set(0); ok.set(0); tooMany.set(0)
    inflight.reset(); latency.reset()
  }

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    inflight.enter()
    requests.incrementAndGet()
    val (status, body) =
      try {
        val raw = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val firstAttempt = Plant.u(seed, raw.hashCode.toLong, 77) < rejectShare && rejected.add(raw)
        if (firstAttempt) (429, """{"error":{"message":"rate limited"}}""")
        else {
          val msgs = mapper.readTree(raw).path("messages")
          val conv = (0 until msgs.size).map { i =>
            ChatModel.Message(msgs.get(i).path("role").asText(), msgs.get(i).path("content").asText())
          }
          val root = mapper.createObjectNode()
          root.putArray("choices").addObject().putObject("message")
            .put("role", "assistant").put("content", Plant.complete(seed, conv))
          (200, mapper.writeValueAsString(root))
        }
      } catch { case scala.util.control.NonFatal(e) => (500, s"""{"error":"${e.getClass.getName}"}""") }
    pool.schedule(new Runnable {
      def run(): Unit = {
        try {
          val bytes = body.getBytes(StandardCharsets.UTF_8)
          ex.getResponseHeaders.set("Content-Type", "application/json")
          ex.sendResponseHeaders(status, bytes.length.toLong)
          ex.getResponseBody.write(bytes)
        } catch { case scala.util.control.NonFatal(_) => () }
        finally {
          ex.close()
          if (status == 200) ok.incrementAndGet() else if (status == 429) tooMany.incrementAndGet()
          latency.add(System.nanoTime() - t0)
          inflight.exit()
        }
      }
    }, latencyMs, TimeUnit.MILLISECONDS)
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(5, TimeUnit.SECONDS)
  }
}
