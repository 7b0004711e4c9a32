package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.api.MiniJson
import graft.providers.DeterministicHashProvider
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

/** OpenAI-compatible `/v1/embeddings` model stand-in on loopback.
  *
  * It answers with `DeterministicHashProvider(384)` vectors, so every
  * embedding the engine stores can be recomputed and checked, and it
  * counts requests, inputs, bytes and busy time at the provider
  * boundary. The engine reaches it through its real HTTP provider
  * (a job param `base_url`), with no network beyond loopback.
  */
final class StandIn(threads: Int) {
  val dim = 384
  val provider = new DeterministicHashProvider(dim)

  val requests = new AtomicLong
  val inputs = new AtomicLong
  val bytesIn = new AtomicLong
  val bytesOut = new AtomicLong
  val busyNs = new AtomicLong

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)

  def baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}/v1"

  def start(): this.type = {
    server.createContext("/v1/embeddings", (ex: HttpExchange) => handle(ex))
    server.setExecutor(pool)
    server.start()
    this
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }

  def snapshot: Map[String, Long] = Map(
    "requests" -> requests.get, "inputs" -> inputs.get, "bytes_in" -> bytesIn.get,
    "bytes_out" -> bytesOut.get, "busy_ns" -> busyNs.get)

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try {
      val body = ex.getRequestBody.readAllBytes()
      val texts = MiniJson.parse(new String(body, UTF_8)).toOption
        .flatMap(_.asObj).flatMap(_.get("input")).flatMap(_.asArr)
        .map(_.map(_.asString.getOrElse(""))).getOrElse(Seq.empty)
      val sb = new java.lang.StringBuilder(texts.size * dim * 12 + 64)
      sb.append("{\"object\":\"list\",\"data\":[")
      texts.zipWithIndex.foreach { case (t, i) =>
        if (i > 0) sb.append(',')
        sb.append("{\"object\":\"embedding\",\"index\":").append(i).append(",\"embedding\":[")
        val v = provider.embedOne(t)
        var j = 0
        while (j < v.length) { if (j > 0) sb.append(','); sb.append(v(j)); j += 1 }
        sb.append("]}")
      }
      sb.append("]}")
      val out = sb.toString.getBytes(UTF_8)
      requests.incrementAndGet(); inputs.addAndGet(texts.size.toLong)
      bytesIn.addAndGet(body.length.toLong); bytesOut.addAndGet(out.length.toLong)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, out.length.toLong)
      ex.getResponseBody.write(out)
    } catch {
      case e: Exception =>
        val msg = s"""{"error":"${e.getClass.getSimpleName}"}""".getBytes(UTF_8)
        ex.sendResponseHeaders(500, msg.length.toLong)
        ex.getResponseBody.write(msg)
    } finally {
      ex.close()
      busyNs.addAndGet(System.nanoTime() - t0)
    }
  }
}
