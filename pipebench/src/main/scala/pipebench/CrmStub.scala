package pipebench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Deterministic mock CRM (the reference's crm_server contract): POST a
  * customer JSON, get 201 Created, or 503 on the reference's ~10% of
  * requests, here made repeatable: attempt k (0-based) for an email fails
  * iff `CrmStub.fails(seed, email, k)`. At most `threads` handlers run at
  * once. It counts status codes, connections, peak in-flight requests and
  * 201s per email, and records the time of each email's first 201.
  */
final class CrmStub(seed: Long, threads: Int) {
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val attempts = new ConcurrentHashMap[String, AtomicInteger]()
  private val created = new ConcurrentHashMap[String, AtomicInteger]()
  private val firstCreatedNs = new ConcurrentHashMap[String, java.lang.Long]()
  /** Client (address, port) -> the `posts` count at its latest POST. */
  private val peers = new ConcurrentHashMap[String, java.lang.Long]()
  private val inflight = new AtomicInteger()
  val posts = new AtomicLong()
  val status201 = new AtomicLong()
  val status503 = new AtomicLong()
  val statusOther = new AtomicLong()
  val inflightPeak = new AtomicInteger()

  server.setExecutor(pool)
  server.createContext("/customers", (ex: HttpExchange) => handle(ex))
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/customers"

  private def handle(ex: HttpExchange): Unit = {
    val now = inflight.incrementAndGet()
    inflightPeak.accumulateAndGet(now, (a, b) => math.max(a, b))
    try {
      peers.put(ex.getRemoteAddress.toString, posts.incrementAndGet())
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val code = CrmStub.emailOf(body) match {
        case Some(email) =>
          val k = attempts.computeIfAbsent(email, _ => new AtomicInteger()).getAndIncrement()
          if (CrmStub.fails(seed, email, k)) 503
          else {
            firstCreatedNs.putIfAbsent(email, System.nanoTime())
            created.computeIfAbsent(email, _ => new AtomicInteger()).incrementAndGet()
            201
          }
        case None => 400
      }
      code match {
        case 201 => status201.incrementAndGet()
        case 503 => status503.incrementAndGet()
        case _ => statusOther.incrementAndGet()
      }
      ex.sendResponseHeaders(code, -1)
    } finally {
      ex.close()
      inflight.decrementAndGet()
    }
  }

  /** Distinct client (address, port) pairs, one per TCP connection, that
    * sent a POST after the first `sincePosts` POSTs.
    */
  def connectionsSince(sincePosts: Long): Int = {
    var n = 0
    peers.forEach((_, last) => if (last > sincePosts) n += 1)
    n
  }
  def firstCreatedAtNs(email: String): Option[Long] =
    Option(firstCreatedNs.get(email)).map(_.longValue)
  /** Emails that received more than one 201. */
  def duplicateDeliveries: Int = {
    var n = 0
    created.forEach((_, c) => if (c.get > 1) n += 1)
    n
  }
  def acceptedEmails: Set[String] = {
    val b = Set.newBuilder[String]
    created.forEach((e, _) => b += e)
    b.result()
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(30, TimeUnit.SECONDS)
  }
}

object CrmStub {
  /** 64-bit FNV-1a of the UTF-8 bytes, finished with the SplitMix64 mixer. */
  def hash(seed: Long, email: String, attempt: Int): Long = {
    var h = 0xcbf29ce484222325L
    s"$seed|$email|$attempt".getBytes(StandardCharsets.UTF_8).foreach { b =>
      h = (h ^ (b & 0xff)) * 0x100000001b3L
    }
    Rng.mix(h)
  }

  def fails(seed: Long, email: String, attempt: Int): Boolean =
    java.lang.Math.floorMod(hash(seed, email, attempt), 10L) == 0

  private val EmailField = "\"email\":\"([^\"]*)\"".r.unanchored

  def emailOf(json: String): Option[String] = json match {
    case EmailField(e) => Some(e)
    case _ => None
  }
}
