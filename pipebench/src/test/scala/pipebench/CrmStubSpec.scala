package pipebench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

class CrmStubSpec extends AnyFunSuite {

  private def post(url: String, email: String): Int =
    postBody(url, s"""{"id":1,"email":"$email"}""")

  private def postBody(url: String, body: String): Int = {
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    val out = c.getOutputStream
    out.write(body.getBytes(StandardCharsets.UTF_8))
    out.close()
    val code = c.getResponseCode
    c.disconnect()
    code
  }

  test("attempt k of an email fails iff the seeded hash says so, exactly") {
    val seed = 11L
    val stub = new CrmStub(seed, 2)
    try {
      val emails = (0 until 40).map(i => s"u$i@example.com")
      val got = for (e <- emails; _ <- 0 until 4) yield (e, post(stub.url, e))
      val want = for (e <- emails; k <- 0 until 4) yield
        (e, if (CrmStub.fails(seed, e, k)) 503 else 201)
      assert(got == want)
      assert(stub.posts.get == 160)
      assert(stub.status503.get == want.count(_._2 == 503))
      assert(stub.status201.get + stub.status503.get == 160)
      assert(stub.duplicateDeliveries == emails.count(e =>
        (0 until 4).count(k => !CrmStub.fails(seed, e, k)) > 1))
      assert(postBody(stub.url, """{"id":1}""") == 400)
      assert(stub.statusOther.get == 1)
    } finally stub.stop()
  }

  test("the failure schedule is the reference's ~10% and depends on the seed") {
    val keys = (0 until 20000).map(i => s"c$i@example.com")
    val rate = keys.count(e => CrmStub.fails(1, e, 0)) / keys.size.toDouble
    assert(rate > 0.09 && rate < 0.11, rate)
    assert(keys.map(CrmStub.fails(1, _, 0)) != keys.map(CrmStub.fails(2, _, 0)))
    assert(keys.map(CrmStub.fails(1, _, 0)) != keys.map(CrmStub.fails(1, _, 1)))
    assert(CrmStub.hash(5, "a@example.com", 0) == CrmStub.hash(5, "a@example.com", 0))
  }

  test("no more than `threads` requests are handled at once") {
    val stub = new CrmStub(3, 2)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val done = new CountDownLatch(64)
      (0 until 64).foreach(i => pool.submit(new Runnable {
        def run(): Unit = try post(stub.url, s"p$i@example.com") finally done.countDown()
      }))
      assert(done.await(60, TimeUnit.SECONDS))
      assert(stub.inflightPeak.get >= 1 && stub.inflightPeak.get <= 2)
      assert(stub.posts.get == 64)
      assert(stub.connectionsSince(0) >= 1)
    } finally {
      pool.shutdown()
      stub.stop()
    }
  }
}
