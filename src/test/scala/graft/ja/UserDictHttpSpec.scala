package graft.ja

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPOutputStream

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Hermetic HTTP coverage of UserDict.fetch's transfer semantics
  * (reference KuromojiNEologdUDFTest.java:342–381 hits a live URL; here an
  * in-process JDK HttpServer on a loopback ephemeral port exercises the
  * same branches with zero network): identity and gzip Content-Encoding,
  * non-200 status, the 32 MiB cap on DECOMPRESSED bytes (via a small gzip
  * body that inflates past the cap), and strict UTF-8 rejection.
  */
class UserDictHttpSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val csv = "クロモジ,クロモジ,クロモジ,カスタム名詞\n# comment\n"
  private val countedHits = new java.util.concurrent.atomic.AtomicInteger()

  private var server: HttpServer = _
  private def base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte],
      headers: Map[String, String] = Map.empty): Unit = {
    headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
    ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
    if (body.nonEmpty) ex.getResponseBody.write(body)
    ex.close()
  }

  private def gzipBytes(raw: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(raw)
    gz.close()
    bos.toByteArray
  }

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/plain.csv", (ex: HttpExchange) =>
      respond(ex, 200, csv.getBytes(StandardCharsets.UTF_8)))
    server.createContext("/gzipped.csv", (ex: HttpExchange) =>
      respond(ex, 200, gzipBytes(csv.getBytes(StandardCharsets.UTF_8)),
        Map("Content-Encoding" -> "gzip")))
    server.createContext("/counted.csv", (ex: HttpExchange) => {
      countedHits.incrementAndGet()
      respond(ex, 200, csv.getBytes(StandardCharsets.UTF_8))
    })
    server.createContext("/missing.csv", (ex: HttpExchange) =>
      respond(ex, 404, Array.emptyByteArray))
    // ~33 MiB of commented-out lines, gzip-compressed to a few hundred KiB:
    // exercises the cap on decompressed bytes over a real HTTP transfer
    server.createContext("/huge.csv", (ex: HttpExchange) => {
      val line = ("#" + "x" * 63 + "\n").getBytes(StandardCharsets.UTF_8)
      val raw = new ByteArrayOutputStream(34 * 1024 * 1024)
      (0 until (33 * 1024 * 1024 / line.length) + 1).foreach(_ => raw.write(line))
      respond(ex, 200, gzipBytes(raw.toByteArray), Map("Content-Encoding" -> "gzip"))
    })
    server.createContext("/bad-utf8.csv", (ex: HttpExchange) =>
      respond(ex, 200, Array[Byte](0xE3.toByte, 0x81.toByte, // truncated 3-byte seq
        ',' .toByte, 0xFF.toByte)))
    server.start()
  }

  override def afterAll(): Unit = if (server != null) server.stop(0)

  test("identity-encoded 200 response parses (comment rows skipped)") {
    val entries = UserDict.fetch(s"$base/plain.csv")
    assert(entries.map(_.surface) == Seq("クロモジ"))
  }

  test("gzip Content-Encoding is transparently decompressed") {
    val entries = UserDict.fetch(s"$base/gzipped.csv")
    assert(entries.map(_.surface) == Seq("クロモジ"))
  }

  test("non-200 status fails loudly with the response code (reference UDF:263)") {
    val e = intercept[java.io.IOException](UserDict.fetch(s"$base/missing.csv"))
    assert(e.getMessage.contains("404"))
  }

  test("32 MiB cap applies to decompressed bytes, not the wire size") {
    val e = intercept[java.io.IOException](UserDict.fetch(s"$base/huge.csv"))
    assert(e.getMessage.contains("exceeds the maximum size"))
  }

  test("malformed UTF-8 bytes are rejected, not replaced") {
    intercept[java.nio.charset.CharacterCodingException](
      UserDict.fetch(s"$base/bad-utf8.csv"))
  }

  test("a user-dictionary URL is fetched once per JVM, across tasks and queries") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val lines = (1 to 32).map(i => s"クロモジを使う。$i").toDF("text").repartition(8)
    def tokens = lines.select(graft.functions.tokenize_ja_neologd_url(
      org.apache.spark.sql.functions.col("text"), null, null, null, s"$base/counted.csv"))
      .collect().map(_.getSeq[String](0))
    assert(tokens.forall(_.head == "クロモジ"))
    assert(countedHits.get == 1)
    tokens
    assert(countedHits.get == 1, "a second query fetches nothing")
  }
}
