package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DeterministicStub, HttpLlmStrategy, LlmMatch}

/** J5 — the HTTP adjudication client against an in-process fake
  * chat-completions server: pick/abstain parsing, unknown-key validation,
  * retry-then-abstain error semantics (entity_matching.py:228-254), the
  * env config gate, and the full LlmMatch stage driven by the real client
  * class. No external network. */
class LlmClientSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  private def completion(content: String): String = {
    // build via jackson so quoting is always valid JSON
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    val msg = root.putArray("choices").addObject().putObject("message")
    msg.put("role", "assistant")
    msg.put("content", content)
    mapper.writeValueAsString(root)
  }

  /** Fake server: each call pops the next (status, body) script entry;
    * the last entry repeats. Records request count + last body. */
  private def withServer(script: Seq[(Int, String)])(
      f: (String, AtomicInteger, () => String) => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val calls = new AtomicInteger(0)
    @volatile var lastBody = ""
    server.createContext("/", (ex: HttpExchange) => {
      lastBody = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val idx = math.min(calls.getAndIncrement(), script.length - 1)
      val (status, body) = script(idx)
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length.toLong)
      if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/v1/chat/completions",
      calls, () => lastBody)
    finally server.stop(0)
  }

  private val cands = Seq("12345678901" -> "Acme Widgets Pty Ltd",
    "98765432109" -> "Harbour Mining Group")

  test("picked key is returned; prompt carries query + candidates; auth header optional") {
    withServer(Seq(200 -> completion("98765432109"))) { (ep, calls, lastBody) =>
      val got = new HttpLlmStrategy(ep, apiKey = Some("test-key"))
        .adjudicate("Harbour Mining", cands)
      assert(got.contains("98765432109"))
      assert(calls.get() == 1)
      assert(lastBody().contains("\"temperature\":0"))
      assert(lastBody().contains("Harbour Mining"))
      assert(lastBody().contains("12345678901"))
    }
  }

  test("'none' reply abstains (case-insensitive), unknown key abstains") {
    withServer(Seq(200 -> completion("None"))) { (ep, _, _) =>
      assert(new HttpLlmStrategy(ep).adjudicate("Acme", cands).isEmpty)
    }
    withServer(Seq(200 -> completion("55555555555"))) { (ep, _, _) =>
      assert(new HttpLlmStrategy(ep).adjudicate("Acme", cands).isEmpty)
    }
  }

  test("5xx retries with backoff then succeeds; exhausted retries abstain") {
    withServer(Seq(500 -> "", 500 -> "", 200 -> completion("12345678901"))) {
      (ep, calls, _) =>
        val got = new HttpLlmStrategy(ep, maxRetries = 2).adjudicate("Acme", cands)
        assert(got.contains("12345678901"))
        assert(calls.get() == 3)
    }
    withServer(Seq(500 -> "")) { (ep, calls, _) =>
      assert(new HttpLlmStrategy(ep, maxRetries = 1).adjudicate("Acme", cands).isEmpty)
      assert(calls.get() == 2) // initial + 1 retry
    }
  }

  test("4xx abstains without retrying; malformed JSON abstains") {
    withServer(Seq(401 -> "unauthorized")) { (ep, calls, _) =>
      assert(new HttpLlmStrategy(ep).adjudicate("Acme", cands).isEmpty)
      assert(calls.get() == 1)
    }
    // a malformed 200 body is not transient: must abstain after ONE call
    // even with retries available (retrying would just re-bill the call)
    withServer(Seq(200 -> "{not json")) { (ep, calls, _) =>
      assert(new HttpLlmStrategy(ep, maxRetries = 2).adjudicate("Acme", cands).isEmpty)
      assert(calls.get() == 1)
    }
  }

  test("null name or empty candidates abstain without calling out") {
    withServer(Seq(200 -> completion("12345678901"))) { (ep, calls, _) =>
      val s = new HttpLlmStrategy(ep)
      assert(s.adjudicate(null, cands).isEmpty)
      assert(s.adjudicate("Acme", Nil).isEmpty)
      assert(calls.get() == 0)
    }
  }

  test("fromEnv gates on the endpoint variable, defaulting to the stub") {
    assert(HttpLlmStrategy.fromEnv(Map.empty).isInstanceOf[DeterministicStub])
    val real = HttpLlmStrategy.fromEnv(Map(
      "GRAFT_LLM_ENDPOINT" -> "http://127.0.0.1:9/v1", "GRAFT_LLM_MODEL" -> "m"))
    assert(real.isInstanceOf[HttpLlmStrategy])
  }

  test("prompt snapshot: reference field order and reply contract are pinned") {
    // Field order mirrors the reference prompt (entity_matching.py:186-225):
    // expert-role framing -> query company -> candidate records keyed by
    // their return id -> single-id-or-None return instruction (:225). The
    // client parses the reply as a candidate KEY and treats "None" as
    // abstention, so this snapshot IS the request/response contract: any
    // reordering or rewording that moves a field breaks the suite, not
    // production.
    val s = new HttpLlmStrategy("http://unused.invalid")
    val got = s.prompt("Acme Widgets",
      Seq("11000022333" -> "ACME WIDGETS PTY LTD",
          "99888877666" -> "ACME CONSULTING"))
    val expected =
      """You are an expert in company entity resolution: decide which
        |candidate record refers to the same real-world company as the
        |query name, if any.
        |Query name: Acme Widgets
        |Candidates (key: name):
        |  11000022333: ACME WIDGETS PTY LTD
        |  99888877666: ACME CONSULTING
        |Reply with exactly one candidate key, or None if not confident.""".stripMargin
    assert(got == expected)
    // order invariants, asserted structurally so the intent survives a
    // deliberate rewording: role precedes query, query precedes options,
    // options precede the return instruction; candidates keep input order
    val idx = Seq("expert", "Query name:", "Candidates", "11000022333",
      "99888877666", "Reply with exactly one candidate key").map(got.indexOf)
    assert(idx.forall(_ >= 0) && idx == idx.sorted, idx)
    assert(got.linesIterator.toSeq.last.contains("or None"),
      "abstention instruction must close the prompt (reference :225)")
    // request envelope parity (entity_matching.py:229-232): temperature-0,
    // one user message, the prompt as its content
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val env = mapper.readTree(
      s.requestJson("Acme Widgets", Seq("11000022333" -> "ACME WIDGETS PTY LTD")))
    assert(env.path("temperature").asInt(-1) == 0)
    assert(env.path("messages").size() == 1)
    assert(env.path("messages").path(0).path("role").asText() == "user")
    assert(env.path("messages").path(0).path("content").asText()
      .contains("Query name: Acme Widgets"))
  }

  test("LlmMatch stage end-to-end through the real client class") {
    withServer(Seq(200 -> completion("2"))) { (ep, calls, _) =>
      import spark.implicits._
      val left = Seq((10L, "Harbour Mining", "B1"))
        .toDF("crawl_id", "crawl_name", "block")
      val right = Seq((1L, "Acme Widgets", "B1"), (2L, "Harbour Mining Group", "B1"))
        .toDF("abr_id", "abr_name", "block")
      val got = LlmMatch(left, right, "block",
          "crawl_id", "crawl_name", "abr_id", "abr_name",
          new HttpLlmStrategy(ep))
        .select("crawl_id", "abr_id", "match_method", "match_score")
        .collect()
      assert(got.length == 1)
      assert(got.head.getLong(0) == 10L && got.head.getLong(1) == 2L)
      assert(got.head.getString(2) == "LLM" && got.head.getDouble(3) == 95.0)
      assert(calls.get() >= 1)
    }
  }
}
