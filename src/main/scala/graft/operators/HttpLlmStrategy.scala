package graft.operators

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import com.fasterxml.jackson.databind.ObjectMapper

/** J5 — the config-gated HTTP adjudication client behind
  * [[MatchStrategy]]: a chat-completions call per unmatched row, mirroring
  * the reference's adjudication semantics
  * (/root/reference/transform/entity_matching.py:228-248):
  *
  *   - temperature-0, single user message (:229-232);
  *   - a reply of "none" (any case) abstains (:234);
  *   - any other reply is treated as the picked candidate KEY and
  *     validated against the candidate list — the reference looks the
  *     returned key up post-hoc and an unknown key throws into the
  *     catch-and-continue, i.e. abstains (:237, :252-254);
  *   - transport/server (IOException / 5xx) errors retry with exponential
  *     backoff, then abstain (the reference's per-row `except: continue`,
  *     :252-254); 4xx responses and malformed 200 bodies abstain without
  *     retrying (not transient — a retry would only re-bill the call).
  *
  * The production default stays [[DeterministicStub]] — the gate
  * ([[HttpLlmStrategy.fromEnv]]) only activates this client when an
  * endpoint is explicitly configured, mirroring the reference's
  * `enable_llm=False` default (entity_matching.py:303). The request/
  * response shape is the public OpenAI-compatible chat-completions JSON;
  * the prompt is this library's own wording, not the reference's.
  *
  * Scale shape: instances are shipped to executors by
  * [[LlmMatch.adjudicate]]; the HttpClient is @transient-lazy per
  * executor JVM, candidate lists arrive pre-bounded to
  * [[LlmMatch.candidateCap]] by right key (`LlmMatch.apply` caps each
  * left row's before collect_list; the pipeline's blocked pass caps each
  * domain's, then splits them by company name), and each partition issues
  * its rows' calls serially — fan-out parallelism is the partition count,
  * keeping request concurrency explicitly bounded.
  */
final class HttpLlmStrategy(
    endpoint: String,
    model: String = "gpt-4",
    apiKey: Option[String] = None,
    timeoutSeconds: Long = 30L,
    maxRetries: Int = 2) extends MatchStrategy {

  @transient private lazy val client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(timeoutSeconds)).build()
  @transient private lazy val mapper = new ObjectMapper()

  override def adjudicate(
      leftName: String, candidates: Seq[(String, String)]): Option[String] = {
    if (leftName == null || candidates.isEmpty) return None
    val body = requestJson(leftName, candidates)
    var attempt = 0
    while (attempt <= maxRetries) {
      try {
        val b = HttpRequest.newBuilder(URI.create(endpoint))
          .timeout(Duration.ofSeconds(timeoutSeconds))
          .header("Content-Type", "application/json")
        apiKey.foreach(k => b.header("Authorization", s"Bearer $k"))
        val resp = client.send(
          b.POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        if (resp.statusCode() >= 500)
          throw new java.io.IOException(s"server error ${resp.statusCode()}")
        if (resp.statusCode() >= 400) return None
        // a 200 with an unparseable body is NOT transient — retrying it
        // would just re-bill the same call maxRetries times; abstain now
        return try {
          val content = mapper.readTree(resp.body())
            .path("choices").path(0).path("message").path("content")
            .asText("").trim
          if (content.isEmpty || content.equalsIgnoreCase("none")) None
          else candidates.collectFirst { case (k, _) if k == content => k }
        } catch { case _: Exception => None }
      } catch {
        case _: InterruptedException =>
          Thread.currentThread().interrupt(); return None
        // only transport/server errors are transient; anything else
        // (bad endpoint URI, serialization bug) abstains without retry
        case _: java.io.IOException if attempt < maxRetries =>
          try Thread.sleep(100L << attempt)
          catch { case _: InterruptedException =>
            Thread.currentThread().interrupt(); return None }
          attempt += 1
        case _: Exception => return None
      }
    }
    None
  }

  private[graft] def requestJson(
      leftName: String, candidates: Seq[(String, String)]): String = {
    val root = mapper.createObjectNode()
    root.put("model", model)
    root.put("temperature", 0)
    val m = root.putArray("messages").addObject()
    m.put("role", "user")
    m.put("content", prompt(leftName, candidates))
    mapper.writeValueAsString(root)
  }

  /** The adjudication prompt. Field ORDER mirrors the reference's
    * (entity_matching.py:186-225): expert-role framing, then the query
    * company, then the candidate records keyed by their return id, then
    * the single-id-or-None return instruction (the reference's "Return
    * only the best matching ABR record ABN if confident, otherwise
    * return None", :225). The WORDING is this library's own — shorter
    * role/guideline text, and candidates carry (key, name) rather than
    * (entity_name, abn, postcode) dicts because [[MatchStrategy]] scopes
    * adjudication to the name after postcode blocking has already run.
    * Pinned by the `LlmClientSpec` snapshot test: any drift in field
    * order or the reply contract (the client parses the reply as a
    * candidate KEY; "None" abstains) fails the suite. */
  private[graft] def prompt(
      leftName: String, candidates: Seq[(String, String)]): String = {
    val opts = candidates.map { case (k, n) => s"  $k: $n" }.mkString("\n")
    s"""You are an expert in company entity resolution: decide which
       |candidate record refers to the same real-world company as the
       |query name, if any.
       |Query name: $leftName
       |Candidates (key: name):
       |$opts
       |Reply with exactly one candidate key, or None if not confident.""".stripMargin
  }
}

object HttpLlmStrategy {
  /** Config gate: the real client activates only when
    * `GRAFT_LLM_ENDPOINT` is set (optional `GRAFT_LLM_MODEL`,
    * `GRAFT_LLM_API_KEY`); otherwise the deterministic stub — the
    * reference's `enable_llm=False` default (entity_matching.py:303). */
  def fromEnv(env: Map[String, String] = sys.env): MatchStrategy =
    env.get("GRAFT_LLM_ENDPOINT") match {
      case Some(ep) => new HttpLlmStrategy(ep,
        model = env.getOrElse("GRAFT_LLM_MODEL", "gpt-4"),
        apiKey = env.get("GRAFT_LLM_API_KEY"))
      case None => new DeterministicStub()
    }
}
