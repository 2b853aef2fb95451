package graft.etl

import com.fasterxml.jackson.databind.ObjectMapper

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** Live HTTP transport for the LLM rewrite operator — the Scala
  * counterpart of the reference's Azure OpenAI client
  * (`llm_processing.py:92-116,161-177`). The offline [[Llm.MockClient]]
  * stays the default everywhere; this client is opted into via
  * [[LlmHttp.fromEnv]], mirroring the reference's "no key → mock" rule
  * (`llm_processing.py:102-107`).
  *
  * Transport is `java.net.http` (JDK built-in, zero extra deps) and JSON
  * is Jackson (already on Spark's runtime classpath). The request body
  * reproduces the reference call exactly: per-language system prompt +
  * user-prompt-prefixed text, `max_tokens=300, temperature=0,
  * frequency_penalty=0, presence_penalty=0, top_p=1`
  * (`llm_processing.py:163-174`).
  */
object LlmHttp {

  /** Per-language (system prompt, user prompt prefix) — semantic
    * constants parity requires, verbatim from `llm_processing.py:20-78`
    * (TC / EN / JP / SC). */
  val Prompts: Map[String, (String, String)] = Map(
    "1" -> ((
      "你是一位專業報告文字編輯，擅長將專業術語改寫成易懂、口吻中性且不過度承諾的白話文。\n" +
      "請遵守以下原則：\n" +
      "1) 繁體中文，不要簡體字。\n" +
      "2) 不臆測、不新增原文未提及的資訊。\n" +
      "3) 保留數字與時間單位(例：3個月、每週)。\n" +
      "4) 將艱澀術語改為一般人能懂的說法。\n" +
      "5) 口吻中性、尊重、具可執行性。\n" +
      "6) 僅輸出『改寫後的單一段文字』，不要加標題或前綴。\n" +
      "7) 單段落1~3句，盡量不超過60字，總長度不超過300字。\n" +
      "8) 譯文以敘述句呈現，不要加入「如果...那麼...」等語氣開頭\n",
      "請將以下內容改寫為專業且易讀、好理解的文字，並且結構及語言要與原文接近：")),
    "2" -> ((
      "You are a professional report editor skilled at rewriting domain terms into plain, neutral language without overpromising.\n" +
      "Please follow these principles:\n" +
      "1) Do not speculate or add any information not mentioned in the original text.\n" +
      "2) Keep all numbers and time units.\n" +
      "3) Replace difficult terms with everyday language understandable to the general public.\n" +
      "4) Maintain a neutral, respectful, and actionable tone.\n" +
      "5) Output only the rewritten single paragraph — do not include any titles or prefixes.\n" +
      "6) Write 1–3 sentences per paragraph, with a total length not exceeding 300 characters.\n" +
      "7) Use declarative sentences only; avoid starting with conditional phrases like 'If... then...'.\n",
      "Please rewrite the following text into professional, readable, and easy-to-understand language, while keeping the structure and tone close to the original text:")),
    "3" -> ((
      "あなたは専門レポートのライターであり、専門用語をわかりやすく、中立的で誇張のない口調に書き換えることが得意です。\n" +
      "次の原則に従ってください：\n" +
      "1) 原文に記載されていない情報を推測したり、追加したりしないこと。\n" +
      "2) 数値や時間の単位は必ず残すこと。\n" +
      "3) 難解な専門用語は一般の人が理解できる表現に置き換えること。\n" +
      "4) 口調は中立的で、敬意を持ち、実行可能な内容にすること。\n" +
      "5) 出力は改写後の単一の段落のみとし、タイトルや前置きは加えないこと。\n" +
      "6) 段落は1〜3文、全体で300字を超えないようにすること。\n" +
      "7) 叙述文で書くこと。\n",
      "次の内容を、読みやすく理解しやすい表現に書き換えてください。文章の構成と言葉の調子は原文に近づけてください。")),
    "4" -> ((
      "你是一位专业报告文字编辑，擅长将专业术语改写为通俗易懂、语气中立且不过度承诺的文字。\n" +
      "请遵守以下原则：\n" +
      "1) 不臆测、不添加原文未提及的信息。" +
      "2) 保留数字与时间单位。" +
      "3) 将艰涩的术语改写为大众能理解的表达方式。" +
      "4) 保持语气中立、尊重且具可执行性。" +
      "5) 仅输出改写后的单一段文字，不要加标题或前缀。" +
      "6) 简体中文。" +
      "7) 每段1至3句，总长度不超过300字。" +
      "8) 使用陈述句表达，不要以“如果……那么……”等语气开头。",
      "请将以下内容改写为专业、易读且容易理解的文字，并保持与原文相近的结构和语气："))
  )

  /** Chat-completions client against an Azure-OpenAI-shaped endpoint:
    * `POST {endpoint}/openai/deployments/{deployment}/chat/completions
    * ?api-version={v}` with an `api-key` header
    * (`llm_processing.py:109-116`).
    *
    * Serializable (one instance ships to each executor partition via
    * [[Llm.rewritePairs]]); the JDK HttpClient itself is `@transient
    * lazy`, rebuilt per JVM. Failures THROW — the retry/degradation
    * policy lives in [[Llm.withRetry]], which keys rate-limit detection
    * off the message text, so the thrown message carries both the HTTP
    * status code and the response body (a 429's "try again in Ns" hint
    * survives into the backoff parser). */
  final class HttpRewriteClient(
      endpoint: String,
      apiKey: String,
      deployment: String = "gpt-4o",
      apiVersion: String = "2024-08-01-preview") extends Llm.RewriteClient {

    @transient private lazy val http: HttpClient =
      HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(10)).build()
    @transient private lazy val mapper = new ObjectMapper()

    private val url =
      s"${endpoint.stripSuffix("/")}/openai/deployments/$deployment/chat/completions?api-version=$apiVersion"

    private def requestBody(langNo: String, text: String): String = {
      // unknown language number throws here (reference: KeyError on
      // SYSTEM_PROMPT[langu_no]) — withRetry degrades it to the input
      val (system, user) = Prompts(langNo)
      val root = mapper.createObjectNode()
      root.put("model", deployment)
      val msgs = root.putArray("messages")
      val m1 = msgs.addObject(); m1.put("role", "system"); m1.put("content", system)
      val m2 = msgs.addObject(); m2.put("role", "user"); m2.put("content", user + text)
      root.put("max_tokens", 300)
      root.put("temperature", 0)
      root.put("frequency_penalty", 0)
      root.put("presence_penalty", 0)
      root.put("top_p", 1)
      mapper.writeValueAsString(root)
    }

    def rewrite(langNo: String, text: String): String = {
      val req = HttpRequest.newBuilder(URI.create(url))
        .timeout(RequestTimeout)
        .header("Content-Type", "application/json")
        .header("api-key", apiKey)
        .POST(HttpRequest.BodyPublishers.ofString(requestBody(langNo, text)))
        .build()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() / 100 != 2)
        throw new RuntimeException(s"HTTP ${resp.statusCode()}: ${resp.body()}")
      val content = mapper.readTree(resp.body())
        .path("choices").path(0).path("message").path("content")
      if (content.isMissingNode || content.isNull)
        throw new RuntimeException(s"malformed completion response: ${resp.body().take(200)}")
      content.asText().trim
    }
  }

  /** Per-call response timeout of [[HttpRewriteClient]]. */
  private val RequestTimeout = Duration.ofSeconds(60)

  /** Client selection by environment, mirroring `llm_processing.py:98-107`:
    * both `AZURE_OPENAI_ENDPOINT` and `AZURE_OPENAI_API_KEY` set → live
    * client (api-version from `AZURE_OPENAI_API_VERSION`, defaulted);
    * otherwise the offline mock. `env` is injectable for tests. */
  def fromEnv(deployment: String = "gpt-4o",
              env: String => Option[String] = sys.env.get): Llm.RewriteClient =
    (for {
      endpoint <- env("AZURE_OPENAI_ENDPOINT").filter(_.nonEmpty)
      key <- env("AZURE_OPENAI_API_KEY").filter(_.nonEmpty)
    } yield new HttpRewriteClient(endpoint, key, deployment,
      env("AZURE_OPENAI_API_VERSION").filter(_.nonEmpty).getOrElse("2024-08-01-preview"))
    ).getOrElse(Llm.MockClient)
}
