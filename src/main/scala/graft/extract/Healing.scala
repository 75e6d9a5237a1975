package graft.extract

import graft.extract.Json._

/** X25 — AI self-healing: when structured JSON-LD extraction fails, an LLM
  * re-extracts the core fields from raw html, a Levenshtein title-similarity
  * gate rejects hallucinations, the result is rebuilt into a mock JSON-LD and
  * pushed back through the SAME platform adapter, and surviving rows carry
  * `data_source_layer = "L2"` lineage.
  *
  * Port of crawl_service.py:207-255 (gate + mock-LD + adapter rerun + L2)
  * and the call-site condition at crawl_service.py:336-337. The LLM itself
  * is STUBBED ([[StubLlm]]) — no model ships in this container — but the
  * whole healing pipeline around it is real and tested; plug a live client
  * in via [[LlmJobExtractor]].
  */
trait LlmJobExtractor extends Serializable {
  /** The reference LLM client's extract_job_from_html contract: a JSON
    * object with title / company_name / description / address / salary_min /
    * salary_max / salary_type keys (missing keys allowed). Empty result =
    * extraction failure.
    */
  def extractJobFromHtml(html: String): Option[JObj]
}

/** Deterministic stand-in for an LLM client (STUB, clearly marked):
  * derives title/company from the page <title> split — the same signal the
  * reference's fallback `_injected_title` path uses — so the gate, mock-LD,
  * and adapter plumbing run end to end without a model.
  */
object StubLlm extends LlmJobExtractor {
  def extractJobFromHtml(html: String): Option[JObj] = {
    val pgTitle = HtmlText.pageTitle(html)
    if (pgTitle.isEmpty) return None
    val parts = pgTitle.split("｜", -1).map(Py.strip)
    val o = JObj.empty
    o.put("title", JStr(parts(0)))
    if (parts.length > 1 && parts(1).nonEmpty) o.put("company_name", JStr(parts(1)))
    o.put("salary_text", JStr("面議"))
    o.put("salary_type", JStr("面議"))
    Some(o)
  }
}

object Healing {

  /** Plain DP Levenshtein (the reference imports the C `Levenshtein` lib —
    * same metric).
    */
  def levenshtein(a: String, b: String): Int = {
    if (a.isEmpty) return b.length
    if (b.isEmpty) return a.length
    var prev = Array.tabulate(b.length + 1)(identity)
    var cur = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      var j = 1
      while (j <= b.length) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(b.length)
  }

  /** crawl_service.py:221-224: sim = 1 - lev(lower, lower) / max(|a|, |b|, 1). */
  def titleSimilarity(original: String, ai: String): Double =
    1.0 - levenshtein(original.toLowerCase, ai.toLowerCase).toDouble /
      math.max(math.max(original.length, ai.length), 1)

  /** crawl_service.py:242-258 `_create_mock_ld` — ordered keys, so raw_json
    * byte behavior stays deterministic.
    */
  def mockLd(aiData: JObj): JObj = {
    def g(k: String): JV = aiData.get(k).getOrElse(JNull)
    val ld = JObj.empty
    ld.put("@type", JStr("JobPosting"))
    ld.put("title", g("title"))
    ld.put("description", g("description"))
    val org = JObj.empty
    org.put("name", g("company_name"))
    ld.put("hiringOrganization", org)
    val loc = JObj.empty
    val addr = JObj.empty
    addr.put("streetAddress", g("address"))
    loc.put("address", addr)
    ld.put("jobLocation", loc)
    val sal = JObj.empty
    val v = JObj.empty
    v.put("minValue", g("salary_min"))
    v.put("maxValue", g("salary_max"))
    v.put("unitText", g("salary_type"))
    sal.put("value", v)
    ld.put("baseSalary", sal)
    ld
  }

  /** crawl_service.py:207-240 `heal_with_ai`: LLM extract → title-similarity
    * gate (reject < 0.4) → mock LD → adapter rerun → L2 lineage on the
    * company row (the job row's layer is applied by the caller's projection).
    * Returns (job, company, healed?).
    */
  def healWithAi(html: String, platform: String, originalTitle: String,
                 url: String, llm: LlmJobExtractor): (Option[JobRow], Option[CompanyRow]) = {
    val aiData = llm.extractJobFromHtml(html) match {
      case Some(d) if truthy(d("title")) => d
      case _ => return (None, None)
    }
    val aiTitle = pyStr(aiData("title"))
    if (titleSimilarity(originalTitle, aiTitle) < 0.4) return (None, None)

    val adapter = AdapterFactory.get(platform)
    val ld = mockLd(aiData)
    val job = adapter.mapToJob(ld, url, Some(html))
    val comp = adapter.mapToCompany(ld, Some(html))
      .map(_.copy(dataSourceLayer = "L2"))
    (job, comp)
  }
}
