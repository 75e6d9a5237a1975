package graft.extract

import graft.extract.Json._
import org.scalatest.funsuite.AnyFunSuite

/** X25 AI self-healing: gate arithmetic (crawl_service.py:221-224), mock-LD
  * construction (242-258), adapter rerun + L2 lineage (226-236), and the
  * call-site condition (336-337) — with the LLM stubbed.
  */
class HealingSpec extends AnyFunSuite {

  test("levenshtein and the title-similarity gate match the reference arithmetic") {
    assert(Healing.levenshtein("kitten", "sitting") == 3)
    assert(Healing.levenshtein("", "abc") == 3)
    assert(Healing.levenshtein("abc", "abc") == 0)
    // sim = 1 - lev/max(|a|,|b|,1); case-insensitive
    assert(math.abs(Healing.titleSimilarity("Backend Engineer", "backend engineer") - 1.0) < 1e-9)
    assert(Healing.titleSimilarity("abcdefghij", "zzzzzzzzzz") == 0.0)
    val sim = Healing.titleSimilarity("資深工程師", "資深工程師助理") // lev=2, max=7
    assert(math.abs(sim - (1.0 - 2.0 / 7)) < 1e-9)
  }

  test("mock LD carries the reference's exact shape") {
    val ai = JObj.empty
    ai.put("title", JStr("T"))
    ai.put("company_name", JStr("C"))
    ai.put("salary_min", JInt(30000))
    ai.put("salary_type", JStr("月薪"))
    val ld = Healing.mockLd(ai)
    assert(ld("@type") == JStr("JobPosting"))
    assert(ld("title") == JStr("T"))
    assert(JsonLd.safeGet(ld, "hiringOrganization", "name") == JStr("C"))
    assert(JsonLd.safeGet(ld, "baseSalary", "value", "minValue") == JInt(30000))
    assert(JsonLd.safeGet(ld, "baseSalary", "value", "unitText") == JStr("月薪"))
    assert(JsonLd.safeGet(ld, "jobLocation", "address", "streetAddress") == JNull)
  }

  private val ldLessHtml =
    """<!DOCTYPE html><html><head>
      |<title>資深後端工程師 Senior Backend Engineer｜酷公司｜人力網</title>
      |</head><body><h1>資深後端工程師</h1></body></html>""".stripMargin

  test("heal end to end: LD-less page recovers through the stub LLM with L2 lineage") {
    val url = "https://www.yourator.co/companies/co5/jobs/777"
    // without a healer: extraction fails (no JSON-LD, no source of a title)
    val plain = ExtractEntities(url, "platform_yourator", ldLessHtml)
    assert(!plain.extractOk)
    // with the stub healer: the gate passes (first title segment is >40% of
    // the page title), the adapter reruns over the mock LD, lineage is L2
    val healed = ExtractEntities(url, "platform_yourator", ldLessHtml, Some(StubLlm))
    assert(healed.extractOk)
    assert(healed.dataSourceLayer == "L2")
    val job = healed.job.get
    assert(job.title.contains("資深後端工程師 Senior Backend Engineer"))
    assert(job.sourceId.contains("777"))
    assert(job.salaryType.contains("面議"))
    // faithful to the reference: the mock LD carries no _url/company ids, so
    // get_company_source_id finds nothing and the healed company is None
    assert(healed.company.isEmpty)
  }

  test("a healed company (when resolvable) carries L2 lineage") {
    val ai = JObj.empty
    ai.put("title", JStr("T"))
    ai.put("company_name", JStr("C"))
    val ld = Healing.mockLd(ai)
    // give the adapter a resolvable company id the way the extract stage
    // does for organic LD objects
    ld.put("_url", JStr("https://www.yourator.co/companies/co5/jobs/777"))
    val comp = (new AdapterYourator).mapToCompany(ld, None)
      .map(_.copy(dataSourceLayer = "L2"))
    assert(comp.exists(c => c.sourceId == "co5" && c.dataSourceLayer == "L2"))
  }

  test("the similarity gate rejects hallucinated titles") {
    val liar = new LlmJobExtractor {
      def extractJobFromHtml(html: String): Option[JObj] = {
        val o = JObj.empty
        o.put("title", JStr("完全無關的另一個職缺"))
        Some(o)
      }
    }
    val url = "https://www.yourator.co/companies/co5/jobs/778"
    val r = ExtractEntities(url, "platform_yourator", ldLessHtml, Some(liar))
    assert(!r.extractOk) // healed job rejected -> extraction stays failed
  }
}
