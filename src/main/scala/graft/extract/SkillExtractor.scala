package graft.extract

import scala.util.matching.Regex

/** Port of core/enrichment/skill_extractor.py:15-84 — static lexicon
  * word-boundary matching, case-insensitive dedup, confidence 1.0.
  * (The reference's LLM skill-discovery path is not ported.)
  */
object SkillExtractor {

  // SKILL_MAP (skill_extractor.py:15-35), same order
  val skillMap: List[(String, List[String])] = List(
    "Programming" -> List("Python", "Java", "Javascript", "Node.js", "Ruby", "Golang",
      "Go", "C++", "C#", "PHP", "Rust", "Swift", "Kotlin", "Typescript", "Dart",
      "SQL", "HTML", "CSS"),
    "Framework" -> List("Django", "Flask", "Spring", "React", "Vue", "Angular",
      "Express", "Laravel", "Rails", "FastAPI", "Next.js", "Nuxt.js", "Flutter", "Tailwind"),
    "Tool/Infra" -> List("Docker", "Kubernetes", "K8s", "AWS", "GCP", "Azure", "Git",
      "Jenkins", "CI/CD", "Redis", "Elasticsearch", "PostgreSQL", "MySQL", "MongoDB",
      "RabbitMQ", "Kafka"),
    "AI/Data" -> List("PyTorch", "TensorFlow", "Scikit-Learn", "Numpy", "Pandas",
      "LLM", "OpenAI", "NLP", "Computer Vision"),
    "SoftSkill" -> List("Communication", "專案管理", "溝通", "Excel", "PPT", "Word"))

  // rf'\b{re.escape(skill)}\b' IGNORECASE — \b has unicode semantics in Python
  private val patterns: List[(String, String, Regex)] =
    for ((sType, skills) <- skillMap; skill <- skills)
      yield (skill, sType,
        ("(?iU)\\b" + java.util.regex.Pattern.quote(skill) + "\\b").r)

  /** Returns (skill_name, skill_type) in lexicon order, deduped
    * case-insensitively (first hit wins).
    */
  def extract(text: String): List[(String, String)] = {
    if (text == null || text.isEmpty) return Nil
    val found = scala.collection.mutable.Set.empty[String]
    val out = scala.collection.mutable.ListBuffer.empty[(String, String)]
    for ((name, sType, re) <- patterns) {
      if (re.findFirstIn(text).isDefined) {
        val low = name.toLowerCase
        if (!found.contains(low)) {
          out += ((name, sType))
          found += low
        }
      }
    }
    out.toList
  }
}
