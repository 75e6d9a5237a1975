package graft

import org.apache.spark.sql.SparkSession

/** Runs a block with Spark's interpreted evaluators instead of Janino code
  * generation, and restores the session's settings afterwards, also when
  * the block throws. Queries running on the same session meanwhile run
  * interpreted too.
  *
  * Why: Spark's codegen cache keys a class by (class loader, source) and
  * holds 100 entries in 4 LRU segments of 25. In local mode each
  * whole-stage class is compiled twice, once on the driver to validate it
  * and once in the tasks, whose class loader differs, so it takes two
  * entries. A cyclic working set larger than a segment hits nothing: every
  * cycle recompiles all of it and HotSpot re-JITs each new class. Work that
  * runs interpreted compiles nothing and leaves the cache to the rest.
  *
  * Both settings are needed: `wholeStage=false` alone still compiles every
  * projection, predicate and ordering one by one. `factoryMode` is marked
  * internal in Spark; PipelineSpec pins its effect (at most a few Janino
  * compilations per crawl round), so an upgrade that ignores it fails there.
  * A few helper classes Spark has no interpreted form of (cached-column
  * iterators, unsafe-row joiners, orderings) still compile, once per JVM.
  */
object Interpreted {

  private val Confs = Seq(
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    "spark.sql.codegen.wholeStage" -> "false")

  def apply[T](spark: SparkSession)(body: => T): T = {
    val caller = Confs.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    try {
      Confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally caller.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
