package graft.jobs

import graft.frontier.{Politeness, RoundState}
import graft.synth.PagesGen
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Reports (A1-A7), export (S6), and the adaptive-rate law (P4). */
class ReportsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-reports-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val state: RoundState = {
    val dir = Files.createTempDirectory("graft_reports_").toString
    val pages = PagesGen.pages(spark, 600L).toDF()
    val seeds = PagesGen.seedUrls(spark, 600L).toDF()
    val policy = PagesGen.hostPolicy(spark).toDF()
    val s = new RoundState(spark, dir)
    var round = 0
    var continue = true
    while (continue && round < 10) {
      val st = CrawlRound.run(spark, pages, seeds, policy, s, round, 30.0)
      if (st.frontier == 0) continue = false
      round += 1
    }
    s
  }

  test("adaptive-rate law matches throttler.py arithmetic") {
    // x1.1 per >=50-success round, cap 1.5x
    assert(math.abs(Politeness.adaptRateStep(5.0, 5.0, 60, 0) - 5.5) < 1e-9)
    assert(Politeness.adaptRateStep(5.0, 7.4, 60, 0) == 7.5) // cap
    // x0.7 on rate-limit, floor 0.1x
    assert(math.abs(Politeness.adaptRateStep(5.0, 5.0, 60, 1) - 3.5) < 1e-9)
    assert(math.abs(Politeness.adaptRateStep(5.0, 0.6, 0, 1) - 0.5) < 1e-9) // floor
    // no streak, no limit -> unchanged
    assert(Politeness.adaptRateStep(5.0, 5.0, 49, 0) == 5.0)
  }

  test("distributed adaptPolicy fold equals the sequential adaptRateStep law") {
    import spark.implicits._
    val policy = Seq(("h1", 5.0), ("h2", 3.0), ("h3", 7.0))
      .toDF("host", "rate_per_s")
    val metrics = Seq(
      ("h1", 0, 60L, 0L), ("h1", 1, 60L, 0L), ("h1", 2, 10L, 1L),
      ("h2", 0, 49L, 0L))
      .toDF("host", "round", "success_requests", "rate_limited")
    val eff = Politeness.adaptPolicy(policy, Some(metrics))
      .select("host", "eff_rate_per_s").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    def fold(base: Double, hist: Seq[(Long, Long)]): Double =
      hist.foldLeft(base) { case (c, (s, l)) => Politeness.adaptRateStep(base, c, s, l) }
    assert(math.abs(eff("h1") - fold(5.0, Seq((60L, 0L), (60L, 0L), (10L, 1L)))) < 1e-9)
    assert(eff("h2") == 3.0) // 49 successes: no streak bonus
    assert(eff("h3") == 7.0) // no metrics at all: base rate
  }

  test("platform health rollup with EWMA latency") {
    val metrics = state.readCommitted("metrics").get
    val health = Reports.platformHealth(metrics).cache()
    assert(health.count() > 0)
    // totals add up and EWMA stays within [min, max] of round means
    val check = health.join(
      metrics.groupBy("platform").agg(
        sum("total_requests").as("tot"),
        min("avg_latency_ms").as("mn"), max("avg_latency_ms").as("mx")),
      "platform")
      .filter(col("total_requests") =!= col("tot") ||
        col("avg_latency_ms_ewma") < floor(col("mn")) - 1 ||
        col("avg_latency_ms_ewma") > ceil(col("mx")) + 1)
    assert(check.isEmpty)
    health.unpersist()
  }

  test("validation alerts, missing rates, counts") {
    val jobs = state.readCommitted("out_jobs").get
    val alerts = Reports.validationAlerts(jobs)
    assert(alerts.count() > 0)
    // synthetic corpus: many jobs have experience quirk -> invalid; alert
    // logic itself must mirror (total>=10 && ratio>0.3)
    val bad = alerts.filter(col("alert") =!=
      (col("total") >= 10 && col("fail_ratio") > 0.3))
    assert(bad.isEmpty)
    val mr = Reports.missingRates(jobs).collect()(0)
    assert(mr.getDouble(0) == 0.0) // title never missing on extracted jobs
    assert(Reports.countsByPlatform(jobs).count() == 5)
    assert(Reports.antiHallucinationViolations(
      state.readCommitted("out_companies").get).isEmpty)
  }

  test("CSV export: UTF-8 BOM, header, ISO dates") {
    val jobs = state.readCommitted("out_jobs").get
      .select("platform", "source_id", "title", "posted_at").limit(20)
    val out = Files.createTempDirectory("graft_export_").toString + "/jobs.csv"
    Export.toCsv(jobs, out)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out))
    assert(bytes(0) == 0xEF.toByte && bytes(1) == 0xBB.toByte && bytes(2) == 0xBF.toByte)
    val text = new String(bytes, 3, bytes.length - 3, "UTF-8")
    val lines = text.split("\n")
    assert(lines(0).startsWith("platform,source_id,title,posted_at"))
    assert(lines.length >= 2)
    // ISO date shape in the last column when present
    val dateRe = "\\d{4}-\\d{2}-\\d{2}$".r
    assert(lines.drop(1).filter(_.nonEmpty).forall(l =>
      l.endsWith(",") || dateRe.findFirstIn(l).isDefined))
  }
}
