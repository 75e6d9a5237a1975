package graft.jobs

import graft.frontier.RoundState
import graft.synth.PagesGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Pipeline-level tests (SURVEY.md §5.2 items 3-5): determinism across
  * parallelism, resume-from-checkpoint equivalence, politeness budgets,
  * robots rules, and the ported acceptance-audit SQL.
  */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val N = 1200L
  private val RoundSeconds = 60.0 // 104 budget 300/round

  private def runAll(stateDir: String, shufflePartitions: Int,
                     stopAfter: Int = Int.MaxValue): RoundState = {
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    val pages = PagesGen.pages(spark, N).toDF()
    val seeds = PagesGen.seedUrls(spark, N).toDF()
    val policy = PagesGen.hostPolicy(spark).toDF()
    val state = new RoundState(spark, stateDir)
    var round = state.nextRound
    var continue = true
    while (continue && round < stopAfter) {
      val st = CrawlRound.run(spark, pages, seeds, policy, state, round, RoundSeconds)
      if (st.frontier == 0) continue = false
      round += 1
    }
    state
  }

  private def tmp(): String = Files.createTempDirectory("graft_pipe_").toString

  private def ordering(state: RoundState): DataFrame =
    state.readCommitted("ordering").get
      .select("round", "host", "sched_rank", "canon_url")

  /** Executed plans of the queries `body` runs. The listener bus is
    * asynchronous, so a marker query is run last and awaited.
    */
  private def plansDuring[T](body: => T): (T, Seq[SparkPlan]) = {
    val marker = "graft_plans_marker"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val seenMarker = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) seenMarker.countDown()
        else plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      spark.range(1).toDF(marker).collect()
      assert(seenMarker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Whole-stage codegen stages in a plan, cached relations' plans included. */
  private def codegenStages(plan: SparkPlan): Int = {
    val h = new AdaptiveSparkPlanHelper {}
    h.collectWithSubqueries(plan) { case _: WholeStageCodegenExec => 1 }.sum +
      h.collectWithSubqueries(plan) {
        case m: InMemoryTableScanExec => codegenStages(m.relation.cachedPlan)
      }.sum
  }

  private def manifests(state: RoundState): Seq[Map[String, String]] =
    state.committedRounds.map(r => state.readManifest(r).get)

  /** A whole crawl, and the executed plans of each round. */
  private def crawlWithPlans(): (RoundState, Seq[Seq[SparkPlan]]) = {
    val pages = PagesGen.pages(spark, N).toDF()
    val seeds = PagesGen.seedUrls(spark, N).toDF()
    val policy = PagesGen.hostPolicy(spark).toDF()
    val state = new RoundState(spark, tmp())
    val plans = scala.collection.mutable.ArrayBuffer.empty[Seq[SparkPlan]]
    var more = true
    while (more) {
      val (st, p) = plansDuring(CrawlRound.run(spark, pages, seeds, policy, state, plans.size,
        RoundSeconds))
      plans += p
      more = st.frontier > 0
    }
    (state, plans.toSeq)
  }

  test("crawl ordering and URL-seen set are identical across parallelism levels") {
    val sA = runAll(tmp(), shufflePartitions = 2)
    val sB = runAll(tmp(), shufflePartitions = 16)
    val ordA = ordering(sA).collect().map(_.toString).sorted
    val ordB = ordering(sB).collect().map(_.toString).sorted
    assert(ordA.length > 0)
    assert(ordA.sameElements(ordB))
    val seenA = sA.readCommitted("seen").get.collect().map(_.getString(0)).sorted
    val seenB = sB.readCommitted("seen").get.collect().map(_.getString(0)).sorted
    assert(seenA.sameElements(seenB))
  }

  test("resume from checkpoint is equivalent to a straight-through run") {
    val dirC = tmp()
    runAll(dirC, 4, stopAfter = 2) // partial run: 2 committed rounds
    val resumed = runAll(dirC, 4) // resumes at round 2 via manifests
    val straight = runAll(tmp(), 4)
    val a = ordering(resumed).collect().map(_.toString).sorted
    val b = ordering(straight).collect().map(_.toString).sorted
    assert(a.sameElements(b))
    val jobsA = resumed.readCommitted("out_jobs").get
      .select("platform", "source_id").collect().map(_.toString).sorted
    val jobsB = straight.readCommitted("out_jobs").get
      .select("platform", "source_id").collect().map(_.toString).sorted
    assert(jobsA.sameElements(jobsB))
  }

  test("politeness: per-host per-round scheduled count never exceeds budget") {
    val state = runAll(tmp(), 4)
    val ord = state.readCommitted("ordering").get
    // adaptive rate can raise budgets up to 1.5x base (throttler.py law)
    val budgets = Map(
      "www.104.com.tw" -> 450L, "www.1111.com.tw" -> 450L, "www.cake.me" -> 450L,
      "www.yes123.com.tw" -> 270L, "www.yourator.co" -> 450L)
    val counts = ord.groupBy("round", "host").count().collect()
    assert(counts.nonEmpty)
    counts.foreach { r =>
      val host = r.getString(1)
      val cnt = r.getLong(2)
      assert(cnt <= budgets.getOrElse(host, 180L), s"host $host round ${r.get(0)}: $cnt")
    }
    // sched_rank is dense 1..n per (round, host)
    val bad = ord.groupBy("round", "host")
      .agg(count(lit(1)).as("n"), max("sched_rank").as("mx"), min("sched_rank").as("mn"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1)
    assert(bad.isEmpty)
  }

  test("robots deny prefixes are never scheduled") {
    val state = runAll(tmp(), 4)
    val ord = state.readCommitted("ordering").get
    val offenders = ord.filter(
      (col("host").isin("www.104.com.tw", "www.1111.com.tw")) &&
        col("canon_url").contains("/admin"))
    assert(offenders.isEmpty)
  }

  test("URL-seen set: no URL is ever scheduled twice across rounds") {
    val state = runAll(tmp(), 4)
    val dup = state.readCommitted("seen").get
      .groupBy("canon_url").count().filter(col("count") > 1)
    assert(dup.isEmpty)
  }

  test("cooling: a cooled host is excluded until its round expires") {
    import spark.implicits._
    val dir = tmp()
    val state = new RoundState(spark, dir)
    // pre-seed a committed round 0 that cools the mega-host through round 2
    state.writeDelta("cooling", 0,
      Seq(("www.104.com.tw", 3)).toDF("host", "until_round"))
    state.commit(0, Map("round" -> 0, "seeded" -> "cooling"))
    runAll(dir, 4)
    val ord = state.readCommitted("ordering").get.cache()
    val earlyHits = ord.filter(col("host") === "www.104.com.tw" && col("round") < 3).count()
    val lateHits = ord.filter(col("host") === "www.104.com.tw" && col("round") >= 3).count()
    assert(earlyHits == 0, s"cooled host scheduled early: $earlyHits")
    assert(lateHits > 0, "cooled host never recovered")
    ord.unpersist()
  }

  test("F3 discovery grows the frontier: listing-only URLs are scheduled in later rounds") {
    import graft.frontier.Discovery
    val state = runAll(tmp(), 4)
    val ord = state.readCommitted("ordering").get.cache()
    val seeds = PagesGen.seedUrls(spark, N).toDF()
    val discovered = state.readCommitted("discovered").get.select("url").distinct().cache()
    assert(discovered.count() > 0, "no URLs were discovered from listing pages")
    // the frontier genuinely grew: discovered URLs are absent from the seeds
    assert(discovered.join(seeds, Seq("url"), "left_semi").isEmpty)
    // every discovered URL is scheduled exactly once, and only after the
    // round that fetched its listing (never round 0)
    val sched = ord.join(discovered.select(col("url").as("canon_url")),
      Seq("canon_url"), "left_semi")
    assert(sched.count() == discovered.count())
    assert(sched.filter(col("round") === 0).isEmpty)
    // S3 lineage: listing fetches carry their api/browser kind
    assert(ord.filter(Discovery.isListing(col("canon_url")) &&
      col("fetch_kind") === "api").count() > 0)
    assert(ord.filter(col("fetch_kind") === "browser" &&
      col("host") === "www.cake.me").count() > 0)
    discovered.unpersist()
    ord.unpersist()
  }

  test("F6 per-category discovery limit caps candidates per (platform, category)") {
    val dir = tmp()
    val state = new RoundState(spark, dir)
    val pages = PagesGen.pages(spark, N).toDF()
    val seeds = PagesGen.seedUrls(spark, N).toDF()
    val policy = PagesGen.hostPolicy(spark).toDF()
    CrawlRound.run(spark, pages, seeds, policy, state, 0, RoundSeconds,
      categoryLimit = Some(2))
    val d = state.readCommitted("discovered").get
    assert(d.count() > 0)
    val over = d.groupBy("platform", "category_id").count().filter(col("count") > 2)
    assert(over.isEmpty)
  }

  test("broadcast guard splits an oversized round without losing URLs") {
    val pages = PagesGen.pages(spark, N).toDF()
    val seeds = PagesGen.seedUrls(spark, N).toDF()
    val policy = PagesGen.hostPolicy(spark).toDF()
    def runWith(cap: Long): RoundState = {
      val st = new RoundState(spark, tmp())
      var round = 0
      var continue = true
      while (continue && round < 40) {
        val s = CrawlRound.run(spark, pages, seeds, policy, st, round, RoundSeconds,
          maxScheduledPerRound = cap)
        assert(s.scheduled <= cap + 5, // +#hosts slack: min 1 URL per host
          s"round $round scheduled ${s.scheduled} > cap $cap")
        if (s.frontier == 0) continue = false
        round += 1
      }
      st
    }
    val capped = runWith(120L)
    val free = runWith(2000000L)
    assert(capped.committedRounds.size > free.committedRounds.size,
      "tiny cap must split rounds")
    // no URL lost: the cumulative seen set is identical, only the round
    // assignment differs
    val a = capped.readCommitted("seen").get.collect().map(_.getString(0)).sorted
    val b = free.readCommitted("seen").get.collect().map(_.getString(0)).sorted
    assert(a.sameElements(b))
  }

  test("snapshot time travel: readAsOf(k) sees exactly the first k+1 rounds") {
    val state = runAll(tmp(), 4)
    val rounds = state.committedRounds
    assert(rounds.size >= 2)
    val mid = rounds(rounds.size / 2)
    val asOf = state.readAsOf("ordering", mid).get
    val full = state.readCommitted("ordering").get
    // as-of view == the full view filtered to rounds <= mid
    val expected = full.filter(col("round") <= mid)
    assert(asOf.exceptAll(expected).isEmpty && expected.exceptAll(asOf).isEmpty)
    // later rounds are invisible to the as-of reader
    assert(asOf.filter(col("round") > mid).isEmpty)
  }

  test("seen count rides the manifest and the sharded filters cover the full history") {
    import graft.frontier.{SeenSet, ShardedSeen}
    val state = runAll(tmp(), 4)
    val last = state.committedRounds.last
    val manifest = state.readManifest(last).get
    val total = manifest("seen_total").toLong
    assert(total == state.readCommitted("seen").get.count(),
      "manifest seen_total must equal the materialized seen table size")
    // the latest snapshot must contain EVERY seen URL in its shard — a
    // delta-only snapshot (the round-2 pre-carry bug) would fail this
    val nShards = manifest("seen_shards").toInt
    val snap = state.readLatestSnapshot(ShardedSeen.Table).get.collect()
    val filters = snap.map(r =>
      r.getAs[Int]("shard") -> SeenSet.deserialize(r.getAs[Array[Byte]]("bits"))).toMap
    val seen = state.readCommitted("seen").get.collect().map(_.getString(0))
    assert(seen.nonEmpty && filters.nonEmpty)
    seen.foreach { u =>
      val s = ShardedSeen.shardOf(u, nShards)
      assert(filters.get(s).exists(_.mightContainString(u)),
        s"seen url $u not covered by shard $s")
    }
    // per-task filter memory is O(capacity / B): stored per-shard capacity
    // is the sliced deployment capacity, never the whole
    val caps = snap.map(_.getAs[Long]("capacity")).distinct
    assert(caps.forall(_ <= math.max(4000000L / nShards, 4096L)),
      s"shard capacity not sliced: $caps")
  }

  test("pre-shard resume bootstraps filters from FULL history — no re-scheduling") {
    import graft.frontier.ShardedSeen
    val dir = tmp()
    runAll(dir, 4, stopAfter = 2) // 2 committed rounds
    // simulate a state written by an engine version without filter
    // snapshots: delete them; the resume's first round must fall back to
    // the exact anti-join AND rebuild the snapshot over the whole history
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete()
    }
    rm(new java.io.File(s"$dir/${ShardedSeen.Table}"))
    val resumed = runAll(dir, 4)
    // the round-2 advice bug: a delta-only bootstrap made later rounds treat
    // historical URLs as definitely-new and double-schedule them
    val dup = resumed.readCommitted("seen").get
      .groupBy("canon_url").count().filter(col("count") > 1)
    assert(dup.isEmpty, "URLs re-scheduled after pre-shard resume")
    val straight = runAll(tmp(), 4)
    val a = ordering(resumed).collect().map(_.toString).sorted
    val b = ordering(straight).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("resume with a different bloom-capacity argument keeps the stored geometry") {
    // round-2 advice: capacity derived from per-run args threw
    // IncompatibleMergeException on resume; sharded filters persist their
    // capacity per row and size delta filters from it
    val dir = tmp()
    val pages = PagesGen.pages(spark, N).toDF()
    val seeds = PagesGen.seedUrls(spark, N).toDF()
    val policy = PagesGen.hostPolicy(spark).toDF()
    val state = new RoundState(spark, dir)
    CrawlRound.run(spark, pages, seeds, policy, state, 0, RoundSeconds,
      bloomCapacity = 1000000L)
    // grow-the-corpus resume: different capacity argument must not throw
    val st = CrawlRound.run(spark, pages, seeds, policy, state, 1, RoundSeconds,
      bloomCapacity = 9000000L)
    assert(st.scheduled > 0)
    val dup = state.readCommitted("seen").get
      .groupBy("canon_url").count().filter(col("count") > 1)
    assert(dup.isEmpty)
  }

  test("S5 MERGE compaction: re-crawled keys fold to latest with IFNULL guards") {
    import spark.implicits._
    val dir = tmp()
    val state = new RoundState(spark, dir)
    def df(rows: Seq[(String, String, String, Option[String], Option[String], Option[String])]) =
      rows.toDF("platform", "source_id", "name", "company_url", "company_web", "description")
    state.writeDelta("out_companies", 0, df(Seq(
      ("platform_yourator", "A", "AName0", Some("http://u0"), None, Some("d0")),
      ("platform_yourator", "B", "BName0", None, Some("http://w0"), None))))
    state.commit(0, Map("round" -> 0))
    // re-crawl of A: newer round carries NULLs for guarded cols
    state.writeDelta("out_companies", 1, df(Seq(
      ("platform_yourator", "A", "AName1", None, Some("http://w1"), None))))
    state.commit(1, Map("round" -> 1))

    val cur = Compaction.currentCompanies(state).get
      .collect().map(r => r.getString(1) -> r).toMap
    assert(cur.size == 2) // counts stable under re-crawl
    val a = cur("A")
    assert(a.getString(2) == "AName1")        // plain col: latest wins
    assert(a.getString(3) == "http://u0")     // IFNULL guard: old non-null kept
    assert(a.getString(4) == "http://w1")     // guard: latest non-null wins
    assert(a.getString(5) == "d0")            // guard: NULL must not clobber
    val b = cur("B")
    assert(b.getString(2) == "BName0" && b.getString(4) == "http://w0")
    assert(b.isNullAt(3) && b.isNullAt(5))
  }

  test("quarantine delta captures schema-invalid rows") {
    val state = runAll(tmp(), 4)
    val quarantine = state.readCommitted("quarantine").get
    val jobs = state.readCommitted("out_jobs").get
    assert(quarantine.count() == jobs.filter(!col("is_valid")).count())
  }

  test("acceptance audits ported from small_sample_test_plan.md / verify_data.py") {
    val state = runAll(tmp(), 4)
    val jobs = state.readCommitted("out_jobs").get
    val companies = state.readCommitted("out_companies").get
    assert(jobs.count() > 0 && companies.count() > 0)

    // anti-hallucination: employees < 2 and capital < 100000 must be absent
    assert(companies.filter(col("employee_count").cast("long") < 2).isEmpty)
    assert(companies.filter(col("capital").cast("long") < 100000).isEmpty)
    // privacy leakage
    assert(companies.filter(col("capital").contains("暫不公開") ||
      col("employee_count").contains("暫不公開")).isEmpty)
    // address hygiene: no internal id noise or UI labels or JSON braces
    val addrNoise = jobs.filter(col("address").rlike("no=|\\{|\\}|薪資待遇|上班時段|查看地圖"))
    assert(addrNoise.isEmpty)
    // company FK completeness on extracted jobs
    assert(jobs.filter(col("company_source_id").isNull).isEmpty)
    // every company row referenced by a job exists (J1 join completeness)
    val orphan = jobs.select("platform", "company_source_id").distinct()
      .join(companies.select(col("platform"), col("source_id").as("company_source_id")),
        Seq("platform", "company_source_id"), "left_anti")
    assert(orphan.isEmpty)
    // locations have non-null coords by construction
    val locs = state.readCommitted("out_locations").get
    assert(locs.filter(col("latitude").isNull || col("longitude").isNull).isEmpty)
    // skills explode produced typed rows
    val skills = state.readCommitted("out_skills").get
    assert(skills.count() > 0)
    assert(skills.filter(col("skill_type").isNull).isEmpty)
  }

  test("crawl rounds run interpreted: no whole-stage codegen, no Janino compiles") {
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val (first, plans) = crawlWithPlans()
    // the same crawl again: the few helper classes Spark has no interpreted
    // form of (cached-column iterators, row joiners, orderings) were
    // compiled once by the first crawl
    val (again, _) = crawlWithPlans()
    assert(plans.size > 2 && plans.flatten.nonEmpty)
    assert(plans.flatten.map(codegenStages).sum == 0)
    // spark.sql.codegen.factoryMode is internal to Spark: a round that
    // compiles again means an upgrade stopped honouring it (a codegen round
    // compiles ~190 classes)
    val laterCompiles = manifests(again).drop(1).map(_("janino_compiles").toLong)
    assert(laterCompiles.nonEmpty && laterCompiles.forall(_ <= 5), laterCompiles)
    // every phase of a non-empty round rides its manifest
    val phases = manifests(first).head.filter(_._1.startsWith("phase_"))
    assert(phases.keySet == Set("phase_frontier_plan_s", "phase_frontier_s",
      "phase_budget_rank_s", "phase_fetch_extract_s", "phase_write_outputs_s"))
    assert(phases.values.forall(_.toDouble >= 0.0))
  }

  test("a round restores the session's codegen settings, also when it throws") {
    val (factory, wholeStage) = ("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    def setting(k: String): Option[String] = spark.conf.getAll.get(k)
    val pages = PagesGen.pages(spark, N).toDF()
    val seeds = PagesGen.seedUrls(spark, N).toDF()
    val policy = PagesGen.hostPolicy(spark).toDF()
    try {
      // one setting set by the caller, the other unset
      spark.conf.set(factory, "FALLBACK")
      spark.conf.unset(wholeStage)
      val st = CrawlRound.run(spark, pages, seeds, policy, new RoundState(spark, tmp()), 0,
        RoundSeconds)
      assert(st.scheduled > 0)
      assert(setting(factory).contains("FALLBACK") && setting(wholeStage).isEmpty)

      // the other way round, and a round that fails after the settings were set:
      // a pages table without html fails the fetch join
      spark.conf.unset(factory)
      spark.conf.set(wholeStage, "true")
      intercept[org.apache.spark.sql.AnalysisException] {
        CrawlRound.run(spark, pages.drop("html"), seeds, policy, new RoundState(spark, tmp()), 0,
          RoundSeconds)
      }
      assert(setting(factory).isEmpty && setting(wholeStage).contains("true"))
    } finally {
      spark.conf.unset(factory)
      spark.conf.unset(wholeStage)
      spark.catalog.clearCache()
    }
  }
}
