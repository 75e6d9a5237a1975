package graft.bench

import graft.extract.{ExtractEntities, Platforms}
import graft.frontier.{Politeness, RoundState, ShardedSeen}
import graft.jobs.{Compaction, CrawlRound, ExtractJob}
import graft.synth.PagesGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The two crawl workloads: the whole frontier → budget → fetch join →
  * extract → state-commit loop of `CrawlRound.run`, driven round by round
  * until the frontier is empty, then `Compaction.publish`.
  */
object CrawlBench {

  /** One crawl configuration. `roundSeconds` sets every host's budget
    * (floor(rate × roundSeconds), up to 1.5× that under the adaptive-rate
    * law); `nShards` × max(`bloomCapacity` / `nShards`, 4096) is the seen
    * filter's sizing.
    */
  final case class Shape(pages: Long, roundSeconds: Double, nShards: Int,
                         bloomCapacity: Long, resumeAfter: Option[Int])

  /** Budgets far above any host's URL count: the frontier drains in three
    * rounds (seeds, then the URLs discovered on listing pages, then the
    * empty round), so the fetch join and extraction carry the work.
    */
  val Bulk = Shape(pages = 8000L, roundSeconds = 4000.0,
    nShards = ShardedSeen.DefaultShards, bloomCapacity = 1000000L, resumeAfter = None)

  /** Tight budgets: the 104 host (55% of the URLs) needs three rounds at
    * 1,200 → 1,320 → 1,452 URLs, whatever the seed, then one empty round;
    * each round pays the round's fixed cost, with a resume from a fresh
    * `RoundState` after round 2. One shard of 4,096 keys holds a seen set
    * of ~6,000 URLs, so the filter overfills.
    */
  val Polite = Shape(pages = 6300L, roundSeconds = 240.0, nShards = 1,
    bloomCapacity = 4096L, resumeAfter = Some(2))

  /** Set-up repeats input materialization this many times (each into a
    * fresh directory) and reports the median, after a warm-up crawl.
    */
  val SetupReps = 3
  /** The warm-up crawl runs two rounds, so that the round-1 paths (seen
    * probe, committed-state reads, adaptive rates) are compiled before the
    * timed crawl; with one round the timed crawl's CPU per URL spread 10%
    * between runs.
    */
  val WarmPages = 200L
  val WarmRounds = 2
  /** Never-crawled URLs probed against the finished seen filters. */
  val NeverCrawled = 20000
  /** Pages extracted by the single-thread and Spark extract probes. */
  val ExtractSample = 1500

  final case class RoundRec(round: Int, startMs: Long, endMs: Long, wallS: Double,
                            frontier: Long, scheduled: Long, extracted: Long)
  final case class CrawlRec(stateDir: String, rounds: Seq[RoundRec], wallS: Double,
                            cpuS: Double, scheduled: Long, extracted: Long)

  def bulk(run: Run): Unit = crawlWorkload(run, Bulk)
  def polite(run: Run): Unit = crawlWorkload(run, Polite)

  private final case class Inputs(pages: DataFrame, seeds: DataFrame, policy: DataFrame)

  private def materialize(spark: SparkSession, n: Long, seed: Long, dir: String): Unit = {
    import spark.implicits._
    PagesGen.pages(spark, n, seed).write.parquet(s"$dir/pages")
    PagesGen.seedUrls(spark, n, seed).write.parquet(s"$dir/seeds")
    PagesGen.hostPolicy(spark).toDF().write.parquet(s"$dir/policy")
  }

  private def read(spark: SparkSession, dir: String): Inputs =
    Inputs(spark.read.parquet(s"$dir/pages"), spark.read.parquet(s"$dir/seeds"),
      spark.read.parquet(s"$dir/policy"))

  private def crawl(run: Run, shape: Shape, in: Inputs, stateDir: String,
                    maxRounds: Int = 60): CrawlRec = {
    val spark = run.spark
    var state = new RoundState(spark, stateDir)
    val rounds = mutable.ArrayBuffer.empty[RoundRec]
    val cpu0 = Run.cpuNs
    val t0 = System.nanoTime()
    var round = 0
    var more = true
    while (more) {
      if (shape.resumeAfter.contains(round))
        state = run.op("RoundState.resume") {
          val fresh = new RoundState(spark, stateDir)
          require(fresh.nextRound == round, s"resume sees round ${fresh.nextRound}, expected $round")
          fresh
        }
      val startMs = System.currentTimeMillis()
      val (st, wall) = Run.timed(run.op("CrawlRound.run") {
        CrawlRound.run(spark, in.pages, in.seeds, in.policy, state, round, shape.roundSeconds,
          bloomCapacity = shape.bloomCapacity, nShards = shape.nShards)
      })
      Run.log(s"round $round: ${st.scheduled} scheduled in $wall s")
      rounds += RoundRec(round, startMs, System.currentTimeMillis(), wall,
        st.frontier, st.scheduled, st.extracted)
      more = st.frontier > 0 && round + 1 < maxRounds
      round += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = (Run.cpuNs - cpu0) / 1e9
    CrawlRec(stateDir, rounds.toSeq, wallS, cpuS, rounds.map(_.scheduled).sum,
      rounds.map(_.extracted).sum)
  }

  private def crawlWorkload(run: Run, shape: Shape): Unit = {
    val spark = run.spark
    val work = run.work

    // ---- set-up: a warm-up round over a small corpus, then the inputs to
    // parquet SetupReps times (median reported)
    val (_, warmS) = Run.timed {
      materialize(spark, WarmPages, run.seed + 1, s"$work/warm_inputs")
      crawl(new Run(spark, run.seed, 0, work, run.cpus, new Trace(false), None),
        shape, read(spark, s"$work/warm_inputs"), s"$work/warm_state", maxRounds = WarmRounds)
      Seq("warm_inputs", "warm_state").foreach(d => Run.deleteTree(s"$work/$d"))
    }
    val matTimes = (1 to SetupReps).map { i =>
      val dir = s"$work/inputs_$i"
      val (_, s) = Run.timed(materialize(spark, shape.pages, run.seed, dir))
      if (i < SetupReps) Run.deleteTree(dir)
      s
    }
    val inputsDir = s"$work/inputs_$SetupReps"
    Run.log(s"setup: warm-up $warmS s, materialize ${matTimes.mkString(", ")} s")
    run.metric("setup_s", Run.median(matTimes) + warmS, "s")

    // ---- timed part: whole crawls until the window is used
    val in = read(spark, inputsDir)
    val crawls = mutable.ArrayBuffer.empty[CrawlRec]
    val window0 = System.nanoTime()
    do {
      val i = crawls.length
      val rec = crawl(run, shape, in, s"$work/state_$i")
      crawls += rec
      Run.log(s"crawl ${rec.wallS} s")
    } while ((System.nanoTime() - window0) / 1e9 < run.seconds)

    val first = crawls.head
    val scheduled = crawls.map(_.scheduled).sum
    run.metric("items_per_s", scheduled / crawls.map(_.wallS).sum, "items/s")
    run.metric("cpu_ms_per_item", crawls.map(_.cpuS).sum * 1000.0 / scheduled, "ms/item")
    val (stateBytes, stateFiles) = Run.du(first.stateDir)
    run.metric("state.bytes_per_url", stateBytes.toDouble / first.scheduled, "B/url")
    crawls.tail.foreach(c => Run.deleteTree(c.stateDir))

    run.output("state", first.stateDir)
    run.output("inputs", inputsDir)
    run.output("pages", shape.pages)
    run.output("round_seconds", shape.roundSeconds)
    run.output("crawls", crawls.length)
    run.output("rounds", first.rounds.length)
    run.output("scheduled", first.scheduled)
    run.output("extracted", first.extracted)

    // publish of the finished crawl: traced runs only, to keep the untimed
    // remainder of a run short (its time is the per-layer compaction.publish_s)
    if (run.traced) {
      val warehouse = s"$work/warehouse"
      val (_, pubS) = Run.timed(run.op("Compaction.publish") {
        Compaction.publish(spark, new RoundState(spark, first.stateDir), warehouse)
      })
      run.metric("compaction.publish_s", pubS, "s")
      run.output("warehouse", warehouse)
      layers(run, shape, crawls.toSeq, in, stateFiles)
    }
  }

  private def hostPlatform(url: String): String =
    if (url.contains("104.com.tw")) Platforms.P104
    else if (url.contains("1111.com.tw")) Platforms.P1111
    else if (url.contains("cake.me")) Platforms.CAKE
    else if (url.contains("yes123.com.tw")) Platforms.YES123
    else Platforms.YOURATOR

  /** Per-layer figures of a traced run: Spark's counters per round, and
    * calls into the frontier, extract and state layers replayed on the
    * finished state of the first crawl.
    */
  private def layers(run: Run, shape: Shape, crawls: Seq[CrawlRec], in: Inputs,
                     stateFiles: Long): Unit = {
    val spark = run.spark
    import spark.implicits._
    val stats = run.stats.get
    stats.settle()
    val first = crawls.head
    val allRounds = crawls.flatMap(_.rounds)
    val scheduled = crawls.map(_.scheduled).sum.toDouble
    val wins = allRounds.map(r => r -> stats.window(r.startMs, r.endMs))
    val nRounds = allRounds.length.toDouble
    run.metric("round.wall_p50_s", Run.median(allRounds.map(_.wallS)), "s")
    run.metric("round.driver_only_s",
      Run.median(wins.map { case (r, w) => math.max(0.0, r.wallS - w.busyMs / 1000.0) }), "s")
    run.metric("round.spark_jobs", wins.map(_._2.jobs).sum / nRounds, "jobs")
    run.metric("round.tasks", wins.map(_._2.tasks).sum / nRounds, "tasks")
    run.metric("round.shuffle_bytes_per_url", wins.map(_._2.shuffleBytes).sum / scheduled, "B/url")
    run.metric("round.spill_bytes", wins.map(_._2.spillBytes).sum / nRounds, "B")
    run.metric("round.task_skew", Run.median(wins.filter(_._2.tasks > 0).map(_._2.skew)), "ratio")
    run.metric("round.bytes_written_per_url", wins.map(_._2.bytesWritten).sum / scheduled, "B/url")
    val taskMs = wins.map(_._2.taskMs).sum.toDouble
    val (feTaskMs, feWallMs) = stats.taskMsOfCallSite(wins.flatMap(_._2.jobIds),
      "collect at CrawlRound.scala")
    run.metric("round.fetch_extract_task_share", if (taskMs > 0) feTaskMs / taskMs else 0.0, "share")
    run.metric("round.fetch_extract_wall_share",
      feWallMs / 1000.0 / allRounds.map(_.wallS).sum, "share")

    // files written per round: the round's delta directories plus its manifest
    val stateDir = first.stateDir
    val roundDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(stateDir)).iterator()
    var roundFiles = 0L
    var filterBytes = 0L
    var filterRounds = 0
    while (roundDirs.hasNext) {
      val p = roundDirs.next()
      if (java.nio.file.Files.isRegularFile(p) && p.toString.contains("/round=")) roundFiles += 1
      if (java.nio.file.Files.isDirectory(p) && p.getFileName.toString.startsWith("round=") &&
          p.getParent.getFileName.toString == ShardedSeen.Table) {
        filterBytes += Run.du(p.toString)._1
        filterRounds += 1
      }
    }
    run.metric("round.files_written", (roundFiles + first.rounds.length) / first.rounds.length.toDouble, "files")
    run.metric("seen.filter_bytes_per_round", filterBytes / math.max(1, filterRounds).toDouble, "B")

    // ---- frontier.ShardedSeen: probe and update replayed on the final filters
    val state = new RoundState(spark, stateDir)
    val lastManifest = state.readManifest(state.committedRounds.last).get
    val nShards = lastManifest("seen_shards").toInt
    val filters = state.readLatestSnapshot(ShardedSeen.Table).get.as[ShardedSeen.ShardRow].cache()
    filters.count()
    val crawled = state.readCommitted("seen").get.select("canon_url")
    val never = spark.range(NeverCrawled).select(
      concat(lit(s"https://www.104.com.tw/job/never-${run.seed}-"), col("id").cast("string")).as("canon_url"),
      lit(true).as("_never"))
    val cands = crawled.withColumn("_never", lit(false)).unionByName(never).cache()
    val nCands = cands.count()
    val (probed, probeS) = Run.timed(run.op("ShardedSeen.probe") {
      ShardedSeen.probe(cands, filters, "canon_url", nShards)
        .groupBy("_never", "_maybe_seen").count().collect()
    })
    def cnt(never: Boolean, maybe: Boolean): Long = probed
      .find(r => r.getBoolean(0) == never && r.getBoolean(1) == maybe).map(_.getLong(2)).getOrElse(0L)
    run.metric("seen.probe_keys_per_s", nCands / probeS, "keys/s")
    run.metric("seen.backstop_rows", (cnt(false, true) + cnt(true, true)).toDouble, "rows")
    run.metric("seen.false_maybe_share", cnt(true, true).toDouble / NeverCrawled, "share")
    val perRound = math.max(1L, first.scheduled / math.max(1, first.rounds.count(_.scheduled > 0)))
    val delta = never.select("canon_url").limit(perRound.toInt)
    val capPerShard = math.max(shape.bloomCapacity / nShards, 4096L)
    val (_, updS) = Run.timed(run.op("ShardedSeen.updated") {
      ShardedSeen.updated(Some(filters), delta, "canon_url", nShards, capPerShard)
        .write.format("noop").mode("overwrite").save()
    })
    run.metric("seen.update_s", updS, "s")

    // ---- frontier.Politeness: selectBudget over round 0's ranking input
    val rank0 = spark.read.parquet(s"$stateDir/rank_input/round=0").cache()
    val nRank = rank0.count()
    val (_, selS) = Run.timed(run.op("Politeness.selectBudget") {
      Politeness.selectBudget(rank0, sizeHint = Some(nRank)).write.format("noop").mode("overwrite").save()
    })
    run.metric("politeness.select_rows_per_s", nRank / selS, "rows/s")

    // ---- extract: a fixed sample of stored html, one thread, then Spark
    val sample = in.pages.select("url", "html")
      .filter(!col("url").contains("/jobs/search/list/") && !col("url").contains("joblist.asp"))
      .orderBy("url").limit(ExtractSample).as[(String, Array[Byte])].collect()
      .map { case (u, h) => (u, hostPlatform(u), new String(h, "UTF-8")) }
    // each probe runs once untimed, so the timed pass measures warm code
    def core(): Unit = sample.foreach { case (u, p, h) => ExtractEntities(u, p, h) }
    core()
    val (_, coreS) = Run.timed(run.op("ExtractEntities")(core()))
    run.metric("extract.core_pages_per_s", sample.length / coreS, "pages/s")
    val sampleDf = sample.toSeq.map { case (u, p, h) => (u, p, "host", "cat", h.getBytes("UTF-8")) }
      .toDF("canon_url", "platform", "host", "category_id", "html").cache()
    sampleDf.count()
    def job(): Unit = ExtractJob.extractPages(sampleDf).write.format("noop").mode("overwrite").save()
    job()
    val (_, jobS) = Run.timed(run.op("ExtractJob.extractPages")(job()))
    run.metric("extract_job.pages_per_s", sample.length / jobS, "pages/s")

    // ---- frontier.RoundState: delta writes and commits replayed into a
    // scratch state, reads of the finished one
    val replay = new RoundState(spark, s"${run.work}/replay_state")
    val writeTimes = mutable.ArrayBuffer.empty[Double]
    val commitTimes = mutable.ArrayBuffer.empty[Double]
    first.rounds.filter(_.scheduled > 0).foreach { r =>
      val d = spark.read.parquet(s"$stateDir/seen/round=${r.round}").cache()
      d.count()
      writeTimes += Run.timed(run.op("RoundState.writeDelta")(replay.writeDelta("seen", r.round, d)))._2
      commitTimes += Run.timed(run.op("RoundState.commit")(
        replay.commit(r.round, Map("round" -> r.round, "scheduled" -> r.scheduled))))._2
      d.unpersist()
    }
    run.metric("state.write_delta_s", Run.median(writeTimes.toSeq), "s")
    run.metric("state.commit_s", Run.median(commitTimes.toSeq), "s")
    val fresh = new RoundState(spark, stateDir)
    val (_, resumeS) = Run.timed(run.op("RoundState.readCommitted")(fresh.readCommitted("seen").get.count()))
    val (_, readS) = Run.timed(run.op("RoundState.readCommitted")(fresh.readCommitted("seen").get.count()))
    run.metric("state.resume_s", resumeS, "s")
    run.metric("state.read_committed_s", readS, "s")
    run.metric("state.files", stateFiles.toDouble, "files")

    // ---- jobs.Compaction: the current tb_jobs view
    val (_, curS) = Run.timed(run.op("Compaction.currentJobs") {
      Compaction.currentJobs(fresh).get.write.format("noop").mode("overwrite").save()
    })
    run.metric("compaction.current_jobs_s", curS, "s")
    Run.deleteTree(s"${run.work}/replay_state")
  }
}
