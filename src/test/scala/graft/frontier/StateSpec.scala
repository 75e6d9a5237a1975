package graft.frontier

import graft.jobs.{Compaction, CrawlRound}
import graft.synth.PagesGen
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Checkpoint compaction of the round-delta state (the Iceberg
  * manifest-compaction analog): readers see identical data through a base
  * snapshot, resumes continue correctly, MERGE ordering survives, and
  * vacuum bounds the dir count. A crash inside a round or a checkpoint
  * leaves the previous snapshot readable.
  */
class StateSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-state-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val crawlInputs = (PagesGen.pages(spark, 1200L).toDF(),
    PagesGen.seedUrls(spark, 1200L).toDF(), PagesGen.hostPolicy(spark).toDF())

  private def runRound(state: RoundState, round: Int): CrawlRound.RoundStats = {
    val (pages, seeds, policy) = crawlInputs
    CrawlRound.run(spark, pages, seeds, policy, state, round, 60.0)
  }

  private def runAll(stateDir: String, stopAfter: Int = Int.MaxValue): RoundState = {
    val state = new RoundState(spark, stateDir)
    var round = state.nextRound
    var continue = true
    while (continue && round < stopAfter) {
      if (runRound(state, round).frontier == 0) continue = false
      round += 1
    }
    state
  }

  private def tmp(): String = Files.createTempDirectory("graft_state_").toString

  /** Spark jobs `body` submits from this thread. The listener bus is
    * asynchronous, so a marker job is run last and awaited.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val (group, marker) = (s"body-${System.nanoTime()}", s"marker-${System.nanoTime()}")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val seenMarker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case `marker` => seenMarker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "body")
      val out = body
      sc.setJobGroup(marker, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(seenMarker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("checkpoint + resume equals a straight-through run; time travel survives") {
    val dir = tmp()
    val state = runAll(dir, stopAfter = 2)
    // fold the first 2 rounds of every in-round table into base snapshots
    Seq("seen", "crawled", "discovered", "metrics", "cooling", "ordering")
      .foreach(state.checkpointTable)
    assert(state.checkpointedBase("seen").contains(1))
    val resumed = runAll(dir) // rounds 2.. read through the base
    val straight = runAll(tmp())
    def ord(s: RoundState) = s.readCommitted("ordering").get
      .select("round", "host", "sched_rank", "canon_url")
      .collect().map(_.toString).sorted
    assert(ord(resumed).sameElements(ord(straight)))
    assert(resumed.readCommitted("seen").get.count() ==
      straight.readCommitted("seen").get.count())
    // raw deltas still on disk -> readAsOf time travel below the base works
    val asOf0 = resumed.readAsOf("ordering", 0).get
    assert(asOf0.filter(col("round") > 0).isEmpty && asOf0.count() > 0)
  }

  test("writeDelta memoizes the read-back schema: no footer inference, widening seen") {
    val dir = tmp()
    val state = new RoundState(spark, dir)
    // both columns non-nullable; a parquet read makes them nullable
    val narrow = spark.range(3).select(col("id"), lit("x").as("v"))
    assert(narrow.schema.forall(!_.nullable))
    state.writeDelta("t", 0, narrow)
    state.commit(0, Map("round" -> 0))
    state.writeDelta("t", 1, narrow)
    state.commit(1, Map("round" -> 1))
    val (read, jobs) = jobsDuring(state.readCommitted("t").get)
    assert(jobs == 0, s"$jobs schema-inference job(s)")
    assert(read.schema == spark.read.parquet(s"$dir/t/round=0").schema)
    assert(read.count() == 6)
    // a widened delta written in this process is seen by the next read
    state.writeDelta("t", 2, narrow.withColumn("w", lit(1.5)))
    state.commit(2, Map("round" -> 2))
    val (wide, wideJobs) = jobsDuring(state.readCommitted("t").get)
    assert(wideJobs == 0)
    assert(wide.columns.toSeq == Seq("id", "v", "w"))
    assert(wide.filter(col("w").isNotNull).count() == 3 && wide.count() == 9)
  }

  test("per-row _round provenance survives the fold — MERGE ordering intact") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmp()
    val state = new RoundState(spark, dir)
    def df(rows: Seq[(String, String, String, Option[String])]) =
      rows.toDF("platform", "source_id", "name", "description")
    state.writeDelta("out_companies", 0, df(Seq(
      ("p", "A", "A0", Some("d0")), ("p", "B", "B0", None))))
    state.commit(0, Map("round" -> 0))
    state.writeDelta("out_companies", 1, df(Seq(("p", "A", "A1", None))))
    state.commit(1, Map("round" -> 1))
    state.checkpointTable("out_companies")
    // newer delta AFTER the checkpoint
    state.writeDelta("out_companies", 2, df(Seq(("p", "B", "B2", Some("d2")))))
    state.commit(2, Map("round" -> 2))
    val cur = Compaction.readCompacted(state, "out_companies",
        Seq("platform", "source_id"), ifnullCols = Seq("description")).get
      .collect().map(r => r.getString(1) -> r).toMap
    assert(cur("A").getString(2) == "A1")   // round-1 name wins inside the base
    assert(cur("A").getString(3) == "d0")   // IFNULL guard across base rows
    assert(cur("B").getString(2) == "B2")   // post-checkpoint delta wins
    assert(cur("B").getString(3) == "d2")
  }

  test("state layer works against an explicit file:// URI (Hadoop FileSystem API)") {
    val dir = "file://" + tmp()
    val state = runAll(dir, stopAfter = 2)
    Seq("seen", "ordering").foreach(state.checkpointTable)
    assert(state.checkpointedBase("ordering").contains(1))
    val resumed = runAll(dir)
    val straight = runAll(tmp())
    def ord(s: RoundState) = s.readCommitted("ordering").get
      .select("round", "host", "sched_rank", "canon_url")
      .collect().map(_.toString).sorted
    assert(ord(resumed).sameElements(ord(straight)))
  }

  test("re-checkpoint at the same round is crash-safe: fresh attempt dir, pointer flips last") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmp()
    val state = new RoundState(spark, dir)
    state.writeDelta("t", 0, Seq((1, "a"), (2, "b")).toDF("k", "v"))
    state.commit(0, Map("round" -> 0))
    state.checkpointTable("t")
    val before = state.readCommitted("t").get.collect().map(_.toString).sorted
    state.checkpointTable("t") // same round again: must not touch the live base
    assert(state.checkpointedBase("t").contains(0))
    assert(state.readCommitted("t").get.collect().map(_.toString).sorted
      .sameElements(before))
    // both attempts exist until vacuum; vacuum keeps only the referenced one
    def bases = Files.list(Paths.get(dir, "t")).iterator()
    var names = List.empty[String]
    bases.forEachRemaining(p => names ::= p.getFileName.toString)
    assert(names.count(_.startsWith("_base_")) == 2, names.toString)
    state.vacuumTable("t")
    names = List.empty[String]
    bases.forEachRemaining(p => names ::= p.getFileName.toString)
    assert(names.count(_.startsWith("_base_")) == 1, names.toString)
    assert(state.readCommitted("t").get.collect().map(_.toString).sorted
      .sameElements(before))
  }

  test("crash inside a round: previous snapshot readable, retry overwrites orphans, resume equal") {
    def rows(df: Option[org.apache.spark.sql.DataFrame]) =
      df.get.collect().map(_.toString).sorted.toSeq
    def names(dir: java.nio.file.Path): Seq[String] = {
      var out = List.empty[String]
      Files.list(dir).iterator().forEachRemaining(p => out ::= p.getFileName.toString)
      out.sorted
    }
    def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit =
      Files.walk(src).iterator().forEachRemaining(p =>
        Files.copy(p, dst.resolve(src.relativize(p).toString)))
    // round 0 commits once; state A copies it and runs round 1 to completion
    val round0 = Paths.get(tmp(), "state")
    runRound(new RoundState(spark, round0.toString), 0)
    val dirA = Paths.get(tmp(), "state")
    copyTree(round0, dirA)
    val a = new RoundState(spark, dirA.toString)
    assert(runRound(a, 1).scheduled > 0)
    val deltaTables = names(dirA).filter(t => Files.isDirectory(dirA.resolve(s"$t/round=1")))
    assert(deltaTables.contains("seen") && deltaTables.contains("ordering"), deltaTables)
    // state B: round 1 dies after writing the deltas of `orphaned` (and a
    // stray part file of a task killed mid-write), before its manifest
    Seq(Seq("seen"), deltaTables).foreach { orphaned =>
      val dirB = Paths.get(tmp(), "state")
      copyTree(round0, dirB)
      orphaned.foreach { t =>
        copyTree(dirA.resolve(s"$t/round=1"), dirB.resolve(s"$t/round=1"))
        names(dirA.resolve(s"$t/round=0")).find(_.endsWith(".parquet")).foreach(n =>
          Files.copy(dirA.resolve(s"$t/round=0/$n"),
            dirB.resolve(s"$t/round=1/part-crashed.parquet")))
      }
      assert(Files.exists(dirB.resolve("seen/round=1/part-crashed.parquet")))
      val fresh = new RoundState(spark, dirB.toString)
      assert(fresh.committedRounds == Seq(0), orphaned)
      Seq("seen", "ordering").foreach(t =>
        assert(rows(fresh.readCommitted(t)) == rows(a.readAsOf(t, 0)), s"$t $orphaned"))
      // the retried round rewrites every delta dir it owns
      assert(runRound(fresh, 1).scheduled > 0)
      orphaned.foreach(t => assert(
        !Files.exists(dirB.resolve(s"$t/round=1/part-crashed.parquet")), s"$t $orphaned"))
      val resumed = new RoundState(spark, dirB.toString)
      assert(resumed.committedRounds == Seq(0, 1))
      Seq("seen", "ordering").foreach(t =>
        assert(rows(resumed.readCommitted(t)) == rows(a.readCommitted(t)), s"$t $orphaned"))
    }
  }

  test("crash between base write and pointer flip leaves readers intact") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmp()
    val state = new RoundState(spark, dir)
    state.writeDelta("t", 0, Seq((1, "a"), (2, "b")).toDF("k", "v"))
    state.commit(0, Map("round" -> 0))
    val before = state.readCommitted("t").get.collect().map(_.toString).sorted
    state.checkpointTable("t")
    // simulate the crash: the base landed but the pointer write never did
    val ptrDir = Paths.get(dir, "_checkpoints", "t")
    Files.list(ptrDir).iterator().forEachRemaining(p => Files.delete(p))
    // readers fall back to the raw deltas (still on disk until vacuum)
    assert(state.checkpointedBase("t").isEmpty)
    assert(state.readCommitted("t").get.collect().map(_.toString).sorted
      .sameElements(before))
    // a re-checkpoint heals: fresh attempt dir, pointer lands, reads equal
    state.checkpointTable("t")
    assert(state.checkpointedBase("t").contains(0))
    assert(state.readCommitted("t").get.collect().map(_.toString).sorted
      .sameElements(before))
  }

  test("metadata memo: reads are a stale snapshot until refresh() sees another writer") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmp()
    val writer = new RoundState(spark, dir)
    val reader = new RoundState(spark, dir)
    writer.writeDelta("t", 0, Seq((1, "a")).toDF("k", "v"))
    writer.commit(0, Map("round" -> 0))
    assert(reader.committedRounds == Seq(0)) // primes the reader's memo
    assert(reader.readCommitted("t").get.count() == 1)
    // another writer advances the log; the reader's epoch must NOT move —
    // snapshot isolation within an epoch is the contract, not a bug
    writer.writeDelta("t", 1, Seq((2, "b")).toDF("k", "v"))
    writer.commit(1, Map("round" -> 1))
    assert(reader.committedRounds == Seq(0))
    assert(reader.readCommitted("t").get.count() == 1)
    assert(reader.readManifest(1).isEmpty)
    reader.refresh()
    assert(reader.committedRounds == Seq(0, 1))
    assert(reader.readCommitted("t").get.count() == 2)
    assert(reader.readManifest(1).flatMap(_.get("round")).contains("1"))
    // the writer's own commit() self-invalidated — no refresh needed there
    assert(writer.committedRounds == Seq(0, 1))
  }

  test("vacuum prunes crashed-attempt ._base_*.tmp leftovers") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmp()
    val state = new RoundState(spark, dir)
    state.writeDelta("t", 0, Seq((1, "a")).toDF("k", "v"))
    state.commit(0, Map("round" -> 0))
    state.checkpointTable("t")
    // simulate a checkpoint attempt that crashed mid-base-write: the dot-tmp
    // dir exists, no base was renamed, no pointer references it
    Files.createDirectory(Paths.get(dir, "t", "._base_0_a9.tmp"))
    state.vacuumTable("t")
    val names = Files.list(Paths.get(dir, "t")).iterator()
    var left = List.empty[String]
    names.forEachRemaining(p => left ::= p.getFileName.toString)
    assert(!left.exists(_.startsWith("._base_")), left.toString)
    assert(left.count(_.startsWith("_base_")) == 1, left.toString)
    assert(state.readCommitted("t").get.count() == 1)
  }

  test("manifest values with quotes/backslashes round-trip commit -> readManifest") {
    val dir = tmp()
    val state = new RoundState(spark, dir)
    val tricky = """he said "hi" C:\tmp\x, {brace}"""
    state.commit(0, Map("round" -> 0, "note" -> tricky, "n" -> 7L))
    val m = new RoundState(spark, dir).readManifest(0).get
    assert(m("note") == tricky)
    assert(m("n") == "7")
    assert(m("round") == "0")
  }

  test("200-round state: checkpoint+vacuum keeps reads O(1) dirs (S10 at scale)") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmp()
    val state = new RoundState(spark, dir)
    // one real parquet delta, fs-copied to 200 round dirs (the test is about
    // metadata shape, not 200 Spark write jobs)
    state.writeDelta("t", 0, Seq((0, "v")).toDF("k", "v"))
    state.commit(0, Map("round" -> 0))
    val src = Paths.get(dir, "t", "round=0")
    (1 until 200).foreach { r =>
      val dst = Paths.get(dir, "t", s"round=$r")
      Files.createDirectories(dst)
      Files.list(src).iterator().forEachRemaining { p =>
        Files.copy(p, dst.resolve(p.getFileName.toString))
      }
      state.commit(r, Map("round" -> r))
    }
    state.refresh()
    assert(state.committedRounds.size == 200)
    assert(state.readCommitted("t").get.count() == 200)
    state.checkpointTable("t")
    state.vacuumTable("t")
    // after vacuum the table dir holds exactly the one referenced base: a
    // reader lists O(1) dirs no matter how many rounds committed
    val names = Files.list(Paths.get(dir, "t")).iterator()
    var left = List.empty[String]
    names.forEachRemaining(p => left ::= p.getFileName.toString)
    assert(left.size == 1 && left.head.startsWith("_base_"), left.toString)
    val read = state.readCommitted("t").get
    assert(read.count() == 200)
    assert(read.inputFiles.forall(_.contains("_base_")), "read must touch only the base")
    // metadata reads inside one epoch are memoized: a burst of state reads
    // (the ~7-per-round crawl pattern) costs one listing epoch, so 100
    // readCommitted plan constructions stay well under a second each
    val t0 = System.nanoTime()
    (0 until 100).foreach(_ => state.readCommitted("t"))
    val perCall = (System.nanoTime() - t0) / 1e9 / 100
    assert(perCall < 0.5, f"readCommitted took $perCall%.3f s/call after vacuum")
  }

  test("vacuum removes covered deltas; readers unchanged") {
    val dir = tmp()
    val state = runAll(dir)
    val before = state.readCommitted("seen").get.count()
    state.checkpointTable("seen")
    state.vacuumTable("seen")
    // all covered delta dirs are gone
    val left = Files.list(Paths.get(dir, "seen")).iterator()
    var names = List.empty[String]
    while (left.hasNext) names ::= left.next().getFileName.toString
    assert(names.forall(_.startsWith("_base_")), names.toString)
    assert(state.readCommitted("seen").get.count() == before)
  }
}
