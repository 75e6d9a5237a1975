package graft.bench

import graft.ops.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The near-dup workload: the six near-dup operators of `ops.TextOps` over
  * a seeded document corpus, each written to parquet. No frontier or state
  * code runs.
  *
  * Corpus (drawn from the seed): `Originals` documents of `ContentWords`
  * distinct words drawn from a fixed `Vocab`-word vocabulary, in `Sources`
  * sources; `TemplateShare` of them end with one fixed `TemplateWords`-word
  * boilerplate block (the hot buckets). A `PlantedShare` of the originals
  * get a planted near-duplicate with id `NewBase + id` in the same source,
  * of one of three kinds (by id mod 3): 0 repeats the first word at the
  * end (same token set), 1 drops the last word, 2 changes the first letter
  * of the first word. `FreshNew` further documents with ids from
  * `FreshBase` join the planted copies as the incremental operator's new
  * batch; everything below `NewBase` is the indexed old corpus.
  */
object NearDupBench {

  val Originals = 5200
  val Sources = 50
  val ContentWords = 12
  val TemplateWords = 12
  val TemplateShare = 0.7
  val PlantedShare = 0.1
  val FreshNew = 400
  val Vocab = 6000
  val NewBase = 1000000L
  val FreshBase = 2000000L

  val SetupReps = 3
  val WarmDocs = 2500

  // operator parameters (the checks recompute each at the same values)
  val MinhashK = 32
  val MinhashBands = 16
  val MinhashThreshold = 0.8
  val MinhashCap = 512
  val SimhashMaxDist = 3
  val SimhashThreshold = 0.8
  val NgramThreshold = 0.7
  val EditMaxDist = 2
  val EditPrefix = 30
  val WinnowK = 8
  val WinnowW = 4
  val WinnowMinShared = 2
  val WinnowMaxDocFreq = 1000
  /** The edit-distance router's exact-path bound, set below the corpus
    * size so the segment (PassJoin) path runs.
    */
  val EditExactRows = 1000L

  val Ops = Seq("minhash", "minhash_incremental", "simhash", "ngram_lsh",
    "edit_distance", "winnow")

  private def rng(seed: Long, salt: Long, id: Long): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L + salt * 1000003L + id)

  private def word(r: java.util.Random): String = {
    val len = 3 + r.nextInt(7)
    val b = new StringBuilder
    (0 until len).foreach(_ => b.append(('a' + r.nextInt(26)).toChar))
    b.toString
  }

  /** The vocabulary and the boilerplate block are the same for every seed:
    * the block's token hashes set how strongly it pulls every templated
    * document's simhash together, so a seeded block made the candidate
    * volume, and the run time, differ from seed to seed.
    */
  private val (vocab, template) = {
    val vr = rng(0L, 1, 0)
    (Array.fill(Vocab)(word(vr)), Array.fill(TemplateWords)(word(vr)))
  }

  /** (doc_id, source, text) rows of the corpus for `seed`. */
  def corpus(seed: Long, originals: Int): Seq[(Long, String, String)] = {
    val rows = mutable.ArrayBuffer.empty[(Long, String, String)]
    def content(r: java.util.Random): Array[String] = {
      val picked = mutable.LinkedHashSet.empty[String]
      while (picked.size < ContentWords) picked += vocab(r.nextInt(Vocab))
      picked.toArray
    }
    (0 until originals).foreach { i =>
      val r = rng(seed, 2, i)
      val words = content(r) ++ (if (r.nextDouble() < TemplateShare) template else Array.empty[String])
      val source = s"src_${i % Sources}"
      rows += ((i.toLong, source, words.mkString(" ")))
      if (r.nextDouble() < PlantedShare) {
        val copy = i % 3 match {
          case 0 => words :+ words(0)
          case 1 => words.init
          case _ =>
            val w = words(0)
            val c = (('a' + (w(0) - 'a' + 1 + r.nextInt(25)) % 26)).toChar
            (c.toString + w.substring(1)) +: words.tail
        }
        rows += ((NewBase + i, source, copy.mkString(" ")))
      }
    }
    (0 until FreshNew).foreach { j =>
      val r = rng(seed, 3, j)
      rows += ((FreshBase + j, s"src_${j % Sources}", content(r).mkString(" ")))
    }
    rows.toSeq
  }

  private def materialize(spark: SparkSession, seed: Long, originals: Int, dir: String): Unit = {
    import spark.implicits._
    corpus(seed, originals).toDF("doc_id", "source", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .write.parquet(s"$dir/docs")
  }

  /** The band index of the old corpus, as the incremental operator's
    * deployment keeps it: a stored table, built once.
    */
  private def buildIndex(spark: SparkSession, dir: String): Unit = {
    val docs = spark.read.parquet(s"$dir/docs")
    TextOps.minhashBandIndex(docs.filter(col("doc_id") < NewBase), MinhashK, MinhashBands)
      .write.parquet(s"$dir/band_index")
  }

  /** The six operators, each a frame of pairs. */
  private def suite(docs: DataFrame, index: DataFrame,
                    editMaxExactRows: Long): Seq[(String, () => DataFrame)] = {
    val old = docs.filter(col("doc_id") < NewBase)
    val fresh = docs.filter(col("doc_id") >= NewBase)
    Seq(
      "minhash" -> (() => TextOps.minhashLsh(docs, MinhashK, MinhashBands, MinhashThreshold,
        MinhashCap)),
      "minhash_incremental" -> (() => TextOps.minhashLshIncremental(fresh, index, old,
        MinhashK, MinhashBands, MinhashThreshold, MinhashCap)),
      "simhash" -> (() => TextOps.simhashNearDup(docs, SimhashMaxDist, SimhashThreshold)),
      "ngram_lsh" -> (() => TextOps.ngramJaccardLsh(docs, NgramThreshold)),
      "edit_distance" -> (() => TextOps.editDistancePairs(docs, EditMaxDist, EditPrefix,
        editMaxExactRows)),
      "winnow" -> (() => TextOps.winnowPairs(docs, WinnowK, WinnowW, WinnowMinShared,
        WinnowMaxDocFreq)))
  }

  def run(run: Run): Unit = {
    val spark = run.spark
    val work = run.work

    // ---- set-up: one warm-up pass of the suite over a small corpus, then
    // the corpus to parquet + its band index SetupReps times (median reported)
    val (_, warmS) = Run.timed {
      val dir = s"$work/warm_inputs"
      materialize(spark, run.seed + 1, WarmDocs, dir)
      buildIndex(spark, dir)
      // the size router is pinned to its scale path, as in the timed suite.
      // Frames are built in order (that registers the native functions),
      // then written concurrently: the warm-up is mostly single-threaded
      // planning and code generation, which overlaps across operators.
      val frames = suite(spark.read.parquet(s"$dir/docs"), spark.read.parquet(s"$dir/band_index"),
        100L).map { case (name, f) => name -> f() }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(frames.length)
      try {
        frames.map { case (name, df) =>
          pool.submit(new Runnable {
            def run(): Unit = df.write.mode("overwrite").parquet(s"$dir/out_$name")
          })
        }.foreach(_.get())
      } finally pool.shutdown()
      Run.deleteTree(dir)
    }
    val matTimes = (1 to SetupReps).map { i =>
      val dir = s"$work/inputs_$i"
      val (_, s) = Run.timed { materialize(spark, run.seed, Originals, dir); buildIndex(spark, dir) }
      if (i < SetupReps) Run.deleteTree(dir)
      s
    }
    val inputsDir = s"$work/inputs_$SetupReps"
    Run.log(s"setup: warm-up $warmS s, materialize ${matTimes.mkString(", ")} s")
    run.metric("setup_s", Run.median(matTimes) + warmS, "s")

    // ---- timed part: whole suites until the window is used
    val docs = spark.read.parquet(s"$inputsDir/docs")
    val index = spark.read.parquet(s"$inputsDir/band_index")
    val nDocs = docs.count()
    val outDir = s"$work/pairs"
    val opTimes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val opWindows = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Long, Long)]]
    var suites = 0
    var wall = 0.0
    var cpu = 0.0
    val window0 = System.nanoTime()
    do {
      val cpu0 = Run.cpuNs
      val t0 = System.nanoTime()
      suite(docs, index, EditExactRows).foreach { case (name, f) =>
        val s0 = System.currentTimeMillis()
        val (_, s) = Run.timed(run.op(s"TextOps.$name") {
          f().write.mode("overwrite").parquet(s"$outDir/$name")
        })
        Run.log(s"$name: $s s")
        opTimes.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
        opWindows.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ((s0, System.currentTimeMillis()))
      }
      wall += (System.nanoTime() - t0) / 1e9
      cpu += (Run.cpuNs - cpu0) / 1e9
      suites += 1
    } while ((System.nanoTime() - window0) / 1e9 < run.seconds)

    run.metric("items_per_s", suites * nDocs / wall, "items/s")
    run.metric("cpu_ms_per_item", cpu * 1000.0 / (suites * nDocs), "ms/item")
    run.output("docs", s"$inputsDir/docs")
    Seq("minhash_threshold" -> MinhashThreshold, "simhash_threshold" -> SimhashThreshold,
      "simhash_max_dist" -> SimhashMaxDist, "ngram_threshold" -> NgramThreshold,
      "edit_max_dist" -> EditMaxDist, "edit_prefix" -> EditPrefix, "winnow_k" -> WinnowK,
      "winnow_w" -> WinnowW, "winnow_min_shared" -> WinnowMinShared,
      "winnow_max_df" -> WinnowMaxDocFreq, "new_base" -> NewBase, "fresh_base" -> FreshBase)
      .foreach { case (k, v) => run.output(k, v) }
    run.output("pairs", outDir)
    run.output("suites", suites)
    run.output("n_docs", nDocs)

    if (run.traced) {
      val stats = run.stats.get
      stats.settle()
      Ops.foreach { name =>
        run.metric(s"neardup.${name}_s", Run.median(opTimes(name).toSeq), "s")
        val shuffle = opWindows(name).map { case (a, b) => stats.window(a, b).shuffleBytes }
        run.metric(s"neardup.${name}_shuffle_bytes", shuffle.sum.toDouble / shuffle.length, "B")
      }
    }
  }
}
