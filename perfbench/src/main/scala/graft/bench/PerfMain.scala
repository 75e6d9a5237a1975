package graft.bench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable

/** Entry point of one benchmark run, in a JVM of its own:
  *
  * {{{
  *   PerfMain --workload crawl_bulk|crawl_polite|neardup --seed N
  *            --seconds S --trace 0|1 --work DIR --cpus N
  * }}}
  *
  * Set-up generates the inputs from the seed, writes them to parquet under
  * DIR and warms the JVM; the timed part then reads the stored inputs and
  * repeats the workload's unit of work until S seconds have passed. The run
  * writes DIR/result.json (metrics, operation counts, the output paths the
  * checks read) and, when traced, DIR/spans.jsonl.
  */
object PerfMain {

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val cpus = opts.getOrElse("cpus", "4").toInt

    val spark = session(cpus, work)
    val trace = new Trace(traced)
    val stats = if (traced) {
      val s = new JobStats
      spark.sparkContext.addSparkListener(s)
      Some(s)
    } else None
    val run = new Run(spark, seed, seconds, work, cpus, trace, stats)
    workload match {
      case "crawl_bulk" => CrawlBench.bulk(run)
      case "crawl_polite" => CrawlBench.polite(run)
      case "neardup" => NearDupBench.run(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    run.metric("peak_rss_mb", Run.peakRssMb, "MB")
    if (traced) trace.write(s"$work/spans.jsonl")
    run.writeResult(s"$work/result.json", workload)
    spark.stop()
  }

  /** The production settings of `graft.jobs.CrawlMain`: local[N], N
    * shuffle partitions, AQE with skew-join handling, UTC. Scratch space,
    * the warehouse and the metastore stay under the run's directory.
    */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder().appName("graft-perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Shared state of one run: its settings, the metrics and operation counts
  * it reports, and small measuring helpers.
  */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Double,
                val work: String, val cpus: Int, val trace: Trace,
                val stats: Option[JobStats]) {

  def traced: Boolean = trace.on

  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val ops = mutable.LinkedHashMap.empty[String, (Long, Long)]
  private val outputs = mutable.LinkedHashMap.empty[String, String]

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def output(key: String, value: Any): Unit = outputs(key) = value.toString

  /** Count one attempt of a named operation; a throw counts as a failure
    * and propagates (the run then reports no result).
    */
  def op[T](name: String)(body: => T): T = {
    val (a, f) = ops.getOrElse(name, (0L, 0L))
    try {
      val r = trace.span(name)(body)
      ops(name) = (a + 1, f)
      r
    } catch {
      case e: Throwable =>
        ops(name) = (a + 1, f + 1)
        throw e
    }
  }

  def writeResult(path: String, workload: String): Unit = {
    val m = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }
    val o = ops.map { case (k, (a, f)) => s"${Json.str(k)}: [$a, $f]" }
    val out = outputs.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
    val heapMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    val json =
      s"""{"workload": ${Json.str(workload)}, "seed": $seed, "cpus": $cpus, "heap_mb": $heapMb,
         | "metrics": {${m.mkString(", ")}},
         | "ops": {${o.mkString(", ")}},
         | "outputs": {${out.mkString(", ")}}}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(path), json.getBytes("UTF-8"))
  }
}

object Run {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM process (every thread, GC and JIT included). */
  def cpuNs: Long = os.getProcessCpuTime

  private val t0 = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since JVM start-up. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val lines = scala.io.Source.fromFile("/proc/self/status").getLines().toList
    lines.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Bytes and file count of a local directory tree. */
  def du(dir: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) (0L, 0L)
    else {
      var bytes = 0L
      var files = 0L
      val it = java.nio.file.Files.walk(root).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.isRegularFile(p)) {
          bytes += java.nio.file.Files.size(p)
          files += 1
        }
      }
      (bytes, files)
    }
  }

  def deleteTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val paths = java.nio.file.Files.walk(root).iterator()
      val all = mutable.ArrayBuffer.empty[java.nio.file.Path]
      while (paths.hasNext) all += paths.next()
      all.reverseIterator.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
