package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, RDDScanExec, SparkPlan, UnionExec}

/** Parallelism repair for narrow-parallelism inputs (guide §2.5 "input
  * skew": one unsplittable / single-row-group file = one scan task).
  *
  * The driver testdata tables are single parquet files written as one row
  * group, so every scan is ONE partition — and any expensive per-row stage
  * (minhash signatures, simhash, PNG/WAV synthesis, nested-loop pair
  * generation) that runs before the first exchange executes on one core of
  * the 32. `fanOut` hash-repartitions such a frame to the cluster's default
  * parallelism FIRST, so the heavy map stage runs wide.
  *
  * Scale-adaptive by construction: when the scan already has >= the
  * cluster's parallelism (the 100 TB case — thousands of splits), this is a
  * no-op and no shuffle is added. The repartition key must be provided
  * (deterministic hash partitioning; keyless round-robin pays a
  * sort-before-repartition pass and is retry-fragile per guide §2.5).
  */
object Par {

  def fanOut(df: DataFrame, key: Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (numPartitions(df) >= target) df
    else df.repartition(target, key)
  }

  /** The partition count `df.rdd` would have. A narrow plan (projections,
    * filters, unions) over file or RDD scans is counted from its planned
    * scans, which list their splits without running or compiling anything;
    * `df.rdd` would plan the frame and compile its whole-stage code on the
    * calling thread. Any other plan falls back to `df.rdd`.
    */
  private[graft] def numPartitions(df: DataFrame): Int =
    planned(df.queryExecution.sparkPlan).getOrElse(df.rdd.getNumPartitions)

  private def planned(plan: SparkPlan): Option[Int] = plan match {
    case s: FileSourceScanExec => Some(s.inputRDD.getNumPartitions)
    case s: RDDScanExec => Some(s.rdd.getNumPartitions)
    case p: ProjectExec => planned(p.child)
    case f: FilterExec => planned(f.child)
    case u: UnionExec =>
      val counts = u.children.map(planned)
      if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
    case _ => None
  }

  /** Whether `df` has more than `n` rows, reading at most n + 1 of them
    * (the size routers' probe). No column is read, and it runs interpreted
    * ([[graft.Interpreted]]): it compiles nothing, where a `limit` count
    * compiled new classes on every call (the limit operator's generated
    * code names a counter that is new for every plan).
    */
  def moreRowsThan(df: DataFrame, n: Long): Boolean =
    n < Int.MaxValue &&
      graft.Interpreted(df.sparkSession)(df.select().take((n + 1).toInt).length > n)
}
