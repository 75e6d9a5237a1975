package graft.frontier

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** URL canonicalization + host extraction (SURVEY.md §2.2 F4).
  *
  * Reference: `clean_url` strips the query string (discovery_service.py:40-43)
  * for every platform except yes123, which keeps its params
  * (discovery_service.py:215-217) because its identity lives in p_id/job_id.
  */
object Canon {

  /** Canonical URL column: `substring_index(url,'?',1)` unless yes123 host. */
  def canonUrl(url: Column): Column =
    when(url.contains("yes123.com.tw"), url)
      .otherwise(substring_index(url, "?", 1))

  /** Host column from an absolute URL — pure string ops, codegen-friendly. */
  def host(url: Column): Column =
    substring_index(substring_index(regexp_replace(url, "^https?://", ""), "/", 1), "?", 1)

  /** Path column (leading '/', no query) for robots prefix checks. */
  def path(url: Column): Column = {
    val noScheme = regexp_replace(url, "^https?://", "")
    val afterHost = noScheme.substr(length(substring_index(noScheme, "/", 1)) + 1, lit(1000000))
    substring_index(afterHost, "?", 1)
  }
}

/** Bloom-filter bytes codec for the URL-seen filters of [[ShardedSeen]]
  * (SURVEY.md §2.2 F5, north rule "bloom/cuckoo URL-seen").
  */
object SeenSet {

  import org.apache.spark.util.sketch.BloomFilter

  def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
}

/** Hash-SHARDED URL-seen filter: B independent Bloom filters keyed by
  * `shard = hash(url) mod B`, built and probed distributively (SURVEY.md
  * §2.2 F5 / §2.4 J5 at the 10^10 design point).
  *
  * Why not one filter: a monolithic filter at 10^10 keys / fpp 0.01 is
  * ~12 GB of bits — driver-built and executor-broadcast, both scale-killers.
  * Sharded, each executor task holds exactly ONE shard's bits
  * (capacity/B — a few hundred MB at B=64, a few MB at B=4096) and the
  * filters are built by B parallel tasks, never on the driver.
  *
  * Mechanics: filters live in a `seen_shards(shard, capacity, fpp, bits)`
  * snapshot table written per round. Update cogroups the round's key delta
  * with the previous snapshot per shard (deserialize, put delta keys, merge,
  * reserialize); untouched shards carry forward unchanged. Probe cogroups
  * candidates with the snapshot per shard — one deserialize per task, then
  * a streamed mightContain per row. Exactness still comes from the exact
  * `left_anti` backstop over the maybe-hits, never from the filters.
  *
  * Capacity rides IN the snapshot rows, so resuming a state with different
  * run arguments keeps the original (mergeInPlace-compatible) geometry —
  * the per-run capacity argument only sizes brand-new shards.
  *
  * Sizing note: parallelism of both build and probe is bounded by B, so set
  * B >= cluster cores (the default 64 covers local[32]; a 1000-executor
  * deployment wants B in the thousands).
  */
object ShardedSeen {

  import org.apache.spark.sql.{Encoders, Row}
  import org.apache.spark.util.sketch.BloomFilter

  val Table = "seen_shards"
  val DefaultShards = 64

  final case class ShardRow(shard: Int, capacity: Long, fpp: Double, bits: Array[Byte])

  /** Deterministic shard of a key — any stable hash works; it only has to
    * agree between update and probe (both Scala-side).
    */
  def shardOf(key: String, nShards: Int): Int =
    if (key == null) 0
    else math.floorMod(scala.util.hashing.MurmurHash3.stringHash(key), nShards)

  /** Fold a key delta into the sharded filters — fully distributed: one task
    * per touched shard builds a delta filter and ORs the previous shard bits
    * in; untouched shards pass through. With `prev = None` this bootstraps a
    * snapshot from scratch (pass the FULL seen history then, or the persisted
    * snapshot will not cover it and the probe would mis-classify historical
    * URLs as definitely-new).
    */
  def updated(prev: Option[Dataset[ShardRow]], delta: DataFrame, keyCol: String,
              nShards: Int, capacityPerShard: Long,
              fpp: Double = 0.01): Dataset[ShardRow] = {
    val spark = delta.sparkSession
    import spark.implicits._
    val keys = delta.select(keyCol).as[String]
    val keyed = keys.groupByKey(k => shardOf(k, nShards))
    prev match {
      case None =>
        keyed.mapGroups { (shard, ks) =>
          val bf = BloomFilter.create(capacityPerShard, fpp)
          ks.foreach(bf.putString)
          ShardRow(shard, capacityPerShard, fpp, SeenSet.serialize(bf))
        }
      case Some(p) =>
        keyed.cogroup(p.groupByKey(_.shard)) { (shard, ks, ps) =>
          val prevRow = if (ps.hasNext) Some(ps.next()) else None
          if (ks.isEmpty) prevRow.iterator
          else {
            val cap = prevRow.map(_.capacity).getOrElse(capacityPerShard)
            val f = prevRow.map(_.fpp).getOrElse(fpp)
            val bf = BloomFilter.create(cap, f)
            ks.foreach(bf.putString)
            prevRow.foreach(r => bf.mergeInPlace(SeenSet.deserialize(r.bits)))
            Iterator.single(ShardRow(shard, cap, f, SeenSet.serialize(bf)))
          }
        }
    }
  }

  /** Tag candidates with `_maybe_seen` by probing the sharded filters:
    * candidates shuffle by shard (narrow rows — call this BEFORE any html
    * joins), each task deserializes its shard's bits once and streams its
    * rows through. Candidates in shards with no filter row are definitely
    * new (the snapshot covers the full seen history by construction).
    */
  def probe(candidates: DataFrame, filters: Dataset[ShardRow], keyCol: String,
            nShards: Int): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val schema = candidates.schema.add("_maybe_seen", org.apache.spark.sql.types.BooleanType)
    val enc = Encoders.row(schema)
    val idx = candidates.schema.fieldIndex(keyCol)
    val keyedC = candidates.groupByKey(r => shardOf(r.getString(idx), nShards))
    keyedC.cogroup(filters.groupByKey(_.shard)) { (_, rows, fs) =>
      val bf = if (fs.hasNext) Some(SeenSet.deserialize(fs.next().bits)) else None
      rows.map { r =>
        val maybe = bf.exists(_.mightContainString(r.getString(idx)))
        Row.fromSeq(r.toSeq :+ maybe)
      }
    }(enc)
  }

  /** candidates minus seen: sharded-filter prefilter + exact `left_anti`
    * backstop over the maybe-hits (fpp × candidates + true hits), so the
    * expensive join is proportional to the overlap, not the frontier.
    */
  def antiJoin(candidates: DataFrame, seen: DataFrame, keyCol: String,
               filters: Dataset[ShardRow], nShards: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    val probed = probe(candidates, filters, keyCol, nShards)
    val definitelyNew = probed.filter(!col("_maybe_seen")).drop("_maybe_seen")
    val maybe = probed.filter(col("_maybe_seen")).drop("_maybe_seen")
    definitelyNew.unionByName(maybe.join(seen.select(keyCol), Seq(keyCol), "left_anti"))
  }
}

/** Per-host politeness budgets as window-ranked priority queues
  * (SURVEY.md §2.3 P1-P5; throttler.py token bucket → batch round budgets).
  */
object Politeness {

  /** Deterministic priority order: priority desc, canon_url asc — a total
    * order so crawl ordering is reproducible across parallelism levels
    * (SURVEY.md §2.6).
    */
  val orderCols: Seq[Column] = Seq(col("priority").desc, col("canon_url").asc)

  /** Frontier size (rows) below which [[selectBudget]] routes to the plain
    * one-window ranking: the mega-host two-phase machinery (salted
    * prefilter + range repartition + localCheckpoint + offset join — ~5
    * driver barriers) only pays for itself when a single host's frontier
    * slice outgrows one task. 2,000,000 rows is what a single task
    * comfortably sorts on the simple path.
    */
  val SmallFrontierRows: Long = 2000000L

  /** Select the per-host top-`budget` rows by priority, scalably.
    *
    * Naive `row_number over (partition by host)` funnels each mega-host into
    * one task. Instead: two-phase ranking — (1) rank within (host, salt) and
    * keep only salted-rank <= budget (any row ranked below `budget` within its
    * salt cannot be in the host's global top-budget, so this prefilter is
    * lossless); (2) exact rank over the ≤ saltFactor×budget survivors.
    * Adds `sched_rank` (1-based within host) to the selected rows.
    *
    * `sizeHint` (the caller's already-counted frontier size) routes SMALL
    * rounds ([[SmallFrontierRows]]) onto a single plain window — the exact
    * same rank by the same total order, minus the two-phase machinery whose
    * fixed cost (range-partitioner sampling, localCheckpoint, offset join)
    * dominated small-round wall-clock. Identical output either way.
    */
  def selectBudget(frontier: DataFrame, saltFactor: Int = 32,
                   sizeHint: Option[Long] = None): DataFrame = {
    if (sizeHint.exists(_ <= SmallFrontierRows)) {
      val w = Window.partitionBy(col("host")).orderBy(orderCols: _*)
      frontier.withColumn("sched_rank", row_number().over(w).cast("int"))
        .filter(col("sched_rank") <= col("budget"))
    } else {
      val salted = frontier.withColumn("_salt", pmod(xxhash64(col("canon_url")), lit(saltFactor)))
      val w1 = Window.partitionBy(col("host"), col("_salt"))
        .orderBy(orderCols: _*)
      val phase1 = salted
        .withColumn("_r1", row_number().over(w1))
        .filter(col("_r1") <= col("budget"))
        .drop("_salt", "_r1")
      rankWithinHost(phase1)
        .filter(col("sched_rank") <= col("budget"))
    }
  }

  /** Exact, fully parallel per-host ranking by the priority total order.
    *
    * `row_number over (partition by host)` would sort each mega-host in ONE
    * task — the thing that dies at 10^10. Instead: range-repartition on
    * (host, key) so each host spans consecutive sorted partitions, take a
    * local row_number per (host, physical partition) — parallel, group sizes
    * bounded by partition size — then add per-(host, partition) prefix-sum
    * offsets. The offsets come from a window prefix-sum over the tiny
    * hosts×partitions counts frame (NO driver collect: at 10^8 hosts the
    * counts stay distributed and only the broadcast-join materializes them
    * executor-side). Global rank = local rank + offset; deterministic for
    * any partition count because it derives only from the total key order
    * (ties impossible: canon_url is unique).
    */
  def rankWithinHost(frontier: DataFrame): DataFrame = {
    val sortKeys = col("host").asc +: orderCols
    val ranged = frontier
      .repartitionByRange(sortKeys: _*)
      .withColumn("_pid", spark_partition_id())
    val localW = Window.partitionBy(col("host"), col("_pid")).orderBy(orderCols: _*)
    // localCheckpoint pins the range-partitioner bounds (they come from
    // sampling): the counts action and the final join must see the SAME
    // physical partitioning or the offsets would be wrong.
    val local = ranged.withColumn("_lr", row_number().over(localW)).localCheckpoint()
    val wOff = Window.partitionBy(col("host")).orderBy(col("_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsetsDf = local.groupBy("host", "_pid").count()
      .withColumn("_offset", coalesce(sum(col("count")).over(wOff), lit(0L)))
      .select("host", "_pid", "_offset")
    local.join(broadcast(offsetsDf), Seq("host", "_pid"))
      .withColumn("sched_rank", (col("_lr") + col("_offset")).cast("int"))
      .drop("_pid", "_lr", "_offset")
  }

  /** Robots rules: drop URLs whose path starts with any denied prefix of its
    * host policy (north-rule host-policy column; reference has no robots —
    * SURVEY.md §2.3 note).
    */
  def applyRobots(frontier: DataFrame): DataFrame = {
    val denied = exists(col("robots_deny"), p => col("path").startsWith(p))
    frontier.filter(col("robots_deny").isNull || !denied)
  }

  /** Adaptive-rate law (throttler.py:125-156): ×1.1 after a 50-success
    * streak capped at 1.5×base; ×0.7 after a 429 floored at 0.1×base.
    * Batch analog: one multiplicative step per committed round.
    */
  def adaptRateStep(base: Double, current: Double,
                    successes: Long, rateLimited: Long): Double = {
    if (rateLimited > 0) math.max(current * 0.7, base * 0.1)
    else if (successes >= 50) math.min(current * 1.1, base * 1.5)
    else current
  }

  /** Fold committed per-host round metrics into an effective-rate policy.
    *
    * Fully distributed: per host, the round history is gathered with
    * `collect_list(struct(round, …))` (bounded: one small struct per
    * committed round), sorted, and folded with a Catalyst `aggregate`
    * expression that applies [[adaptRateStep]]'s law per round — NO driver
    * collect, so 10^8 hosts fold as an ordinary hash aggregation + join.
    */
  def adaptPolicy(policy: DataFrame, metricsOpt: Option[DataFrame]): DataFrame =
    metricsOpt match {
      case None => policy.withColumn("eff_rate_per_s", col("rate_per_s"))
      case Some(m) =>
        val hist = m.groupBy("host").agg(
          sort_array(collect_list(struct(
            col("round").cast("int").as("round"),
            col("success_requests").cast("long").as("succ"),
            coalesce(col("rate_limited"), lit(0L)).cast("long").as("limited")))).as("_hist"))
        policy.join(hist, Seq("host"), "left")
          .withColumn("eff_rate_per_s",
            when(col("_hist").isNull, col("rate_per_s")).otherwise(
              aggregate(col("_hist"), col("rate_per_s"), (cur, r) =>
                // adaptRateStep as a column expression (throttler.py:125-156)
                when(r.getField("limited") > 0,
                  greatest(cur * 0.7, col("rate_per_s") * 0.1))
                  .when(r.getField("succ") >= 50,
                    least(cur * 1.1, col("rate_per_s") * 1.5))
                  .otherwise(cur))))
          .drop("_hist")
    }
}
