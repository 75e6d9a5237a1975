package graft.ops

import graft.functions.{BucketKeys, KeySet, PairKernel}
import graft.ops.CandidateKernel.{candidatePairs, kernelFrame}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an `embeddings(vec_id, embedding: array<float>,
  * label)` table: brute-force cosine top-k (the exactness baseline) and a
  * random-hyperplane-LSH bucketed variant (the scale path).
  *
  * Dot products are one native call per row ([[graft.functions.DotProduct]]),
  * a strict left fold so the summation order is deterministic (and matches
  * a simple loop, e.g. DuckDB's, for the oracle). The sign-LSH operators
  * find their candidate pairs on the banded near-dup operators' kernel
  * ([[CandidateKernel]]).
  */
object VectorOps {

  private def toDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Dot product — ONE native codegen'd static call per row
    * ([[graft.functions.DotProduct]]; bit-identical strict left fold,
    * OpsSpec-pinned). The declarative `aggregate(zip_with(...))` form it
    * replaces is CodegenFallback: interpreted per element per CANDIDATE
    * PAIR in every vector verify (~4×10^6 pairs on the d10 bench).
    */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct.column(a, b)

  /** The declarative HOF formulation of [[dot]] — kept as the
    * cross-implementation reference for the native expression (OpsSpec
    * asserts bit-equality).
    */
  private[graft] def dotDeclarative(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k neighbors per query vector.
    *
    * O(n²) pairs — correct-by-construction baseline; at scale the pair join
    * shuffles on nothing (cross join within broadcast of the smaller side).
    * Use [[lshTopK]] beyond ~10^5 vectors.
    *
    * Shape notes: the query side is hash-partitioned by `query_id` BEFORE
    * the broadcast nested-loop join — (a) the n² loop then runs at cluster
    * parallelism even off a one-split scan (guide §2.5), and (b) BNLJ
    * preserves the streamed side's partitioning, so the top-k window's
    * ClusteredDistribution(query_id) is already satisfied and the n² pair
    * rows are NEVER shuffled (the window exchange disappears from the plan).
    */
  def bruteForceTopK(embeddings: DataFrame, k: Int = 3): DataFrame = {
    // norms precomputed ONCE per vector (not per pair — 3x less HOF work in
    // the n² stage; sqrt(dot(v,v)) is the same op sequence, so the rounded
    // cosine is bit-identical to the inline form the oracle recomputes)
    val a = Par.fanOut(
      embeddings.select(col("vec_id").as("query_id"),
        toDouble(col("embedding")).as("va"))
        .withColumn("na", norm(col("va"))), col("query_id"))
    val b = embeddings.select(col("vec_id").as("neighbor_id"),
      toDouble(col("embedding")).as("vb"))
      .withColumn("nb", norm(col("vb")))
    val pairs = a.join(broadcast(b), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
      .select("query_id", "neighbor_id", "cos")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Deterministic pseudo-random hyperplane sign: for plane p and dimension
    * d, weight = ±1 derived from a hash — seedless and reproducible.
    */
  private def planeSign(p: Int, d: Column): Column =
    when(pmod(xxhash64(concat_ws(":", lit(p), d.cast("string"))), lit(2)) === 0, lit(1.0))
      .otherwise(lit(-1.0))

  /** Random-hyperplane LSH bucket signature: `nPlanes` sign bits of the dot
    * product with ±1 hyperplanes [planeOffset, planeOffset + nPlanes) —
    * distinct plane sets per LSH table (scaling the input would NOT change
    * sign bits).
    */
  def lshBucketAt(embedding: Column, nPlanes: Int, planeOffset: Int): Column = {
    val bits = (0 until nPlanes).map { p =>
      val signed = zip_with(embedding, sequence(lit(0), size(embedding) - 1),
        (x, i) => x.cast("double") * planeSign(planeOffset + p, i))
      val s = aggregate(signed, lit(0.0), (acc, x) => acc + x)
      when(s >= 0, lit(1L)).otherwise(lit(0L)) * lit(1L << p)
    }
    bits.reduce(_ + _)
  }

  /** [[planeSign]] evaluated at PLAN-BUILD time: the same Catalyst XxHash64
    * (seed 42) over the same "plane:dim" string the column expression
    * hashes, so the sign matrix is bit-identical to [[lshBucketAt]]'s —
    * but paid once per (plane, dim) instead of once per (row, plane, dim)
    * string-concat + hash (guide §1.2 per-task work).
    */
  private[graft] def planeSignValue(p: Int, d: Int): Double = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"$p:$d"),
        org.apache.spark.sql.types.StringType)), 42L)
      .eval(null).asInstanceOf[Long]
    if (java.lang.Math.floorMod(h, 2L) == 0L) 1.0 else -1.0
  }

  /** Every vector's plane dot products, `(doc_id, _dots)`: a literal ±1
    * sign matrix (rows = planes, evaluated at the probed embedding dim) and
    * ONE native call per row ([[graft.functions.SignDots]]) for all
    * `nPlanes`·`nTables` planes. Replaces the nTables-way union-of-scans
    * (each re-reading the input and re-hashing a "plane:dim" string per
    * element); the sign values and the fold order match [[lshBucketAt]]'s
    * (OpsSpec asserts the equivalence through [[lshTables]]). Assumes the
    * uniform embedding dim of an embeddings table (probed from one row).
    */
  private def planeDots(embeddings: DataFrame, nPlanes: Int, nTables: Int): DataFrame = {
    val dim = embeddings.select(size(col("embedding")).as("d"))
      .head(1).headOption.map(_.getInt(0)).getOrElse(0)
    val signs: Seq[Seq[Double]] =
      (0 until nPlanes * nTables).map(p => (0 until dim).map(d => planeSignValue(p, d)))
    // both the historical aggregate(zip_with(cast)) lambda and a per-plane
    // native-dot variant leave an outer CodegenFallback HOF that is
    // interpreted per plane per row (measured ~3 s for 1,500 rows × 64
    // planes)
    Par.fanOut(embeddings.select(col("vec_id"), col("embedding")), col("vec_id"))
      .select(col("vec_id").as("doc_id"), toDouble(col("embedding")).as("_ed"))
      .select(col("doc_id"),
        graft.functions.SignDots.column(col("_ed"), typedlit(signs)).as("_dots"))
  }

  /** Table `t`'s bucket of a [[planeDots]] row: the sign bits of planes
    * [t·nPlanes, (t+1)·nPlanes), bit q for plane t·nPlanes + q (a null dot
    * gives bit 0, as in [[lshBucketAt]]).
    */
  private def tableBucket(t: Int, nPlanes: Int): Column =
    (0 until nPlanes).map(q =>
      when(element_at(col("_dots"), t * nPlanes + q + 1) >= 0, lit(1L << q)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** All `nTables` LSH table assignments in ONE scan, one
    * `(vec_id, table, bucket)` row per vector per table; bucket values are
    * bit-identical to [[lshBucketAt]]'s.
    */
  private[graft] def lshTables(embeddings: DataFrame, nPlanes: Int,
                               nTables: Int): DataFrame =
    planeDots(embeddings, nPlanes, nTables).select(col("doc_id").as("vec_id"),
      posexplode(array((0 until nTables).map(tableBucket(_, nPlanes)): _*))
        .as(Seq("table", "bucket")))

  /** Sign-LSH candidate pairs `(doc_a < doc_b)`: the vector pairs that
    * share a bucket in at least one of the `nTables` tables, each once.
    * They run on the banded operators' kernel
    * ([[CandidateKernel.candidatePairs]]): a vector's keys are its
    * per-table buckets as MinHash band keys (band = table, band signature =
    * bucket), so the MinHash canonical test ([[PairKernel.firstBand]])
    * passes a pair only at the first table whose buckets agree — at any
    * sign-bit width, with no dedup aggregate. A pair colliding in M tables
    * meets in M join rows, and at 2 planes × 32 tables nearly all pairs
    * collide: a dedup would shuffle every one of them again.
    */
  private def lshPairs(embeddings: DataFrame, nPlanes: Int, nTables: Int): DataFrame = {
    val keys = array((0 until nTables).map(t =>
      BucketKeys.bandColumn(lit(t), tableBucket(t, nPlanes))): _*)
    val frame = kernelFrame(planeDots(embeddings, nPlanes, nTables), lit(null), keys,
      BucketKeys.bandSigsColumn)
    candidatePairs(frame, frame, KeySet.Empty, "lsh_bucket",
        PairKernel.firstBandColumn(col("lsh_bucket"), col("canon_a"), col("canon_b"),
          KeySet.Empty))
      .select("doc_a", "doc_b")
  }

  /** LSH-bucketed approximate top-k: exact cosine *within* each bucket.
    * Multi-probe via `nTables` independent sign-LSH tables keeps recall up;
    * the join key (table, bucket) bounds the pair blow-up. This is the IVF-
    * style scale path: shuffle ∝ bucket sizes, not n².
    */
  def lshTopK(embeddings: DataFrame, k: Int = 3, nPlanes: Int = 4,
              nTables: Int = 8): DataFrame = {
    // each candidate pair in both orientations, from one candidate join
    val directed = lshPairs(embeddings, nPlanes, nTables).select(inline(array(
      struct(col("doc_a").as("query_id"), col("doc_b").as("neighbor_id")),
      struct(col("doc_b").as("query_id"), col("doc_a").as("neighbor_id")))))
    val va = embeddings.select(col("vec_id").as("query_id"),
      toDouble(col("embedding")).as("va")).withColumn("na", norm(col("va")))
    val vb = embeddings.select(col("vec_id").as("neighbor_id"),
      toDouble(col("embedding")).as("vb")).withColumn("nb", norm(col("vb")))
    // vb joins before va so the (AQE-chosen) last equi-join keys on
    // query_id — when it shuffles, its output partitioning already
    // satisfies the window's distribution
    val pairs = directed
      .join(vb, Seq("neighbor_id")).join(va, Seq("query_id"))
      .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** IVF coarse quantizer: `nlist` centroids trained with `iters` Lloyd
    * iterations, entirely as DataFrame ops. Deterministic hash-ranked init
    * (the `nlist` vectors with the smallest xxhash64(vec_id) — a seedless
    * uniform sample); each iteration assigns by max-cosine and recomputes
    * element-wise member means via posexplode + avg (order-insensitive,
    * so the result is parallelism-independent). Cells left empty by an
    * iteration keep their previous centroid (cell count is a training
    * invariant), and each iteration localCheckpoints the nlist-row result
    * so plan size stays constant in `iters`. Returns (cell, centroid), one
    * row per cell.
    *
    * `initStride` overrides the init with every-`stride`-th vector
    * (vec_id % stride == 0) — the oracle hook: on an id-ordered planted
    * corpus a stride equal to the cluster size guarantees one centroid per
    * cluster, making nprobe=1 search provably exact (see d16).
    */
  def ivfTrain(embeddings: DataFrame, nlist: Int, iters: Int = 2,
               initStride: Option[Int] = None): DataFrame = {
    val base = embeddings.select(col("vec_id"), toDouble(col("embedding")).as("centroid"))
    var centroids = initStride match {
      case Some(s) =>
        base.filter(pmod(col("vec_id"), lit(s)) === 0)
          .select((col("vec_id") / s).cast("int").as("cell"), col("centroid"))
      case None =>
        // sorted limit plans as TakeOrderedAndProject (distributed); the
        // numbering window then runs over nlist rows only, never the corpus
        val sample = base.withColumn("_h", xxhash64(col("vec_id").cast("string")))
          .orderBy(col("_h"), col("vec_id")).limit(nlist)
        val w = Window.orderBy(col("_h"), col("vec_id"))
        sample.withColumn("cell", row_number().over(w) - 1)
          .select(col("cell"), col("centroid"))
    }
    for (_ <- 0 until iters) {
      val assigned = ivfAssign(embeddings, centroids, 1)
        .join(embeddings, Seq("vec_id"))
      // element-wise member mean per cell: explode to (cell, dim, x), avg,
      // re-assemble ordered by dim (sort_array on (dim, mean) structs keeps
      // the rebuild deterministic under any row order)
      val means = assigned
        .select(col("cell"), posexplode(toDouble(col("embedding"))).as(Seq("dim", "x")))
        .groupBy("cell", "dim").agg(avg("x").as("m"))
        .groupBy("cell")
        .agg(sort_array(collect_list(struct(col("dim"), col("m")))).as("dm"))
        .select(col("cell"), transform(col("dm"), e => e.getField("m")).as("mean"))
      // EMPTY-CELL RE-SEEDING: a cell that attracted no members this round
      // would silently vanish from the groupBy output and nlist would decay
      // (the classic k-means empty-cluster bug); keep its previous centroid
      // so the quantizer's cell count is an invariant of training
      val next = centroids
        .join(means, Seq("cell"), "left")
        .select(col("cell"), coalesce(col("mean"), col("centroid")).as("centroid"))
      // TRUNCATE lineage each iteration: without this the plan nests one
      // full assign+regroup subtree per iteration (fine at iters=2, an
      // analyzer blow-up at iters>>10). localCheckpoint materializes the
      // nlist-row frame and replaces its lineage with the computed rows —
      // the frame is re-derivable training state, so the non-replicated
      // storage is an acceptable trade even on a real cluster.
      centroids = next.localCheckpoint(true)
    }
    centroids
  }

  /** The `nprobe` max-cosine cells per vector: broadcast the (small)
    * centroid table, rank per vector. nprobe=1 is the build-side
    * assignment; queries probe more cells to hedge boundary effects.
    */
  def ivfAssign(embeddings: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame = {
    val scored = Par.fanOut(
        embeddings.select(col("vec_id"), toDouble(col("embedding")).as("v")), col("vec_id"))
      .crossJoin(broadcast(centroids))
      .withColumn("_cos", dot(col("v"), col("centroid")) / (norm(col("v")) * norm(col("centroid"))))
    if (nprobe == 1)
      // the n-scale build-side assignment: map-side-combinable max_by
      // (ties broken to the smallest cell), no window sort over the corpus
      scored.groupBy("vec_id")
        .agg(max_by(col("cell"), struct(col("_cos"), -col("cell"))).as("cell"))
    else {
      val w = Window.partitionBy("vec_id").orderBy(col("_cos").desc, col("cell").asc)
      scored.withColumn("_r", row_number().over(w)).filter(col("_r") <= nprobe)
        .select("vec_id", "cell")
    }
  }

  /** IVF-bucketed approximate top-k — the inverted-file scale path
    * alongside [[lshTopK]]: train a coarse quantizer, assign every vector
    * to its max-cosine cell, then search each query's `nprobe` nearest
    * cells with exact cosine. Shuffle ∝ cell sizes (n·nprobe/nlist per
    * query on average), never n²; the centroid table is broadcast-sized by
    * construction. Pass a pre-trained `centroids` frame to share one
    * quantizer across queries (and for the d16 oracle's stride init).
    * `centroids` must hold one row per `cell` value, as [[ivfTrain]]'s
    * output does: each vector is then a member of one cell and each query
    * probes `nprobe` distinct cells, so every candidate pair comes out once
    * and no pair dedup runs.
    *
    * Recall is the `nprobe` knob: clustered corpora reach high recall at
    * small nprobe (the planted-cluster spec hits 0.95+ at 4/12); an
    * ISOTROPIC corpus — ANN's worst case, neighbors barely correlated with
    * cells — needs nprobe ≈ 0.6×nlist for 0.9 (OpsSpec pins that curve).
    */
  def ivfTopK(embeddings: DataFrame, k: Int = 3, nlist: Int = 16,
              nprobe: Int = 4, iters: Int = 2,
              centroids: Option[DataFrame] = None): DataFrame = {
    val cents = centroids.getOrElse(ivfTrain(embeddings, nlist, iters))
    val members = ivfAssign(embeddings, cents, 1)
    val probes = ivfAssign(embeddings, cents, nprobe)
      .withColumnRenamed("vec_id", "query_id")
    val va = embeddings.select(col("vec_id").as("query_id"),
      toDouble(col("embedding")).as("va")).withColumn("na", norm(col("va")))
    val vb = embeddings.select(col("vec_id").as("neighbor_id"),
      toDouble(col("embedding")).as("vb")).withColumn("nb", norm(col("vb")))
    // id-only candidates within probed cells; vectors re-attach by id
    val pairs = probes
      .join(members.withColumnRenamed("vec_id", "neighbor_id"), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .join(va, Seq("query_id")).join(vb, Seq("neighbor_id"))
      .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Exact all-pairs embedding-cosine near-dup (BroadcastNestedLoopJoin):
    * correct-by-construction, O(n²) — the oracle path for small inputs only.
    */
  def cosineNearDupExact(embeddings: DataFrame, threshold: Double): DataFrame = {
    // streamed side fanned out so the n² loop runs wide off a one-split
    // scan; the other side broadcasts (it is the small-input path)
    val a = Par.fanOut(
      embeddings.select(col("vec_id").as("vec_a"), toDouble(col("embedding")).as("va"))
        .withColumn("na", norm(col("va"))), col("vec_a"))
    val b = broadcast(embeddings.select(col("vec_id").as("vec_b"), toDouble(col("embedding")).as("vb"))
      .withColumn("nb", norm(col("vb"))))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
  }

  /** Bucketed embedding-cosine near-dup — the 100 TB path: sign-LSH
    * candidate generation (multi-table bucket equi-join, shuffle ∝ bucket
    * sizes) + exact cosine verify. No non-equi join anywhere in the plan
    * (asserted by PlanSpec). Recall follows the same table/plane math as
    * [[lshTopK]]; near-dup pairs (cos >= threshold, small angle) collide
    * with high probability per table.
    */
  def cosineNearDupLsh(embeddings: DataFrame, threshold: Double,
                       nPlanes: Int = 2, nTables: Int = 32): DataFrame = {
    val va = embeddings.select(col("vec_id").as("vec_a"),
      toDouble(col("embedding")).as("va")).withColumn("na", norm(col("va")))
    val vb = embeddings.select(col("vec_id").as("vec_b"),
      toDouble(col("embedding")).as("vb")).withColumn("nb", norm(col("vb")))
    lshPairs(embeddings, nPlanes, nTables)
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"))
      .join(va, Seq("vec_a")).join(vb, Seq("vec_b"))
      .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
  }

  /** Embedding-cosine near-duplicate pairs above a threshold (dedup view).
    * Routes by input size: exact all-pairs up to `maxExactRows` (keeps the
    * result oracle-exact at test scale), LSH-bucketed beyond (the all-pairs
    * plan is the textbook scale-killer — never ship it at corpus scale).
    */
  def cosineNearDup(embeddings: DataFrame, threshold: Double,
                    maxExactRows: Long = 100000L): DataFrame = {
    // bounded routing probe: reads at most maxExactRows+1 rows, never the
    // whole corpus
    if (Par.moreRowsThan(embeddings, maxExactRows)) cosineNearDupLsh(embeddings, threshold)
    else cosineNearDupExact(embeddings, threshold)
  }
}
