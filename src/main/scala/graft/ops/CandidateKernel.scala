package graft.ops

import graft.functions.{KeySet, PairKernel}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The candidate kernel of the banded near-dup operators: `TextOps`'s
  * MinHash (minhashLsh, ngramJaccardLsh), PassJoin
  * (editDistancePairsSegmented) and winnowing (winnowPairs) operators, and
  * `VectorOps`'s sign-LSH search (lshTopK, cosineNearDupLsh). Each operator
  * describes a document by its bucket keys ([[graft.functions.BucketKeys]])
  * in a kernel frame ([[kernelFrame]]); the kernel caps hot buckets
  * ([[hotBuckets]]) and joins the frames into id-only candidate pairs
  * ([[candidatePairs]]), each emitted once by a canonical-pair test
  * ([[graft.functions.PairKernel]]).
  */
private[ops] object CandidateKernel {

  /** Hot-bucket cap of the banded operators: the buckets holding more
    * than `maxBucketDocs` documents (`maxBucketDocs <= 0`: none). An m-doc
    * bucket contributes m² id-pairs, so on template-heavy web corpora
    * uncapped hot buckets dominate the join (the round-3 d7 bench: ~300 M
    * candidate pairs at 10k docs). RECALL EFFECT: a true pair whose every
    * shared bucket is hot is lost — at the cap's scale those are template
    * families, exactly what near-dup dedup drops anyway; any cap >= corpus
    * size is a no-op (lossless-below-cap, OpsSpec).
    *
    * `buckets` has one binary `bucket` column, one row per (document,
    * bucket). The count is partially aggregated map-side (the shuffle
    * carries one row per bucket per map task) and only the over-cap keys,
    * the heavy-tail few the cap exists for, come back to the driver. They
    * ride into the candidate join as a reference object
    * ([[PairKernel.hotColumn]]), so the join compiles to the same class
    * whatever the hot set. The count runs interpreted
    * ([[graft.Interpreted]]): a small side job, it would otherwise take
    * codegen cache entries from the operators' main plans.
    */
  def hotBuckets(buckets: DataFrame, maxBucketDocs: Int): KeySet =
    if (maxBucketDocs <= 0) KeySet.Empty
    else KeySet.of(graft.Interpreted(buckets.sparkSession) {
      buckets.groupBy("bucket").agg(count(lit(1)).as("n"))
        .filter(col("n") > maxBucketDocs)
        .select("bucket").collect().map(_.getAs[Array[Byte]](0)).toSeq
    })

  /** A banded operator's kernel frame: one row per document with `doc_id`,
    * `tag` (the blocking key the output reports, or null), `one_way`
    * (false: see [[candidatePairs]]), `keys`, the document's sorted distinct bucket
    * keys ([[graft.functions.BucketKeys]]), and `canon`, the small
    * per-document blob its canonical-pair test reads. Not materialized: the
    * cap count and the candidate join each derive it, and one native call
    * per document costs less than a checkpoint job.
    */
  def kernelFrame(docs: DataFrame, tag: Column, keys: Column,
                  canon: Column => Column): DataFrame =
    docs.select(col("doc_id"), tag.cast("string").as("tag"), lit(false).as("one_way"),
        keys.as("keys"))
      .select(col("doc_id"), col("tag"), col("one_way"), col("keys"),
        canon(col("keys")).as("canon"))

  /** A kernel frame's bucket column, one row per (document, bucket).
    * `explode_outer` plus a null filter on its output, not `explode`: for
    * `explode` Spark infers a non-empty-array filter on `keys` and pushes it
    * below the projection, which evaluates the keys' native call twice more
    * per document.
    */
  def frameBuckets(frame: DataFrame, bucket: String, cols: Column*): DataFrame =
    frame.select(explode_outer(col("keys")).as(bucket) +: cols: _*)
      .filter(col(bucket).isNotNull)

  /** The candidate kernel shared by the banded operators: id-only pairs
    * `(doc_a < doc_b, tag, canon_a, canon_b)` of kernel frames `a` and `b`
    * (the same frame for a self-join) that meet in a bucket outside `hot`;
    * the blobs are the `a` and `b` rows' (whichever id is smaller).
    *
    *   - Hot buckets are dropped right after the explode, so they never
    *     enter the join.
    *   - The bucket join is ID-ONLY plus each side's small `canon` blob
    *     (16-byte id pairs shuffle fine where rows carrying both texts
    *     thrash — the round-3 bench finding); callers re-attach what they
    *     verify by doc id.
    *   - Both sides are repartitioned to the cluster's parallelism on the
    *     bucket: AQE sizes a shuffle's partitions from the join's INPUT (a
    *     few MB of id rows) while its output is up to m² rows per bucket;
    *     a user-numbered repartition is never coalesced, satisfies the
    *     join's distribution (no extra exchange), and so the join and the
    *     verify fused behind it run on every core. A self-join's two sides
    *     are one reused exchange. Shuffled-hash is pinned (no sort; the
    *     build side is the capped frame).
    *   - A pair is kept with `doc_a < doc_b`, or in either id order when
    *     the `a` row is one-way and the `b` row is not (the mirrored row
    *     pair never exists: a short prefix meets a longer one only that
    *     way); `canonical`, a test over the join row's `bucket`, `canon_a`
    *     and `canon_b`, passes one row per pair (canonical emission: no
    *     dedup aggregate), or is `lit(true)` for an operator that counts
    *     its shared buckets instead.
    *   - `bucket` names the bucket column for plan readers (`band_sig`,
    *     `fingerprint`, `seg_str`, `lsh_bucket`); names do not enter
    *     generated code.
    */
  def candidatePairs(a: DataFrame, b: DataFrame, hot: KeySet, bucket: String,
                     canonical: Column): DataFrame = {
    val par = a.sparkSession.sparkContext.defaultParallelism
    def rows(frame: DataFrame, s: String): DataFrame =
      frameBuckets(frame, bucket, col("doc_id").as(s"doc_$s"), col("tag").as(s"tag_$s"),
          col("one_way").as(s"one_way_$s"), col("canon").as(s"canon_$s"))
        .filter(!PairKernel.hotColumn(col(bucket), hot))
        .repartition(par, col(bucket))
    rows(a, "a").hint("shuffle_hash").join(rows(b, "b"), Seq(bucket))
      .filter((col("doc_a") < col("doc_b") || (col("one_way_a") && !col("one_way_b"))) &&
        canonical)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"),
        coalesce(col("tag_a"), col("tag_b")).as("tag"), col("canon_a"), col("canon_b"))
  }
}
