package graft

import org.apache.spark.sql.DataFrame

/** Side-channel inputs for the DuckDB correctness oracle.
  *
  * The driver's compare registers only the sfDir parquet files as views, but
  * SQL can `read_parquet()` absolute paths. Queries whose inputs are
  * synthesized inside the query (the crawl pipeline, the mutated near-dup
  * corpora) dump those inputs here during Verify, and their oracle SQL
  * recomputes the result from the SAME bytes — closing the `no_oracle` gap
  * without the driver needing write access to the testdata dir.
  *
  * The dir lives under the checkout's target/ (never the read-only
  * testdata): `target/verify_aux` resolved against the working directory
  * (sbt's forked `run` starts in the project root), or
  * `$GRAFT_VERIFY_AUX_DIR` when set. The path is absolute because the
  * oracle SQL embeds it.
  */
object OracleAux {

  val dir: String = java.nio.file.Paths.get(
    sys.env.getOrElse("GRAFT_VERIFY_AUX_DIR", "target/verify_aux")).toAbsolutePath.toString

  /** Overwrite-dump a DataFrame as parquet under dir/name; returns path.
    *
    * By default `repartition(1)` (not `coalesce(1)`): coalesce folds the
    * ENTIRE upstream computation into the single writing task, which ran
    * the heavy dumped pipelines (simhash, k-gram hashing, PNG synthesis)
    * one-core. A repartition keeps the upstream at full parallelism and
    * only the write is single-task. `shuffle = false` takes `coalesce(1)`
    * for a cheap upstream whose payload is large (m3's hexed WAVs): there
    * shuffling the payload costs more than computing it in one task. The
    * oracle reads a `*.parquet` glob and always re-orders, so file layout
    * is free to change.
    */
  def dump(df: DataFrame, name: String, shuffle: Boolean = true): String = {
    val path = s"$dir/$name"
    (if (shuffle) df.repartition(1) else df.coalesce(1)).write.mode("overwrite").parquet(path)
    path
  }

  /** DuckDB table expression for a dumped input. */
  def rp(name: String): String = s"read_parquet('$dir/$name/*.parquet')"
}
