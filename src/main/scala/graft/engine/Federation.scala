package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scatter-gather federation — Spark-native re-expression of the
  * reference's union-of-shards table
  * (`/root/reference/csvb_engine/src/union_table_provider.rs:35-62`:
  * fan identical scans out to every shard, assert identical schemas,
  * UNION the results; registration + schema equality bail at
  * `csvb_engine/src/lib.rs:158-167`).
  *
  * In Spark the same shape is `shardDFs.reduce(_ unionAll _)`: each
  * leg is an independent scan (JDBC, parquet, csv, ...) and Catalyst
  * pushes filters / column pruning / limits below the `Union` node
  * per-leg — the pushdown-advertisement lattice the reference
  * implements by hand (`union_table_provider.rs:64-97`) is free here.
  *
  * Scale: a Union of N legs executes the legs in parallel (each with
  * its own partitioning); no shuffle is introduced by the union
  * itself. Aggregations above the union combine map-side per leg.
  */
object Federation {

  /** Union N same-schema shard DataFrames under one name.
    *
    * `strict = true` (default) bails on any schema difference exactly
    * like the reference ("Schema of shards was not identical",
    * `csvb_engine/src/lib.rs:163-166`) and unions positionally.
    *
    * `strict = false` is the useful superset for real shard fleets:
    * column REORDERING and NULLABILITY differences are accepted
    * (the union resolves by name and the result column is nullable
    * when any leg's is), but a column-set or TYPE conflict still
    * bails — silently coercing `INT` against `DOUBLE` legs would
    * change answers, which is the failure mode the reference's bail
    * exists to prevent.
    */
  def unionShards(shards: Seq[DataFrame], strict: Boolean = true): DataFrame = {
    require(shards.nonEmpty, "No shards provided")
    if (strict) {
      val ref = normalize(shards.head)
      shards.tail.foreach { s =>
        require(
          normalize(s) == ref,
          s"Schema of shards was not identical: expected $ref, got ${normalize(s)}")
      }
      // unionAll is positional — the schema check above makes that safe,
      // matching the reference's positional UnionExec.
      shards.reduce(_ unionAll _)
    } else {
      val ref = compatKey(shards.head)
      shards.tail.foreach { s =>
        require(
          compatKey(s) == ref,
          s"Schema of shards was not compatible: expected $ref, got ${compatKey(s)}")
      }
      shards.reduce(_ unionByName _)
    }
  }

  private def normalize(df: DataFrame): Seq[(String, String, Boolean)] =
    df.schema.fields.toSeq.map(f => (f.name, f.dataType.sql, f.nullable))

  /** Order- and nullability-insensitive schema identity: the name →
    * type map (sorted for a readable bail message).
    */
  private def compatKey(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.map(f => (f.name.toLowerCase, f.dataType.sql)).sorted

  /** JDBC-backed shards — the reference's live-Postgres path
    * (`third_party/postgres_provider`). Partitioned reads per shard:
    * `numPartitions`/`partitionColumn` bounds map 1:1 to the
    * reference's row-chunked streaming (4,000-row chunks at
    * `postgres_connection.rs:186`), but executed on executors.
    * No database *server* exists in this environment; FederationSpec
    * exercises this path end-to-end against embedded in-memory Derby
    * (schema discovery, per-leg filter pushdown, range-sliced reads).
    */
  def jdbcShards(
      spark: SparkSession,
      urls: Seq[String],
      table: String,
      props: java.util.Properties = new java.util.Properties()): Seq[DataFrame] =
    urls.map(u => spark.read.jdbc(u, table, props))

  /** Partitioned JDBC shards: each shard is read as `numPartitions`
    * range-sliced queries on `partitionColumn` — the executor-side
    * counterpart of the reference streaming each shard in 4,000-row
    * chunks (`postgres_connection.rs:186`). One task per slice, so a
    * single shard's scan parallelizes across the cluster instead of
    * bottlenecking on one connection.
    */
  def jdbcShardsPartitioned(
      spark: SparkSession,
      urls: Seq[String],
      table: String,
      partitionColumn: String,
      lowerBound: Long,
      upperBound: Long,
      numPartitions: Int,
      props: java.util.Properties = new java.util.Properties()): Seq[DataFrame] =
    urls.map(u =>
      spark.read.jdbc(u, table, partitionColumn, lowerBound, upperBound, numPartitions, props))
}
