package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Parquet write layer — the K1 result-sink analog for batch outputs
  * (REF: every job prints or writes to Redis/Kafka; the warehouse-shaped
  * Spark sink is partitioned/bucketed parquet — reconstructed,
  * SURVEY.md §2.2).
  *
  * The three layouts are the 100 TB storage design:
  *   - **date-partitioned**: one directory per partition value; any
  *     filter on the partition column prunes whole directories at plan
  *     time (`PartitionFilters` in the scan, zero I/O for pruned days).
  *   - **bucketed**: rows hash-clustered on a join key into a fixed
  *     bucket count; two tables bucketed the same way join with NO
  *     exchange on either side — the shuffle happened once at write
  *     time instead of on every query.
  *   - **Z-ordered**: rows range-clustered on the Morton interleaving
  *     of TWO keys, so parquet row-group min/max statistics become
  *     selective on BOTH columns at once — point/range filters on
  *     either key skip most files, where a plain sort helps only its
  *     leading column.
  */
object ParquetSink {

  /** Append/overwrite a date-partitioned parquet dataset. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       mode: String = "overwrite"): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** Rewrite exactly batch `id`'s partition of `path`: `df` gains a
    * `batch_id` column and is written partitioned by it (then by
    * `partitionCols`) with dynamic partition overwrite, so a replayed
    * micro-batch replaces its own earlier output and leaves every
    * other batch's alone. The engine's one batch-partition write: the
    * idempotent half of the micro-batch sink rule
    * ([[graft.streaming.BlockHygiene.eachBatch]]).
    */
  def overwriteBatch(df: DataFrame, id: Long, path: String,
                     partitionCols: String*): Unit =
    df.withColumn("batch_id", lit(id))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id" +: partitionCols: _*).parquet(path)

  /** Write a bucketed+sorted table (bucketing requires the table
    * catalog — `saveAsTable`, not a bare path). Joins and aggregations
    * on `bucketCol` between tables with matching bucket counts skip
    * their shuffles; the in-bucket sort makes merge joins exchange- and
    * sort-free.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    nBuckets: Int, mode: String = "overwrite"): Unit =
    df.write.mode(mode)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Z-order (Morton) clustering on two numeric key columns: each key
    * is min/max-normalized to `bits` bits (two 1-row aggregates,
    * broadcast back — cheap and deterministic; rank-normalization is
    * the upgrade for heavily skewed keys), the bit-interleaved z-value
    * range-partitions the write and sorts within partitions, and the
    * z column itself is dropped from the files. Result: every file's
    * min/max footer stats span a small RECTANGLE of the (a, b) key
    * space, so a predicate on EITHER column lets parquet row-group
    * skipping drop most of the dataset — where `sortWithinPartitions
    * (a)` leaves column b's per-file ranges as wide as the corpus.
    * One range exchange at write time, amortized over every read.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String,
                    colB: String, bits: Int = 16, parts: Int = 32,
                    mode: String = "overwrite"): Unit = {
    val bounds = df.agg(
      min(col(colA)).cast("double").as("mna"),
      max(col(colA)).cast("double").as("mxa"),
      min(col(colB)).cast("double").as("mnb"),
      max(col(colB)).cast("double").as("mxb"))
    val top = (1L << bits) - 1
    def norm(c: String, mn: String, mx: String): String =
      s"cast(least($top, floor((cast($c as double) - $mn) * $top " +
        s"/ greatest($mx - $mn, 1e-9))) as bigint)"
    val z = df.crossJoin(broadcast(bounds))
      .withColumn("za", expr(norm(colA, "mna", "mxa")))
      .withColumn("zb", expr(norm(colB, "mnb", "mxb")))
      .withColumn("z", expr(
        s"aggregate(sequence(0, ${bits - 1}), cast(0 as bigint), " +
          "(zacc, zi) -> zacc " +
          "| shiftleft(shiftright(za, zi) & 1, 2 * zi) " +
          "| shiftleft(shiftright(zb, zi) & 1, 2 * zi + 1))"))
      .drop("mna", "mxa", "mnb", "mxb", "za", "zb")
    z.repartitionByRange(parts, col("z")).sortWithinPartitions("z")
      .drop("z")
      .write.mode(mode).parquet(path)
  }
}
