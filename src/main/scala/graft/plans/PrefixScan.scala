package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed EXCLUSIVE running max — `prev_max` = max(valCol) over
  * all rows with STRICTLY smaller keyCol (null when none), without a
  * single-partition window (round 18, the r17 verdict's ask #1
  * generalized): the textbook two-pass prefix scan.
  *
  *  1. range-partition by the key (the range partitioner co-locates
  *     equal keys, so cross-partition peers are always strictly
  *     smaller), checkpoint so the partition ids are pinned for both
  *     consumers;
  *  2. per-partition maxima collect (≤ P rows) → driver exclusive
  *     prefix → broadcast back;
  *  3. prev_max = greatest(per-partition RANGE-frame window, the
  *     broadcast prefix) — the window partitions by __pid, never one
  *     task; the RANGE frame excludes equal keys exactly like the
  *     single-partition original.
  *
  * Consumers: q52_skyline's distributed refine and
  * st_lateness_audit's watermark table.
  */
object PrefixScan {
  /** The driver step: for key-sorted `(key, value)` pairs, each key
    * with the max value over all earlier keys (null for the first).
    */
  def exclusiveMax[K](sorted: Seq[(K, Long)]): Seq[(K, java.lang.Long)] =
    sorted.scanLeft(Option.empty[Long]) { case (run, (_, v)) => Some(run.fold(v)(math.max(_, v))) }
      .zip(sorted).map { case (run, (k, _)) => (k, run.map(Long.box).orNull) }

  /** `df` plus a `prev_max` LongType column. `valCol` must be a Long
    * column; `df` is materialized internally (one localCheckpoint).
    */
  def exclusiveMaxByKey(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sp = df.repartitionByRange(col(keyCol))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val pidMax = sp.groupBy(col("__pid")).agg(max(col(valCol)).as("pmax"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val prefixDf = broadcast(exclusiveMax(pidMax.toSeq).toDF("__pid", "__prefix_max"))
    val wLocal = Window.partitionBy(col("__pid")).orderBy(col(keyCol))
      .rangeBetween(Window.unboundedPreceding, -1)
    sp.join(prefixDf, Seq("__pid"))
      .withColumn("prev_max",
        greatest(max(col(valCol)).over(wLocal), col("__prefix_max")))
      .drop("__pid", "__prefix_max")
  }
}
