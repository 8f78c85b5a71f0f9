package graft.grid

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental time-axis append (reference: ST1 —
  * rastercube/scripts/complete_ndvi_worldgrid.py:59-142): extend the
  * grid's time axis with new dates, rolling fraction time chunks of
  * `fracNDates` and rewriting only the ragged tail chunk plus the new
  * chunks.
  *
  * Invariants preserved from the reference (its test is the spec,
  * tests/scripts/test_complete_ndvi_worldgrid.py:42-122):
  *  - chunking invariance: create(all) == create(prefix) + append(rest);
  *  - idempotence: appending already-present dates is a no-op;
  *  - the header's timestamps are the authoritative axis (dates CSV
  *    analog), extended only after the data write succeeds, so a failed
  *    append leaves the old axis and a retry converges.
  *
  * Scale: the rewrite touches only time chunks >= floor(n0/fracNDates) —
  * dynamic partition overwrite on the time_chunk partition column; all
  * earlier chunks are untouched. The heavy work (re-chunking) is one
  * shuffle of the affected window.
  */
object IncrementalAppend {

  /** Append `newTimestamps` with pixel values from `newPixels`
    * ((x, y, t, value) with t LOCAL to the new dates: 0..len-1).
    * Timestamps already present in the header are skipped (no-op when
    * all are). Returns the updated header.
    */
  def appendDates(spark: SparkSession, root: String,
                  newTimestamps: Seq[Long],
                  newPixels: DataFrame): GridHeader = {
    val h0 = GridHeader.load(spark, root)
    val existing = h0.timestampsMs.toSet
    // keep order, drop already-present dates (idempotence)
    val keepIdx = newTimestamps.zipWithIndex.filter(p => !existing.contains(p._1))
    if (keepIdx.isEmpty) return h0

    val n0 = h0.nDates
    val h1 = h0.copy(timestampsMs = h0.timestampsMs ++ keepIdx.map(_._1))
    val g1 = h1.chunkGrid

    // remap new pixels' local t -> absolute t, dropping skipped dates
    val idxMap = keepIdx.map(_._2).zipWithIndex
      .map { case (localT, i) => (localT, n0 + i) }.toMap
    val mapExpr = map(idxMap.toSeq.flatMap { case (k, v) =>
      Seq(lit(k), lit(v)) }: _*)
    val newAbs = newPixels
      .withColumn("t", element_at(mapExpr, col("t").cast("int")))
      .filter(col("t").isNotNull)

    // affected chunk range: the (possibly ragged) tail chunk onward
    val c0 = n0 / h1.fracNDates
    val tailStart = c0 * h1.fracNDates
    val oldTail =
      if (tailStart < n0)
        FractionStore.pixels(h0,
          FractionStore.fractions(spark, root)
            .filter(col("time_chunk") >= c0), maskNodata = false)
          .filter(col("t") >= tailStart)
      else spark.emptyDataFrame
        .withColumn("x", lit(0)).withColumn("y", lit(0))
        .withColumn("t", lit(0)).withColumn("value", lit(0.0))
        .limit(0).select(col("x"), col("y"), col("t"), col("value"))
    val window = oldTail
      .select(col("x"), col("y"), col("t"), col("value").cast("double"))
      .union(newAbs.select(col("x"), col("y"), col("t"),
        col("value").cast("double")))

    // localCheckpoint: the rewrite READS the tail partitions it is about
    // to overwrite — materialize before the destructive write so no task
    // can recompute against deleted files
    val rows = FractionStore.fromPixels(spark, h1, window).localCheckpoint()
    // replace ONLY the affected time chunks
    FractionStore.writeChunks(rows, root, Some(h1), dynamicOverwrite = true)
    h1
  }
}
