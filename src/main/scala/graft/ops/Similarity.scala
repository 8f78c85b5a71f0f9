package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and a random-
  * hyperplane-LSH bucketed variant as the scale path (candidates only
  * within matching buckets — shuffle keys are bucket ids, never
  * all-pairs).
  *
  * All vector math runs through [[graft.functions.DotProductExpr]], a
  * native codegen expression (the `zip_with`/`aggregate` higher-order
  * form is CodegenFallback — an interpreted lambda per element, which
  * multiplies across the |corpus| x |queries| brute-force scan; the
  * native loop has bit-identical left-to-right double semantics).
  */
object Similarity {

  /** Dot product of two numeric-array columns, computed in double. */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProductExpr(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Exact brute-force top-k cosine neighbors of each query vector.
    * `queries` should be small (it is broadcast); the scan over `corpus`
    * is a single pass, and per-query top-k uses a rank window over
    * (query_id) — with AQE this is a broadcast-nested-loop of
    * |corpus| x |queries| cosine evaluations, the exact-oracle baseline.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("cvec"), col("qvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("rank"),
        round(col("cos"), 6).as("cos"))
  }

  /** Hard-negative mining for contrastive training (the batch-mining
    * step of triplet/InfoNCE pipelines): for each anchor, the top-`k`
    * most-similar vectors with a DIFFERENT label — the negatives that
    * actually move the loss, vs. random negatives that are trivially
    * far. Same exact-ranking shape as [[bruteForceTopK]] with the
    * label-mismatch predicate pushed BELOW the rank window, so the
    * per-anchor window state stays k-bounded over fewer candidates.
    *
    * At 100 TB the mining loop swaps this exact scan for the ANN paths
    * (IVF probe → label filter → exact confirm); this is the oracle-
    * exact baseline the approximate miners are judged against —
    * ranking determinism and tie-breaks identical to bruteForceTopK.
    * Returns (query_id, corpus_id, rank, cos, neg_label). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"),
      col(vecCol).as("cvec"), col(labelCol).as("neg_label"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qvec"), col(labelCol).as("q_label"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id") &&
        col("neg_label") =!= col("q_label"))
      .withColumn("cos", cosine(col("cvec"), col("qvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("rank"),
        round(col("cos"), 6).as("cos"), col("neg_label"))
  }

  /** The complement of [[hardNegatives]]: per anchor, the top-`k`
    * most-similar SAME-label vectors — the positive pairs of the
    * contrastive batch (and, read with a similarity floor, a
    * label-aware near-dup audit). Identical ranking shape and
    * tie-breaks. Returns (query_id, corpus_id, rank, cos). */
  def positivePairs(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"),
      col(vecCol).as("cvec"), col(labelCol).as("c_label"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qvec"), col(labelCol).as("q_label"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id") &&
        col("c_label") === col("q_label"))
      .withColumn("cos", cosine(col("cvec"), col("qvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("rank"),
        round(col("cos"), 6).as("cos"))
  }

  /** Deterministic random hyperplanes (seeded), as literal arrays. */
  def hyperplanes(dim: Int, nPlanes: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Deterministic ±1 (Rademacher) hyperplanes addressable by
    * (table, plane, component) via md5 — the
    * [[graft.ops.RandomProjection]] engine-portability discipline:
    * sign = first 8 md5 hex chars of "seed:table:plane:component" <
    * "80000000", so Spark and the DuckDB oracle materialize the SAME
    * planes independently and the whole LSH route (bucketing included)
    * replays exactly. Sign-random projections with ±1 entries are
    * valid cosine-LSH hashes (Charikar 2002's hyperplane rounding
    * needs only a sign-symmetric distribution). */
  def mdSignPlanes(dim: Int, nPlanes: Int, table: Int,
                   seed: String = "lsh"): Seq[Array[Double]] =
    Seq.tabulate(nPlanes) { b =>
      Array.tabulate(dim) { j =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$seed:$table:$b:$j".getBytes("UTF-8"))
        val hex = h.take(4).map(x => f"${x & 0xff}%02x").mkString
        if (hex < "80000000") 1.0 else -1.0
      }
    }

  /** Sign-bucket of a vector under the given hyperplanes: bit i = 1 iff
    * dot(vec, plane_i) > 0. */
  def signBucket(vec: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(vec, lit(p)) > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)): Column
    }.reduce((a, b) => a.bitwiseOR(b))

  /** LSH-bucketed approximate top-k: candidates share a sign-bucket in
    * at least one of `nTables` independent tables, then exact cosine +
    * rank within candidates. Recall grows with tables; cost stays
    * bucket-local (the classic SimHash-for-cosine ANN). Planes are the
    * md5-addressable ±1 family ([[mdSignPlanes]]), so the candidate
    * set — not just the verify stage — replays in the DuckDB oracle.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              dim: Int, bitsPerTable: Int = 8, nTables: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val tables = (0 until nTables).map(t =>
      mdSignPlanes(dim, bitsPerTable, t))
    def withBuckets(df: DataFrame, id: String, vec: String): DataFrame =
      df.withColumn("bucket", explode(array(tables.zipWithIndex.map {
        case (planes, t) =>
          struct(lit(t).as("table_id"), signBucket(col(vec), planes).as("sig"))
      }: _*)))
        .select(col(id), col(vec), col("bucket.table_id").as("table_id"),
          col("bucket.sig").as("sig"))
    val c = withBuckets(
      corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec")),
      "corpus_id", "cvec")
    val q = withBuckets(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec")),
      "query_id", "qvec")
    val cand = c.join(q, Seq("table_id", "sig"))
      .filter(col("corpus_id") =!= col("query_id"))
      .dropDuplicates("query_id", "corpus_id")
      .withColumn("cos", cosine(col("cvec"), col("qvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("corpus_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("rank"),
        round(col("cos"), 6).as("cos"))
  }

  /** IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    * (MLlib, fixed seed) buckets the corpus by nearest centroid; each
    * query probes its `nProbe` nearest centroids and ranks exactly
    * within the probed cells. The classic FAISS-IVF shape: recall is
    * tuned by nProbe, cost by corpusSize * nProbe / nCentroids — and the
    * join shuffles only (centroid id), never all-pairs.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val model = fitQuantizer(corpus, nCentroids, idCol, vecCol)
    val assigned = model.transform(
      corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
        .withColumn("features",
          org.apache.spark.ml.functions.array_to_vector(col("cvec"))))
      .select(col("corpus_id"), col("cvec"), col("prediction").as("cell"))
    val probed = probeCells(queries, model.clusterCenters.map(_.toArray),
      nProbe, idCol, vecCol)
    rankCandidates(assigned.join(probed, Seq("cell")), k)
  }

  private def fitQuantizer(corpus: DataFrame, nCentroids: Int,
                           idCol: String, vecCol: String) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    new KMeans().setK(nCentroids).setSeed(42L).setMaxIter(5)
      .fit(corpus.select(array_to_vector(col(vecCol)).as("features")))
  }

  /** (query_id, qvec, cell[, keep...]) — each query exploded to its
    * nProbe nearest centroids via the native
    * [[graft.functions.NearestCellsExpr]] kernel: the centroids ride
    * ONE reference object consumed by a compiled loop (the coarse
    * quantizer is data held in RAM, FAISS-style — NOT an expression
    * tree; the per-centroid literal-struct form this replaced embedded
    * O(nCentroids x dim) plan literals and an interpreted lambda per
    * centroid, a codegen-breaker at production nCentroids ~
    * sqrt(corpus)). Arithmetic and (dist, cell) tie-breaks are
    * bit-identical to the zip_with/aggregate + array_sort formulation,
    * so every IVF oracle replays unchanged. `keep` columns (e.g. the
    * anchor's label for the ANN miners) ride along untouched. */
  private def probeCells(queries: DataFrame, centers: Array[Array[Double]],
                         nProbe: Int, idCol: String, vecCol: String,
                         keep: Seq[Column] = Nil): DataFrame = {
    val q = queries.select(
      (col(idCol).as("query_id") +: col(vecCol).as("qvec") +: keep): _*)
    q.withColumn("cell", explode(
      graft.functions.NearestCellsExpr(col("qvec"), centers, nProbe)))
  }

  private def rankCandidates(cand: DataFrame, k: Int): DataFrame = {
    val scored = cand
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("cvec"), col("qvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("rank"),
        round(col("cos"), 6).as("cos"))
  }

  /** Build the IVF index ONCE and persist it as parquet tables — the
    * FAISS build/query split ([[ivfTopK]] refits the quantizer on every
    * call, which is fine as a one-shot query but wrong as a corpus
    * index: at corpus scale you build once and probe many times).
    * Layout under `dir`:
    *   - `centroids`: (cell int, centroid array<double>), nCentroids rows;
    *   - `assignments`: (corpus_id, cvec) PARTITIONED BY cell — a query
    *     probing nProbe cells touches nProbe/nCentroids of the corpus
    *     files, via static partition pruning when the probe list is a
    *     literal filter and dynamic partition pruning when it arrives
    *     through the broadcast join below.
    *
    * `quantize = true` stores the vectors int8-quantized instead — the
    * FAISS IVF-SQ8 layout: assignments carry (cvec_q BINARY — one raw
    * byte per component via [[graft.functions.PackInt8Expr]]; a
    * tinyint array would land as parquet physical INT32 and measured
    * LARGER than the float array — plus cscale double).
    * SimilaritySpec pins the on-disk ratio; [[queryIvfIndex]]
    * dequantizes on the fly and ranking stays exact over the
    * dequantized values (max per-component error cscale/2, the
    * [[quantizeInt8]] contract).
    */
  def buildIvfIndex(corpus: DataFrame, dir: String, nCentroids: Int = 16,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    quantize: Boolean = false,
                    labelCol: Option[String] = None,
                    centers: Option[Array[Array[Double]]] = None): Unit = {
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    import spark.implicits._
    val ctrs: Array[Array[Double]] = centers.getOrElse(
      fitQuantizer(corpus, nCentroids, idCol, vecCol)
        .clusterCenters.map(_.toArray))
    ctrs.zipWithIndex
      .map { case (ctr, i) => (i, ctr.toIndexedSeq) }.toSeq
      .toDF("cell", "centroid")
      .repartition(1) // nCentroids rows: one tiny file
      .write.mode("overwrite").parquet(s"$dir/centroids")
    // assignment against literal centers: a shuffle-free projection,
    // identical for fitted and supplied quantizers (KMeans.transform is
    // the same argmin-L2 — routing through one code path keeps append
    // and build byte-compatible)
    val keep = labelCol.map(l => col(l).as("label")).toSeq
    val base = corpus.select(
      (col(idCol).as("corpus_id") +: col(vecCol).as("cvec") +: keep): _*)
    val assigned = base.withColumn("cell", assignCellL2(col("cvec"), ctrs))
    // in `assigned` the label column already carries its stored name
    val keepStored = labelCol.map(_ => col("label")).toSeq
    val payload =
      if (quantize)
        assigned.select(
          (col("corpus_id") +:
            graft.functions.PackInt8Expr(quantizeInt8(col("cvec")))
              .as("cvec_q") +:
            int8Scale(col("cvec")).as("cscale") +: keepStored)
            :+ col("cell"): _*)
      else assigned
    payload.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/assignments")
  }

  /** The `nCentroids` lowest-id vectors of `corpus` as a DETERMINISTIC
    * coarse quantizer (the [[semanticDedupPairs]] convention made
    * reusable): engine-portable — every index stage downstream replays
    * exactly in the DuckDB oracle, unlike a fitted KMeans. Collects
    * nCentroids rows (the RAM-resident-quantizer bound). */
  def lowestIdCenters(corpus: DataFrame, nCentroids: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Array[Array[Double]] =
    corpus.select(col(idCol), col(vecCol).cast("array<double>"))
      .orderBy(col(idCol)).limit(nCentroids)
      .collect().map(_.getSeq[Double](1).toArray)

  /** Argmin-L2 cell of a vector (ties to the lowest cell) — the
    * nProbe = 1 case of [[probeCells]]'s native kernel, so build
    * assignment and query probing agree on metric, arithmetic AND
    * tie-break by construction (probed cells must not miss their own
    * members). Shuffle-free codegen projection; centroids ride one
    * reference object, never per-centroid plan literals. */
  private def assignCellL2(vec: Column,
                           centers: Array[Array[Double]]): Column =
    element_at(graft.functions.NearestCellsExpr(vec, centers, 1), 1)

  /** Append a NEW batch of vectors to a persisted IVF index — the
    * [[graft.ops.TextSearch.appendToInvertedIndex]] segment model one
    * surface over: the standing quantizer (centroids table) is read
    * back and the batch is assigned against it as literal centers, so
    * the append writes ONLY the batch's rows as new files inside the
    * same cell partitions (pure parquet append — no rewrite, no
    * read-modify-write race with concurrent probes, and probe-time
    * behavior is unchanged because [[queryIvfIndex]] never cared how
    * many files a cell holds). Cost tracks the BATCH (one shuffle-free
    * assignment projection + one write), never the standing index —
    * the property that keeps a 100 TB vector index maintainable under
    * a streaming corpus.
    *
    * Contract: batch ids must be new to the index (dedup first — the
    * [[appendToInvertedIndex]] convention); the batch is stored in the
    * index's own layout (quantized iff the index is, label column iff
    * the index has one — detected from the standing schema). NOTE the
    * quantizer is NOT refit: cells drift as the corpus distribution
    * drifts, which is the FAISS operational trade too (refit + rebuild
    * when recall degrades; [[buildIvfIndex]] is that path —
    * tools/AnnRecall's appended-index drift rows are the number that
    * makes "when recall degrades" operational).
    *
    * `compactOver = Some(n)`: after the append, any cell whose
    * partition has accumulated more than n parquet files is compacted
    * in place ([[compactIvfCells]]) — the
    * [[graft.streaming.IndexStreamMaintain]] threshold policy, so an
    * unattended append stream keeps probe file fan-in bounded. */
  def appendToIvfIndex(batch: DataFrame, dir: String,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       labelCol: String = "label",
                       compactOver: Option[Int] = None): Unit = {
    val spark = batch.sparkSession
    val root = IndexVersions.resolve(dir)
    val ctrs = spark.read.parquet(s"$root/centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    val standing = spark.read.parquet(s"$root/assignments")
    val quantized = standing.columns.contains("cvec_q")
    val labeled = standing.columns.contains("label")
    // the batch's label column (any name) maps onto the index's stored
    // "label" — mirrors buildIvfIndex's labelCol rename
    val keep = if (labeled) Seq(col(labelCol).as("label")) else Nil
    val base = batch.select(
      (col(idCol).as("corpus_id") +: col(vecCol).as("cvec") +: keep): _*)
    val assigned = base.withColumn("cell", assignCellL2(col("cvec"), ctrs))
    val keepStored = if (labeled) Seq(col("label")) else Nil
    val payload =
      if (quantized)
        assigned.select(
          (col("corpus_id") +:
            graft.functions.PackInt8Expr(quantizeInt8(col("cvec")))
              .as("cvec_q") +:
            int8Scale(col("cvec")).as("cscale") +: keepStored)
            :+ col("cell"): _*)
      else assigned
    payload.write.mode("append").partitionBy("cell")
      .parquet(s"$root/assignments")
    compactOver.foreach { threshold =>
      val over = cellsOverThreshold(dir, threshold)
      if (over.nonEmpty) compactIvfCells(spark, dir, Some(over))
    }
  }

  /** Merge an IVF index's accumulated append segments back down — the
    * maintenance counterpart of [[appendToIvfIndex]] and the vector-
    * index mirror of [[TextSearch.compactInvertedIndex]]: each append
    * lands one file set per touched cell partition, so an unattended
    * streaming corpus degrades probe latency with FILE COUNT (open/
    * footer cost per probe) even though data volume is fine. Per cell,
    * assignment files coalesce to one; rows are only rewritten, never
    * changed, so probe results are identical by construction
    * (SimilaritySpec pins equality across ~20 appends).
    *
    * `cells` is the unit-of-work knob (the compactInvertedIndex
    * convention): compacting a 100 TB index in one call would
    * checkpoint the whole assignments table, so production maintenance
    * walks cell batches — pair with [[cellsOverThreshold]] for the
    * threshold-triggered policy.
    *
    * Atomicity ([[IndexVersions]] policy): a WHOLE-index pass
    * (`cells = None`) is a snapshot flip — compacted assignments (and
    * the centroids, copied) land in a fresh staging version published
    * with one atomic marker, so concurrent probes never see a torn
    * layout. A cell-SCOPED pass rewrites the named partitions of the
    * CURRENT version in place (checkpoint-then-dynamic-partition-
    * overwrite — copying the untouched cells into a new version would
    * make an O(cell) step O(index)); its rewrite window is bounded to
    * those cells, the documented maintenance-job trade. Returns
    * (files_before, files_after) over the rewritten partitions. */
  def compactIvfCells(spark: org.apache.spark.sql.SparkSession,
                      dir: String,
                      cells: Option[Seq[Int]] = None): (Long, Long) =
    compactIvfCells(spark, dir, cells, () => ())

  /** Test seam: `afterSnapshot` runs after the snapshot listing is
    * pinned and before the staging write — the point a concurrent
    * appendToIvfIndex lands rows the delta guard must fold in
    * (SimilaritySpec proves zero row loss through it). */
  private[graft] def compactIvfCells(spark: org.apache.spark.sql.SparkSession,
                                     dir: String,
                                     cells: Option[Seq[Int]],
                                     afterSnapshot: () => Unit): (Long, Long) = {
    val root = IndexVersions.resolve(dir)
    def countFiles(at: String): Long =
      IndexVersions.countParquetFiles(spark, cells match {
        case Some(cs) => cs.map(c => s"$at/assignments/cell=$c")
        case None => Seq(s"$at/assignments")
      })
    val before = countFiles(root)
    val base = spark.read.parquet(s"$root/assignments")
    cells match {
      case None =>
        // whole-index pass: compact into a fresh version, atomic flip.
        // EVERY side table of the snapshot must ride along — centroids
        // always, pq_codebooks when the index is IVF-PQ (losing it
        // would publish a version queryIvfPqIndex cannot read)
        val (v, staging) = IndexVersions.nextStaging(dir)
        // PIN the snapshot listing eagerly: both the staging write and
        // the delta diff below are built from this one explicit file
        // list, so the guard's correctness no longer rests on Spark
        // happening to freeze the file index at DataFrame creation — a
        // future lazy-listing change cannot silently void it, and the
        // write provably contains exactly the snapshot rows.
        val snapFiles = base.inputFiles
        val baseSnap =
          if (snapFiles.isEmpty) base
          else spark.read.option("basePath", s"$root/assignments")
            .parquet(snapFiles.toIndexedSeq: _*)
        afterSnapshot()
        baseSnap.repartition(col("cell"))
          .sortWithinPartitions(col("corpus_id"))
          .write.partitionBy("cell").parquet(s"$staging/assignments")
        spark.read.parquet(s"$root/centroids")
          .repartition(1).write.parquet(s"$staging/centroids")
        if (IndexVersions.pathExists(s"$root/pq_codebooks"))
          spark.read.parquet(s"$root/pq_codebooks")
            .repartition(1).write.parquet(s"$staging/pq_codebooks")
        // Writer-concurrency guard: rows appendToIvfIndex landed in the
        // OLD version between the pinned snapshot listing and this
        // point would silently vanish from the new version — and the
        // stream's version-independent vecs_seen gate would then refuse
        // to ever re-append those ids (permanent loss, not staleness).
        // The store is append-only, so the delta is exactly the FILES
        // a fresh listing has that the pinned snapshot lacked: read
        // only those (basePath keeps the cell partition column) and
        // append them to staging verbatim — no scan, no shuffle. The
        // remaining exposure is the delta-list-to-publish window; a
        // writer that cannot be quiesced for even that should run
        // compaction from its own ingest hook
        // ([[graft.streaming.IvfStreamMaintain]]'s foreachBatch
        // serialization is the safe harness).
        val deltaFiles = (spark.read.parquet(s"$root/assignments")
          .inputFiles.toSet -- snapFiles.toSet).toSeq
        if (deltaFiles.nonEmpty)
          spark.read.option("basePath", s"$root/assignments")
            .parquet(deltaFiles: _*)
            .write.mode("append").partitionBy("cell")
            .parquet(s"$staging/assignments")
        IndexVersions.publish(dir, v)
        (before, countFiles(staging))
      case Some(cs) =>
        // cell-scoped pass: in-place partition rewrite in the current
        // version; one task (= one file) per cell partition via
        // hash-repartition on the partition column itself
        val selected = base
          .filter(col("cell").isin(cs.map(Integer.valueOf): _*))
          .localCheckpoint()
        try {
          selected.repartition(col("cell"))
            .sortWithinPartitions(col("corpus_id"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cell").parquet(s"$root/assignments")
        } finally selected.unpersist()
        (before, countFiles(root))
    }
  }

  /** Cells whose assignment partition holds more than `threshold`
    * parquet files — the compaction trigger set (the
    * [[graft.streaming.IndexStreamMaintain]] policy, for cells). A
    * directory listing of nCentroids partition dirs: bounded by the
    * layout, never by data. Resolved through the Hadoop FileSystem of
    * the index path (NOT java.io.File — an hdfs:// or s3a:// index
    * must see the same listing the writers produced). */
  def cellsOverThreshold(dir: String, threshold: Int): Seq[Int] = {
    val assignments = new org.apache.hadoop.fs.Path(
      s"${IndexVersions.resolve(dir)}/assignments")
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val fs = assignments.getFileSystem(conf)
    if (!fs.exists(assignments)) Nil
    else fs.listStatus(assignments).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .filter(d => fs.listStatus(d.getPath)
        .count(_.getPath.getName.endsWith(".parquet")) > threshold)
      .map(_.getPath.getName.stripPrefix("cell=").toInt)
      .sorted
  }

  /** The standing index's stored vectors as (corpus_id, cvec[, label,]
    * cell) — the ONE place the cvec_q-detect-and-dequantize read lives
    * (queryIvfIndex, the miners, the canary and the rebuild all layer
    * on it; an index-layout change lands here once). Takes an ALREADY
    * RESOLVED version root ([[IndexVersions.resolve]]) — callers
    * resolve once so every table they touch comes from one snapshot. */
  private def readIndexVectors(spark: org.apache.spark.sql.SparkSession,
                               root: String,
                               keepLabel: Boolean,
                               keepCell: Boolean,
                               files: Seq[String] = Nil): DataFrame = {
    // non-empty `files` = a caller-pinned snapshot listing: read exactly
    // those files (basePath keeps the cell partition column) so the
    // frame cannot drift with later appends to the directory
    val raw =
      if (files.isEmpty) spark.read.parquet(s"$root/assignments")
      else spark.read.option("basePath", s"$root/assignments")
        .parquet(files.toIndexedSeq: _*)
    val labeled = keepLabel && raw.columns.contains("label")
    val tail = (if (labeled) Seq(col("label")) else Nil) ++
      (if (keepCell) Seq(col("cell")) else Nil)
    if (raw.columns.contains("cvec_q"))
      raw.select((col("corpus_id") +:
        graft.functions.UnpackInt8Expr(col("cvec_q"), col("cscale"))
          .as("cvec") +: tail): _*)
    else raw.select((col("corpus_id") +: col("cvec") +: tail): _*)
  }

  /** Recall@k of a persisted IVF index against the EXACT ranking over
    * its own stored vectors — the drift canary that makes the append
    * contract's "refit + rebuild when recall degrades" operational
    * (COVERAGE.md §ANN recall drift holds the measured curve; this is
    * the same number as a standing engine call). `queries` should be a
    * small held-out canary set: the exact side is ONE scan of the
    * stored corpus against broadcast queries (the cost class of a
    * probe at nProbe = nCentroids), the approximate side a normal
    * partition-pruned probe; the intersection is a candidate-sized
    * join + two counts — nothing corpus-squared, nothing collected.
    * Cache use is SCOPED (library-op contract): repeated monitoring
    * calls leak nothing and never touch other work's caches. */
  def ivfRecallCanary(spark: org.apache.spark.sql.SparkSession,
                      dir: String, queries: DataFrame, k: Int = 10,
                      nProbe: Int = 4, idCol: String = "vec_id",
                      vecCol: String = "embedding"): Double =
    CacheRegistry.scoped {
      val corpus = readIndexVectors(spark, IndexVersions.resolve(dir),
          keepLabel = false, keepCell = false)
        .select(col("corpus_id").as(idCol), col("cvec").as(vecCol))
      val exact = CacheRegistry.persist(
        bruteForceTopK(corpus, queries, k, idCol, vecCol)
          .select(col("query_id"), col("corpus_id")))
      val approx = queryIvfIndex(spark, dir, queries, k, nProbe,
          idCol, vecCol)
        .select(col("query_id"), col("corpus_id"))
      val truth = exact.count()
      // an empty truth set means the canary itself is broken (empty or
      // degenerate query frame) — defaulting to perfect recall would
      // silently disable the drift guard in exactly the failure mode
      // it exists to catch
      require(truth > 0L,
        "ivfRecallCanary: canary produced no exact neighbors — empty " +
          "or degenerate canary query set")
      approx.join(exact, Seq("query_id", "corpus_id")).count()
        .toDouble / truth
    }

  /** Rebuild-on-drift maintenance: probe the canary; when recall@k
    * falls below `minRecall`, rebuild the index from its own stored
    * vectors with a freshly FIT quantizer — the refit path
    * [[appendToIvfIndex]] deliberately defers. Detected layout is
    * preserved: labels kept, an int8 index rebuilds quantized (from
    * the dequantized vectors — the only copy an IVF-SQ8 index holds,
    * the FAISS trade), and the CENTROID COUNT defaults to the standing
    * quantizer's (pass `nCentroids` only to deliberately re-size; a
    * fixed default would silently collapse a production sqrt(corpus)
    * index to toy sizing).
    *
    * The rebuild is an ATOMIC VERSION FLIP ([[IndexVersions]]): the new
    * quantizer and assignments land in a fresh staging directory and a
    * single marker-create publishes them, so probes running
    * CONCURRENTLY with a triggered rebuild keep reading the complete
    * old snapshot and never see a mixed layout — safe from the query
    * path, not just the maintenance job (the streaming twin makes
    * concurrent probe-while-maintain the normal case). Old versions
    * stay on disk for in-flight probes; `pruneKeep = Some(n)` GCs down
    * to the newest n versions AFTER a successful publish (n >= 2 keeps
    * the previous snapshot for probes still on it — the setting for an
    * unattended rebuild-on-drift stream, where versions would
    * otherwise accumulate without bound); `None` (default) keeps
    * everything for a manual [[IndexVersions.pruneTo]]. Returns
    * (recallBefore, rebuilt). */
  def maintainIvfIndex(spark: org.apache.spark.sql.SparkSession,
                       dir: String, canary: DataFrame, minRecall: Double,
                       k: Int = 10, nProbe: Int = 4,
                       nCentroids: Option[Int] = None,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       pruneKeep: Option[Int] = None): (Double, Boolean) =
    maintainIvfIndex(spark, dir, canary, minRecall, k, nProbe, nCentroids,
      idCol, vecCol, pruneKeep, () => ())

  /** Test seam: `afterSnapshot` runs after the rebuild consumed the
    * pinned snapshot and before the delta fold — the point a
    * concurrent append lands rows the guard must carry into the new
    * version (SimilaritySpec proves zero row loss through it). */
  private[graft] def maintainIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, canary: DataFrame, minRecall: Double,
      k: Int, nProbe: Int, nCentroids: Option[Int],
      idCol: String, vecCol: String, pruneKeep: Option[Int],
      afterSnapshot: () => Unit): (Double, Boolean) = {
    val recall = ivfRecallCanary(spark, dir, canary, k, nProbe,
      idCol, vecCol)
    if (recall >= minRecall) (recall, false)
    else {
      val root = IndexVersions.resolve(dir)
      val nCells = nCentroids.getOrElse(
        spark.read.parquet(s"$root/centroids").count().toInt)
      val standingCols = spark.read.parquet(s"$root/assignments").columns
      val labeled = standingCols.contains("label")
      val quantized = standingCols.contains("cvec_q")
      // PIN the snapshot listing eagerly (the compactIvfCells
      // discipline): the rebuild input AND the delta anti-join's
      // snapshot side read exactly these files, so the guard cannot be
      // voided by a lazy re-listing picking up concurrent appends.
      val snapFiles = spark.read.parquet(s"$root/assignments")
        .inputFiles.toSeq
      val vecs = readIndexVectors(spark, root, keepLabel = true,
          keepCell = false, files = snapFiles)
        .select((col("corpus_id").as(idCol) +:
          col("cvec").as(vecCol) +:
          (if (labeled) Seq(col("label")) else Nil)): _*)
      val (v, staging) = IndexVersions.nextStaging(dir)
      buildIvfIndex(vecs, staging, nCentroids = nCells, idCol = idCol,
        vecCol = vecCol, quantize = quantized,
        labelCol = if (labeled) Some("label") else None)
      afterSnapshot()
      // Writer-concurrency guard (the compactIvfCells discipline): ids
      // appended to the OLD version while the rebuild ran would vanish
      // from the new version — permanently, because the streaming
      // vecs_seen gate is version-independent. Re-list the old
      // assignments, anti-join against the rebuild's snapshot ids, and
      // append the delta THROUGH the new quantizer before publishing
      // (appendToIvfIndex against the unpublished staging tree — it
      // resolves to the tree itself and reads the new centroids). The
      // residual exposure is the delta-scan-to-publish window; writers
      // that cannot pause even that long must serialize maintenance
      // through their own ingest hook (IvfStreamMaintain).
      val freshVecs = readIndexVectors(spark, root, keepLabel = labeled,
          keepCell = false)
        .select((col("corpus_id").as(idCol) +:
          col("cvec").as(vecCol) +:
          (if (labeled) Seq(col("label")) else Nil)): _*)
      val delta = freshVecs.join(vecs.select(col(idCol)), Seq(idCol),
        "left_anti").localCheckpoint()
      if (delta.limit(1).count() > 0)
        appendToIvfIndex(delta, staging, idCol = idCol, vecCol = vecCol)
      delta.unpersist()
      IndexVersions.publish(dir, v)
      pruneKeep.foreach { n =>
        require(n >= 2, s"pruneKeep $n would delete the version a " +
          "concurrent probe may still be reading — keep at least 2")
        IndexVersions.pruneTo(dir, n)
      }
      (recall, true)
    }
  }

  /** Probe a persisted IVF index built by [[buildIvfIndex]]: same
    * output contract as [[ivfTopK]], but the quantizer fit is paid once
    * at build time. The probe side is broadcast (queries are small next
    * to a corpus), so the assignments scan prunes probed cells via
    * dynamic partition pruning instead of shuffling the corpus.
    * An int8-quantized index (schema carries cvec_q/cscale) dequantizes
    * in the scan projection; everything downstream is unchanged.
    */
  def queryIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                    queries: DataFrame, k: Int, nProbe: Int = 4,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    // resolve the version ONCE: centroids and assignments below both
    // come from the same immutable snapshot, however long the probe
    // runs and whatever maintenance publishes meanwhile
    val snap = IndexVersions.resolve(dir)
    val centers = spark.read.parquet(s"$snap/centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    val assigned = readIndexVectors(spark, snap, keepLabel = false,
      keepCell = true)
    val probed = probeCells(queries, centers, nProbe, idCol, vecCol)
    rankCandidates(assigned.join(broadcast(probed), Seq("cell")), k)
  }

  /** ANN-backed hard-negative mining — [[hardNegatives]] at corpus
    * scale: anchors route through a persisted IVF index
    * ([[buildIvfIndex]] with `labelCol` set) instead of cross-joining
    * the corpus. Each anchor probes its `nProbe` nearest cells and
    * ranks ONLY different-label members of those cells (the label
    * filter applied in-cell, below the rank window) — so with anchors
    * = the whole corpus (the real contrastive-training shape) the cost
    * is |corpus| · nProbe/nCentroids candidate rows through one
    * cell-keyed join, never the |corpus|² all-pairs of the exact
    * baseline.
    *
    * Scale shape: the anchor side is NOT broadcast (anchors are
    * corpus-sized in the mining use case) — both sides shuffle on
    * `cell`, the corpus side pre-partitioned on disk by cell; size
    * nCentroids ~ sqrt(corpus) in production so the key has real
    * cardinality. Labels are stored IN the index, so no corpus-sized
    * label join rides the probe.
    *
    * Output contract identical to [[hardNegatives]] (query_id,
    * corpus_id, rank, cos, neg_label) — same tie-breaks, same
    * rounding — so recall@k vs the brute miner is well-defined
    * (recorded in COVERAGE.md §ANN recall; top-1 recovery on planted
    * structure pinned in SimilaritySpec). */
  def hardNegativesAnn(spark: org.apache.spark.sql.SparkSession,
                       dir: String, anchors: DataFrame, k: Int,
                       nProbe: Int = 4, idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       labelCol: String = "label"): DataFrame =
    minePairsAnn(spark, dir, anchors, k, nProbe, idCol, vecCol, labelCol,
      positive = false)

  /** The positives side of the ANN mining pair — [[positivePairs]]
    * through the same IVF route as [[hardNegativesAnn]]: same-label
    * candidates within the probed cells. Output (query_id, corpus_id,
    * rank, cos). */
  def positivePairsAnn(spark: org.apache.spark.sql.SparkSession,
                       dir: String, anchors: DataFrame, k: Int,
                       nProbe: Int = 4, idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       labelCol: String = "label"): DataFrame =
    minePairsAnn(spark, dir, anchors, k, nProbe, idCol, vecCol, labelCol,
      positive = true)

  private def minePairsAnn(spark: org.apache.spark.sql.SparkSession,
                           dir: String, anchors: DataFrame, k: Int,
                           nProbe: Int, idCol: String, vecCol: String,
                           labelCol: String, positive: Boolean): DataFrame = {
    val snap = graft.ops.IndexVersions.resolve(dir)
    val centers = spark.read.parquet(s"$snap/centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    require(spark.read.parquet(s"$snap/assignments")
      .columns.contains("label"),
      s"IVF index at $dir carries no label column — build with labelCol")
    val assigned = readIndexVectors(spark, snap, keepLabel = true,
        keepCell = true)
      .withColumnRenamed("label", "c_label")
    val probed = probeCells(anchors, centers, nProbe, idCol, vecCol,
      keep = Seq(col(labelCol).as("q_label")))
    // label predicate BELOW the rank window: per-anchor window state
    // stays k-bounded over fewer candidates (the hardNegatives shape)
    val labelPred =
      if (positive) col("c_label") === col("q_label")
      else col("c_label") =!= col("q_label")
    val scored = assigned.join(probed, Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id") && labelPred)
      .withColumn("cos", cosine(col("cvec"), col("qvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("corpus_id"))
    val ranked = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    if (positive)
      ranked.select(col("query_id"), col("corpus_id"), col("rank"),
        round(col("cos"), 6).as("cos"))
    else
      ranked.select(col("query_id"), col("corpus_id"), col("rank"),
        round(col("cos"), 6).as("cos"), col("c_label").as("neg_label"))
  }

  // ---- int8 embedding quantization ----------------------------------

  /** Per-vector symmetric quantization scale: max|x| / 127 (double). */
  def int8Scale(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double")))) / lit(127.0)

  /** Symmetric per-vector int8 quantization — the standard embedding
    * compression step before corpus-scale storage/ANN: q_i =
    * round(x_i / scale) with scale = max|x|/127, so every component
    * lands in [-127, 127] and the stored vector shrinks 4x (and so do
    * the bytes every ANN candidate shuffle carries). Engine-portable
    * arithmetic: double divide + round-half-away, replayed exactly by
    * the DuckDB oracle. A zero vector quantizes to zeros.
    *
    * Runs as a higher-order Column (interpreted per element) — fine
    * for the once-per-corpus storage transform; the hot QUERY path
    * reads the already-quantized table. */
  def quantizeInt8(vec: Column): Column = {
    val s = int8Scale(vec)
    transform(vec, x =>
      when(s === 0, lit(0.0))
        .otherwise(round(x.cast("double") / s, 0))
        .cast("tinyint"))
  }

  /** Inverse of [[quantizeInt8]] given the stored per-vector scale:
    * component-wise q_i * scale, max abs error scale/2. */
  def dequantizeInt8(q: Column, scale: Column): Column =
    transform(q, v => v.cast("double") * scale)

  // ---- product quantization (PQ) ------------------------------------

  /** Deterministic PQ codebooks: subspace `m`'s centroids are the m-th
    * subvectors of the `ksub` lowest-id corpus vectors, collected
    * driver-side (ksub rows — the same RAM-resident-quantizer bound as
    * [[probeCells]] and [[semanticDedupPairs]]). Deterministic selection
    * instead of per-subspace k-means keeps the whole PQ pipeline —
    * encode AND query — exactly replayable by the DuckDB oracle; a
    * fitted codebook drops in by swapping this one function.
    * Returns codebooks(m)(j) = centroid j of subspace m (dsub doubles).
    */
  def pqCodebooks(corpus: DataFrame, dim: Int, nSub: Int, ksub: Int,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    require(dim % nSub == 0, s"dim $dim not divisible into $nSub subspaces")
    val dsub = dim / nSub
    val seeds = corpus.filter(col(idCol) < ksub)
      .select(col(idCol).cast("int"), col(vecCol).cast("array<double>"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    Array.tabulate(nSub)(m => seeds.map(_._2.slice(m * dsub, (m + 1) * dsub)))
  }

  /** Squared L2 distance between a vector-slice column and a literal
    * centroid, as a left-to-right fold in double — the exact arithmetic
    * the DuckDB oracle's `list_sum(list_transform(...))` replays.
    * Interpreted per element; used on the once-per-corpus encode and the
    * |queries| x ksub LUT build, never on the per-candidate hot path. */
  private def sqDistLit(sub: Column, ctr: Array[Double]): Column =
    aggregate(zip_with(sub, lit(ctr),
      (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
      lit(0.0), (a, v) => a + v)

  /** PQ-encode a vector column: array of `nSub` int codes, code m =
    * argmin_j ||subvec_m - codebook(m)(j)||² (ties to the lowest j).
    * A shuffle-free projection through the native
    * [[graft.functions.PqEncodeExpr]] kernel — the higher-order
    * slice/zip_with/array_max form is CodegenFallback and paid
    * nSub * ksub * dsub interpreted dispatches per corpus row, which
    * dominated the whole ADC query at bench scale. Arithmetic and
    * tie-break are identical (left-to-right double fold, lowest j),
    * so the DuckDB oracle replay is unchanged. */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    graft.functions.PqEncodeExpr(vec, codebooks)

  /** Per-query ADC lookup table over `vec`: lut[m][j] =
    * ||subvec_m - codebook(m)(j)||², built in-plan from literal
    * codebooks (|queries| × nSub × ksub evaluations — query-side only,
    * never |corpus|-proportional). */
  private def pqLut(vec: Column,
                    cbs: Array[Array[Array[Double]]]): Column = {
    val dsub = cbs(0)(0).length
    array(cbs.indices.map { m =>
      val sub = slice(vec, m * dsub + 1, dsub)
      array(cbs(m).toIndexedSeq.map(ctr => sqDistLit(sub, ctr)): _*)
    }: _*)
  }

  /** ADC distance of a `codes` row against a `lut` column: nSub array
    * lookups summed left-to-right in subspace order (the fold the
    * DuckDB oracle replays). */
  private def adcDist(nSub: Int): Column =
    (0 until nSub).map(m =>
      element_at(element_at(col("lut"), m + 1),
        element_at(col("codes"), m + 1) + 1): Column).reduce(_ + _)

  /** Rank (codes ⨝ query-LUT) candidates by ADC distance: shared tail of
    * [[pqTopK]], [[ivfPqTopK]] and [[queryIvfPqIndex]]. */
  private def adcRank(cand: DataFrame, nSub: Int, k: Int): DataFrame = {
    val scored = cand
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("adist", adcDist(nSub))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("rank"),
        round(col("adist"), 6).as("adist"))
  }

  /** PQ approximate top-k by asymmetric distance computation (ADC) —
    * Jégou et al. 2011, "Product Quantization for Nearest Neighbor
    * Search" (TPAMI): the corpus is stored as nSub byte-sized codes per
    * vector (dim doubles → nSub ints, the memory ratio that lets a
    * 100 TB embedding corpus fit a cluster's RAM); each query
    * precomputes a (nSub x ksub) lookup table of subspace distances to
    * every centroid, and a candidate's approximate distance is nSub
    * array lookups + adds instead of dim multiplies.
    *
    * Plan shape: encode is a shuffle-free projection; queries (with
    * their LUTs built in-plan from literal codebooks) broadcast into the
    * scan — the same broadcast-nested-loop as [[bruteForceTopK]], with
    * the per-candidate work collapsed from O(dim) float math to O(nSub)
    * lookups. At scale the scan side composes with the IVF cell
    * restriction ([[buildIvfIndex]]) exactly as FAISS IVFADC does.
    *
    * Fully deterministic ([[pqCodebooks]]), so unlike the LSH/IVF
    * entries this ANN path is hash-checked against a DuckDB replay, not
    * rows-only. Output: (query_id, corpus_id, rank, adist) — rank by
    * (adist asc, corpus_id), adist rounded to 6 decimals.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
             nSub: Int = 8, ksub: Int = 16,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    val cbs = pqCodebooks(corpus, dim, nSub, ksub, idCol, vecCol)
    val codes = corpus.select(col(idCol).as("corpus_id"),
      pqEncode(col(vecCol), cbs).as("codes"))
    val q = queries.select(col(idCol).as("query_id"),
      pqLut(col(vecCol), cbs).as("lut"))
    adcRank(codes.crossJoin(broadcast(q)), nSub, k)
  }

  /** FAISS-style IVFADC (Jégou et al. 2011 §IV): the coarse k-means
    * quantizer restricts candidates to each query's nProbe cells, and
    * PQ-ADC ranks within them — the standard billion-scale ANN shape:
    * candidate count drops by nProbe/nCentroids AND each candidate costs
    * nSub lookups instead of dim multiplies. The corpus side carries
    * (cell, codes) only — never raw vectors — so the probe join moves
    * nSub ints per row; queries (with in-plan LUTs) broadcast into it.
    * Codes here quantize the raw vectors, not residuals — one codebook
    * set serves every cell, which keeps the LUT per query instead of
    * per (query, cell) and stays exactly [[pqTopK]]-comparable. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
                nSub: Int = 8, ksub: Int = 16,
                nCentroids: Int = 16, nProbe: Int = 4,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val model = fitQuantizer(corpus, nCentroids, idCol, vecCol)
    val cbs = pqCodebooks(corpus, dim, nSub, ksub, idCol, vecCol)
    val codes = model.transform(
      corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
        .withColumn("features", array_to_vector(col("cvec"))))
      .select(col("corpus_id"), pqEncode(col("cvec"), cbs).as("codes"),
        col("prediction").as("cell"))
    val probed = probeCells(queries, model.clusterCenters.map(_.toArray),
      nProbe, idCol, vecCol)
    val q = probed.select(col("query_id"), col("cell"),
      pqLut(col("qvec"), cbs).as("lut"))
    adcRank(codes.join(broadcast(q), Seq("cell")), nSub, k)
  }

  /** Persist the IVF-PQ index — the FAISS IVFADC on-disk layout, the
    * build/query split of [[ivfPqTopK]] (which refits quantizer and
    * codebooks per call). Layout under `dir`:
    *   - `centroids`: (cell, centroid) — the coarse quantizer;
    *   - `pq_codebooks`: (m, j, ctr) — nSub × ksub subspace centroids;
    *   - `assignments`: (corpus_id, codes array<int>) PARTITIONED BY
    *     cell — nSub ints per corpus vector, the full compression of
    *     the corpus payload (raw vectors are not stored at all; at
    *     100 TB of embeddings the index is the only thing that needs
    *     to exist cluster-side, which is the point of IVFADC).
    * Probes prune cells via partition pruning exactly like
    * [[queryIvfIndex]]. */
  def buildIvfPqIndex(corpus: DataFrame, dir: String, dim: Int,
                      nCentroids: Int = 16, nSub: Int = 8, ksub: Int = 16,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Unit = {
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    import spark.implicits._
    val model = fitQuantizer(corpus, nCentroids, idCol, vecCol)
    val cbs = pqCodebooks(corpus, dim, nSub, ksub, idCol, vecCol)
    model.clusterCenters.zipWithIndex
      .map { case (ctr, i) => (i, ctr.toArray) }.toSeq
      .toDF("cell", "centroid")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    (for (m <- cbs.indices; j <- cbs(m).indices)
      yield (m, j, cbs(m)(j).toSeq)).toDF("m", "j", "ctr")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$dir/pq_codebooks")
    model.transform(
      corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
        .withColumn("features", array_to_vector(col("cvec"))))
      .select(col("corpus_id"), pqEncode(col("cvec"), cbs).as("codes"),
        col("prediction").as("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/assignments")
  }

  /** Probe a persisted IVF-PQ index: same output contract as
    * [[ivfPqTopK]], with quantizer + codebooks paid once at build time.
    * Centroids and codebooks load driver-side (nCentroids + nSub*ksub
    * rows); the probe side broadcasts, so the cell-partitioned codes
    * scan prunes to the probed cells. */
  def queryIvfPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                      queries: DataFrame, k: Int, nProbe: Int = 4,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    // one snapshot for centroids, codebooks AND codes (IndexVersions —
    // same discipline as queryIvfIndex; flat legacy dirs resolve to
    // themselves)
    val snap = IndexVersions.resolve(dir)
    val centers = spark.read.parquet(s"$snap/centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    val cbRows = spark.read.parquet(s"$snap/pq_codebooks")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val nSub = cbRows.map(_._1).max + 1
    val ksub = cbRows.map(_._2).max + 1
    val cbs = Array.tabulate(nSub, ksub)((m, j) =>
      cbRows.find(c => c._1 == m && c._2 == j).get._3)
    val codes = spark.read.parquet(s"$snap/assignments")
    val probed = probeCells(queries, centers, nProbe, idCol, vecCol)
    val q = probed.select(col("query_id"), col("cell"),
      pqLut(col("qvec"), cbs).as("lut"))
    adcRank(codes.join(broadcast(q), Seq("cell")), nSub, k)
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540): bucket the corpus with a coarse quantizer, then
    * compare pairwise ONLY within a bucket — expected cost O(n²/k)
    * spread over a keyed join instead of all-pairs, which is what makes
    * semantic dedup tractable at corpus scale (the LSH variant
    * [[cosineNearDups]] needs near-identical vectors to collide;
    * cell-scoped comparison catches the looser "same meaning" band).
    *
    * The quantizer here is DETERMINISTIC and engine-portable: the
    * `nCells` lowest-id vectors serve as centroids (one assignment
    * step, no iterative fit), so the whole operator — including the
    * argmax cell assignment — replays exactly in the DuckDB oracle,
    * unlike a fitted KMeans. Assignment is a shuffle-free projection:
    * the centroids are driver-side literals (like [[probeCells]]) and
    * each row takes `array_max` over per-cell (cosine, -cell) structs,
    * tie-breaking to the lowest cell. The only shuffle is the
    * cell-keyed pair join.
    */
  /** Collect the deterministic coarse quantizer: the `nCells` lowest-id
    * vectors of `base` (driver-side, nCells rows — the probeCells
    * bound). `base` must carry (id, vec). */
  private def lowIdCenters(base: DataFrame,
                           nCells: Int): Array[(Int, Array[Double])] =
    base.filter(col("id") < nCells)
      .select(col("id").cast("int"), col("vec").cast("array<double>"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)

  /** Shuffle-free argmax-cosine cell assignment (ties to the lowest
    * cell): adds `cell` to a (.., vecCol) frame. The engine-portable
    * quantizer shared by [[semanticDedupPairs]] and
    * [[semanticDecontaminate]]. Runs through the native
    * [[graft.functions.NearestCellsExpr]] cosine mode (same
    * dot/(norm*norm) left-to-right arithmetic and lowest-cell tie-break
    * as the per-centroid struct form it replaced — the oracles replay
    * unchanged); the kernel returns an INDEX into the centroid array,
    * mapped to the stored cell id through one array literal (nCells
    * ints — a single Literal object, not per-centroid expressions). */
  private def assignCells(df: DataFrame, vecCol: String,
                          centers: Array[(Int, Array[Double])]): DataFrame = {
    val idx = element_at(graft.functions.NearestCellsExpr(
      col(vecCol), centers.map(_._2), 1, cosineMode = true), 1)
    df.withColumn("cell",
      element_at(lit(centers.map(_._1)), idx + lit(1)))
  }

  def semanticDedupPairs(corpus: DataFrame, nCells: Int, minCos: Double,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .transform(CacheRegistry.persist)
    // nCells rows to the driver — the coarse quantizer is RAM-resident
    // the same way FAISS keeps one (and the same bound as probeCells)
    val centers = lowIdCenters(base, nCells)
    val assigned = assignCells(base, "vec", centers)
      .select(col("id"), col("vec"), col("cell"))
    val a = assigned.select(col("cell"), col("id").as("id_a"),
      col("vec").as("vec_a"))
    val b = assigned.select(col("cell"), col("id").as("id_b"),
      col("vec").as("vec_b"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cell"),
        round(col("cos"), 6).as("cos"))
  }

  /** Semantic (embedding-space) benchmark decontamination — the
    * complement of the n-gram [[Dedup.decontaminate]]: flag corpus
    * members whose embedding is cosine-close to ANY benchmark
    * embedding, catching paraphrased leaks that share no surface
    * n-grams. Same cell discipline as [[semanticDedupPairs]]: both
    * sides take the deterministic argmax-cosine assignment against the
    * corpus' nCells lowest-id vectors (scale-invariant, so a scaled
    * leak always lands in its source's cell), and comparison happens
    * only inside a cell — the benchmark side is |bench| rows, the join
    * shuffles on cell, and nothing ever goes all-pairs. Deterministic
    * end to end, so the DuckDB oracle replays it exactly.
    * Output: (id, n_hits, max_cos) per FLAGGED corpus member. */
  def semanticDecontaminate(corpus: DataFrame, bench: DataFrame,
                            nCells: Int, minCos: Double,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .transform(CacheRegistry.persist)
    val centers = lowIdCenters(base, nCells)
    val c = assignCells(base, "vec", centers)
      .select(col("id"), col("vec"), col("cell"))
    val b = assignCells(
      bench.select(col(vecCol).as("bvec")), "bvec", centers)
      .select(col("bvec"), col("cell"))
    c.join(b, Seq("cell"))
      .withColumn("cos", cosine(col("vec"), col("bvec")))
      .filter(col("cos") >= minCos)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"),
        round(max(col("cos")), 6).as("max_cos"))
  }

  /** Embedding-cosine near-duplicate pairs above a threshold, via LSH
    * buckets (pairs agreeing on a full table signature). */
  def cosineNearDups(corpus: DataFrame, dim: Int, minCos: Double,
                     bitsPerTable: Int = 12, nTables: Int = 3,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val tables = (0 until nTables).map(t =>
      hyperplanes(dim, bitsPerTable, seed = 1000L + t))
    // persisted: feeds the bucketing explode AND both verify-stage joins
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .transform(CacheRegistry.persist)
    // candidates carry ONLY (bucket keys, id) — vectors re-attach by id
    // after pair dedup rather than riding the bucket self-join
    val bucketed = base.withColumn("bucket",
      explode(array(tables.zipWithIndex.map { case (planes, t) =>
        struct(lit(t).as("table_id"), signBucket(col("vec"), planes).as("sig"))
      }: _*)))
      .select(col("id"), col("bucket.table_id").as("table_id"),
        col("bucket.sig").as("sig"))
    val a = bucketed.select(col("table_id"), col("sig"), col("id").as("id_a"))
    val b = bucketed.select(col("table_id"), col("sig"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("table_id", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    pairs
      .join(base.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .withColumn("cos", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }
}
