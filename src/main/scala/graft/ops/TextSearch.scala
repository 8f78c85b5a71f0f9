package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Okapi BM25 full-text search over a document corpus (Robertson &
  * Spärck Jones's probabilistic ranking; the scoring function behind
  * Lucene/Elasticsearch defaults) — gives the engine ad-hoc relevance
  * search over its own corpus tables, the retrieval complement of the
  * TF-IDF keyword extractor.
  *
  *   score(d, Q) = Σ_{t ∈ Q} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  *   idf(t) = ln((N − df + 0.5) / (df + 0.5))
  *
  * Engine-exactness: idf values are snapped to the integer micro-nat
  * grid (the [[Dsir]] convention) and embedded as literals; per-term
  * contributions are added in FIXED query-term order (a literal
  * left-associated sum, not an aggregate), so the whole score chain is
  * deterministic IEEE arithmetic the DuckDB oracle replays exactly.
  *
  * Scale shape: one corpus pass builds the (doc, term) tf table for
  * QUERY TERMS ONLY (the explode filters to ≤|Q| distinct terms before
  * the partial agg, so the shuffle is hit-sized, not corpus-sized); one
  * more pass takes N and Σdl as a 1-row aggregate. df comes off the tf
  * table (≤|Q| rows collected — bounded by the query, not the data).
  * Scoring is a projection over the tf join; top-k is
  * TakeOrderedAndProject (per-partition top-k, no global sort).
  */
object TextSearch {

  /** Top-`k` docs for `queryTerms` (matched case-insensitively against
    * whitespace tokens). Returns (idCol, dl, score) — score unrounded;
    * ties rank by ascending id. Docs matching no term score 0 and are
    * only returned if fewer than `k` docs match. */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty && k > 0, "need query terms and k > 0")
    val terms = queryTerms.map(_.toLowerCase).distinct
    val id = col(idCol)

    val toks = docs.select(id,
        explode(graft.functions.TextFunctions.tokens(
          lower(col(textCol)))).as("t"))
      .filter(col("t").isin(terms: _*))
    // (doc, term)-grouped hits, pivoted to one tf column per query term
    // (terms are a literal list — no discovery scan); persisted because
    // both df and the scoring join read it, hit-sized by construction
    val aggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("t") === t, 1L).otherwise(0L)).as(s"tf_$i")
    }
    val tf = CacheRegistry.persist(
      toks.groupBy(id).agg(aggs.head, aggs.tail: _*))

    // bounded stats: N + Σdl in ONE corpus aggregate; df off the
    // hit-sized tf table (≤ |terms| values collected)
    val stats = docs.agg(count(lit(1)).as("n"),
      coalesce(sum(graft.functions.TextFunctions.tokenCount(col(textCol))
        .cast("long")), lit(0L)).as("sumdl")).head()
    val n = stats.getLong(0)
    val avgdl = stats.getLong(1).toDouble / n
    val dfRow = tf.select(terms.indices.map(i =>
      sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i")): _*).head()
    // idf snapped to micro-nats (exact integer -> deterministic double)
    val idf = terms.indices.map { i =>
      val df = dfRow.getLong(i)
      math.round(math.log((n - df + 0.5) / (df + 0.5)) * 1e6) / 1e6
    }

    val scored = docs.select(id,
        graft.functions.TextFunctions.tokenCount(col(textCol))
          .cast("long").as("dl"))
      .join(tf, Seq(idCol), "left")
    // fixed left-associated per-term sum — NOT an aggregate, so the
    // addition order is part of the plan and the oracle mirrors it
    scored.select(id, col("dl"),
        scoreColumn(terms.size, idf, avgdl, k1, b).as("score"))
      .orderBy(col("score").desc, id.asc)
      .limit(k)
  }

  /** Shared scoring projection: fixed left-associated per-term BM25 sum
    * over a frame with `dl` and one `tf_i` column per term. */
  private def scoreColumn(nTerms: Int, idf: Seq[Double], avgdl: Double,
                          k1: Double, b: Double): Column =
    (0 until nTerms).map { i =>
      val tfc = coalesce(col(s"tf_$i"), lit(0L))
      when(tfc > 0,
        lit(idf(i)) * (tfc * lit(k1 + 1.0)) /
          (tfc + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl") / lit(avgdl)))))
        .otherwise(lit(0.0))
    }.reduceLeft[Column](_ + _)

  /** Driver-side twin of the md5 term bucket (same value the Column
    * form computes), so a query can name its partitions up front. */
  def termBucket(term: String, nBuckets: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex, 16) % nBuckets).toInt
  }

  /** Build a persisted inverted index under `dir` — the Lucene-shaped
    * build/query split (the text twin of Similarity.buildIvfIndex):
    * the corpus-sized tokenize + postings shuffle is paid ONCE at build
    * time; every later query touches only its own terms' postings.
    *
    * Layout:
    *  - `postings/`: (term, doc_id, tf, dl) parquet PARTITIONED by
    *    `term_bucket` = md5(term) mod `nBuckets` — a query prunes to
    *    ≤ |Q| partitions (partition pruning), then the exact term
    *    equality pushes to the scan. Bucketing (not partitionBy(term))
    *    keeps the directory count fixed at vocabulary scale. dl rides
    *    each posting (the denormalized Lucene-norms trade: one long per
    *    posting buys scoring without any doc-table join at query time);
    *  - `dfs/`: (term, df) under the same bucketing;
    *  - `stats/`: one row (n_docs, sum_dl).
    */
  def buildInvertedIndex(docs: DataFrame, dir: String,
                         idCol: String = "doc_id", textCol: String = "text",
                         nBuckets: Int = 64): Unit =
    writeIndexSegment(docs, dir, "overwrite", idCol, textCol, nBuckets)

  /** Append a new batch of documents to an existing index — the
    * Lucene-style SEGMENT model: postings/dfs/stats are all pure
    * parquet APPENDS (new files in the same bucket partitions; no
    * rewrite, no read-modify-write race with concurrent queries), and
    * [[queryInvertedIndex]] merges across segments at probe time — df
    * values SUM because segments hold disjoint documents, stats rows
    * sum likewise, and (term, doc) posting rows stay unique. Cost
    * tracks the NEW batch only (its tokenize + hit-sized shuffle) —
    * the standing index is never touched, which is what makes a
    * 100 TB index maintainable under a streaming corpus.
    *
    * Contract: the batch's ids must be new to the index (dedup first —
    * [[Dedup.novelAgainstHistory]] is the standing gate); duplicate
    * ids would double-count df and tf. */
  def appendToInvertedIndex(docs: DataFrame, dir: String,
                            idCol: String = "doc_id",
                            textCol: String = "text",
                            nBuckets: Int = 64): Unit =
    writeIndexSegment(docs, dir, "append", idCol, textCol, nBuckets)

  private def writeIndexSegment(docs: DataFrame, dir: String, mode: String,
                                idCol: String, textCol: String,
                                nBuckets: Int): Unit = {
    require(nBuckets > 0)
    val root = IndexVersions.resolve(dir)
    val id = col(idCol)
    val withDl = docs.select(id,
      graft.functions.TextFunctions.tokenCount(col(textCol))
        .cast("long").as("dl"),
      graft.functions.TextFunctions.tokens(lower(col(textCol))).as("toks"))
    // persisted because both the postings write and the segment dfs
    // read it (hit-sized: one row per distinct (term, doc))
    val postings = CacheRegistry.persist(withDl
      .select(id, col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("term"), id)
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
      .withColumn("term_bucket",
        pmod(conv(substring(md5(col("term")), 1, 8), 16, 10).cast("long"),
          lit(nBuckets)).cast("int")))
    postings.write.mode(mode).partitionBy("term_bucket")
      .parquet(s"$root/postings")
    // per-SEGMENT df (this batch's docs only) — probe-time merge sums
    postings
      .groupBy(col("term_bucket"), col("term"))
      .agg(count(lit(1)).as("df"))
      .write.mode(mode).partitionBy("term_bucket")
      .parquet(s"$root/dfs")
    docs.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(graft.functions.TextFunctions.tokenCount(col(textCol))
          .cast("long")), lit(0L)).as("sum_dl"))
      .coalesce(1).write.mode(mode).parquet(s"$root/stats")
  }

  /** Merge an index's accumulated segments back down — the maintenance
    * counterpart of [[appendToInvertedIndex]] (Lucene's segment merge):
    * per term bucket, postings files coalesce to one and the per-
    * segment df rows consolidate to one summed row per term, so probe
    * fan-in stops growing with append count. Query results are
    * unchanged by construction (postings rows are only rewritten; df
    * and stats merges are the same sums the probe already does).
    *
    * `buckets` is the unit-of-work knob (the [[graft.grid
    * .FractionStore.compact]] convention): compacting a 100 TB index
    * in one call would checkpoint the whole postings table, so
    * production maintenance walks bucket batches. stats/ (unpartitioned,
    * segment-count rows) merges only on a whole-index pass.
    *
    * Atomicity ([[IndexVersions]] policy, same as
    * [[graft.ops.Similarity.compactIvfCells]]): the whole-index pass
    * builds postings/dfs/stats in a fresh staging version and
    * publishes with one atomic marker — probes concurrent with a full
    * merge never see a torn layout. The bucket-scoped pass rewrites
    * the named partitions of the CURRENT version in place (checkpoint
    * + dynamic partition overwrite — the bounded-blast-radius
    * maintenance trade). Returns (files_before, files_after) over the
    * rewritten partitions. */
  def compactInvertedIndex(spark: org.apache.spark.sql.SparkSession,
                           dir: String,
                           buckets: Option[Seq[Int]] = None): (Long, Long) =
    compactInvertedIndex(spark, dir, buckets, () => ())

  /** Test seam: `afterSnapshot` runs after the three table listings
    * are pinned and before the staging writes — the point a concurrent
    * appendToInvertedIndex lands segments the delta guard must fold in
    * (TextSearchSpec proves zero row loss through it). */
  private[graft] def compactInvertedIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, buckets: Option[Seq[Int]],
      afterSnapshot: () => Unit): (Long, Long) = {
    val root = IndexVersions.resolve(dir)
    def countFiles(at: String): Long =
      IndexVersions.countParquetFiles(spark, buckets match {
        case Some(bs) => bs.flatMap(b =>
          Seq(s"$at/postings/term_bucket=$b", s"$at/dfs/term_bucket=$b"))
        case None => Seq(s"$at/postings", s"$at/dfs")
      })
    val before = countFiles(root)
    buckets match {
      case None =>
        // whole-index merge: fresh staging version, atomic flip.
        // PIN each table's listing eagerly (the compactIvfCells
        // discipline): the staging writes and the delta diffs below
        // read exactly these file lists, so the writer-concurrency
        // guard cannot be voided by a lazy re-listing picking up
        // concurrent appends (and the writes provably contain exactly
        // the snapshot rows).
        val (v, staging) = IndexVersions.nextStaging(dir)
        def pinned(sub: String): (DataFrame, Set[String]) = {
          val df0 = spark.read.parquet(s"$root/$sub")
          val fs = df0.inputFiles
          (if (fs.isEmpty) df0
           else spark.read.option("basePath", s"$root/$sub")
             .parquet(fs.toIndexedSeq: _*),
            fs.toSet)
        }
        val (postsSnap, postsFiles) = pinned("postings")
        val (dfsSnap, dfsFiles) = pinned("dfs")
        val (statsSnap, statsFiles) = pinned("stats")
        afterSnapshot()
        postsSnap
          .repartition(col("term_bucket"))
          .sortWithinPartitions(col("term"))
          .write.partitionBy("term_bucket").parquet(s"$staging/postings")
        dfsSnap
          .groupBy(col("term_bucket"), col("term"))
          .agg(sum(col("df")).as("df"))
          .repartition(col("term_bucket"))
          .sortWithinPartitions(col("term"))
          .write.partitionBy("term_bucket").parquet(s"$staging/dfs")
        val s = statsSnap
          .agg(sum(col("n_docs")).as("n_docs"),
            sum(col("sum_dl")).as("sum_dl")).collect()
        spark.createDataFrame(
          spark.sparkContext.parallelize(s.toIndexedSeq, 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("n_docs",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("sum_dl",
              org.apache.spark.sql.types.LongType))))
          .write.parquet(s"$staging/stats")
        // Writer-concurrency guard (the compactIvfCells discipline):
        // segments appendToInvertedIndex landed between the pinned
        // snapshot listings above and this point would vanish from the
        // new version — and docs_seen would permanently refuse their
        // re-append. The store is append-only, so the delta is exactly
        // the files a fresh listing has that the pinned snapshot
        // lacked; postings rows are per-(term, doc) facts and
        // dfs/stats rows are summable per-segment contributions (the
        // query path sums them), so the delta segments append to
        // staging VERBATIM.
        def foldDelta(sub: String, snapFiles: Set[String],
                      partCols: Seq[String]): Unit = {
          val d = (spark.read.parquet(s"$root/$sub").inputFiles.toSet --
            snapFiles).toSeq
          if (d.nonEmpty) {
            val w = spark.read.option("basePath", s"$root/$sub")
              .parquet(d: _*).write.mode("append")
            (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
              .parquet(s"$staging/$sub")
          }
        }
        foldDelta("postings", postsFiles, Seq("term_bucket"))
        foldDelta("dfs", dfsFiles, Seq("term_bucket"))
        foldDelta("stats", statsFiles, Nil)
        IndexVersions.publish(dir, v)
        (before, countFiles(staging))
      case Some(bs) =>
        // bucket-scoped merge: in-place partition rewrite in the
        // current version; one task (= one file) per bucket partition
        def select(df: DataFrame): DataFrame =
          df.filter(col("term_bucket").isin(bs.map(Integer.valueOf): _*))
        val posts = select(spark.read.parquet(s"$root/postings"))
          .localCheckpoint()
        val dfs = select(spark.read.parquet(s"$root/dfs"))
          .groupBy(col("term_bucket"), col("term"))
          .agg(sum(col("df")).as("df"))
          .localCheckpoint()
        try {
          posts.repartition(col("term_bucket"))
            .sortWithinPartitions(col("term"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("term_bucket").parquet(s"$root/postings")
          dfs.repartition(col("term_bucket"))
            .sortWithinPartitions(col("term"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("term_bucket").parquet(s"$root/dfs")
        } finally { posts.unpersist(); dfs.unpersist() }
        (before, countFiles(root))
    }
  }

  /** BM25 top-k against a prebuilt index — NO corpus scan: reads one
    * stats row, the query terms' df rows, and the query terms'
    * postings (both scans prune to the terms' `term_bucket`
    * partitions). The candidate pivot + score + TakeOrdered all run
    * over postings-of-query-terms — cost tracks hit count, not corpus
    * size. Returns (doc_id, dl, score); docs matching NO term are not
    * produced (they score 0 and an index query has no way — and no
    * reason — to enumerate them). */
  def queryInvertedIndex(spark: org.apache.spark.sql.SparkSession,
                         dir: String, queryTerms: Seq[String], k: Int,
                         k1: Double = 1.2, b: Double = 0.75,
                         nBuckets: Int = 64,
                         idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty && k > 0, "need query terms and k > 0")
    val terms = queryTerms.map(_.toLowerCase).distinct
    val buckets = terms.map(termBucket(_, nBuckets)).distinct
    // resolve the version ONCE — stats/dfs/postings below all read the
    // same immutable snapshot even if a compaction publishes mid-probe
    val snap = IndexVersions.resolve(dir)
    // stats/dfs hold one row (set) per SEGMENT (appendToInvertedIndex)
    // over disjoint docs — merging is a sum on both
    val stats = spark.read.parquet(s"$snap/stats")
      .agg(sum(col("n_docs")), sum(col("sum_dl"))).head()
    val n = stats.getLong(0)
    val avgdl = stats.getLong(1).toDouble / n
    val dfMap = spark.read.parquet(s"$snap/dfs")
      .filter(col("term_bucket").isin(buckets: _*) &&
        col("term").isin(terms: _*))
      .select(col("term"), col("df")).collect()
      .groupMapReduce(_.getString(0))(_.getLong(1))(_ + _)
    val idf = terms.map { t =>
      val df = dfMap.getOrElse(t, 0L)
      math.round(math.log((n - df + 0.5) / (df + 0.5)) * 1e6) / 1e6
    }
    val posts = spark.read.parquet(s"$snap/postings")
      .filter(col("term_bucket").isin(buckets: _*) &&
        col("term").isin(terms: _*))
    val aggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("tf")).otherwise(lit(0L))).as(s"tf_$i")
    }
    val pivoted = posts.groupBy(col(idCol))
      .agg(max(col("dl")).as("dl"), aggs: _*)
    pivoted
      .select(col(idCol), col("dl"),
        scoreColumn(terms.size, idf, avgdl, k1, b).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  // ---- hybrid retrieval (rank fusion) --------------------------------

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) of
    * N ranked candidate lists — the standard way to combine a lexical
    * (BM25) ranking with a vector (cosine) ranking into one hybrid
    * retrieval result without score calibration:
    *
    *   rrf(d) = Σ_lists 1 / (k0 + rank_list(d))    (absent ⇒ 0)
    *
    * Inputs are (name, ranking) pairs where each ranking carries
    * (`idCol`, `rank`) with rank 1-based; the per-list rank columns come
    * out as `<name>_rank` (NULL where the list misses the doc). Output:
    * top-`k` by (rrf DESC, id ASC) — ties broken by id so the result is
    * a total order both engines replay.
    *
    * Determinism: contributions are added in FIXED list order as a
    * literal left-associated sum (not an aggregate), and 1/(k0+rank) is
    * plain IEEE double division — the DuckDB oracle replays the fused
    * score bit-exactly.
    *
    * Scale shape: every input list is already top-N per its own
    * retrieval (k-bounded, NOT corpus-sized), so the full-outer joins
    * here move only candidate rows; at 100 TB the corpus-sized work
    * stays inside the upstream retrievals (BM25 postings pruning, ANN
    * cell probing) and fusion costs O(Σ list sizes). */
  def rrfFuse(rankings: Seq[(String, DataFrame)], k: Int, k0: Int = 60,
              idCol: String = "doc_id"): DataFrame = {
    require(rankings.nonEmpty && k > 0 && k0 >= 0,
      "need ranked lists, k > 0, k0 >= 0")
    val joined = rankings.map { case (name, df) =>
      df.select(col(idCol), col("rank").cast("int").as(s"${name}_rank"))
    }.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val rrf = rankings.map { case (name, _) =>
      coalesce(lit(1.0) / (lit(k0.toDouble) + col(s"${name}_rank")),
        lit(0.0))
    }.reduceLeft(_ + _)
    joined.withColumn("rrf", rrf)
      .orderBy(col("rrf").desc, col(idCol).asc)
      .limit(k)
  }

  // ---- trigram substring index ("grep 100 TB") ----------------------

  /** Per-row DISTINCT character trigrams of `text` (empty below 3
    * chars) — shared by build and any future column-side probe. */
  private def trigramsOf(text: Column): Column =
    array_distinct(
      when(length(text) >= 3,
        transform(sequence(lit(0), length(text) - 3),
          i => text.substr(i + 1, lit(3))))
        .otherwise(typedlit(Seq.empty[String])))

  /** Build a persisted TRIGRAM index under `dir` — the Code-Search-
    * style substring-search split (Cox's trigram method): substring
    * and regex-literal queries over a corpus become a postings
    * intersection + an exact confirm over candidates only, instead of
    * a full-corpus scan per search (the PII / contamination audit
    * pattern: many ad-hoc literal greps against a standing corpus).
    *
    * Layout under `dir`:
    *  - `grams/`: (gram, doc_id) — one row per DISTINCT trigram per
    *    doc, range-partitioned and sorted by gram so a probe's
    *    `gram IN (...)` prunes to a few row groups (parquet min/max);
    *  - `dfs/`:   (gram, df) — document frequencies, same layout; the
    *    probe reads ≤ |literal|-2 rows to choose its rarest grams.
    *
    * Build cost: one corpus pass + one (gram, doc_id) shuffle —
    * |text| rows per doc before the per-doc distinct caps it. */
  def buildTrigramIndex(docs: DataFrame, dir: String,
                        idCol: String = "doc_id",
                        textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    val grams = docs.select(col(idCol),
        explode(trigramsOf(col(textCol))).as("gram"))
    grams.repartitionByRange(col("gram"))
      .sortWithinPartitions(col("gram"))
      .write.mode("overwrite").parquet(s"$dir/grams")
    spark.read.parquet(s"$dir/grams")
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .repartitionByRange(col("gram"))
      .sortWithinPartitions(col("gram"))
      .write.mode("overwrite").parquet(s"$dir/dfs")
  }

  /** Literal substring search against a prebuilt trigram index:
    * candidates = docs containing the literal's `maxProbeGrams` RAREST
    * trigrams (df-ascending, gram-ascending tie — deterministic), then
    * an exact `contains` confirm over the candidate docs only. The
    * full corpus is never scanned: the dfs lookup reads ≤ |literal|-2
    * rows, the postings scan prunes to the chosen grams' row groups,
    * and the confirm joins candidates back to `docs` by id (semi-join
    * carries ids only). A literal with a trigram NO doc contains
    * short-circuits to empty without touching postings.
    *
    * Result equals `docs.filter(contains(text, literal))` exactly —
    * the trigram stage only ever over-selects. Literals shorter than
    * 3 chars fall back to the full scan (no trigram to prune on). */
  def grepIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                  docs: DataFrame, literal: String,
                  idCol: String = "doc_id", textCol: String = "text",
                  maxProbeGrams: Int = 3): DataFrame = {
    require(literal.nonEmpty, "empty literal")
    require(maxProbeGrams >= 1, s"maxProbeGrams $maxProbeGrams")
    val matches = docs.filter(col(textCol).contains(literal))
      .select(col(idCol), col(textCol))
    if (literal.length < 3) return matches // nothing to prune on
    val grams = literal.sliding(3).toSeq.distinct
    val dfs = spark.read.parquet(s"$dir/dfs")
      .filter(col("gram").isin(grams: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (grams.exists(g => !dfs.contains(g)))
      return matches.limit(0) // some trigram occurs in NO document
    val chosen = grams.sortBy(g => (dfs(g), g)).take(
      math.min(maxProbeGrams, grams.size))
    val cands = spark.read.parquet(s"$dir/grams")
      .filter(col("gram").isin(chosen: _*))
      .groupBy(col(idCol)).agg(count(lit(1)).as("ng"))
      .filter(col("ng") === chosen.size)
      .select(col(idCol))
    docs.join(cands, Seq(idCol), "left_semi")
      .filter(col(textCol).contains(literal))
      .select(col(idCol), col(textCol))
  }

  /** REQUIRED literal runs of a regex — substrings every match must
    * contain — extracted conservatively (Cox's trigram-query idea,
    * simplified to stay provably sound):
    *  - any alternation (`|`) anywhere → NO run is provably required →
    *    empty (caller falls back to the full scan);
    *  - metacharacters and every `\x` escape break runs (a `\.` literal
    *    dot is given up rather than special-cased);
    *  - a run whose next char is `*`, `?` or `{` drops its last char
    *    (that char may repeat 0 times);
    * runs shorter than 3 chars can't drive a trigram probe and are
    * dropped. Under-extraction only ever costs pruning power, never
    * correctness — the confirm stage is always the exact `rlike`. */
  private[ops] def requiredLiterals(pattern: String): Seq[String] = {
    // alternation makes every branch optional; a group followed by a
    // quantifier makes its CONTENTS optional — both would need real
    // parsing to handle, so both disable extraction outright
    if (pattern.contains("|") || pattern.contains("(")) return Nil
    val metas = ".^$*+?".toSet
    val runs = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    def flush(dropLast: Boolean): Unit = {
      if (cur.nonEmpty) {
        val run = if (dropLast) cur.toString.dropRight(1) else cur.toString
        if (run.nonEmpty) runs += run
        cur.clear()
      }
    }
    var i = 0
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if (c == '\\') { // escape: break the run, skip the escaped char
        flush(dropLast = false)
        i += 2
      } else if (c == '[') { // character class: skip its whole body
        flush(dropLast = false)
        i += 1
        if (i < pattern.length && pattern.charAt(i) == '^') i += 1
        if (i < pattern.length && pattern.charAt(i) == ']') i += 1
        while (i < pattern.length && pattern.charAt(i) != ']') {
          if (pattern.charAt(i) == '\\') i += 2 else i += 1
        }
        i += 1 // past ']'
      } else if (c == '{') { // counted quantifier: {0,..} may repeat the
        flush(dropLast = true) // preceding char 0 times; skip the body
        while (i < pattern.length && pattern.charAt(i) != '}') i += 1
        i += 1
      } else if (c == '*' || c == '?') {
        flush(dropLast = true)
        i += 1
      } else if (metas(c)) {
        flush(dropLast = false)
        i += 1
      } else { cur += c; i += 1 }
    }
    flush(dropLast = false)
    runs.filter(_.length >= 3).distinct.toSeq
  }

  /** Decompose a pattern into TOP-LEVEL alternation branches for
    * candidate pruning — the Code-Search OR rule: a match satisfies
    * SOME branch, so candidates = union of per-branch conjunctions.
    * Handles one optional group wrapping the whole pattern (plain or
    * `(?:`); any other group — nested, mid-pattern, quantified,
    * lookaround — returns None (full scan; still exact). Splits honor
    * escapes and character classes. */
  private[ops] def alternationBranches(pattern: String): Option[Seq[String]] = {
    def stripOuter(p: String): String = {
      if (!(p.startsWith("(") && p.endsWith(")"))) return p
      var depth = 0
      var i = 0
      while (i < p.length) {
        p.charAt(i) match {
          case '\\' => i += 1
          case '(' => depth += 1
          case ')' =>
            depth -= 1
            if (depth == 0 && i != p.length - 1) return p
          case _ =>
        }
        i += 1
      }
      val inner = p.substring(1, p.length - 1)
      if (inner.startsWith("?:")) inner.drop(2)
      else if (inner.startsWith("?")) p // lookaround / named: keep as-is
      else inner
    }
    val body = stripOuter(pattern)
    if (body.contains("(")) return None
    val branches = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var inClass = false
    while (i < body.length) {
      val c = body.charAt(i)
      if (c == '\\' && i + 1 < body.length) { cur += c += body.charAt(i + 1); i += 2 }
      else {
        if (c == '[') inClass = true
        else if (c == ']') inClass = false
        if (c == '|' && !inClass) { branches += cur.toString; cur.clear() }
        else cur += c
        i += 1
      }
    }
    branches += cur.toString
    Some(branches.result())
  }

  /** Regex search against the trigram index: the pattern splits into
    * top-level alternation branches; per branch, candidates must
    * contain the rarest trigrams of EVERY required literal run, and
    * the overall candidate set is the UNION over branches (a match
    * satisfies some branch). The exact `rlike` confirm runs over
    * candidates only. A pattern beyond the subset (nested groups, a
    * branch with no ≥3-char literal run) falls back to the full
    * scan — still exact, just unpruned. Result equals
    * `docs.filter(text rlike pattern)`. */
  def grepRegexIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                       docs: DataFrame, pattern: String,
                       idCol: String = "doc_id", textCol: String = "text",
                       maxProbeGrams: Int = 3): DataFrame = {
    val matches = docs.filter(col(textCol).rlike(pattern))
      .select(col(idCol), col(textCol))
    val branchLits: Seq[Seq[String]] = alternationBranches(pattern) match {
      case None => return matches
      case Some(bs) => bs.map(requiredLiterals)
    }
    // one unconstrained branch makes the union unbounded -> full scan
    if (branchLits.exists(_.isEmpty)) return matches
    val grams = branchLits.flatten.flatMap(_.sliding(3)).distinct
    val dfs = spark.read.parquet(s"$dir/dfs")
      .filter(col("gram").isin(grams: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a branch with an absent trigram proves that BRANCH matches
    // nothing corpus-wide; it drops from the union
    val live = branchLits.filter(
      _.forall(_.sliding(3).forall(dfs.contains)))
    if (live.isEmpty) return matches.limit(0)
    // per live branch: rarest grams of each required literal (all must
    // hit for the branch to admit a doc)
    val branchGrams: Seq[Seq[String]] = live.map(lits =>
      lits.flatMap { l =>
        val gs = l.sliding(3).toSeq.distinct
        gs.sortBy(g => (dfs(g), g)).take(math.min(maxProbeGrams, gs.size))
      }.distinct)
    val union = branchGrams.flatten.distinct
    val perDoc = spark.read.parquet(s"$dir/grams")
      .filter(col("gram").isin(union: _*))
      .groupBy(col(idCol)).agg(collect_set(col("gram")).as("gs"))
    val admits = branchGrams.map(bg =>
      size(array_intersect(col("gs"), array(bg.map(lit): _*))) === bg.size)
      .reduce(_ || _)
    val cands = perDoc.filter(admits).select(col(idCol))
    docs.join(cands, Seq(idCol), "left_semi")
      .filter(col(textCol).rlike(pattern))
      .select(col(idCol), col(textCol))
  }
}
