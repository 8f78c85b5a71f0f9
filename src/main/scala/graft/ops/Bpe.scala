package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training and application over a corpus
  * (Sennrich et al. 2016) — the step a training-data pipeline runs
  * between curation and tokenization: train the merge table ON the
  * corpus it just built, then segment that corpus with it.
  * [[TermStats.bpePairCounts]] is this trainer's first iteration,
  * exposed separately because it is the oracle-checkable part.
  *
  * Scale shape (the SentencePiece/HF-tokenizers shape): the ONLY
  * corpus-sized work is the word-count aggregation — one partial-agg
  * shuffle keyed on the word. Training then runs on the word-count
  * table capped to the `maxWords` most frequent words (bounded driver
  * collect, the [[SkewTools]] discipline — identical to how production
  * trainers feed word counts, not corpora, to the merge loop; the tail
  * beyond the cap carries negligible pair mass by construction).
  * Applying the merges is again vocabulary-sized: each DISTINCT word is
  * encoded once (an inherently sequential per-word loop — executor-side
  * `mapPartitions` over the vocab, never over the corpus), and the
  * corpus token stream broadcast-joins the word -> piece-count map.
  *
  * ==Fidelity contract (what encode/decode preserves)==
  *
  * The tokenizer is deliberately NORMALIZING, and the normalization is
  * part of the engine-portable contract (the DuckDB oracles replay it
  * exactly):
  *
  *  - text folds to LOWERCASE before tokenization;
  *  - WHITESPACE is a separator only — token ids carry no word-boundary
  *    information, so decoding concatenates pieces with nothing between
  *    them;
  *  - there are NO special tokens (no BOS/EOS/PAD/UNK ids in the
  *    vocabulary);
  *  - a piece absent from the vocabulary encodes as id -1 (impossible
  *    when the vocab was built over the encoded corpus itself, the
  *    [[vocab]] path; possible when encoding NEW text under a frozen
  *    vocab) and DECODES TO THE EMPTY STRING.
  *
  * Hence the exact round-trip law, pinned by BpeSpec and the
  * `bpe_decode_ids` oracle: `decodeIds(encodeIds(x)) ==
  * lower(x) with all whitespace removed` — ids cannot reconstruct the
  * original casing or spacing, by design. A loader that needs the raw
  * text keeps the source column; the ids are a MODEL-input tensor, not
  * an archival encoding.
  */
object Bpe {

  /** Greedy left-to-right application of one merge to a symbol list:
    * non-overlapping, restart scanning AFTER each merged pair — the
    * reference BPE semantics ("aaa" under (a,a) gives [aa, a]). */
  def applyMerge(syms: List[String], l: String, r: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    var cur = syms
    while (cur.nonEmpty) {
      cur match {
        case a :: b :: rest if a == l && b == r =>
          out += (l + r); cur = rest
        case a :: rest =>
          out += a; cur = rest
        case Nil => ()
      }
    }
    out.toList
  }

  /** Encode one word under an ordered merge table: repeatedly apply the
    * LOWEST-RANKED merge present until none applies (rank order, not
    * scan order — the standard BPE encode). */
  def encodeWord(word: String, rank: Map[(String, String), Int]): List[String] = {
    var syms = word.map(_.toString).toList
    var done = false
    while (!done && syms.size > 1) {
      val best = syms.zip(syms.tail)
        .flatMap(p => rank.get(p).map(r => (r, p)))
        .sortBy(_._1).headOption
      best match {
        case Some((_, (l, r))) => syms = applyMerge(syms, l, r)
        case None => done = true
      }
    }
    syms
  }

  /** Train `nMerges` merges from an in-memory word-count table: each
    * round counts adjacent symbol pairs weighted by word frequency,
    * merges the most frequent pair (ties to the lexicographically
    * smallest (left, right) — deterministic across runs and engines),
    * and rewrites the affected words. Exact greedy BPE. */
  def trainFromCounts(wordCounts: Seq[(String, Long)],
                      nMerges: Int): List[(String, String)] = {
    var words: Seq[(List[String], Long)] =
      wordCounts.map { case (w, c) => (w.map(_.toString).toList, c) }
    val merges = scala.collection.mutable.ListBuffer[(String, String)]()
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      words.foreach { case (syms, c) =>
        syms.zip(syms.tail).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + c
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val (l, r) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += ((l, r))
        words = words.map { case (syms, c) =>
          (if (syms.zip(syms.tail).contains((l, r))) applyMerge(syms, l, r)
           else syms, c)
        }
        round += 1
      }
    }
    merges.toList
  }

  /** The ONE tokenized view of a corpus every Bpe stage derives from:
    * (doc_id, pos, w) — lowercased whitespace tokens with their word
    * position. With `share = true` the frame is persisted
    * (CacheRegistry): a composed chain (train -> vocab -> encode ->
    * mask spans) calls this once per stage, but the plans canonicalize
    * EQUAL, so Spark's cache manager serves every stage from the first
    * materialization — the corpus is tokenized once per entry instead
    * of once per stage (r14 measurement: the tokenize projection was
    * the plurality of the BPE-chain entries' cpu, paid 3x). With
    * `share = false` the plan is returned bare — and STILL rides a
    * cache another stage of the same chain materialized (CacheManager
    * substitutes canonically-equal cached subtrees whether or not this
    * plan called persist), so only the FIRST stage of a chain needs to
    * share. Callers of persisting stages release via the CacheRegistry
    * contract after their terminal action.
    *
    * `idCol` need not exist for train/vocab (they are doc-identity-
    * free): a missing column gets a synthesized id. Encode/span stages
    * DO require it — their output is keyed by it. */
  private def toksDf(df: DataFrame, idCol: String,
                     textCol: String, share: Boolean = true): DataFrame = {
    val id = if (df.columns.contains(idCol)) col(idCol)
             else monotonically_increasing_id()
    val t = df.select(id.as("doc_id"),
        posexplode(graft.functions.TextFunctions.tokens(
          lower(col(textCol)))))
      .toDF("doc_id", "pos", "w")
    if (share) t.transform(CacheRegistry.persist) else t
  }

  /** Distributed word counts -> bounded driver collect -> exact greedy
    * training. `maxWords` caps driver memory (most-frequent-first with
    * a word tiebreak, so the cap is deterministic).
    *
    * `shareTokens`: pass TRUE when this call is the first stage of a
    * composed chain over the SAME df (vocab / encodeIds / mask spans
    * follow) — the word-count scan then materializes the shared
    * [[toksDf]] cache every later stage reads, so the corpus tokenizes
    * once per chain, not per stage. The default is FALSE: a standalone
    * train (the saveTokenizer "train once and freeze" production path)
    * is a single word-count aggregation — one partial-agg shuffle, NO
    * corpus-sized cache write as a side effect (r14 ADVICE: the
    * unconditional persist made one-shot training materialize the full
    * exploded token frame for nothing). `idCol` is optional here —
    * training is doc-identity-free; a frame without it gets a
    * synthesized id. With `shareTokens = true` it is required: a cache
    * keyed on a synthesized id could never serve the later stages,
    * which key on the real column. */
  def trainMerges(df: DataFrame, textCol: String = "text",
                  nMerges: Int = 50,
                  maxWords: Int = 1 << 20,
                  idCol: String = "doc_id",
                  shareTokens: Boolean = false): List[(String, String)] = {
    require(!shareTokens || df.columns.contains(idCol),
      s"trainMerges(shareTokens = true) needs the id column '$idCol', " +
        s"which df lacks (columns: ${df.columns.mkString(", ")})")
    val wc = toksDf(df, idCol, textCol, share = shareTokens)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w")).limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    trainFromCounts(wc, nMerges)
  }

  /** The trained merge table as a DataFrame (rank, left, right) — the
    * `queries` surface for the trainer (deterministic, tiny). */
  def mergesDf(spark: SparkSession,
               merges: List[(String, String)]): DataFrame = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((l, r), i) => (i + 1, l, r) }
      .toDF("rank", "left_sym", "right_sym")
  }

  /** Per-document piece count under a trained merge table. The
    * inherently-sequential encode loop runs ONCE PER DISTINCT WORD
    * (mapPartitions over the vocabulary, merge ranks broadcast by
    * closure — at 100 TB this is the one legitimate mapPartitions in
    * the text stack: per-element imperative logic on vocab-sized data);
    * the corpus token stream then joins the word -> piece-count map ON
    * THE WORD. Deliberately NOT a forced broadcast: the distinct-word
    * table is open-vocabulary, the same cardinality class as
    * [[TermStats.bigramLmScore]]'s count table — it does not fit one
    * executor at corpus scale (AQE broadcasts it when it is small). */
  def pieceCounts(df: DataFrame, merges: List[(String, String)],
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rank = merges.zipWithIndex.toMap
    val toks = toksDf(df, idCol, textCol)
    val vocabPieces = toks.select(col("w")).distinct().as[String]
      .mapPartitions { it =>
        it.map(w => (w, encodeWord(w, rank).size.toLong))
      }.toDF("w", "pieces")
    toks.join(vocabPieces, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("pieces")).as("n_pieces"))
  }

  /** Deterministic vocabulary for a trained merge table over a corpus:
    * base symbols = the DISTINCT single characters of the corpus's
    * lowercased whitespace tokens in lexicographic order, then one
    * symbol per merge (left+right) in rank order, skipping strings an
    * earlier entry already produced (two merges can build the same
    * surface string). Token ids are the 0-based positions — the
    * standard BPE vocab construction (chars first, merges after),
    * replayable exactly by the DuckDB oracle. The result is bounded
    * (|charset| + nMerges) and collected driver-side like the merge
    * table itself. The distinct-char extraction builds the [[toksDf]]
    * plan WITHOUT persisting: standalone it is one streaming pass (no
    * corpus-sized cache as a side effect — the r14 ADVICE item), and
    * inside a chain whose trainMerges passed `shareTokens = true` the
    * CacheManager serves it from the already-materialized token cache
    * anyway (canonical plan equality — no second corpus pass). */
  def vocab(df: DataFrame, merges: List[(String, String)],
            textCol: String = "text",
            idCol: String = "doc_id"): List[String] = {
    val chars = toksDf(df, idCol, textCol, share = false)
      .select(explode(expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
        .as("c"))
      .distinct().orderBy("c")
      .collect().map(_.getString(0)).toList
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    chars.foreach(seen += _)
    merges.foreach { case (l, r) => seen += (l + r) }
    seen.toList
  }

  /** The vocabulary as a DataFrame (token_id, symbol). */
  def vocabDf(spark: SparkSession, syms: List[String]): DataFrame = {
    import spark.implicits._
    syms.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("token_id", "symbol")
  }

  /** Persist a trained tokenizer — merge table + vocabulary — as two
    * tiny parquet tables under `dir` (`merges/`: rank, left_sym,
    * right_sym; `vocab/`: token_id, symbol). Production pipelines
    * train ONCE and freeze: every later job [[loadTokenizer]]s the
    * artifact instead of retraining, which is what keeps token ids
    * stable across corpus versions. Both tables are bounded
    * (nMerges / |charset| + nMerges rows). */
  def saveTokenizer(spark: SparkSession, dir: String,
                    merges: List[(String, String)],
                    syms: List[String]): Unit = {
    mergesDf(spark, merges).repartition(1)
      .write.mode("overwrite").parquet(s"$dir/merges")
    vocabDf(spark, syms).repartition(1)
      .write.mode("overwrite").parquet(s"$dir/vocab")
  }

  /** Load a tokenizer persisted by [[saveTokenizer]]: (merges in rank
    * order, symbols in id order) — byte-identical to what was saved,
    * so encode/decode under the loaded artifact equal the in-memory
    * ones (BpeSpec pins it; the `bpe_encode_ids_frozen` entry proves
    * it through the DuckDB hash). */
  def loadTokenizer(spark: SparkSession,
                    dir: String): (List[(String, String)], List[String]) = {
    val merges = spark.read.parquet(s"$dir/merges")
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toList
    val syms = spark.read.parquet(s"$dir/vocab")
      .orderBy(col("token_id")).collect().map(_.getString(1)).toList
    (merges, syms)
  }

  /** Per-document BPE token-ID sequences — the training-tensor last
    * mile ([[pieceCounts]] prices documents; this EMITS the ids a data
    * loader feeds the model). Returns one row per piece:
    * (doc_id, piece_pos, token_id), piece_pos the 0-based position in
    * the document's piece stream, token_id the [[vocab]] id of the
    * piece (-1 for a piece outside the vocabulary — impossible when
    * the vocab was built over the encoded corpus itself).
    *
    * Scale shape (the pieceCounts discipline): the sequential encode
    * loop runs once per DISTINCT word; the corpus token stream joins
    * the word -> ids map on the word (open-vocabulary — NOT forced
    * broadcast) and reassembles per document with one doc-keyed
    * aggregation over (position, ids) pairs. Nothing is ever
    * corpus x vocab. */
  def encodeIds(df: DataFrame, merges: List[(String, String)],
                syms: List[String], idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rank = merges.zipWithIndex.toMap
    val ids = syms.zipWithIndex.toMap
    val toks = toksDf(df, idCol, textCol)
    val wordIds = toks.select(col("w")).distinct().as[String]
      .mapPartitions { it =>
        it.map(w => (w, encodeWord(w, rank).map(ids.getOrElse(_, -1)).toArray))
      }.toDF("w", "ids")
    toks.join(wordIds, "w")
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("ids")))),
        s => s.getField("ids"))).as("tids"))
      .select(col("doc_id"), posexplode(col("tids")))
      .toDF("doc_id", "piece_pos", "token_id")
      .select(col("doc_id"), col("piece_pos").cast("long"),
        col("token_id").cast("long"))
  }

  /** Inverse of [[encodeIds]] under the same vocabulary: token-ID rows
    * (doc_id, piece_pos, token_id) back to one string per document.
    * What comes back is the NORMALIZED text — lowercased, whitespace
    * removed — per the fidelity contract above (the class Scaladoc);
    * id -1 (out-of-vocabulary) decodes to the empty string.
    *
    * Scale shape: the vocabulary is bounded (|charset| + nMerges) so
    * the id -> symbol join broadcasts; reassembly is ONE doc-keyed
    * aggregation in piece order — the exact mirror of [[encodeIds]]'
    * reassembly, nothing corpus x vocab. */
  def decodeIds(ids: DataFrame, syms: List[String],
                idCol: String = "doc_id"): DataFrame = {
    val spark = ids.sparkSession
    val vdf = vocabDf(spark, syms)
    ids.select(col(idCol).as("doc_id"), col("piece_pos"), col("token_id"))
      .join(broadcast(vdf), Seq("token_id"), "left")
      .groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("piece_pos"),
          coalesce(col("symbol"), lit("")).as("sym")))),
        s => s.getField("sym")), "").as("text_decoded"))
  }

  /** Prompt loss-mask spans for instruction-style training — the
    * companion of [[encodeIds]] and [[Packing.packedSegments]]: per
    * document, how many leading tokens (and their BPE pieces) form the
    * "prompt" whose loss a fine-tune masks. The prompt boundary is the
    * FIRST token ending in sentence punctuation ([.!?]); a document
    * with no boundary masks nothing (prompt_words = 0 — all
    * completion). Output: (doc_id, prompt_words, prompt_pieces,
    * n_words, n_pieces) — prompt_pieces is the piece-space offset a
    * loader masks up to in the [[encodeIds]] tensor.
    *
    * Scale shape: the per-distinct-word encode ([[pieceCounts]]
    * discipline) prices words once; the token stream takes ONE
    * doc-keyed exchange, shared by the boundary window and the final
    * aggregation (same key — no second shuffle). */
  def promptMaskSpans(df: DataFrame, merges: List[(String, String)],
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rank = merges.zipWithIndex.toMap
    val toks = toksDf(df, idCol, textCol)
    val vocabPieces = toks.select(col("w")).distinct().as[String]
      .mapPartitions { it =>
        it.map(w => (w, encodeWord(w, rank).size.toLong))
      }.toDF("w", "pieces")
    val w = Window.partitionBy(col("doc_id"))
    toks.join(vocabPieces, "w")
      .withColumn("b",
        min(when(col("w").rlike("[.!?]$"), col("pos"))).over(w))
      .groupBy(col("doc_id"))
      .agg(
        coalesce(sum(when(col("pos") <= col("b"), lit(1L))), lit(0L))
          .as("prompt_words"),
        coalesce(sum(when(col("pos") <= col("b"), col("pieces"))), lit(0L))
          .as("prompt_pieces"),
        count(lit(1)).as("n_words"),
        sum(col("pieces")).as("n_pieces"))
  }

  /** Multi-turn chat-template loss spans — [[promptMaskSpans]]
    * generalized from one prompt prefix per document to N (role, span)
    * turns per CONVERSATION, the mask shape every chat SFT run needs:
    * loss lands on assistant CONTENT only (template markers, user
    * turns, and any preamble stay masked).
    *
    * Convention: a turn starts at each literal marker word
    * (`userMarker` / `assistantMarker` as whitespace-delimited tokens,
    * matched after lowercasing); words before the first marker form
    * turn 0 with role "system". The marker word belongs to its turn
    * but is EXCLUDED from the turn's content span.
    *
    * Output, one row per (doc, turn): (doc_id, turn_idx, role,
    * start_piece, n_pieces, content_start_piece) in the
    * [[encodeIds]] piece coordinate space — the loss span of an
    * assistant turn is [content_start_piece, start_piece + n_pieces).
    *
    * Scale shape: identical to [[promptMaskSpans]] — per-distinct-word
    * encode prices words once; the token stream takes ONE doc-keyed
    * exchange shared by the role/offset windows and the turn
    * aggregation. */
  def turnMaskSpans(df: DataFrame, merges: List[(String, String)],
                    idCol: String = "doc_id", textCol: String = "text",
                    userMarker: String = "<user>",
                    assistantMarker: String = "<assistant>"): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rank = merges.zipWithIndex.toMap
    val toks = toksDf(df, idCol, textCol)
    val vocabPieces = toks.select(col("w")).distinct().as[String]
      .mapPartitions { it =>
        it.map(w => (w, encodeWord(w, rank).size.toLong))
      }.toDF("w", "pieces")
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val run = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.join(vocabPieces, "w")
      .withColumn("mk",
        when(col("w") === lit(userMarker.toLowerCase), lit("user"))
          .when(col("w") === lit(assistantMarker.toLowerCase),
            lit("assistant")))
      // running marker count: a marker opens its own turn; preamble = 0
      .withColumn("turn_idx",
        sum(when(col("mk").isNotNull, 1L).otherwise(0L)).over(run))
      .withColumn("role", last(col("mk"), ignoreNulls = true).over(run))
      // exclusive piece-prefix sum = this word's first piece position
      .withColumn("off", coalesce(sum(col("pieces")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy(col("doc_id"), col("turn_idx"))
      .agg(
        coalesce(first(col("role")), lit("system")).as("role"),
        min(col("off")).as("start_piece"),
        sum(col("pieces")).as("n_pieces"),
        // first non-marker word's offset; a content-free turn (marker
        // only) gets an EMPTY span at the turn's end
        coalesce(min(when(col("mk").isNull, col("off"))),
          min(col("off")) +
            coalesce(sum(when(col("mk").isNotNull, col("pieces"))),
              lit(0L)))
          .as("content_start_piece"))
  }
}
