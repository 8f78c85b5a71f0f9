package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Loader-ready token-tensor shards — the pipeline's true last mile.
  *
  * [[Bpe.encodeIds]] emits token ids, [[Packing.packChunked]] assigns
  * context-window bins, [[Packing.packedSegments]] prices the attention
  * boundaries and [[Bpe.promptMaskSpans]] the loss masks; this module
  * COMPOSES them into the artifact a training loader actually mmaps:
  * one record per bin carrying the packed `token_ids` tensor plus the
  * `seg_starts`/`seg_lens` boundary arrays and the per-token
  * `loss_mask` — the reference's discipline that the stored blob IS the
  * consumable array (rastercube jgrid3.py:50-77 stores the fraction
  * blob itself, not a pointer table), applied to training tensors.
  *
  * Tensor contract per bin (capacity-`c` chunked packing over doc-id
  * order):
  *
  *  - `token_ids`  — every member document's BPE id sequence,
  *    concatenated in doc-id order (the pack order);
  *  - `loss_mask`  — same length/order as `token_ids`: 0 for a piece
  *    inside its document's prompt span ([[Bpe.promptMaskSpans]]'
  *    `prompt_pieces` prefix), 1 for a completion piece;
  *  - `seg_starts` — per member document, its GLOBAL-stream offset
  *    `cum_before % c` (the [[Packing.packedSegments]] position_ids
  *    contract — the at-most-one overflow document keeps its home-bin
  *    start and a seg_len that may run past c, exactly like the
  *    packing itself);
  *  - `seg_lens`   — per member document, its piece count; the prefix
  *    sums of this array are the block-diagonal attention-mask
  *    boundaries, and they locate each document inside `token_ids`
  *    (sum(seg_lens) == len(token_ids) == len(loss_mask) by
  *    construction).
  *
  * Scale shape: [[Bpe.encodeIds]] already pays one doc-keyed exchange
  * to reassemble piece streams; folding to per-document arrays rides
  * that same key. The bin roll-up is ONE bin-keyed exchange of
  * doc-sized rows; every array built here is BIN-bounded (~capacity
  * tokens), never corpus-bounded. Nothing is collected; the TFRecord
  * write ([[graft.sources.TfRecord.writeExamples]]) is a shuffle-free
  * mapPartitions over the bin rows.
  */
object TensorShards {

  /** Per-bin training tensors from the tokenizer's outputs.
    *
    * Inputs: `ids` = [[Bpe.encodeIds]] rows (doc_id, piece_pos,
    * token_id); `spans` = [[Bpe.promptMaskSpans]] rows (doc_id,
    * prompt_pieces, n_pieces, ...) — the SAME merge table must have
    * produced both, or sum(seg_lens) != len(token_ids).
    *
    * Output: (bin_id, token_ids, loss_mask, seg_starts, seg_lens), all
    * arrays int64 — directly writable by
    * [[graft.sources.TfRecord.writeExamples]] with
    * `int64Cols = Seq("bin_id", "token_ids", "loss_mask",
    * "seg_starts", "seg_lens")`.
    *
    * `eosId = Some(e)` appends a DOCUMENT-SEPARATOR token e after each
    * document's pieces — the standard pretraining EOS convention: the
    * separator counts toward the bin capacity (seg_lens grow by one),
    * carries loss bit 1 (EOS is trained, and it always sits at or past
    * the prompt boundary), and is the loader's signal that attention
    * segments end. The [[Bpe.vocab]] ids are dense from 0, so
    * `syms.size` is the first free id — the conventional choice. */
  def binTensors(ids: DataFrame, spans: DataFrame,
                 capacity: Long, nParts: Int = 32,
                 eosId: Option[Long] = None): DataFrame = {
    require(capacity > 0, s"capacity $capacity")
    val weighted = eosId match {
      case Some(_) => spans.select(col("doc_id"), col("prompt_pieces"),
        (col("n_pieces") + 1L).as("n_pieces"))
      case None => spans.select(col("doc_id"), col("prompt_pieces"),
        col("n_pieces"))
    }
    val packed = Packing.packChunked(weighted,
      "doc_id", "n_pieces", capacity, nParts)
    // per-document id array in piece order — rides encodeIds' own
    // doc-keyed exchange (same key, no extra shuffle class)
    val perDocBase = ids.groupBy(col("doc_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("piece_pos"), col("token_id")))),
        s => s.getField("token_id")).as("toks"))
    val perDoc = eosId match {
      case Some(e) => perDocBase.select(col("doc_id"),
        concat(col("toks"), array(lit(e))).as("toks"))
      case None => perDocBase
    }
    val docRows = perDoc.join(packed, "doc_id")
      .select(col("bin_id"), col("doc_id"),
        (col("cum_before") % capacity).as("seg_start"),
        col("n_pieces").cast("long").as("seg_len"),
        col("prompt_pieces").cast("long").as("prompt_pieces"),
        col("toks"))
    def field(d: Column, name: String): Column = d.getField(name)
    docRows.groupBy(col("bin_id"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("seg_start"),
        col("seg_len"), col("prompt_pieces"), col("toks")))).as("ds"))
      .select(col("bin_id"),
        flatten(transform(col("ds"), d => field(d, "toks"))).as("token_ids"),
        // per doc: 0 for the first prompt_pieces positions, 1 after —
        // built from the id array's own indices (encodeIds emits no
        // empty documents, so the sequence bound is always >= 1)
        flatten(transform(col("ds"), d =>
          transform(sequence(lit(1L), size(field(d, "toks")).cast("long")),
            i => when(i <= field(d, "prompt_pieces"), lit(0L))
              .otherwise(lit(1L))))).as("loss_mask"),
        transform(col("ds"), d => field(d, "seg_start")).as("seg_starts"),
        transform(col("ds"), d => field(d, "seg_len")).as("seg_lens"))
  }

  /** Per-example PADDED tensors — the SFT/eval loader shape, the
    * complement of [[binTensors]]' packed pretraining shape: one row
    * per document with `token_ids` truncated / right-padded to
    * `maxLen` (pad id = the caller's reserved id, conventionally
    * |vocab|), `attention_mask` 1 on real pieces and 0 on padding, and
    * `loss_mask` 1 only on completion pieces (0 on the
    * [[Bpe.promptMaskSpans]] prompt prefix AND on padding) — exactly
    * the three tensors a HuggingFace-style SFT collator emits, as
    * columns.
    *
    * Scale shape: the per-doc array agg rides [[Bpe.encodeIds]]' own
    * doc-keyed exchange; padding/masks are a pure projection (arrays
    * bounded by maxLen). Output: (doc_id, token_ids, attention_mask,
    * loss_mask, n_real). */
  def paddedExamples(ids: DataFrame, spans: DataFrame,
                     maxLen: Int, padId: Long): DataFrame = {
    require(maxLen > 0, s"maxLen $maxLen")
    val perDoc = ids.groupBy(col("doc_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("piece_pos"), col("token_id")))),
        s => s.getField("token_id")).as("toks"))
    perDoc
      .join(spans.select(col("doc_id"),
        col("prompt_pieces").cast("long").as("prompt_pieces")), "doc_id")
      .withColumn("n_real",
        least(size(col("toks")), lit(maxLen)).cast("long"))
      .select(col("doc_id"),
        slice(concat(col("toks"),
          array_repeat(lit(padId), maxLen)), 1, maxLen).as("token_ids"),
        transform(sequence(lit(0L), lit(maxLen - 1L)),
          i => when(i < col("n_real"), lit(1L)).otherwise(lit(0L)))
          .as("attention_mask"),
        transform(sequence(lit(0L), lit(maxLen - 1L)),
          i => when(i >= col("prompt_pieces") && i < col("n_real"),
            lit(1L)).otherwise(lit(0L)))
          .as("loss_mask"),
        col("n_real"))
  }

  /** [[binTensors]] for MULTI-TURN conversations — the PACKED SFT
    * shape: same bins, segments and capacity arithmetic, but loss bits
    * come from [[Bpe.turnMaskSpans]] intervals (1 exactly on
    * assistant-CONTENT pieces; template markers, user turns and
    * preamble stay 0) instead of a single prompt-prefix rule. With
    * `eosId` the appended separator carries loss 1, as in
    * [[binTensors]]. Scale shape identical: per-doc arrays ride the
    * encode's doc-keyed exchange, the span list per doc is
    * turns-per-conversation sized, and the bin roll-up is one
    * bin-keyed exchange of doc-sized rows. */
  def binTensorsMultiturn(ids: DataFrame, turnSpans: DataFrame,
                          capacity: Long, nParts: Int = 32,
                          eosId: Option[Long] = None): DataFrame = {
    require(capacity > 0, s"capacity $capacity")
    val perDocSpans = turnSpans.groupBy(col("doc_id"))
      .agg(
        max(col("start_piece") + col("n_pieces")).cast("long")
          .as("n_pieces0"),
        collect_list(when(col("role") === "assistant",
          struct(col("content_start_piece").cast("long").as("s"),
            (col("start_piece") + col("n_pieces")).cast("long").as("e"))))
          .as("spans"))
    val eosExtra = if (eosId.isDefined) 1L else 0L
    val weighted = perDocSpans.select(col("doc_id"),
      (col("n_pieces0") + eosExtra).as("n_pieces"))
    val packed = Packing.packChunked(weighted,
      "doc_id", "n_pieces", capacity, nParts)
    val perDocBase = ids.groupBy(col("doc_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("piece_pos"), col("token_id")))),
        s => s.getField("token_id")).as("toks"))
    val perDoc = eosId match {
      case Some(e) => perDocBase.select(col("doc_id"),
        concat(col("toks"), array(lit(e))).as("toks"))
      case None => perDocBase
    }
    val docRows = perDoc.join(packed, "doc_id")
      .join(perDocSpans.select(col("doc_id"), col("spans")), "doc_id")
      .select(col("bin_id"), col("doc_id"),
        (col("cum_before") % capacity).as("seg_start"),
        col("n_pieces").cast("long").as("seg_len"),
        col("spans"), col("toks"))
    def field(d: Column, name: String): Column = d.getField(name)
    val hasEos = lit(eosId.isDefined)
    docRows.groupBy(col("bin_id"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("seg_start"),
        col("seg_len"), col("spans"), col("toks")))).as("ds"))
      .select(col("bin_id"),
        flatten(transform(col("ds"), d => field(d, "toks")))
          .as("token_ids"),
        flatten(transform(col("ds"), d =>
          transform(sequence(lit(1L),
              size(field(d, "toks")).cast("long")),
            i => when(
              exists(field(d, "spans"), sp =>
                i - 1 >= sp.getField("s") && i - 1 < sp.getField("e")) ||
              (hasEos && i === size(field(d, "toks")).cast("long")),
              lit(1L)).otherwise(lit(0L)))))
          .as("loss_mask"),
        transform(col("ds"), d => field(d, "seg_start")).as("seg_starts"),
        transform(col("ds"), d => field(d, "seg_len")).as("seg_lens"))
  }

  /** [[paddedExamples]] for MULTI-TURN conversations: loss bits come
    * from [[Bpe.turnMaskSpans]] rows instead of a single prompt
    * prefix — 1 exactly on assistant-turn CONTENT pieces (template
    * markers, user turns, preamble, truncation overflow, and padding
    * all stay 0), which is the chat-template collator every
    * instruction-tuning run needs. Same tensors and scale shape as
    * [[paddedExamples]]: the per-doc array agg rides the encode's
    * doc-keyed exchange; the collected span list is turns-per-doc
    * sized (a broadcastable handful per conversation), and the mask is
    * a pure projection testing each position against it. */
  def paddedMultiturnExamples(ids: DataFrame, turnSpans: DataFrame,
                              maxLen: Int, padId: Long): DataFrame = {
    require(maxLen > 0, s"maxLen $maxLen")
    val perDoc = ids.groupBy(col("doc_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("piece_pos"), col("token_id")))),
        s => s.getField("token_id")).as("toks"))
    val lossSpans = turnSpans.filter(col("role") === "assistant")
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(
        col("content_start_piece").cast("long").as("s"),
        (col("start_piece") + col("n_pieces")).cast("long").as("e")))
        .as("spans"))
    perDoc
      .join(lossSpans, Seq("doc_id"), "left")
      .withColumn("spans", coalesce(col("spans"),
        array().cast("array<struct<s:bigint,e:bigint>>")))
      .withColumn("n_real",
        least(size(col("toks")), lit(maxLen)).cast("long"))
      .select(col("doc_id"),
        slice(concat(col("toks"),
          array_repeat(lit(padId), maxLen)), 1, maxLen).as("token_ids"),
        transform(sequence(lit(0L), lit(maxLen - 1L)),
          i => when(i < col("n_real"), lit(1L)).otherwise(lit(0L)))
          .as("attention_mask"),
        transform(sequence(lit(0L), lit(maxLen - 1L)),
          i => when(i < col("n_real") && exists(col("spans"),
            sp => i >= sp.getField("s") && i < sp.getField("e")),
            lit(1L)).otherwise(lit(0L)))
          .as("loss_mask"),
        col("n_real"))
  }

  /** The default tensor columns of [[binTensors]] rows. */
  val TensorCols: Seq[String] =
    Seq("bin_id", "token_ids", "loss_mask", "seg_starts", "seg_lens")

  private def recXor(tokenCol: String): Column =
    expr(s"aggregate(transform($tokenCol, (t, p) -> " +
      "shiftleft(cast(p as bigint), 20) + t), 0L, (a, x) -> a ^ x)")

  private def shardRecount(df: DataFrame, tokenCol: String): DataFrame =
    df.withColumn("rx", recXor(tokenCol))
      .groupBy(col("shard").as("shard_id"))
      .agg(count(lit(1)).as("n_records"),
        sum(size(col(tokenCol))).cast("long").as("n_tokens"),
        expr("bit_xor(rx)").as("tok_xor"))

  /** Publish [[binTensors]] rows as shard-addressed TFRecords WITH a
    * manifest, atomically — the [[IndexVersions]] discipline applied
    * to the training-data sink: shard files and a parquet manifest
    * (shard_id, n_records, n_tokens, tok_xor fingerprint) land in an
    * unpublished staging tree `dir/v=N`; one marker-create flips
    * readers to it. A crash anywhere before publish leaves the torn
    * tree INVISIBLE (readers keep resolving the previous version, and
    * the next write reclaims the orphan), and a loader verifies
    * completeness/resume against the manifest instead of trusting a
    * directory listing ([[readManifestedShards]]).
    *
    * Shard assignment is bin_id / binsPerShard — pure arithmetic, so
    * the manifest itself is oracle-replayable. The manifest is
    * computed by READING BACK the staged bytes (one extra scan of the
    * shard files): it attests what is actually on disk, not what the
    * writer intended, which is the attestation a resume check needs.
    * Returns the published version. */
  def writeManifestedShards(bins: DataFrame, dir: String,
                            binsPerShard: Int,
                            int64Cols: Seq[String] = TensorCols,
                            tokenCol: String = "token_ids"): Int = {
    require(binsPerShard > 0, s"binsPerShard $binsPerShard")
    val spark = bins.sparkSession
    val (v, staging) = IndexVersions.nextStaging(dir)
    // Shard-addressing guard (the TensorStreamShards bin-id pattern):
    // nothing upstream enforces bin_id >= 0 — a negative bin must fail
    // loudly per-row, not land in a wrong shard file. Integer `div`
    // (not Column./, which is DOUBLE math) keeps the address exact
    // over the whole long range: past 2^53 the double quotient rounds
    // and silently mis-addresses bins.
    val sharded = bins
      .withColumn("shard_id",
        when(col("bin_id") >= 0, expr(s"bin_id div $binsPerShard"))
          .otherwise(raise_error(concat(
            lit("writeManifestedShards: negative bin_id "),
            col("bin_id").cast("string"),
            lit(" — shard addressing requires non-negative bin ids")))))
      .repartitionByRange(col("bin_id"))
      .sortWithinPartitions(col("bin_id"))
    graft.sources.TfRecord.writeShardedExamples(sharded,
      s"$staging/shards", "shard_id", int64Cols, Seq.empty)
    shardRecount(graft.sources.TfRecord.readShardedExamples(spark,
        s"$staging/shards", int64Cols, Seq.empty), tokenCol)
      .repartition(1)
      .write.parquet(s"$staging/manifest")
    IndexVersions.publish(dir, v)
    v
  }

  /** Read the CURRENT version of a [[writeManifestedShards]] store.
    * `verify = true` (default) recounts (records, tokens, xor
    * fingerprint) per shard from the bytes and full-outer-checks the
    * manifest — a lost, truncated, or extraneous shard file fails
    * loudly instead of silently feeding a training run short. */
  def readManifestedShards(spark: org.apache.spark.sql.SparkSession,
                           dir: String,
                           int64Cols: Seq[String] = TensorCols,
                           tokenCol: String = "token_ids",
                           verify: Boolean = true): DataFrame = {
    val root = IndexVersions.resolve(dir)
    val df = graft.sources.TfRecord.readShardedExamples(spark,
      s"$root/shards", int64Cols, Seq.empty)
    if (verify) {
      val manifest = spark.read.parquet(s"$root/manifest")
        .select(col("shard_id"), col("n_records").as("m_records"),
          col("n_tokens").as("m_tokens"), col("tok_xor").as("m_xor"))
      val bad = shardRecount(df, tokenCol)
        .join(manifest, Seq("shard_id"), "full_outer")
        .filter(col("n_records").isNull || col("m_records").isNull ||
          col("n_records") =!= col("m_records") ||
          col("n_tokens") =!= col("m_tokens") ||
          col("tok_xor") =!= col("m_xor"))
        .count()
      require(bad == 0,
        s"$root/shards disagrees with its manifest on $bad shard(s) — " +
          "torn or tampered shard set")
    }
    df
  }

  /** Decode TFRecord shards written from [[binTensors]] rows back to
    * one row PER TOKEN, each token joined to its segment's boundary
    * facts — the shape a correctness check (and the DuckDB oracle)
    * compares, and the proof the stored tensors reassemble: the
    * segment boundaries come from the seg_lens PREFIX SUMS, i.e.
    * exactly the arithmetic a loader's block-diagonal attention mask
    * performs.
    *
    * Shape (r15): SEGMENT-major — posexplode the (off, start, len)
    * segment triples (prefix sums computed once per bin), then
    * generate each segment's token positions with sequence() and fetch
    * token/loss by element_at. O(1) work per token. The r14 form
    * exploded TOKENS and ranked each position against the offsets
    * array (`size(filter(offs, o <= pos))`) — O(segments-per-bin) per
    * token, which grows with bin capacity (a capacity-8192 bin of
    * short documents pays hundreds of comparisons per token). Probe
    * A/B over a cached bins frame (sf0.1, capacity 512, 1.98M tokens):
    * decode-proper cpu 1.4-1.9s -> 0.38-0.54s, row multisets equal.
    * Still a pure projection + generators over the scan — ZERO
    * exchanges (PlanAuditSpec pins it). The decode is total: a bin
    * whose seg_lens do not sum to its token count, or whose loss_mask
    * length differs from it (a torn or malformed shard), raises an
    * error instead of dropping the tail — one check per bin, held in a
    * filter so column pruning above cannot remove it. A zero-length
    * segment (cannot occur — encode emits no empty documents) generates
    * no rows, which matches the old form: it never won the prefix-sum
    * argmax.
    *
    * Output: (bin_id, pos, token_id, loss, seg_idx, seg_start,
    * seg_len). */
  def decodeTokenRows(examples: DataFrame): DataFrame =
    examples
      .select(element_at(col("bin_id"), 1).as("bin_id"),
        col("token_ids"), col("loss_mask"),
        col("seg_starts"), col("seg_lens"))
      .filter(expr(
        "if(aggregate(seg_lens, 0L, (acc, x) -> acc + x) = size(token_ids) " +
          "AND size(loss_mask) = size(token_ids), true, " +
          "raise_error(format_string('tensor bin %d: seg_lens sum to %d " +
          "but it has %d token_ids and %d loss_mask bits', bin_id, " +
          "aggregate(seg_lens, 0L, (acc, x) -> acc + x), size(token_ids), " +
          "size(loss_mask))))"))
      // offs[j] = tokens before segment j (0-based): prefix sums of
      // seg_lens, exclusive — array-bounded fold, pure codegen
      .withColumn("offs", expr(
        "slice(aggregate(seg_lens, array(0L), " +
          "(acc, x) -> array_append(acc, element_at(acc, -1) + x)), " +
          "1, size(seg_lens))"))
      .select(col("bin_id"), col("token_ids"), col("loss_mask"),
        posexplode(arrays_zip(col("offs"), col("seg_starts"),
          col("seg_lens"))))
      .filter(col("col.seg_lens") > 0L)
      .select(col("bin_id"), col("token_ids"), col("loss_mask"),
        col("pos").cast("long").as("seg_idx"),
        col("col.seg_starts").as("seg_start"),
        col("col.seg_lens").as("seg_len"),
        explode(sequence(col("col.offs"),
          col("col.offs") + col("col.seg_lens") - 1L)).as("pos"))
      .select(col("bin_id"), col("pos"),
        element_at(col("token_ids"), (col("pos") + 1).cast("int"))
          .as("token_id"),
        element_at(col("loss_mask"), (col("pos") + 1).cast("int"))
          .as("loss"),
        col("seg_idx"), col("seg_start"), col("seg_len"))
}
