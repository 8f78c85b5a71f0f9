package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The loader-tensor contract: per bin, sum(seg_lens) == len(token_ids)
  * == len(loss_mask); concatenation order is doc-id order; loss bits
  * are 0 exactly on each document's prompt_pieces prefix; seg_start
  * keeps the packedSegments global-offset semantics (including the
  * overflow document whose home-bin start is nonzero); and the TFRecord
  * round-trip through decodeTokenRows reproduces the composed chain
  * token for token.
  */
class TensorShardsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // small corpus with a sentence boundary (prompt span), a no-boundary
  // doc (masks nothing), and piece counts that force an OVERFLOW doc at
  // capacity 8 (a doc straddling a bin cut keeps its home bin)
  private lazy val docs = Seq(
    (1L, "aba bab. ab"),       // boundary after token 2
    (2L, "bb aa bb aa"),       // no boundary: all completion
    (3L, "abab baba ab aa"),
    (4L, "b. a")               // boundary immediately
  ).toDF("doc_id", "text")

  private lazy val merges = Bpe.trainMerges(docs, nMerges = 4)
  private lazy val syms = Bpe.vocab(docs, merges)
  private lazy val ids = Bpe.encodeIds(docs, merges, syms)
  private lazy val spans = Bpe.promptMaskSpans(docs, merges)

  test("bin tensors: lengths agree, order is doc-id order, loss bits " +
    "mask exactly the prompt prefix, seg_start keeps overflow semantics") {
    val capacity = 8L
    val bins = TensorShards.binTensors(ids, spans, capacity).collect()
      .sortBy(_.getLong(0))
    assert(bins.length > 1, "fixture must span multiple bins")

    // per-bin structural invariants
    bins.foreach { r =>
      val toks = r.getSeq[Long](1)
      val loss = r.getSeq[Long](2)
      val starts = r.getSeq[Long](3)
      val lens = r.getSeq[Long](4)
      assert(toks.size == loss.size)
      assert(lens.sum == toks.size)
      assert(starts.size == lens.size)
      assert(loss.forall(b => b == 0L || b == 1L))
    }

    // the concatenation across bins (bin order) is exactly encodeIds'
    // full stream in (doc_id, piece_pos) order — chunked packing never
    // reorders, it only cuts
    val allToks = bins.flatMap(_.getSeq[Long](1)).toSeq
    val direct = ids.orderBy(col("doc_id"), col("piece_pos"))
      .select(col("token_id")).as[Long].collect().toSeq
    assert(allToks == direct)

    // loss bits: reassemble per doc (docs are in doc-id order across
    // the stream) and compare against promptMaskSpans
    val spanRows = spans.collect().map(r =>
      r.getLong(0) -> (r.getLong(2), r.getLong(4))).toMap // prompt, total
    val allLoss = bins.flatMap(_.getSeq[Long](2)).toSeq
    var off = 0
    spanRows.toSeq.sortBy(_._1).foreach { case (_, (prompt, total)) =>
      val slice = allLoss.slice(off, off + total.toInt)
      assert(slice.take(prompt.toInt).forall(_ == 0L))
      assert(slice.drop(prompt.toInt).forall(_ == 1L))
      off += total.toInt
    }

    // overflow semantics: with cum piece counts not aligned to the
    // capacity, some later bin must open at a nonzero seg_start (the
    // packedSegments global-offset contract)
    val laterStarts = bins.drop(1).map(_.getSeq[Long](3).head)
    assert(laterStarts.exists(_ != 0L),
      "fixture produced only aligned bins — overflow case not exercised")
    // and every seg_start is the doc's cum_before % capacity: rebuild
    // from seg_lens and check
    val flatLens = bins.flatMap(_.getSeq[Long](4))
    val cums = flatLens.scanLeft(0L)(_ + _)
    val expectStarts = cums.init.map(_ % capacity).toSeq
    assert(bins.flatMap(_.getSeq[Long](3)).toSeq == expectStarts)
  }

  test("eosId: one separator per doc at the given id — counted in the " +
    "pack weights and seg_lens, loss bit 1, stream otherwise unchanged") {
    val eos = syms.size.toLong
    val bins = TensorShards.binTensors(ids, spans, capacity = 8,
        eosId = Some(eos)).collect().sortBy(_.getLong(0))
    val plain = TensorShards.binTensors(ids, spans, capacity = 8)
      .collect().sortBy(_.getLong(0))
    val nDocs = spans.count()
    val toksEos = bins.flatMap(_.getSeq[Long](1)).toSeq
    val toksPlain = plain.flatMap(_.getSeq[Long](1)).toSeq
    // exactly one EOS per doc, and removing them recovers the plain stream
    assert(toksEos.count(_ == eos) == nDocs)
    assert(toksEos.filterNot(_ == eos) == toksPlain)
    // each doc's last piece is the separator (seg_lens grew by one)
    val lensEos = bins.flatMap(_.getSeq[Long](4)).toSeq
    val lensPlain = plain.flatMap(_.getSeq[Long](4)).toSeq
    assert(lensEos == lensPlain.map(_ + 1))
    var off = 0
    lensEos.foreach { l =>
      assert(toksEos(off + l.toInt - 1) == eos,
        s"segment ending at ${off + l.toInt} must close with EOS")
      off += l.toInt
    }
    // the separator is trained: its loss bit is 1 everywhere
    val lossEos = bins.flatMap(_.getSeq[Long](2)).toSeq
    toksEos.zip(lossEos).foreach { case (t, b) =>
      if (t == eos) assert(b == 1L, "EOS must carry loss bit 1")
    }
    // bin capacity accounting includes the separators: total tokens
    // per bin still tracks the 8-token budget (±1 doc overflow)
    assert(bins.map(_.getSeq[Long](1).size).sum ==
      toksPlain.size + nDocs)
  }

  test("TFRecord round-trip: decodeTokenRows == the composed chain") {
    val capacity = 8L
    val dir = TestSpark.tmpDir("tensor_shards")
    val bins = TensorShards.binTensors(ids, spans, capacity)
    graft.sources.TfRecord.writeExamples(bins, dir,
      Seq("bin_id", "token_ids", "loss_mask", "seg_starts", "seg_lens"),
      Seq.empty)
    val decoded = TensorShards.decodeTokenRows(
      graft.sources.TfRecord.readExamples(spark, dir,
        Seq("bin_id", "token_ids", "loss_mask", "seg_starts", "seg_lens"),
        Seq.empty))
      .as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq

    // expected per-token rows straight off the collected bin tensors
    val expected = bins.collect().sortBy(_.getLong(0)).flatMap { r =>
      val bin = r.getLong(0)
      val toks = r.getSeq[Long](1); val loss = r.getSeq[Long](2)
      val starts = r.getSeq[Long](3); val lens = r.getSeq[Long](4)
      val offs = lens.scanLeft(0L)(_ + _).init
      toks.indices.map { p =>
        val seg = offs.lastIndexWhere(_ <= p)
        (bin, p.toLong, toks(p), loss(p), seg.toLong, starts(seg),
          lens(seg))
      }
    }.toSeq
    assert(decoded == expected)
  }

  test("manifested shards: torn writes invisible, tampering caught") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_manifest").toString
    val bins = TensorShards.binTensors(ids, spans, 8L)
    val v1 = TensorShards.writeManifestedShards(bins, dir,
      binsPerShard = 2)
    assert(v1 == 1)
    val r1 = TensorShards.readManifestedShards(spark, dir).count()
    assert(r1 > 0)
    // a torn write = staging tree with NO marker (crash before
    // publish): readers keep resolving v1 and never see the garbage
    new java.io.File(s"$dir/v=2/shards").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/v=2/shards/shard-0-dead-00000.tfrecord"),
      Array[Byte](1, 2, 3))
    assert(TensorShards.readManifestedShards(spark, dir).count() == r1)
    // the next write reclaims the orphaned staging tree (instead of
    // wedging on path-exists) and publishes a complete v2
    val v2 = TensorShards.writeManifestedShards(bins, dir,
      binsPerShard = 2)
    assert(v2 == 2)
    assert(TensorShards.readManifestedShards(spark, dir).count() == r1)
    // deleting a published shard file must fail verification loudly
    val root = IndexVersions.resolve(dir)
    val shardFiles = new java.io.File(s"$root/shards").listFiles()
      .filter(_.getName.endsWith(".tfrecord"))
    assert(shardFiles.nonEmpty)
    shardFiles.head.delete()
    intercept[Exception] {
      TensorShards.readManifestedShards(spark, dir)
    }
    graft.ops.CacheRegistry.releaseAll()
  }

  test("shard addressing guards: negative bin_id fails loudly; addresses " +
    "stay exact past 2^53 (integer div, not double math)") {
    def binRow(id: Long) = Seq(
      (id, Seq(1L, 2L), Seq(1L, 1L), Seq(0L), Seq(2L)))
      .toDF("bin_id", "token_ids", "loss_mask", "seg_starts", "seg_lens")
    def chainHas(t: Throwable, s: String): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .exists(e => String.valueOf(e.getMessage).contains(s))
    // a negative bin would have written "shard--1-..." — a file name
    // the reader's pattern rejects — i.e. silent until read time
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shard_guard").toString
    val e = intercept[Exception] {
      TensorShards.writeManifestedShards(binRow(-1L), dir, binsPerShard = 2)
    }
    assert(chainHas(e, "negative bin_id"), s"got $e")
    // 2^53 + 1 is not double-representable: the old Column./ quotient
    // rounded it to 2^53 and silently mis-addressed the bin
    val big = (1L << 53) + 1
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_shard_guard2").toString
    TensorShards.writeManifestedShards(binRow(big), dir2, binsPerShard = 1)
    val back = TensorShards.readManifestedShards(spark, dir2)
    assert(back.select(col("shard")).as[Long].head() == big)
    assert(back.select(element_at(col("bin_id"), 1)).as[Long].head() == big)
    graft.ops.CacheRegistry.releaseAll()
  }

  test("packed multi-turn bins: loss bits per doc match the turn spans") {
    val convo = Seq(
      (1L, "<user> hi there <assistant> ok bye <user> more <assistant> done"),
      (2L, "intro words <user> q <assistant> a")
    ).toDF("doc_id", "text")
    val merges = List.empty[(String, String)]
    val syms = Bpe.vocab(convo, merges)
    val ids = Bpe.encodeIds(convo, merges, syms)
    val spans = Bpe.turnMaskSpans(convo, merges)
    // capacity 32: doc 1 (54 pieces) opens bin 0 and overflows it
    // (home-bin rule); doc 2 (29 pieces, cum_before 54) lands in bin 1
    // with seg_start 54 % 32 = 22
    val bins = TensorShards.binTensorsMultiturn(ids, spans, 32L)
      .collect().sortBy(_.getLong(0))
    graft.ops.CacheRegistry.releaseAll()
    assert(bins.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    val b0loss = bins(0).getSeq[Long](2)
    val b1loss = bins(1).getSeq[Long](2)
    assert(b0loss == (0 until 54).map(i =>
      if ((i >= 24 && i < 29) || (i >= 50 && i < 54)) 1L else 0L))
    assert(b1loss == (0 until 29).map(i => if (i == 28) 1L else 0L))
    assert(bins(1).getSeq[Long](3) == Seq(22L)) // seg_start
    assert(bins(0).getSeq[Long](4) == Seq(54L)) // seg_len
    // EOS variant: separator appended per doc with loss bit 1
    val binsEos = TensorShards.binTensorsMultiturn(ids, spans, 32L,
        eosId = Some(syms.size.toLong))
      .collect().sortBy(_.getLong(0))
    graft.ops.CacheRegistry.releaseAll()
    val e0 = binsEos(0)
    assert(e0.getSeq[Long](1).last == syms.size.toLong)
    assert(e0.getSeq[Long](2).size == 55 && e0.getSeq[Long](2).last == 1L)
  }

  test("property: random turn layouts at capacities 8-64 — packed " +
    "multi-turn tensors equal a full local replay, mask bits included") {
    // The invariant that protects every future packing change: for ANY
    // (role, span) layout, binTensorsMultiturn's output must equal the
    // from-scratch replay of its contract — chunked packing is a global
    // prefix sum over doc-id order (home-bin overflow: a straddling doc
    // keeps bin floor(cum_before/c) and its full seg_len), and loss is
    // 1 exactly on assistant CONTENT pieces plus the EOS separator.
    // Seeded random sampling, the ChunkMathSpec/SketchesSpec bridge.
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(41 + seed)
      val capacity = 8 + rnd.nextInt(57) // 8..64
      val eosId = if (seed % 2 == 0) Some(9999L) else None
      val nDocs = 5 + rnd.nextInt(12)
      // per doc: contiguous (role, span) turns; turn 0 may be a system
      // preamble; content starts marker-length pieces into the turn
      case class Turn(role: String, start: Long, n: Long, cStart: Long)
      val docTurns: Seq[(Long, Seq[Turn], Long)] = (0 until nDocs).map { i =>
        val docId = 100L + i
        var pos = 0L
        val turns = scala.collection.mutable.ArrayBuffer[Turn]()
        if (rnd.nextBoolean()) { // system preamble, content == start
          val n = 1 + rnd.nextInt(5)
          turns += Turn("system", pos, n, pos); pos += n
        }
        (0 until 1 + rnd.nextInt(5)).foreach { _ =>
          val role = if (rnd.nextBoolean()) "assistant" else "user"
          val n = 1 + rnd.nextInt(9)
          val marker = math.min(rnd.nextInt(3), n - 1)
          turns += Turn(role, pos, n, pos + marker); pos += n
        }
        (docId, turns.toSeq, pos)
      }
      val idsDf = docTurns.flatMap { case (docId, _, total) =>
        (0L until total).map(p => (docId, p, rnd.nextInt(500).toLong))
      }.toDF("doc_id", "piece_pos", "token_id")
      val spansDf = docTurns.flatMap { case (docId, turns, _) =>
        turns.zipWithIndex.map { case (t, ti) =>
          (docId, ti.toLong, t.role, t.start, t.n, t.cStart)
        }
      }.toDF("doc_id", "turn_idx", "role", "start_piece", "n_pieces",
        "content_start_piece")

      // ---- full local replay of the contract
      val tokensByDoc: Map[Long, Seq[Long]] = idsDf
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).map { case (d, rs) =>
          d -> rs.sortBy(_._2).map(_._3).toSeq }
      var cum = 0L
      val expected = scala.collection.mutable.LinkedHashMap[Long,
        scala.collection.mutable.ArrayBuffer[(Long, Seq[Long], Seq[Long], Long)]]()
      docTurns.sortBy(_._1).foreach { case (docId, turns, total) =>
        val segLen = total + (if (eosId.isDefined) 1L else 0L)
        val bin = cum / capacity
        val segStart = cum % capacity
        val toks = tokensByDoc(docId) ++ eosId.toSeq
        val loss = (0L until segLen).map { p =>
          val inSpan = turns.exists(t => t.role == "assistant" &&
            p >= t.cStart && p < t.start + t.n)
          val isEos = eosId.isDefined && p == segLen - 1
          if (inSpan || isEos) 1L else 0L
        }
        expected.getOrElseUpdate(bin,
          scala.collection.mutable.ArrayBuffer()) +=
          ((docId, toks, loss, segStart))
        cum += segLen
      }
      val want = expected.map { case (bin, ds) =>
        (bin, ds.flatMap(_._2).toSeq, ds.flatMap(_._3).toSeq,
          ds.map(_._4).toSeq, ds.map(d => d._2.size.toLong).toSeq)
      }.toSeq.sortBy(_._1)

      val got = TensorShards.binTensorsMultiturn(idsDf, spansDf,
          capacity.toLong, eosId = eosId)
        .collect().sortBy(_.getLong(0))
        .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq,
          r.getSeq[Long](2).toSeq, r.getSeq[Long](3).toSeq,
          r.getSeq[Long](4).toSeq)).toSeq
      graft.ops.CacheRegistry.releaseAll()
      assert(got == want, s"seed $seed capacity $capacity eos $eosId")

      // the single-turn packed shape under the SAME replay: loss 0 on
      // a random prompt prefix, 1 after (EOS always 1) — binTensors
      // shares the packing arithmetic, so the replay only swaps the
      // mask rule
      val promptByDoc: Map[Long, Long] = docTurns.map { case (d, _, total) =>
        d -> (rnd.nextInt(total.toInt + 1)).toLong
      }.toMap
      val spansDf1 = docTurns.map { case (d, _, total) =>
        (d, promptByDoc(d), total)
      }.toDF("doc_id", "prompt_pieces", "n_pieces")
      var cum1 = 0L
      val expected1 = scala.collection.mutable.LinkedHashMap[Long,
        scala.collection.mutable.ArrayBuffer[(Long, Seq[Long], Seq[Long], Long)]]()
      docTurns.sortBy(_._1).foreach { case (docId, _, total) =>
        val segLen = total + (if (eosId.isDefined) 1L else 0L)
        val bin = cum1 / capacity
        val toks = tokensByDoc(docId) ++ eosId.toSeq
        val loss = (0L until segLen).map { p =>
          val isEos = eosId.isDefined && p == segLen - 1
          if (p >= promptByDoc(docId) || isEos) 1L else 0L
        }
        expected1.getOrElseUpdate(bin,
          scala.collection.mutable.ArrayBuffer()) +=
          ((docId, toks, loss, cum1 % capacity))
        cum1 += segLen
      }
      val want1 = expected1.map { case (bin, ds) =>
        (bin, ds.flatMap(_._2).toSeq, ds.flatMap(_._3).toSeq,
          ds.map(_._4).toSeq, ds.map(d => d._2.size.toLong).toSeq)
      }.toSeq.sortBy(_._1)
      val got1 = TensorShards.binTensors(idsDf, spansDf1,
          capacity.toLong, eosId = eosId)
        .collect().sortBy(_.getLong(0))
        .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq,
          r.getSeq[Long](2).toSeq, r.getSeq[Long](3).toSeq,
          r.getSeq[Long](4).toSeq)).toSeq
      graft.ops.CacheRegistry.releaseAll()
      assert(got1 == want1, s"seed $seed binTensors capacity $capacity")

      // padded variant: truncation at maxLen clips attention AND loss
      // (a span cut mid-turn keeps only its surviving prefix)
      val maxLen = 8 + rnd.nextInt(57)
      val gotPad = TensorShards.paddedMultiturnExamples(idsDf, spansDf,
          maxLen, padId = 9998L)
        .collect().map(r => r.getLong(0) ->
          (r.getSeq[Long](1).toSeq, r.getSeq[Long](2).toSeq,
            r.getSeq[Long](3).toSeq)).toMap
      graft.ops.CacheRegistry.releaseAll()
      docTurns.foreach { case (docId, turns, total) =>
        val toks = tokensByDoc(docId)
        val nReal = math.min(total, maxLen.toLong)
        val wantToks = (toks.take(maxLen) ++
          Seq.fill((maxLen - total).toInt.max(0))(9998L))
        val wantAtt = (0L until maxLen.toLong).map(p =>
          if (p < nReal) 1L else 0L)
        val wantLoss = (0L until maxLen.toLong).map { p =>
          val inSpan = turns.exists(t => t.role == "assistant" &&
            p >= t.cStart && p < t.start + t.n)
          if (p < nReal && inSpan) 1L else 0L
        }
        val (gt, ga, gl) = gotPad(docId)
        assert(gt == wantToks && ga == wantAtt && gl == wantLoss,
          s"seed $seed doc $docId maxLen $maxLen")
      }
    }
  }

  test("multi-turn loss mask flips exactly at turn boundaries") {
    // char-level pieces (no merges) make every span hand-computable:
    // each word contributes |word| pieces in order
    val convo = Seq(
      (1L, "<user> hi there <assistant> ok bye <user> more <assistant> done"),
      (2L, "intro words <user> q <assistant> a")
    ).toDF("doc_id", "text")
    val merges = List.empty[(String, String)]
    val syms = Bpe.vocab(convo, merges)
    val ids = Bpe.encodeIds(convo, merges, syms)
    val spans = Bpe.turnMaskSpans(convo, merges)

    val rows = spans.orderBy("doc_id", "turn_idx")
      .select("doc_id", "turn_idx", "role", "start_piece", "n_pieces",
        "content_start_piece")
      .as[(Long, Long, String, Long, Long, Long)].collect().toSeq
    // doc 1: <user>(6) hi(2) there(5) | <assistant>(11) ok(2) bye(3)
    //        | <user>(6) more(4) | <assistant>(11) done(4)
    assert(rows.filter(_._1 == 1L) == Seq(
      (1L, 1L, "user", 0L, 13L, 6L),
      (1L, 2L, "assistant", 13L, 16L, 24L),
      (1L, 3L, "user", 29L, 10L, 35L),
      (1L, 4L, "assistant", 39L, 15L, 50L)))
    // doc 2: preamble intro(5) words(5) = system turn 0, then
    // <user>(6) q(1), <assistant>(11) a(1)
    assert(rows.filter(_._1 == 2L) == Seq(
      (2L, 0L, "system", 0L, 10L, 0L),
      (2L, 1L, "user", 10L, 7L, 16L),
      (2L, 2L, "assistant", 17L, 12L, 28L)))

    def masks(maxLen: Int): Map[Long, (Seq[Long], Seq[Long])] =
      TensorShards.paddedMultiturnExamples(ids, spans, maxLen,
          padId = syms.size.toLong)
        .select("doc_id", "loss_mask", "attention_mask")
        .collect().map(r => r.getLong(0) ->
          (r.getSeq[Long](1), r.getSeq[Long](2))).toMap

    val m60 = masks(60)
    // doc 1 (54 pieces): loss 1 exactly on assistant content
    // [24,29) and [50,54); attention 1 on [0,54)
    assert(m60(1L)._1 == (0 until 60).map(i =>
      if ((i >= 24 && i < 29) || (i >= 50 && i < 54)) 1L else 0L))
    assert(m60(1L)._2 == (0 until 60).map(i => if (i < 54) 1L else 0L))
    // doc 2 (29 pieces): loss only on the single 'a' piece at 28
    assert(m60(2L)._1 == (0 until 60).map(i => if (i == 28) 1L else 0L))
    // truncation clips the final span: at maxLen=52 doc 1 keeps
    // [24,29) and only [50,52)
    val m52 = masks(52)
    assert(m52(1L)._1 == (0 until 52).map(i =>
      if ((i >= 24 && i < 29) || (i >= 50 && i < 52)) 1L else 0L))
    graft.ops.CacheRegistry.releaseAll()
  }

  test("decodeTokenRows is total: a bin whose arrays disagree with its " +
    "seg_lens fails, whatever columns the reader keeps") {
    def bin(toks: Seq[Long], loss: Seq[Long], lens: Seq[Long]) =
      Seq((Seq(7L), toks, loss, Seq(0L), lens))
        .toDF("bin_id", "token_ids", "loss_mask", "seg_starts", "seg_lens")
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString("\n")
    // well-formed: one segment covering all three tokens
    assert(TensorShards.decodeTokenRows(
      bin(Seq(1L, 2L, 3L), Seq(1L, 1L, 1L), Seq(3L))).count() == 3)
    val cases = Seq(
      // token_ids run past the segments: an unguarded decode drops the
      // tail
      bin(Seq(1L, 2L, 3L, 4L), Seq(1L, 1L, 1L, 1L), Seq(3L)),
      // segments run past the token_ids
      bin(Seq(1L, 2L), Seq(1L, 1L), Seq(3L)),
      // loss_mask shorter than token_ids
      bin(Seq(1L, 2L, 3L), Seq(1L, 1L), Seq(3L)))
    cases.foreach { ex =>
      val decoded = TensorShards.decodeTokenRows(ex)
      Seq[() => Any](
        () => decoded.collect(),
        () => decoded.select("token_id").collect(),
        () => decoded.count()).foreach { action =>
        val e = intercept[Exception](action())
        assert(messages(e).contains("tensor bin 7"), messages(e))
      }
    }
  }
}
