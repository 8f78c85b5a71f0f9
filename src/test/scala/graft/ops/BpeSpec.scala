package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.TestSpark

class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("applyMerge is greedy left-to-right, restarting after a merge") {
    assert(Bpe.applyMerge(List("a", "a", "a"), "a", "a") == List("aa", "a"))
    assert(Bpe.applyMerge(List("a", "a", "a", "a"), "a", "a")
      == List("aa", "aa"))
    assert(Bpe.applyMerge(List("b", "a", "n"), "a", "n") == List("b", "an"))
    assert(Bpe.applyMerge(List("x"), "a", "n") == List("x"))
    // no false match across symbol boundaries: ("xa","n") has no (a,n)
    assert(Bpe.applyMerge(List("xa", "n"), "a", "n") == List("xa", "n"))
  }

  test("encodeWord applies merges in RANK order, not scan order") {
    // rank0 (b,c) fires before rank1 (a,b) even though (a,b) comes
    // first in the scan: abc -> a,bc (then rank2 joins them)
    val rank = Map(("b", "c") -> 0, ("a", "b") -> 1, ("a", "bc") -> 2)
    assert(Bpe.encodeWord("abc", rank) == List("abc"))
    // without the (a,bc) merge the encode stops at [a, bc]
    assert(Bpe.encodeWord("abc", rank - (("a", "bc"))) == List("a", "bc"))
    // unknown word: falls back to characters
    assert(Bpe.encodeWord("xyz", rank) == List("x", "y", "z"))
    assert(Bpe.encodeWord("banana", Map(("a", "n") -> 0))
      == List("b", "an", "an", "a"))
  }

  test("trainFromCounts reproduces the classic worked example") {
    // Sennrich et al. 2016 flavor: low:5 lower:2 newest:6 widest:3
    // pair masses: (e,s)=(s,t)=9 -> lexicographic tie to (e,s);
    // then (es,t)=9; (l,o)=7; (lo,w)=7; then the 6-mass tie
    // {(e,w),(n,e),(w,est)} resolves to (e,w)
    val wc = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val merges = Bpe.trainFromCounts(wc, 5)
    assert(merges == List(("e", "s"), ("es", "t"), ("l", "o"),
      ("lo", "w"), ("e", "w")))
    // training exhausts gracefully when every word is one symbol
    val tiny = Bpe.trainFromCounts(Seq(("ab", 1L)), 10)
    assert(tiny == List(("a", "b")))
  }

  test("trainMerges: distributed counts equal in-memory training") {
    val docs = Seq(
      (1L, "low low low low low lower lower"),
      (2L, "newest newest newest newest newest newest"),
      (3L, "widest widest widest")).toDF("doc_id", "text")
    val m = Bpe.trainMerges(docs, nMerges = 5)
    assert(m == List(("e", "s"), ("es", "t"), ("l", "o"),
      ("lo", "w"), ("e", "w")))
    // case folding: the tokenizer lowercases before counting
    val up = Seq((1L, "AB ab Ab")).toDF("doc_id", "text")
    assert(Bpe.trainMerges(up, nMerges = 1) == List(("a", "b")))
  }

  test("pieceCounts: per-doc piece totals under a fixed merge table") {
    val merges = List(("a", "n"), ("an", "an"))
    // banana -> b,an,an,a -> b,anan,a (3); bana -> b,an,a (3); x -> 1
    val docs = Seq((1L, "banana x"), (2L, "bana bana")).toDF("doc_id", "text")
    val out = Bpe.pieceCounts(docs, merges)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toList
    CacheRegistry.releaseAll()
    assert(out == List((1L, 2L, 4L), (2L, 2L, 6L)))
    // scope to THIS op's call sites — the context is shared across
    // concurrently-running suites (the DedupSpec convention)
    val lingering = spark.sparkContext.getPersistentRDDs.values
      .filter(_.toString.contains("Bpe.scala"))
    assert(lingering.isEmpty,
      s"the token-stream persist must be registry-released: $lingering")
  }

  test("vocab: chars lexicographic, merge symbols in rank order, " +
    "duplicates keep the first id") {
    val docs = Seq((1L, "ban cab"), (2L, "ban ban")).toDF("doc_id", "text")
    // chars of {ban, cab} = {a, b, c, n}; merge (a,b) makes "ab";
    // ("a","b") and a later duplicate-producing ("ab","") cannot occur,
    // so plant a genuine duplicate: ("b","an") and ("ba","n") both
    // produce "ban" — first (lower rank) keeps the id
    val merges = List(("a", "n"), ("b", "an"), ("b", "a"), ("ba", "n"))
    val v = Bpe.vocab(docs, merges)
    assert(v == List("a", "b", "c", "n", "an", "ban", "ba"))
    val df = Bpe.vocabDf(spark, v).as[(Long, String)].collect().toList
    assert(df == v.zipWithIndex.map { case (s, i) => (i.toLong, s) })
  }

  test("encodeIds: sequences reassemble in document token order and " +
    "match a local replay") {
    val docs = Seq((1L, "banana x bana"), (2L, "x banana"))
      .toDF("doc_id", "text")
    val merges = List(("a", "n"), ("an", "an"))
    val syms = Bpe.vocab(docs, merges)
    val ids = syms.zipWithIndex.toMap
    val rank = merges.zipWithIndex.toMap
    val got = Bpe.encodeIds(docs, merges, syms)
      .as[(Long, Long, Long)].collect().toList
      .sortBy(r => (r._1, r._2))
    CacheRegistry.releaseAll()
    def local(doc: Long, words: Seq[String]): List[(Long, Long, Long)] =
      words.flatMap(w => Bpe.encodeWord(w, rank))
        .zipWithIndex.map { case (p, i) =>
          (doc, i.toLong, ids(p).toLong) }.toList
    val want = local(1L, Seq("banana", "x", "bana")) ++
      local(2L, Seq("x", "banana"))
    assert(got == want.sortBy(r => (r._1, r._2)))
    // piece positions are a dense 0-based sequence per doc
    got.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2) == rs.indices.map(_.toLong)) }
  }

  test("decodeIds round-trip law: decode(encode(x)) == normalized(x) " +
    "(lowercase, whitespace removed); OOV decodes to the empty string") {
    val docs = Seq((1L, "Banana  X bana"), (2L, " x BANANA\tsplit "),
      (3L, "unseen")).toDF("doc_id", "text")
    val merges = List(("a", "n"), ("an", "an"))
    val syms = Bpe.vocab(docs, merges)
    val got = Bpe.decodeIds(Bpe.encodeIds(docs, merges, syms), syms)
      .as[(Long, String)].collect().toMap
    CacheRegistry.releaseAll()
    // the fidelity contract: casing and spacing are NOT preserved —
    // exactly the normalization chain, nothing else
    assert(got(1L) == "bananaxbana")
    assert(got(2L) == "xbananasplit")
    assert(got(3L) == "unseen")
    // OOV: encode NEW text under the FROZEN vocab (no 'z'/'q' chars in
    // it) -> ids -1, which decode to the empty string, the documented
    // lossy branch
    val novel = Seq((9L, "zq ban")).toDF("doc_id", "text")
    val ids = Bpe.encodeIds(novel, merges, syms)
    CacheRegistry.releaseAll()
    assert(ids.filter(col("token_id") === -1).count() == 2) // z and q
    val dec = Bpe.decodeIds(ids, syms).as[(Long, String)].collect().toMap
    assert(dec(9L) == "ban")
  }

  test("saveTokenizer/loadTokenizer: the loaded artifact is the trained " +
    "one, and encoding under it is identical") {
    val docs = Seq((1L, "banana x bana"), (2L, "x banana split"))
      .toDF("doc_id", "text")
    val merges = Bpe.trainMerges(docs, nMerges = 5)
    val syms = Bpe.vocab(docs, merges)
    val dir = graft.TestSpark.tmpDir("bpe_tok")
    Bpe.saveTokenizer(spark, dir, merges, syms)
    val (m2, s2) = Bpe.loadTokenizer(spark, dir)
    assert(m2 == merges && s2 == syms)
    val direct = Bpe.encodeIds(docs, merges, syms)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    CacheRegistry.releaseAll()
    val frozen = Bpe.encodeIds(docs, m2, s2)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    CacheRegistry.releaseAll()
    assert(frozen == direct)
  }

  test("promptMaskSpans: first sentence-final token closes the prompt; " +
    "no boundary masks nothing") {
    val docs = Seq(
      (1L, "what is bpe? bpe merges pairs"), // boundary at token 3
      (2L, "no punctuation at all here"),    // no boundary: mask nothing
      (3L, "one. two. three.")               // boundary at token 0
    ).toDF("doc_id", "text")
    val merges = List(("e", "s"))
    val out = Bpe.promptMaskSpans(docs, merges)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    CacheRegistry.releaseAll()
    def pieces(ws: String*): Long =
      ws.map(w => Bpe.encodeWord(w, Map(("e", "s") -> 0)).size.toLong).sum
    // doc 1: prompt = "what is bpe?" (3 words)
    assert(out(1L) == (3L, pieces("what", "is", "bpe?"),
      6L, pieces("what", "is", "bpe?", "bpe", "merges", "pairs")))
    // doc 2: no boundary -> zero mask, totals intact
    assert(out(2L)._1 == 0L && out(2L)._2 == 0L && out(2L)._3 == 5L)
    // doc 3: prompt = "one." only
    assert(out(3L)._1 == 1L && out(3L)._2 == pieces("one."))
  }

  test("composed chain tokenizes the corpus ONCE: train + vocab + encode " +
    "share a single materialized token frame (r14 shared toksDf)") {
    // Scoped, delta-based form (r15): the suite context is SHARED with
    // concurrently-running suites that also run Bpe ops, so a global
    // releaseAll + exact global count is both destructive (it would
    // unpersist a concurrent suite's tracked caches mid-run) and flaky
    // (the global count can exceed 1). Snapshot the Bpe-cached RDD ids,
    // assert on the NEW ids this chain created, and release only what
    // the scope registered.
    def bpeCachedIds: Set[Int] = spark.sparkContext.getPersistentRDDs
      .filter(_._2.toString.contains("Bpe.scala")).keySet.toSet
    val docs = Seq(
      (1L, "low low lower"),
      (2L, "newest widest")).toDF("doc_id", "text")
    val before = bpeCachedIds
    CacheRegistry.scoped {
      val merges = Bpe.trainMerges(docs, nMerges = 3, shareTokens = true)
      val syms = Bpe.vocab(docs, merges)
      val ids = Bpe.encodeIds(docs, merges, syms)
      assert(ids.count() > 0)
      // train (shareTokens) persists; vocab/encode build the same
      // canonical plan — the cache manager must serve all three from
      // ONE materialized RDD (no second Bpe cache appears)
      val delta = bpeCachedIds -- before
      assert(delta.size == 1,
        s"expected one NEW shared token cache, got ids: $delta")
    }
    val lingering = bpeCachedIds -- before
    assert(lingering.isEmpty,
      s"scoped release must drop the chain's token cache: $lingering")
  }

  test("standalone trainMerges/vocab run cache-free: one-shot training " +
    "must not materialize a corpus-sized token frame (r15)") {
    def bpeCachedIds: Set[Int] = spark.sparkContext.getPersistentRDDs
      .filter(_._2.toString.contains("Bpe.scala")).keySet.toSet
    val docs = Seq(
      (1L, "low low lower"),
      (2L, "newest widest")).toDF("doc_id", "text")
    val before = bpeCachedIds
    val merges = Bpe.trainMerges(docs, nMerges = 3)
    val syms = Bpe.vocab(docs, merges)
    assert(merges.nonEmpty && syms.nonEmpty)
    assert((bpeCachedIds -- before).isEmpty,
      "standalone train/vocab must not persist the token frame")
    // doc-identity-free: a frame WITHOUT idCol trains/vocabs fine
    // (the id is synthesized; r14 ADVICE flagged the silent tightening)
    val bare = Seq("low low lower", "newest widest").toDF("text")
    assert(Bpe.trainMerges(bare, nMerges = 3) == merges)
    assert(Bpe.vocab(bare, merges) == syms)
  }

  test("shareTokens = true without the id column fails loudly, naming it") {
    // a synthesized id could never seed the chain cache later stages
    // key on, so sharing it would persist a corpus-sized frame for
    // nothing
    val bare = Seq("low low lower", "newest widest").toDF("text")
    val e = intercept[IllegalArgumentException](
      Bpe.trainMerges(bare, nMerges = 3, shareTokens = true))
    assert(e.getMessage.contains("doc_id"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Bpe.trainMerges(bare.withColumn("doc_id", col("text")), nMerges = 3,
        idCol = "page_id", shareTokens = true))
    assert(e2.getMessage.contains("page_id"), e2.getMessage)
  }
}
