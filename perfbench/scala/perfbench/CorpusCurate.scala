package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Bpe, CrawlCurate, TensorShards}

/** Training-data side: each operation takes one batch of crawled pages
  * from raw HTML to decoded token tensors: curation (URL, exact and
  * near dedup, quality gate, decontamination, split), BPE training and
  * encoding, packing into 512-token bins, manifested shard write, and
  * verified read-back with per-token decode. Batches are distinct and
  * carry planted exact, near and URL duplicates plus benchmark
  * contamination, so the kept set is known exactly.
  *
  * There is no warm-up: a crawl batch is curated by a job of its own,
  * so the batch a run measures pays the cold JVM and Spark code
  * generation, as each batch job does. */
final class CorpusCurate(seed: Int) extends Workload {
  import CorpusCurate._

  private var dir: Path = _

  def sizes: Map[String, Any] = Map(
    "base_docs_per_batch" -> BatchDocs, "pages_per_batch" -> Pages.pageCount(BatchDocs),
    "words_per_doc" -> s"${Pages.MinWords}-${Pages.MaxWords}", "vocabulary" -> Pages.VocabSize,
    "batches" -> Batches, "bpe_merges" -> Merges, "bin_capacity" -> Capacity, "bins_per_shard" -> BinsPerShard)

  private def batch(b: Int): Pages.Batch = Pages.batch(seed, b, BatchDocs)

  /** The crawl landing table: every batch's pages as parquet. */
  def setup(spark: SparkSession, d: Path, tr: Tracer): Map[String, Any] = {
    dir = d
    import spark.implicits._
    (0 until Batches).flatMap { b =>
      batch(b).pages.map(p => (b, p.docId, p.url, p.html))
    }.toDF("batch", "doc_id", "url", "html")
      .write.partitionBy("batch").parquet(landing)
    Map("landing_bytes" -> Fs.bytes(dir.resolve("landing")))
  }

  def warmup(spark: SparkSession): Unit = ()

  private def landing: String = dir.resolve("landing").toString

  def op(spark: SparkSession, tr: Tracer, i: Int): Op = chain(spark, tr, i % Batches)

  private def chain(spark: SparkSession, tr: Tracer, b: Int): Op = {
    val label = s"batch$b"
    val batch = this.batch(b)
    val pages = spark.read.parquet(landing).filter(col("batch") === b).drop("batch")
    val bench = Pages.benchmarkDf(spark, batch)
    val shardDir = dir.resolve(s"shards-$label").toString
    val curated = tr.span("CrawlCurate") {
      val c = CrawlCurate.curatePages(pages, bench).persist()
      c.count()
      c
    }
    val (merges, syms) = tr.span("Bpe.train") {
      val m = Bpe.trainMerges(curated, nMerges = Merges, shareTokens = true)
      (m, Bpe.vocab(curated, m))
    }
    val ids = tr.span("Bpe.encode") {
      val e = Bpe.encodeIds(curated, merges, syms).persist()
      e.count()
      e
    }
    val bins = tr.span("TensorShards.pack") {
      val b = TensorShards.binTensors(ids, Bpe.promptMaskSpans(curated, merges), Capacity).persist()
      b.count()
      b
    }
    tr.span("TensorShards.write") {
      TensorShards.writeManifestedShards(bins, shardDir, binsPerShard = BinsPerShard)
    }
    val decoded = tr.span("TensorShards.read") {
      TensorShards.decodeTokenRows(TensorShards.readManifestedShards(spark, shardDir))
        .groupBy(col("token_id")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    Op("curate_batch", () => {
      val kept = curated.select(col("doc_id")).collect().map(_.getLong(0)).toSet
      val encoded = ids.groupBy(col("token_id")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val binStats = bins.select(sum(size(col("token_ids"))), count(lit(1))).head()
      val (tokens, nBins) = (binStats.getLong(0), binStats.getLong(1))
      curated.unpersist(); ids.unpersist(); bins.unpersist()
      Main.deleteTree(java.nio.file.Paths.get(shardDir))
      val want = batch.expectedKept
      val keptErr =
        if (kept == want) None
        else Some(s"curate $label: ${(kept -- want).size} planted duplicates or " +
          s"contaminated pages kept (e.g. ${(kept -- want).take(3).mkString(",")}), " +
          s"${(want -- kept).size} clean pages dropped (e.g. ${(want -- kept).take(3).mkString(",")})")
      val tokErr =
        if (decoded == encoded) None
        else Some(s"curate $label: decoded token multiset differs from encoded " +
          s"(${decoded.values.sum} vs ${encoded.values.sum} tokens, " +
          s"${(decoded.toSet diff encoded.toSet).size} differing (token, count) rows)")
      Outcome(batch.pages.size.toDouble,
        Map("pages" -> batch.pages.size, "kept" -> kept.size, "tokens" -> tokens,
          "bins" -> nBins, "capacity" -> Capacity, "merges" -> merges.size),
        Seq(keptErr, tokErr).flatten.reduceOption(_ + "; " + _))
    })
  }
}

object CorpusCurate {
  val BatchDocs = 300
  /** One batch per pass of a traced run: loop, untraced twin, traced. */
  val Batches = 3
  val Merges = 20
  val Capacity = 512L
  val BinsPerShard = 8
}

/** Seeded crawl pages. Base documents are seeded word sequences over a
  * fixed pseudo-word vocabulary; every 13th gets an exact duplicate (same
  * page at a fresh URL), every 17th a near duplicate (first word
  * replaced), every 11th a re-crawl (a URL spelling with the same
  * canonical form), and every 97th is contaminated (its body is in the
  * benchmark set). */
object Pages {
  val VocabSize = 2000
  val MinWords = 50
  val MaxWords = 70

  final case class Page(docId: Long, url: String, html: String)

  final case class Batch(pages: Seq[Page], benchmark: Seq[String], expectedKept: Set[Long])

  private val vocab: IndexedSeq[String] = {
    val r = new scala.util.Random(20260417L)
    val syl = IndexedSeq("ka", "lo", "mi", "ne", "ru", "ta", "si", "vo", "be", "da", "fe",
      "gu", "ho", "ji", "pa", "re", "so", "tu", "wa", "ze", "an", "el", "in", "or", "us")
    Iterator.continually((0 until 2 + r.nextInt(3)).map(_ => syl(r.nextInt(syl.size))).mkString)
      .distinct.take(VocabSize).toIndexedSeq
  }

  def pageCount(docs: Int): Int =
    docs + (0 until docs).count(k => k % 13 == 0) + (0 until docs).count(k => k % 17 == 0) +
      (0 until docs).count(k => k % 11 == 0)

  private def html(id: Long, body: String): String =
    s"<html><head><title>Doc $id</title><style>p { margin: 0 }</style>" +
      "<script>if (1 < 2) { nav(); }</script></head><body>" +
      "<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/about\">About</a></div>" +
      s"<h1>Doc $id</h1><p>$body</p>" +
      "<div class=\"footer\">&copy; 2026 <a href=\"/privacy\">Privacy</a></div></body></html>"

  private def url(id: Long): String =
    s"https://${if (id % 4 == 0) "www." else ""}site${id % 7}.example.com" +
      s"${if (id % 5 == 0) ":8080" else ""}/a/$id${if (id % 2 == 0) "/" else ""}" +
      s"?id=$id&utm_source=feed#s${id % 10}"

  private def recrawlUrl(id: Long): String =
    s"HTTPS://${if (id % 4 == 0) "WWW." else ""}SITE${id % 7}.EXAMPLE.COM:443/a/$id/" +
      s"?gclid=zz&id=$id&utm_medium=mail#top"

  /** Batch `i` of run `seed`: `docs` base documents and their plants. */
  def batch(seed: Int, i: Int, docs: Int): Batch = {
    val r = new scala.util.Random(seed * 1000033L + i)
    val base0 = (i + 2L) * 10000000L
    val bodies = (0 until docs).map { _ =>
      (0 until MinWords + r.nextInt(MaxWords - MinWords + 1))
        .map(_ => vocab(r.nextInt(vocab.size))).mkString(" ") + "."
    }
    val pages = Seq.newBuilder[Page]
    val bench = Seq.newBuilder[String]
    val kept = Set.newBuilder[Long]
    bodies.zipWithIndex.foreach { case (body, k) =>
      val id = base0 + k
      pages += Page(id, url(id), html(id, body))
      if (k % 13 == 0) pages += Page(id + 1000000L, url(id + 1000000L), html(id, body))
      if (k % 17 == 0)
        pages += Page(id + 2000000L, url(id + 2000000L), html(id, "zzz " + body.dropWhile(_ != ' ').drop(1)))
      if (k % 11 == 0) pages += Page(id + 3000000L, recrawlUrl(id), html(id, body))
      if (k % 97 == 0) bench += body else kept += id
    }
    Batch(pages.result(), bench.result(), kept.result())
  }

  def benchmarkDf(spark: SparkSession, b: Batch): DataFrame = {
    import spark.implicits._
    b.benchmark.toDF("text")
  }
}
