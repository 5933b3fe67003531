package perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Bpe, Curation, Dedup, TextStats}
import graft.sources.JsonlOps

/** corpus_curation: LLM-data curation over a seeded web-like corpus.
  *
  * Setup writes `docs` documents as parquet: Zipf-distributed words
  * over a seeded vocabulary, 30% near-duplicates (copies of an earlier
  * document with a few words changed) so dedup has clusters to find,
  * and repeated lines so the repetition filters fire. Each pass runs the curation and dedup stack and a JSONL
  * export round trip. Time goes to construction: eager checkpoint
  * rounds, shuffles and joins.
  */
final class Corpus(spark: SparkSession, docs: Int, seed: Long) extends Workload {

  private var docsPath: String = _
  private var dir: String = _

  def recordsPerPass: Long = docs.toLong * 8 // docs x ops

  private def generate(): Seq[(Long, String, String, String, Long)] = {
    val rng = new SplittableRandom(seed)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val vocab = Array.fill(3000) {
      val len = 2 + rng.nextInt(8)
      (0 until len).map(_ => letters.charAt(rng.nextInt(26))).mkString
    }.distinct
    // Zipf(1.1) over the vocabulary by inverse CDF
    val cdf = {
      val w = vocab.indices.map(r => 1.0 / math.pow(r + 1, 1.1))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      vocab(math.min(vocab.length - 1, if (i >= 0) i else -i - 1))
    }
    val langs = Array("en", "en", "en", "de", "fr", "es", "zh")
    val texts = new Array[String](docs)
    (0 until docs).map { id =>
      val text =
        if (id > 10 && id % 10 < 3) {
          // near-duplicate of doc id/2 (itself one for some ids, so
          // clusters chain): the same cluster shapes for every seed
          val ws = texts(id / 2).split(" ")
          (0 until 1 + rng.nextInt(3)).foreach(_ => ws(rng.nextInt(ws.length)) = word())
          ws.mkString(" ")
        } else {
          val nLines = 1 + rng.nextInt(6)
          val lines = (0 until nLines).map(_ => (0 until 4 + rng.nextInt(30)).map(_ => word()).mkString(" "))
          // boilerplate: a repeated line in one doc of eight
          val all = if (rng.nextInt(8) == 0) lines :+ lines.head :+ lines.head else lines
          all.mkString(" ")
        }
      texts(id) = text
      (id.toLong, text, langs(rng.nextInt(langs.length)), s"src${rng.nextInt(10)}", text.length.toLong)
    }
  }

  def setup(workDir: String): Unit = {
    dir = workDir
    new File(dir).mkdirs()
    docsPath = s"$dir/documents.parquet"
    import spark.implicits._
    generate().toDF("doc_id", "text", "lang", "source", "n_chars").repartition(4).write
      .mode("overwrite").parquet(docsPath)
  }

  private def input(): DataFrame = spark.read.parquet(docsPath)

  private def nonEmpty(d: Digest): Option[String] = if (d.rows > 0) None else Some("empty output")
  private def everyDoc(d: Digest): Option[String] =
    if (d.rows == docs) None else Some(s"expected one row per doc ($docs), got ${d.rows}")

  def pass(i: Int): Seq[Op] = {
    val reads = Seq(
      Op("curate", "llm", write = false, () => Curation.curate(input()), nonEmpty),
      Op("minhash_candidates", "llm", write = false, () => Dedup.minhashCandidates(input()), nonEmpty),
      Op("components", "llm", write = false, () => {
        val d = input()
        Dedup.components(d.select(col("doc_id")), Dedup.simhashPairs(d).select(col("doc_a"), col("doc_b")))
      }, everyDoc),
      Op("gopher", "llm", write = false, () => TextStats.gopher(input()), nonEmpty),
      Op("winnow_topk", "llm", write = false, () => TextStats.winnowTopk(input()), nonEmpty),
      Op("retrieve_chunks", "llm", write = false,
        () => Dedup.retrieveChunks(input(), nPlanes = 16, nBands = 2), nonEmpty, scores = true),
      Op("tokens_bpe", "llm", write = false, () => Bpe.tokensBpe(input()), nonEmpty)
    )
    Workload.interleave(reads, (0 until 4).map(exportOp)) // the export in four shards by doc_id
  }

  /** Gzip-JSONL round trip of shard k; the read-back must equal the
    * shard, every column.
    */
  private def exportOp(k: Int): Op = {
    def shard(): DataFrame = input().filter(col("doc_id") % 4 === k)
    Op("jsonl_export", "sources", write = true, () => JsonlOps.roundtrip(shard(), s"$dir/export$k.jsonl"), d => {
      val want = Digest.of(shard())
      if (d.key == want.key) None else Some(s"JSONL round trip changed shard $k: ${d.key} vs ${want.key}")
    }, stable = false)
  }
}
