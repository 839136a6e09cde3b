package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.model.Model

/** Seeded input generator. One profile describes a corpus shape; the
  * same (profile, seed) always yields byte-identical parquet files.
  *
  * Every corpus shares one fixed set of [[Gen.Surfaces]]: 30 tokens
  * that never occur in the filler vocabulary and are drawn often
  * enough that `Stages.gazetteer` (top 30 tokens of length >= 4 in
  * `documents.parquet`) selects exactly them. Their Zipf rank is fixed
  * too, so the seed changes which documents mention what, never which
  * entities exist or how skewed they are.
  */
object Gen {

  /** Corpus shape. `surfaceShare` is the fraction of text tokens that
    * are gazetteer surfaces; the rest are drawn from [[StopWords]] (short
    * tokens the gazetteer ignores) with probability `stopShare` and
    * uniformly from a `vocab`-word filler vocabulary otherwise. */
  final case class Profile(name: String, docs: Int, minSpans: Int, maxSpans: Int,
                           minTokens: Int, maxTokens: Int, mediaShare: Double,
                           surfaceShare: Double, stopShare: Double, vocab: Int,
                           zipfS: Double)

  val Dense = Profile("dense", docs = 2500, minSpans = 1, maxSpans = 4,
    minTokens = 12, maxTokens = 36, mediaShare = 0.3,
    surfaceShare = 0.5, stopShare = 1.0, vocab = 10000, zipfS = 1.1)

  val Sparse = Profile("sparse", docs = 100, minSpans = 3, maxSpans = 9,
    minTokens = 250, maxTokens = 650, mediaShare = 0.35,
    surfaceShare = 0.015, stopShare = 0.4, vocab = 12000, zipfS = 0.6)

  /** Gazetteer size the program derives ([[graft.kg.Stages.GazetteerSize]]). */
  val NumSurfaces = 30

  private val StopWords = Array("the", "of", "and", "in", "a", "to", "is", "on",
    "for", "by", "was", "at", "an", "as", "its", "had", "but", "via", "per", "new")

  private val Onsets = Array("b", "c", "d", "f", "g", "h", "l", "m", "n", "p",
    "r", "s", "t", "v", "w", "br", "cl", "dr", "st", "tr", "pl", "gr", "sh", "ch")
  private val Vowels = Array("a", "e", "i", "o", "u", "ai", "ea", "ou")

  /** Pseudo-words of 2-4 syllables; never contain 'k', 'x', 'y', 'z' or
    * 'q', which only the surfaces use. */
  private def word(r: SplittableRandom, syllables: Int): String = {
    val sb = new StringBuilder
    (0 until syllables).foreach { _ =>
      sb.append(Onsets(r.nextInt(Onsets.length))).append(Vowels(r.nextInt(Vowels.length)))
    }
    if (r.nextInt(3) == 0) sb.append(Onsets(r.nextInt(10)))
    sb.toString
  }

  /** The fixed filler vocabulary (distinct, length >= 4). */
  def vocabulary(n: Int): Array[String] = {
    val r = new SplittableRandom(0x5eed0001L)
    val seen = new java.util.LinkedHashSet[String]()
    while (seen.size < n) {
      val w = word(r, 2 + r.nextInt(3))
      if (w.length >= 4) seen.add(w)
    }
    seen.asScala.toArray
  }

  /** The 30 gazetteer surfaces in Zipf rank order; lengths 4..13 so
    * every coarse type and both alias-chain depths occur. */
  val Surfaces: IndexedSeq[String] = {
    val r = new SplittableRandom(0x5eed0002L)
    val marks = Array("k", "x", "y", "z", "q")
    val out = scala.collection.mutable.LinkedHashSet[String]()
    var i = 0
    while (out.size < NumSurfaces) {
      val len = 4 + (i % 10)
      val sb = new StringBuilder(marks(i % marks.length))
      while (sb.length < len) sb.append(if (sb.length % 2 == 1) Vowels(r.nextInt(5)) else Onsets(r.nextInt(14)))
      out += sb.toString.take(len)
      i += 1
    }
    out.toIndexedSeq
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }

  private def draw(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  /** One generated corpus, held in memory until written. */
  final case class Corpus(docs: IndexedSeq[Row], flat: IndexedSeq[Row], stats: Stats)

  final case class Stats(docs: Long, spans: Long, textSpans: Long, mediaSpans: Long,
                         textBytes: Long, surfaceTokens: Long) {
    def mediaShare: Double = mediaSpans.toDouble / math.max(1L, spans)
    def surfacesPerKb: Double = surfaceTokens * 1024.0 / math.max(1L, textBytes)
  }

  /** Documents `firstDoc until firstDoc + n` of `p` under `seed`. Each
    * document draws from its own generator (seed, doc id), so a batch
    * of documents does not depend on which batches preceded it. */
  def corpus(p: Profile, seed: Long, firstDoc: Long = 0L, n: Int = -1): Corpus = {
    val count = if (n < 0) p.docs else n
    val vocab = vocabulary(p.vocab)
    val cdf = zipfCdf(NumSurfaces, p.zipfS)
    val docs = new Array[Row](count)
    val flat = new Array[Row](count)
    var spans, textSpans, mediaSpans, textBytes, surfaceTokens = 0L
    (0 until count).foreach { k =>
      val id = firstDoc + k
      val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + id)
      val nSpans = p.minSpans + r.nextInt(p.maxSpans - p.minSpans + 1)
      val texts = new StringBuilder
      val ss = (0 until nSpans).map { i =>
        if (i > 0 && r.nextDouble() < p.mediaShare) {
          mediaSpans += 1
          val kind = if (r.nextInt(4) == 0) "audio" else "image"
          Row(kind, s"figure $i of document $id", s"media://$kind/$id/$i", i)
        } else {
          textSpans += 1
          val nTok = p.minTokens + r.nextInt(p.maxTokens - p.minTokens + 1)
          val sb = new StringBuilder
          (0 until nTok).foreach { t =>
            if (t > 0) sb.append(if (r.nextInt(12) == 0) ", " else " ")
            val u = r.nextDouble()
            val tok =
              if (u < p.surfaceShare) {
                surfaceTokens += 1
                val s = Surfaces(draw(cdf, r.nextDouble()))
                if (r.nextInt(8) == 0) s.capitalize else s
              } else if (r.nextDouble() < p.stopShare) StopWords(r.nextInt(StopWords.length))
              else vocab(r.nextInt(vocab.length))
            sb.append(tok)
          }
          sb.append('.')
          val s = sb.toString
          textBytes += s.length
          if (texts.nonEmpty) texts.append(' ')
          texts.append(s)
          Row("text", s, "", i)
        }
      }
      spans += nSpans
      docs(k) = Row(id.toString, ss)
      val t = texts.toString
      flat(k) = Row(id, t, Langs((id % Langs.length).toInt), s"src${id % 20}", t.length.toLong)
    }
    Corpus(docs.toIndexedSeq, flat.toIndexedSeq,
      Stats(count.toLong, spans, textSpans, mediaSpans, textBytes, surfaceTokens))
  }

  private val Langs = Array("en", "es", "fr", "de", "zh")

  /** Writes `rows` as parquet into `dir` with stable file names
    * (`part-00000.parquet`, ...) and no checksum or marker files, so
    * two writes of the same rows give byte-identical directories. */
  def writeParquet(spark: SparkSession, rows: IndexedSeq[Row], schema: StructType,
                   dir: Path): Unit = {
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
    Io.rmTree(tmp); Io.rmTree(dir)
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.option("compression", "snappy").parquet(tmp.toString)
    Files.createDirectories(dir)
    val parts = Io.list(tmp).filter(p => p.getFileName.toString.startsWith("part-") &&
      p.getFileName.toString.endsWith(".parquet")).sortBy(_.getFileName.toString)
    parts.zipWithIndex.foreach { case (p, i) =>
      Files.move(p, dir.resolve(f"part-$i%05d.parquet"))
    }
    Io.rmTree(tmp)
  }

  /** Writes the corpus (`corpus/`, nested [[Model.docSchema]]) and its
    * flat text (`documents.parquet/`, the table `Stages.gazetteer`
    * reads) under `dir`. */
  def write(spark: SparkSession, c: Corpus, dir: Path): Unit = {
    writeParquet(spark, c.docs, Model.docSchema, dir.resolve("corpus"))
    writeParquet(spark, c.flat, graft.core.Tables.documentsSchema,
      dir.resolve("documents.parquet"))
  }
}
