package graft.kg

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.model.{Doc, Span}

/** Golden end-to-end (SURVEY.md §5.3): seeded synthetic Wikipedia-like
  * interleaved corpus + dictionaries; the Spark engine's triples must
  * equal the single-threaded NaiveOracle's exactly (P/R = 1.0).
  */
object GoldenFixtures {
  // Overlapping, multi-word, case-noisy gazetteer — exercises
  // longest-match-wins and normalization.
  val gazetteer: Seq[(String, String)] = Seq(
    "york" -> "LOC", "new york" -> "LOC", "new york city" -> "LOC",
    "spark" -> "ORG", "apache spark" -> "ORG",
    "ada lovelace" -> "PER", "lovelace" -> "PER",
    "data" -> "MISC", "wiki" -> "MISC", "turing" -> "PER")

  val filler: Seq[String] = Seq(
    "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
    "page", "article", "section", "history", "notes")

  val phrases: Seq[String] = gazetteer.map(_._1) ++ filler

  val separators: Seq[String] = Seq(" ", ", ", ". ", " - ", "; ")

  def mangleCase(s: String, rnd: Random): String =
    rnd.nextInt(4) match {
      case 0 => s.toUpperCase
      case 1 => s.capitalize
      case _ => s
    }

  def corpus(nDocs: Int, seed: Long): Seq[Doc] = {
    val rnd = new Random(seed)
    (0 until nDocs).map { i =>
      val nSpans = 1 + rnd.nextInt(5)
      val spans = (0 until nSpans).map { j =>
        if (rnd.nextInt(5) == 0)
          Span("image", s"caption ${rnd.nextInt(100)}", s"media://img/$i/$j", j)
        else {
          val nPhrases = 3 + rnd.nextInt(10)
          val body = (0 until nPhrases).map(_ =>
            mangleCase(phrases(rnd.nextInt(phrases.length)), rnd))
            .mkString(separators(rnd.nextInt(separators.length)))
          Span("text", body, "", j)
        }
      }
      Doc(s"d$i", spans)
    }
  }

  /** surface → candidate entities with priors. */
  val anchorDict: Map[String, Seq[(String, Double)]] =
    gazetteer.map { case (s, _) =>
      val key = s.replace(' ', '_')
      NaiveOracle.normalize(s) -> Seq(s"E1_$key" -> 0.6, s"E2_$key" -> 0.4)
    }.toMap

  val aliasEdges: Seq[(String, String)] = {
    val keys = gazetteer.map(_._1.replace(' ', '_'))
    keys.map(k => s"E2_$k" -> s"E1_$k") ++
      keys.filter(_.length % 2 == 0).map(k => s"E1_$k" -> s"E0_$k")
  }

  def boost(entity: String, docId: String): Double =
    if (entity.startsWith("E2_") && docId.stripPrefix("d").toLong % 3 == 0) 2.0 else 1.0
}

class GoldenPipelineSpec extends SparkSuite {
  import GoldenFixtures._

  test("engine triples == naive oracle triples (P/R = 1.0) on seeded corpus") {
    import spark.implicits._
    val docs = corpus(nDocs = 80, seed = 42L)
    val docsDf = spark.createDataset(docs).toDF()

    val anchorDf = anchorDict.toSeq
      .flatMap { case (surf, cands) => cands.map { case (e, p) => (surf, e, p) } }
      .toDF("alias_norm", "entity_id", "prior")
    val edgesDf = aliasEdges.toDF("src", "dst")

    val boostCol =
      when(col("entity_id").startsWith("E2_") &&
        regexp_replace(col("doc_id"), "d", "").cast("long") % 3 === 0, lit(2.0))
        .otherwise(lit(1.0))

    val got = Engine.run(docsDf, gazetteer, anchorDf, edgesDf, boostCol)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val want = NaiveOracle.triples(docs, gazetteer, anchorDict, aliasEdges, boost)

    val missing = want -- got
    val extra = got -- want
    assert(missing.isEmpty && extra.isEmpty,
      s"missing=${missing.take(5)} extra=${extra.take(5)} " +
        s"(got ${got.size}, want ${want.size})")
    assert(got.nonEmpty)
  }

  test("mention stage alone matches naive oracle") {
    import spark.implicits._
    val docs = corpus(nDocs = 40, seed = 7L)
    val docsDf = spark.createDataset(docs).toDF()
    val got = Engine.mentions(Corpus.explodeSpans(docsDf), gazetteer)
      .collect()
      .map(r => NaiveOracle.Mention(r.getString(0), r.getInt(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSet
    val want = NaiveOracle.mentions(docs, gazetteer).toSet
    assert(got == want, s"diff: ${(got -- want).take(3)} / ${(want -- got).take(3)}")
  }

  test("in-expression mention counts ≡ occurrence-stream groupBy (r3 zero-shuffle path)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count => fcount, lit => flit}
    val docs = corpus(nDocs = 40, seed = 13L)
    val spans = Corpus.explodeSpans(spark.createDataset(docs).toDF())
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSet
    val counted = m(Engine.mentions(spans, gazetteer))
    // the occurrence stream: one row per AcTrie match, surface normalized
    val trie = graft.functions.AcTrie(gazetteer)
    val occurrences = spans.where($"kind" === "text").select("doc_id", "span_idx", "text")
      .collect().toSeq.flatMap { r =>
        val text = r.getString(2)
        trie.matches(text).map { case (b, e, p) =>
          (r.getString(0), r.getInt(1), text.substring(b, e), trie.typeAt(p)) }
      }.toDF("doc_id", "span_idx", "raw", "coarse_type")
      .select($"doc_id", $"span_idx",
        graft.functions.NormalizeSurface($"raw").as("surface"), $"coarse_type")
    val grouped = m(occurrences
      .groupBy("doc_id", "span_idx", "surface", "coarse_type")
      .agg(fcount(flit(1)).as("n_occ")))
    assert(counted == grouped && counted.nonEmpty)
    // and the counted plan is shuffle-free: scan → project/generate only
    val plan = Engine.mentions(spans, gazetteer).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1200))
  }

  /** The fan-out formulation in-row linking replaced: one row per
    * (mention, candidate) from a plain dictionary join, scored, then
    * regrouped on the mention key with a max_by argmax. */
  private def fanOutLinks(mentions: DataFrame, dict: DataFrame, boost: Column,
                          carry: Seq[String]): DataFrame =
    mentions
      .join(broadcast(dict), col("surface") === col("alias_norm"))
      .select(Seq(col("doc_id"), col("span_idx"), col("surface"), col("coarse_type"),
        col("n_occ"), col("entity_id"), col("prior")) ++ carry.map(col): _*)
      .withColumn("score", col("prior") * boost * (lit(1.0) + col("n_occ")))
      .groupBy((Seq("doc_id", "span_idx", "surface", "coarse_type") ++ carry).map(col): _*)
      .agg(max_by(
        struct(col("entity_id"), col("score")),
        struct(col("score"), col("entity_id"))).as("best"))
      .select(Seq(col("doc_id"), col("span_idx"), col("surface"), col("coarse_type"),
        col("best.entity_id").as("entity_id"),
        col("best.score").as("score")) ++ carry.map(col): _*)

  test("in-row link argmax ≡ fan-out + groupBy max_by (rows, schema, score bits)") {
    import spark.implicits._
    val carry = Seq(Engine.AdjMedia)
    val aliases = (0 until 8).map(i => s"alias$i")
    val boosts = Seq(
      "entity_id+doc_id" -> when(col("entity_id").endsWith("1") &&
        col("doc_id").cast("long") % 3 === 0, lit(2.5))
        .otherwise(lit(1.0)),
      "prior" -> (lit(1.0) - col("prior") * lit(0.37) + length(col("entity_id")) / lit(7.0)),
      "n_occ+carry" -> (lit(1.0) / (col("n_occ") + lit(1)) + size(col(Engine.AdjMedia))),
      "stage" -> Stages.scoreBoost,
      "none" -> lit(1.0))
    def key(df: DataFrame) = df.collect().map { r =>
      (r.getString(0), r.getInt(1), r.getString(2), r.getString(3), r.getString(4),
        java.lang.Double.doubleToRawLongBits(r.getDouble(5)), r.getSeq[String](6))
    }.sortBy(_.toString).toSeq

    for (seed <- 1L to 4L) {
      val rnd = new Random(seed)
      // the mention key is unique, as the in-row mention counts make it;
      // surfaces outside the dictionary must drop out of both forms
      val mentions = (0 until 300).map { _ =>
        val d = rnd.nextInt(60)
        val media = (0 until rnd.nextInt(3)).map(k => s"media://$d/$k")
        (d.toString, rnd.nextInt(4), if (rnd.nextInt(10) == 0) "unknown" else aliases(rnd.nextInt(8)),
          Seq("PER", "LOC")(rnd.nextInt(2)), 1L + rnd.nextInt(5), media)
      }.distinctBy(m => (m._1, m._2, m._3, m._4))
        .toDF("doc_id", "span_idx", "surface", "coarse_type", "n_occ", Engine.AdjMedia)
      // equal priors (score ties → entity_id tie-break), zero and
      // negative priors, arbitrary doubles, and duplicate rows
      val priors = Seq(0.5, 0.5, 0.0, -0.25, rnd.nextDouble(), rnd.nextDouble() * 3)
      val rows = aliases.flatMap { a =>
        (0 until 1 + rnd.nextInt(4)).map(e =>
          (a, s"E${e}_$a", priors(rnd.nextInt(priors.length))))
      }
      val dupes = (0 until 4).map(_ => rows(rnd.nextInt(rows.length)))
      val dict = rnd.shuffle(rows ++ dupes).toDF("alias_norm", "entity_id", "prior")

      for ((name, boost) <- boosts) {
        val got = Engine.links(Engine.candidates(mentions, dict, carry), boost, carry)
        val want = fanOutLinks(mentions, dict, boost, carry)
        assert(got.schema == want.schema, s"seed $seed, boost $name")
        val (g, w) = (key(got), key(want))
        assert(g.nonEmpty && g == w,
          s"seed $seed, boost $name: ${g.diff(w).take(3)} / ${w.diff(g).take(3)}")
      }
    }
  }
}
