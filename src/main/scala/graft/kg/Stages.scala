package graft.kg

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** The KG pipeline bound to the driver-testdata-derived fixtures
  * (BASELINE.json north_star stages; generic engine in
  * [[graft.kg.Engine]]). All derivations are deterministic and
  * DuckDB-expressible so the driver's oracle can replicate them end to
  * end: the gazetteer is the top-K frequent long tokens of the corpus,
  * the anchor dictionary maps each surface to two candidate entities
  * with fixed priors, and the alias graph is per-surface chains
  * E2_s → E1_s (→ E0_s for even-length surfaces).
  */
object Stages {

  val GazetteerSize = 30

  /** Derived gazetteer: top-K tokens (len ≥ 4) of `documents.text` by
    * (count desc, token asc); coarse_type from surface length. The
    * groupBy is a map-side-combinable hash agg; top-K is a
    * TakeOrderedAndProject — no full sort. */
  def gazetteer(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(lower(col("text")), "[^a-z0-9]+")).as("surface"))
      .where(length(col("surface")) >= 4)
      .groupBy(col("surface")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("surface"))
      .limit(GazetteerSize)
      .select(col("surface"), col("freq"),
        element_at(
          array(lit("PER"), lit("LOC"), lit("ORG"), lit("MISC")),
          (length(col("surface")) % 4 + 1).cast("int")).as("coarse_type"))

  private def gazetteerSeq(spark: SparkSession, dir: String): Seq[(String, String)] =
    gazetteer(spark, dir)
      .select(col("surface"), col("coarse_type"))
      .collect()
      .toSeq
      .map(r => (r.getString(0), r.getString(1)))

  /** The collected gazetteer surfaces as a LOCAL relation (r6
    * optimization, guide §1.2 step 1 — remove unnecessary passes):
    * every dictionary-derived frame (anchor dict, alias edges) used to
    * embed the full corpus scan + hash agg + top-K subtree of
    * [[gazetteer]] in its OWN plan, so one `Stages.triples` call
    * re-derived the gazetteer from the corpus once per eager read (the
    * trie collect, the anchor broadcast build, and CC's local-graph
    * probe over the alias edges). The stages that
    * already hold the collected 30-row seq now rebuild the surface
    * frame locally — same 30 rows, bit-identical downstream results,
    * corpus scanned once per invocation for the gazetteer. The schema
    * pins surface as a nullable string, matching the corpus-derived
    * frame, so downstream nullability (and the dumped oracle schema)
    * is unchanged. */
  private def surfacesLocal(spark: SparkSession, surfaces: Seq[String]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      surfaces.map(s => org.apache.spark.sql.Row(s)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "surface", org.apache.spark.sql.types.StringType, nullable = true))))
  }

  /** Anchor-dictionary shape over any surface frame: every surface maps
    * to two candidate entities with commonness priors 0.7 / 0.3
    * (Milne & Witten-style P(entity|surface), SURVEY.md §1.3). */
  private def anchorDictFrom(spark: SparkSession, g: DataFrame): DataFrame = {
    val cands = spark.range(1).select(
      explode(array(
        struct(lit("E1_").as("pfx"), lit(0.7).as("prior")),
        struct(lit("E2_").as("pfx"), lit(0.3).as("prior")))).as("c"))
      .select(col("c.pfx").as("pfx"), col("c.prior").as("prior"))
    g.crossJoin(broadcast(cands))
      .select(col("surface").as("alias_norm"),
        concat(col("pfx"), col("surface")).as("entity_id"),
        col("prior"))
  }

  /** Anchor dictionary bound to the derived gazetteer. The gazetteer is
    * collected once (the same 30-row dictionary job the trie build
    * runs) and rebuilt as a local relation — the corpus-scan subtree no
    * longer rides inside the anchor plan (see [[surfacesLocal]]). */
  def anchorDict(spark: SparkSession, dir: String): DataFrame =
    anchorDictLocal(spark, gazetteerSeq(spark, dir).map(_._1))

  /** Anchor dictionary over an ALREADY-collected surface list — for
    * callers that hold the gazetteer seq (the trie build needs it
    * anyway) and must not pay a second gazetteer job
    * ([[Pipeline.run]]). */
  def anchorDictLocal(spark: SparkSession, surfaces: Seq[String]): DataFrame =
    anchorDictFrom(spark, surfacesLocal(spark, surfaces))

  /** Alias-edge shape over any surface frame: E2_s → E1_s for every
    * surface; E1_s → E0_s when length(s) is even (chains of depth 2
    * for CC to collapse). */
  private def aliasEdgesFrom(g: DataFrame): DataFrame = {
    val hop1 = g.select(
      concat(lit("E2_"), col("surface")).as("src"),
      concat(lit("E1_"), col("surface")).as("dst"),
      lit(1.0).as("weight"))
    val hop2 = g.where(length(col("surface")) % 2 === 0).select(
      concat(lit("E1_"), col("surface")).as("src"),
      concat(lit("E0_"), col("surface")).as("dst"),
      lit(1.0).as("weight"))
    hop1.unionByName(hop2)
  }

  /** Redirect/alias edges bound to the derived gazetteer — local
    * surface relation for the same reason as [[anchorDict]]: CC reads
    * this frame eagerly (the local-graph probe's collect, and on the
    * distributed path the edge count and rounds), and each read used to
    * re-run the corpus gazetteer derivation behind it. */
  def aliasEdges(spark: SparkSession, dir: String): DataFrame =
    aliasEdgesLocal(spark, gazetteerSeq(spark, dir).map(_._1))

  /** Alias edges over an ALREADY-collected surface list (see
    * [[anchorDictLocal]]). */
  def aliasEdgesLocal(spark: SparkSession, surfaces: Seq[String]): DataFrame =
    aliasEdgesFrom(surfacesLocal(spark, surfaces))

  /** Context boost used by the link-score stage on this fixture. */
  def scoreBoost: Column =
    when(col("entity_id").startsWith("E2_") &&
      col("doc_id").cast("long") % 7 === 0, lit(3.0)).otherwise(lit(1.0))

  def spans(spark: SparkSession, dir: String): DataFrame =
    Corpus.explodeSpans(Corpus.docs(spark, dir))

  def mentions(spark: SparkSession, dir: String): DataFrame =
    Engine.mentions(spans(spark, dir), gazetteerSeq(spark, dir))

  /** One gazetteer collect serves the trie AND the anchor dictionary
    * (r6: the anchor side used to re-derive the gazetteer from the
    * corpus inside its broadcast build — guide §1.2 step 1). One row per
    * mention carrying its candidate list ([[Engine.candidates]]). */
  private def groupedCandidates(spark: SparkSession, dir: String): DataFrame = {
    val g = gazetteerSeq(spark, dir)
    Engine.candidates(
      Engine.mentions(spans(spark, dir), g),
      anchorDictFrom(spark, surfacesLocal(spark, g.map(_._1))))
  }

  /** One row per (mention, candidate): the lists expanded with `inline`. */
  def candidates(spark: SparkSession, dir: String): DataFrame =
    groupedCandidates(spark, dir).select(col("doc_id"), col("span_idx"), col("surface"),
      col("coarse_type"), col("n_occ"), inline(col("cands")))

  def links(spark: SparkSession, dir: String): DataFrame =
    Engine.links(groupedCandidates(spark, dir), scoreBoost)

  def canonicalMap(spark: SparkSession, dir: String): DataFrame =
    Engine.canonical(aliasEdges(spark, dir))

  def triples(spark: SparkSession, dir: String): DataFrame = {
    // Single-scan declarative form: media adjacency rides the mention
    // rows (explodeSpansAdj + carry), so the corpus subtree appears
    // ONCE in this plan — no separate media branch, no media join.
    // ONE gazetteer job per invocation (r6): the collected seq feeds
    // the trie, the anchor dictionary, and the alias edges the CC
    // fixpoint probes — previously each re-ran the corpus scan + agg +
    // top-K behind its own frame (four corpus-scale gazetteer jobs per
    // triples call; guide §1.2 step 1 — remove unnecessary passes).
    val carry = Seq(Engine.AdjMedia)
    val g = gazetteerSeq(spark, dir)
    val surf = surfacesLocal(spark, g.map(_._1))
    val spansAdj = Corpus.explodeSpansAdj(Corpus.docs(spark, dir))
    val l = Engine.links(
      Engine.candidates(
        Engine.mentions(spansAdj, g, carry),
        anchorDictFrom(spark, surf), carry),
      scoreBoost, carry)
    // canon size is bounded by construction: ≤3 entity nodes (E0/E1/E2)
    // per gazetteer surface → broadcast-eligible without a count job
    Engine.triples(l, Engine.canonical(aliasEdgesFrom(surf)),
      canonRows = Some(3L * GazetteerSize))
  }
}
