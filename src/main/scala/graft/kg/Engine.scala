package graft.kg

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.{AcTrie, GazetteerMatchCountsExpr}

/** Fixture-agnostic KG-construction engine: the five-stage DAG over any
  * interleaved-span corpus + dictionaries (BASELINE.json north_star).
  * `Stages` binds it to the driver-testdata-derived fixtures; tests bind
  * it to seeded synthetic corpora and a naive single-threaded oracle.
  *
  * Contracts fixed here (SURVEY.md §0.4 determinism knobs, all in one
  * place so re-grounding against a real reference is a one-file change):
  *  - mention semantics: ASCII-folded token boundaries ([a-z0-9] word
  *    chars), longest-match-wins, non-overlapping, per-span counts;
  *  - mention key: one mention row per (doc_id, span_idx, surface,
  *    coarse_type) — occurrences are counted in-row — which is what
  *    lets the link argmax run in-row over the alias's candidate list;
  *  - link tie-break: lexicographic max of (score, entity_id);
  *  - canonical id: lexicographic min of the alias component;
  *  - triple vocabulary: mentionedIn / hasType / depictedIn (adjacent
  *    media span).
  */
object Engine {

  /** Name of the in-row media-adjacency column
    * ([[Corpus.explodeSpansAdj]]) that the `carry` parameter threads
    * from the scan to the triple emit. */
  val AdjMedia = "adj_media"

  /** Mention detection over text spans: match rows + per-span
    * occurrence counts. Returns
    * (doc_id, span_idx, surface, coarse_type, n_occ [, carry...]).
    *
    * ZERO shuffles (round 3): the per-span n_occ aggregate's groups
    * each live inside ONE exploded span row, so the Aho–Corasick
    * expression counts them in-register
    * ([[graft.functions.GazetteerMatchCountsExpr]], surfaces emitted
    * pre-normalized) and the former corpus-wide groupBy — the only
    * exchange between the parquet scan and the mention snapshot —
    * vanishes. Differentially guarded against the occurrence-stream
    * formulation in GoldenPipelineSpec.
    *
    * `carry`: span-level columns (functionally dependent on
    * (doc_id, span_idx)) threaded through the stage schema — the
    * single-scan triple path carries [[AdjMedia]] this way so the
    * depictedIn inputs ride the mention rows instead of a second
    * corpus-sized frame. */
  def mentions(spans: DataFrame, gazetteer: Seq[(String, String)],
               carry: Seq[String] = Nil): DataFrame = {
    val spark = spans.sparkSession
    val trie = spark.sparkContext.broadcast(AcTrie(gazetteer))
    spans
      .where(col("kind") === "text")
      .select(Seq(col("doc_id"), col("span_idx")) ++ carry.map(col) :+
        explode(GazetteerMatchCountsExpr(col("text"), trie)).as("m"): _*)
      .select(Seq(col("doc_id"), col("span_idx"),
        col("m.surface").as("surface"),
        col("m.coarse_type").as("coarse_type"),
        col("m.n_occ").as("n_occ")) ++ carry.map(col): _*)
  }

  /** The anchor dictionary (alias_norm, entity_id, prior) grouped once
    * into per-alias candidate lists — Milne & Witten's
    * surface → [(entity, commonness)] (SURVEY.md §1.3):
    * (alias_norm, cands: array<struct<entity_id, prior>>). Collected and
    * rebuilt as a local relation with the aggregate's schema, so each
    * use broadcasts it without re-running the dictionary's plan. The
    * dictionary is broadcast whole anyway, so the collect assumes no
    * more about its size than [[candidates]] always did. */
  def candidateLists(anchorDict: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    val grouped = anchorDict.groupBy(col("alias_norm"))
      .agg(collect_list(struct(col("entity_id"), col("prior"))).as("cands"))
    anchorDict.sparkSession.createDataFrame(grouped.collect().toSeq.asJava, grouped.schema)
  }

  /** Candidate generation: ONE broadcast lookup per mention in the
    * alias's candidate list ([[candidateLists]]). Returns one row per
    * matched mention:
    * (doc_id, span_idx, surface, coarse_type, n_occ, cands [, carry...]).
    * Mentions whose surface has no dictionary entry drop out. */
  def candidates(mentions: DataFrame, anchorDict: DataFrame,
                 carry: Seq[String] = Nil): DataFrame =
    candidatesFrom(mentions, candidateLists(anchorDict), carry)

  /** [[candidates]] over lists already built by [[candidateLists]] — a
    * streaming query groups the dictionary once, not once per batch. */
  private[graft] def candidatesFrom(mentions: DataFrame, lists: DataFrame,
                                    carry: Seq[String]): DataFrame =
    mentions
      .join(broadcast(lists), col("surface") === col("alias_norm"))
      .select(Seq(col("doc_id"), col("span_idx"), col("surface"),
        col("coarse_type"), col("n_occ"), col("cands")) ++ carry.map(col): _*)

  /** Link scoring + per-mention argmax, in-row: each candidate of the
    * row's `cands` list scores `prior * boost * (1.0 + n_occ)` and the
    * row keeps the lexicographic max of (score, entity_id) — total and
    * deterministic. `boost` is the context-score hook, a Column over the
    * candidate row: its `entity_id` and `prior` references are rebound
    * to the list element, every other reference (doc_id, n_occ, carried
    * columns) reads the mention row.
    *
    * ZERO shuffles: the argmax needs no regrouping because each mention
    * row is unique per (doc_id, span_idx, surface, coarse_type) — the
    * mention expression counts occurrences in-row — so one row in is
    * one link out, carried columns included. */
  def links(candidates: DataFrame, boost: Column,
            carry: Seq[String] = Nil): DataFrame = {
    val best = array_max(transform(col("cands"), c => {
      val b = Bridge.rebind(boost,
        Map("entity_id" -> c.getField("entity_id"), "prior" -> c.getField("prior")))
      struct((c.getField("prior") * b * (lit(1.0) + col("n_occ"))).as("score"),
        c.getField("entity_id").as("entity_id"))
    }))
    candidates
      .withColumn("best", best)
      .select(Seq(col("doc_id"), col("span_idx"), col("surface"), col("coarse_type"),
        col("best.entity_id").as("entity_id"),
        col("best.score").as("score")) ++ carry.map(col): _*)
  }

  /** Entity canonicalization: CC over the alias graph (src, dst). */
  def canonical(aliasEdges: DataFrame): DataFrame =
    ConnectedComponents.alternating(aliasEdges.select(col("src"), col("dst")))

  /** Broadcast ceiling for the canonical map: ~10M (id, id) string pairs
    * ≈ low hundreds of MB — safely collectable on a production driver.
    * Above it (real Wikipedia is 10^7–10^8 entities and the 10^12-doc
    * design point implies more) an unconditional broadcast would OOM
    * the driver, so the join falls back to a shuffle. */
  val BroadcastCanonMaxRows: Long = 10000000L

  /** Triple emit: mention + typing + media-adjacency triples,
    * canonicalized and deduplicated. `links` must carry [[AdjMedia]]
    * (thread it from [[Corpus.explodeSpansAdj]] with the stages'
    * `carry` parameter): the depictedIn inputs arrive ON the link rows,
    * so the emit is one dictionary join + one explode — no media join
    * at all. The old form left-joined corpus-sized media rows on
    * doc_id (a second corpus-scale shuffle AND, in the declarative
    * query form, a second corpus scan); in-row adjacency removes both
    * (VERDICT r3 #6).
    *
    * `canonRows` size-gates the canonical-map join: when the caller
    * knows the row count (snapshot manifests carry it; fixture
    * dictionaries are bounded by construction) and it is under
    * [[BroadcastCanonMaxRows]], the join is broadcast-hinted; when it
    * is known-large or unknown, no hint is applied and Catalyst/AQE
    * pick from actual stats — a corpus-scale canon map then shuffles
    * instead of OOMing the driver. */
  def triples(links: DataFrame, canon: DataFrame,
              canonRows: Option[Long] = None): DataFrame = {
    val canonSide = canon.withColumnRenamed("entity_id", "eid")
    val canonHinted =
      if (canonRows.exists(_ <= BroadcastCanonMaxRows)) broadcast(canonSide)
      else canonSide
    links
      .join(canonHinted, col("entity_id") === col("eid"), "left")
      .select(col("doc_id"), col("coarse_type"),
        coalesce(col("canonical_id"), col("entity_id")).as("entity"),
        // defensive: a null adjacency (e.g. a sink that wrote the
        // column as null instead of empty) must not null the whole
        // concat and silently drop the row's mention/type triples
        coalesce(col(AdjMedia), array().cast("array<string>")).as(AdjMedia))
      .select(explode(concat(
        array(
          struct(col("entity").as("subj"), lit("mentionedIn").as("pred"),
            concat(lit("doc:"), col("doc_id")).as("obj")),
          struct(col("entity").as("subj"), lit("hasType").as("pred"),
            col("coarse_type").as("obj"))),
        transform(col(AdjMedia), r =>
          struct(col("entity").as("subj"), lit("depictedIn").as("pred"),
            r.as("obj"))))).as("t"))
      .select(col("t.subj").as("subj"), col("t.pred").as("pred"), col("t.obj").as("obj"))
      .dropDuplicates("subj", "pred", "obj")
  }

  /** Full DAG: docs → triples, single corpus scan. */
  def run(docs: DataFrame, gazetteer: Seq[(String, String)],
          anchorDict: DataFrame, aliasEdges: DataFrame,
          boost: Column): DataFrame = {
    val carry = Seq(AdjMedia)
    val spans = Corpus.explodeSpansAdj(docs)
    val m = mentions(spans, gazetteer, carry)
    val c = candidates(m, anchorDict, carry)
    val l = links(c, boost, carry)
    triples(l, canonical(aliasEdges))
  }
}
