package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.core.Tables
import graft.sources.SnapshotStore

/** Structured Streaming surface (SURVEY.md §2.9): the same schema and
  * transforms as batch, driven incrementally. Stateless transforms are
  * literally the batch Columns; the rest of the KG DAG runs batch-side
  * inside foreachBatch. The snapshot sink (ST6) rides foreachBatch
  * with batchId as the idempotence marker, so replays after failure
  * commit exactly once — aligning stream output with the pipeline's
  * resume semantics.
  */
object StreamOps {

  /** Event-stream source over a parquet directory (one file = one
    * micro-batch when written incrementally). */
  def source(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(Tables.eventsSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)

  /** Streaming mention detection — the KG pipeline's scan stage driven
    * incrementally (SURVEY §2.9 "incremental linking"; "same code path
    * as batch"): a readStream over interleaved-corpus documents goes
    * through the IDENTICAL batch operators — Corpus.explodeSpans and
    * Engine.mentions (broadcast Aho–Corasick, codegen'd) — because
    * both are stateless Column transforms. Stateless ⇒ append mode,
    * no watermark needed. The per-span n_occ counts are taken in-row,
    * and each document row is whole inside one micro-batch, so they
    * equal the batch counts; compose with `snapshotSink` to feed a
    * snapshot store. */
  def streamingMentions(docs: DataFrame, gazetteer: Seq[(String, String)]): DataFrame =
    graft.kg.Engine.mentions(graft.kg.Corpus.explodeSpans(docs), gazetteer)

  /** Incremental linking end-to-end: the FULL KG DAG driven by a
    * document stream. The corpus-scan stage — mention rows carrying
    * their in-row media adjacency (graft.kg.Corpus.explodeSpansAdj +
    * Engine.mentions with carry) — is stateless and runs on the
    * stream itself; the per-mention-bounded rest (candidate join,
    * link argmax, canonical join, triple emit) runs batch-side inside
    * foreachBatch. Because adjacency is computed from each document
    * ROW's own spans array at scan time, depictedIn triples no longer
    * depend on any cross-row or cross-batch co-location — the old
    * form's "a doc's spans never split across micro-batches"
    * assumption (ADVICE r3) is gone by construction, there being no
    * media join left to miss. Each batch commits its triples under a
    * batchId marker, so replays are exactly-once at the snapshot level
    * and the result is resumable like the batch pipeline. Triples are
    * set-semantic: an entity mentioned in docs of different batches
    * legitimately re-emits e.g. its hasType triple, so consumers (and
    * the equivalence test) read the accumulated store DISTINCT —
    * exactly the dedup the batch DAG's final stage performs globally.
    * `canon` and `anchorDict` are the dictionary-sized static inputs
    * (alias graphs evolve slower than corpora; re-deriving canon per
    * batch would be wasted work, re-running the pipeline re-binds it):
    * the anchor dictionary is grouped into candidate lists ONCE per
    * query, when this writer is built, and every batch broadcasts those
    * lists — one row per mention carrying its `cands`, scored in-row,
    * so the only shuffle left in a batch is the triple dedup. */
  def incrementalTriples(docsStream: DataFrame, gazetteer: Seq[(String, String)],
                         anchorDict: DataFrame,
                         boost: org.apache.spark.sql.Column,
                         canon: DataFrame, store: SnapshotStore,
                         canonRows: Option[Long] = None): DataStreamWriter[Row] = {
    import graft.kg.{Corpus, Engine}
    val carry = Seq(Engine.AdjMedia)
    // mention occurrences are counted inside the matcher expression
    // (r3), so the stream stage carries finished per-span counts —
    // nothing to aggregate batch-side.
    val records = Engine.mentions(
      Corpus.explodeSpansAdj(docsStream), gazetteer, carry)
    val lists = Engine.candidateLists(anchorDict)
    records.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val links = Engine.links(
          Engine.candidatesFrom(batch, lists, carry), boost, carry)
        val triples = Engine.triples(links, canon, canonRows)
        store.commit(triples, stage = "triples",
          marker = s"triples-batch-$batchId"): Unit
      }
  }

  /** ST6: exactly-once-per-batch snapshot sink; replays of a batchId
    * are no-ops thanks to the store's marker idempotence. */
  def snapshotSink(df: DataFrame, store: SnapshotStore, stage: String): DataStreamWriter[Row] =
    df.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        store.commit(batch, stage, marker = s"$stage-batch-$batchId"): Unit
      }
}
