package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.SnapshotStore

/** Structured Streaming semantics (SURVEY.md §5.6): replay out-of-order
  * parquet micro-batches with processAllAvailable; memory sink for
  * windowed aggregations; late-data drop asserted explicitly (ST5).
  */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")

  private def eventRows(rows: Seq[(Long, Timestamp, Long, String, Double)]): DataFrame =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), lit("{}").as("props"))

  /** FileStreamSource lists files at the glob level, not recursively —
    * land each micro-batch as a single flat .parquet FILE in `dir`. */
  private def writeBatch(dir: String, df: DataFrame, name: String): Unit = {
    val tmp = Files.createTempDirectory("mb").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, java.nio.file.Paths.get(dir, s"$name.parquet"))
  }

  test("ST1+ST5: tumbling window counts emit on watermark; late rows dropped") {
    val in = Files.createTempDirectory("st1-in").toString
    val sinkName = "st1_out"

    // batch 1: three events in window [10:00,10:05), one in [10:05,10:10)
    writeBatch(in, eventRows(Seq(
      (1L, ts(1), 1L, "a", 1.0), (2L, ts(2), 1L, "a", 1.0),
      (3L, ts(3), 2L, "b", 1.0), (4L, ts(6), 1L, "a", 1.0))), "1")

    val q = StreamOps.tumblingCounts(StreamOps.source(spark, in))
      .writeStream.outputMode("append")
      .format("memory").queryName(sinkName).start()
    try {
      q.processAllAvailable()
      // batch 2: flush event far in the future — advances the watermark
      // past both open windows, so they are finalized and emitted.
      writeBatch(in, eventRows(Seq((5L, ts(59), 3L, "flush", 1.0))), "2")
      q.processAllAvailable()
      // batch 3: a LATE event for the already-closed first window — now
      // strictly below the watermark (10:49) → must be dropped (ST5).
      writeBatch(in, eventRows(Seq(
        (6L, ts(1, 30), 1L, "a", 1.0),
        (7L, ts(59, 30), 3L, "flush2", 1.0))), "3")
      q.processAllAvailable()

      val rows = spark.table(sinkName).collect()
        .map(r => ((r.getTimestamp(0), r.getString(1)), r.getLong(2))).toSeq
      val firstWin = rows.filter(_._1 == ((ts(0), "a")))
      assert(firstWin == Seq(((ts(0), "a"), 2L)),
        s"late row must not count, once-only emission: $rows")
      assert(rows.contains(((ts(0), "b"), 1L)))
      assert(rows.contains(((ts(5), "a"), 1L)))
    } finally q.stop()
  }

  test("ST2: sliding windows overlap correctly") {
    val in = Files.createTempDirectory("st2-in").toString
    writeBatch(in, eventRows(Seq(
      (1L, ts(1), 1L, "a", 2.0), (2L, ts(7), 1L, "a", 3.0))), "1")
    val q = StreamOps.slidingSums(StreamOps.source(spark, in))
      .writeStream.outputMode("append").format("memory").queryName("st2_out").start()
    try {
      q.processAllAvailable()
      writeBatch(in, eventRows(Seq((3L, ts(58), 2L, "f", 0.0))), "2")
      q.processAllAvailable()
      val out = spark.table("st2_out").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // width 10m, slide 2m: event @10:01 lands in starts 9:52..10:00,
      // event @10:07 in starts 9:58..10:06; they overlap in [9:58,10:08)
      // and [10:00,10:10).
      assert(out((Timestamp.valueOf("2024-01-01 09:54:00"), 1L)) == 2.0)
      assert(out((Timestamp.valueOf("2024-01-01 09:58:00"), 1L)) == 5.0)
      assert(out((ts(0), 1L)) == 5.0)
      assert(out((ts(6), 1L)) == 3.0)
    } finally q.stop()
  }

  test("ST3: session windows split on the gap") {
    val in = Files.createTempDirectory("st3-in").toString
    // two bursts for user 1 separated by > 5 minutes → two sessions
    writeBatch(in, eventRows(Seq(
      (1L, ts(1), 1L, "a", 1.0), (2L, ts(2), 1L, "a", 1.0),
      (3L, ts(20), 1L, "a", 1.0))), "1")
    val q = StreamOps.sessionCounts(StreamOps.source(spark, in))
      .writeStream.outputMode("append").format("memory").queryName("st3_out").start()
    try {
      q.processAllAvailable()
      writeBatch(in, eventRows(Seq((4L, ts(59), 2L, "f", 0.0))), "2")
      q.processAllAvailable()
      val out = spark.table("st3_out").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(out((ts(1), 1L)) == 2L)
      assert(out((ts(20), 1L)) == 1L)
    } finally q.stop()
  }

  test("ST4: stateful per-user running aggregates across micro-batches") {
    val in = Files.createTempDirectory("st4-in").toString
    writeBatch(in, eventRows(Seq(
      (1L, ts(1), 1L, "a", 10.0), (2L, ts(2), 2L, "a", 5.0))), "1")
    val q = StreamOps.statefulUserCounts(spark, StreamOps.source(spark, in))
      .writeStream.outputMode("update").format("memory").queryName("st4_out").start()
    try {
      q.processAllAvailable()
      writeBatch(in, eventRows(Seq((3L, ts(3), 1L, "a", 7.0))), "2")
      q.processAllAvailable()
      val rows = spark.table("st4_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // last update for user 1 must show the accumulated state
      assert(rows.contains((1L, 2L, 17.0)), rows.mkString(","))
      assert(rows.contains((2L, 1L, 5.0)))
    } finally q.stop()
  }

  test("ST4b: idle user state expires on timeout (remove + no emission)") {
    import org.apache.spark.sql.streaming.GroupState
    final class FakeState(var value: Option[(Long, Double)], timedOut: Boolean)
        extends GroupState[(Long, Double)] {
      var removed = false
      var timeoutSet: Option[Long] = None
      override def exists: Boolean = value.isDefined
      override def get: (Long, Double) = value.get
      override def getOption: Option[(Long, Double)] = value
      override def update(s: (Long, Double)): Unit = value = Some(s)
      override def remove(): Unit = { removed = true; value = None }
      override def hasTimedOut: Boolean = timedOut
      override def setTimeoutDuration(ms: Long): Unit = ()
      override def setTimeoutDuration(d: String): Unit = ()
      override def setTimeoutTimestamp(ms: Long): Unit = timeoutSet = Some(ms)
      override def setTimeoutTimestamp(ms: Long, add: String): Unit = ()
      override def setTimeoutTimestamp(t: java.sql.Date): Unit = ()
      override def setTimeoutTimestamp(t: java.sql.Date, add: String): Unit = ()
      override def getCurrentWatermarkMs(): Long = 1000L
      override def getCurrentProcessingTimeMs(): Long = 0L
    }

    // live path: accumulates, re-arms the TTL at watermark + TTL
    val live = new FakeState(Some((2L, 5.0)), timedOut = false)
    val out = StreamOps.userAggUpdate(7L,
      Iterator((ts(1), 7L, 1.0), (ts(2), 7L, 2.0)), live).toSeq
    assert(out == Seq(StreamOps.UserAgg(7L, 4L, 8.0)))
    assert(live.value.contains((4L, 8.0)))
    assert(live.timeoutSet.contains(ts(2).getTime + StreamOps.UserStateTimeoutMs))

    // expiry path: state removed, nothing emitted, TTL not re-armed
    val idle = new FakeState(Some((9L, 1.0)), timedOut = true)
    val out2 = StreamOps.userAggUpdate(8L, Iterator.empty, idle).toSeq
    assert(out2.isEmpty && idle.removed && idle.timeoutSet.isEmpty)
  }

  test("ST4a: dropDuplicatesWithinWatermark removes replayed event_ids") {
    val in = Files.createTempDirectory("st4a-in").toString
    writeBatch(in, eventRows(Seq(
      (1L, ts(1), 1L, "a", 1.0), (1L, ts(1), 1L, "a", 1.0), // dup in batch
      (2L, ts(2), 1L, "a", 1.0))), "1")
    val q = StreamOps.dedupWithinWatermark(StreamOps.source(spark, in))
      .writeStream.outputMode("append").format("memory").queryName("st4a_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("st4a_out").count() == 2)
    } finally q.stop()
  }

  test("ST-KG: streaming mention detection ≡ batch operators, across micro-batches") {
    import graft.kg.{Corpus, Engine, Stages}
    val sf = "/root/testdata/sf0.001"
    val docs = Corpus.docs(spark, sf).localCheckpoint(true)
    val gazSeq = Stages.gazetteer(spark, sf)
      .select(col("surface"), col("coarse_type"))
      .collect().toSeq.map(r => (r.getString(0), r.getString(1)))
    val in = Files.createTempDirectory("stkg-in").toString
    writeBatch(in, docs.where(col("doc_id").cast("long") % 2 === 0), "1")
    writeBatch(in, docs.where(col("doc_id").cast("long") % 2 === 1), "2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = StreamOps.streamingMentions(stream, gazSeq)
      .writeStream.outputMode("append").format("memory").queryName("stkg_out").start()
    try q.processAllAvailable() finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq.sorted
    val got = rows(spark.table("stkg_out"))
    val want = rows(Engine.mentions(Corpus.explodeSpans(docs), gazSeq))
    assert(got.nonEmpty && got == want)
  }

  test("ST-KG2: incremental linking end-to-end ≡ batch triples (accumulated, distinct)") {
    import graft.kg.{Corpus, Stages}
    val sf = "/root/testdata/sf0.001"
    val docs = Corpus.docs(spark, sf).localCheckpoint(true)
    val gazSeq = Stages.gazetteer(spark, sf)
      .select(col("surface"), col("coarse_type"))
      .collect().toSeq.map(r => (r.getString(0), r.getString(1)))
    val plain = Stages.anchorDict(spark, sf).localCheckpoint(true)
    // every evaluation of the dictionary frame passes each of its rows
    // through this UDF once
    val evals = spark.sparkContext.longAccumulator("anchor-evals")
    val tick = udf { (s: String) => evals.add(1); s }.asNondeterministic()
    val anchor = plain.withColumn("alias_norm", tick(col("alias_norm")))
    val canon = Stages.canonicalMap(spark, sf).localCheckpoint(true)
    val in = Files.createTempDirectory("stkg2-in").toString
    val storeDir = Files.createTempDirectory("stkg2-store").toString
    val store = SnapshotStore.forRoot(storeDir)
    // three micro-batches, docs whole within each
    writeBatch(in, docs.where(col("doc_id").cast("long") % 3 === 0), "1")
    writeBatch(in, docs.where(col("doc_id").cast("long") % 3 === 1), "2")
    writeBatch(in, docs.where(col("doc_id").cast("long") % 3 === 2), "3")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = StreamOps.incrementalTriples(stream, gazSeq, anchor,
      Stages.scoreBoost, canon, store,
      canonRows = Some(3L * Stages.GazetteerSize)).start()
    try q.processAllAvailable() finally q.stop()

    assert(store.manifests().count(_.stage == "triples") == 3) // one commit per batch
    // the dictionary is grouped once per query, not once per batch
    assert(evals.value == plain.count(),
      s"${evals.value} dictionary rows evaluated for ${plain.count()} rows over 3 batches")
    def tset(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj").distinct().collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val got = tset(store.read(spark, stage = Some("triples")))
    val want = tset(Stages.triples(spark, sf))
    assert(got.nonEmpty && got == want)
  }


  test("ST-KG4: per-batch triple snapshots compact to one and survive expiry (stream ≡ batch)") {
    import graft.kg.{Corpus, Stages}
    val sf = "/root/testdata/sf0.001"
    val docs = Corpus.docs(spark, sf).localCheckpoint(true)
    val gazSeq = Stages.gazetteer(spark, sf)
      .select(col("surface"), col("coarse_type"))
      .collect().toSeq.map(r => (r.getString(0), r.getString(1)))
    val anchor = Stages.anchorDict(spark, sf).localCheckpoint(true)
    val canon = Stages.canonicalMap(spark, sf).localCheckpoint(true)
    val in = Files.createTempDirectory("stkg4-in").toString
    val store = SnapshotStore.forRoot(Files.createTempDirectory("stkg4-store").toString)
    writeBatch(in, docs.where(col("doc_id").cast("long") % 3 === 0), "1")
    writeBatch(in, docs.where(col("doc_id").cast("long") % 3 === 1), "2")
    writeBatch(in, docs.where(col("doc_id").cast("long") % 3 === 2), "3")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = StreamOps.incrementalTriples(stream, gazSeq, anchor,
      Stages.scoreBoost, canon, store,
      canonRows = Some(3L * Stages.GazetteerSize)).start()
    try q.processAllAvailable() finally q.stop()

    def tset(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj").distinct().collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val want = tset(Stages.triples(spark, sf))

    // the maintenance pass the per-batch sink pattern needs: fold the
    // three tiny batch snapshots into one, then reclaim their data
    assert(store.compact(spark, "triples").nonEmpty)
    assert(store.liveManifests().count(_.stage == "triples") == 1)
    assert(tset(store.read(spark, stage = Some("triples"))) == want)

    assert(store.expireReplaced("triples") == 3)
    assert(tset(store.read(spark, stage = Some("triples"))) == want)
    // a foreachBatch REPLAY of an already-compacted-and-expired batch id
    // must still be a no-op, or recovery would duplicate triples
    assert(store.commit(store.read(spark, stage = Some("triples")),
      "triples", "triples-batch-1").isEmpty)
    assert(tset(store.read(spark, stage = Some("triples"))) == want)
  }

  test("ST-KG3: docs re-presented in a LATER batch keep accumulated triples ≡ batch (set semantics)") {
    import graft.kg.{Corpus, Stages}
    val sf = "/root/testdata/sf0.001"
    val docs = Corpus.docs(spark, sf).localCheckpoint(true)
    val gazSeq = Stages.gazetteer(spark, sf)
      .select(col("surface"), col("coarse_type"))
      .collect().toSeq.map(r => (r.getString(0), r.getString(1)))
    val anchor = Stages.anchorDict(spark, sf).localCheckpoint(true)
    val canon = Stages.canonicalMap(spark, sf).localCheckpoint(true)
    val in = Files.createTempDirectory("stkg3-in").toString
    val store = SnapshotStore.forRoot(Files.createTempDirectory("stkg3-store").toString)
    // batch 1: all docs; batch 2: a third of them AGAIN (a re-ingested
    // shard under a NEW batch id — not a marker replay). Triples are
    // set-semantic, so the duplicate source rows must not change the
    // accumulated DISTINCT result.
    writeBatch(in, docs, "1")
    writeBatch(in, docs.where(col("doc_id").cast("long") % 3 === 0), "2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = StreamOps.incrementalTriples(stream, gazSeq, anchor,
      Stages.scoreBoost, canon, store,
      canonRows = Some(3L * Stages.GazetteerSize)).start()
    try q.processAllAvailable() finally q.stop()
    assert(store.manifests().count(_.stage == "triples") == 2)
    def tset(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj").distinct().collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val got = tset(store.read(spark, stage = Some("triples")))
    assert(got.nonEmpty && got == tset(Stages.triples(spark, sf)))
  }

  test("ST6: foreachBatch snapshot sink commits exactly once per batch") {
    val in = Files.createTempDirectory("st6-in").toString
    val storeDir = Files.createTempDirectory("st6-store").toString
    val store = SnapshotStore.forRoot(storeDir)
    writeBatch(in, eventRows(Seq(
      (1L, ts(1), 1L, "a", 1.0), (2L, ts(2), 2L, "b", 1.0))), "1")
    writeBatch(in, eventRows(Seq((3L, ts(3), 3L, "c", 1.0))), "2")

    val q = StreamOps.snapshotSink(
      StreamOps.source(spark, in), store, "ingest").start()
    try q.processAllAvailable() finally q.stop()
    assert(store.read(spark).count() == 3)

    // replay the same batches (fresh query, same batch ids) → markers skip
    val q2 = StreamOps.snapshotSink(
      StreamOps.source(spark, in), store, "ingest").start()
    try q2.processAllAvailable() finally q2.stop()
    assert(store.read(spark).count() == 3) // still exactly once
  }
}
