package graft.dataprep

import org.apache.spark.sql.functions._

import graft.SparkSuite

class DedupSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat again and again"), // near dup
    (3L, "completely different content about spark shuffles and joins"),
    (4L, "tiny")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min doc_id") {
    val r = Dedup.exact(docs).collect()
      .map(x => (x.getLong(1), x.getLong(2))).toSet
    assert(r.contains((0L, 2L))) // docs 0,1 collapse to keeper 0
    assert(r.count(_._2 == 1L) == 3)
  }

  test("minhash: identical docs → identical signatures; LSH finds the pair") {
    val sig = Dedup.minhashSignature(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sig(0L) == sig(1L))
    assert(sig(0L) != sig(3L))
    val pairs = Dedup.minhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 1.0))
  }

  test("simhash: exact dup → hamming 0; found by the pair stage") {
    val sh = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(1L))
    val pairs = Dedup.simhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0))
  }

  test("clusters: pairs resolve to components, cluster_id = component min") {
    // chain 10–11–12 (transitive family: no direct 10–12 pair) plus an
    // isolated pair 20–21; doc 30 never appears
    val pairs = Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val lab = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("survivors: one keeper per cluster + unpaired docs, sizes correct") {
    val corpus = Seq(10L, 11L, 12L, 20L, 21L, 30L).toDF("doc_id")
      .withColumn("text", lit("x"))
    val pairs = Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val out = Dedup.survivors(corpus, pairs)
    // the survivor frame IS the deduplicated corpus: every input column
    // rides through, n_members appended (r5 review)
    assert(out.columns.toSeq == Seq("doc_id", "text", "n_members"))
    val rows = out.collect()
    assert(rows.forall(_.getString(1) == "x"))
    val s = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(s == Map(10L -> 3L, 20L -> 2L, 30L -> 1L))
    // invariant: survivors' member counts cover the corpus exactly
    assert(s.values.sum == 6L)
  }

  test("survivors: canonical re-anchored to the min doc PRESENT in the corpus") {
    // pair graph computed on a FULLER corpus than the frame being
    // deduped (resumed sketches vs a re-filtered corpus): the graph
    // canonical (doc 5) is absent. Anchoring on the graph min would
    // anti-join away 10 AND 11 — the family vanishes (keep-zero) and
    // n_members stops partitioning the corpus (r5 review)
    val corpus = Seq(10L, 11L, 30L).toDF("doc_id").withColumn("text", lit("x"))
    val pairs = Seq((5L, 10L), (5L, 11L)).toDF("doc_a", "doc_b")
    val s = Dedup.survivors(corpus, pairs).select("doc_id", "n_members")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s == Map(10L -> 2L, 30L -> 1L))
    assert(s.values.sum == 3L) // partitions THIS corpus exactly
  }

  test("survivors over real minhash pairs: partition of the corpus") {
    // exact dup (0,1) and near dup (0,2) share a cluster via doc 0
    val pairs = Dedup.minhashPairs(docs)
    val s = Dedup.survivors(docs, pairs).select("doc_id", "n_members").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lab = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every clustered doc's label is a survivor; counts partition 5 docs
    assert(lab.values.toSet.subsetOf(s.keySet))
    assert(s.values.sum == 5L)
    assert(s.keySet.intersect(lab.filter(kv => kv._2 != kv._1).keySet).isEmpty)
  }

  test("simhash multi-table blocking: recall-complete for Hamming ≤ 3") {
    // Controlled fingerprints: clusters around random 60-bit bases with
    // 0–5 bit flips. Ground truth = brute-force all-pairs Hamming ≤ 3;
    // the Manku C(6,3)-table blocking must find EXACTLY that set (no
    // false negatives from blocking, no false positives past verify).
    val rnd = new scala.util.Random(11L)
    val mask = (1L << Dedup.SimhashBits) - 1L
    val fps = (0 until 40).flatMap { c =>
      val base = rnd.nextLong() & mask
      (0 until 5).map { v =>
        var f = base
        val flips = rnd.nextInt(6) // 0..5 bit flips off the base
        (0 until flips).foreach(_ => f ^= 1L << rnd.nextInt(Dedup.SimhashBits))
        (c * 5L + v, f)
      }
    }
    val sketch = fps.toDF("doc_id", "simhash").localCheckpoint(true)
    // every radius the C(6,3) geometry guarantees (≤ blocks − tableBlocks)
    for (maxH <- 0 to (Dedup.SimhashBlocks - Dedup.TableBlocks)) {
      val truth = (for {
        (ia, fa) <- fps; (ib, fb) <- fps if ia < ib
        h = java.lang.Long.bitCount(fa ^ fb) if h <= maxH
      } yield (ia, ib, h)).toSet
      val got = Dedup.simhashPairsFromSketch(sketch, maxH).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == truth, s"maxH=$maxH: got ${got.size} pairs, truth ${truth.size}")
      if (maxH == 3) assert(truth.nonEmpty) // the fixture actually exercises recall
    }
  }

  test("simhash blocking keys are 30-bit: unrelated docs never share buckets") {
    // The r2 scale bomb was bucket population n/2^15 with 15-bit chunk
    // keys. With 30-bit 3-block keys, 2000 uniform fingerprints expect
    // ~2000²·20/2^31 ≈ 0.04 colliding pairs — assert max bucket
    // population stays ~1 (the old chunking put ~122 docs in SOME
    // 15-bit bucket at this n with p > 0.5).
    val rnd = new scala.util.Random(7L)
    val mask = (1L << Dedup.SimhashBits) - 1L
    val fps = (0L until 2000L).map(i => (i, rnd.nextLong() & mask))
    val maxBucket = Dedup.simhashBlockingKeys(fps.toDF("doc_id", "simhash"))
      .groupBy("table_idx", "k").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxBucket <= 2L, s"max bucket population $maxBucket")
  }

  test("ngram jaccard: dup pair scores 1.0, near-dup in (0,1)") {
    val pairs = Dedup.ngramJaccardPairs(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) == 1.0)
    val near = pairs((0L, 2L))
    assert(near > 0.0 && near < 1.0)
  }

  test("embedding near-dup within LSH buckets; opposite vectors never pair") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 1),
      (1L, Array(0.999f, 0.04f, 0.0f), 1), // near-dup of 0
      (2L, Array(-1.0f, -0.2f, 0.1f), 1), // opposite hemisphere
      (3L, Array(1.0f, 0.0f, 0.0f), 2) // identical vector, OTHER label — blocking is content-based now
    ).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingPairs(emb).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.contains((0L, 1L)) && pairs((0L, 1L)) > 0.99)
    assert(pairs.get((0L, 3L)).contains(1.0)) // exact dup found across labels
    assert(!pairs.keySet.exists(p => p._1 == 2L || p._2 == 2L)) // opposite vector: different bucket or cos < 0.2
  }

  test("pair stages resume from committed sketches (restart-survivable)") {
    val dir = java.nio.file.Files.createTempDirectory("dedup-resume").toString
    val store = graft.sources.SnapshotStore.forRoot(dir)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plainMh = pairs(Dedup.minhashPairs(docs))
    val plainSh = pairs(Dedup.simhashPairs(docs))
    val plainJc = pairs(Dedup.ngramJaccardPairs(docs))

    // first run commits each sketch under the content marker; results
    // are unchanged vs the persist-only path
    assert(pairs(Dedup.minhashPairs(docs, resume = Some((store, "c1")))) == plainMh)
    assert(pairs(Dedup.simhashPairs(docs, resume = Some((store, "c1")))) == plainSh)
    assert(pairs(Dedup.ngramJaccardPairs(docs, resume = Some((store, "c1")))) == plainJc)
    val n = store.manifests().size
    assert(Seq("minhash_sig", "simhash_sketch", "jacc_shingles", "jacc_bands")
      .forall(st => store.manifests().exists(m =>
        m.stage == st && m.marker == s"$st-c1")))

    // replay (= restart after the sketch pass): commits are marker
    // no-ops, the snapshot count is stable, results identical
    assert(pairs(Dedup.minhashPairs(docs, resume = Some((store, "c1")))) == plainMh)
    assert(pairs(Dedup.ngramJaccardPairs(docs, resume = Some((store, "c1")))) == plainJc)
    assert(store.manifests().size == n)

    // the restarted job truly READS the committed sketch rather than
    // recomputing: pre-commit a TRUNCATED signature table (doc 0
    // dropped) under a fresh marker — the pair run must reflect it
    val dir2 = java.nio.file.Files.createTempDirectory("dedup-resume2").toString
    val store2 = graft.sources.SnapshotStore.forRoot(dir2)
    store2.commit(Dedup.minhashSignature(docs).where(col("doc_id") =!= 0L),
      "minhash_sig", "minhash_sig-c2")
    val truncated = pairs(Dedup.minhashPairs(docs, resume = Some((store2, "c2"))))
    assert(truncated.forall(p => p._1 != 0L && p._2 != 0L), truncated.toString)

    // an EMPTY corpus with resume behaves like the non-resume path
    // (empty pair set): its sketch commit is marker-only (rows = 0,
    // no data files), so the resume read must not be attempted — the
    // marker-only snapshot would otherwise fail read's
    // all-snapshots-empty check
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(pairs(Dedup.minhashPairs(empty, resume = Some((store2, "e1")))).isEmpty)
    // the zero-row marker IS committed, so a replay stays a no-op
    assert(store2.manifests().exists(m =>
      m.stage == "minhash_sig" && m.marker == "minhash_sig-e1" && m.rows == 0))
    assert(pairs(Dedup.minhashPairs(empty, resume = Some((store2, "e1")))).isEmpty)

    // a committed sketch whose DATA was externally wiped (manifest
    // survives — a state the store tolerates elsewhere) must fall back
    // to recomputing from the corpus we still hold, not crash the
    // restart in read()'s all-snapshots-empty check (r5 review)
    val dir3 = java.nio.file.Files.createTempDirectory("dedup-resume3").toString
    val store3 = graft.sources.SnapshotStore.forRoot(dir3)
    assert(pairs(Dedup.minhashPairs(docs, resume = Some((store3, "c3")))) == plainMh)
    org.apache.commons.io.FileUtils.deleteDirectory(
      java.nio.file.Paths.get(dir3).resolve("data").toFile)
    assert(!store3.hasLiveData("minhash_sig", "minhash_sig-c3"))
    assert(pairs(Dedup.minhashPairs(docs, resume = Some((store3, "c3")))) == plainMh)
  }

  test("ngram-jaccard blocking is skew-safe on zipfian leading tokens") {
    // 200 docs all starting "the the the" (the old first-two-token key
    // put ALL of them in one bucket → quadratic); distinct bodies must
    // spread across MinHash-band buckets.
    val zipf = (0L until 200L).map { i =>
      (i, s"the the the body$i token${i * 7} filler${i % 13} unique${i * 31} tail${i * 3} x${i} y${i} z${i}")
    }.toDF("doc_id", "text")
    val nPerms = Dedup.JaccardBands * Dedup.JaccardRows
    val keyed = Dedup.ngramJaccardPairs(zipf) // exercises the path end-to-end
    assert(keyed.collect().length < 50) // no quadratic blow-up (old key: 19900 pairs)
  }
}

class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  private lazy val emb = {
    val rnd = new scala.util.Random(5L)
    (0L until 200L).map { i =>
      val v = Array.fill(8)(rnd.nextGaussian().toFloat)
      (i, v, (i % 4).toInt)
    }.toDF("vec_id", "embedding", "label")
  }

  test("brute-force top-k is exact and deterministic") {
    val top = Similarity.bruteForceTopK(emb, queryVecId = 0L, k = 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.length == 5)
    assert(top.map(_._2).toSeq == top.map(_._2).sorted.reverse.toSeq)
    val again = Similarity.bruteForceTopK(emb, queryVecId = 0L, k = 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.toSeq == again.toSeq)
  }

  test("LSH candidates are a subset sharing the query bucket; scores exact") {
    val brute = Similarity.bruteForceTopK(emb, 0L, 200).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lsh = Similarity.lshTopK(emb, queryVecId = 0L, k = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(lsh.nonEmpty)
    assert(lsh.map(_._2).distinct.length == 1) // all in the query's bucket
    lsh.foreach { case (id, _, cos) => assert(brute(id) == cos) }
  }

  test("IVF: nprobe-1 candidates share the query's cell; scores exact; deterministic") {
    val brute = Similarity.bruteForceTopK(emb, 0L, 200).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf = Similarity.ivfTopK(emb, queryVecId = 0L, k = 10, cells = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(ivf.nonEmpty)
    assert(ivf.map(_._2).distinct.length == 1) // one inverted list scanned
    ivf.foreach { case (id, _, cos) => assert(brute(id) == cos) } // exact re-rank
    assert(ivf.map(_._3).toSeq == ivf.map(_._3).sorted.reverse.toSeq)
    // integer k-means + fixed rounds + tie-breaks ⇒ bit-determinism
    val again = Similarity.ivfTopK(emb, queryVecId = 0L, k = 10, cells = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(ivf.toSeq == again.toSeq)
  }

  test("batch ANN is one bucket equi-join with per-query top-k") {
    val queries = emb.where(col("vec_id") % 40 === 0) // 5 queries
    val res = Similarity.lshTopKBatch(emb, queries, k = 3)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    val rows = res.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.length <= 3)
      val sims = rs.sortBy(_._4).map(_._3)
      assert(sims.sorted.reverse.toSeq == sims.toSeq) // ranked by cosine desc
    }
    rows.foreach { case (q, v, _, _) => assert(q != v) } // self excluded
  }

  test("multi-probe ANN: recall vs brute force ≥ single-bucket recall") {
    val k = 3
    val queries = emb.where(col("vec_id") % 40 === 0) // 5 queries
    def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val truth = queries.collect().map(_.getLong(0)).map { q =>
      q -> Similarity.bruteForceTopK(emb, q, k).collect().map(_.getLong(0)).toSet
    }.toMap
    val plain = topk(Similarity.lshTopKBatch(emb, queries, k))
    val probe = topk(Similarity.lshTopKBatchProbe(emb, queries, k))
    def recall(got: Map[Long, Set[Long]]): Double =
      truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }.sum / truth.size
    assert(recall(probe) >= recall(plain),
      s"probe ${recall(probe)} < plain ${recall(plain)}")
    assert(recall(probe) > 0.5, s"probe recall ${recall(probe)}") // 7 of 64 buckets probed
    // radius-2 probing covers strictly more buckets → recall only rises
    val probe2 = topk(Similarity.lshTopKBatchProbe(emb, queries, k, probeRadius = 2))
    assert(recall(probe2) >= recall(probe),
      s"radius-2 ${recall(probe2)} < radius-1 ${recall(probe)}")
  }

  test("planesFor keeps bucket population constant as the corpus grows") {
    assert(Similarity.planesFor(1000L) == 4) // clamp floor
    assert(Similarity.planesFor(1L << 22, targetBucketPop = 4096L) == 10)
    assert(Similarity.planesFor(1000000000000L) == 28) // 10^12 design point
    assert(Similarity.planesFor(Long.MaxValue, targetBucketPop = 1L) == 62) // clamp ceiling
  }

  test("IVF seeding is rank-based: sparse/negative vec_ids assign cleanly") {
    // r4 `require`d vec_ids 0..K−1 verbatim (fixture-bound; negative
    // ids silently shifted labels — ADVICE r4). Rank seeding must
    // serve any id set: ids here are negative and non-contiguous.
    val rnd = new scala.util.Random(7L)
    val sparse = Seq(-9L, -2L, 3L, 17L, 40L, 41L, 55L, 80L, 81L, 99L, 120L, 121L)
      .map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.ivfTopKBatch(sparse, sparse.where(col("vec_id") < 0L),
      k = 2, cells = 4, nprobe = 1).collect()
    assert(r.nonEmpty)
    // full probe of every cell scores every candidate → exact top-k:
    // recall must be 1.0 per query under the shared ranking contract
    val full = Similarity.ivfRecallAtK(sparse, sparse.where(col("vec_id") < 0L),
      k = 2, cells = 4, nprobe = 4).collect()
    assert(full.nonEmpty)
    full.foreach(row => assert(row.getDouble(3) == 1.0, row.toString))
  }

  test("IVF nprobe: recall is monotone in probes; nprobe=cells is exact") {
    val queries = emb.where(col("vec_id") % 40 === 0) // 5 queries
    def hits(nprobe: Int): Map[Long, Long] =
      Similarity.ivfRecallAtK(emb, queries, k = 3, cells = 4, nprobe = nprobe)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val h1 = hits(1); val h2 = hits(2); val h4 = hits(4)
    // probing more cells only adds candidates → per-query hits rise
    h1.foreach { case (q, n) => assert(h2(q) >= n, s"q=$q: ${h2(q)} < $n") }
    h2.foreach { case (q, n) => assert(h4(q) >= n, s"q=$q: ${h4(q)} < $n") }
    // all cells probed ⇒ every candidate scored ⇒ exact top-k
    assert(h4.values.forall(_ == 3L), h4.toString)
  }

  test("cellsFor scales like sqrt(n) with a broadcastable ceiling") {
    assert(Similarity.cellsFor(10L) == 8) // clamp floor
    assert(Similarity.cellsFor(1000000L) == 1000) // sqrt
    assert(Similarity.cellsFor(1000000000000L) == (1 << 18)) // 10^12 design point hits the ceiling
    assert(Similarity.cellsFor(emb.count()) == 14) // sqrt(200) ≈ 14
  }

  test("planesFor wires corpus sizing into the batch ANN path end to end") {
    val planes = Similarity.planesFor(emb.count(), 25L) // 200/25 → 8 buckets
    assert(planes == 4) // clamp floor still binds at fixture size
    val queries = emb.where(col("vec_id") % 40 === 0)
    val rows = Similarity.lshTopKBatchProbe(emb, queries, k = 3, planes = planes)
      .collect()
    assert(rows.nonEmpty)
    // wider corpus constant: sanity that a bigger target shrinks planes
    assert(Similarity.planesFor(emb.count()) == 4)
  }
}

class MultimodalSpec extends SparkSuite {
  import spark.implicits._

  test("binary payload plumbing + partition-parallel decode stub") {
    val docs = Seq((1L, "abc", "en", "s", 3L), (2L, "defg", "de", "s", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val meta = Multimodal.metadata(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(meta(1L) == 3L && meta(2L) == 4L)

    val media = Multimodal.withPayload(docs)
      .select(col("doc_id"), col("payload"), col("media_kind"))
      .as[Multimodal.MediaRow]
    val decoded = Multimodal.decodeStub(media).collect().map(d => d.doc_id -> d).toMap
    assert(decoded(1L).n_bytes == 3 && decoded(2L).n_bytes == 4)
    assert(decoded(1L).feature.sum > 0.0f) // deterministic fake features
    val again = Multimodal.decodeStub(media).collect().map(d => d.doc_id -> d.feature.toSeq).toMap
    assert(decoded.view.mapValues(_.feature.toSeq).toMap == again)
  }
}

/** langId semantics pinned against the in-row rewrite (r6): the
  * zero-shuffle form must reproduce the old join+agg argmax exactly —
  * multiplicity counting, (count desc, lang asc) tie-break, and the
  * 'unknown' arm for marker-free and degenerate texts. */
class TextAnalysisSpec extends SparkSuite {
  import spark.implicits._

  private def lid(rows: (Long, String)*): Map[Long, (String, Long)] =
    TextAnalysis.langId(rows.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  test("langId counts marker tokens with multiplicity and picks the max language") {
    val got = lid(
      1L -> "the cat and the dog of the house",  // en: the×3 + and + of = 5
      2L -> "el que la de y el",                 // es: 6 markers
      3L -> "der hund und die katze ist das")    // de: 5 markers
    assert(got(1L) == ("en", 5L))
    assert(got(2L) == ("es", 6L))
    assert(got(3L) == ("de", 5L))
  }

  test("langId tie-break is lang asc at equal counts") {
    // one en marker ('the') and one de marker ('und'): de < en wins
    val got = lid(1L -> "the und")
    assert(got(1L) == ("de", 1L))
  }

  test("langId falls back to ('unknown', 0) for marker-free and empty text") {
    val got = lid(1L -> "zzz qqq", 2L -> "", 3L -> "1984")
    assert(got(1L) == ("unknown", 0L))
    assert(got(2L) == ("unknown", 0L))
    assert(got(3L) == ("unknown", 0L))
  }

  test("langId plans zero exchanges (in-row counts + in-row argmax)") {
    val docs = Seq((1L, "the cat")).toDF("doc_id", "text")
    val p = TextAnalysis.langId(docs).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "langId must not shuffle:\n" + p.take(1200))
  }
}
