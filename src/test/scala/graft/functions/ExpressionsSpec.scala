package graft.functions

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSuite

class NormalizeSpec extends SparkSuite {

  private def reference(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim

  test("NormalizeSurface ≡ trim(regexp_replace(lower(x),'[^a-z0-9]+',' '))") {
    val rnd = new Random(1L)
    val alphabet = "aZ9 .,-_éÜ✓\t"
    val cases = Seq("", " ", "Hello, World!", "a..b", ".lead", "trail.",
      "ALL CAPS", "ünïcode", "123-456") ++
      (0 until 200).map(_ => (0 until rnd.nextInt(20))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    cases.foreach { s =>
      assert(Normalizer.normalize(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString
        == reference(s), s"input=${s.map(_.toInt)}")
    }
  }

  test("NormalizeSurface works inside a DataFrame plan (codegen path)") {
    import spark.implicits._
    val df = Seq("Hello, World!", "A.B;C", "").toDF("t")
      .select(NormalizeSurface(col("t")).as("n"))
    assert(df.as[String].collect().toSeq == Seq("hello world", "a b c", ""))
  }
}

class AcTrieSpec extends SparkSuite {

  test("longest-match-wins, boundaries, case folding") {
    val trie = AcTrie(Seq("york" -> "LOC", "new york" -> "LOC",
      "new york city" -> "LOC", "ork" -> "X"))
    def surf(text: String) =
      trie.matches(text).map { case (b, e, _) => text.substring(b, e) }.toSeq

    assert(surf("I saw New York City today") == Seq("New York City"))
    assert(surf("york, new york!") == Seq("york", "new york"))
    assert(surf("newyork") == Seq.empty) // no internal boundary
    assert(surf("york-york york") == Seq("york", "york", "york"))
    assert(surf("YORK") == Seq("YORK")) // case-insensitive, original text
    assert(surf("stork") == Seq.empty) // 'ork' lacks left boundary
    assert(surf("ork") == Seq("ork"))
  }

  test("non-ASCII neighbors are boundaries (matches [^a-z0-9] tokenizer)") {
    val trie = AcTrie(Seq("spark" -> "ORG"))
    def surf(text: String) =
      trie.matches(text).map { case (b, e, _) => text.substring(b, e) }.toSeq
    // 'é' is outside [a-z0-9] ⇒ it IS a boundary, exactly like the SQL
    // tokenizer which splits "caféspark" into ("caf", "spark").
    assert(surf("caféspark") == Seq("spark"))
    assert(surf("café spark ✓") == Seq("spark"))
  }

  test("overlapping candidates resolved greedily left to right") {
    val trie = AcTrie(Seq("ab" -> "X", "bc" -> "Y", "abc" -> "Z"))
    val m = trie.matches("abc")
    assert(m.map { case (b, e, p) => (b, e, trie.patternAt(p)) }.toSeq == Seq((0, 3, "abc")))
  }

  test("match counts: patterns sharing (normalized surface, type) merge into one group") {
    import spark.implicits._
    // "new-york" and "new york" both normalize to "new york"/LOC →
    // ONE group whose n_occ sums both patterns' occurrences; "data" is
    // a distinct group; surfaces come out pre-normalized. This is the
    // exact contract the removed per-span groupBy enforced.
    val trie = spark.sparkContext.broadcast(AcTrie(Seq(
      "new-york" -> "LOC", "new york" -> "LOC", "data" -> "MISC")))
    val out = Seq("New-York data; new york DATA, new-york")
      .toDF("t")
      .select(explode(GazetteerMatchCountsExpr(col("t"), trie)).as("m"))
      .select("m.surface", "m.coarse_type", "m.n_occ")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set(("new york", "LOC", 3L), ("data", "MISC", 2L)))

    // empty / no-match spans produce no rows, not empty-array rows
    val none = Seq("", "nothing here").toDF("t")
      .select(explode(GazetteerMatchCountsExpr(col("t"), trie)).as("m"))
    assert(none.count() == 0)
  }
}

class VecLshBucketSpec extends SparkSuite {

  /** Independent recomputation of the documented bucket formula
    * (quantize to milli-units, two Lehmer rounds mod 2^31-1 for the
    * weight, exact integer plane dot) — what the DuckDB oracle runs. */
  private def reference(v: Array[Float], planes: Int): Long = {
    var bucket = 0L
    for (p <- 0 until planes) {
      var s = BigInt(0) // overflow-proof reference arithmetic
      for (i <- v.indices) {
        val k = p.toLong * 131 + i + 7
        val h = ((k * 2654435761L) % 2147483647L * 48271L) % 2147483647L
        val w = h % 1999L - 999L
        val xq = math.floor(v(i).toDouble * 1000.0 + 0.5).toLong
        s += BigInt(xq) * BigInt(w)
      }
      if (s >= 0) bucket |= (1L << p)
    }
    bucket
  }

  test("codegen bucket ≡ independent integer reference on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(42L)
    val vecs = (0 until 50).map(i =>
      (i.toLong, Array.fill(16)((rnd.nextGaussian() * (1 + i % 5)).toFloat)))
    val got = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), VecLshBucket(col("embedding"), 6).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vecs.foreach { case (id, v) =>
      assert(got(id) == reference(v, 6), s"vec $id")
    }
  }

  test("quantization kills float-sum-order sign ambiguity: near-zero components are deterministic") {
    import spark.implicits._
    // components that would round-trip differently under float re-summation
    val v = Array(1e-9f, -1e-9f, 0.0004f, -0.0004f, 0.0006f)
    val b1 = Seq((1L, v)).toDF("vec_id", "embedding")
      .select(VecLshBucket(col("embedding"), 6)).collect().head.getLong(0)
    assert(b1 == reference(v, 6)) // quantized: ±0.0004 → 0, 0.0006 → 1 milli-unit
  }

  test("registered SQL surface: vec_lsh_bucket agrees with the Column API") {
    import spark.implicits._
    SqlFunctions.register(spark)
    Seq((1L, Array(0.5f, -0.25f, 1.5f))).toDF("vec_id", "embedding")
      .createOrReplaceTempView("vlb_t")
    val sql = spark.sql("SELECT vec_lsh_bucket(embedding) AS b FROM vlb_t")
      .collect().head.getLong(0)
    val api = Seq((1L, Array(0.5f, -0.25f, 1.5f))).toDF("vec_id", "embedding")
      .select(VecLshBucket(col("embedding"), graft.dataprep.Similarity.LshPlanes))
      .collect().head.getLong(0)
    assert(sql == api)
  }
}

class IvfExprsSpec extends SparkSuite {

  /** Independent recomputation of the assignment contract: quantize to
    * milli-units, exact integer Σ(x−μ)², argmin ties to the smallest
    * cell — what the DuckDB oracle's distance CTEs run. */
  private def referenceDists(v: Array[Float], cent: Array[Array[Long]]): Array[Long] =
    cent.map { mu =>
      v.indices.map { i =>
        val d = math.floor(v(i).toDouble * 1000.0 + 0.5).toLong - mu(i)
        d * d
      }.sum
    }

  test("codegen cell/probes ≡ independent integer reference; ties break to smallest cell") {
    import spark.implicits._
    val rnd = new scala.util.Random(13L)
    val cent: Array[Array[Long]] =
      Array.fill(5)(Array.fill(8)(rnd.nextInt(2001).toLong - 1000L))
    val bc = spark.sparkContext.broadcast(cent)
    val vecs = (0 until 40).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val got = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), VecIvfCell(col("embedding"), bc).as("cell"),
        VecIvfProbes(col("embedding"), bc, 3).as("probes"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Int](2))).toMap
    vecs.foreach { case (id, v) =>
      val d = referenceDists(v, cent)
      val order = d.zipWithIndex.sortBy { case (dist, j) => (dist, j) }.map(_._2)
      assert(got(id)._1 == order.head, s"vec $id cell")
      assert(got(id)._2 == order.take(3).toSeq, s"vec $id probes")
      // the probe list is distance-ordered and starts at the cell
      assert(got(id)._2.head == got(id)._1)
    }
    // exact ties: two identical centroids — the SMALLER cell id wins
    // both the assignment and the probe order (the oracle's ORDER BY d, cell)
    val tied = spark.sparkContext.broadcast(Array(cent(2), cent(0), cent(2)))
    val t = vecs.take(5).toDF("vec_id", "embedding")
      .select(VecIvfCell(col("embedding"), tied).as("cell"),
        VecIvfProbes(col("embedding"), tied, 3).as("probes"))
      .collect().map(r => (r.getInt(0), r.getSeq[Int](1)))
    t.foreach { case (cell, probes) =>
      assert(cell != 2, "tie must resolve to the smaller duplicate cell")
      assert(probes.indexOf(0) < probes.indexOf(2), probes.toString)
    }
  }
}

class PrAggregatorSpec extends SparkSuite {
  test("single-pass confusion matrix with partial merge") {
    import spark.implicits._
    val data = Seq((true, true), (true, false), (true, false),
      (false, true), (false, false)).toDS()
    val r = data.repartition(3).select(PrAggregator.toColumn).collect().head
    assert(r == PrCounts(1, 2, 1, 1))
    assert(r.precision == 1.0 / 3.0 && r.recall == 0.5)
  }
}

/** U1 ⊢ W4 (VERDICT r5 #5): the Aho–Corasick longest-match contract
  * must GUARANTEE the W4 overlap-suppression invariant — the emitted
  * mention set is pairwise non-overlapping, and equals the running-max
  * sweep (win_overlap's window shape) applied to the full candidate
  * set — under adversarial nested gazetteer entries and randomized
  * texts, not just the hand fixtures. */
class MentionOverlapPropertySpec extends SparkSuite {
  import org.scalacheck.{Gen, Prop}
  import org.scalacheck.Prop.forAll

  // adversarially nested dictionary: shared prefixes, shared suffixes,
  // full containment chains ("new" ⊂ "new york" ⊂ "new york city")
  private val gaz = Seq(
    "new" -> "MISC", "york" -> "LOC", "city" -> "MISC",
    "new york" -> "LOC", "new york city" -> "LOC",
    "york city" -> "ORG", "city hall" -> "ORG", "hall" -> "MISC")
  private val trie = AcTrie(gaz)

  /** Every candidate occurrence (naive scan, ignoring overlap rules). */
  private def candidates(text: String): Seq[(Int, Int)] = {
    val lower = text.toLowerCase
    for {
      (p, _) <- gaz
      b <- 0 to (lower.length - p.length)
      if lower.regionMatches(b, p, 0, p.length)
      if b == 0 || !AcTrie.isWordChar(lower.charAt(b - 1))
      e = b + p.length
      if e == lower.length || !AcTrie.isWordChar(lower.charAt(e))
    } yield (b, e)
  }

  /** The documented longest-match suppression contract: candidates
    * sorted (begin asc, length desc), swept greedily — a candidate is
    * kept iff it starts at/after the last KEPT end. This is the same
    * non-overlap invariant W4's running-max window enforces (both
    * produce pairwise-disjoint sets); the greedy-kept form is the
    * declared U1 tie-break for nested candidates. */
  private def greedySweep(cands: Seq[(Int, Int)]): Seq[(Int, Int)] = {
    val sorted = cands.distinct.sortBy { case (b, e) => (b, -(e - b)) }
    var lastEnd = 0
    val kept = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    for ((b, e) <- sorted) if (b >= lastEnd) { kept += ((b, e)); lastEnd = e }
    kept.toSeq
  }

  private val word = Gen.oneOf("new", "york", "city", "hall", "the", "x9")
  private val sep = Gen.oneOf(" ", ", ", " - ", "  ")
  private val textGen: Gen[String] = for {
    n <- Gen.choose(0, 12)
    ws <- Gen.listOfN(n, word)
    ss <- Gen.listOfN(math.max(0, n - 1), sep)
  } yield ws.zipAll(ss, "", "").map { case (w, s) => w + s }.mkString

  private def check(prop: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(300), prop)
    if (!res.passed) fail(s"property failed: ${res.status}")
  }

  test("emitted mentions are pairwise non-overlapping on adversarial nested texts") {
    check(forAll(textGen) { text =>
      val ms = trie.matches(text).map { case (b, e, _) => (b, e) }.sortBy(_._1).toSeq
      ms.sliding(2).forall {
        case Seq((_, e1), (b2, _)) => b2 >= e1
        case _ => true
      }
    })
  }

  test("emitted mentions ≡ longest-match greedy suppression of ALL naive candidates") {
    check(forAll(textGen) { text =>
      val got = trie.matches(text).map { case (b, e, _) => (b, e) }.sortBy(_._1).toSeq
      got == greedySweep(candidates(text))
    })
  }
}
