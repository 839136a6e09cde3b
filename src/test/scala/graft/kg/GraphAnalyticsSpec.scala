package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Hand-computed fixtures for the graph-analytics operators: the oracle
  * keys prove cross-engine parity on the derived corpus; these prove the
  * arithmetic/semantics on graphs small enough to verify by hand. */
class GraphAnalyticsSpec extends SparkSuite {

  private def triples(rows: (String, String, String)*) = {
    import spark.implicits._
    rows.toDF("subj", "pred", "obj")
  }

  private def edges(rows: (String, String)*) = {
    import spark.implicits._
    rows.toDF("src", "dst")
  }

  test("degrees: per-subject triple/pred/obj profile") {
    val t = triples(
      ("A", "mentionedIn", "doc:1"), ("A", "mentionedIn", "doc:2"),
      ("A", "hasType", "PER"), ("B", "hasType", "LOC"))
    val got = GraphAnalytics.degrees(t)
      .orderBy("subj").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("A", 3L, 2L, 3L), ("B", 1L, 1L, 1L)))
  }

  test("comentionTopK: weights, tie-break by dst, k cutoff") {
    // d1:{A,B,C} d2:{A,B} d3:{A,C} → (A,B)=2 (A,C)=2 (B,C)=1.
    // k=1: A ties B/C at 2 → B (dst asc); B picks A (2>1); C picks A.
    val t = triples(
      ("A", "mentionedIn", "d1"), ("B", "mentionedIn", "d1"), ("C", "mentionedIn", "d1"),
      ("A", "mentionedIn", "d2"), ("B", "mentionedIn", "d2"),
      ("A", "mentionedIn", "d3"), ("C", "mentionedIn", "d3"))
    val got = GraphAnalytics.comentionTopK(t, k = 1)
      .orderBy("src").collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(("A", "B", 2L), ("B", "A", 2L), ("C", "A", 2L)))
  }

  test("comentionTopK: maxPerDoc caps the per-doc entity set deterministically") {
    // d1 capped to its 2 lexicographically-first entities {A,B}: the
    // (A,C)/(B,C) pairs from d1 vanish, (A,B) keeps both docs.
    val t = triples(
      ("A", "mentionedIn", "d1"), ("B", "mentionedIn", "d1"), ("C", "mentionedIn", "d1"),
      ("A", "mentionedIn", "d2"), ("B", "mentionedIn", "d2"))
    val got = GraphAnalytics.comentionTopK(t, k = 10, maxPerDoc = 2)
      .orderBy("src", "dst").collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(("A", "B", 2L), ("B", "A", 2L)))
  }

  test("comentionTopK: no join anywhere — pairs are generated in-row") {
    val t = triples(("A", "mentionedIn", "d1"), ("B", "mentionedIn", "d1"))
    val plan = GraphAnalytics.comentionTopK(t).queryExecution.optimizedPlan
    val joins = plan.collect { case j: Join => j }
    assert(joins.isEmpty,
      s"pair generation must not plan a self-join, found: $joins")
  }

  test("comentionTopK: head-doc pairs are generated across rows, not one row (r6)") {
    // A doc with n entities must produce its C(n,2) pairs from n
    // posexploded rows (per-row fan-out O(n)), never as one flattened
    // n²/2-element array in a single row — the r5 `weak`: at the
    // DefaultMaxPerDoc cap the single-row form buffered a multi-GB
    // array. Two Generate stages in the plan witness the two-level
    // shape; the weight sums check the pair multiset is unchanged.
    import spark.implicits._
    val n = 60
    val t = (0 until n).map(i => (f"E$i%03d", "mentionedIn", "dHead")) ++
      Seq(("E000", "mentionedIn", "dTail"), ("E001", "mentionedIn", "dTail"))
    val df = t.toDF("subj", "pred", "obj")
    val got = GraphAnalytics.comentionTopK(df, k = n)
    // every unordered pair of dHead appears; (E000,E001) counts dTail too
    val weights = got.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(weights(("E000", "E001")) == 2L && weights(("E001", "E000")) == 2L)
    assert(weights(("E000", f"E${n - 1}%03d")) == 1L)
    // total directed top-k rows = 2 × C(n,2) pairs (k = n keeps all)
    assert(got.count() == 2L * n * (n - 1) / 2)
    // plan shape: two Generates (posexplode + suffix explode), no flatten
    val plan = got.queryExecution.optimizedPlan.toString
    assert("(?i)generate".r.findAllMatchIn(plan).size >= 2, plan.take(1500))
    assert(!plan.contains("flatten"), "single-row pair array is back:\n" + plan.take(1500))
  }

  test("pagerankInt: hand-computed integers on a mutual star") {
    // C <-> {L1,L2,L3}. deg(C)=3, deg(Li)=1, r0=1e6.
    // r1(C)  = 150000 + 85*(3*1000000)/100          = 2700000
    // r1(Li) = 150000 + 85*(1000000 div 3)/100      = 433333
    //   (1000000 div 3 = 333333; 85*333333 = 28333305; div 100 = 283333)
    // r2(C)  = 150000 + 85*(3*433333)/100           = 1254999
    // r2(Li) = 150000 + 85*(2700000 div 3)/100      = 915000
    val e = edges(
      ("C", "L1"), ("C", "L2"), ("C", "L3"),
      ("L1", "C"), ("L2", "C"), ("L3", "C"))
    val got = GraphAnalytics.pagerankInt(e, iters = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map(
      "C" -> 1254999L, "L1" -> 915000L, "L2" -> 915000L, "L3" -> 915000L))
  }

  test("pagerankInt: node without in-edges keeps the damping base") {
    // D -> A one-way; A <-> B keep each other at fixpoint 1e6.
    // r1(D) = 150000 + 0; contributions: A gets D's 1e6 + B's 1e6.
    val e = edges(("A", "B"), ("B", "A"), ("D", "A"))
    val got = GraphAnalytics.pagerankInt(e, iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // deg(A)=1, deg(B)=1, deg(D)=1
    // r1(A) = 150000 + 85*(1e6 + 1e6)/100 = 150000 + 1700000 = 1850000
    // r1(B) = 150000 + 85*1e6/100 = 1000000 ; r1(D) = 150000
    assert(got == Map("A" -> 1850000L, "B" -> 1000000L, "D" -> 150000L))
  }

  test("pagerankIntW: hand-computed weighted shares") {
    // C <-> L1 (w=2), C <-> L2 (w=1).
    // sw(C)=3: share(C→L1) = 2000000 div 3 = 666666,
    //          share(C→L2) = 1000000 div 3 = 333333;
    // sw(L1)=2, sw(L2)=1 → both shares 1000000.
    // r1(C)  = 150000 + 85*((1e6*1e6 div 1e6) + (1e6*1e6 div 1e6))/100
    //        = 150000 + 1700000 = 1850000
    // r1(L1) = 150000 + 85*(1e6*666666 div 1e6)/100
    //        = 150000 + 85*666666 div 100 = 150000 + 566666 = 716666
    // r1(L2) = 150000 + 85*333333 div 100 = 150000 + 283333 = 433333
    import spark.implicits._
    val e = Seq(
      ("C", "L1", 2L), ("C", "L2", 1L), ("L1", "C", 2L), ("L2", "C", 1L))
      .toDF("src", "dst", "weight")
    val got = GraphAnalytics.pagerankIntW(e, iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("C" -> 1850000L, "L1" -> 716666L, "L2" -> 433333L))
  }

  test("pagerankIntW: uniform weights reproduce the unweighted ranks") {
    import spark.implicits._
    val pairs = Seq(("C", "L1"), ("C", "L2"), ("C", "L3"),
      ("L1", "C"), ("L2", "C"), ("L3", "C"))
    val ew = pairs.map { case (a, b) => (a, b, 7L) }.toDF("src", "dst", "weight")
    val e = pairs.toDF("src", "dst")
    // With uniform weight w at every edge: share = (w·10^6) div (w·deg)
    // = 10^6 div deg, and at rank_0 = 10^6 the weighted contribution
    // (10^6·share) div 10^6 = share = 10^6 div deg — exactly the
    // unweighted contribution. (Later iterations can drift by 1 from
    // the different rounding points, so assert the exact-by-identity
    // first iteration.)
    val w1 = GraphAnalytics.pagerankIntW(ew, iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val u1 = GraphAnalytics.pagerankInt(e, iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(w1 == u1)
  }

  test("pagerankInt: rejects iters < 1") {
    val e = edges(("A", "B"))
    intercept[IllegalArgumentException] {
      GraphAnalytics.pagerankInt(e, iters = 0)
    }
  }

  private def ranks(df: DataFrame): Seq[(Any, Long)] =
    df.collect().map(r => (r.get(0), r.getLong(1))).toSeq.sortBy(_._1.toString)

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec]

  /** Seeded random (src, dst, weight) rows: cubed-uniform source pick
    * (skewed out-degree), dsts drawn past the source range (never
    * sources), a duplicated edge, and a source nothing points at. */
  private def randomEdges(seed: Int): Seq[(Long, Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val nSrc = 4 + rnd.nextInt(40)
    val body = Seq.fill(8 + rnd.nextInt(200))((
      (nSrc * math.pow(rnd.nextDouble(), 3)).toLong,
      rnd.nextInt(nSrc + 6).toLong,
      1L + rnd.nextInt(50)))
    body ++ body.take(1) :+ ((nSrc + 100L, 0L, 3L))
  }

  test("pagerankInt/W: driver-local path is bit-identical to the distributed loop") {
    import spark.implicits._
    for (seed <- 0 until 8) {
      val rows = randomEdges(seed)
      val iters = 1 + seed % 5
      val df = seed % 4 match {
        case 0 => rows.map { case (s, d, w) => (s"é$s", s"é$d", w) }.toDF("src", "dst", "weight")
        case 1 => rows.toDF("src", "dst", "weight")
        case 2 => rows.map { case (s, d, w) => (s"v$s", s"v$d", w.toInt) }.toDF("src", "dst", "weight")
        case _ => rows.map { case (s, d, w) => (s, d, w.toInt) }.toDF("src", "dst", "weight")
      }
      for ((name, rank) <- Seq[(String, Long => DataFrame)](
             "pagerankInt" -> (t => GraphAnalytics.pagerankInt(df, iters, localThreshold = t)),
             "pagerankIntW" -> (t => GraphAnalytics.pagerankIntW(df, iters, localThreshold = t)))) {
        val local = rank(ConnectedComponents.LocalEdgeThreshold)
        val dist = rank(0L)
        val ctx = s"$name seed=$seed iters=$iters ${df.schema.simpleString}"
        assert(isLocal(local) && !isLocal(dist), ctx)
        assert(local.schema == dist.schema, ctx)
        assert(ranks(local) == ranks(dist) && ranks(local).nonEmpty, ctx)
      }
    }
  }

  test("pagerankInt/W: edge sets the driver cannot mirror take the distributed loop") {
    import spark.implicits._
    val star = edges(("C", "L1"), ("C", "L2"), ("C", "L3"),
      ("L1", "C"), ("L2", "C"), ("L3", "C"))
    // over a tiny threshold: the hand-computed mutual-star ranks above
    val over = GraphAnalytics.pagerankInt(star, iters = 2, localThreshold = 3)
    assert(!isLocal(over))
    assert(ranks(over) == Seq("C" -> 1254999L, "L1" -> 915000L, "L2" -> 915000L,
      "L3" -> 915000L))
    // null endpoints: a null-src edge joins nothing (its node keeps the
    // base), a null dst still counts in deg(D) but its share is dropped
    val nulls = edges(("A", "B"), ("B", "A"), ("D", "A"), ("D", null), (null, "A"))
    val nr = GraphAnalytics.pagerankInt(nulls, iters = 1)
    assert(!isLocal(nr))
    assert(nr.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("A", 1425000L), ("B", 1000000L), ("D", 150000L), (null, 150000L)))
    // ids whose JVM equality is not Spark's: double and binary
    val want = Seq(1850000L, 1000000L, 150000L)
    val dbl = GraphAnalytics.pagerankInt(
      Seq((1.0, 2.0), (2.0, 1.0), (3.0, 1.0)).toDF("src", "dst"), iters = 1)
    assert(!isLocal(dbl) && ranks(dbl).map(_._2) == want)
    val bin = GraphAnalytics.pagerankInt(Seq(("a", "b"), ("b", "a"), ("d", "a"))
      .map { case (s, d) => (s.getBytes, d.getBytes) }.toDF("src", "dst"), iters = 1)
    assert(!isLocal(bin))
    assert(bin.collect().map(r => r.getAs[Array[Byte]](0).toSeq -> r.getLong(1)).toMap ==
      Map("a".getBytes.toSeq -> want(0), "b".getBytes.toSeq -> want(1),
        "d".getBytes.toSeq -> want(2)))
    // double weights: `div` rejects them at analysis, as it always has
    val dw = Seq(("C", "L1", 2.0), ("L1", "C", 2.0)).toDF("src", "dst", "weight")
    val err = intercept[org.apache.spark.sql.AnalysisException](
      GraphAnalytics.pagerankIntW(dw, iters = 1))
    assert(err.getCondition.startsWith("DATATYPE_MISMATCH"), err.getMessage)
  }

  test("pagerankIntW: INT-typed weight·10^6 overflow throws on both paths") {
    // Spark types `weight * 1000000` as INT for an int weight column, so
    // 3000·10^6 overflows under ANSI; the driver must throw there too
    import spark.implicits._
    val e = Seq(("A", "B", 3000), ("B", "A", 1)).toDF("src", "dst", "weight")
    for (t <- Seq(ConnectedComponents.LocalEdgeThreshold, 0L)) {
      val err = intercept[Exception](
        GraphAnalytics.pagerankIntW(e, iters = 1, localThreshold = t).collect())
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), s"threshold $t: $err")
    }
  }

  test("mutualTriangles: reciprocity filter and canonical counting") {
    // Mutual triangle A-B-C; D->A unreciprocated must not create edges.
    val e = edges(
      ("A", "B"), ("B", "A"), ("B", "C"), ("C", "B"), ("A", "C"), ("C", "A"),
      ("D", "A"))
    val row = GraphAnalytics.mutualTriangles(e).collect().head
    assert((row.getLong(0), row.getLong(1)) == (1L, 3L))
  }

  test("mutualTriangles: triangle-free mutual graph counts zero") {
    val e = edges(("A", "B"), ("B", "A"), ("B", "C"), ("C", "B"))
    val row = GraphAnalytics.mutualTriangles(e).collect().head
    assert((row.getLong(0), row.getLong(1)) == (0L, 2L))
  }
}
