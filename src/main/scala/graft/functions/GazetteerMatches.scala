package graft.functions

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Aho–Corasick multi-pattern matcher over a broadcast gazetteer
  * (SURVEY.md §2.8 U1) — the mention-detection core.
  *
  * Built once on the driver from the (small) gazetteer table, shipped to
  * executors via torrent broadcast, evaluated per text span inside the
  * scan stage. One pass per span regardless of dictionary size — at the
  * 100 TB design point this is the difference between O(text) and
  * O(text × |gazetteer|).
  *
  * Matching semantics (fixed, tested):
  *  - ASCII-case-insensitive traversal (patterns stored lower-cased);
  *  - token boundaries required on both sides (char before `begin` and
  *    char at `end` must be non-alphanumeric or string edge);
  *  - longest-match-wins, non-overlapping: candidate matches sorted by
  *    (begin asc, length desc) and swept greedily left to right.
  */
final class AcTrie private (patterns: Array[String], types: Array[String]) extends Serializable {

  @transient private lazy val automaton: AcTrie.Automaton = AcTrie.build(patterns)

  def nPatterns: Int = patterns.length
  def patternAt(i: Int): String = patterns(i)
  def typeAt(i: Int): String = types(i)

  /** Mention GROUP per pattern: patterns collapse when they share
    * (normalized surface, coarse_type) — the grouping the n_occ
    * aggregate used to perform AFTER a corpus-wide shuffle. Because
    * AC transitions are exact after lower-casing, the matched text
    * slice normalizes identically to its pattern, so the normalized
    * surface is a per-PATTERN constant — precomputed here (with its
    * UTF8String form cached once per executor, not built per row). */
  @transient lazy val (groupOf: Array[Int], groupSurface: Array[UTF8String],
                      groupType: Array[UTF8String]) = {
    val idx = mutable.LinkedHashMap.empty[(String, String), Int]
    val of = new Array[Int](patterns.length)
    var i = 0
    while (i < patterns.length) {
      val key = (Normalizer.normalize(UTF8String.fromString(patterns(i))).toString, types(i))
      of(i) = idx.getOrElseUpdate(key, idx.size)
      i += 1
    }
    // keys is SET-like: mapping it directly would deduplicate equal
    // type strings and misalign the arrays — materialize order first
    val ks = idx.keys.toArray
    (of, ks.map(k => UTF8String.fromString(k._1)), ks.map(k => UTF8String.fromString(k._2)))
  }

  /** All boundary-respecting matches, longest-match non-overlap resolved.
    * Returns (begin, end, patternIdx) triples; `end` is exclusive. */
  def matches(text: String): Array[(Int, Int, Int)] = {
    val a = automaton
    val found = mutable.ArrayBuffer.empty[(Int, Int, Int)]
    var state = 0
    var i = 0
    val n = text.length
    while (i < n) {
      val c = Character.toLowerCase(text.charAt(i))
      state = a.step(state, c)
      // all patterns ending at position i (inclusive) via output links
      var out = state
      while (out != 0) {
        val hits = a.outputs(out)
        if (hits != null) {
          var k = 0
          while (k < hits.length) {
            val p = hits(k)
            val len = patterns(p).length
            val begin = i + 1 - len
            val boundaryL = begin == 0 || !AcTrie.isWordChar(text.charAt(begin - 1))
            val boundaryR = i + 1 == n || !AcTrie.isWordChar(text.charAt(i + 1))
            if (boundaryL && boundaryR) found += ((begin, i + 1, p))
            k += 1
          }
        }
        out = a.fail(out)
      }
      i += 1
    }
    // longest-match-wins, greedy non-overlap
    val sorted = found.sortBy { case (b, e, p) => (b, -(e - b), patterns(p)) }
    val kept = mutable.ArrayBuffer.empty[(Int, Int, Int)]
    var lastEnd = 0
    sorted.foreach { m =>
      if (m._1 >= lastEnd) { kept += m; lastEnd = m._2 }
    }
    kept.toArray
  }
}

object AcTrie {
  /** Word-char class aligned with the `[^a-z0-9]+` tokenizer used by the
    * SQL oracles: a char is part of a token iff its lower-case form is in
    * [a-z0-9]. Anything else (incl. non-ASCII letters) is a boundary. */
  def isWordChar(c0: Char): Boolean = {
    val c = Character.toLowerCase(c0)
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
  }

  /** Build from (surface, coarse_type) pairs; surfaces are lower-cased
    * and deduplicated (first type wins for a duplicate surface). */
  def apply(entries: Seq[(String, String)]): AcTrie = {
    val seen = mutable.LinkedHashMap.empty[String, String]
    entries.foreach { case (s, t) =>
      val k = s.toLowerCase
      if (k.nonEmpty && !seen.contains(k)) seen(k) = t
    }
    new AcTrie(seen.keys.toArray, seen.values.toArray)
  }

  /** Dense, allocation-free transition table: per state a sorted char
    * array + parallel target array, probed by binary search. The
    * obvious `Map[Char,Int].get` costs an Option allocation per input
    * character — at corpus scale that is hundreds of millions of
    * allocations per task and measurably anti-scales under many-core
    * contention (4.6× task-CPU inflation observed at local[32]). */
  private[functions] final class Automaton(
      val chars: Array[Array[Char]], // state -> sorted transition chars
      val targets: Array[Array[Int]], // state -> target states (parallel)
      val fail: Array[Int],
      val outputs: Array[Array[Int]]) extends Serializable {

    private def goto(state: Int, c: Char): Int = {
      val cs = chars(state)
      var lo = 0
      var hi = cs.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val v = cs(mid)
        if (v == c) return targets(state)(mid)
        else if (v < c) lo = mid + 1
        else hi = mid - 1
      }
      -1
    }

    def step(state0: Int, c: Char): Int = {
      var state = state0
      while (true) {
        val go = goto(state, c)
        if (go >= 0) return go
        if (state == 0) return 0
        state = fail(state)
      }
      0
    }
  }

  private[functions] def build(patterns: Array[String]): Automaton = {
    val next = mutable.ArrayBuffer(mutable.LongMap.empty[Int])
    val out = mutable.ArrayBuffer(mutable.ArrayBuffer.empty[Int])
    // goto graph
    patterns.zipWithIndex.foreach { case (pat, pi) =>
      var state = 0
      pat.foreach { ch =>
        val t = next(state)
        state = t.get(ch.toLong) match {
          case Some(s) => s
          case None =>
            next += mutable.LongMap.empty[Int]
            out += mutable.ArrayBuffer.empty[Int]
            val s = next.length - 1
            t(ch.toLong) = s
            s
        }
      }
      out(state) += pi
    }
    // BFS failure links
    val fail = Array.fill(next.length)(0)
    val queue = mutable.Queue.empty[Int]
    next(0).foreach { case (_, s) => queue.enqueue(s) }
    while (queue.nonEmpty) {
      val r = queue.dequeue()
      next(r).foreach { case (c, s) =>
        queue.enqueue(s)
        var f = fail(r)
        while (f != 0 && !next(f).contains(c)) f = fail(f)
        fail(s) = next(f).get(c).filter(_ != s).getOrElse(0)
      }
    }
    val chars = next.map(_.keys.toArray.map(_.toChar).sorted).toArray
    val targets = next.zip(chars).map { case (t, cs) =>
      cs.map(c => t(c.toLong))
    }.toArray
    new Automaton(chars, targets, fail, out.map(_.toArray).toArray)
  }

  val countStruct: StructType = StructType(Seq(
    StructField("surface", StringType, nullable = false),
    StructField("coarse_type", StringType, nullable = false),
    StructField("n_occ", LongType, nullable = false)))
}

/** `gazetteer_match_counts(text)` →
  * array<struct<surface,coarse_type,n_occ>> — the [[AcTrie.matches]]
  * occurrence stream ALREADY AGGREGATED per (normalized surface, type)
  * within the span. The per-span n_occ groupBy used to be the only
  * corpus-sized shuffle before the mention snapshot write, yet every
  * group lives entirely inside one exploded span row — so the matcher
  * counts in-register and the mention stage becomes a pure scan-side
  * projection: zero shuffles from parquet to snapshot at any corpus
  * size. Surfaces are emitted pre-normalized (see AcTrie.groupOf);
  * occurrence order within the span is irrelevant to counts, so the
  * output is deterministic (group ids are first-match-ordered per
  * dictionary, then sorted per span). Full `doGenCode`: the broadcast
  * handle is embedded in the generated class via `addReferenceObj`, so
  * the mention scan stays inside one whole-stage-codegen unit.
  */
case class GazetteerMatchCountsExpr(child: Expression, trie: Broadcast[AcTrie])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(AcTrie.countStruct, containsNull = false)
  override def prettyName: String = "gazetteer_match_counts"

  override def nullSafeEval(v: Any): Any =
    GazetteerMatchCountsExpr.run(v.asInstanceOf[UTF8String], trie.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val trieRef = ctx.addReferenceObj("gazTrieBc", trie,
      classOf[Broadcast[AcTrie]].getName)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.GazetteerMatchCountsExpr.run($c, (graft.functions.AcTrie) $trieRef.value())")
  }

  override protected def withNewChildInternal(newChild: Expression): GazetteerMatchCountsExpr =
    copy(child = newChild)
}

object GazetteerMatchCountsExpr {
  /** Match, map to groups, sort + run-length count — O(m log m) in the
    * handful of matches per span, no hashing, no per-row map. */
  def run(text0: UTF8String, t: AcTrie): GenericArrayData = {
    val ms = t.matches(text0.toString)
    if (ms.length == 0) return new GenericArrayData(Array.empty[Any])
    val groups = new Array[Int](ms.length)
    var i = 0
    while (i < ms.length) { groups(i) = t.groupOf(ms(i)._3); i += 1 }
    java.util.Arrays.sort(groups)
    val rows = mutable.ArrayBuffer.empty[Any]
    var start = 0
    i = 1
    while (i <= groups.length) {
      if (i == groups.length || groups(i) != groups(start)) {
        val g = groups(start)
        rows += InternalRow(t.groupSurface(g), t.groupType(g), (i - start).toLong)
        start = i
      }
      i += 1
    }
    new GenericArrayData(rows.toArray)
  }

  def apply(c: Column, trie: Broadcast[AcTrie]): Column =
    Bridge.toColumn(GazetteerMatchCountsExpr(Bridge.toExpression(c), trie))
}
