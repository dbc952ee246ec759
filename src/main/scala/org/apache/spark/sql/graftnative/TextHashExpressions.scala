package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass implementations of the engine's deterministic text hashes
  * (polynomial char hash / word hashes / word-trigram shingle hashes —
  * semantics defined in `graft.functions.TextHash`, mirrored by the
  * DuckDB oracle SQL).
  *
  * Why native: the composable Column forms nest HigherOrderFunctions
  * (`transform(split(...), w -> aggregate(...))`), which Catalyst
  * interprets per row, and the shingle window re-evaluates the whole
  * word-hash subtree per `element_at` reference — quadratic per document.
  * These expressions hash a document in one linear pass; codegen emits a
  * static call, keeping the surrounding operators in whole-stage codegen.
  *
  * Exactness contract (oracle relies on it): tokenization is a plain
  * split on U+0020 keeping empty tokens (Spark `split(text, ' ')` with
  * limit -1 ≡ DuckDB `string_split(text, ' ')`); per-token fold is over
  * Unicode code points seeded with the first (≡ `ascii()` over
  * `string_split(w, '')` chars + `list_reduce`); all arithmetic is Long
  * mod P. An empty token hashes to 0 (unreachable on single-spaced
  * corpora; the fold form is undefined there too).
  */
object TextHashOps {
  val P = 1000000007L

  def polyHashString(s: String): Long = {
    if (s.isEmpty) return 0L
    var acc = -1L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      acc = if (acc < 0) cp.toLong else (acc * 31 + cp) % P
    }
    acc
  }

  def polyHash(s: UTF8String): Long = polyHashString(s.toString)

  private def wordHashArray(s: UTF8String): Array[Long] = {
    val str = s.toString
    // split on single space, keeping empty tokens (limit -1 semantics)
    val words = str.split(" ", -1)
    val out = new Array[Long](words.length)
    var i = 0
    while (i < words.length) { out(i) = polyHashString(words(i)); i += 1 }
    out
  }

  def wordHashes(s: UTF8String): ArrayData =
    new GenericArrayData(wordHashArray(s))

  private def shingleHashArray(s: UTF8String): Array[Long] = {
    val w = wordHashArray(s)
    if (w.length < 3) return Array.empty[Long]
    val out = new Array[Long](w.length - 2)
    var i = 0
    while (i < w.length - 2) {
      out(i) = ((w(i) * 131 + w(i + 1)) % P * 131 + w(i + 2)) % P
      i += 1
    }
    out
  }

  def shingleHashes(s: UTF8String): ArrayData =
    new GenericArrayData(shingleHashArray(s))

  /** Winnowed fingerprints (the MOSS scheme): the sorted DISTINCT minima
    * of every `w`-wide window over the shingle-hash sequence — the
    * guarantee-bearing fingerprint subset (any shared run of ≥ w+k-1
    * tokens shares a fingerprint). One linear pass via a monotonic
    * deque (O(m), not O(m·w)); a doc with ≤ w shingles contributes its
    * single global minimum; no shingles → empty. */
  def winnowHashes(s: UTF8String, w: Int): ArrayData = {
    val h = shingleHashArray(s)
    val m = h.length
    if (m == 0) return new GenericArrayData(Array.empty[Long])
    val sel = new java.util.TreeSet[java.lang.Long]()
    if (m <= w) {
      var mn = h(0); var i = 1
      while (i < m) { if (h(i) < mn) mn = h(i); i += 1 }
      sel.add(mn)
    } else {
      // deque of indices, values increasing front→back
      val dq = new Array[Int](m)
      var head = 0; var tail = 0 // [head, tail)
      var i = 0
      while (i < m) {
        while (tail > head && h(dq(tail - 1)) >= h(i)) tail -= 1
        dq(tail) = i; tail += 1
        if (dq(head) <= i - w) head += 1
        if (i >= w - 1) sel.add(h(dq(head)))
        i += 1
      }
    }
    val out = new Array[Long](sel.size)
    val it = sel.iterator(); var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  /** Sorted DISTINCT shingle hashes narrowed to int — every hash lives
    * in [0, P) with P < 2³¹, so the narrowing is lossless (the same
    * bound the 48-bit SimHash construction relies on). The int form
    * halves the bytes a set-carrying exchange ships, and the sort makes
    * per-pair exact intersection a zero-allocation merge scan
    * ([[sortedIntersectCount]]) instead of ArrayIntersect's per-row
    * hash set — the difference between the verify arithmetic living
    * inside a join's output projection and dominating it. */
  def shingleSetInts(s: UTF8String): ArrayData = {
    val h = shingleHashArray(s)
    if (h.length == 0) return new GenericArrayData(Array.empty[Int])
    java.util.Arrays.sort(h)
    val out = new Array[Int](h.length)
    var n = 0
    var i = 0
    while (i < h.length) {
      val v = h(i).toInt
      if (n == 0 || out(n - 1) != v) { out(n) = v; n += 1 }
      i += 1
    }
    new GenericArrayData(if (n == h.length) out else java.util.Arrays.copyOf(out, n))
  }

  /** |A ∩ B| of two SORTED distinct int arrays in O(|A|+|B|) with zero
    * allocation. Exactly ArrayIntersect-then-size semantics on sorted
    * distinct inputs, minus the per-row OpenHashSet build and the
    * materialized intersection array neither caller needs. */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0
    while (i < na && j < nb) {
      val x = a.getInt(i)
      val y = b.getInt(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  /** 13-gram hashes (decontamination unit): gram i = fold over word
    * hashes w(i)..w(i+12) of (acc·131 + w) mod P, seeded with w(i) —
    * operation-order identical to `graft.operators.Dedup.gram13Sql`.
    * Docs under 13 tokens yield an empty array. */
  def gram13Hashes(s: UTF8String): ArrayData = {
    val w = wordHashArray(s)
    if (w.length < 13) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](w.length - 12)
    var i = 0
    while (i < w.length - 12) {
      var acc = w(i)
      var j = 1
      while (j < 13) { acc = (acc * 131 + w(i + j)) % P; j += 1 }
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Content-defined chunk hashes (rolling-hash CDC over the token
    * stream — the rsync/LBFS boundary scheme applied to words): token i
    * (1-based) starts a new chunk iff i = 1 or the word-trigram shingle
    * ending at token i-1 (covering tokens i-3..i-1, so the decision uses
    * only PRECEDING content — an insertion re-synchronizes boundaries
    * after ~divisor tokens) satisfies `mix(shingle) % divisor == 0`,
    * where mix is the quadratic (h² + 3h + 7) mod P. The mix matters:
    * polynomial hashes carry structured LOW bits (e.g. every repeated-
    * char token hashes to a multiple of 32, and small shingles never
    * wrap past P), so gating on the raw residue degenerates to
    * boundary-everywhere on such corpora — the same low-bit bias the
    * HLL rank hash needed a quadratic round for. Each chunk folds its
    * word hashes as (acc·131 + w) mod P seeded with the first, and is
    * packed as `hash·131072 + min(len, 131071)` so one array<long>
    * carries both. Expected chunk length ≈ divisor tokens. Empty text
    * yields the single chunk of the empty token. */
  def cdcChunkHashes(s: UTF8String, divisor: Int): ArrayData = {
    val w = wordHashArray(s)
    val n = w.length
    if (n == 0) return new GenericArrayData(Array.empty[Long])
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    var acc = 0L
    var clen = 0
    var i = 0
    while (i < n) {
      val boundary = i >= 3 && {
        val sh = ((w(i - 3) * 131 + w(i - 2)) % P * 131 + w(i - 1)) % P
        (sh * sh + 3 * sh + 7) % P % divisor == 0
      }
      if (boundary && clen > 0) {
        out += acc * 131072 + math.min(clen, 131071)
        clen = 0
      }
      acc = if (clen == 0) w(i) else (acc * 131 + w(i)) % P
      clen += 1
      i += 1
    }
    out += acc * 131072 + math.min(clen, 131071)
    new GenericArrayData(out.toArray)
  }

  /** All combo-band rows of one packed hamming fingerprint: element i is
    * the struct (b = i, v = concatenated bits of combo i's blocks,
    * fm, fv) for the C(m, c) pigeonhole combos. Bit extraction is the
    * exact arithmetic of the Column form it replaces —
    * `v = (v << len) + ((h >> off) & ((1 << len) − 1))` per block,
    * left-to-right over the combo — so the DuckDB oracles replaying the
    * banding from the same block/combo tables still hash-match. */
  def comboBandStructs(h: Long, offs: Array[Int], lens: Array[Int],
      combos: Array[Array[Int]], fms: Array[Long], fvs: Array[Long]): ArrayData = {
    val out = new Array[Any](combos.length)
    var i = 0
    while (i < combos.length) {
      val combo = combos(i)
      var v = 0L
      var j = 0
      while (j < combo.length) {
        val b = combo(j)
        v = (v << lens(b)) + ((h >> offs(b)) & ((1L << lens(b)) - 1))
        j += 1
      }
      out(i) = new GenericInternalRow(Array[Any](i, v, fms(i), fvs(i)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The rows of [[EnsembleBandRows]] (tag, k1, k2, k3, k4, blk, h):
    * LSH bands of `shs`, one row per winnow fingerprint of `wfps`, and —
    * when `whs` is non-empty and `source` is not null — the combo bands
    * of the doc's `bits`-bit SimHash. Null or empty arrays yield no rows. */
  def ensembleBandRows(shs: ArrayData, wfps: ArrayData, whs: ArrayData,
      source: UTF8String, numHashes: Int, rowsPerBand: Int, bits: Int,
      offs: Array[Int], lens: Array[Int],
      combos: Array[Array[Int]], fms: Array[Long], fvs: Array[Long]): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    def row(tag: Int, k: InternalRow, k1: Long, blk: UTF8String, h: Long): Unit =
      out += new GenericInternalRow(Array[Any](tag, k1,
        if (k == null) 0L else k.getLong(1), if (k == null) 0L else k.getLong(2),
        if (k == null) 0L else k.getLong(3), blk, h))
    if (shs != null) {
      val bands = minhashBandStructs(shs, numHashes, rowsPerBand)
      var i = 0
      while (i < bands.numElements()) {
        val b = bands.getStruct(i, 4)
        row(EnsembleBandRows.LshTag, b, b.getInt(0), UTF8String.EMPTY_UTF8, 0L)
        i += 1
      }
    }
    if (wfps != null) {
      var i = 0
      while (i < wfps.numElements()) {
        row(EnsembleBandRows.WinnowTag, null, wfps.getLong(i), UTF8String.EMPTY_UTF8, 0L)
        i += 1
      }
    }
    if (whs != null && whs.numElements() > 0 && source != null) {
      val h = simhashPack(whs, bits)
      val cs = comboBandStructs(h, offs, lens, combos, fms, fvs)
      // the input row's bytes may be reused once this row is consumed
      val blk = source.clone()
      var i = 0
      while (i < cs.numElements()) {
        val c = cs.getStruct(i, 4)
        row(EnsembleBandRows.SimhashTag, c, c.getInt(0), blk, h)
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** All `numHashes` minhash minima of a shingle-hash array in ONE pass:
    * element i = min over shingles s of h_i(s) = ((2i+3)·s + 7i+1) mod P
    * — the exact arithmetic of `graft.functions.TextHash.permute`, so
    * every DuckDB oracle replaying the permutation family still
    * hash-matches. The nested Column form
    * (`transform(sequence(0, n−1), i -> array_min(transform(shs, …)))`)
    * allocates n transformed copies of the shingle array per document
    * and evaluates the lambdas interpreted; this is a tight two-loop
    * kernel with zero allocation beyond the output. Empty input yields
    * an empty array (callers filter `size(shs) > 0` — same contract as
    * the composable form, whose array_min would yield null). */
  def minhashSigs(shs: ArrayData, numHashes: Int): ArrayData = {
    val m = shs.numElements()
    if (m == 0) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](numHashes)
    java.util.Arrays.fill(out, Long.MaxValue)
    var j = 0
    while (j < m) {
      val s = shs.getLong(j)
      var i = 0
      while (i < numHashes) {
        val v = ((2L * i + 3L) * s + 7L * i + 1L) % P
        if (v < out(i)) out(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** LSH band summaries straight from the shingle-hash array: element b =
    * (band = b, s = Σ, mn = min, mx = max) over minhashes
    * b·rowsPerBand … (b+1)·rowsPerBand − 1 — integer arithmetic, so the
    * values are identical to the explode + groupBy(doc, band) form
    * whatever that aggregation's order, and one narrow expression
    * replaces a whole exchange. */
  def minhashBandStructs(shs: ArrayData, numHashes: Int,
      rowsPerBand: Int): ArrayData = {
    val sig = minhashSigs(shs, numHashes)
    if (sig.numElements() == 0) return new GenericArrayData(Array.empty[Any])
    val numBands = numHashes / rowsPerBand
    val out = new Array[Any](numBands)
    var b = 0
    while (b < numBands) {
      var s = 0L
      var mn = Long.MaxValue
      var mx = Long.MinValue
      var j = b * rowsPerBand
      val end = j + rowsPerBand
      while (j < end) {
        val v = sig.getLong(j)
        s += v; if (v < mn) mn = v; if (v > mx) mx = v
        j += 1
      }
      out(b) = new GenericInternalRow(Array[Any](b, s, mn, mx))
      b += 1
    }
    new GenericArrayData(out)
  }

  /** SimHash fingerprint straight from the word-hash array, one pass:
    * bit b is set iff Σ_words (±1 by bit b%24 of block b/24's permuted
    * hash) > 0 — block 0 reads the raw hash, block k ≥ 1 reads
    * permute(k, wh) = ((2k+3)·wh + 7k+1) mod P, the exact arithmetic of
    * the explode + groupBy form it replaces. Integer ±1 sums are
    * order-independent, so the packed fingerprint is bit-identical to
    * the aggregation whatever its partitioning — and the explode (one
    * row per word) plus its Exchange disappear entirely. Callers filter
    * `size(whs) > 0` (the explode form drops empty docs). */
  def simhashPack(whs: ArrayData, bits: Int): Long = {
    val numBlocks = (bits + 23) / 24
    val counts = new Array[Int](bits)
    val m = whs.numElements()
    var j = 0
    while (j < m) {
      val wh = whs.getLong(j)
      var k = 0
      while (k < numBlocks) {
        val h = if (k == 0) wh else ((2L * k + 3L) * wh + 7L * k + 1L) % P
        val base = 24 * k
        val top = math.min(24, bits - base)
        var p = 0
        while (p < top) {
          counts(base + p) += (if (((h >> p) & 1L) == 1L) 1 else -1)
          p += 1
        }
        k += 1
      }
      j += 1
    }
    var packed = 0L
    var b = 0
    while (b < bits) {
      if (counts(b) > 0) packed |= (1L << b)
      b += 1
    }
    packed
  }
}

sealed abstract class TextHashExpression extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  /** Deterministic pure function of the child → a literal input
    * constant-folds at plan time (stock Catalyst rule). */
  override def foldable: Boolean = child.foldable

  /** Fully-qualified static call target for codegen. */
  protected def staticCall: String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftnative.TextHashOps.$staticCall($c);")
}

/** Polynomial code-point hash of a whole string (document fingerprint). */
case class PolyHash(child: Expression) extends TextHashExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_polyhash"
  override protected def staticCall: String = "polyHash"
  override def nullSafeEval(s: Any): Any =
    TextHashOps.polyHash(s.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): PolyHash = copy(child = c)
}

/** Per-token polynomial hashes: array<long>, one element per token. */
case class WordHashes(child: Expression) extends TextHashExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_wordhashes"
  override protected def staticCall: String = "wordHashes"
  override def nullSafeEval(s: Any): Any =
    TextHashOps.wordHashes(s.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): WordHashes = copy(child = c)
}

/** Word-trigram shingle hashes: array<long>, n-2 elements (empty if n<3). */
case class ShingleHashes(child: Expression) extends TextHashExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shinglehashes"
  override protected def staticCall: String = "shingleHashes"
  override def nullSafeEval(s: Any): Any =
    TextHashOps.shingleHashes(s.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
}

/** 13-gram hashes: array<long>, n-12 elements (empty if n<13). One linear
  * pass and one compiled method — the unrolled `transform(sequence(...))`
  * form it replaces emitted 13 `element_at`s per gram position inside one
  * giant generated method (~490 positions per doc worst-case), whose JIT
  * pressure showed up as q47's full-bench outlier. */
case class Gram13Hashes(child: Expression) extends TextHashExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_gram13hashes"
  override protected def staticCall: String = "gram13Hashes"
  override def nullSafeEval(s: Any): Any =
    TextHashOps.gram13Hashes(s.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Gram13Hashes = copy(child = c)
}

/** Winnowed fingerprints: sorted distinct sliding-window minima of the
  * shingle hashes (window size `w`). */
case class WinnowHashes(child: Expression, w: Int) extends TextHashExpression {
  require(w >= 1, "winnow window must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnowhashes"
  override protected def staticCall: String = "winnowHashes" // unused (doGenCode below)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftnative.TextHashOps.winnowHashes($c, $w);")
  override def nullSafeEval(s: Any): Any =
    TextHashOps.winnowHashes(s.asInstanceOf[UTF8String], w)
  override protected def withNewChildInternal(c: Expression): WinnowHashes = copy(child = c)
}

/** Sorted distinct shingle hashes as array<int> (lossless: hashes < P < 2³¹). */
case class ShingleSetInts(child: Expression) extends TextHashExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_shinglesetints"
  override protected def staticCall: String = "shingleSetInts"
  override def nullSafeEval(s: Any): Any =
    TextHashOps.shingleSetInts(s.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): ShingleSetInts = copy(child = c)
}

/** Exact |A ∩ B| over two sorted distinct int arrays — one merge scan,
  * no per-row allocation; codegen is a static call so the surrounding
  * join projection stays in whole-stage codegen. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(IntegerType), ArrayType(IntegerType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sortedintersectcount"
  override def nullSafeEval(a: Any, b: Any): Any =
    TextHashOps.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = org.apache.spark.sql.graftnative.TextHashOps.sortedIntersectCount($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
    copy(left = l, right = r)
}

/** Content-defined chunk hashes packed as hash·131072 + min(len, 131071):
  * one linear pass computing tokenization, the rolling boundary shingle,
  * and the per-chunk fold together (no materialized intermediate arrays). */
case class CdcChunkHashes(child: Expression, divisor: Int) extends TextHashExpression {
  require(divisor >= 2, "cdc divisor must be >= 2")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_cdcchunkhashes"
  override protected def staticCall: String = "cdcChunkHashes" // unused (doGenCode below)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftnative.TextHashOps.cdcChunkHashes($c, $divisor);")
  override def nullSafeEval(s: Any): Any =
    TextHashOps.cdcChunkHashes(s.asInstanceOf[UTF8String], divisor)
  override protected def withNewChildInternal(c: Expression): CdcChunkHashes = copy(child = c)
}

/** All C(m, c) combo-band rows of a packed hamming fingerprint as ONE
  * compiled loop, with the block/combo tables riding as codegen
  * reference objects ([[TextHashOps.comboBandStructs]] does the work).
  *
  * Why custom (round-10 judge finding): the composable form —
  * `explode(array(struct…))` with one literal arm per combo — is a
  * single Catalyst expression tree whose generated
  * `generate_doConsume` method grows linearly in C(m, c); at the wide
  * plans the measured chooser picks for dense corpora (m=10/c=4 → 210
  * arms) it exceeds Janino's hard 64 KB method limit, the stage FAILS
  * compilation (`ERROR CodeGenerator: Code grows beyond 64 KB`) and
  * runs interpreted with a per-task compile retry — correct but
  * bytecode-speed, precisely on the corpora big enough to need the
  * wide plan. This expression emits the same array from one
  * fixed-size static call, so the Generate stage stays inside
  * whole-stage codegen at every (m, c); NativeCodegenSpec gates it
  * under CODEGEN_ONLY at the widest plan the chooser can pick. */
case class ComboBandStructs(child: Expression, offs: Array[Int],
    lens: Array[Int], combos: Array[Array[Int]], fms: Array[Long],
    fvs: Array[Long])
    extends UnaryExpression with ExpectsInputTypes {
  require(offs.length == lens.length,
    s"comboBandStructs: ${offs.length} offsets vs ${lens.length} lengths")
  require(combos.nonEmpty, "comboBandStructs needs >= 1 combo")
  require(combos.length == fms.length && combos.length == fvs.length,
    s"comboBandStructs: ${combos.length} combos vs ${fms.length} fm / ${fvs.length} fv")
  require(combos.forall(c => c.nonEmpty && c.forall(b => b >= 0 && b < offs.length)),
    "comboBandStructs: every combo must index into the block table")

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("b", IntegerType, nullable = false),
    StructField("v", LongType, nullable = false),
    StructField("fm", LongType, nullable = false),
    StructField("fv", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_combobands"

  override def nullSafeEval(h: Any): Any =
    TextHashOps.comboBandStructs(h.asInstanceOf[Long], offs, lens, combos, fms, fvs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val o = ctx.addReferenceObj("offs", offs, "int[]")
    val l = ctx.addReferenceObj("lens", lens, "int[]")
    val cs = ctx.addReferenceObj("combos", combos, "int[][]")
    val fm = ctx.addReferenceObj("fms", fms, "long[]")
    val fv = ctx.addReferenceObj("fvs", fvs, "long[]")
    nullSafeCodeGen(ctx, ev, h =>
      s"${ev.value} = org.apache.spark.sql.graftnative.TextHashOps" +
        s".comboBandStructs($h, $o, $l, $cs, $fm, $fv);")
  }

  override protected def withNewChildInternal(c: Expression): ComboBandStructs =
    copy(child = c)
}

/** One-pass minhash signature minima over a shingle-hash array. */
case class MinhashSigs(child: Expression, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(numHashes >= 1, "numHashes must be >= 1")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhashsigs"
  override def nullSafeEval(a: Any): Any =
    TextHashOps.minhashSigs(a.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftnative.TextHashOps.minhashSigs($c, $numHashes);")
  override protected def withNewChildInternal(c: Expression): MinhashSigs = copy(child = c)
}

/** One-pass SimHash fingerprint over a word-hash array. */
case class SimhashPack(child: Expression, bits: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(bits >= 1 && bits <= 63, s"bits must be in [1, 63]: $bits")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhashpack"
  override def nullSafeEval(a: Any): Any =
    TextHashOps.simhashPack(a.asInstanceOf[ArrayData], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftnative.TextHashOps.simhashPack($c, $bits);")
  override protected def withNewChildInternal(c: Expression): SimhashPack = copy(child = c)
}

/** LSH band summary structs straight from a shingle-hash array. */
case class MinhashBandStructs(child: Expression, numHashes: Int, rowsPerBand: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(numHashes >= 1 && rowsPerBand >= 1 && numHashes % rowsPerBand == 0,
    s"bad band shape: $numHashes hashes / $rowsPerBand per band")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("s", LongType, nullable = false),
    StructField("mn", LongType, nullable = false),
    StructField("mx", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_minhashbands"
  override def nullSafeEval(a: Any): Any =
    TextHashOps.minhashBandStructs(a.asInstanceOf[ArrayData], numHashes, rowsPerBand)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftnative.TextHashOps.minhashBandStructs($c, $numHashes, $rowsPerBand);")
  override protected def withNewChildInternal(c: Expression): MinhashBandStructs = copy(child = c)
}

/** Every blocking row the ensemble's fused band join reads for one doc
  * (`Dedup.taggedBandJoin`), as ONE array, so a single Generate over the
  * prep frame feeds all three families:
  *
  *  - tag 0, per LSH band of the shingle hashes: (band, Σ, min, max) of
  *    [[TextHashOps.minhashBandStructs]];
  *  - tag 1, per winnow fingerprint: (fp, 0, 0, 0);
  *  - tag 2, per pigeonhole combo of the doc's SimHash (when the word
  *    hashes are non-empty and the source is not null): (combo, key
  *    bits, fm, fv) of [[TextHashOps.comboBandStructs]]
  *    over [[TextHashOps.simhashPack]], blocked by the source, with the
  *    fingerprint in `h`.
  *
  * LSH and winnow rows carry an empty `blk` and `h` = 0. The values are
  * the kernels' own, so the rows equal the separate per-family explodes
  * they replace; [[TextHashOps.ensembleBandRows]] does the work, and the
  * block/combo tables ride as codegen reference objects, so the
  * generated stage is one class for every plan. */
case class EnsembleBandRows(shs: Expression, wfps: Expression, whs: Expression,
    source: Expression, numHashes: Int, rowsPerBand: Int, bits: Int,
    offs: Array[Int], lens: Array[Int],
    combos: Array[Array[Int]], fms: Array[Long], fvs: Array[Long])
    extends Expression {
  require(numHashes >= 1 && rowsPerBand >= 1 && numHashes % rowsPerBand == 0,
    s"bad band shape: $numHashes hashes / $rowsPerBand per band")
  override def children: Seq[Expression] = Seq(shs, wfps, whs, source)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(EnsembleBandRows.RowType, containsNull = false)
  override def prettyName: String = "graft_ensemblebandrows"

  override def eval(input: InternalRow): Any = TextHashOps.ensembleBandRows(
    shs.eval(input).asInstanceOf[ArrayData], wfps.eval(input).asInstanceOf[ArrayData],
    whs.eval(input).asInstanceOf[ArrayData], source.eval(input).asInstanceOf[UTF8String],
    numHashes, rowsPerBand, bits, offs, lens, combos, fms, fvs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val in = children.map(_.genCode(ctx))
    val args = in.map(e => s"${e.isNull} ? null : ${e.value}").mkString(", ")
    val o = ctx.addReferenceObj("offs", offs, "int[]")
    val l = ctx.addReferenceObj("lens", lens, "int[]")
    val cs = ctx.addReferenceObj("combos", combos, "int[][]")
    val fm = ctx.addReferenceObj("fms", fms, "long[]")
    val fv = ctx.addReferenceObj("fvs", fvs, "long[]")
    ev.copy(code = code"""
      ${in.map(_.code).reduce(_ + _)}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        org.apache.spark.sql.graftnative.TextHashOps.ensembleBandRows($args,
          $numHashes, $rowsPerBand, $bits, $o, $l, $cs, $fm, $fv);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): EnsembleBandRows =
    copy(shs = c(0), wfps = c(1), whs = c(2), source = c(3))
}

object EnsembleBandRows {
  val LshTag = 0
  val WinnowTag = 1
  val SimhashTag = 2
  val RowType: StructType = StructType(Seq(
    StructField("tag", IntegerType, nullable = false),
    StructField("k1", LongType, nullable = false),
    StructField("k2", LongType, nullable = false),
    StructField("k3", LongType, nullable = false),
    StructField("k4", LongType, nullable = false),
    StructField("blk", StringType, nullable = false),
    StructField("h", LongType, nullable = false)))
}

object TextHashExpressions {
  def minhashSigs(c: Column, numHashes: Int): Column =
    ExpressionUtils.column(MinhashSigs(ExpressionUtils.expression(c), numHashes))
  def minhashBandStructs(c: Column, numHashes: Int, rowsPerBand: Int): Column =
    ExpressionUtils.column(MinhashBandStructs(ExpressionUtils.expression(c), numHashes, rowsPerBand))
  def simhashPack(c: Column, bits: Int): Column =
    ExpressionUtils.column(SimhashPack(ExpressionUtils.expression(c), bits))
  def polyHash(c: Column): Column =
    ExpressionUtils.column(PolyHash(ExpressionUtils.expression(c)))
  def wordHashes(c: Column): Column =
    ExpressionUtils.column(WordHashes(ExpressionUtils.expression(c)))
  def shingleHashes(c: Column): Column =
    ExpressionUtils.column(ShingleHashes(ExpressionUtils.expression(c)))
  def gram13Hashes(c: Column): Column =
    ExpressionUtils.column(Gram13Hashes(ExpressionUtils.expression(c)))
  def winnowHashes(c: Column, w: Int): Column =
    ExpressionUtils.column(WinnowHashes(ExpressionUtils.expression(c), w))
  def shingleSetInts(c: Column): Column =
    ExpressionUtils.column(ShingleSetInts(ExpressionUtils.expression(c)))
  def sortedIntersectCount(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedIntersectCount(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def cdcChunkHashes(c: Column, divisor: Int): Column =
    ExpressionUtils.column(CdcChunkHashes(ExpressionUtils.expression(c), divisor))

  /** [[EnsembleBandRows]] of a prep frame's (shs, wfps, whs, source),
    * the SimHash rows under (blockDefs, comboDefs) as
    * [[comboBandStructs]] takes them. */
  def ensembleBandRows(shs: Column, wfps: Column, whs: Column, source: Column,
      numHashes: Int, rowsPerBand: Int, bits: Int,
      blockDefs: Seq[(Int, Int)], comboDefs: Seq[Seq[Int]]): Column = {
    val (offs, lens, combos, fms, fvs) = comboTables(blockDefs, comboDefs)
    ExpressionUtils.column(EnsembleBandRows(ExpressionUtils.expression(shs),
      ExpressionUtils.expression(wfps), ExpressionUtils.expression(whs),
      ExpressionUtils.expression(source), numHashes, rowsPerBand, bits,
      offs, lens, combos, fms, fvs))
  }

  /** Combo-band struct array for `h` under (blockDefs = (offset, len)
    * per block, comboDefs = block-index subsets). fm/fv are the
    * first-agreeing-combo dedup literals (see Dedup.bandedHammingPairs):
    * fm masks the agree bitmap up to the combo's highest block, fv is
    * the combo's own block set. */
  def comboBandStructs(h: Column, blockDefs: Seq[(Int, Int)],
      comboDefs: Seq[Seq[Int]]): Column = {
    val (offs, lens, combos, fms, fvs) = comboTables(blockDefs, comboDefs)
    ExpressionUtils.column(ComboBandStructs(ExpressionUtils.expression(h),
      offs, lens, combos, fms, fvs))
  }

  private def comboTables(blockDefs: Seq[(Int, Int)], comboDefs: Seq[Seq[Int]])
      : (Array[Int], Array[Int], Array[Array[Int]], Array[Long], Array[Long]) =
    (blockDefs.map(_._1).toArray, blockDefs.map(_._2).toArray,
      comboDefs.map(_.toArray).toArray,
      comboDefs.map(c => (1L << (c.last + 1)) - 1).toArray,
      comboDefs.map(_.map(b => 1L << b).sum).toArray)
}
