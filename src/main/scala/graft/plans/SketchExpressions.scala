package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the sketch hot paths (SURVEY.md §7
  * "custom vs built-in": upgrade to a custom Expression when bench demands
  * — bench demanded).
  *
  * The higher-order-function formulations of MinHash/SimHash evaluate an
  * interpreted lambda per array element: a 64-hash MinHash signature over
  * ~900 shingles costs ~58k interpreted calls per document and allocates a
  * fresh 64-element array per token for SimHash. These expressions do the
  * same math in one tight JVM loop per row — identical results (both are
  * built on the same XXH64 with Spark's seed 42), orders of magnitude
  * less overhead, and no change to the operator API.
  */

/** MinHash signature: for i in 0..k-1, min over shingles of
  * xxhash64(i, shingle). Bit-compatible with
  * `array_min(transform(shingles, s => xxhash64(lit(i), s)))`. */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    // seeds[i] = xxhash64 state after hashing the int literal i (Spark's
    // XxHash64 expression folds children left-to-right starting at 42).
    val seeds = new Array[Long](k)
    var i = 0
    while (i < k) { seeds(i) = XXH64.hashInt(i, 42L); i += 1 }
    var j = 0
    while (j < n) {
      val s = arr.getUTF8String(j)
      if (s != null) {
        var h = 0
        while (h < k) {
          val v = XXH64.hashUTF8String(s, seeds(h))
          if (v < mins(h)) mins(h) = v
          h += 1
        }
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** 64-bit SimHash: per token t, h = xxhash64(t); bit j contributes +1 when
  * ((h >> j) & 1) == 1 else -1; output bit j = 1 iff sum >= 0. Returns
  * array<int> of 64 bits, identical to the HOF formulation. */
case class SimHashBits(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sums = new Array[Long](64)
    var j = 0
    while (j < n) {
      val s = arr.getUTF8String(j)
      if (s != null) {
        val h = XXH64.hashUTF8String(s, 42L)
        var b = 0
        while (b < 64) {
          sums(b) += (if (((h >>> b) & 1L) == 1L) 1L else -1L)
          b += 1
        }
      }
      j += 1
    }
    val bits = new Array[Int](64)
    var b = 0
    while (b < 64) { bits(b) = if (sums(b) >= 0L) 1 else 0; b += 1 }
    new GenericArrayData(bits)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashBits =
    copy(child = newChild)
}

/** Dot product of `planes` (row-major, numPlanes x dim) against a numeric
  * array column, emitting the concatenated sign-bit bucket string — the
  * LSH hyperplane sketch in one pass instead of planes x dim interpreted
  * lambda calls. */
case class HyperplaneBucketExpr(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  // lazy: child is unresolved at construction time (analysis resolves it)
  @transient private lazy val elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case other => throw new IllegalArgumentException(s"expected array, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val dim = math.min(arr.numElements(), planes.headOption.map(_.length).getOrElse(0))
    val vec = new Array[Double](dim)
    var i = 0
    elemType match {
      case FloatType  => while (i < dim) { vec(i) = arr.getFloat(i); i += 1 }
      case DoubleType => while (i < dim) { vec(i) = arr.getDouble(i); i += 1 }
      case _ => while (i < dim) { vec(i) = arr.get(i, elemType).toString.toDouble; i += 1 }
    }
    val sb = new java.lang.StringBuilder(planes.length)
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      var d = 0.0
      var j = 0
      while (j < dim) { d += vec(j) * plane(j); j += 1 }
      sb.append(if (d >= 0.0) '1' else '0')
      p += 1
    }
    UTF8String.fromString(sb.toString)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucketExpr =
    copy(child = newChild)
}

/** MULTI-PROBE perturbation buckets for hyperplane LSH (Lv et al.,
  * "Multi-Probe LSH", VLDB 2007 — the single-bit-flip variant): emits
  * `probes` bucket strings — the base sign-bit bucket first, then the
  * buckets obtained by flipping, one at a time, the sign bit of the
  * plane with the smallest |dot| margin, the next smallest, and so on
  * (ties broken by plane index, ascending). A near-boundary plane is
  * exactly the bit most likely to differ between a query and its true
  * neighbors, so probing those flips recovers most of the recall extra
  * hash tables would buy at a fraction of the index cost. Probing is
  * QUERY-side only: the corpus keeps one bucket per table, so the index
  * size and the corpus scan are unchanged — only the probe join fans
  * out ×probes. */
case class HyperplaneProbesExpr(child: Expression, planes: Array[Array[Double]],
                                probes: Int)
    extends UnaryExpression with CodegenFallback {
  require(probes >= 1 && probes <= planes.length + 1,
    s"probes must be in [1, ${planes.length + 1}], got $probes")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  @transient private lazy val elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case other => throw new IllegalArgumentException(s"expected array, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val nPlanes = planes.length
    val dim = math.min(arr.numElements(), planes.headOption.map(_.length).getOrElse(0))
    val vec = new Array[Double](dim)
    var i = 0
    elemType match {
      case FloatType  => while (i < dim) { vec(i) = arr.getFloat(i); i += 1 }
      case DoubleType => while (i < dim) { vec(i) = arr.getDouble(i); i += 1 }
      case _ => while (i < dim) { vec(i) = arr.get(i, elemType).toString.toDouble; i += 1 }
    }
    val dots = new Array[Double](nPlanes)
    val base = new Array[Char](nPlanes)
    var p = 0
    while (p < nPlanes) {
      val plane = planes(p)
      var d = 0.0
      var j = 0
      while (j < dim) { d += vec(j) * plane(j); j += 1 }
      dots(p) = d
      base(p) = if (d >= 0.0) '1' else '0'
      p += 1
    }
    // margin order: |dot| ascending, plane index ascending on ties —
    // mirrored EXACTLY by the q129 oracle's row_number(ORDER BY abs(dp), pli)
    val order = Array.tabulate(nPlanes)(identity)
      .sortBy(p => (math.abs(dots(p)), p))
    val out = new Array[Any](probes)
    out(0) = UTF8String.fromString(new String(base))
    var r = 1
    while (r < probes) {
      val flip = order(r - 1)
      val b = base.clone()
      b(flip) = if (b(flip) == '1') '0' else '1'
      out(r) = UTF8String.fromString(new String(b))
      r += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneProbesExpr =
    copy(child = newChild)
}

/** Per-subspace PQ squared-L2 distance table for a numeric-array vector:
  * `out(s)(c)` = ‖vec[s·dsub : (s+1)·dsub] − cbs(s)(c)‖², accumulated
  * left-to-right within each subspace — bit-identical to the HOF
  * `aggregate(zip_with(slice(...)))` formulation it replaces (fold
  * order, same double ops), but ONE fused loop instead of m×ncode
  * interpreted lambda chains: at ncode = 64 the HOF form evaluates 512
  * slice+zip_with+aggregate trees per row and dominated q131's wall. */
case class PqDistTable(child: Expression, cbs: Array[Array[Array[Double]]])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def nullIntolerant: Boolean = true

  @transient private lazy val elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case other => throw new IllegalArgumentException(s"expected array, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val dim = arr.numElements()
    val vec = new Array[Double](dim)
    var i = 0
    elemType match {
      case FloatType  => while (i < dim) { vec(i) = arr.getFloat(i); i += 1 }
      case DoubleType => while (i < dim) { vec(i) = arr.getDouble(i); i += 1 }
      case _ => while (i < dim) { vec(i) = arr.get(i, elemType).toString.toDouble; i += 1 }
    }
    new GenericArrayData(PqDistTable.table(vec, cbs)
      .map(row => new GenericArrayData(row): Any))
  }

  override protected def withNewChildInternal(newChild: Expression): PqDistTable =
    copy(child = newChild)
}

object PqDistTable {
  /** The table loop itself, over a plain vector — shared by the
    * expression and [[graft.sources.AnnIndex]]'s serving search, which
    * derives each (query, cell) table inside its scan task. */
  def table(vec: Array[Double],
            cbs: Array[Array[Array[Double]]]): Array[Array[Double]] = {
    val dim = vec.length
    val out = new Array[Array[Double]](cbs.length)
    var s = 0
    while (s < cbs.length) {
      val cb = cbs(s)
      val dsub = cb(0).length
      val base = s * dsub
      val row = new Array[Double](cb.length)
      var c = 0
      while (c < cb.length) {
        val cw = cb(c)
        var d = 0.0
        var j = 0
        val lim = math.min(dsub, math.max(0, dim - base))
        while (j < lim) {
          val diff = vec(base + j) - cw(j)
          d += diff * diff
          j += 1
        }
        row(c) = d
        c += 1
      }
      out(s) = row
      s += 1
    }
    out
  }
}

/** PQ code for a numeric-array vector: per subspace, the 1-based index
  * of the FIRST minimum-distance codeword — the
  * `array_position(d, array_min(d))` contract, fused into the same
  * single pass as [[PqDistTable]] (strictly-less argmin scanning left
  * keeps the first minimum). */
case class PqEncodeNative(child: Expression, cbs: Array[Array[Array[Double]]])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  @transient private lazy val elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case other => throw new IllegalArgumentException(s"expected array, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = cbs.length
    val dim = arr.numElements()
    val vec = new Array[Double](dim)
    var i = 0
    elemType match {
      case FloatType  => while (i < dim) { vec(i) = arr.getFloat(i); i += 1 }
      case DoubleType => while (i < dim) { vec(i) = arr.getDouble(i); i += 1 }
      case _ => while (i < dim) { vec(i) = arr.get(i, elemType).toString.toDouble; i += 1 }
    }
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val cb = cbs(s)
      val dsub = cb(0).length
      val base = s * dsub
      var bestC = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < cb.length) {
        val cw = cb(c)
        var d = 0.0
        var j = 0
        val lim = math.min(dsub, math.max(0, dim - base))
        while (j < lim) {
          val diff = vec(base + j) - cw(j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; bestC = c }
        c += 1
      }
      out(s) = bestC + 1
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeNative =
    copy(child = newChild)
}

/** Top-`nprobe` nearest centroids (1-based indices, by cosine, ties to
  * the lower index) for a numeric-array vector — the IVF coarse-quantizer
  * assignment in one pass. The HOF formulation re-evaluates the
  * normalize/dot subtrees per centroid and per occurrence (interpreted
  * lambdas get no common-subexpression elimination), which is quadratic
  * in practice; this is a plain loop. */
case class NearestCentroids(child: Expression, centroids: Array[Array[Double]],
                            nprobe: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  @transient private lazy val elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case other => throw new IllegalArgumentException(s"expected array, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val dim = math.min(arr.numElements(), centroids.headOption.map(_.length).getOrElse(0))
    val vec = new Array[Double](dim)
    var i = 0
    elemType match {
      case FloatType  => while (i < dim) { vec(i) = arr.getFloat(i); i += 1 }
      case DoubleType => while (i < dim) { vec(i) = arr.getDouble(i); i += 1 }
      case _ => while (i < dim) { vec(i) = arr.get(i, elemType).toString.toDouble; i += 1 }
    }
    var n2 = 0.0
    i = 0
    while (i < dim) { n2 += vec(i) * vec(i); i += 1 }
    val inv = if (n2 == 0.0) 0.0 else 1.0 / math.sqrt(n2)

    val k = centroids.length
    val dots = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cent = centroids(c)
      var d = 0.0
      var j = 0
      while (j < dim) { d += vec(j) * cent(j); j += 1 }
      dots(c) = d * inv
      c += 1
    }
    // selection of top-nprobe by dot desc, ties -> lower index
    val m = math.min(nprobe, k)
    val out = new Array[Int](m)
    val taken = new Array[Boolean](k)
    var r = 0
    while (r < m) {
      var best = -1
      var bestDot = Double.NegativeInfinity
      c = 0
      while (c < k) {
        if (!taken(c) && dots(c) > bestDot) { bestDot = dots(c); best = c }
        c += 1
      }
      taken(best) = true
      out(r) = best + 1
      r += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}

/** Byte-pair-encoding tokenization with a REAL merges table — the
  * published BPE apply algorithm (Sennrich et al. 2016; the GPT-2
  * tokenizer's core loop): each whitespace-delimited word starts as a
  * character sequence, and while any adjacent symbol pair appears in
  * the merges table, the LOWEST-RANKED (earliest-learned) such pair is
  * merged at every occurrence, left to right. Deterministic for a
  * fixed merges list; unknown words fall through as single characters.
  * One tight JVM loop per row with the ranks in a prebuilt hash map —
  * the table (typically 10k-50k merges) is an expression literal, so a
  * corpus-wide tokenization is a map-only projection, exactly like the
  * other text stages. Output: the token array (count/length stats are
  * plain `size`/HOF compositions on top). */
case class BpeEncode(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  @transient private lazy val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      m.putIfAbsent(a + " " + b, Integer.valueOf(i))
    }
    m
  }

  private def encodeWord(word: String, out: scala.collection.mutable.ArrayBuffer[UTF8String]): Unit = {
    // initial symbols are CODE POINTS, not UTF-16 chars — a non-BMP
    // character (emoji, CJK extension) must stay one symbol, or its
    // surrogate halves become invalid-UTF-8 tokens no merges entry can
    // ever match
    var syms: Array[String] = {
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      var p = 0
      while (p < word.length) {
        val cp = word.codePointAt(p)
        buf += new String(Character.toChars(cp))
        p += Character.charCount(cp)
      }
      buf.toArray
    }
    var done = syms.length <= 1
    while (!done) {
      var best = -1
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.get(syms(i) + " " + syms(i + 1))
        if (r != null && r < bestRank) { bestRank = r; best = i }
        i += 1
      }
      if (best < 0) done = true
      else {
        // merge EVERY occurrence of the best pair, left to right
        val merged = scala.collection.mutable.ArrayBuffer[String]()
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == syms(best) &&
              syms(j + 1) == syms(best + 1)) {
            merged += syms(j) + syms(j + 1); j += 2
          } else { merged += syms(j); j += 1 }
        }
        syms = merged.toArray
        done = syms.length <= 1
      }
    }
    syms.foreach(s => out += UTF8String.fromString(s))
  }

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val out = scala.collection.mutable.ArrayBuffer[UTF8String]()
    var start = -1
    var i = 0
    while (i <= text.length) {
      val ws = i == text.length || Character.isWhitespace(text.charAt(i))
      if (!ws && start < 0) start = i
      if (ws && start >= 0) { encodeWord(text.substring(start, i), out); start = -1 }
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}

/** Adjacent symbol pairs of a separator-encoded BPE token state
  * string (BpeTrain's per-round pair extraction): the state encodes
  * token t as U+001F t U+001F, tokens concatenated — so the token list
  * is substring(1, len-1) split on the doubled inner separator, and the
  * output is the (tokens[i], tokens[i+1]) struct array the pair-count
  * aggregation explodes. Exactly the builtin composition it replaces
  * (substr + split + filter(size>=2) + transform(sequence(..),
  * struct(element_at..))) — that chain built a ~50-node expression tree
  * re-ANALYZED every merge round (64-512 rounds per training run, ~90
  * ms of driver wall each) and evaluated interpreted HOF lambdas with
  * per-element allocation; this is one expression node and one fused
  * JVM loop. Empty array (explode drops the row) when fewer than two
  * tokens, exactly like the size filter it replaces. */
case class BpeAdjacentPairs(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", StringType, nullable = false),
    StructField("b", StringType, nullable = false))), containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bpe_adjacent_pairs"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    // s = SEP t1 SEP SEP t2 SEP ... SEP tn SEP; tokens never contain SEP
    if (s.length < 2) return new GenericArrayData(Array.empty[Any])
    val toks = BpeAdjacentPairs.SepSep.split(s.substring(1, s.length - 1), -1)
    if (toks.length < 2) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](toks.length - 1)
      var i = 0
      while (i < toks.length - 1) {
        out(i) = InternalRow(UTF8String.fromString(toks(i)),
          UTF8String.fromString(toks(i + 1)))
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): BpeAdjacentPairs =
    copy(child = newChild)
}

object BpeAdjacentPairs {
  // precompiled: String.split over a multi-char pattern recompiles the
  // regex on every row otherwise (LITERAL flag: the two separator chars
  // match as plain text)
  private val SepSep = java.util.regex.Pattern.compile("\u001f\u001f",
    java.util.regex.Pattern.LITERAL)
}

/** Cosine similarity between two numeric arrays — the pairwise-verify
  * hot loop of the whole similarity family (semdedup / embedding
  * near-dup / ANN verify). IEEE-identical to the HOF formulation
  * (`aggregate(zip_with(..))` dot and per-side norms): elements cast to
  * double, all three accumulations fold left-to-right in index order,
  * and the result is `dot / (sqrt(na) * sqrt(nb))` with exactly that
  * association. NULL when either norm is zero, when lengths differ
  * (zip_with's null padding), or when any element is null — so the swap
  * from the HOF is invisible to every oracle hash. The HOF evaluates an
  * interpreted lambda and allocates per element; this is one fused JVM
  * loop per pair. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  @transient private lazy val (etL, etR) = (left.dataType, right.dataType) match {
    case (ArrayType(a, _), ArrayType(b, _)) => (a, b)
    case other => throw new IllegalArgumentException(s"expected two arrays, got $other")
  }

  private def fill(arr: ArrayData, et: DataType, out: Array[Double]): Boolean = {
    val n = out.length
    var i = 0
    et match {
      case FloatType  => while (i < n) { if (arr.isNullAt(i)) return false
        out(i) = arr.getFloat(i); i += 1 }
      case DoubleType => while (i < n) { if (arr.isNullAt(i)) return false
        out(i) = arr.getDouble(i); i += 1 }
      case _ => while (i < n) { if (arr.isNullAt(i)) return false
        out(i) = arr.get(i, et).toString.toDouble; i += 1 }
    }
    true
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    val va = new Array[Double](n)
    val vb = new Array[Double](n)
    if (!fill(a, etL, va) || !fill(b, etR, vb)) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      dot += va(i) * vb(i); na += va(i) * va(i); nb += vb(i) * vb(i)
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosineSim = copy(left = newLeft, right = newRight)
}

/** SQ8 factored-dot fold: Σ codes(i)·weights(i) over two equal-length
  * arrays — the per-candidate cost of [[graft.operators.Sq.topK]]'s
  * asymmetric search, fused into one JVM loop (the PqEncodeNative /
  * CosineSim pattern). IEEE-identical to the HOF formulation
  * (`aggregate(zip_with(codes, w, (c, w) => c·w), 0.0, _+_)`): codes
  * cast to double, products accumulated left-to-right in index order.
  * NULL on length mismatch or any null element — exactly zip_with's
  * null-padding contract, so the swap is invisible to oracle hashes. */
case class SqDotCodes(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  @transient private lazy val (etL, etR) = (left.dataType, right.dataType) match {
    case (ArrayType(a, _), ArrayType(b, _)) => (a, b)
    case other => throw new IllegalArgumentException(s"expected two arrays, got $other")
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    SqDotCodes.dot(l.asInstanceOf[ArrayData], etL, r.asInstanceOf[ArrayData], etR)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SqDotCodes = copy(left = newLeft, right = newRight)
}

object SqDotCodes {
  private def toD(arr: ArrayData, et: DataType, i: Int): Double = et match {
    case IntegerType => arr.getInt(i).toDouble
    case LongType    => arr.getLong(i).toDouble
    case FloatType   => arr.getFloat(i).toDouble
    case DoubleType  => arr.getDouble(i)
    case _           => arr.get(i, et).toString.toDouble
  }

  /** The fold loop itself (NULL as documented on the expression) —
    * shared by the expression and [[graft.sources.AnnIndex]]'s serving
    * search. */
  def dot(a: ArrayData, etA: DataType, b: ArrayData,
          etB: DataType): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += toD(a, etA, i) * toD(b, etB, i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** [[dot]] against weights already decoded to doubles (none NULL),
    * with the codes' element type resolved once per call instead of once
    * per element: the same products, accumulated in the same order. */
  def dot(a: ArrayData, etA: DataType, w: Array[Double]): java.lang.Double = {
    val n = a.numElements()
    if (w.length != n) return null
    var acc = 0.0
    var i = 0
    if (etA == IntegerType)
      while (i < n) {
        if (a.isNullAt(i)) return null
        acc += a.getInt(i).toDouble * w(i)
        i += 1
      }
    else
      while (i < n) {
        if (a.isNullAt(i)) return null
        acc += toD(a, etA, i) * w(i)
        i += 1
      }
    java.lang.Double.valueOf(acc)
  }
}

/** SQ8 encode: per dimension `clamp(round((x - min) * invStep), 0, 255)`
  * as int — [[graft.operators.Sq.encodeExpr]]'s per-row cost fused into
  * one loop. Bit-identical to the HOF form ON ALL INPUTS, non-finite
  * included: the round replicates Spark's `Round` double branch exactly
  * (`scala.math.BigDecimal(d).setScale(0, HALF_UP).toDouble`, NaN/Inf
  * passed through), and the clamp applies AFTER the round under SPARK'S
  * ordering, where NaN sorts greater than every double — so
  * `greatest(0, NaN) = NaN` and `least(255, NaN) = 255`, i.e. a NaN
  * scale lands at code 255 (java Math.min/max would propagate the NaN
  * to `.toInt` = 0 — the divergence AnnPqSpec pins). ±Inf clamp to
  * 255/0 identically under both orderings. */
case class SqEncode(child: Expression, mins: Array[Double],
                    invSteps: Array[Double])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  @transient private lazy val elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case other => throw new IllegalArgumentException(s"expected array, got $other")
  }

  private def roundHalfUp(d: Double): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else scala.math.BigDecimal(d)
      .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = math.min(arr.numElements(), mins.length)
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val x = elemType match {
        case FloatType  => arr.getFloat(i).toDouble
        case DoubleType => arr.getDouble(i)
        case _          => arr.get(i, elemType).toString.toDouble
      }
      val r = roundHalfUp((x - mins(i)) * invSteps(i))
      // Spark ordering: NaN > every double, so greatest(0, NaN) = NaN
      // and least(255, NaN) = 255 — NOT java's NaN-propagating min/max
      val clamped =
        if (java.lang.Double.isNaN(r)) 255.0
        else math.min(255.0, math.max(0.0, r))
      out(i) = clamped.toInt
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SqEncode =
    copy(child = newChild)
}

/** SQ8 reconstruction norm from the stored codes:
  * `sqrt(Σ (min_i + c_i·step_i)²)`, left-to-right — the per-row fold of
  * [[graft.operators.Sq.reconNormExpr]] fused, IEEE-identical to the
  * transform+aggregate HOF. */
case class SqReconNorm(child: Expression, mins: Array[Double],
                       steps: Array[Double])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = math.min(arr.numElements(), mins.length)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val rec = mins(i) + arr.getInt(i).toDouble * steps(i)
      acc += rec * rec
      i += 1
    }
    java.lang.Double.valueOf(math.sqrt(acc))
  }

  override protected def withNewChildInternal(newChild: Expression): SqReconNorm =
    copy(child = newChild)
}

/** Duplicate word-n-gram fraction: 1 - distinct/total over the n-grams of
  * a token array, 0.0 when the document has fewer than n tokens — the
  * Gopher/C4 repetition signal. Value-identical to the HOF formulation
  * (grams joined with a single space; token arrays never hold nulls after
  * TextFunctions.tokens), but one loop + one hash set per row instead of
  * an interpreted slice/array_join lambda per gram position. */
case class DupNgramFraction(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val t = arr.numElements()
    if (t < n) 0.0
    else {
      val total = t - n + 1
      val seen = new java.util.HashSet[String](total * 2)
      var i = 0
      while (i < total) {
        val sb = new java.lang.StringBuilder()
        var j = 0
        while (j < n) {
          val s = arr.getUTF8String(i + j)
          if (s != null) {
            if (j > 0) sb.append(' ')
            sb.append(s.toString)
          }
          j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
      1.0 - seen.size.toDouble / total
    }
  }

  override protected def withNewChildInternal(newChild: Expression): DupNgramFraction =
    copy(child = newChild)
}

object SketchExpressions {
  /** Column wrappers. */
  def minHashSig(shingles: Column, k: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(shingles), k))

  def simHashBits(tokens: Column): Column =
    ColumnBridge.column(SimHashBits(ColumnBridge.expression(tokens)))

  def hyperplaneBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    ColumnBridge.column(HyperplaneBucketExpr(ColumnBridge.expression(vec),
      planes.map(_.toArray).toArray))

  def hyperplaneProbes(vec: Column, planes: Seq[Seq[Double]],
                       probes: Int): Column =
    ColumnBridge.column(HyperplaneProbesExpr(ColumnBridge.expression(vec),
      planes.map(_.toArray).toArray, probes))

  def nearestCentroids(vec: Column, centroids: Array[Array[Double]],
                       nprobe: Int): Column =
    ColumnBridge.column(NearestCentroids(ColumnBridge.expression(vec),
      centroids, nprobe))

  def sqEncode(vec: Column, mins: Array[Double], invSteps: Array[Double]): Column =
    ColumnBridge.column(SqEncode(ColumnBridge.expression(vec), mins, invSteps))

  def sqReconNorm(codes: Column, mins: Array[Double], steps: Array[Double]): Column =
    ColumnBridge.column(SqReconNorm(ColumnBridge.expression(codes), mins, steps))

  def sqDot(codes: Column, weights: Column): Column =
    ColumnBridge.column(SqDotCodes(ColumnBridge.expression(codes),
      ColumnBridge.expression(weights)))

  def pqDistTable(vec: Column, cbs: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqDistTable(ColumnBridge.expression(vec), cbs))

  def pqEncode(vec: Column, cbs: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqEncodeNative(ColumnBridge.expression(vec), cbs))

  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(ColumnBridge.expression(a),
      ColumnBridge.expression(b)))

  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeEncode(ColumnBridge.expression(text), merges))

  def bpeAdjacentPairs(state: Column): Column =
    ColumnBridge.column(BpeAdjacentPairs(ColumnBridge.expression(state)))

  def dupNgramFraction(tokens: Column, n: Int): Column =
    ColumnBridge.column(DupNgramFraction(ColumnBridge.expression(tokens), n))
}
