package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native hashing expressions for dedup/fingerprinting.
  *
  * These exist because the equivalent higher-order-function formulation
  * (`transform(sequence(0,63), h -> array_min(transform(shingles, ...)))`)
  * re-evaluates every free subexpression once per lambda element — a
  * 64× × shingle-count interpreted blowup. A single expression consumes
  * the token array once per row and loops in tight JVM code instead.
  * Per-row cost is dominated by the internal loop, so CodegenFallback's
  * one boxed call per row is irrelevant.
  */
object GraftHash {
  /** FNV-1a 64-bit over raw bytes — deterministic, seed-mixable. */
  def fnv1a64(bytes: Array[Byte], seed: Long): Long = {
    var h = 0xcbf29ce484222325L ^ seed
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Affine permutation family for minhash: h_i(x) = a_i * x + b_i
    * with odd multipliers derived from a splitmix-style generator. */
  def mixA(i: Int): Long = {
    var z = (i.toLong + 0x9e3779b97f4a7c15L) * 0xbf58476d1ce4e5b9L
    z ^= (z >>> 31); (z << 1) | 1L // force odd
  }
  def mixB(i: Int): Long = {
    var z = (i.toLong * 0x94d049bb133111ebL) + 0xda942042e4dd58b5L
    z ^= (z >>> 29); z
  }

  /** FNV-1a 64 over the 8 little-endian bytes of a long — the base hash
    * for packed-gram minhash (allocation-free fnv1a64 equivalent). */
  def fnv1a64OfLong(v: Long): Long = {
    var h = 0xcbf29ce484222325L
    var k = 0
    while (k < 8) {
      h ^= (v >>> (k * 8)) & 0xffL
      h *= 0x100000001b3L
      k += 1
    }
    h
  }

  /** Murmur3's fmix64 finalizer. FNV-1a's avalanche in the TOP bits is
    * measurably weak on short sequential inputs (sequential ids skewed
    * HLL's top-byte register selection ~3σ from uniform); fmix64's
    * xor-shift-multiply cascade fixes exactly that. Replicated in SQL
    * by [[HashSql.fmixSql]]. */
  def fmix64(h0: Long): Long = {
    var h = h0
    h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL
    h ^= (h >>> 33); h *= 0xc4ceb9fe1a85ec53L
    h ^= (h >>> 33); h
  }
}

/** minhash_signature(tokens, shingleWidth, numHashes) → array<bigint>.
  *
  * Word-shingles of width w are hashed once (FNV-1a over the joined
  * shingle), then each of the numHashes affine permutations takes a
  * running min — the standard one-hash MinHash estimator. Replaces the
  * reference's role of content identity at the document level (the
  * reference dedups vectors by id; a data pipeline dedups by content).
  *
  * Also accepts array<bigint> tokens (packed n-grams from
  * [[CharNgramLongSet]], width 1 only): the base hash is FNV-1a over the
  * value's 8 little-endian bytes — no string materialization anywhere on
  * that path.
  */
case class MinHashSignature(
    child: Expression, shingleWidth: Int, numHashes: Int)
  extends UnaryExpression with CodegenFallback {

  require(shingleWidth >= 1 && numHashes >= 1)

  private def isLongInput: Boolean = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def prettyName: String = "minhash_signature"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) if shingleWidth == 1 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckFailure(
      "minhash_signature over array<bigint> supports shingleWidth 1 only")
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature requires array<string> or array<bigint>, got ${other.simpleString}")
  }

  private lazy val as: Array[Long] = Array.tabulate(numHashes)(GraftHash.mixA)
  private lazy val bs: Array[Long] = Array.tabulate(numHashes)(GraftHash.mixB)

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val nShingles = math.max(n - shingleWidth + 1, 0)
    val longs = isLongInput
    val sb = if (shingleWidth == 1) null else new java.lang.StringBuilder()
    var i = 0
    while (i < nShingles) {
      val base =
        if (longs) GraftHash.fnv1a64OfLong(toks.getLong(i))
        else {
          // width-1 fast path: the shingle IS the token, and UTF8String
          // already holds its UTF-8 bytes — hash them directly instead
          // of round-tripping through StringBuilder → String → re-encode
          val bytes =
            if (shingleWidth == 1) {
              val t = toks.getUTF8String(i)
              if (t == null) Array.emptyByteArray else t.getBytes
            } else {
              sb.setLength(0)
              var j = 0
              while (j < shingleWidth) {
                if (j > 0) sb.append(' ')
                val t = toks.getUTF8String(i + j)
                if (t != null) sb.append(t.toString)
                j += 1
              }
              sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            }
          GraftHash.fnv1a64(bytes, 0L)
        }
      var h = 0
      while (h < numHashes) {
        val v = as(h) * base + bs(h)
        if (v < mins(h)) mins(h) = v
        h += 1
      }
      i += 1
    }
    if (nShingles == 0) new GenericArrayData(Array.fill[Long](numHashes)(0L))
    else new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** minhash_bands(tokens, shingleWidth, numHashes, numBands) → array<bigint>
  * of LSH band keys: the minhash signature is band-hashed internally, so
  * the whole shingling→minhash→banding pipeline is one pass per row (no
  * lambda re-evaluation, nothing recomputed). */
case class MinHashBands(
    child: Expression, shingleWidth: Int, numHashes: Int, numBands: Int)
  extends UnaryExpression with CodegenFallback {

  require(numHashes % numBands == 0, "numHashes must divide into numBands")
  private val rowsPerBand = numHashes / numBands

  override def prettyName: String = "minhash_bands"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) if shingleWidth == 1 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckFailure(
      "minhash_bands over array<bigint> supports shingleWidth 1 only")
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_bands requires array<string> or array<bigint>, got ${other.simpleString}")
  }

  private lazy val sigExpr = MinHashSignature(child, shingleWidth, numHashes)

  override def nullSafeEval(input: Any): Any = {
    val sig = sigExpr.nullSafeEval(input).asInstanceOf[GenericArrayData]
    val bands = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var h = 0xcbf29ce484222325L ^ b.toLong
      var r = 0
      while (r < rowsPerBand) {
        val v = sig.getLong(b * rowsPerBand + r)
        var k = 0
        while (k < 8) { h ^= ((v >>> (k * 8)) & 0xffL); h *= 0x100000001b3L; k += 1 }
        r += 1
      }
      bands(b) = h
      b += 1
    }
    new GenericArrayData(bands)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** simhash64(tokens) → bigint. Per-token FNV-1a votes ±1 on each of 64
  * bit positions; the sign vector is the fingerprint. */
case class SimHash64(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "simhash64"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val votes = SimHashVotes.accumulate(input.asInstanceOf[ArrayData])
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** simhash_votes(tokens) → array<int>(64): the PRE-SIGN SimHash
  * accumulator — votes(b) = #{tokens with bit b of FNV-1a set} −
  * #{without}, exactly [[SimHash64]]'s internal state exposed as a
  * vector. Normalized by token count it is a dense document embedding
  * on the hashing family's own axes (the charikar-hyperplane reading
  * of SimHash): sign(votes) recovers the fingerprint, magnitude says
  * how decisively each bit voted. Integer state end-to-end. */
case class SimHashVotes(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "simhash_votes"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_votes requires array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(SimHashVotes.accumulate(input.asInstanceOf[ArrayData]))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashVotes {
  /** THE vote accumulator — [[SimHash64]] signs exactly this array, so
    * the sign(votes)==fingerprint law (DocEmbedSpec) holds by shared
    * code, not by two loops staying in sync. */
  private[functions] def accumulate(toks: ArrayData): Array[Int] = {
    val n = toks.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (t != null) {
        val h = GraftHash.fnv1a64(t.getBytes, 0L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    votes
  }
}

/** jaccard_sorted(a, b) → double: Jaccard similarity |A∩B| / |A∪B| of two
  * SORTED, DISTINCT string arrays via a single merge scan — no per-call
  * hash sets (array_intersect + array_union each build one), ~4× cheaper
  * in the quadratic inner loop of pairwise dedup. Callers must pre-sort
  * (`sort_array(array_distinct(...))`); order is checked nowhere for
  * speed. */
case class JaccardSorted(left: Expression, right: Expression)
  extends BinaryExpression {

  override def prettyName: String = "jaccard_sorted"
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"jaccard_sorted requires array<string> inputs, got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < nx && j < ny) {
      val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = nx + ny - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  // codegen'd: this is the exact verify inside the near-dup bucket
  // joins — it runs once per candidate pair of the quadratic core, so
  // an interpreted fallback pays boxing + virtual dispatch exactly
  // where the engine spends its time
  override def doGenCode(ctx: codegen.CodegenContext,
      ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val inter = ctx.freshName("inter"); val c = ctx.freshName("c")
      val union = ctx.freshName("union")
      s"""
         |int $nx = $a.numElements(); int $ny = $b.numElements();
         |int $i = 0; int $j = 0; int $inter = 0;
         |while ($i < $nx && $j < $ny) {
         |  int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($c == 0) { $inter++; $i++; $j++; }
         |  else if ($c < 0) $i++;
         |  else $j++;
         |}
         |int $union = $nx + $ny - $inter;
         |${ev.value} = $union == 0 ? 1.0 : (double)$inter / $union;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** first_eq_index(a, b) → int: the first position where two EQUAL-LENGTH
  * bigint arrays agree, or -1. The band-OWNERSHIP primitive of the
  * streaming LSH verify (DedupQueries.minhashVerifiedEdges): a candidate
  * pair colliding in k of the 32 minhash bands reaches the join fan-out
  * k times, and emitting it from exactly the FIRST colliding band (a
  * pure, order-free function of the two signature arrays) replaces a
  * verified-rows dropDuplicates — whose shuffle is sized by
  * true-edges × band-duplication — with a per-row filter, and cuts the
  * exact-verify calls by the same duplication factor. The builtin
  * spelling (array_position(zip_with(a, b, _ === _), true)) allocates a
  * boxed boolean array per fan-out row; this is a short-circuiting
  * primitive loop. */
case class FirstEqIndex(left: Expression, right: Expression)
  extends BinaryExpression {

  override def prettyName: String = "first_eq_index"
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"first_eq_index requires array<bigint> inputs, got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) return i
      i += 1
    }
    -1
  }

  // codegen'd: this is evaluated on EVERY row of the LSH self-join
  // fan-out (the quadratic core of the near-dup operators) — an
  // interpreted fallback would pay boxing + virtual dispatch per
  // candidate pair
  override def doGenCode(ctx: codegen.CodegenContext,
      ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = -1;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) { ${ev.value} = $i; break; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** char_ngram_set(text, n) → sorted DISTINCT array of the n-character
  * substrings of text — one pass, one sort, no intermediate arrays.
  *
  * The composed builtin formulation
  * (`sort_array(array_distinct(transform(sequence(1, len-n+1), i ->
  * substr(text, i, n))))`) materializes three ArrayDatas and a hash set
  * per row and measured as the DOMINANT cost of the n-gram dedup
  * pipeline (3.2 s of d_ngram_jaccard's 5.3 s at sf0.1 — more than the
  * 64-permutation minhash it feeds). Output order is UTF8String binary
  * order, identical to sort_array and to DuckDB's list_sort on ASCII, so
  * oracle SQL and JaccardSorted's merge-scan contract are unchanged. */
case class CharNgramSet(child: Expression, n: Int)
  extends UnaryExpression with CodegenFallback {

  require(n >= 1)

  override def prettyName: String = "char_ngram_set"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_ngram_set requires string, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val len = s.numChars()
    val m = len - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val arr = new Array[UTF8String](m)
    var i = 0
    while (i < m) { arr(i) = s.substring(i, i + n); i += 1 }
    java.util.Arrays.sort(arr.asInstanceOf[Array[AnyRef]])
    var w = 1; var r = 1
    while (r < m) {
      if (arr(r).compareTo(arr(w - 1)) != 0) { arr(w) = arr(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(arr.asInstanceOf[Array[AnyRef]], w))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** char_ngram_long_set(text, n) → sorted DISTINCT array<bigint> of the
  * n-character grams of text, each PACKED into a long (21 bits per code
  * point, n ≤ 3) — an INJECTIVE encoding, so set operations (Jaccard,
  * distinct, joins) are exactly the string-gram semantics with none of
  * the string costs. An array<string> gram column measured as the
  * single largest cost of the n-gram dedup pipeline — not computing the
  * grams but MATERIALIZING them: columnar cache encode/decode, shuffle
  * width, and merge-scan byte comparisons. Longs cache as primitive
  * columns and compare in one instruction. Order is numeric, not
  * lexicographic — consistent on both sides of any merge scan, which is
  * all [[JaccardSortedLong]] requires. */
case class CharNgramLongSet(child: Expression, n: Int)
  extends UnaryExpression with CodegenFallback {

  require(n >= 1 && n <= 3, "packed grams support n in [1, 3] (21 bits/char)")

  override def prettyName: String = "char_ngram_long_set"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_ngram_long_set requires string, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val len = s.codePointCount(0, s.length)
    val m = len - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Long])
    // code points of the text once, then a sliding packed window
    val cps = new Array[Int](len)
    var ci = 0; var off = 0
    while (ci < len) {
      val cp = s.codePointAt(off)
      cps(ci) = cp; off += Character.charCount(cp); ci += 1
    }
    val arr = new Array[Long](m)
    var i = 0
    while (i < m) {
      var v = 0L; var j = 0
      while (j < n) { v = (v << 21) | (cps(i + j).toLong & 0x1fffffL); j += 1 }
      arr(i) = v; i += 1
    }
    java.util.Arrays.sort(arr)
    var w = 1; var r = 1
    while (r < m) {
      if (arr(r) != arr(w - 1)) { arr(w) = arr(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(arr, w))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** jaccard_sorted_long(a, b) → double: Jaccard of two SORTED DISTINCT
  * bigint arrays via a single merge scan — the packed-gram counterpart
  * of [[JaccardSorted]]. */
case class JaccardSortedLong(left: Expression, right: Expression)
  extends BinaryExpression {

  override def prettyName: String = "jaccard_sorted_long"
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"jaccard_sorted_long requires array<bigint> inputs, got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { inter += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    val union = nx + ny - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  // codegen'd for the same reason as JaccardSorted: the packed-gram
  // verify runs once per candidate pair in the banded joins (and in
  // d_dedup_incremental's batch × corpus near path), a primitive
  // merge over two long arrays
  override def doGenCode(ctx: codegen.CodegenContext,
      ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val inter = ctx.freshName("inter")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      val union = ctx.freshName("union")
      s"""
         |int $nx = $a.numElements(); int $ny = $b.numElements();
         |int $i = 0; int $j = 0; int $inter = 0;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $inter++; $i++; $j++; }
         |  else if ($xv < $yv) $i++;
         |  else $j++;
         |}
         |int $union = $nx + $ny - $inter;
         |${ev.value} = $union == 0 ? 1.0 : (double)$inter / $union;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** rolling_hash64(text) → bigint: FNV-1a document fingerprint over UTF-8
  * bytes (the `t_fingerprint` operator). */
case class RollingHash64(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "rolling_hash64"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rolling_hash64 requires string, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    GraftHash.fnv1a64(input.asInstanceOf[UTF8String].getBytes, 0L)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** winnow_fingerprints(text, k, w) → array<bigint>: MOSS winnowing
  * (Schleimer et al. 2003) — FNV-1a hash of every k-byte character
  * gram, then the minimum of each w-gram sliding window, distinct and
  * sorted. The winnowing guarantee: any substring of length ≥ k+w−1
  * shared by two documents contributes at least one shared fingerprint
  * (some window lies wholly inside the shared region on both sides and
  * selects the same minimal gram value), while expected density is only
  * 2/(w+1) of the grams — the local-fingerprinting contract that lets
  * plagiarism/overlap detection shuffle ~2n/(w+1) 8-byte keys instead
  * of n. Window minima compare as SIGNED longs (the DuckDB oracle
  * converts each gram hash to BIGINT before list_min, so both engines
  * rank identically). Docs with fewer than k+w−1 bytes yield an empty
  * array — no full window exists, by contract. One pass, scan-side,
  * O(len·w) with w small; nothing corpus-global. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
  extends UnaryExpression with CodegenFallback {

  require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1, got k=$k w=$w")

  override def prettyName: String = "winnow_fingerprints"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprints requires string, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val nGrams = bytes.length - k + 1
    val nWindows = nGrams - w + 1
    if (nWindows <= 0) return new GenericArrayData(Array.emptyLongArray)
    val gh = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      var h = 0xcbf29ce484222325L
      var j = i
      while (j < i + k) {
        h ^= (bytes(j) & 0xffL)
        h *= 0x100000001b3L
        j += 1
      }
      gh(i) = h
      i += 1
    }
    val sel = new Array[Long](nWindows)
    i = 0
    while (i < nWindows) {
      var m = gh(i)
      var j = i + 1
      while (j < i + w) {
        if (gh(j) < m) m = gh(j)
        j += 1
      }
      sel(i) = m
      i += 1
    }
    java.util.Arrays.sort(sel)
    var out = 1
    i = 1
    while (i < nWindows) {
      if (sel(i) != sel(out - 1)) { sel(out) = sel(i); out += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(sel, out))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** word_shingle_hashes(tokens, width) → array<bigint>: FNV-1a hash of
  * every width-word shingle (tokens i..i+width-1 joined by a single
  * space), one output element per start position, in one pass — the
  * hashing primitive of cross-document repeated-span dedup (Lee et al.
  * "Deduplicating Training Data" made distributive: downstream shuffles
  * carry these 8-byte keys, never shingle text). Docs shorter than
  * `width` produce an empty array. Hash equality stands in for string
  * equality (64-bit FNV: collisions are negligible at any realistic
  * corpus size; the DuckDB oracle groups the shingle STRINGS directly,
  * so a collision would surface as a hash-gate mismatch). */
case class WordShingleHashes(child: Expression, width: Int)
  extends UnaryExpression with CodegenFallback {

  require(width >= 1)

  override def prettyName: String = "word_shingle_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_shingle_hashes requires array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val nShingles = math.max(n - width + 1, 0)
    val out = new Array[Long](nShingles)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < nShingles) {
      sb.setLength(0)
      var j = 0
      while (j < width) {
        if (j > 0) sb.append(' ')
        val t = toks.getUTF8String(i + j)
        if (t != null) sb.append(t.toString)
        j += 1
      }
      out(i) = GraftHash.fnv1a64(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8), 0L)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** part_sum_hashes(ws, np) → array<bigint>: order-insensitive content
  * hash of each of the `np` pigeonhole partitions of a bigint SET in
  * ONE pass — out[p] = Σ fmix64(w) over {w ∈ ws : floorMod(w, np) = p},
  * wrapping long addition. The d_dedup_incremental blocking primitive:
  * the r13 form (`transform(sequence(0, np−1), p → xxhash64(filter(ws,
  * …)))`) re-scanned the word set once per partition index — O(np·nw)
  * per document, with np sized by the longest document in the corpus, a
  * heavy-tail coupling one 300 k-word outlier turns into 67 k scans for
  * EVERY doc. One pass is O(nw + np), and np is now per-length-band
  * (DedupQueries), so a doc's signature cost is bounded by its OWN
  * length. Sum-combining is blocking-lossless: equal partition content
  * ⇒ equal sum; a sum collision only ADDS a candidate, which the exact
  * Jaccard verify kills. The hash is engine-internal (both join sides
  * compute it; the oracle never sees it), so the mixer choice is free.
  * np ≤ 0 ⇒ empty array (no partitions — guarded upstream, never
  * joined). */
case class PartSumHashes(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def prettyName: String = "part_sum_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"part_sum_hashes requires (array<bigint>, int), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val ws = a.asInstanceOf[ArrayData]
    val np = b.asInstanceOf[Int]
    if (np <= 0) return new GenericArrayData(Array.empty[Long])
    val acc = new Array[Long](np)
    val n = ws.numElements()
    var i = 0
    while (i < n) {
      val w = ws.getLong(i)
      acc(java.lang.Math.floorMod(w, np.toLong).toInt) += GraftHash.fmix64(w)
      i += 1
    }
    new GenericArrayData(acc)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** entropy_stats(sorted_tokens) → struct(n_tokens, n_distinct, hsum):
  * one COMPILED pass over a document's SORTED token array computing the
  * Shannon-entropy ingredients — total token count, distinct token
  * count (= run count), and Σ_runs m·(log2(n) − log2(m)) folded in
  * sorted-run order. Value-identical to the former
  * explode → count-per-(doc, token) → window-total → sorted-struct-fold
  * pipeline: the counts are exact integers, log2 is DetMath.log2DetLong
  * (the documented bit-identical scala twin of the log2Det column
  * form), each run's term is the same m.toDouble × (log2(n) − log2(m))
  * product, and the terms add in the same ascending-token order — so
  * the IEEE sum is unchanged while the token-exploded corpus never
  * crosses a shuffle. A higher-order-function fold computes the same
  * thing INTERPRETED per element (HigherOrderFunction bodies don't
  * codegen; measured 4–5× slower than the exploded shape, both here
  * and in the original entry's scaladoc) — this expression is the
  * compiled loop. Empty array → (0, 0, 0.0); callers filter those rows
  * (the exploded shape emitted no row for them). */
case class EntropyStats(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "entropy_stats"
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("hsum", DoubleType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"entropy_stats requires array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(a: Any): Any = {
    val toks = a.asInstanceOf[ArrayData]
    val n = toks.numElements()
    if (n == 0) return InternalRow(0L, 0L, 0.0)
    val l2n = DetMath.log2DetLong(n.toLong)
    var prev = toks.getUTF8String(0)
    var m = 1L
    var cnt = 0L
    var acc = 0.0
    var i = 1
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (t == prev || (t != null && t.equals(prev))) m += 1L
      else {
        acc += m.toDouble * (l2n - DetMath.log2DetLong(m))
        cnt += 1L
        prev = t
        m = 1L
      }
      i += 1
    }
    acc += m.toDouble * (l2n - DetMath.log2DetLong(m))
    cnt += 1L
    InternalRow(n.toLong, cnt, acc)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** rle_runs(sorted_values) → array<struct<bkt:bigint,m:bigint>>: run-
  * length encode a SORTED bigint array in ONE compiled pass — the
  * scan-side twin of explode → count-per-value → sorted collect_list
  * (values unique after the sort ⇒ struct order ≡ value order). Shared
  * by the perceptron feature lists and the DSIR per-doc bucket counts.
  * A higher-order-function fold computes the same thing INTERPRETED
  * per element, and Catalyst inlines a derived column's expression
  * into every consumer (filter + project ⇒ two full folds per row) —
  * the compiled loop is what keeps the scan-side shape cheaper than
  * the shuffle it replaced (the EntropyStats lesson). Empty input →
  * empty array (the exploded shape emitted nothing for those rows). */
case class RleRuns(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "rle_runs"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("bkt", LongType, nullable = false),
    StructField("m", LongType, nullable = false))), containsNull = false)

  // null elements are rejected by type: getLong would read one as 0
  // and fold it into bucket 0's run. Both call sites' sorted bucket
  // arrays are typed containsNull = false.
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rle_runs requires ArrayType(LongType,false), got $other")
  }

  override def nullSafeEval(a: Any): Any = {
    val vs = a.asInstanceOf[ArrayData]
    val n = vs.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val out = new scala.collection.mutable.ArrayBuffer[Any](16)
    var prev = vs.getLong(0)
    var m = 1L
    var i = 1
    while (i < n) {
      val x = vs.getLong(i)
      if (x == prev) m += 1L
      else {
        out += InternalRow(prev, m)
        prev = x
        m = 1L
      }
      i += 1
    }
    out += InternalRow(prev, m)
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
