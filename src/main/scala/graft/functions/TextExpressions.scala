package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the shingle/MinHash/SimHash hot path.
  *
  * The column-expression forms (`transform(sequence(...), i => substr)` +
  * nested `transform`/`array_min`) are higher-order functions, which Spark
  * executes INTERPRETED (CodegenFallback) — and the MinHash signature nests
  * them, costing numHashes full passes of boxed evaluation per document.
  * These expressions run one fused primitive loop per document inside
  * whole-stage codegen (the generated code calls the static impl below), and
  * hash each shingle's bytes ONCE, deriving all `numHashes` slot values from
  * that 64-bit base — turning O(shingles × numHashes) string hashes into
  * O(shingles) string hashes + O(shingles × numHashes) long mixes.
  *
  * Semantics are pinned to the column forms they replace (same
  * `UTF8String.substringSQL` character addressing, same first-occurrence
  * distinct order) so the Dedup specs hold unchanged.
  */
object TextHashImpl {

  /** Byte offset of every character boundary (length numChars+1): ONE
    * O(bytes) pass over the string. The previous per-position
    * `substringSQL(i, n)` walks the byte array from position 0 on EVERY
    * call to find the char boundary — O(chars²) byte-steps per document,
    * which is the difference between linear and quadratic shingling on long
    * documents — and allocates a copy per position even for duplicate
    * shingles. All shingle walkers below share this. */
  private def charOffsets(s: UTF8String): Array[Int] = {
    val nChars = s.numChars()
    val offs = new Array[Int](nChars + 1)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var i = 0
    var c = 0
    while (c < nChars) {
      offs(c) = i
      i += UTF8String.numBytesForFirstByte(
        org.apache.spark.unsafe.Platform.getByte(base, off + i))
      c += 1
    }
    offs(nChars) = s.numBytes
    offs
  }

  /** Distinct character shingles in first-occurrence order — the fused form
    * of `array_distinct(transform(sequence(...), i => substr(i, n)))`.
    * Membership is tested with a zero-copy window view over the parent
    * buffer; only FIRST occurrences are copied out (the output must own its
    * bytes — the parent buffer is a reused row buffer). */
  def shingles(s: UTF8String, n: Int): ArrayData = {
    val len = s.numChars()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val offs = charOffsets(s)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nPos = len - n + 1
    val seen = new java.util.LinkedHashSet[UTF8String](
      Math.min(nPos * 2, 1 << 16))
    var i = 0
    while (i < nPos) {
      val b0 = offs(i)
      val view = UTF8String.fromAddress(base, off + b0, offs(i + n) - b0)
      if (!seen.contains(view)) seen.add(view.copy())
      i += 1
    }
    val arr = new Array[Any](seen.size())
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  /** Per-slot multiply-add coefficients for the minhash slot family —
    * deterministic (derived from the slot index via XXH64), odd multipliers,
    * computed once per slot count instead of once per row. */
  private val slotCoefCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, (Array[Long], Array[Long])]
  private def slotCoefs(numHashes: Int): (Array[Long], Array[Long]) =
    slotCoefCache.computeIfAbsent(numHashes, { k =>
      val a = new Array[Long](k)
      val b = new Array[Long](k)
      var h = 0
      while (h < k) {
        a(h) = XXH64.hashInt(h, 0x9E3779B97F4A7C15L) | 1L
        b(h) = XXH64.hashInt(h, 0x517CC1B727220A95L)
        h += 1
      }
      (a, b)
    })

  /** MinHash signature straight from text: slot h keeps
    * `min over shingles of (a_h · xxhash64(shingle, 42) + b_h)` — the
    * standard multiply-add universal family over one 64-bit base hash per
    * shingle. The base hash is computed directly over the in-place byte
    * window (no substring allocation, no per-position boundary walk), and
    * positions whose base REPEATS are skipped outright (identical base ⇒
    * identical slot values ⇒ the min cannot move — an exact identity, since
    * every slot value is a function of the base alone). The previous form
    * ran a full XXH64 avalanche per (position × slot): ~15 ALU ops where
    * the mul-add family needs 2, on the single hottest loop of every
    * banded-LSH tier (measured: the banded lineage-cut stage dominates all
    * text-dedup entries). */
  def minhash(s: UTF8String, n: Int, numHashes: Int): ArrayData = {
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val len = s.numChars()
    if (len >= n) {
      val offs = charOffsets(s)
      val base = s.getBaseObject
      val off = s.getBaseOffset
      val (ca, cb) = slotCoefs(numHashes)
      val nPos = len - n + 1
      // open-address set of seen base hashes (linear probing, power-of-2).
      // The skip is purely an optimization, so the table is size-capped and
      // simply stops absorbing once half full (a re-processed duplicate
      // changes nothing); load factor stays ≤ 1/2 and probes stay short.
      var cap = 16
      while (cap < nPos * 2 && cap < (1 << 20)) cap <<= 1
      val seenTab = new Array[Long](cap)
      var seenZero = false
      var seenCount = 0
      val seenMax = cap >> 1
      val mask = cap - 1
      var i = 0
      while (i < nPos) {
        val b0 = offs(i)
        val h64 = XXH64.hashUnsafeBytes(base, off + b0, offs(i + n) - b0, 42L)
        var fresh = false
        if (h64 == 0L) { fresh = !seenZero; seenZero = true }
        else if (seenCount >= seenMax) fresh = true
        else {
          var slot = (h64 ^ (h64 >>> 32)).toInt & mask
          while (seenTab(slot) != 0L && seenTab(slot) != h64)
            slot = (slot + 1) & mask
          fresh = seenTab(slot) == 0L
          if (fresh) { seenTab(slot) = h64; seenCount += 1 }
        }
        if (fresh) {
          var h = 0
          while (h < numHashes) {
            val v = ca(h) * h64 + cb(h)
            if (v < mins(h)) mins(h) = v
            h += 1
          }
        }
        i += 1
      }
    }
    new GenericArrayData(mins)
  }

  /** LSH band keys straight from text: the minhash signature split into
    * `numBands` runs of `rowsPerBand`, each folded to one 64-bit bucket key
    * (seed 42, hashLong chain — the xxhash64-of-slice shape). Band index =
    * array position. Fused for a reason beyond speed: a `transform` lambda
    * over a signature COLUMN re-evaluates the signature expression once per
    * band (common-subexpression elimination does not reach inside
    * interpreted higher-order lambdas), which round-3 benching caught as a
    * 32× recompute of the whole minhash per document. */
  def minhashBands(s: UTF8String, n: Int, numBands: Int, rowsPerBand: Int): ArrayData = {
    val mins = minhash(s, n, numBands * rowsPerBand).toLongArray()
    val keys = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var acc = 42L
      var j = 0
      while (j < rowsPerBand) {
        acc = XXH64.hashLong(mins(b * rowsPerBand + j), acc)
        j += 1
      }
      keys(b) = acc
      b += 1
    }
    new GenericArrayData(keys)
  }

  /** 64-bit SimHash over the DISTINCT shingle set (majority vote counts each
    * distinct shingle once, so the dedup pass matters here, unlike minhash). */
  def simhash(s: UTF8String, n: Int): Long = {
    val len = s.numChars()
    if (len < n) return 0L
    val offs = charOffsets(s)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nPos = len - n + 1
    // distinctness by STRING (zero-copy window views — safe within one eval;
    // the set never outlives the parent buffer), same majority vote as before
    val seen = new java.util.HashSet[UTF8String](Math.min(nPos * 2, 1 << 16))
    val counts = new Array[Int](64)
    var any = false
    var i = 0
    while (i < nPos) {
      val b0 = offs(i)
      val view = UTF8String.fromAddress(base, off + b0, offs(i + n) - b0)
      if (seen.add(view)) {
        any = true
        val h = XXH64.hashUnsafeBytes(base, off + b0, offs(i + n) - b0, 42L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    if (!any) return 0L
    var sim = 0L
    var j = 0
    while (j < 64) { if (counts(j) > 0) sim |= (1L << j); j += 1 }
    sim
  }

  /** Whitespace chars recognized by the tokenizer: the RE2 `\s` class
    * (`[ \t\n\r\f]`), shared with the DuckDB oracle's `string_split_regex`.
    * Java's `\s` additionally matches vertical tab \u000B; RE2/DuckDB's does
    * not, so the Java class would silently diverge from the oracle on texts
    * containing \u000B — the explicit class keeps both engines identical
    * (\u000B is an ordinary token character on both sides). */
  private def isTokenWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'

  /** Distinct token n-grams in first-occurrence order — the fused form of
    * `array_distinct(transform(sequence(...), i => array_join(slice(split(
    * trim(t), ws), i, n), " ")))`. Tokenization semantics are pinned to the
    * column chain this replaces: SQL `trim` strips SPACES only, and the
    * split keeps Java-`split(-1)` empty-token behavior (a leading separator
    * run yields a leading "" token, a trailing run a trailing "" token) —
    * the DuckDB twin's `string_split_regex` shares both quirks. Texts with
    * fewer than n tokens yield the empty set. */
  def tokenNgrams(s: UTF8String, n: Int): ArrayData = {
    val toks = tokenize(s)
    val nToks = toks.size()
    if (nToks < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]
    var j = 0
    while (j <= nToks - n) {
      seen.add(gramAt(toks, j, n))
      j += 1
    }
    val arr = new Array[Any](seen.size())
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  /** [[shingles]] sorted ascending (UTF8String binary order) — the form
    * [[SetOpsImpl.sortedIntersectSize]] requires. Sort cost is paid once
    * per document; the verify joins attach each document's set to MANY
    * candidate pairs, so the per-pair merge amortizes it immediately. Set
    * CONTENT is identical to [[shingles]] (only element order differs),
    * so any size/intersection arithmetic downstream is unchanged. */
  def shinglesSorted(s: UTF8String, n: Int): ArrayData =
    new GenericArrayData(SetOpsImpl.sortDistinct(
      shingles(s, n).asInstanceOf[GenericArrayData].array))

  /** [[tokenNgrams]] sorted ascending — the token-gram twin of
    * [[shinglesSorted]], for [[SetOpsImpl.sortedIntersectSize]] verifies. */
  def tokenNgramsSorted(s: UTF8String, n: Int): ArrayData =
    new GenericArrayData(SetOpsImpl.sortDistinct(
      tokenNgrams(s, n).asInstanceOf[GenericArrayData].array))

  /** ALL token n-grams in POSITIONAL order — element i is the gram starting
    * at token i, NON-distinct: the positional twin of [[tokenNgrams]] (same
    * tokenizer, same space-joined gram form), for operators that need WHERE
    * a gram occurs, not just whether it does (duplicated-span detection).
    * Texts with fewer than n tokens yield the empty array. */
  def tokenNgramsPos(s: UTF8String, n: Int): ArrayData = {
    val toks = tokenize(s)
    val nToks = toks.size()
    if (nToks < n) return new GenericArrayData(Array.empty[Any])
    val arr = new Array[Any](nToks - n + 1)
    var j = 0
    while (j <= nToks - n) {
      arr(j) = gramAt(toks, j, n)
      j += 1
    }
    new GenericArrayData(arr)
  }

  /** The pinned tokenizer shared by [[tokenNgrams]]/[[tokenNgramsPos]]: SQL
    * `trim` (spaces only), then split on [[isTokenWs]] runs with
    * Java-`split(-1)` empty-token behavior (leading/trailing separator runs
    * yield ""-tokens) — the exact semantics the DuckDB twin's
    * `string_split_regex` shares. A blank text yields zero tokens. */
  private def tokenize(s: UTF8String): java.util.ArrayList[String] = {
    val str = s.toString
    val toks = new java.util.ArrayList[String]
    var b = 0
    var e = str.length
    while (b < e && str.charAt(b) == ' ') b += 1
    while (e > b && str.charAt(e - 1) == ' ') e -= 1
    if (b == e) return toks
    val tok = new java.lang.StringBuilder
    var i = b
    while (i < e) {
      if (isTokenWs(str.charAt(i))) {
        toks.add(tok.toString); tok.setLength(0)
        while (i < e && isTokenWs(str.charAt(i))) i += 1
      } else { tok.append(str.charAt(i)); i += 1 }
    }
    toks.add(tok.toString)
    toks
  }

  private def gramAt(toks: java.util.ArrayList[String], j: Int,
      n: Int): UTF8String = {
    val g = new java.lang.StringBuilder
    var k = 0
    while (k < n) {
      if (k > 0) g.append(' ')
      g.append(toks.get(j + k))
      k += 1
    }
    UTF8String.fromString(g.toString)
  }

  /** Repetition-quality signals (the Gopher/C4 pre-training filters) in
    * ONE pass per document, no shuffle: returns
    * `[dup_line_frac, dup_line_char_frac, top_ngram_frac]` PRE-rounding.
    *
    *  - `dup_line_frac` — (lines − distinct lines) / lines, splitting on
    *    every `\n` (empty lines count; both engines' split keeps them);
    *  - `dup_line_char_frac` — characters in repeated line occurrences
    *    (beyond each line's first) / total line characters;
    *  - `top_ngram_frac` — occurrences of the most frequent word n-gram /
    *    total n-grams (multiset, not distinct; same tokenizer as
    *    [[tokenNgrams]]). 0 when the document has no lines/chars/grams.
    *
    * Every value is a single division of exact integers, so the pre-round
    * double is bit-identical to the DuckDB twin's.
    */
  def repetitionStats(s: UTF8String, n: Int): ArrayData = {
    val str = s.toString
    // line counts: split on EVERY '\n' (single-char separator, no run
    // collapsing — n separators give n+1 lines)
    val lineCounts = new java.util.HashMap[String, Int]
    var totalLines = 0L
    var start = 0
    var i = 0
    while (i <= str.length) {
      if (i == str.length || str.charAt(i) == '\n') {
        lineCounts.merge(str.substring(start, i), 1, Integer.sum _)
        totalLines += 1
        start = i + 1
      }
      i += 1
    }
    var totalChars = 0L
    var dupChars = 0L
    var distinctLines = 0L
    val it = lineCounts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val len = e.getKey.length.toLong
      val c = e.getValue.toLong
      totalChars += len * c
      dupChars += len * (c - 1)
      distinctLines += 1
    }
    // token n-gram counts (multiset): same trim + explicit-ws-class
    // tokenization as tokenNgrams
    var b = 0
    var e2 = str.length
    while (b < e2 && str.charAt(b) == ' ') b += 1
    while (e2 > b && str.charAt(e2 - 1) == ' ') e2 -= 1
    val toks = new java.util.ArrayList[String]
    if (b < e2) {
      val tok = new java.lang.StringBuilder
      i = b
      while (i < e2) {
        if (isTokenWs(str.charAt(i))) {
          toks.add(tok.toString); tok.setLength(0)
          while (i < e2 && isTokenWs(str.charAt(i))) i += 1
        } else { tok.append(str.charAt(i)); i += 1 }
      }
      toks.add(tok.toString)
    }
    val gramCounts = new java.util.HashMap[String, Int]
    var totalGrams = 0L
    var j = 0
    while (j <= toks.size() - n) {
      val g = new java.lang.StringBuilder
      var k = 0
      while (k < n) {
        if (k > 0) g.append(' ')
        g.append(toks.get(j + k))
        k += 1
      }
      gramCounts.merge(g.toString, 1, Integer.sum _)
      totalGrams += 1
      j += 1
    }
    var topGram = 0L
    val git = gramCounts.values().iterator()
    while (git.hasNext) { val c = git.next().toLong; if (c > topGram) topGram = c }
    new GenericArrayData(Array[Any](
      (totalLines - distinctLines).toDouble / math.max(totalLines, 1L),
      dupChars.toDouble / math.max(totalChars, 1L),
      topGram.toDouble / math.max(totalGrams, 1L)))
  }

  /** Minimum MD5 (lowercase hex) over the shingle multiset — the winnowing
    * fingerprint. Digest byte arrays are compared unsigned-lexicographically,
    * which equals comparing their hex renderings, so only the winner is
    * hex-encoded. Returns null when the text is shorter than one shingle
    * (matching `array_min(empty) = null`). */
  def minMd5(s: UTF8String, n: Int): UTF8String = {
    val len = s.numChars()
    if (len < n) return null
    val md = MessageDigest.getInstance("MD5")
    var best: Array[Byte] = null
    var i = 1
    while (i <= len - n + 1) {
      val sh = s.substringSQL(i, n)
      md.reset()
      val d = md.digest(sh.getBytes)
      if (best == null || unsignedCompare(d, best) < 0) best = d
      i += 1
    }
    val hex = new java.lang.StringBuilder(32)
    best.foreach { b => hex.append(Character.forDigit((b >> 4) & 0xf, 16)).append(Character.forDigit(b & 0xf, 16)) }
    UTF8String.fromString(hex.toString)
  }

  private def unsignedCompare(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }
}

/** Intersection size of two UTF8String arrays — PRECONDITION: both inputs
  * must be distinct (set-like). The implementation counts elements of the
  * LARGER array present in the smaller, which equals |A∩B| only when neither
  * side has duplicates; with multiset inputs the count is asymmetric and
  * differs from `size(array_intersect(a, b))` (and would corrupt a
  * |A|+|B|−inter Jaccard denominator). All call sites pass distinct shingle
  * sets ([[TextHashImpl.shingles]] dedupes). The fused form replaces
  * ArrayIntersect, which evaluates interpreted with per-element lambda
  * dispatch (the near-dup verify hot path). */
object SetOpsImpl {
  def intersectSize(a: ArrayData, b: ArrayData): Int = {
    val (small, large) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val set = new java.util.HashSet[UTF8String](small.numElements() * 2)
    var i = 0
    val ns = small.numElements()
    while (i < ns) { set.add(small.getUTF8String(i)); i += 1 }
    var count = 0
    val nl = large.numElements()
    i = 0
    while (i < nl) { if (set.contains(large.getUTF8String(i))) count += 1; i += 1 }
    count
  }

  /** |A∩B| for two arrays SORTED ascending in UTF8String binary order —
    * one linear merge, zero allocation, zero hashing. The HashSet form
    * above hashes every element's bytes and boxes a node per insert ON
    * EVERY PAIR; the pair-verify stages run this once per candidate pair
    * (the most compute-dense stage of every Jaccard tier — measured 65.7 s
    * of task time on token_jaccard_pairs' verify alone), while sorting is
    * paid once per DOCUMENT by the producing expression. Callers must pass
    * arrays from the *Sorted producers ([[TextHashImpl.shinglesSorted]],
    * [[TextHashImpl.tokenNgramsSorted]]); the merge silently undercounts
    * on unsorted input, which is why the expression is private to the
    * verify sites rather than a general SQL surface. */
  def sortedIntersectSize(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var count = 0
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { count += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    count
  }

  /** Sort a distinct-element array ascending (UTF8String binary order —
    * the same total order `compareTo` gives the merge above). Once per
    * document, amortized over every pair the document appears in. */
  def sortDistinct(arr: Array[Any]): Array[Any] = {
    java.util.Arrays.sort(arr.asInstanceOf[Array[AnyRef]],
      new java.util.Comparator[AnyRef] {
        override def compare(x: AnyRef, y: AnyRef): Int =
          x.asInstanceOf[UTF8String].compareTo(y.asInstanceOf[UTF8String])
      })
    arr
  }
}

/** Base for the text-hash expressions: null-safe unary over StringType with
  * codegen that stays inside whole-stage codegen by calling the static impl. */
abstract class TextHashExpression extends UnaryExpression {
  /** Java call with `%s` where the input UTF8String goes. */
  protected def implCall: String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => implCall.format(c))
}

case class CharShinglesExpr(child: Expression, shingleLen: Int)
    extends TextHashExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextHashImpl.shingles(input.asInstanceOf[UTF8String], shingleLen)
  override protected def implCall: String =
    s"graft.functions.TextHashImpl.shingles(%s, $shingleLen)"
  override protected def withNewChildInternal(c: Expression): CharShinglesExpr =
    copy(child = c)
}

case class MinHashSignatureExpr(child: Expression, shingleLen: Int, numHashes: Int)
    extends TextHashExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextHashImpl.minhash(input.asInstanceOf[UTF8String], shingleLen, numHashes)
  override protected def implCall: String =
    s"graft.functions.TextHashImpl.minhash(%s, $shingleLen, $numHashes)"
  override protected def withNewChildInternal(c: Expression): MinHashSignatureExpr =
    copy(child = c)
}

case class MinHashBandsExpr(child: Expression, shingleLen: Int,
    numBands: Int, rowsPerBand: Int)
    extends TextHashExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextHashImpl.minhashBands(input.asInstanceOf[UTF8String], shingleLen,
      numBands, rowsPerBand)
  override protected def implCall: String =
    s"graft.functions.TextHashImpl.minhashBands(%s, $shingleLen, $numBands, $rowsPerBand)"
  override protected def withNewChildInternal(c: Expression): MinHashBandsExpr =
    copy(child = c)
}

case class SimHash64Expr(child: Expression, shingleLen: Int)
    extends TextHashExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    TextHashImpl.simhash(input.asInstanceOf[UTF8String], shingleLen)
  override protected def implCall: String =
    s"graft.functions.TextHashImpl.simhash(%s, $shingleLen)"
  override protected def withNewChildInternal(c: Expression): SimHash64Expr =
    copy(child = c)
}

/** Fused tokenize→window→join→distinct for token n-grams — the
  * decontamination sweep's corpus side is O(total corpus tokens), and the
  * equivalent `transform`/`slice`/`array_join`/`array_distinct` chain is a
  * higher-order function that evaluates interpreted (CodegenFallback);
  * this stays inside whole-stage codegen like [[CharShinglesExpr]]. */
case class TokenNgramsExpr(child: Expression, n: Int)
    extends TextHashExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextHashImpl.tokenNgrams(input.asInstanceOf[UTF8String], n)
  override protected def implCall: String =
    s"graft.functions.TextHashImpl.tokenNgrams(%s, $n)"
  override protected def withNewChildInternal(c: Expression): TokenNgramsExpr =
    copy(child = c)
}

/** Positional (non-distinct) token n-grams — element i = the gram starting
  * at token i. The duplicated-span sweep's per-corpus cost is O(total
  * tokens), the same argument as [[TokenNgramsExpr]]: the equivalent
  * `transform(sequence(...), i -> array_join(slice(...)))` chain is an
  * interpreted higher-order function; this stays inside whole-stage
  * codegen. */
case class TokenNgramsPosExpr(child: Expression, n: Int)
    extends TextHashExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextHashImpl.tokenNgramsPos(input.asInstanceOf[UTF8String], n)
  override protected def implCall: String =
    s"graft.functions.TextHashImpl.tokenNgramsPos(%s, $n)"
  override protected def withNewChildInternal(c: Expression): TokenNgramsPosExpr =
    copy(child = c)
}

/** Fused repetition-quality signals (Gopher/C4 filters) — line counting and
  * n-gram multiset counting in one pass per document; the column-form
  * equivalent is an explode + two shuffled group-bys PER SIGNAL, where this
  * is shuffle-free and embarrassingly parallel. Returns
  * `array<double>` `[dup_line_frac, dup_line_char_frac, top_ngram_frac]`. */
case class RepetitionStatsExpr(child: Expression, n: Int)
    extends TextHashExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.DoubleType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextHashImpl.repetitionStats(input.asInstanceOf[UTF8String], n)
  override protected def implCall: String =
    s"graft.functions.TextHashImpl.repetitionStats(%s, $n)"
  override protected def withNewChildInternal(c: Expression): RepetitionStatsExpr =
    copy(child = c)
}

case class MinMd5ShinglesExpr(child: Expression, shingleLen: Int)
    extends TextHashExpression {
  override def dataType: DataType = StringType
  // minMd5 returns null for too-short text: route through the nullable path
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    TextHashImpl.minMd5(input.asInstanceOf[UTF8String], shingleLen)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.TextHashImpl.minMd5($c, $shingleLen);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  override protected def implCall: String = "" // unused: doGenCode overridden
  override protected def withNewChildInternal(c: Expression): MinMd5ShinglesExpr =
    copy(child = c)
}

/** Static impl for [[NgramJaccardExpr]] — shingle both sides ONCE, count
  * the overlap, finish the |A∩B| / (|A|+|B|−|A∩B|) ratio. Composing the
  * shingle and intersect expressions in a tree would re-evaluate each
  * side's shingle set per use (no CSE across sibling expressions). */
object JaccardImpl {
  /** Jaccard in [0,1]; -1.0 sentinel when either shingle set is empty
    * (text shorter than one shingle) — mapped to SQL NULL by the caller. */
  def ngramJaccard(a: UTF8String, b: UTF8String, n: Int): Double = {
    val sa = TextHashImpl.shingles(a, n)
    val sb = TextHashImpl.shingles(b, n)
    val na = sa.numElements()
    val nb = sb.numElements()
    if (na == 0 || nb == 0) return -1.0
    val inter = SetOpsImpl.intersectSize(sa, sb)
    inter.toDouble / (na + nb - inter)
  }
}

/** Exact character-n-gram Jaccard similarity of two strings — the direct
  * pair-scoring form of the dedup family's verify metric (the banded join
  * in [[graft.operators.Dedup.nearDupPairsOf]] materializes shingle sets
  * once per doc instead, which wins when docs appear in many pairs; this
  * expression wins for ad-hoc pair scoring, e.g. from SQL). NULL when
  * either input is NULL or too short to shingle. */
case class NgramJaccardExpr(left: Expression, right: Expression,
    shingleLen: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val j = JaccardImpl.ngramJaccard(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], shingleLen)
    if (j < 0) null else j
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |${ev.value} = graft.functions.JaccardImpl.ngramJaccard($a, $b, $shingleLen);
         |if (${ev.value} < 0) { ${ev.isNull} = true; ${ev.value} = 0.0; }
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): NgramJaccardExpr =
    copy(left = l, right = r)
}

case class SetIntersectSizeExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SetOpsImpl.intersectSize(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SetOpsImpl.intersectSize($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SetIntersectSizeExpr =
    copy(left = l, right = r)
}

/** [[SetIntersectSizeExpr]] over arrays BOTH produced sorted
  * ([[CharShinglesSortedExpr]] / [[TokenNgramsSortedExpr]]): one linear
  * merge per pair instead of a per-pair HashSet build+probe — see
  * [[SetOpsImpl.sortedIntersectSize]] for the measured rationale and the
  * sortedness precondition. */
case class SortedIntersectSizeExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SetOpsImpl.sortedIntersectSize(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SetOpsImpl.sortedIntersectSize($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SortedIntersectSizeExpr =
    copy(left = l, right = r)
}

case class CharShinglesSortedExpr(child: Expression, shingleLen: Int)
    extends TextHashExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextHashImpl.shinglesSorted(input.asInstanceOf[UTF8String], shingleLen)
  override protected def implCall: String =
    s"graft.functions.TextHashImpl.shinglesSorted(%s, $shingleLen)"
  override protected def withNewChildInternal(c: Expression): CharShinglesSortedExpr =
    copy(child = c)
}

case class TokenNgramsSortedExpr(child: Expression, n: Int)
    extends TextHashExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextHashImpl.tokenNgramsSorted(input.asInstanceOf[UTF8String], n)
  override protected def implCall: String =
    s"graft.functions.TextHashImpl.tokenNgramsSorted(%s, $n)"
  override protected def withNewChildInternal(c: Expression): TokenNgramsSortedExpr =
    copy(child = c)
}

object TextExpressions {
  private def wrap(e: Expression): Column = GraftSqlBridge.column(e)
  private def expr(c: Column): Expression = GraftSqlBridge.expression(c)

  /** Count of left's elements present in right (|A∩B| for sets; codegen'd). */
  def setIntersectSize(a: Column, b: Column): Column =
    wrap(SetIntersectSizeExpr(expr(a), expr(b)))

  /** |A∩B| by linear merge — BOTH inputs must come from the *Sorted
    * producers below (see [[SetOpsImpl.sortedIntersectSize]]). The merge
    * undercounts on unsorted input and checks nothing, so the column stays
    * inside the engine, for the verify sites that build both sides. */
  private[graft] def sortedIntersectSize(a: Column, b: Column): Column =
    wrap(SortedIntersectSizeExpr(expr(a), expr(b)))

  /** Distinct character shingles of a string column (codegen'd). */
  def charShingles(text: Column, n: Int): Column =
    wrap(CharShinglesExpr(expr(text), n))

  /** [[charShingles]] sorted ascending — for [[sortedIntersectSize]]
    * verifies (same set, element order differs). */
  def charShinglesSorted(text: Column, n: Int): Column =
    wrap(CharShinglesSortedExpr(expr(text), n))

  /** [[tokenNgrams]] sorted ascending — for [[sortedIntersectSize]]
    * verifies (same set, element order differs). */
  def tokenNgramsSorted(text: Column, n: Int): Column =
    wrap(TokenNgramsSortedExpr(expr(text), n))

  /** MinHash signature of a string column, fused shingle→hash→min (codegen'd). */
  def minhashSignature(text: Column, shingleLen: Int, numHashes: Int): Column =
    wrap(MinHashSignatureExpr(expr(text), shingleLen, numHashes))

  /** LSH band bucket keys of a string column; band = array position (codegen'd). */
  def minhashBands(text: Column, shingleLen: Int, numBands: Int,
      rowsPerBand: Int): Column =
    wrap(MinHashBandsExpr(expr(text), shingleLen, numBands, rowsPerBand))

  /** 64-bit SimHash of a string column over distinct shingles (codegen'd). */
  def simhash(text: Column, shingleLen: Int): Column =
    wrap(SimHash64Expr(expr(text), shingleLen))

  /** Distinct token n-grams of a string column, fused
    * tokenize→window→distinct (codegen'd). */
  def tokenNgrams(text: Column, n: Int): Column =
    wrap(TokenNgramsExpr(expr(text), n))

  /** ALL token n-grams of a string column in positional order, non-distinct
    * (codegen'd) — element i is the gram starting at token i. */
  def tokenNgramsPos(text: Column, n: Int): Column =
    wrap(TokenNgramsPosExpr(expr(text), n))

  /** Repetition-quality signals of a string column:
    * `[dup_line_frac, dup_line_char_frac, top_ngram_frac]` (codegen'd). */
  def repetitionStats(text: Column, n: Int): Column =
    wrap(RepetitionStatsExpr(expr(text), n))

  /** Minimum-MD5 shingle fingerprint of a string column (codegen'd). */
  def minMd5Shingles(text: Column, shingleLen: Int): Column =
    wrap(MinMd5ShinglesExpr(expr(text), shingleLen))

  /** Exact n-gram Jaccard similarity of two string columns (codegen'd). */
  def ngramJaccard(a: Column, b: Column, shingleLen: Int): Column =
    wrap(NgramJaccardExpr(expr(a), expr(b), shingleLen))
}
