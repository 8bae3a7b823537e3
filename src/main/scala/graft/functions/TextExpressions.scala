package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native text-scan expressions (SURVEY.md §2.10 preference order (b):
  * custom Expression over composed higher-order functions).
  *
  * The declarative trigram language-ID form materializes an L-element
  * trigram STRING array per row, then runs one `filter` +
  * `array_contains` pass per language over it — 7 languages × 10-gram
  * profiles ≈ 70 string comparisons and 8 array allocations per input
  * character. [[TrigramProfileHits]] replaces all of it with ONE pass
  * over the text's code points: each 3-gram packs into a long
  * (3 × 21 bits), probes a tiny open-addressed table built once from the
  * profiles, and bumps the counters of every language claiming the gram
  * (bitmask — a gram may appear in several profiles). No intermediate
  * arrays, no per-gram strings; measured ~4× on q68/q69 at sf0.1, and at
  * 100 TB these per-row scans are where the text pipeline's time goes.
  */
case class TrigramProfileHits(child: Expression, profiles: Seq[Seq[String]])
    extends UnaryExpression {

  require(profiles.nonEmpty && profiles.size <= 32,
    s"1..32 language profiles supported, got ${profiles.size}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_trigram_hits"

  /** Open-addressed long→bitmask table; linear probing, power-of-two
    * size ≥ 4× entries. mask==0 marks an empty slot. */
  @transient private lazy val (tableKeys, tableMasks, tableMask) = {
    val grams = profiles.zipWithIndex.flatMap { case (gs, li) =>
      gs.map { g =>
        require(g.codePointCount(0, g.length) == 3,
          s"profile gram must be exactly 3 code points: '$g'")
        packGram(g) -> (1 << li)
      }
    }
    var cap = 16
    while (cap < grams.size * 4) cap <<= 1
    val keys = new Array[Long](cap)
    val masks = new Array[Int](cap)
    grams.foreach { case (key, bit) =>
      var i = (key.toInt ^ (key >>> 32).toInt) & (cap - 1)
      while (masks(i) != 0 && keys(i) != key) i = (i + 1) & (cap - 1)
      keys(i) = key
      masks(i) |= bit
    }
    (keys, masks, cap - 1)
  }

  private def packGram(g: String): Long = {
    val c0 = g.codePointAt(0)
    val c1 = g.codePointAt(g.offsetByCodePoints(0, 1))
    val c2 = g.codePointAt(g.offsetByCodePoints(0, 2))
    (c0.toLong << 42) | (c1.toLong << 21) | c2.toLong
  }

  /** One pass over the code points; mirrors the declarative form's
    * `substring(t, i, 3)` trigram enumeration (code-point semantics,
    * matching Spark's substring/length). */
  def hitsArray(s: UTF8String): ArrayData = {
    val counts = new Array[Long](profiles.size)
    val cps = s.toString.codePoints().toArray
    var i = 0
    val last = cps.length - 3
    while (i <= last) {
      val key = (cps(i).toLong << 42) | (cps(i + 1).toLong << 21) | cps(i + 2).toLong
      var slot = (key.toInt ^ (key >>> 32).toInt) & tableMask
      var mask = 0
      var probing = true
      while (probing) {
        val m = tableMasks(slot)
        if (m == 0) probing = false
        else if (tableKeys(slot) == key) { mask = m; probing = false }
        else slot = (slot + 1) & tableMask
      }
      if (mask != 0) {
        var l = 0
        var m = mask
        while (m != 0) {
          if ((m & 1) != 0) counts(l) += 1
          m >>>= 1
          l += 1
        }
      }
      i += 1
    }
    new GenericArrayData(counts)
  }

  override def nullSafeEval(input: Any): Any =
    hitsArray(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("trigramHits", this, classOf[TrigramProfileHits].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.hitsArray($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): TrigramProfileHits =
    copy(child = newChild)
}

/** Count of the most frequent word n-gram in a token array, one pass.
  *
  * The declarative form materializes the full gram STRING array, sorts
  * it, then folds a struct accumulator over it per row (allocation per
  * gram + O(g log g) comparisons). This walks the token array once,
  * counting grams in a reused hash map — O(g) with one UTF8String
  * concat per gram and nothing else. Returns 0 when fewer than n
  * tokens. */
case class TopNgramCount(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1 && n <= 16, s"n-gram size 1..16 supported, got $n")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_top_ngram_count"

  def topCount(input: ArrayData): Long = {
    val len = input.numElements()
    if (len < n) return 0L
    val counts = new java.util.HashMap[UTF8String, Int](math.max(16, len * 2))
    val space = UTF8String.fromString(" ")
    var best = 0
    var i = 0
    val last = len - n
    while (i <= last) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = input.getUTF8String(i + j); j += 1 }
      val gram = UTF8String.concatWs(space, parts: _*)
      val c = counts.merge(gram, 1, (a, b) => a + b)
      if (c > best) best = c
      i += 1
    }
    best.toLong
  }

  override def nullSafeEval(input: Any): Any =
    topCount(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("topNgram", this, classOf[TopNgramCount].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.topCount($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): TopNgramCount =
    copy(child = newChild)
}

/** |distinct(a) ∩ distinct(b)| for two string arrays, count-only.
  *
  * Drop-in for `size(array_intersect(a, b))` in the q78 verify stage:
  * the built-in materializes the intersection ARRAY (an allocation +
  * copy per candidate pair) only for `size` to throw it away. This
  * builds one reused hash set from the SMALLER side and counts — each
  * hit removes its element, so duplicate elements on either side count
  * once, exactly array_intersect's semantics. O(|a| + |b|), zero output
  * allocation. */
case class OverlapCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_overlap_count"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<string>, array<string>), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  def overlap(l: ArrayData, r: ArrayData): Int = {
    val (small, big) = if (l.numElements() <= r.numElements()) (l, r) else (r, l)
    val n = small.numElements()
    val set = new java.util.HashSet[UTF8String](math.max(16, n * 2))
    // NULL slots need isNullAt: UnsafeArrayData.getUTF8String on a null
    // slot does NOT return null (it reads a zero-length region), which
    // would silently conflate NULL with '' — array_intersect treats NULL
    // as its own value, common iff present on both sides
    var smallHasNull = false
    var i = 0
    while (i < n) {
      if (small.isNullAt(i)) smallHasNull = true
      else set.add(small.getUTF8String(i))
      i += 1
    }
    var count = 0
    var nullCounted = false
    val m = big.numElements()
    i = 0
    while (i < m && (!set.isEmpty || (smallHasNull && !nullCounted))) {
      if (big.isNullAt(i)) {
        if (smallHasNull && !nullCounted) { count += 1; nullCounted = true }
      } else if (set.remove(big.getUTF8String(i))) count += 1
      // remove-on-hit: duplicates count once (array_intersect parity)
      i += 1
    }
    count
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    overlap(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("overlapCount", this, classOf[OverlapCount].getName)
    nullSafeCodeGen(ctx, ev, (l, r) => s"${ev.value} = $ref.overlap($l, $r);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): OverlapCount =
    copy(left = newLeft, right = newRight)
}

/** 64-bit SimHash over a token array in one pass, shuffle-free.
  *
  * Replicates the declarative sketch exactly — per token occurrence,
  * `xxhash64(token)` (Spark's XXH64, seed 42) votes +1/−1 into each of
  * the 64 bit counters; bit k of the sketch is set iff its vote sum is
  * positive — but without the explode, the word-level shuffle, or the 64
  * conditional aggregates per group. At 100 TB the sketch becomes a
  * narrow map over the corpus scan instead of a full-corpus word
  * shuffle. */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  def sketch(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val w = arr.getUTF8String(i)
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(w.getBaseObject, w.getBaseOffset, w.numBytes, 42L)
      var k = 0
      while (k < 64) {
        if (((h >>> k) & 1L) == 1L) votes(k) += 1 else votes(k) -= 1
        k += 1
      }
      i += 1
    }
    var out = 0L
    var k = 0
    while (k < 64) { if (votes(k) > 0) out |= (1L << k); k += 1 }
    out
  }

  override def nullSafeEval(input: Any): Any =
    sketch(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhash64", this, classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.sketch($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Explode-ready array of one-CODE-POINT strings. Spark's
  * `split(text, '')` splits the UTF-16 Java String at every code-unit
  * index, so an astral-plane character (emoji, rare CJK) becomes two
  * lone-surrogate cells — while DuckDB's `string_split(text, '')` (the
  * oracle) splits on code points (both verified empirically). This walks
  * the UTF8String's bytes directly: UTF-8 sequence boundaries ARE code
  * point boundaries, so each slice is one code point, with no String or
  * codePoints() materialization. Feeds q163 char-entropy (and anything
  * that histograms characters). */
case class CodepointChars(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_codepoints"

  def chars(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    var cnt = 0
    var i = 0
    while (i < n) {
      i += UTF8String.numBytesForFirstByte(bytes(i))
      cnt += 1
    }
    val out = new Array[AnyRef](cnt)
    i = 0
    var k = 0
    while (i < n) {
      val len = math.min(UTF8String.numBytesForFirstByte(bytes(i)), n - i)
      out(k) = UTF8String.fromBytes(bytes, i, len)
      i += len
      k += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    chars(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codepointChars", this, classOf[CodepointChars].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.chars($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): CodepointChars =
    copy(child = newChild)
}

object TextExpressions {

  /** Encode profiles for the SQL-literal registry form:
    * `lang=g1|g2|...;lang2=...` (grams are 3-char letter/space strings —
    * '|' and ';' cannot occur). */
  def encodeProfiles(profiles: Seq[(String, Seq[String])]): String =
    profiles.map { case (l, gs) =>
      require(gs.forall(g => !g.contains('|') && !g.contains(';')),
        "profile grams must not contain '|' or ';'")
      s"$l=${gs.mkString("|")}"
    }.mkString(";")

  private[functions] def decodeProfiles(spec: String): Seq[Seq[String]] =
    spec.split(';').toSeq.map { part =>
      part.split('=') match {
        case Array(_, gs) => gs.split("\\|").toSeq
        case _ => throw new IllegalArgumentException(
          s"profile spec entry must be lang=g1|g2|..., got '$part'")
      }
    }

  /** Shared builder for the session registry and the
    * SparkSessionExtensions injector: arity + foldability guarded BEFORE
    * eval (a one-arg call or a column spec must raise the friendly
    * message, not an internal error on an unbound attribute). */
  def fromArgs(exprs: Seq[Expression]): TrigramProfileHits = {
    if (exprs.length != 2 || !exprs(1).foldable)
      throw new IllegalArgumentException(
        "graft_trigram_hits expects (text, profileSpec) where profileSpec " +
          s"is a string literal, got ${exprs.length} argument(s)" +
          (if (exprs.length == 2) s"; non-foldable spec ${exprs(1).sql}" else ""))
    val spec = exprs(1).eval(null) match {
      case s: UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"graft_trigram_hits profile spec must be a string literal, got $other")
    }
    TrigramProfileHits(exprs.head, decodeProfiles(spec))
  }

  /** Builder for graft_top_ngram_count(tokens, n-literal). */
  def topNgramFromArgs(exprs: Seq[Expression]): TopNgramCount = {
    if (exprs.length != 2 || !exprs(1).foldable)
      throw new IllegalArgumentException(
        "graft_top_ngram_count expects (tokens, n) where n is an integer " +
          s"literal, got ${exprs.length} argument(s)" +
          (if (exprs.length == 2) s"; non-foldable n ${exprs(1).sql}" else ""))
    val n = exprs(1).eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"graft_top_ngram_count n must be an integer literal, got $other")
    }
    TopNgramCount(exprs.head, n)
  }

  /** The text functions, for the session registry and the extensions
    * injector. */
  val functions: Seq[VectorExpressions.FunctionDescription] = Seq(
    (FunctionIdentifier("graft_trigram_hits"),
      new ExpressionInfo(classOf[TrigramProfileHits].getName, "graft_trigram_hits"),
      fromArgs _),
    (FunctionIdentifier("graft_top_ngram_count"),
      new ExpressionInfo(classOf[TopNgramCount].getName, "graft_top_ngram_count"),
      topNgramFromArgs _),
    VectorExpressions.describe("graft_overlap_count", classOf[OverlapCount], 2,
      "array, array")(e => OverlapCount(e.head, e(1))),
    VectorExpressions.describe("graft_simhash64", classOf[SimHash64], 1, "tokens")(
      e => SimHash64(e.head)),
    VectorExpressions.describe("graft_codepoints", classOf[CodepointChars], 1, "text")(
      e => CodepointChars(e.head)))

  def register(spark: SparkSession): Unit =
    VectorExpressions.registerMissing(spark, functions)
}
