package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization (UAX #15) as a native codegen'd Catalyst
  * expression.
  *
  * Why the engine needs it: web corpora mix composed (U+00E9 é) and
  * decomposed (e + U+0301) encodings of the same visible text, so every
  * content-keyed operator — exact dedup, MinHash shingles, SimHash,
  * fingerprints, group-bys on extracted terms — silently fractures unless
  * keys are canonicalized first. NFC is the canonical-composition form the
  * dedup family wants; NFKC additionally folds compatibility characters
  * (ﬁ → fi, ² → 2, ﾊ → ハ) and is the common choice before tokenizer
  * training.
  *
  * Spark ships no normalization builtin, and a Scala UDF would break
  * whole-stage codegen in exactly the hot paths (corpus-wide key
  * canonicalization) where it matters. This expression stays inside
  * codegen via a reference-object call.
  *
  * Scale fast path: on real corpora the overwhelming majority of text is
  * pure ASCII, which is normalized under every form by construction. ASCII
  * is detected on the raw UTF-8 bytes (numBytes == numChars ⇔ every code
  * point is one byte) and returns the input buffer untouched — no String
  * materialization, no Normalizer call. Non-ASCII strings take
  * `Normalizer.isNormalized` (the UAX #15 quick-check, allocation-free for
  * the common already-NFC case) before paying for a rewrite.
  *
  * Oracle contract: DuckDB's `nfc_normalize` (utf8proc) and
  * `java.text.Normalizer` both implement the UAX #15 algorithm, so NFC
  * output is byte-identical across the engines — q133 hash-verifies this
  * including canonical reordering of multi-mark sequences. The other three
  * forms have no DuckDB twin and are spec-verified against the JDK
  * reference directly.
  */
case class UnicodeNormalize(child: Expression, formName: String)
    extends UnaryExpression {

  @transient private lazy val form: Normalizer.Form =
    Normalizer.Form.valueOf(formName)

  override def prettyName: String = s"unicode_normalize_${formName.toLowerCase}"
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${dt.simpleString}")
  }

  /** Hot-path entry, shared by interpreted eval and generated code. */
  def normalize(u: UTF8String): UTF8String = {
    // All-ASCII ⇔ one byte per code point: normalized under every form.
    if (u.numBytes == u.numChars) return u
    val s = u.toString
    if (Normalizer.isNormalized(s, form)) u
    else UTF8String.fromString(Normalizer.normalize(s, form))
  }

  override def nullSafeEval(input: Any): Any =
    normalize(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self =
      ctx.addReferenceObj("unicodeNormExpr", this, classOf[UnicodeNormalize].getName)
    defineCodeGen(ctx, ev, c => s"$self.normalize($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Jaro–Winkler similarity as a native codegen'd Catalyst expression —
  * the record-linkage scorer (q174).
  *
  * Semantics are pinned to DuckDB's `jaro_winkler_similarity` so the gate
  * can hash-compare raw doubles (probed empirically against DuckDB 1.x,
  * locked by TextExpressionsSpec):
  *  - operates on the raw UTF-8 BYTES (not code points): 'café' vs 'cafe'
  *    scores as the 5-byte vs 4-byte sequences;
  *  - either side empty → 0.0 (including both empty);
  *  - match window = max(len)/2 − 1, floored at 0 (so 2-char swaps score 0);
  *  - transpositions: mismatched positions between the two matched
  *    sequences, INTEGER-halved — jaro = (m/la + m/lb + (m − t)/m) / 3;
  *  - Winkler boost only when jaro > 0.7: + min(prefix,4) · 0.1 · (1−jaro).
  *
  * Every step is exact integer arithmetic until the three final divides,
  * which are single IEEE operations — the result is bit-identical across
  * engines, so a τ-threshold filter selects the same pairs on both sides.
  * Bound: O(la·lb) bitset-free two-pass on a shared boolean scratch — for
  * linkage keys (names, titles ≤ a few hundred bytes) this stays cheap and
  * inside whole-stage codegen via a reference-object call.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def prettyName: String = "jaro_winkler"
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (_: StringType, _: StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string inputs, got ${l.simpleString}, ${r.simpleString}")
    }

  def similarity(u: UTF8String, v: UTF8String): Double =
    JaroWinkler.similarity(u.getBytes, v.getBytes)

  override def nullSafeEval(l: Any, r: Any): Any =
    similarity(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("jaroWinklerExpr", this, classOf[JaroWinkler].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$self.similarity($a, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {

  /** Byte-level Jaro–Winkler, DuckDB-parity (see case-class scaladoc). */
  def similarity(a: Array[Byte], b: Array[Byte]): Double = {
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    if (java.util.Arrays.equals(a, b)) return 1.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val aMatch = new Array[Boolean](la)
    val bMatch = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bMatch(j) && a(i) == b(j)) {
          aMatch(i) = true; bMatch(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // count mismatched positions between the two matched sequences
    var mism = 0
    var j = 0
    i = 0
    while (i < la) {
      if (aMatch(i)) {
        while (!bMatch(j)) j += 1
        if (a(i) != b(j)) mism += 1
        j += 1
      }
      i += 1
    }
    val t = mism / 2 // integer halving — pinned to the DuckDB probe
    val md = m.toDouble
    val jaro = (md / la + md / lb + (m - t) / md) / 3.0
    if (jaro <= 0.7) return jaro
    var prefix = 0
    val maxPrefix = math.min(4, math.min(la, lb))
    while (prefix < maxPrefix && a(prefix) == b(prefix)) prefix += 1
    jaro + prefix * 0.1 * (1.0 - jaro)
  }
}

/** Content-defined-chunk boundary positions as ONE native codegen'd pass —
  * the hot inner loop of the CDC family (q92 census, q226 cleaner).
  *
  * Contract (bit-identical to the declarative form it replaces, which the
  * DuckDB oracles replay):
  *
  *   concat(array(1),
  *          filter(sequence(2, L - 7),
  *                 i => md5(substr(norm, i, 8)).startsWith("0")))
  *
  * i.e. position 1 plus every 1-based char position i ∈ [2, L−7] whose
  * 8-char window digest has first hex nibble 0 (P = 1/16 ⇒ ~16-char
  * expected chunks); L < 9 yields just [1]. The md5-of-window rule itself
  * is unchanged — this is an EXECUTION rewrite, not a semantics change, so
  * every gate stays hash-exact.
  *
  * Why: the higher-order filter evaluates an interpreted lambda per
  * CHARACTER POSITION — md5 expression eval, UTF8String slice, 32-char hex
  * encode, prefix compare, per position, outside whole-stage codegen. At
  * 100× that is ~5·10⁸ interpreted digests and it DOMINATED q226 (the
  * round-13 sweep finding). Here the whole scan is one reference-object
  * call: a thread-local reused MessageDigest, windows fed as raw bytes
  * straight from the UTF8String buffer on the all-ASCII fast path (norm
  * text is ASCII by construction; non-ASCII falls back to per-window char
  * slicing, same semantics), and the nibble test reads digest byte 0 —
  * no hex string ever exists.
  */
case class CdcBounds(child: Expression) extends UnaryExpression {
  override def prettyName: String = "cdc_bounds"
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${dt.simpleString}")
  }

  /** Hot-path entry, shared by interpreted eval and generated code. */
  def bounds(u: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val nChars = u.numChars()
    if (nChars < 9)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(1))
    val md = CdcBounds.digests.get()
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    out.sizeHint(nChars / 12 + 2)
    out += 1
    val last = nChars - 7
    if (u.numBytes == nChars) {
      // ASCII: chars == bytes — feed 8-byte windows without slicing
      val b = u.getBytes
      var i = 2
      while (i <= last) {
        md.reset()
        md.update(b, i - 1, 8)
        if ((md.digest()(0) & 0xF0) == 0) out += i
        i += 1
      }
    } else {
      var i = 2
      while (i <= last) {
        md.reset()
        md.update(u.substringSQL(i, 8).getBytes)
        if ((md.digest()(0) & 0xF0) == 0) out += i
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.result())
  }

  override def nullSafeEval(input: Any): Any =
    bounds(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("cdcBoundsExpr", this, classOf[CdcBounds].getName)
    defineCodeGen(ctx, ev, c => s"$self.bounds($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CdcBounds {
  /** MessageDigest is stateful and the referenced expression object is
    * shared across an executor's concurrently-running tasks — one digest
    * per thread, reset per window. */
  private[functions] val digests: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
}

/** IDNA ToASCII (punycode) host normalization as a native codegen'd Catalyst
  * expression — the canonicalization step in front of any host-keyed
  * operator (per-domain quotas, registrable-domain extraction): the Public
  * Suffix List's matching is defined over A-labels, so Unicode hosts
  * (`münchen.de`, `пример.рф`) must be converted before suffix comparison
  * or every IDN host silently falls through to the implicit-`*` default.
  *
  * Semantics are the JDK's RFC 3490 implementation (`java.net.IDN.toASCII`
  * with ALLOW_UNASSIGNED, applied per-host — the dots segment internally):
  * ASCII labels pass through unchanged, Unicode labels are nameprepped
  * (case-folded) and punycode-encoded to their `xn--` A-label. A host the
  * algorithm rejects (empty labels, oversize) returns UNCHANGED rather than
  * throwing — a crawl frontier drops garbage hosts downstream; a cleaning
  * operator must not abort the batch on them.
  *
  * Scale fast path: real URL corpora are overwhelmingly ASCII hosts, which
  * are detected on the raw UTF-8 bytes (numBytes == numChars) and returned
  * without materializing a String — the conversion only runs on the IDN
  * minority. Stays inside whole-stage codegen via a reference-object call.
  */
case class IdnAscii(child: Expression) extends UnaryExpression {

  override def prettyName: String = "idn_ascii"
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${dt.simpleString}")
  }

  /** Hot-path entry, shared by interpreted eval and generated code. */
  def toAscii(u: UTF8String): UTF8String = {
    // all-ASCII hosts (one byte per code point) are already A-labels;
    // IDN.toASCII is identity on them — skip the String round-trip
    if (u.numBytes == u.numChars) return u
    UTF8String.fromString(IdnAscii.convert(u.toString))
  }

  override def nullSafeEval(input: Any): Any =
    toAscii(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("idnAsciiExpr", this, classOf[IdnAscii].getName)
    defineCodeGen(ctx, ev, c => s"$self.toAscii($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object IdnAscii {
  /** Driver-side entry — the SAME conversion the runtime expression applies,
    * used to normalize PSL rule bases at parse time and oracle literals at
    * SQL-generation time, so engine and oracle can never disagree on an
    * A-label. */
  def convert(host: String): String =
    try java.net.IDN.toASCII(host, java.net.IDN.ALLOW_UNASSIGNED)
    catch { case _: IllegalArgumentException => host }
}

/** Column-API front doors for the text expressions (SQL names come from
  * [[graft.GraftExtensions]]). */
object TextFunctions {
  import org.apache.spark.sql.graft.SqlShim.{column, expression}

  def nfc(c: Column): Column = column(UnicodeNormalize(expression(c), "NFC"))
  def nfd(c: Column): Column = column(UnicodeNormalize(expression(c), "NFD"))
  def nfkc(c: Column): Column = column(UnicodeNormalize(expression(c), "NFKC"))
  def nfkd(c: Column): Column = column(UnicodeNormalize(expression(c), "NFKD"))

  def jaroWinkler(a: Column, b: Column): Column =
    column(JaroWinkler(expression(a), expression(b)))

  def cdcBounds(c: Column): Column = column(CdcBounds(expression(c)))

  def idnAscii(c: Column): Column = column(IdnAscii(expression(c)))
}
