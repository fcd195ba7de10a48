package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the purldb-semantic operators that
  * Spark's built-in function library cannot express (SURVEY.md §2.8).
  *
  * All are interpreted (`CodegenFallback`) in round 1; `doGenCode` is a
  * planned optimization once the semantics are locked by tests. None of
  * the logic is ported code — each implements a published format
  * (Package-URL spec, FNV-1a, SimHash) from its public definition.
  */
object Fnv {
  /** FNV-1a 64-bit over UTF-8 bytes (public-domain hash; used as the
    * token hash for SimHash/MinHash so results are self-contained and
    * deterministic with zero dependencies). */
  final val Offset = 0xcbf29ce484222325L
  final val Prime = 0x100000001b3L

  /** Murmur3-style 64-bit avalanche finalizer: raw FNV on short keys
    * has weak low-byte diffusion, which breaks MinHash's min-wise
    * independence; the finalizer restores it. */
  private def fmix(v: Long): Long = {
    var h = v
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  def hash64(bytes: Array[Byte]): Long = {
    var h = Offset
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= Prime; i += 1 }
    fmix(h)
  }
  /** Seeded variant for MinHash "permutations". */
  def hash64(bytes: Array[Byte], seed: Int): Long = {
    var h = Offset ^ fmix(seed * 0x9e3779b97f4a7c15L + 0x2545f4914f6cdd1dL)
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= Prime; i += 1 }
    fmix(h)
  }
}

/** purl_parse(purlString) -> struct<ptype,namespace,name,version,
  * qualifiers,subpath> per the Package-URL spec
  * (github.com/package-url/purl-spec). Mirrors the lookup-tuple
  * semantics of reference `packagedb/api.py:832-834` (purl_to_lookups).
  * Malformed input (no "pkg:" scheme or empty name) yields NULL.
  */
case class PurlParse(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = PurlParse.schema
  override def nullable: Boolean = true
  override def prettyName: String = "purl_parse"

  override protected def nullSafeEval(input: Any): Any =
    PurlParse.evalUtf8(input.asInstanceOf[UTF8String])
  // static-forwarder codegen (the CanonicalUrlExpr pattern): the parse
  // stays a JVM call but the expression joins whole-stage codegen —
  // no per-row eval(InternalRow) indirection or fallback boxing
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, u => s"""
      ${ev.value} = graft.functions.PurlParse.evalUtf8($u);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  override protected def withNewChildInternal(c: Expression): PurlParse = copy(c)
}

object PurlParse {

  /** Static forwarder shared by interpreted eval and generated code. */
  def evalUtf8(input: UTF8String): InternalRow =
    parse(input.toString) match {
      case null => null
      case arr  => InternalRow.fromSeq(arr.toSeq.map {
        case null => null
        case v    => UTF8String.fromString(v)
      })
    }
  val schema: StructType = StructType(Seq(
    StructField("ptype", StringType),
    StructField("namespace", StringType),
    StructField("name", StringType),
    StructField("version", StringType),
    StructField("qualifiers", StringType),
    StructField("subpath", StringType)))

  private def dec(s: String): String =
    try java.net.URLDecoder.decode(s, "UTF-8") catch { case _: Exception => s }

  /** Returns Array(ptype, namespace, name, version, qualifiers, subpath)
    * (nullable elements) or null when unparseable. Qualifiers are
    * normalized: keys lowercased, sorted, re-encoded `k=v&k2=v2`
    * (reference `minecode/model_utils.py:92-96`). */
  def parse(purl: String): Array[String] = {
    var s = purl.trim
    if (!s.toLowerCase.startsWith("pkg:")) return null
    s = s.substring(4).dropWhile(_ == '/')
    var subpath: String = null
    val hashIdx = s.indexOf('#')
    if (hashIdx >= 0) {
      subpath = s.substring(hashIdx + 1).split("/").filter(p =>
        p.nonEmpty && p != "." && p != "..").map(dec).mkString("/")
      if (subpath.isEmpty) subpath = null
      s = s.substring(0, hashIdx)
    }
    var qualifiers: String = null
    val qIdx = s.indexOf('?')
    if (qIdx >= 0) {
      val pairs = s.substring(qIdx + 1).split("&").toSeq
        .map { kv =>
          val eq = kv.indexOf('=')
          if (eq < 0) (kv.toLowerCase, "")
          else (kv.substring(0, eq).toLowerCase, dec(kv.substring(eq + 1)))
        }
        .filter { case (k, v) => k.nonEmpty && v.nonEmpty }
        .sortBy(_._1)
      if (pairs.nonEmpty)
        qualifiers = pairs.map { case (k, v) => s"$k=$v" }.mkString("&")
      s = s.substring(0, qIdx)
    }
    var version: String = null
    // '@' only separates a version when it follows the last path
    // segment — a scoped npm purl written with a literal '@' and no
    // version (pkg:npm/@babel/core) must not parse "babel/core" as a
    // version (packageurl-python's tolerant scope handling)
    val atIdx = s.lastIndexOf('@')
    if (atIdx >= 0 && atIdx > s.lastIndexOf('/')) {
      version = dec(s.substring(atIdx + 1))
      if (version.isEmpty) version = null
      s = s.substring(0, atIdx)
    }
    val segs = s.split("/").filter(_.nonEmpty)
    if (segs.length < 2) return null
    val ptype = segs.head.toLowerCase
    val name = dec(segs.last)
    if (name.isEmpty) return null
    val namespace =
      if (segs.length > 2) segs.slice(1, segs.length - 1).map(dec).mkString("/")
      else null
    Array(ptype, namespace, name, version, qualifiers, subpath)
  }

  /** Decoded qualifier map for `purl`. Unlike re-splitting the joined
    * string in `parse` (which URL-decodes values first), this splits the
    * RAW query on `&`/`=` before decoding, so values legitimately
    * containing encoded `%26`/`%3D` survive intact. */
  def parseQualifiers(purl: String): Map[String, String] = {
    var s = purl.trim
    val hashIdx = s.indexOf('#')
    if (hashIdx >= 0) s = s.substring(0, hashIdx)
    val qIdx = s.indexOf('?')
    if (qIdx < 0) Map.empty
    else s.substring(qIdx + 1).split("&").toSeq.flatMap { kv =>
      val eq = kv.indexOf('=')
      if (eq <= 0) None
      else {
        val k = kv.substring(0, eq).toLowerCase
        val v = dec(kv.substring(eq + 1))
        if (k.isEmpty || v.isEmpty) None else Some(k -> v)
      }
    }.toMap
  }
}

/** natver_key(version) -> string key whose binary ordering equals the
  * reference's natural-version ordering (reference
  * `packagedb/models.py:51-53`: natsort of `version.replace('.','~')+'z'`).
  * The `~`/`z` trick yields "1.2rc1" < "1.2" < "1.2.1" < "1.10" —
  * pre-releases sort before their base version, like semver. We apply
  * the same rewrite, then zero-pad digit runs to 12 so plain string
  * comparison of keys reproduces natsort's (int,str) tuple ordering.
  */
case class NatVersionKey(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "natver_key"
  override protected def nullSafeEval(input: Any): Any =
    NatVersionKey.compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      v => s"graft.functions.NatVersionKey.compute($v)")
  override protected def withNewChildInternal(c: Expression): NatVersionKey =
    copy(c)
}

object NatVersionKey {
  /** Catalyst-typed entry used by both interpreted eval and generated
    * code (static forwarder). */
  def compute(v: UTF8String): UTF8String = UTF8String.fromString(key(v.toString))

  def key(version: String): String = {
    val v = version.replace(".", "~") + "z"
    val sb = new StringBuilder(v.length + 16)
    var i = 0
    while (i < v.length) {
      if (v.charAt(i).isDigit) {
        var j = i
        while (j < v.length && v.charAt(j).isDigit) j += 1
        val run = v.substring(i, j).dropWhile(_ == '0')
        val digits = if (run.isEmpty) "0" else run
        val pad = 12 - digits.length
        if (pad > 0) sb.append("0" * pad)
        sb.append(digits)
        i = j
      } else {
        sb.append(v.charAt(i))
        i += 1
      }
    }
    sb.toString
  }
}

/** uri_routable(uri) -> boolean over one of the generated route
  * registries — the reference's `is_routable` membership
  * (`minecode/route.py:187-200`, consumed at save time by
  * `minecode/models.py:482-483`). Runs the prefix-pruned
  * [[graft.miners.Router]] dispatch — literal-prefix `startsWith`
  * gates each full-match regex, cutting mean attempts/URI from 95 to
  * ~14 (visit) and 56 to ~0.2 (priority) — so flag computation and
  * executor-side resolve share ONE dispatch implementation. Same
  * answer as the reference's monolithic `^(p1|..|pn)$` alternation
  * (RouteSpec pins equivalence on the python-re fixture) at
  * wall-clock parity on warm JIT (both ≥2.5M URIs/s on 32 threads —
  * BASELINE.md "Round-8 route-dispatch throughput"), with a bounded
  * worst case under regex backtracking that the alternation lacks.
  * Stays inside whole-stage codegen; `registry` ∈ visit/map/priority
  * is a plan-time constant.
  */
case class UriRoutable(child: Expression, registry: String)
    extends UnaryExpression {
  require(Set("visit", "map", "priority")(registry),
    s"unknown registry: $registry")
  override def dataType: DataType = BooleanType
  override def prettyName: String = s"uri_routable_$registry"
  override protected def nullSafeEval(input: Any): Any =
    UriRoutable.compute(input.asInstanceOf[UTF8String], registry)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      v => s"""graft.functions.UriRoutable.compute($v, "$registry")""")
  override protected def withNewChildInternal(c: Expression): UriRoutable =
    copy(child = c)
}

object UriRoutable {
  /** Static forwarder shared by interpreted eval and generated code;
    * the router (with its compiled patterns and prefix table) is a
    * per-JVM lazy singleton behind RouteRegistry. */
  def compute(uri: UTF8String, registry: String): Boolean =
    graft.miners.RouteRegistry.router(registry).isRoutable(uri.toString)
}

/** hamming_bin(a, b) -> int popcount(a XOR b) over equal-length binary
  * values; NULL on length mismatch. Reproduces the reference's
  * byte_hamming_distance over 16-byte bah128 fingerprints
  * (`matchcode/models.py:272-291`), generalized to any width.
  */
case class HammingBin(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "hamming_bin"
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val d = HammingBin.compute(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Array[Byte]])
    if (d < 0) null else d
  }
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      int ${ev.value}_d = graft.functions.HammingBin.compute($a, $b);
      if (${ev.value}_d < 0) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_d; }
    """)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): HammingBin = copy(l, r)
}

object HammingBin {
  /** Popcount of XOR; -1 on length mismatch (null at the SQL layer).
    * Static forwarder shared by interpreted eval and codegen. */
  def compute(x: Array[Byte], y: Array[Byte]): Int = {
    if (x.length != y.length) return -1
    var d = 0; var i = 0
    while (i < x.length) {
      d += java.lang.Integer.bitCount((x(i) ^ y(i)) & 0xff); i += 1
    }
    d
  }
}

/** hamming_bytes(binary, binary) -> int: count of BYTE positions that
  * differ — the reference's `byte_hamming_distance` metric used by
  * every approximate-index match (`matchcode/models.py:274-288` via
  * samecode; confirmed against the reference's approximate-file
  * fixtures, where inflate-mod.c is 10 bits but only 7 bytes away
  * from inflate.c and the expected results record a match under the
  * <10 threshold). */
case class HammingBytes(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "hamming_bytes"
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val d = HammingBytes.compute(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Array[Byte]])
    if (d < 0) null else d
  }
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      int ${ev.value}_d = graft.functions.HammingBytes.compute($a, $b);
      if (${ev.value}_d < 0) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_d; }
    """)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): HammingBytes = copy(l, r)
}

object HammingBytes {
  /** Differing-byte count; -1 on length mismatch (null at SQL layer). */
  def compute(x: Array[Byte], y: Array[Byte]): Int = {
    if (x.length != y.length) return -1
    var d = 0; var i = 0
    while (i < x.length) {
      if (x(i) != y(i)) d += 1
      i += 1
    }
    d
  }
}

/** simhash64(array<string>) -> long: Charikar SimHash over token
  * FNV-1a-64 hashes — bit i of the result is 1 iff the count of tokens
  * with bit i set exceeds half the token count. Used for near-duplicate
  * detection with banded LSH + Hamming verify (the same
  * band-then-verify plan as the reference's bah128 directory matching,
  * `matchcode/models.py:228-373`).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override protected def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(SimHash64.compute(input.asInstanceOf[ArrayData]))
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      v => s"graft.functions.SimHash64.compute($v)")
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
}

object SimHash64 {
  /** Static forwarder shared by interpreted eval and generated code. */
  def compute(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var nTok = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = Fnv.hash64(arr.getUTF8String(i).getBytes)
        var b = 0
        while (b < 64) { if (((h >>> b) & 1L) == 1L) counts(b) += 1; b += 1 }
        nTok += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) * 2 > nTok) out |= (1L << b); b += 1 }
    out
  }
}

/** dot_long(array<long>, array<long>) -> long: integer dot product
  * in one codegen'd loop — no intermediate array. The zip_with +
  * aggregate formulation allocates a 64-element array per evaluation;
  * it measured 4× query-level throughput for this expression
  * (10.3M vs 2.6M rows/s over 64-dim pairs, BASELINE.md "Round-8
  * dot-product probe"), which
  * compounds across the n×k evaluations of k-means cell assignment.
  * Callers guarantee equal lengths and |component| ≤ 1e6 quantized
  * units (sums bounded far below Long overflow; Java arithmetic here
  * wraps rather than throwing like ANSI `*`, identical on the
  * bounded domain).
  */
case class DotLong(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_long"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotLong.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.DotLong.compute($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DotLong = copy(l, r)
}

object DotLong {
  /** Static forwarder shared by interpreted eval and generated code. */
  def compute(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }
}

/** minhash_sig(array<string>, k) -> array<long>: k min-hash values
  * (seeded FNV-1a) over the token set — the signature used by the
  * banded-LSH near-dup join. k must be a foldable int literal.
  */
case class MinHashSig(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override protected def nullSafeEval(tokens: Any, kAny: Any): Any =
    MinHashSig.compute(tokens.asInstanceOf[ArrayData],
      kAny.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, k) => s"graft.functions.MinHashSig.compute($t, $k)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): MinHashSig = copy(l, r)
}

object MinHashSig {
  /** Static forwarder shared by interpreted eval and generated code. */
  def compute(arr: ArrayData, k: Int): ArrayData = {
    val sig = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val bytes = arr.getUTF8String(i).getBytes
        var j = 0
        while (j < k) {
          val h = Fnv.hash64(bytes, j)
          if (h < sig(j)) sig(j) = h
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
}

/** rollhash_fps(array<string>, window, keep) -> array<long>: rolling
  * (Rabin-Karp style) fingerprints over token windows, keeping the
  * `keep` smallest distinct values — a winnowed document fingerprint
  * like the reference's 16-token snippet fingerprints
  * (`matchcode/models.py:546-549`).
  */
case class RollingFingerprints(
    first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rollhash_fps"
  override protected def nullSafeEval(tok: Any, wAny: Any, kAny: Any): Any =
    RollingFingerprints.compute(tok.asInstanceOf[ArrayData],
      wAny.asInstanceOf[Int], kAny.asInstanceOf[Int])
  // static-forwarder codegen: result is never null, only the inputs'
  // null checks (handled by nullSafeCodeGen) gate it
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, w, k) => s"""
      ${ev.value} = graft.functions.RollingFingerprints.compute($t, $w, $k);
    """)
  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression): RollingFingerprints =
    copy(a, b, c)
}

object RollingFingerprints {
  /** Static forwarder shared by interpreted eval and generated code. */
  def compute(arr: ArrayData, w: Int, keep: Int): ArrayData = {
    val n = arr.numElements()
    val hashes = new Array[Long](n)
    var i = 0
    while (i < n) {
      hashes(i) = if (arr.isNullAt(i)) 0L else Fnv.hash64(arr.getUTF8String(i).getBytes)
      i += 1
    }
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val nWin = math.max(1, n - w + 1)
    val fps = new Array[Long](nWin)
    val B = 0x100000001b3L
    // highest power of B in the window, for O(1) slide
    var bw = 1L
    var p = 0
    while (p < math.min(w, n) - 1) { bw *= B; p += 1 }
    var h = 0L
    i = 0
    while (i < math.min(w, n)) { h = h * B + hashes(i); i += 1 }
    fps(0) = h
    i = 1
    while (i < nWin) {
      h = (h - hashes(i - 1) * bw) * B + hashes(i + w - 1)
      fps(i) = h
      i += 1
    }
    val kept = fps.distinct.sorted.take(keep)
    new GenericArrayData(kept)
  }
}

/** F2 — canonical_url(url): lowercase scheme/host (IDN-encoded),
  * default-port drop, dot-segment normalization, fragment drop
  * (reference `minecode/utils.py` get_canonical semantics via
  * [[CanonicalUrl]]). Static-forwarder codegen: the call stays inside
  * whole-stage codegen, no UDF serialization barrier. Unparseable
  * URLs yield NULL. */
case class CanonicalUrlExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "canonical_url"
  override protected def nullSafeEval(u: Any): Any =
    CanonicalUrlExpr.compute(u.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, u => s"""
      ${ev.value} = graft.functions.CanonicalUrlExpr.compute($u);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  override protected def withNewChildInternal(c: Expression)
      : CanonicalUrlExpr = copy(c)
}

object CanonicalUrlExpr {
  /** Static forwarder shared by interpreted eval and generated code. */
  def compute(u: UTF8String): UTF8String =
    CanonicalUrl(u.toString).map(UTF8String.fromString).orNull
}

/** F15 — vers_contains(rangeSpec, version): VERSION-RANGE-SPEC
  * membership ([[VersRange.contains]]). Three-valued: NULL when the
  * spec is unsupported/malformed (callers coalesce to their default),
  * matching the Option the Scala API returns. */
case class VersContains(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "vers_contains"
  override protected def nullSafeEval(r: Any, v: Any): Any =
    VersContains.compute(r.asInstanceOf[UTF8String],
      v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, v) => s"""
      java.lang.Boolean ${ev.value}_b =
        graft.functions.VersContains.compute($r, $v);
      if (${ev.value}_b == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_b.booleanValue(); }
    """)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): VersContains = copy(l, r)
}

object VersContains {
  /** Static forwarder shared by interpreted eval and generated code. */
  def compute(range: UTF8String, v: UTF8String): java.lang.Boolean =
    VersRange.contains(range.toString, v.toString)
      .map(java.lang.Boolean.valueOf).orNull
}

/** F15/F6 — vers_cmp(scheme, a, b): sign of the scheme-aware version
  * comparison ([[EcosystemVersions.compare]]: pep440/debian/maven/
  * semver/generic orderings). */
case class VersCmp(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "vers_cmp"
  override protected def nullSafeEval(s: Any, a: Any, b: Any): Any =
    VersCmp.compute(s.asInstanceOf[UTF8String],
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (s, a, b) => s"graft.functions.VersCmp.compute($s, $a, $b)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): VersCmp = copy(f, s, t)
}

object VersCmp {
  /** Static forwarder shared by interpreted eval and generated code. */
  def compute(scheme: UTF8String, a: UTF8String, b: UTF8String): Int =
    Integer.signum(
      EcosystemVersions.compare(scheme.toString, a.toString, b.toString))
}

/** langid(text) — Cavnar-Trenkle trigram-profile language
  * identification ([[LangId.predict]]). */
case class LangIdExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "langid"
  override protected def nullSafeEval(t: Any): Any =
    LangIdExpr.compute(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.LangIdExpr.compute($t)")
  override protected def withNewChildInternal(c: Expression): LangIdExpr =
    copy(c)
}

object LangIdExpr {
  /** Static forwarder shared by interpreted eval and generated code. */
  def compute(t: UTF8String): UTF8String =
    UTF8String.fromString(LangId.predict(t.toString))
}

/** unicode_nfc(text) — Unicode NFC normalization
  * (java.text.Normalizer, the JDK implementation of UAX #15). The
  * text-cleaning pass of a training-data pipeline runs this before
  * hashing/dedup so that canonically-equivalent byte sequences (e.g.
  * "e" + U+0301 vs the precomposed U+00E9) collapse to one form —
  * otherwise exact dedup silently misses visually identical
  * documents. Static-forwarder codegen keeps it inside whole-stage
  * codegen; the fast path skips allocation entirely for text already
  * in NFC (Normalizer.isNormalized is a cheap scan, and ASCII — the
  * bulk of a web corpus — always is). */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "unicode_nfc"
  override protected def nullSafeEval(t: Any): Any =
    NfcNormalize.compute(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.NfcNormalize.compute($t)")
  override protected def withNewChildInternal(c: Expression): NfcNormalize =
    copy(c)
}

object NfcNormalize {
  import java.text.Normalizer
  /** Static forwarder shared by interpreted eval and generated code. */
  def compute(t: UTF8String): UTF8String = {
    val s = t.toString
    if (Normalizer.isNormalized(s, Normalizer.Form.NFC)) t
    else UTF8String.fromString(Normalizer.normalize(s, Normalizer.Form.NFC))
  }
}
