package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Similarity primitives for near-duplicate detection and embedding search:
  * MinHash signatures, SimHash, and cosine/dot-product over float vectors.
  *
  * All column expressions, no UDFs. Hash determinism: every hash bottoms out
  * in md5-hex→int (TextFunctions.hexLong32/60), which is bit-identical across
  * engines and runs — a requirement for both the DuckDB oracle and for
  * incremental dedup at scale (signatures computed in different jobs must
  * agree).
  */
object SimilarityFunctions {
  import TextFunctions.{hexLong32, hexLong60}

  /** Prime > 2^32 for modular minhash permutations; with 32-bit base hashes
    * and coefficients < 2^31, a*h+b stays within signed 64-bit. */
  val MinHashP = 4294967311L

  /** Deterministic permutation coefficients for hash i. */
  def minhashCoef(i: Int): (Long, Long) =
    ((1000003L * (i + 1)) % 2147483647L, (7919L * (i + 1)) % MinHashP)

  /** MinHash signature: array of `n` minima of permuted 32-bit shingle
    * hashes. Input: array<string> shingles (deduped). Null-safe: empty
    * shingle set → array of nulls.
    *
    * Performance: the permutation loop is a `transform(sequence(...))` over a
    * single reference to the hashed-shingle array, so each shingle is md5'd
    * exactly once regardless of `n`. (A Scala-side loop of n array_min
    * columns would inline the hash computation n times — measured 16× slower
    * at sf0.1.) Coefficients are computed arithmetically from the index i,
    * matching minhashCoef.
    */
  def minhashSignature(shingles: Column, n: Int): Column =
    minhashFromHashes(transform(shingles, s => hexLong32(s)), n)

  /** Signature from pre-hashed shingles. For corpus-scale use, materialize
    * the hashed-shingle array first (cache/checkpoint) and pass the column:
    * the n permutation passes then cost arithmetic only — each shingle is
    * md5'd once for the whole family, not once per permutation.
    */
  def minhashFromHashes(hs: Column, n: Int): Column =
    transform(sequence(lit(1), lit(n)), i => {
      val a = (lit(1000003L) * i.cast("long")) % 2147483647L
      val b = (lit(7919L) * i.cast("long")) % MinHashP
      array_min(transform(hs, h => (a * h + b) % MinHashP))
    })

  /** r17 row-side signatures (see [[graft.functions.TokenHashExprs]]): one
    * primitive loop per document instead of explode + wide groupBy
    * aggregate; null/empty arrays → null (callers filter the cheap source
    * precondition to reproduce explode's row drop). */
  def minhashSigRow(shingles: Column, n: Int): Column = {
    val bridge = org.apache.spark.sql.graftbridge.CatalystBridge
    bridge.column(graft.functions.MinhashSigExpr(bridge.expression(shingles), n))
  }

  def simhash64Row(toks: Column): Column = {
    val bridge = org.apache.spark.sql.graftbridge.CatalystBridge
    bridge.column(graft.functions.Simhash64Expr(bridge.expression(toks)))
  }

  /** LSH band keys: hash each of `bands` contiguous slices of the signature
    * to a single long; docs sharing any band key are candidate pairs.
    * rowsPerBand = sigLen / bands.
    */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      hexLong60(concat_ws(",",
        lit(b.toString) +: (0 until rowsPerBand).map(r =>
          element_at(sig, b * rowsPerBand + r + 1).cast("string")): _*))
    }: _*)

  /** 64-bit SimHash over an array<string> of tokens — the standard width
    * (16-bit was a quadratic scale-killer: 65,536 join keys means candidate
    * volume ~n²/2¹⁶ on any large corpus). Each bit is the sign of the sum of
    * ±1 votes from the tokens' hashes; bits 0-31 vote from md5 hex chars
    * 1-8, bits 32-63 from chars 9-16 (one digest per token).
    *
    * Bit 63 is encoded as the signed long's sign term (-2⁶³ when set, added
    * LAST so every intermediate sum stays in range under ANSI overflow
    * checks) — the resulting long is bit-faithful two's complement, so
    * popcount-of-xor hamming works unchanged in Spark and DuckDB (both
    * two's-complement for xor/bit_count, verified).
    */
  private val Pow2: Column =
    typedLit((0 until 32).map(b => 1L << b))

  private def votes32(hs: Column): Column = aggregate(hs,
    transform(sequence(lit(0), lit(31)), _ => lit(0L)),
    (acc, h) => zip_with(acc, sequence(lit(0), lit(31)),
      (a, b) => a + ((h / element_at(Pow2, b.cast("int") + 1)).cast("long") % 2) * 2 - 1))

  def simhash64(toks: Column): Column = {
    // One aggregate pass per 32-slot vote array (tokens hashed once; the
    // hash is the expensive part — votes are arithmetic), then a fold over
    // the votes — not 64 separate aggregates.
    val vLo = votes32(transform(toks, t => hexLong32(t)))
    val vHi = votes32(transform(toks, t => TextFunctions.hexLong32Hi(t)))
    val lo = aggregate(
      zip_with(vLo, Pow2, (v, p) => when(v > 0, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
    val hi62 = aggregate(
      zip_with(slice(vHi, 1, 31), typedLit((0 until 31).map(b => 1L << (b + 32))),
        (v, p) => when(v > 0, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
    val signTerm = when(element_at(vHi, 32) > 0, lit(Long.MinValue)).otherwise(lit(0L))
    lo + hi62 + signTerm
  }

  /** Hamming distance between two 64-bit simhash longs (popcount of xor —
    * two's complement, so the sign bit counts like any other). */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("int")

  /** Banded multi-probe keys for hamming≤k search over 64-bit simhashes:
    * 4 disjoint 16-bit bands; by pigeonhole, any pair within hamming ≤ 3
    * agrees exactly on at least one band, so an equi-join on (band index,
    * band value) finds all such pairs — the minimal exact-match banding for
    * k=3 over 64 bits. Per-band key space is 2¹⁶ (16 bits is the widest
    * band 4-way pigeonhole allows), so candidate volume grows ~4·n²/2¹⁶;
    * every candidate is then popcount-verified on the full 64 bits, so
    * false positives cost join fan-out, not correctness. At corpus scale,
    * the wide-key refinement is Manku et al. (WWW'07): permute 64 bits into
    * C(6,3)=20 tables each keyed on ~32 leading bits — more probes, but
    * n²/2³² candidates per table. Band value extraction is shift+mask,
    * which is arithmetic/logical-shift agnostic (the mask kills sign
    * extension).
    */
  def simhashBandKey(simhash: Column, band: Int): Column =
    lit(band.toLong * 65536L) + shiftright(simhash, band * 16).bitwiseAND(lit(65535L))

  /** Dot product of two numeric-array columns, accumulated in double in
    * array order (deterministic — bit-identical to the previous
    * `aggregate(zip_with(...))` spelling, which allocated a 64-element
    * intermediate array and ran two interpreted lambdas PER PAIR; the
    * LSH candidate joins evaluate this tens of millions of times, so the
    * tight primitive loop in [[VectorDot]] is the embedding family's
    * single hottest win). */
  def dotProduct(a: Column, b: Column): Column = {
    val bridge = org.apache.spark.sql.graftbridge.CatalystBridge
    bridge.column(VectorDot(bridge.expression(a), bridge.expression(b)))
  }

  /** Index of the nearest centroid (squared-L2 when useL2, max dot product
    * otherwise; ties to the smaller index) — see [[NearestCentroid]]. */
  def nearestCentroid(vec: Column, cents: Seq[Seq[Double]], useL2: Boolean): Column = {
    val bridge = org.apache.spark.sql.graftbridge.CatalystBridge
    bridge.column(NearestCentroid(bridge.expression(vec),
      cents.map(_.toArray).toArray, useL2))
  }

  def l2Norm(a: Column): Column = sqrt(dotProduct(a, a))

  /** Symmetric int8 quantization scale: max|x| / 127 (floored at 1e-12 so a
    * zero vector quantizes to zeros instead of dividing by zero). The
    * standard ANN memory lever — 4× smaller vectors, cosine preserved to
    * ~1e-2, exact integer dot products that reproduce bit-for-bit in any
    * engine. */
  def int8Scale(a: Column): Column =
    greatest(array_max(transform(a, x => abs(x.cast("double")))), lit(1e-12)) / 127.0

  /** Quantized codes as integer-valued doubles: floor(x/scale + 0.5) —
    * explicit half-up rounding, identical in Spark and DuckDB (library
    * round() half-mode differs between engines). */
  def int8Quantize(a: Column, scale: Column): Column =
    transform(a, x => floor(x.cast("double") / scale + lit(0.5)))

  /** Hyperplane weights, computed driver-side (plane j, dim i):
    * (md5-first-8-hex("j_i") % 2001 - 1000) / 1000.0 — deterministic, no RNG
    * state, and reproducible in any engine with md5 (the DuckDB oracle
    * re-derives the identical matrix). Same formula the bucket expression
    * used in-plan before; hoisting it to the driver keeps the per-row work
    * to `planes` dot products instead of a 512-node expression tree (which
    * fell out of codegen and evaluated interpreted — 13× slower).
    */
  def hyperplaneWeights(planes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until planes).map(j => (0 until dim).map { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${j}_$i".getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16)
      (h % 2001L - 1000L).toDouble / 1000.0
    })

  /** Signed random-hyperplane LSH bucket for a float vector: `planes`
    * md5-derived hyperplanes; bit j = sign of the projection onto plane j.
    * Each plane's weights ride the plan as one array literal, so the per-row
    * cost is `planes` zip_with/aggregate dot products over the vector — the
    * same shape as [[dotProduct]], and the summation order matches the
    * oracle's list_dot_product (sequential fold) bit-for-bit.
    */
  def hyperplaneBucket(vec: Column, planes: Int, dim: Int): Column = {
    val w = hyperplaneWeights(planes, dim)
    (0 until planes).map { j =>
      val proj = dotProduct(vec, typedLit(w(j)))
      when(proj > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }
}

/** Sequential-fold dot product over two numeric arrays as ONE primitive
  * loop. Semantics are exactly the `aggregate(zip_with(a, b, (x, y) ->
  * double(x) * double(y)), 0.0, (acc, v) -> acc + v)` spelling it
  * replaces: left-to-right double accumulation (bit-identical to the
  * DuckDB oracle's list fold), a null array or any null ELEMENT nulls the
  * result (null product poisons the running sum), and arrays of unequal
  * length null it too (zip_with pads the shorter side with nulls). The
  * interpreted-HOF spelling allocated an intermediate array and evaluated
  * two lambdas per element; candidate joins run this tens of millions of
  * times per query. */
case class VectorDot(
    left: org.apache.spark.sql.catalyst.expressions.Expression,
    right: org.apache.spark.sql.catalyst.expressions.Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types._

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  // r17: the per-element reads were `(ArrayData, Int) => Double` closures —
  // Scala generates no specialized Function2 for an Object first argument,
  // so EVERY element read boxed its Double (one allocation per multiply,
  // tens of millions per candidate join). Monomorphic typed loops below;
  // identical fold order and null semantics.
  private def tcode(t: DataType): Int = t match {
    case DoubleType => 0
    case FloatType => 1
    case LongType => 2
    case IntegerType => 3
    case ShortType => 4
    case ByteType => 5
    case other => throw new IllegalArgumentException(s"vector_dot element type: $other")
  }
  @transient private lazy val codeL =
    tcode(left.dataType.asInstanceOf[ArrayType].elementType)
  @transient private lazy val codeR =
    tcode(right.dataType.asInstanceOf[ArrayType].elementType)

  @inline private def rd(a: ArrayData, i: Int, code: Int): Double = (code: @annotation.switch) match {
    case 0 => a.getDouble(i)
    case 1 => a.getFloat(i).toDouble
    case 2 => a.getLong(i).toDouble
    case 3 => a.getInt(i).toDouble
    case 4 => a.getShort(i).toDouble
    case _ => a.getByte(i).toDouble
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0.0
    var i = 0
    if (codeL == 0 && codeR == 0) {
      // the dominant shape (embedding vectors cast to double)
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
    } else if (codeL == 1 && codeR == 1) {
      // raw float embeddings
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
    } else {
      val cl = codeL; val cr = codeR
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += rd(x, i, cl) * rd(y, i, cr)
        i += 1
      }
    }
    acc
  }

  override protected def withNewChildrenInternal(
      l: org.apache.spark.sql.catalyst.expressions.Expression,
      r: org.apache.spark.sql.catalyst.expressions.Expression): VectorDot =
    copy(left = l, right = r)
  override def prettyName: String = "vector_dot"
}

/** Argmin over a fixed centroid matrix as ONE primitive loop per row — the
  * k-means / IVF assignment hot path. Semantically identical to the
  * array_min-over-(score, index)-structs spelling (score = ||c||^2 - 2 x.c
  * for L2, -x.c for max-dot; ties to the smaller index; the same index-order
  * double fold as [[VectorDot]], so oracle parity carries over) but without
  * k boxed VectorDot evals and a k-element struct array per row: under
  * SemDeDup's adaptive cluster count k reaches ~n/256, where the per-row
  * constant is the whole assignment cost (measured 148 s -> single-digit
  * seconds at sf10, k=200). The centroid matrix is a constructor parameter,
  * not a child — k x d doubles serialized once with the plan, ||c||^2
  * precomputed once per task. A row whose vector length differs from the
  * centroids' is a loud error (the struct spelling silently ranked such
  * centroids first via a null score — unreachable for same-table seeds). */
case class NearestCentroid(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    centroids: Array[Array[Double]],
    useL2: Boolean)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types._

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  @transient private lazy val csq: Array[Double] = centroids.map { cv =>
    var a = 0.0; var i = 0
    while (i < cv.length) { a += cv(i) * cv(i); i += 1 }
    a
  }
  @transient private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => true
      case DoubleType => false
      case other => throw new IllegalArgumentException(s"nearest_centroid element type: $other")
    }

  /** r17: two-level EXACT assignment for large k — the flat k x d loop is
    * n·k·d with SemDeDup's k ∝ n (quadratic at corpus scale; SCALE.md
    * §9.11). The k centroids are grouped into ceil(sqrt(k)) super-clusters
    * (deterministic task-side Lloyd over the k x d matrix — O(k·sqrt(k)·d),
    * negligible next to one input partition); per row the super-centroid
    * distances order the groups and the triangle inequality
    * d(x,c) >= d(x,s) - r_s (resp. dot(x,c) <= dot(x,s) + |x|·r_s) prunes
    * whole groups that provably cannot beat the best score found so far.
    * EXACT by construction: a group is skipped only when its bound strictly
    * exceeds the current best plus a margin that dominates double rounding,
    * scanned centroids use the identical index-order fold as the flat loop,
    * and the (score, index) argmin update is scan-order-independent — so
    * the result is bit-identical to the flat loop at every scale (asserted
    * against it in NearestCentroidSpec). Below the threshold the flat loop
    * runs unchanged (the gate-SF oracle path: adaptive k resolves to 8). */
  private val TwoLevelMinK = NearestCentroid.TwoLevelMinK

  /** The grouping is memoized JVM-WIDE, keyed on a content hash of the
    * centroid matrix (NearestCentroid.groupingFor): the expression is
    * deserialized once per TASK, and a per-instance lazy val recomputed
    * ~150 ms of grouping per task — measured 17 s/task under 32-way
    * contention at sf10, a 4x regression on dedup_semantic before the
    * memo. A hash collision would only mis-steer pruning (scan more or
    * fewer groups than ideal) — results stay exact because the bound test
    * is what guards correctness, so the cache key needs no perfect
    * fidelity. */
  @transient private lazy val grouping: NearestCentroid.Grouping =
    NearestCentroid.groupingFor(centroids)

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val dim = centroids(0).length
    if (x.numElements() != dim)
      throw new IllegalArgumentException(
        s"nearest_centroid: vector length ${x.numElements()} != centroid dim $dim")
    // one primitive copy per ROW, amortized over all k centroid loops —
    // per-element ArrayData getters inside the k x d loop would be a
    // virtual call per multiply (measured ~4x slower at k=782)
    val xs: Array[Double] =
      if (isFloat) {
        val f = x.toFloatArray()
        val d = new Array[Double](dim)
        var i = 0
        while (i < dim) { d(i) = f(i).toDouble; i += 1 }
        d
      } else x.toDoubleArray()
    if (centroids.length < TwoLevelMinK) flatScan(xs, dim)
    else prunedScan(xs, dim)
  }

  private def flatScan(xs: Array[Double], dim: Int): Int = {
    var best = Double.PositiveInfinity
    var bi = 0
    var c = 0
    while (c < centroids.length) {
      val cv = centroids(c)
      var dot = 0.0
      var i = 0
      while (i < dim) { dot += xs(i) * cv(i); i += 1 }
      val score = if (useL2) csq(c) - 2.0 * dot else -dot
      if (score < best) { best = score; bi = c }
      c += 1
    }
    bi
  }

  private def prunedScan(xs: Array[Double], dim: Int): Int = {
    val gr = grouping
    val g = gr.supers.length
    var xsq = 0.0
    var i0 = 0
    while (i0 < dim) { xsq += xs(i0) * xs(i0); i0 += 1 }
    val xnorm = math.sqrt(xsq)
    // group lower bounds on the (flat-loop) score of any member:
    //   L2:  score = d^2 - xsq >= max(0, d(x,s) - r)^2 - xsq
    //   dot: score = -dot(x,c) >= -dot(x,s) - |x|·r
    val lbs = new Array[Double](g)
    val ord = new Array[Int](g)
    var j = 0
    while (j < g) {
      val sv = gr.supers(j)
      var dotg = 0.0
      var i = 0
      while (i < dim) { dotg += xs(i) * sv(i); i += 1 }
      lbs(j) =
        if (useL2) {
          val d2 = math.max(0.0, gr.ssq(j) - 2.0 * dotg + xsq)
          val t = math.max(0.0, math.sqrt(d2) - gr.radius(j))
          t * t - xsq
        } else -dotg - xnorm * gr.radius(j)
      ord(j) = j
      j += 1
    }
    // insertion sort of the g group ids by lower bound (g = sqrt(k), tiny)
    var a = 1
    while (a < g) {
      val oj = ord(a); val key = lbs(oj)
      var b = a - 1
      while (b >= 0 && lbs(ord(b)) > key) { ord(b + 1) = ord(b); b -= 1 }
      ord(b + 1) = oj
      a += 1
    }
    // best-first scan; a group whose bound strictly exceeds best (plus a
    // margin dominating double rounding, so exactness survives fp error)
    // cannot improve the argmin — nor can any later group (bounds sorted)
    var best = Double.PositiveInfinity
    var bi = 0
    var hasBest = false
    var oi = 0
    while (oi < g) {
      val grp = ord(oi)
      if (hasBest && lbs(grp) > best + 1e-9 * (math.abs(best) + 1.0)) oi = g
      else {
        val mem = gr.members(grp)
        var m = 0
        while (m < mem.length) {
          val c = mem(m)
          val cv = centroids(c)
          var dot = 0.0
          var i = 0
          while (i < dim) { dot += xs(i) * cv(i); i += 1 }
          val score = if (useL2) csq(c) - 2.0 * dot else -dot
          // smallest index among equal minima, independent of scan order —
          // identical to the flat loop's first-strict-min-wins
          if (score < best || (score == best && c < bi)) {
            best = score; bi = c; hasBest = true
          }
          m += 1
        }
        oi += 1
      }
    }
    bi
  }

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): NearestCentroid =
    copy(child = newChild)
  override def prettyName: String = "nearest_centroid"
}

object NearestCentroid {
  private[functions] val TwoLevelMinK = 64

  private[functions] final class Grouping(
    val supers: Array[Array[Double]], // g x d super-centroids
    val ssq: Array[Double],           // ||s||^2 per super
    val radius: Array[Double],        // max L2 distance super -> member
    val members: Array[Array[Int]])   // centroid indices per super

  // JVM-wide memo: one grouping computation per distinct centroid matrix
  // per process (driver plan copies and every task deserialize their own
  // NearestCentroid instance; an instance-level lazy val recomputed the
  // ~150 ms build per task — 17 s/task under full-box contention). Keyed
  // on a 64-bit content hash: a collision only mis-steers pruning (the
  // bound test keeps results exact), so the key needs no perfect fidelity.
  private val groupings =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int), Grouping]()

  private def contentHash(cents: Array[Array[Double]]): Long = {
    var h = 1125899906842597L
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      var i = 0
      while (i < cv.length) {
        h = h * 31 + java.lang.Double.doubleToLongBits(cv(i))
        i += 1
      }
      c += 1
    }
    h
  }

  private[functions] def groupingFor(cents: Array[Array[Double]]): Grouping = {
    if (groupings.size > 64) groupings.clear() // bound a long-lived session
    groupings.computeIfAbsent(
      (contentHash(cents), cents.length, cents(0).length),
      _ => buildGroups(cents))
  }

  private def buildGroups(centroids: Array[Array[Double]]): Grouping = {
    val k = centroids.length
    val dim = centroids(0).length
    val g = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    // seeds spread across the index range; any grouping is CORRECT (it only
    // steers pruning), determinism just keeps performance reproducible
    var supers = Array.tabulate(g)(j => centroids((j.toLong * k / g).toInt).clone())
    val assign = new Array[Int](k)
    var iter = 0
    while (iter < 4) {
      var c = 0
      while (c < k) {
        val cv = centroids(c)
        var bs = Double.PositiveInfinity; var bj = 0; var j = 0
        while (j < g) {
          val sv = supers(j)
          var d2 = 0.0; var i = 0
          while (i < dim) { val t = cv(i) - sv(i); d2 += t * t; i += 1 }
          if (d2 < bs) { bs = d2; bj = j }
          j += 1
        }
        assign(c) = bj
        c += 1
      }
      val sums = Array.fill(g)(new Array[Double](dim))
      val cnt = new Array[Int](g)
      c = 0
      while (c < k) {
        val s = sums(assign(c)); val cv = centroids(c)
        var i = 0
        while (i < dim) { s(i) += cv(i); i += 1 }
        cnt(assign(c)) += 1
        c += 1
      }
      supers = Array.tabulate(g) { j =>
        if (cnt(j) == 0) supers(j)
        else { val s = sums(j); val m = new Array[Double](dim)
          var i = 0; while (i < dim) { m(i) = s(i) / cnt(j); i += 1 }; m }
      }
      iter += 1
    }
    val members = Array.tabulate(g)(j => (0 until k).filter(assign(_) == j).toArray)
    val ssq = supers.map { sv =>
      var a = 0.0; var i = 0
      while (i < sv.length) { a += sv(i) * sv(i); i += 1 }
      a
    }
    val radius = Array.tabulate(g) { j =>
      val sv = supers(j)
      var r = 0.0
      for (c <- members(j)) {
        val cv = centroids(c)
        var d2 = 0.0; var i = 0
        while (i < dim) { val t = cv(i) - sv(i); d2 += t * t; i += 1 }
        val d = math.sqrt(d2)
        if (d > r) r = d
      }
      r
    }
    new Grouping(supers, ssq, radius, members)
  }
}

/** Position-wise equality count over two arrays as one primitive loop —
  * the minhash signature-agreement estimator's hot inner step
  * (`aggregate(zip_with(a, b, (x, y) -> if(x==y, 1, 0)), 0, +)` evaluated
  * once per CANDIDATE PAIR). Matches the zip_with spelling exactly: a
  * null element compares unequal (the `otherwise 0` branch), the shorter
  * array zero-pads (zip_with's null padding never equals), and a null
  * ARRAY nulls the count. */
case class VectorMatchCount(
    left: org.apache.spark.sql.catalyst.expressions.Expression,
    right: org.apache.spark.sql.catalyst.expressions.Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types._

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  @transient private lazy val (lt, rt) = (
    left.dataType.asInstanceOf[ArrayType].elementType,
    right.dataType.asInstanceOf[ArrayType].elementType)
  @transient private lazy val bothLong = lt == LongType && rt == LongType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var c = 0
    var i = 0
    if (bothLong) {
      while (i < n) {
        if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i)) c += 1
        i += 1
      }
    } else {
      while (i < n) {
        if (!x.isNullAt(i) && !y.isNullAt(i) && x.get(i, lt) == y.get(i, rt)) c += 1
        i += 1
      }
    }
    c
  }

  override protected def withNewChildrenInternal(
      l: org.apache.spark.sql.catalyst.expressions.Expression,
      r: org.apache.spark.sql.catalyst.expressions.Expression): VectorMatchCount =
    copy(left = l, right = r)
  override def prettyName: String = "vector_match_count"
}
