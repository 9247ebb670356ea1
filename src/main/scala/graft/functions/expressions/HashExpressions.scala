package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the similarity hot paths.
  *
  * The pure-HOF formulations (64 `aggregate` lambdas per row for SimHash, one
  * `transform`+`array_min` per MinHash permutation, dim×planes `element_at`
  * terms per hyperplane bucket) build enormous expression trees: correct, but
  * 5-15 s/query at sf0.1. Each expression here is one JVM loop over the input
  * array ([[Kernels]]) — same results, one array scan — with real `doGenCode`
  * so whole-stage codegen spans stay unbroken (the generated Java calls the
  * static kernel).
  *
  * All use Spark's own XXH64 (seed 42) so values are identical to
  * `xxhash64()` built-in output where the HOF versions used it.
  */
object HashExpressions {

  private val KernelsClass = "graft.functions.expressions.Kernels"

  /** Deterministic (a,b) parameter pairs in [1, 2^31) — MUST stay in sync with
    * SimilarityFunctions.minhashParams. */
  def minhashParams(numHashes: Int, seed: Long = 42L): Array[(Long, Long)] = {
    var x = seed
    def next(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; math.abs(x % 2147483629L) + 1 }
    Array.fill(numHashes)((next(), next()))
  }

  val P31 = Kernels.P31

  /** MinHash signature in ONE scan:
    * sig_j = min over shingles of (a_j*(xxhash64(s) mod p)+b_j) mod p.
    * Accepts array<string> (shingles, hashed here) or array<long> (shingles
    * already xxhash64'd upstream — identical signatures, since the first step
    * is the same xxhash64). */
  case class MinHashSignatureExpr(child: Expression, numHashes: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    @transient private lazy val (as, bs) = {
      val p = minhashParams(numHashes)
      (p.map(_._1), p.map(_._2))
    }
    private def elementsAreLong: Boolean = child.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }

    override def nullSafeEval(input: Any): Any =
      Kernels.minhashSignature(input.asInstanceOf[ArrayData], elementsAreLong, as, bs)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val asRef = ctx.addReferenceObj("mhAs", as, "long[]")
      val bsRef = ctx.addReferenceObj("mhBs", bs, "long[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $KernelsClass.minhashSignature($c, $elementsAreLong, $asRef, $bsRef);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "minhash_signature"
  }

  /** 64-bit SimHash over a token array in ONE scan: per-token xxhash64, each
    * bit votes +1/-1, sign → fingerprint bit. */
  case class SimHash64Expr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(Kernels.simhash64(input.asInstanceOf[ArrayData]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $KernelsClass.simhash64($c);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "simhash64"
  }

  /** Distinct xxhash64'd word n-gram shingles of a text column in ONE pass:
    * lowercase, whitespace-split, hash each n-token window (tokens joined by
    * single spaces — same shingle strings as
    * SimilarityFunctions.wordShingles). Replaces a slice+array_join HOF chain
    * that allocated O(tokens²) intermediate strings. */
  case class HashedShinglesExpr(child: Expression, n: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(input: Any): Any =
      Kernels.hashedShingles(input.asInstanceOf[UTF8String], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $KernelsClass.hashedShingles($c, $n);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "hashed_shingles"
  }

  /** Random-hyperplane sign bucket of a float-array vector: bit p set iff
    * dot(v, plane_p) > 0. Plane components MUST stay in sync with
    * Ann.planeComponent. */
  case class HyperplaneBucketExpr(child: Expression, dim: Int, planes: Int)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true

    @transient private lazy val matrix: Array[Array[Double]] =
      Array.tabulate(planes, dim)((p, d) => planeComponent(p, d))
    private def isFloat: Boolean = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }

    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(
        Kernels.hyperplaneBucket(input.asInstanceOf[ArrayData], matrix, dim, isFloat))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val mRef = ctx.addReferenceObj("hpMatrix", matrix, "double[][]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $KernelsClass.hyperplaneBucket($c, $mRef, $dim, $isFloat);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "hyperplane_bucket"
  }

  /** Same LCG as Ann.planeComponent (kept identical so buckets computed by
    * either path agree). */
  def planeComponent(p: Int, d: Int): Double = {
    var x = p.toLong * 1000003L + d.toLong * 7919L + 12345L
    x = x * 6364136223846793005L + 1442695040888963407L
    x = x * 6364136223846793005L + 1442695040888963407L
    (x >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0
  }

  /** The fixed pseudo-random centroid matrix the replay oracles pin: row c =
    * [[planeComponent]](offset + c, ·). ONE definition for q41/q89/q90 and
    * the ScaleCheck ANN/dedup sections — the DuckDB oracle CTEs hard-code `range(offset, offset+k)`,
    * so these constants must change in LOCKSTEP with the oracle SQL
    * (LcgPinSpec freezes the underlying values). */
  def fixedCentroids(offset: Int, k: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(k, dim)((c, d) => planeComponent(offset + c, d))

  /** Sequential-order double dot product of two float/double arrays —
    * bit-identical to aggregate(zip_with(a,b,(x,y)=>x*y),0.0,+) but one fused
    * loop. */
  case class DotProductExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true

    private def isFloat(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }

    override def nullSafeEval(l: Any, r: Any): Any =
      java.lang.Double.valueOf(Kernels.dot(
        l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], isFloat(left), isFloat(right)))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = $KernelsClass.dot($a, $b, ${isFloat(left)}, ${isFloat(right)});")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "dot_product"
  }

  /** Distinct word n-gram shingle STRINGS — the codegen'd form of
    * SimilarityFunctions.wordShingles (same tokenization contract as
    * [[HashedShinglesExpr]], emitting the strings instead of hashes). */
  case class ShingleStringsExpr(child: Expression, n: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(input: Any): Any =
      Kernels.shingleStrings(input.asInstanceOf[UTF8String], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $KernelsClass.shingleStrings($c, $n);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "shingle_strings"
  }

  /** 2-D Hilbert curve index over a 2^bits grid — see Kernels.hilbertIndex. */
  case class HilbertIndexExpr(left: Expression, right: Expression, bits: Int)
      extends BinaryExpression {
    require(bits > 0 && 2 * bits <= 62, s"need 0 < 2*bits <= 62, got $bits")
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(l: Any, r: Any): Any =
      java.lang.Long.valueOf(Kernels.hilbertIndex(
        l.asInstanceOf[Long], r.asInstanceOf[Long], bits))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = $KernelsClass.hilbertIndex($a, $b, $bits);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "hilbert_index"
  }

  /** Per-dictionary occurrence scores in ONE Aho-Corasick pass — the langid
    * scorer's 40-regex replacement ([[MultiDictCounter]] documents the exact
    * regexp_count equivalence contract). Returns array<int>, dict order. */
  case class DictScoresExpr(child: Expression, dicts: Seq[Seq[String]])
      extends UnaryExpression {
    require(dicts.nonEmpty && dicts.forall(_.nonEmpty), "empty dictionary")
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true
    @transient private lazy val mc =
      new MultiDictCounter(dicts.map(_.toArray).toArray)

    override def nullSafeEval(input: Any): Any =
      Kernels.dictScores(input.asInstanceOf[UTF8String], mc)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val mcRef = ctx.addReferenceObj("dictCounter", mc, classOf[MultiDictCounter].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $KernelsClass.dictScores($c, $mcRef);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "dict_scores"
  }

  /** Intersection COUNT of two ascending ARRAY<BIGINT> columns — the
    * verify-stage workhorse of the similarity joins: one codegen'd merge
    * walk per pair instead of array_intersect's per-row hash-set build. */
  case class SortedIntersectCountExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def nullIntolerant: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs two array<bigint> inputs, got ${left.dataType} / ${right.dataType}")
    }

    override def nullSafeEval(l: Any, r: Any): Any =
      java.lang.Integer.valueOf(Kernels.sortedIntersectCount(
        l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = $KernelsClass.sortedIntersectCount($a, $b);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "sorted_intersect_count"
  }

  /** Weighted lower quantile over a kll_sketch pair array (codegen kernel;
    * NaN for an empty sketch — wrapped to null by SketchAggregates). */
  case class KllQuantileExpr(child: Expression, q: Double)
      extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StructType(Array(f1, f2)), _)
        if f1.dataType == DoubleType && f2.dataType == LongType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs array<struct<v:double,w:bigint>>, got $other")
    }

    override def nullSafeEval(input: Any): Any =
      java.lang.Double.valueOf(Kernels.kllQuantile(input.asInstanceOf[ArrayData], q))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $KernelsClass.kllQuantile($c, $q);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "kll_quantile"
  }

  /** Nearest-centroid id for IVF assignment — centroid matrix carried as a
    * codegen reference object. */
  case class NearestCentroidExpr(child: Expression, centroids: Array[Array[Double]])
      extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def nullIntolerant: Boolean = true
    private def isFloat: Boolean = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }

    override def nullSafeEval(input: Any): Any =
      java.lang.Integer.valueOf(
        Kernels.nearestCentroid(input.asInstanceOf[ArrayData], centroids, isFloat))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cRef = ctx.addReferenceObj("ivfCentroids", centroids, "double[][]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $KernelsClass.nearestCentroid($c, $cRef, $isFloat);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "nearest_centroid"
  }

  /** PQ encode: vector → m argmin-L2 centroid indices in one fused loop
    * (the array_sort-of-struct-distances formulation it replaces built
    * m×k struct arrays and sorted them per row). Ties → lowest index, same
    * as the oracle's ORDER BY d2, c. */
  case class PqEncodeExpr(child: Expression, codebooks: Array[Array[Array[Double]]])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true
    private def isFloat: Boolean = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }

    override def nullSafeEval(input: Any): Any =
      Kernels.pqEncode(input.asInstanceOf[ArrayData], codebooks, isFloat)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bRef = ctx.addReferenceObj("pqBooks", codebooks, "double[][][]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $KernelsClass.pqEncode($c, $bRef, $isFloat);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "pq_encode"
  }

  /** Symmetric-code-distance sum for SemDeDup-over-index: the m·k² subspace
    * centroid-distance table rides as a codegen REFERENCE OBJECT (one
    * primitive double[] per executor), never as a plan literal — at the
    * production PQ shape (m=16, k=256) the table is ~512K doubles, which as
    * a typedLit serializes into every task and evaluates through boxed
    * element_at per candidate pair. Arithmetic matches the unrolled-SQL
    * oracle exactly ([[Kernels.sdcSum]]). */
  case class SdcSumExpr(left: Expression, right: Expression,
                        flat: Array[Double], kk: Int)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs two array<int> PQ-code inputs, got ${left.dataType} / ${right.dataType}")
    }

    override def nullSafeEval(l: Any, r: Any): Any =
      java.lang.Double.valueOf(Kernels.sdcSum(
        l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], flat, kk))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val fRef = ctx.addReferenceObj("sdcTable", flat, "double[]")
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = $KernelsClass.sdcSum($a, $b, $fRef, $kk);")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "sdc_sum"
  }

  /** Row-local prefix-filter prefix under a driver-collected canonical
    * order ([[Kernels.prefixTokens]]): the map rides as a codegen
    * reference object (the sdc_sum posture), so the BIG side of an
    * incremental cross join extracts its prefix with no explode-join-rank
    * shuffle — the O(stored tokens) per-batch exchange the r15 dedup-gate
    * fix removes. Set-identical to the window formulation by
    * construction (same k, same (cnt, token) order, same tie-break). */
  case class PrefixTokensExpr(child: Expression, threshold: Double,
                              freq: java.util.HashMap[UTF8String, java.lang.Long])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs array<string> tokens, got $other")
    }

    override def nullSafeEval(input: Any): Any =
      Kernels.prefixTokens(input.asInstanceOf[ArrayData], threshold, freq)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val fRef = ctx.addReferenceObj("prefixFreq", freq,
        "java.util.HashMap<org.apache.spark.unsafe.types.UTF8String, java.lang.Long>")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $KernelsClass.prefixTokens($c, $threshold, $fRef);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "prefix_tokens"
  }

  /** Dense matrix-vector product (JL projection): the k×d matrix rides as
    * a codegen reference object; accumulation order pinned by the oracle
    * (see [[Kernels.matVec]]). */
  case class MatVecExpr(child: Expression, m: Array[Array[Double]])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullIntolerant: Boolean = true
    private def isFloat: Boolean = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs array<float|double>, got $other")
    }

    override def nullSafeEval(input: Any): Any =
      Kernels.matVec(input.asInstanceOf[ArrayData], m, isFloat)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val mRef = ctx.addReferenceObj("mvMatrix", m, "double[][]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $KernelsClass.matVec($c, $mRef, $isFloat);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "mat_vec"
  }

  /** Luhn-validated card masking (see [[Kernels.maskCardNumbers]]). */
  case class MaskCardNumbersExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a string input, got $other")
    }

    override def nullSafeEval(input: Any): Any =
      Kernels.maskCardNumbers(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $KernelsClass.maskCardNumbers($c);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "mask_card_numbers"
  }

  /** Mojibake repair (cp1252-bytes-as-UTF-8 round trip, strict both ways —
    * see [[Kernels.fixMojibake]]). */
  case class FixMojibakeExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(input: Any): Any =
      Kernels.fixMojibake(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $KernelsClass.fixMojibake($c);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "fix_mojibake"
  }

  /** Unicode normalization (NFC/NFD/NFKC/NFKD) — the tokenizer-prep pass
    * that canonicalizes decomposed accents/compatibility forms so dedup
    * keys, BPE symbols, and equality joins see ONE spelling per grapheme.
    * Codegen'd with an isNormalized fast path (see
    * [[Kernels.unicodeNormalize]]). */
  case class UnicodeNormalizeExpr(child: Expression, form: String)
      extends UnaryExpression {
    require(Set("NFC", "NFD", "NFKC", "NFKD")(form), s"unknown form: $form")
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    @transient private lazy val f = java.text.Normalizer.Form.valueOf(form)

    override def nullSafeEval(input: Any): Any =
      Kernels.unicodeNormalize(input.asInstanceOf[UTF8String], f)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val fRef = ctx.addReferenceObj("normForm", f, "java.text.Normalizer.Form")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $KernelsClass.unicodeNormalize($c, $fRef);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = s"unicode_normalize_${form.toLowerCase}"
  }

  /** Multi-term dictionary masking via a shared Aho-Corasick automaton
    * ([[AcAutomaton]]): linear in text length however large the dict — the
    * blocklist-scrub operator where a regex alternation would backtrack.
    * Leftmost-longest non-overlapping; the automaton builds lazily once per
    * expression instance and ships to executors as a reference object. */
  case class MaskTermsExpr(child: Expression, dict: Seq[String], token: String)
      extends UnaryExpression {
    require(dict.nonEmpty, "empty dictionary")
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    @transient private lazy val ac = new AcAutomaton(dict.toArray)
    @transient private lazy val tok = UTF8String.fromString(token)

    override def nullSafeEval(input: Any): Any =
      Kernels.acMask(input.asInstanceOf[UTF8String], ac, tok)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val acRef = ctx.addReferenceObj("acAutomaton", ac, classOf[AcAutomaton].getName)
      val tokRef = ctx.addReferenceObj("maskToken", tok, "org.apache.spark.unsafe.types.UTF8String")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $KernelsClass.acMask($c, $acRef, $tokRef);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "mask_terms"
  }

  /** Count of regions [[MaskTermsExpr]] would mask (same selection policy). */
  case class CountTermsExpr(child: Expression, dict: Seq[String])
      extends UnaryExpression {
    require(dict.nonEmpty, "empty dictionary")
    override def dataType: DataType = IntegerType
    override def nullIntolerant: Boolean = true
    @transient private lazy val ac = new AcAutomaton(dict.toArray)

    override def nullSafeEval(input: Any): Any =
      Kernels.acCount(input.asInstanceOf[UTF8String], ac)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val acRef = ctx.addReferenceObj("acAutomaton", ac, classOf[AcAutomaton].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $KernelsClass.acCount($c, $acRef);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "count_terms"
  }

  /** Keep-only-allowed-ASCII-chars string filter — one byte scan instead of
    * a char-class regexp_replace (the currency-cleanup hot path). */
  case class KeepCharsExpr(child: Expression, allowed: String)
      extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    @transient private lazy val table: Array[Boolean] = {
      val t = new Array[Boolean](128)
      allowed.foreach { ch =>
        require(ch < 128, s"keep_chars allow-set must be ASCII, got '$ch'")
        t(ch) = true
      }
      t
    }

    override def nullSafeEval(input: Any): Any =
      Kernels.keepChars(input.asInstanceOf[UTF8String], table)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val tRef = ctx.addReferenceObj("keepTable", table, "boolean[]")
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $KernelsClass.keepChars($c, $tRef);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "keep_chars"
  }

  /** Jaccard similarity in one hash pass — the HOF formulation evaluates
    * array_intersect (which allocates the intersection array) per pair in the
    * similarity-join verify hot path. */
  case class JaccardExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    // the kernel reads elements as UTF8String or Long — anything else must
    // fail at ANALYSIS, not produce garbage at runtime (use jaccardHof for
    // other element types)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      def elem(e: Expression) = e.dataType match {
        case ArrayType(t, _) => Some(t)
        case _ => None
      }
      (elem(left), elem(right)) match {
        case (Some(a), Some(b)) if a == b && (a == StringType || a == LongType) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case _ =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"jaccard requires two arrays of matching string or long elements, " +
              s"got ${left.dataType.sql} and ${right.dataType.sql}")
      }
    }
    private def isLong: Boolean = left.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }

    override def nullSafeEval(l: Any, r: Any): Any =
      java.lang.Double.valueOf(Kernels.jaccard(
        l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], isLong))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = $KernelsClass.jaccard($a, $b, $isLong);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "jaccard"
  }

  /** Rolling Rabin-Karp k-gram hashes of a text column in ONE scan — the HOF
    * formulation rebuilds every k-gram from scratch through char-indexed
    * substr (O(position) each on UTF8String), i.e. O(n²·k) per document;
    * the kernel's rolling update is O(n) with identical values. */
  case class RollingHashesExpr(child: Expression, k: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(input: Any): Any =
      Kernels.rollingHashes(input.asInstanceOf[UTF8String], k)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $KernelsClass.rollingHashes($c, $k);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "rolling_hashes"
  }

  /** Jaro-Winkler similarity of two strings as a native expression — replaces
    * the Scala UDF (no Option boxing, stays inside codegen spans). */
  case class JaroWinklerExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(l: Any, r: Any): Any =
      java.lang.Double.valueOf(Kernels.jaroWinkler(
        l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = $KernelsClass.jaroWinkler($a, $b);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "jaro_winkler"
  }

  // ----------------------------------------------------------- Column facade
  /** Ordered BPE merge-table application over a symbol array in ONE native
    * pass. The merge list is plan-stable constructor state (Seq → structural
    * equality for canonicalization); the hot path reads it as two parallel
    * String arrays via reference objects. Replaces the per-merge chain of
    * aggregate() folds, whose slice/concat array rebuilds made a 64-merge
    * encode ~100× slower than this kernel. */
  case class BpeApplyExpr(child: Expression, merges: Seq[(String, String)])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    @transient private lazy val lefts: Array[String] = merges.map(_._1).toArray
    @transient private lazy val rights: Array[String] = merges.map(_._2).toArray

    override def nullSafeEval(input: Any): Any =
      Kernels.bpeApply(input.asInstanceOf[ArrayData], lefts, rights)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val lRef = ctx.addReferenceObj("bpeLefts", lefts, "java.lang.String[]")
      val rRef = ctx.addReferenceObj("bpeRights", rights, "java.lang.String[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $KernelsClass.bpeApply($c, $lRef, $rRef);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "bpe_apply"
  }

  /** BPE-encode a words array with a trained merge table: per word,
    * codepoint symbols → ordered merges → join by `sep`. One native call per
    * row — the whole merge table rides along as reference objects, no join,
    * no shuffle. */
  case class BpeSegmentsExpr(child: Expression, merges: Seq[(String, String)],
                             sep: String)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    @transient private lazy val lefts: Array[String] = merges.map(_._1).toArray
    @transient private lazy val rights: Array[String] = merges.map(_._2).toArray
    @transient private lazy val sepU8: UTF8String = UTF8String.fromString(sep)

    override def nullSafeEval(input: Any): Any =
      Kernels.bpeSegments(input.asInstanceOf[ArrayData], lefts, rights, sepU8)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val lRef = ctx.addReferenceObj("bpeLefts", lefts, "java.lang.String[]")
      val rRef = ctx.addReferenceObj("bpeRights", rights, "java.lang.String[]")
      val sRef = ctx.addReferenceObj("bpeSep", sepU8, "org.apache.spark.unsafe.types.UTF8String")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $KernelsClass.bpeSegments($c, $lRef, $rRef, $sRef);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "bpe_segments"
  }

  /** Positional 128-bit word-n-gram hashes: array element i =
    * struct(h1, h2) of the i-th n-token window under two xxhash64 seeds
    * ([[Kernels.gramHashPairs]]). The positional sibling of
    * [[HashedShinglesExpr]] — for the span-scrub family, where WHERE a hot
    * gram starts matters, and where a 16-byte shuffle key must stay
    * collision-free at corpus-scale gram counts (128 bits; 64 would collide
    * at ~10¹³ grams). */
  case class GramHashPairsExpr(child: Expression, n: Int) extends UnaryExpression {
    require(n >= 1, "n must be >= 1")
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == StringType || child.dataType == NullType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a string input, got ${child.dataType.sql}")
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("h1", LongType, nullable = false),
      StructField("h2", LongType, nullable = false))), containsNull = false)
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(input: Any): Any =
      Kernels.gramHashPairs(input.asInstanceOf[UTF8String], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $KernelsClass.gramHashPairs($c, $n);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "gram_hash_pairs"
  }

  /** array<struct(w1h, bgh)>: per-position (condition-word hash, bigram
    * hash) pairs for bigram-LM counting ([[Kernels.bigramHashes]]). */
  case class BigramHashesExpr(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == StringType || child.dataType == NullType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a string input, got ${child.dataType.sql}")
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("w1h", LongType, nullable = false),
      StructField("bgh", LongType, nullable = false))), containsNull = false)
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(input: Any): Any =
      Kernels.bigramHashes(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $KernelsClass.bigramHashes($c);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "bigram_hashes"
  }

  /** array<struct(w1h, w2h, bgh)>: per-position (condition-word,
    * continuation-word, bigram) hashes for Kneser-Ney counting
    * ([[Kernels.knBigramHashes]]). */
  case class KnBigramHashesExpr(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == StringType || child.dataType == NullType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a string input, got ${child.dataType.sql}")
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("w1h", LongType, nullable = false),
      StructField("w2h", LongType, nullable = false),
      StructField("bgh", LongType, nullable = false))), containsNull = false)
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(input: Any): Any =
      Kernels.knBigramHashes(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $KernelsClass.knBigramHashes($c);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "kn_bigram_hashes"
  }

  /** array<struct(pos, fp)>: winnowing fingerprints
    * ([[Kernels.winnowFingerprints]] — MOSS local fingerprint selection). */
  case class WinnowExpr(child: Expression, k: Int, w: Int) extends UnaryExpression {
    require(k >= 1 && w >= 1, s"need k >= 1, w >= 1: $k, $w")
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == StringType || child.dataType == NullType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a string input, got ${child.dataType.sql}")
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("fp", LongType, nullable = false))), containsNull = false)
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(input: Any): Any =
      Kernels.winnowFingerprints(input.asInstanceOf[UTF8String], k, w)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $KernelsClass.winnowFingerprints($c, $k, $w);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "winnow_fingerprints"
  }

  /** array<struct(w2h, w3h, b12h, b23h, tgh)>: per-position trigram keys
    * for recursive Kneser-Ney backoff ([[Kernels.knTrigramHashes]]). */
  case class KnTrigramHashesExpr(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == StringType || child.dataType == NullType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a string input, got ${child.dataType.sql}")
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("w2h", LongType, nullable = false),
      StructField("w3h", LongType, nullable = false),
      StructField("b12h", LongType, nullable = false),
      StructField("b23h", LongType, nullable = false),
      StructField("tgh", LongType, nullable = false))), containsNull = false)
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(input: Any): Any =
      Kernels.knTrigramHashes(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $KernelsClass.knTrigramHashes($c);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "kn_trigram_hashes"
  }

  /** struct(n_grams, n_hits): a document's distinct word-n-gram count and
    * how many of them hit the (driver-built, codegen-referenced) Bloom
    * bitset — the probe side of [[SketchAggregates.BloomSketchAgg]]. The
    * bitset rides along as a reference object, so decontaminating a corpus
    * is ONE codegen'd scan: no corpus-side shuffle, no join. */
  case class BloomGramHitsExpr(child: Expression, n: Int, kHashes: Int,
                               bits: Array[Byte]) extends UnaryExpression {
    require(n >= 1, "n must be >= 1")
    // same power-of-two contract as the build side: the odd double-hash
    // step is only guaranteed a unit (k distinct positions) mod 2^k
    require(bits.length >= 8 && (bits.length & (bits.length - 1)) == 0,
      "bits must be a power-of-two byte count >= 8 (a BloomSketchAgg bitset)")
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == StringType || child.dataType == NullType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a string input, got ${child.dataType.sql}")
    override def dataType: DataType = StructType(Seq(
      StructField("n_grams", LongType, nullable = false),
      StructField("n_hits", LongType, nullable = false)))
    override def nullIntolerant: Boolean = true

    @transient private lazy val words: Array[Long] = {
      val buf = java.nio.ByteBuffer.wrap(bits)
      Array.fill(bits.length / 8)(buf.getLong)
    }

    override def nullSafeEval(input: Any): Any =
      Kernels.bloomGramHits(input.asInstanceOf[UTF8String], n, words, kHashes)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val wRef = ctx.addReferenceObj("bloomWords", words, "long[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $KernelsClass.bloomGramHits($c, $n, $wRef, $kHashes);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "bloom_gram_hits"
  }

  /** TRUE iff the row's Bloom bitset (a [[SketchAggregates.BloomSketchAgg]]
    * BINARY) might contain ANY of the driver-hashed keys — the probe side
    * of the file-stats index ([[graft.catalog.FileStats]]): one stats scan
    * tests every per-FILE filter against one key set, so the keys are
    * md5-hashed ONCE on the driver (reference objects) and only the
    * mod-mBits reduction happens per row, making mixed filter sizes legal.
    * NULL bitset → NULL (callers decide whether unknown admits). */
  case class BloomContainsAnyExpr(child: Expression, kHashes: Int,
                                  h1s: Array[Long], h2s: Array[Long])
    extends UnaryExpression {
    require(kHashes > 0 && kHashes <= 16, "kHashes must be in [1, 16]")
    require(h1s.length == h2s.length, "hash stream lengths must match")
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == BinaryType || child.dataType == NullType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a binary bitset, got ${child.dataType.sql}")
    override def dataType: DataType = BooleanType
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(input: Any): Any =
      Kernels.bloomContainsAny(input.asInstanceOf[Array[Byte]], kHashes, h1s, h2s)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val h1Ref = ctx.addReferenceObj("bloomH1s", h1s, "long[]")
      val h2Ref = ctx.addReferenceObj("bloomH2s", h2s, "long[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $KernelsClass.bloomContainsAny($c, $kHashes, $h1Ref, $h2Ref);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "bloom_contains_any"
  }

  /** array<long>: per-position rolling hashes of `minLen`-code-point
    * character windows ([[Kernels.charWindowHashes]]) — the candidate
    * NOMINATION pass of the exact-substring scrub. 64 bits suffices
    * (unlike [[GramHashPairsExpr]]'s 128) because every hot class is
    * exact-verified by string compare before masking. */
  case class CharWindowHashesExpr(child: Expression, minLen: Int)
      extends UnaryExpression {
    require(minLen >= 2, "minLen must be >= 2")
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType || child.dataType == NullType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a string input, got ${child.dataType.sql}")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(input: Any): Any =
      Kernels.charWindowHashes(input.asInstanceOf[UTF8String], minLen)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $KernelsClass.charWindowHashes($c, $minLen);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "char_window_hashes"
  }

  /** array<struct(h, w)>: per-position (rolling hash, window text) pairs
    * ([[Kernels.charWindows]]) — the window-INDEX build/probe pass of the
    * incremental exact-substring scrub. */
  case class CharWindowsExpr(child: Expression, minLen: Int)
      extends UnaryExpression {
    require(minLen >= 2, "minLen must be >= 2")
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType || child.dataType == NullType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a string input, got ${child.dataType.sql}")
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("h", LongType, nullable = false),
      StructField("w", StringType, nullable = false))), containsNull = false)
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(input: Any): Any =
      Kernels.charWindows(input.asInstanceOf[UTF8String], minLen)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $KernelsClass.charWindows($c, $minLen);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "char_windows"
  }

  /** struct(n_masked, scrubbed): text with the `minLen`-code-point spans at
    * `starts` (1-based, sorted ascending) removed, in one pass
    * ([[Kernels.maskCharSpans]]) — the per-document REBUILD of the
    * exact-substring scrub, replacing per-character explode/anti-join/
    * collect_list reassembly. */
  case class MaskCharSpansExpr(left: Expression, right: Expression, minLen: Int)
      extends BinaryExpression {
    require(minLen >= 2, "minLen must be >= 2")
    override def checkInputDataTypes(): TypeCheckResult =
      if ((left.dataType == StringType || left.dataType == NullType) &&
          (right.dataType == ArrayType(LongType, containsNull = false) ||
           right.dataType == ArrayType(LongType, containsNull = true) ||
           right.dataType == NullType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (string, array<bigint>), got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")
    override def dataType: DataType = StructType(Seq(
      StructField("n_masked", LongType, nullable = false),
      StructField("scrubbed", StringType, nullable = false)))
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(text: Any, starts: Any): Any =
      Kernels.maskCharSpans(text.asInstanceOf[UTF8String],
        starts.asInstanceOf[ArrayData], minLen)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (t, st) =>
        s"${ev.value} = $KernelsClass.maskCharSpans($t, $st, $minLen);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "mask_char_spans"
  }

  // Spark 4's public Column is ColumnNode-backed; the classic bridge converts
  // Expression ↔ Column.
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  def char_window_hashes(text: Column, minLen: Int): Column =
    column(CharWindowHashesExpr(expression(text), minLen))
  def char_windows(text: Column, minLen: Int): Column =
    column(CharWindowsExpr(expression(text), minLen))
  def mask_char_spans(text: Column, starts: Column, minLen: Int): Column =
    column(MaskCharSpansExpr(expression(text), expression(starts), minLen))

  def minhash_signature(shingles: Column, numHashes: Int): Column =
    column(MinHashSignatureExpr(expression(shingles), numHashes))
  def hashed_shingles(text: Column, n: Int): Column =
    column(HashedShinglesExpr(expression(text), n))
  def shingle_strings(text: Column, n: Int): Column =
    column(ShingleStringsExpr(expression(text), n))
  def gram_hash_pairs(text: Column, n: Int): Column =
    column(GramHashPairsExpr(expression(text), n))
  def bloom_gram_hits(text: Column, n: Int, kHashes: Int, bits: Array[Byte]): Column =
    column(BloomGramHitsExpr(expression(text), n, kHashes, bits))
  def bloom_contains_any(bloom: Column, keys: Seq[String], kHashes: Int): Column =
    column(BloomContainsAnyExpr(expression(bloom), kHashes,
      keys.map(SketchAggregates.md5Hash60).toArray,
      keys.map(SketchAggregates.md5Hash60b).toArray))
  def bigram_hashes(text: Column): Column = column(BigramHashesExpr(expression(text)))
  def kn_bigram_hashes(text: Column): Column = column(KnBigramHashesExpr(expression(text)))
  def kn_trigram_hashes(text: Column): Column = column(KnTrigramHashesExpr(expression(text)))
  def winnow_fingerprints(text: Column, k: Int, w: Int): Column =
    column(WinnowExpr(expression(text), k, w))
  def simhash64(tokens: Column): Column = column(SimHash64Expr(expression(tokens)))
  def hyperplane_bucket(vec: Column, dim: Int, planes: Int): Column =
    column(HyperplaneBucketExpr(expression(vec), dim, planes))
  def dot_product(a: Column, b: Column): Column =
    column(DotProductExpr(expression(a), expression(b)))
  def sorted_intersect_count(a: Column, b: Column): Column =
    column(SortedIntersectCountExpr(expression(a), expression(b)))
  def hilbert_index(x: Column, y: Column, bits: Int): Column =
    column(HilbertIndexExpr(expression(x), expression(y), bits))
  def dict_scores(text: Column, dicts: Seq[Seq[String]]): Column =
    column(DictScoresExpr(expression(text), dicts))
  def jaro_winkler(a: Column, b: Column): Column =
    column(JaroWinklerExpr(expression(a), expression(b)))
  def nearest_centroid(vec: Column, centroids: Array[Array[Double]]): Column =
    column(NearestCentroidExpr(expression(vec), centroids))
  def rolling_hashes(text: Column, k: Int): Column =
    column(RollingHashesExpr(expression(text), k))
  def jaccard(a: Column, b: Column): Column =
    column(JaccardExpr(expression(a), expression(b)))
  def keep_chars(c: Column, allowed: String): Column =
    column(KeepCharsExpr(expression(c), allowed))
  def bpe_apply(symbols: Column, merges: Seq[(String, String)]): Column =
    column(BpeApplyExpr(expression(symbols), merges))
  def pq_encode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    column(PqEncodeExpr(expression(vec), codebooks))
  def sdc_sum(a: Column, b: Column, flat: Array[Double], kk: Int): Column =
    column(SdcSumExpr(expression(a), expression(b), flat, kk))
  def prefix_tokens(toks: Column, threshold: Double,
                    freq: java.util.HashMap[UTF8String, java.lang.Long]): Column =
    column(PrefixTokensExpr(expression(toks), threshold, freq))
  def fix_mojibake(text: Column): Column = column(FixMojibakeExpr(expression(text)))
  def mask_card_numbers(text: Column): Column =
    column(MaskCardNumbersExpr(expression(text)))
  def mat_vec(vec: Column, m: Array[Array[Double]]): Column =
    column(MatVecExpr(expression(vec), m))
  def unicode_normalize(text: Column, form: String = "NFC"): Column =
    column(UnicodeNormalizeExpr(expression(text), form))
  def mask_terms(text: Column, dict: Seq[String], token: String): Column =
    column(MaskTermsExpr(expression(text), dict, token))
  def count_terms(text: Column, dict: Seq[String]): Column =
    column(CountTermsExpr(expression(text), dict))
  def bpe_segments(words: Column, merges: Seq[(String, String)], sep: String): Column =
    column(BpeSegmentsExpr(expression(words), merges, sep))
}
