package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Sketching expressions for large-scale dedup (SURVEY north-star ops).
  *
  * All hashes are Spark's own XXH64 over the token's UTF-8 bytes, so
  * signatures are deterministic across JVMs, partitions, and executors.
  * Each expression replaces 100+ per-permutation Catalyst expressions
  * with one fused kernel; `doGenCode` emits a direct static call into
  * [[SketchKernels]], keeping the whole stage codegen'd without the
  * CodegenFallback row round-trip.
  */

private[functions] object TokenHash {
  /** xxh64 of a UTF8String's bytes with the given seed. */
  @inline def hash(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), seed)
}

/** MinHash signature of a token/shingle array: `numHashes` 64-bit minima.
  *
  * Uses the Kirsch-Mitzenmacher construction h_j(x) = h1(x) + j*h2(x)
  * (two base hashes per token instead of `numHashes` passes over the
  * bytes), the standard trick for MinHash families.
  */
case class MinHashSignature(child: Expression, numHashes: Int) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))
  require(numHashes > 0 && numHashes <= 1024, s"numHashes out of range: $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    SketchKernels.minhash(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.minhash($c, $numHashes);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 64-bit SimHash of a token array: per-bit vote of each token's xxh64;
  * near-duplicate texts land within a small Hamming distance.
  */
case class SimHash64(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(SketchKernels.simhash(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.simhash($c);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 64-bit SimHash with an md5-derived token hash (first 8 digest bytes,
  * big-endian) instead of xxh64 — same per-bit voting. The md5 variant
  * is the oracle-checkable twin: a DuckDB query can recompute the exact
  * signature from `md5(token)` hex, which xxh64 does not allow. Use
  * [[SimHash64]] when raw throughput matters more than SQL parity.
  */
case class SimHashMd5(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(SketchKernels.simhashMd5(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.simhashMd5($c);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Distinct word k-gram shingles of a token array, one pass.
  *
  * Replaces the `transform(sequence(...), slice+array_join)` composition:
  * higher-order functions evaluate their lambda interpreted per element
  * and `slice` copies — measured ~60x slower than this loop on the
  * benchmark corpus. Output order is first-occurrence, deduplicated.
  */
case class ShingleSet(child: Expression, k: Int) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))
  require(k > 0, "k must be positive")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    SketchKernels.shingles(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.shingles($c, $k);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** All k-token window hashes of a text, index = window start position
  * in `split(trim(text), "\\s+")` token coordinates — the sketch stage
  * of substring-level dedup ([[graft.operators.Dedup.substringSpans]]).
  * One fused pass ([[SketchKernels.tokenWindowHashes]]): the HOF
  * composition it replaces materializes every window's joined text
  * before hashing it.
  */
case class TokenWindowHashes(child: Expression, k: Int) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  require(k >= 2, s"window k must be >= 2, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    SketchKernels.tokenWindowHashes(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.tokenWindowHashes($c, $k);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Winnowing fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD'03): rolling
  * xxh64 over character k-grams, keep the minimum hash in each window of
  * `w` consecutive k-grams (rightmost min on ties), dedup. The selected
  * hash set is a position-robust document fingerprint: shared substrings
  * of length >= k+w-1 are guaranteed to share a fingerprint.
  */
case class WinnowFingerprint(child: Expression, k: Int, w: Int) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  require(k > 0 && w > 0, "k and w must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    SketchKernels.winnow(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.winnow($c, $k, $w);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Trim -> tokenize -> word k-gram shingles -> distinct -> sort, fused
  * into one pass over the raw text ([[SketchKernels.tokenShingles]]).
  * Replaces the `ShingleSet(tokens(text))` composition on the dedup hot
  * paths: no intermediate token array, no per-shingle insertion-order
  * set, and the SORTED output lets [[SortedIntersectCount]] verify
  * candidate pairs with a linear merge.
  */
case class TokenShingleSet(child: Expression, k: Int) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  require(k > 0, "k must be positive")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    SketchKernels.tokenShingles(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.tokenShingles($c, $k);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `size(tokens(text))` without materializing the token array — the
  * split-based formulation allocates every token string plus the array
  * per row just to take its length ([[SketchKernels.tokenCount]]).
  */
/** Quantized char-distribution NLL (see [[SketchKernels.charEntropyQ]]) —
  * the fused single-pass kernel behind `text_entropy`; the HOF
  * composition it replaces (distinct-chars transform + per-char filter
  * count) allocates one filtered array per distinct char per row and
  * runs interpreted, measured 8.7 s vs sub-second at sf0.1.
  */
case class CharEntropyQ(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes = Seq(StringType)

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(SketchKernels.charEntropyQ(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.charEntropyQ($c);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Content-defined chunks of a text column: array<string> of slices
  * whose boundaries are the LBFS rolling-hash rule (see
  * [[SketchKernels.cdcChunks]]) — `h(gram ending at i) ≡ 0 mod divisor`
  * closes a chunk. Fused single pass; the chunk array is intended to be
  * immediately exploded and digested so raw text leaves the plan at the
  * projection ([[graft.operators.Dedup.cdcDedup]]).
  */
case class CdcChunks(child: Expression, k: Int, divisor: Int) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  require(k >= 1 && divisor >= 1, s"need k >= 1 and divisor >= 1, got k=$k divisor=$divisor")
  override def inputTypes = Seq(StringType)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    SketchKernels.cdcChunks(input.asInstanceOf[UTF8String], k, divisor)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.cdcChunks($c, $k, $divisor);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Hashed bag-of-words linear score: trim/split like [[TokenCountExpr]]
  * (empty tokens skipped), polynomial-31 token hash (unsigned 64-bit
  * wrap — SQL-replicable, unlike xxh64), bucket = hash mod
  * `weights.length` (unsigned), score = exact-int64 sum of bucket
  * weights. The weight table — the trained classifier — rides as a
  * codegen reference object, so the expression is O(1) bytecode in the
  * model size and the corpus is scored in one narrow codegen'd scan:
  * feature hashing (Weinberger et al., ICML 2009) + a linear text
  * classifier (the fastText shape, Joulin et al. 2017).
  */
case class HashedBowScore(child: Expression, weights: IndexedSeq[Long]) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  require(weights.nonEmpty, "weight table must be non-empty")
  override def inputTypes = Seq(StringType)

  override def dataType: DataType = LongType

  @transient private lazy val wArr: Array[Long] = weights.toArray

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(
      SketchKernels.hashedBowScore(input.asInstanceOf[UTF8String], wArr))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("bowWeights", wArr, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.hashedBowScore($c, $w);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class TokenCountExpr(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes = Seq(StringType)

  override def dataType: DataType = IntegerType

  override def nullSafeEval(input: Any): Any =
    java.lang.Integer.valueOf(SketchKernels.tokenCount(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.tokenCount($c);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Max multiplicity of any element in a token array — the PER-ROW
  * replacement (round 21) for the explode -> groupBy(doc_id, token) ->
  * groupBy(doc_id) chain that shuffled the whole corpus token stream
  * twice to answer a question each row can answer alone. One linear
  * pass with an open hash map; codegen via INVOKESTATIC like every
  * kernel here.
  */
case class TokenMaxFreq(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(SketchKernels.tokenMaxFreq(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.tokenMaxFreq($c);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `|a ∩ b|` of two SORTED distinct string arrays by linear merge —
  * the verify-join replacement for `size(array_intersect(a, b))` +
  * `size(array_union(a, b))`, each of which builds a per-row hash set.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {

  // strict array<string> contract: the SQL surface (graft_sorted_intersect)
  // accepts arbitrary expressions, and without declared input types an
  // array<int> argument passes analysis and is read as string offsets —
  // garbage counts instead of an AnalysisException
  // (no explicit result type: AbstractDataType is private[sql]; the
  // inferred Seq[ArrayType] conforms)
  override def inputTypes = Seq(ArrayType(StringType), ArrayType(StringType))

  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Integer.valueOf(
      SketchKernels.sortedIntersect(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SketchKernels.sortedIntersect($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `|a ∩ b|` of two SORTED distinct `array<bigint>` — the verification
  * kernel for HASHED shingle sets ([[graft.operators.Dedup]] hashes
  * shingles to xxhash64 before the pair-wise verify join, which ships
  * one side's array through an exchange per candidate pair; 8-byte
  * elements cut that payload ~3x vs strings and compare in one branch).
  */
case class SortedIntersectCountLong(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))

  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Integer.valueOf(
      SketchKernels.sortedIntersectLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SketchKernels.sortedIntersectLong($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Space-join of the tokens of `text` whose positions are NOT in the
  * SORTED `array<int>` `removed` — the rewrite stage of
  * [[graft.operators.Dedup.substringScrub]], fused into one text pass
  * ([[SketchKernels.scrubJoin]]). Token coordinates match
  * [[TokenWindowHashes]]. Replaces the
  * `array_join(filter(tokens(text), (tok, i) -> NOT array_contains(rem, i)), ' ')`
  * composition, whose `array_contains` probe per token is
  * O(tokens × removed) on heavily-duplicated docs.
  */
case class ScrubJoin(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {

  override def inputTypes = Seq(StringType, ArrayType(IntegerType))

  override def dataType: DataType = StringType

  override def nullSafeEval(a: Any, b: Any): Any =
    SketchKernels.scrubJoin(a.asInstanceOf[UTF8String], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SketchKernels.scrubJoin($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Marker-count language guess fused into one text pass — the kernel
  * twin of the five-regex formulation kept (as documentation and oracle
  * source) in [[graft.functions.text.langIdRegex]]: 4 marker-alternation
  * `regexp_count`s + 1 CJK class each re-scanned the full document;
  * [[SketchKernels.langId]] computes all five counts and the tie-break
  * pick in a single scan.
  */
case class LangIdGuess(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes = Seq(StringType)

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    SketchKernels.langId(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.langId($c);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Column-level API. */
object sketch {
  def shingleSet(tokens: Column, k: Int): Column =
    GraftExpressionBridge.column(ShingleSet(GraftExpressionBridge.expression(tokens), k))
  def minhash(tokens: Column, numHashes: Int): Column =
    GraftExpressionBridge.column(MinHashSignature(GraftExpressionBridge.expression(tokens), numHashes))
  def simhash(tokens: Column): Column =
    GraftExpressionBridge.column(SimHash64(GraftExpressionBridge.expression(tokens)))
  def simhashMd5(tokens: Column): Column =
    GraftExpressionBridge.column(SimHashMd5(GraftExpressionBridge.expression(tokens)))
  def winnow(text: Column, k: Int = 5, w: Int = 4): Column =
    GraftExpressionBridge.column(WinnowFingerprint(GraftExpressionBridge.expression(text), k, w))
  def langId(text: Column): Column =
    GraftExpressionBridge.column(LangIdGuess(GraftExpressionBridge.expression(text)))
  def tokenShingles(text: Column, k: Int): Column =
    GraftExpressionBridge.column(TokenShingleSet(GraftExpressionBridge.expression(text), k))
  def tokenCount(text: Column): Column =
    GraftExpressionBridge.column(TokenCountExpr(GraftExpressionBridge.expression(text)))
  def tokenMaxFreq(tokens: Column): Column =
    GraftExpressionBridge.column(TokenMaxFreq(GraftExpressionBridge.expression(tokens)))
  def bowScore(text: Column, weights: IndexedSeq[Long]): Column =
    GraftExpressionBridge.column(HashedBowScore(GraftExpressionBridge.expression(text), weights))
  def cdcChunks(text: Column, k: Int = 8, divisor: Int = 64): Column =
    GraftExpressionBridge.column(CdcChunks(GraftExpressionBridge.expression(text), k, divisor))
  def charEntropyQ(text: Column): Column =
    GraftExpressionBridge.column(CharEntropyQ(GraftExpressionBridge.expression(text)))
  def tokenWindowHashes(text: Column, k: Int): Column =
    GraftExpressionBridge.column(TokenWindowHashes(GraftExpressionBridge.expression(text), k))
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftExpressionBridge.column(SortedIntersectCount(
      GraftExpressionBridge.expression(a), GraftExpressionBridge.expression(b)))
  def sortedIntersectCountLong(a: Column, b: Column): Column =
    GraftExpressionBridge.column(SortedIntersectCountLong(
      GraftExpressionBridge.expression(a), GraftExpressionBridge.expression(b)))
  def scrubJoin(text: Column, removed: Column): Column =
    GraftExpressionBridge.column(ScrubJoin(
      GraftExpressionBridge.expression(text), GraftExpressionBridge.expression(removed)))
}
