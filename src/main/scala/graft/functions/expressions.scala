package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions. Each participates in whole-stage codegen
  * (via `defineCodeGen` emitting a static call into a primitive kernel),
  * so they fuse into the surrounding generated stage instead of breaking
  * it the way a Scala UDF would (UDF = SafeProjection round-trip + boxed
  * invocation per row).
  */

/** Porter stem of a string column. The reference's only nontrivial
  * scalar function (ProcessData.java:45-361); here a codegen-friendly
  * unary expression over the pure kernel in [[graft.text.Porter]].
  */
case class PorterStemExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "porter_stem"

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      graft.text.Porter.stem(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.text.Porter.stem($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): PorterStemExpr =
    copy(child = newChild)
}

/** Unicode case/diacritic fold of a string column (NFC → lowercase →
  * strip non-spacing marks → NFC; kernel and cross-engine contract in
  * [[graft.text.Fold]]) — the normalization-ahead-of-shingling step
  * of the q207 near-dup variant. A unary codegen expression so the
  * fold fuses into the SAME whole-stage-generated narrow map as the
  * shingle/MinHash kernel downstream of it: at 100 TB the normalized
  * dedup path costs zero extra passes or exchanges over the raw one.
  */
case class FoldTextExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "fold_text"

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      graft.text.Fold.fold(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.text.Fold.fold($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): FoldTextExpr =
    copy(child = newChild)
}

/** Karp-Rabin fingerprint of a string column — the q39 content
  * fingerprint ((h*31 + codepoint) mod 1e9+7 over non-newline code
  * points, see VectorOps.karpRabin). Codegen over the raw UTF-8
  * bytes; replaces the interpreted per-character
  * `aggregate(regexp_extract_all(text, '.'), ...)` HOF, which
  * materialized a doc-sized single-char-string array per row (the
  * same interpreted-HOF shape that cost q40 66s before its BitSet
  * registration).
  */
case class KarpRabinExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "karp_rabin_fingerprint"

  override def nullSafeEval(input: Any): Any =
    VectorOps.karpRabin(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorOps.karpRabin($c)")

  override protected def withNewChildInternal(newChild: Expression): KarpRabinExpr =
    copy(child = newChild)
}

/** [[KarpRabinExpr]] with a caller-chosen multiplier
  * (VectorOps.karpRabinMult) — the double-hashing second fold of the
  * q202 Bloom gate and the MinHash term-id fold. Replaces the
  * interpreted `aggregate(regexp_extract_all(c, '.'), ...)` HOF in the
  * shingle-hot paths (see the VectorOps doc for the measured cost).
  */
case class KarpRabinMultExpr(child: Expression, mult: Long)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "karp_rabin_mult"

  override def nullSafeEval(input: Any): Any =
    VectorOps.karpRabinMult(input.asInstanceOf[UTF8String], mult)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VectorOps.karpRabinMult($c, ${mult}L)")

  override protected def withNewChildInternal(newChild: Expression): KarpRabinMultExpr =
    copy(child = newChild)
}

/** Cosine similarity between two ARRAY<DOUBLE> columns. */
case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.cosine(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.cosine($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarityExpr =
    copy(left = l, right = r)
}

/** Cosine distance (1 - similarity); the reference's K2 operator with
  * its XOR-as-power bug fixed (SURVEY.md §7 D2).
  */
case class CosineDistanceExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_distance"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.cosineDistance(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.cosineDistance($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineDistanceExpr =
    copy(left = l, right = r)
}

/** 64-bit SimHash of an ARRAY<BIGINT> of term ids. */
case class SimHash64Expr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    VectorOps.simhash64(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorOps.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

/** MinHash signature (ARRAY<BIGINT>, length nHashes) of an
  * ARRAY<STRING> of shingles — the map-side kernel of MinHash-LSH
  * dedup. Codegen'd; see VectorOps.minhashSig.
  */
case class MinHashSigExpr(child: Expression, nHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    VectorOps.minhashSig(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], nHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorOps.minhashSig($c, $nHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

/** Fused text -> word-shingle -> MinHash signature (see
  * VectorOps.shingleMinhashSig): the whole dedup map side in one
  * codegen'd expression over the raw text column.
  */
case class ShingleMinHashExpr(child: Expression, nHashes: Int, shingleSize: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_minhash"

  override def nullSafeEval(input: Any): Any =
    VectorOps.shingleMinhashSig(input.asInstanceOf[UTF8String], nHashes, shingleSize)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorOps.shingleMinhashSig($c, $nHashes, $shingleSize)")

  override protected def withNewChildInternal(newChild: Expression): ShingleMinHashExpr =
    copy(child = newChild)
}

/** Fused text -> codepoint n-gram -> MinHash signature (see
  * VectorOps.charShingleMinhashSig): the space-free-script dedup map
  * side in one codegen'd expression over the raw text column; output
  * is band/verify-chain-compatible with ShingleMinHashExpr's.
  */
case class CharShingleMinHashExpr(child: Expression, nHashes: Int, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"char_shingle_minhash needs n >= 1, got $n")
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "char_shingle_minhash"

  override def nullSafeEval(input: Any): Any =
    VectorOps.charShingleMinhashSig(input.asInstanceOf[UTF8String], nHashes, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorOps.charShingleMinhashSig($c, $nHashes, $n)")

  override protected def withNewChildInternal(newChild: Expression): CharShingleMinHashExpr =
    copy(child = newChild)
}

/** All `len`-token-window rolling hashes of an ARRAY<STRING> column
  * (see VectorOps.rollingWindowHashes): ARRAY<BIGINT> of length
  * n-len+1 (empty when n < len). O(token bytes + n) per row — each
  * token hashed once, windows roll in O(1) — vs the O(n·len)
  * per-window slice+concat+xxhash64 formulation. The probe kernel of
  * q144's binary search; any fixed-width window-dedup exchange can key
  * on it.
  */
case class RollingWindowHashExpr(child: Expression, len: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(len >= 1, s"rolling_window_hashes needs len >= 1, got $len")
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rolling_window_hashes"

  override def nullSafeEval(input: Any): Any =
    VectorOps.rollingWindowHashes(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], len)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorOps.rollingWindowHashes($c, $len)")

  override protected def withNewChildInternal(newChild: Expression): RollingWindowHashExpr =
    copy(child = newChild)
}

/** Longest consecutive stride-`blockLen` repetition run of an
  * ARRAY<STRING> column (see VectorOps.maxRepeatRun): the codegen
  * kernel behind q167's degenerate-repetition audit. The equivalent
  * interpreted aggregate-fold (per-residue run counters over slice
  * comparisons) costs ~4s over the sf0.1 corpus purely in lambda-eval
  * constant; this is the same O(blockLen * n) loop in one JIT'd pass.
  */
case class MaxRepeatRunExpr(child: Expression, blockLen: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(blockLen >= 1, s"max_repeat_run needs blockLen >= 1, got $blockLen")
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "max_repeat_run"

  override def nullSafeEval(input: Any): Any =
    VectorOps.maxRepeatRun(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], blockLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorOps.maxRepeatRun($c, $blockLen)")

  override protected def withNewChildInternal(newChild: Expression): MaxRepeatRunExpr =
    copy(child = newChild)
}

/** Nearest-centroid argmin against a driver-side center set. The
  * centers ride into the generated code as a reference object — the
  * reference's DistributedCache broadcast pattern (ProcessData.java:
  * 487-503,521-534) without even a BroadcastExchange — so assignment
  * is a pure codegen'd map over the points: zero shuffle of the big
  * side. Returns struct(center_id INT, dist DOUBLE).
  */
case class NearestCenterExpr(child: Expression, centers: Seq[Seq[Double]])
    extends UnaryExpression with ExpectsInputTypes {
  require(centers.nonEmpty,
    "nearest_center needs a non-empty center set (an empty set would " +
      "assign every point (center_id=0, dist=Inf) — an error, not a result)")
  require(centers.map(_.length).distinct.size == 1,
    "nearest_center centers must share one dimension")

  // Seq (not Array) field: case-class equality is then structural, so
  // two instances over equal-content centers canonicalize equal and
  // Catalyst's subexpression/exchange reuse applies. The primitive
  // array form the kernel wants is derived once.
  @transient private lazy val centersArr: Array[Array[Double]] =
    centers.map(_.toArray).toArray

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = StructType(Seq(
    StructField("center_id", IntegerType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))
  override def prettyName: String = "nearest_center"

  override def nullSafeEval(input: Any): Any =
    VectorOps.nearestCenter(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], centersArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centers", centersArr, "double[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorOps.nearestCenter($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCenterExpr =
    copy(child = newChild)
}

/** Sign-random-projection LSH bucket id against a driver-side
  * hyperplane set (nPlanes x dim; bit p set when dot(plane_p, v) >= 0).
  * Like [[NearestCenterExpr]], the planes ride into the generated code
  * via addReferenceObj, so bucketing is pure whole-stage codegen — no
  * ScalaUDF boxing/SafeProjection round-trip in the 100 TB ANN hashing
  * path (the map side of lshKnn / dedupByEmbedding).
  */
case class SignBucketExpr(child: Expression, planes: Seq[Seq[Double]])
    extends UnaryExpression with ExpectsInputTypes {
  require(planes.nonEmpty && planes.length <= 31,
    s"sign_bucket needs 1..31 planes (bucket is an Int), got ${planes.length}")
  require(planes.map(_.length).distinct.size == 1,
    "sign_bucket planes must share one dimension")

  // Seq field for structural equality (canonicalization / reuse);
  // primitive form derived once for the kernel.
  @transient private lazy val planesArr: Array[Array[Double]] =
    planes.map(_.toArray).toArray

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sign_bucket"

  override def nullSafeEval(input: Any): Any =
    VectorOps.signBucket(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], planesArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planesArr, "double[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorOps.signBucket($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): SignBucketExpr =
    copy(child = newChild)
}

/** Viterbi unigram-LM segmentation against a driver-side piece table
  * (piece -> micro-nat log-prob): STRING -> STRUCT(n_pieces BIGINT,
  * score_micro BIGINT), or null for an unsegmentable word. The DP is
  * pure integer arithmetic with the tie rule pinned in
  * [[graft.ops.UnigramLm.segment]]; the piece map rides into the
  * generated code as a reference object, so segmenting the word-type
  * table is a codegen'd narrow map (and would stay one on a
  * corpus-sized stream).
  */
case class UnigramSegmentExpr(child: Expression, vocab: Seq[(String, Long)],
                              maxPiece: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(vocab.nonEmpty, "unigram_segment needs a non-empty piece table")
  require(maxPiece >= 1, s"maxPiece must be positive, got $maxPiece")

  // Seq field for structural equality (canonicalization / reuse);
  // the lookup map is derived once for the kernel.
  @transient private lazy val vocabMap: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](vocab.size * 2)
    vocab.foreach { case (p, lp) => m.put(p, java.lang.Long.valueOf(lp)) }
    m
  }

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_pieces", LongType, nullable = false),
    StructField("score_micro", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "unigram_segment"

  override def nullSafeEval(input: Any): Any =
    graft.ops.UnigramLm.segment(input.asInstanceOf[UTF8String], vocabMap, maxPiece)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramVocab", vocabMap, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.ops.UnigramLm.segment($c, $ref, $maxPiece);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramSegmentExpr =
    copy(child = newChild)
}

/** [[UnigramSegmentExpr]]'s piece-materializing sibling: STRING ->
  * ARRAY<STRING> of the Viterbi piece sequence (left-to-right), same
  * vocab/tie contract, null when unsegmentable. The q199 EM E-step's
  * kernel — kept separate so the count-only q192 path never allocates
  * piece arrays.
  */
case class UnigramSegmentPiecesExpr(child: Expression, vocab: Seq[(String, Long)],
                                    maxPiece: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(vocab.nonEmpty, "unigram_segment_pieces needs a non-empty piece table")
  require(maxPiece >= 1, s"maxPiece must be positive, got $maxPiece")

  @transient private lazy val vocabMap: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](vocab.size * 2)
    vocab.foreach { case (p, lp) => m.put(p, java.lang.Long.valueOf(lp)) }
    m
  }

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "unigram_segment_pieces"

  override def nullSafeEval(input: Any): Any =
    graft.ops.UnigramLm.segmentPieces(
      input.asInstanceOf[UTF8String], vocabMap, maxPiece)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramVocab", vocabMap, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.ops.UnigramLm.segmentPieces($c, $ref, $maxPiece);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramSegmentPiecesExpr =
    copy(child = newChild)
}

/** Real-valued JL random projection against driver-side planes
  * (m x dim): ARRAY<DOUBLE> -> ARRAY<DOUBLE> of plane dots, each an
  * index-order fold over the common prefix. [[SignBucketExpr]] keeps
  * the sign bit of each component this computes; like it, the planes
  * ride into the generated code as a reference object, so corpus
  * projection — the 100 TB side of dimensionality reduction — is a
  * pure codegen'd narrow map.
  */
case class JlProjectExpr(child: Expression, planes: Seq[Seq[Double]])
    extends UnaryExpression with ExpectsInputTypes {
  require(planes.nonEmpty, "jl_project needs at least one plane")
  require(planes.map(_.length).distinct.size == 1,
    "jl_project planes must share one dimension")

  // Seq field for structural equality (canonicalization / reuse);
  // primitive form derived once for the kernel.
  @transient private lazy val planesArr: Array[Array[Double]] =
    planes.map(_.toArray).toArray

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "jl_project"

  override def nullSafeEval(input: Any): Any =
    VectorOps.jlProject(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], planesArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planesArr, "double[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorOps.jlProject($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): JlProjectExpr =
    copy(child = newChild)
}

/** Product-quantization encode against driver-side codebooks
  * ([m][ksub][subDim]): ARRAY<DOUBLE> -> ARRAY<INT> of m codeword
  * indices. Like [[NearestCenterExpr]], the codebooks ride into the
  * generated code as a reference object, so corpus encoding — the
  * 100 TB side of IVF-PQ index build — is a pure codegen'd narrow map.
  */
case class PqEncodeExpr(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with ExpectsInputTypes {
  require(codebooks.nonEmpty, "pq_encode needs at least one subspace codebook")
  require(codebooks.forall(_.nonEmpty), "pq_encode: empty subspace codebook")
  require(codebooks.flatMap(_.map(_.length)).distinct.size == 1 &&
    codebooks.map(_.length).distinct.size == 1,
    "pq_encode: codebooks must be rectangular ([m][ksub][subDim])")

  // Seq field: structural case-class equality -> canonicalization and
  // subexpression/exchange reuse work; primitive form derived once.
  @transient private lazy val cbArr: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(input: Any): Any =
    VectorOps.pqEncode(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], cbArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebooks", cbArr, "double[][][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorOps.pqEncode($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

/** Per-query ADC lookup table against the same driver-side codebooks:
  * ARRAY<DOUBLE> -> ARRAY<DOUBLE> of m*ksub partial dot products (see
  * VectorOps.pqLut). Evaluated once per QUERY row — the small side.
  */
case class PqLutExpr(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with ExpectsInputTypes {
  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
    "pq_lut needs non-empty codebooks")
  // same contract as PqEncodeExpr: the kernel fixes ksub/subDim from
  // subspace 0, so a ragged codebook would index out of bounds (fewer
  // codewords) or silently misalign the offsets (differing subDims)
  require(codebooks.flatMap(_.map(_.length)).distinct.size == 1 &&
    codebooks.map(_.length).distinct.size == 1,
    "pq_lut: codebooks must be rectangular ([m][ksub][subDim])")

  @transient private lazy val cbArr: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_lut"

  override def nullSafeEval(input: Any): Any =
    VectorOps.pqLut(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], cbArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebooks", cbArr, "double[][][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorOps.pqLut($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqLutExpr =
    copy(child = newChild)
}

/** ADC approximate dot product: m LUT lookups per candidate instead of
  * a dim-length dot product — the PQ scan kernel. `ksub` is the LUT
  * stride (codewords per subspace).
  */
case class PqAdcDotExpr(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(ksub > 0, s"ksub must be positive, got $ksub")
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(IntegerType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_dot"

  override def nullSafeEval(lut: Any, codes: Any): Any =
    VectorOps.pqAdcDot(
      lut.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      codes.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], ksub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (l, c) => s"graft.functions.VectorOps.pqAdcDot($l, $c, $ksub)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdcDotExpr =
    copy(left = l, right = r)
}

/** One BPE merge step: ARRAY<STRING> symbols with every adjacent
  * (a, b) fused to a+b (left-to-right, non-overlapping). The merge
  * target pair is a per-iteration driver constant, so the whole
  * training step stays a codegen'd narrow map over word types.
  */
case class MergePairExpr(child: Expression, a: String, b: String)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  // null elements (legal in SQL arrays) pass through the merge kernel
  // untouched, so the output must admit them — containsNull = false
  // here would let the unsafe writer corrupt rows on such input
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "bpe_merge_pair"

  @transient private lazy val aU = UTF8String.fromString(a)
  @transient private lazy val bU = UTF8String.fromString(b)

  override def nullSafeEval(input: Any): Any =
    VectorOps.mergePair(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], aU, bU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("bpeA", aU, "org.apache.spark.unsafe.types.UTF8String")
    val bRef = ctx.addReferenceObj("bpeB", bU, "org.apache.spark.unsafe.types.UTF8String")
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorOps.mergePair($c, $aRef, $bRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): MergePairExpr =
    copy(child = newChild)
}

/** Greedy BPE segmentation of a STRING word against a trained merge
  * ranking (riding into codegen as a reference object):
  * ARRAY<STRING> subword units ending in the "</w>" marker.
  */
case class BpeSegmentExpr(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_segment"

  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), r) => m.put(a + " " + b, r) }
    m
  }

  override def nullSafeEval(input: Any): Any =
    VectorOps.bpeSegment(input.asInstanceOf[UTF8String], ranks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeRanks", ranks, "java.util.HashMap")
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorOps.bpeSegment($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeSegmentExpr =
    copy(child = newChild)
}

/** Unit-L2 normalization of an ARRAY<DOUBLE> (zero vectors pass
  * through). Normalizing both sides up front turns cosine into a plain
  * dot product, which is what lets the PQ ADC path rank by cosine.
  */
case class UnitNormalizeExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "unit_normalize"

  override def nullSafeEval(input: Any): Any =
    VectorOps.unitNormalize(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorOps.unitNormalize($c)")

  override protected def withNewChildInternal(newChild: Expression): UnitNormalizeExpr =
    copy(child = newChild)
}

/** Bloom-filter membership against a driver-side
  * `org.apache.spark.util.sketch.BloomFilter` (built distributed via
  * `df.stat.bloomFilter`'s treeAggregate — the big side never
  * shuffles). The filter rides into generated code as a reference
  * object like [[NearestCenterExpr]]'s centers; the probe is then a
  * pure codegen'd map over the incoming rows. Accepts LONG or STRING
  * keys (the two shapes `BloomFilter.put` hashes natively).
  */
case class BloomMightContainExpr(child: Expression,
                                 bloom: org.apache.spark.util.sketch.BloomFilter)
    extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType | StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bloom_might_contain needs BIGINT or STRING, got $other")
    }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  override def nullSafeEval(input: Any): Any = input match {
    case l: Long => bloom.mightContainLong(l)
    case s: UTF8String => bloom.mightContainBinary(s.getBytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", bloom,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    child.dataType match {
      case LongType =>
        defineCodeGen(ctx, ev, c => s"$ref.mightContainLong($c)")
      case _ =>
        defineCodeGen(ctx, ev, c => s"$ref.mightContainBinary($c.getBytes())")
    }
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContainExpr =
    copy(child = newChild)
}

/** Column-level entry points (the library's scalar-function surface). */
object functions {
  def porter_stem(c: Column): Column =
    Shim.column(PorterStemExpr(Shim.expression(c)))

  def karp_rabin_fingerprint(c: Column): Column =
    Shim.column(KarpRabinExpr(Shim.expression(c)))

  def karp_rabin_mult(c: Column, mult: Long): Column =
    Shim.column(KarpRabinMultExpr(Shim.expression(c), mult))

  def fold_text(c: Column): Column =
    Shim.column(FoldTextExpr(Shim.expression(c)))

  def cosine_similarity(a: Column, b: Column): Column =
    Shim.column(
      CosineSimilarityExpr(Shim.expression(a), Shim.expression(b)))

  def cosine_distance(a: Column, b: Column): Column =
    Shim.column(
      CosineDistanceExpr(Shim.expression(a), Shim.expression(b)))

  def simhash64(c: Column): Column =
    Shim.column(SimHash64Expr(Shim.expression(c)))

  def minhash_sig(c: Column, nHashes: Int): Column =
    Shim.column(MinHashSigExpr(Shim.expression(c), nHashes))

  def shingle_minhash(c: Column, nHashes: Int, shingleSize: Int): Column =
    Shim.column(ShingleMinHashExpr(Shim.expression(c), nHashes, shingleSize))

  def char_shingle_minhash(c: Column, nHashes: Int, n: Int): Column =
    Shim.column(CharShingleMinHashExpr(Shim.expression(c), nHashes, n))

  def rolling_window_hashes(c: Column, len: Int): Column =
    Shim.column(RollingWindowHashExpr(Shim.expression(c), len))

  def max_repeat_run(c: Column, blockLen: Int): Column =
    Shim.column(MaxRepeatRunExpr(Shim.expression(c), blockLen))

  def nearest_center(c: Column, centers: Array[Array[Double]]): Column =
    Shim.column(NearestCenterExpr(Shim.expression(c),
      centers.map(_.toIndexedSeq).toIndexedSeq))

  def sign_bucket(c: Column, planes: Array[Array[Double]]): Column =
    Shim.column(SignBucketExpr(Shim.expression(c),
      planes.map(_.toIndexedSeq).toIndexedSeq))

  def jl_project(c: Column, planes: Array[Array[Double]]): Column =
    Shim.column(JlProjectExpr(Shim.expression(c),
      planes.map(_.toIndexedSeq).toIndexedSeq))

  def unigram_segment(c: Column, vocab: Seq[(String, Long)], maxPiece: Int): Column =
    Shim.column(UnigramSegmentExpr(Shim.expression(c), vocab, maxPiece))

  def unigram_segment_pieces(c: Column, vocab: Seq[(String, Long)],
                             maxPiece: Int): Column =
    Shim.column(UnigramSegmentPiecesExpr(Shim.expression(c), vocab, maxPiece))

  def bloom_might_contain(c: Column,
                          bloom: org.apache.spark.util.sketch.BloomFilter): Column =
    Shim.column(BloomMightContainExpr(Shim.expression(c), bloom))

  private def cbSeq(cb: Array[Array[Array[Double]]]): Seq[Seq[Seq[Double]]] =
    cb.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq

  def pq_encode(c: Column, codebooks: Array[Array[Array[Double]]]): Column =
    Shim.column(PqEncodeExpr(Shim.expression(c), cbSeq(codebooks)))

  def pq_lut(c: Column, codebooks: Array[Array[Array[Double]]]): Column =
    Shim.column(PqLutExpr(Shim.expression(c), cbSeq(codebooks)))

  def pq_adc_dot(lut: Column, codes: Column, ksub: Int): Column =
    Shim.column(PqAdcDotExpr(Shim.expression(lut), Shim.expression(codes), ksub))

  def unit_normalize(c: Column): Column =
    Shim.column(UnitNormalizeExpr(Shim.expression(c)))

  def bpe_merge_pair(c: Column, a: String, b: String): Column =
    Shim.column(MergePairExpr(Shim.expression(c), a, b))

  def bpe_segment(c: Column, merges: Seq[(String, String)]): Column =
    Shim.column(BpeSegmentExpr(Shim.expression(c), merges))

  /** Register the functions for SQL use in an existing session
    * (idempotent). For new sessions prefer
    * `.withExtensions(new GraftExtensions)`.
    */
  def register(spark: SparkSession): Unit = GraftExtensions.register { (name, builder) =>
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
  }
}

/** SparkSessionExtensions installer:
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`. Installs the
  * graft SQL functions and the [[FoldLocalRelations]] optimizer rule.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftExtensions.register { (name, builder) =>
      ext.injectFunction(
        (org.apache.spark.sql.catalyst.FunctionIdentifier(name),
          new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", name),
          builder))
    }
    ext.injectOptimizerRule(_ => FoldLocalRelations)
  }
}

object GraftExtensions {
  /** SQL-literal int argument (e.g. `minhash_sig(arr, 64)`). */
  private def intArg(e: Expression, fn: String): Int = e match {
    case f if f.foldable =>
      f.eval() match {
        case i: Int => i
        case l: Long => l.toInt
        case other => throw new IllegalArgumentException(
          s"$fn: expected an integer literal, got $other")
      }
    case _ => throw new IllegalArgumentException(
      s"$fn: size arguments must be literals")
  }

  /** SQL-literal array<array<numeric>> argument (e.g. centers or
    * hyperplanes): `nearest_center(v, array(array(1.0, 0.0), ...))`.
    * SQL float literals parse as DECIMAL, so elements are converted,
    * not cast-asserted.
    */
  private def nestedDoublesArg(e: Expression, fn: String): Seq[Seq[Double]] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.util.ArrayData
    require(e.foldable, s"$fn: the centers/planes argument must be a literal")
    val (outerT, innerT) = e.dataType match {
      case ArrayType(a @ ArrayType(et, _), _) => (a, et)
      case other => throw new IllegalArgumentException(
        s"$fn: expected array<array<numeric>>, got $other")
    }
    def toD(x: Any): Double = x match {
      case d: Double => d
      case f: Float => f.toDouble
      case d: Decimal => d.toDouble
      case n: java.lang.Number => n.doubleValue()
      case other => throw new IllegalArgumentException(
        s"$fn: non-numeric element $other (type $innerT)")
    }
    e.eval() match {
      case ad: ArrayData => ad.toObjectArray(outerT).toSeq.map {
        case in: ArrayData => in.toObjectArray(innerT).toSeq.map(toD)
        case _ => throw new IllegalArgumentException(
          s"$fn: null inner array")
      }
      case _ => throw new IllegalArgumentException(s"$fn: null argument")
    }
  }

  /** SQL float literals default to DECIMAL (`array(0.9, 0.1)` is
    * array<decimal>), and the vector expressions declare
    * ExpectsInputTypes(array<double>) — check-only, no implicit cast —
    * so wrap vector arguments in an explicit cast at registration.
    * A no-op cast is elided by the optimizer.
    */
  private def dblVec(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(e,
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))

  private[functions] def register(
      f: (String, Seq[Expression] => Expression) => Unit): Unit = {
    f("porter_stem", es => PorterStemExpr(es.head))
    f("karp_rabin_fingerprint", es => KarpRabinExpr(es.head))
    f("cosine_similarity", es => CosineSimilarityExpr(dblVec(es(0)), dblVec(es(1))))
    f("cosine_distance", es => CosineDistanceExpr(dblVec(es(0)), dblVec(es(1))))
    f("simhash64", es => SimHash64Expr(es.head))
    f("minhash_sig", es =>
      MinHashSigExpr(es(0), intArg(es(1), "minhash_sig")))
    f("shingle_minhash", es => ShingleMinHashExpr(
      es(0), intArg(es(1), "shingle_minhash"), intArg(es(2), "shingle_minhash")))
    f("rolling_window_hashes", es => RollingWindowHashExpr(
      es(0), intArg(es(1), "rolling_window_hashes")))
    f("max_repeat_run", es => MaxRepeatRunExpr(
      es(0), intArg(es(1), "max_repeat_run")))
    f("unit_normalize", es => UnitNormalizeExpr(dblVec(es.head)))
    f("nearest_center", es => NearestCenterExpr(
      dblVec(es(0)), nestedDoublesArg(es(1), "nearest_center")))
    f("sign_bucket", es => SignBucketExpr(
      dblVec(es(0)), nestedDoublesArg(es(1), "sign_bucket")))
    f("jl_project", es => JlProjectExpr(
      dblVec(es(0)), nestedDoublesArg(es(1), "jl_project")))
  }
}
