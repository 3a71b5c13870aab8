package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Static vector kernels callable from generated Java: the loops read
  * `ArrayData` directly (an offset walk over the unsafe buffer for
  * parquet/UnsafeRow-backed arrays), so the hot pair-scoring path has
  * ZERO per-row deserialization — the Scala-UDF form first copies each
  * array into a `Seq[Float]` through the encoder. Accumulation stays
  * left-to-right double so results are bit-equal to the UDF kernels
  * and the DuckDB oracle's `list_sum(list_transform(...))`.
  */
object VectorKernels {
  def dot(a: ArrayData, b: ArrayData): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.numElements(), b.numElements())
    while (i < n) {
      // a NULL element would silently read as 0.0 and skew the score —
      // refuse, like packed_pairs/minhash_sig (cheap predictable branch)
      require(!a.isNullAt(i) && !b.isNullAt(i),
        "vector_dot: NULL element in input array")
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1
    }
    acc
  }
  def norm(a: ArrayData): Double = math.sqrt(dot(a, a))

  /** ARRAY<DOUBLE> variants (the trained-PCA projection index): same
    * left-to-right accumulation, `getDouble` walk.
    */
  def dotD(a: ArrayData, b: ArrayData): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.numElements(), b.numElements())
    while (i < n) {
      require(!a.isNullAt(i) && !b.isNullAt(i),
        "vector_dot: NULL element in input array")
      acc += a.getDouble(i) * b.getDouble(i); i += 1
    }
    acc
  }
  def normD(a: ArrayData): Double = math.sqrt(dotD(a, a))
}

/** vector_dot(array<float>, array<float>) → double, whole-stage
  * codegen via [[VectorKernels]]. SURVEY §4.2 phase-2 promotion for
  * the similarity family's hot path.
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isDouble: Boolean = left.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  // element types only — ArrayType equality would also compare
  // containsNull, rejecting e.g. an array literal against a nullable
  // parquet column. Ignoring containsNull is safe because the kernels
  // reject NULL elements loudly at runtime (isNullAt → throw), so a
  // nullable-typed column with no actual nulls works and one WITH
  // nulls fails with a real error instead of a wrong dot product
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(et1, _), ArrayType(et2, _))
          if et1 == et2 && (et1 == FloatType || et1 == DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"vector_dot requires matching (ARRAY<FLOAT|DOUBLE>, same), got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (isDouble)
      VectorKernels.dotD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (isDouble) "dotD" else "dot"
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.VectorKernels.$fn($a, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

/** ngram_hashes(text, n) → array<bigint>: distinct word n-gram FNV-1a
  * hashes in one tokenize pass (delegates to the shared
  * `Dedup.distinctNgrams` + `fnv1a`, so shingle/minhash/LSH and
  * decontamination stay hash-identical). Native so the shingle-heavy
  * dedup scans skip the Scala-UDF UTF8String→String→Seq round trip on
  * the result side — the output lands directly in an ArrayData.
  */
case class NgramHashes(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ngram_hashes requires STRING, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = s"ngram_hashes_$n"

  override protected def nullSafeEval(text: Any): Any =
    NgramKernels.hashes(text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.NgramKernels.hashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): NgramHashes =
    copy(child = newChild)
}

/** Static kernel for [[NgramHashes]], callable from generated Java. */
object NgramKernels {
  def hashes(text: org.apache.spark.unsafe.types.UTF8String, n: Int): ArrayData = {
    val grams = graft.operators.Dedup.distinctNgrams(
      if (text == null) "" else text.toString, n)
    val out = new Array[Long](grams.length)
    var i = 0
    grams.foreach { g => out(i) = graft.operators.Dedup.fnv1a(g); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Positional variant: slot i = hash of the n-gram starting at token
    * i, duplicates kept — the duplicated-span stream.
    */
  def posHashes(text: org.apache.spark.unsafe.types.UTF8String, n: Int): ArrayData = {
    val grams = graft.operators.Dedup.positionalNgrams(
      if (text == null) "" else text.toString, n)
    val out = new Array[Long](grams.length)
    var i = 0
    grams.foreach { g => out(i) = graft.operators.Dedup.fnv1a(g); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** ngram_hashes_pos(text) → array<bigint>: positional, in-order,
  * non-distinct n-gram hashes — slot i is the n-gram starting at token
  * position i (0-based). Same tokenization and FNV-1a hash as
  * [[NgramHashes]]; the position-preserving stream the duplicated-span
  * dedup (dedup_substring) groups into maximal runs.
  */
case class NgramHashesPos(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ngram_hashes_pos requires STRING, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = s"ngram_hashes_pos_$n"

  override protected def nullSafeEval(text: Any): Any =
    NgramKernels.posHashes(text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.NgramKernels.posHashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): NgramHashesPos =
    copy(child = newChild)
}

/** minhash_sig(array<bigint>) → array<bigint>: the 64-seed
  * min-of-avalanche MinHash signature in one primitive pass over the
  * shingle-hash array — the banding path's hot kernel, promoted from a
  * Scala UDF so the per-document `Seq[Long]` encoder round trip
  * disappears (the signature is computed straight off `ArrayData` and
  * lands in one). NOT null-propagating: a null/empty hash array yields
  * the all-Long.MaxValue sentinel signature, matching the UDF it
  * replaces (null text → sentinel sig, which can only band-collide
  * with other empty docs).
  */
case class MinhashSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires ARRAY<BIGINT>, got ${other.sql}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_sig"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    MinhashKernels.signature(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    val javaType =
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.javaType(dataType)
    ev.copy(
      code = c.code + code"""
        $javaType ${ev.value} = graft.plans.MinhashKernels.signature(
          ${c.isNull} ? null : ${c.value});""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

/** packed_pairs(array<bigint>) → array<bigint>: all ordered (a<b)
  * pairs of the distinct ids in one inverted-index bucket, packed into
  * one long (a<<32 | b) — the pair-emission kernel of the exact-Jaccard
  * path, promoted from a Scala UDF: the for-comprehension built boxed
  * Seq[Long]s per bucket; this sorts/dedups a primitive array in place
  * and writes pairs straight into the output buffer.
  */
case class PackedPairs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"packed_pairs requires ARRAY<BIGINT>, got ${other.sql}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "packed_pairs"

  override protected def nullSafeEval(ids: Any): Any =
    PairKernels.packedPairs(ids.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.PairKernels.packedPairs($c)")

  override protected def withNewChildInternal(newChild: Expression): PackedPairs =
    copy(child = newChild)
}

/** Static kernel for [[PackedPairs]], callable from generated Java. */
object PairKernels {
  def packedPairs(ids: ArrayData): ArrayData = {
    val n = ids.numElements()
    val arr = new Array[Long](n)
    var i = 0
    while (i < n) {
      // a NULL element would silently read as 0 via getLong, packing a
      // phantom doc 0 into every pair — corruption, so refuse it
      require(!ids.isNullAt(i), "packed_pairs: NULL id in bucket array")
      arr(i) = ids.getLong(i); i += 1
    }
    java.util.Arrays.sort(arr)
    var m = 0 // distinct in place (sorted)
    i = 0
    while (i < n) {
      if (m == 0 || arr(m - 1) != arr(i)) { arr(m) = arr(i); m += 1 }
      i += 1
    }
    // doc ids are table ordinals, far below 2³¹ at any scale factor;
    // fail loudly if a schema/scale change ever violates the packing
    require(m == 0 || (arr(0) >= 0 && arr(m - 1) < (1L << 31)),
      s"doc_id out of packed-pair range [0, 2^31): ${arr(0)}..${arr(m - 1)}")
    // m(m-1)/2 must stay an Int: callers bound buckets by MaxShingleDf
    // (1000), but this is a registered SQL function — guard the math
    // rather than overflow into a negative allocation
    require(m <= 65536,
      s"packed_pairs: bucket of $m distinct ids exceeds the 65536 cap " +
        "(pair emission is quadratic — apply a DF cutoff upstream)")
    val out = new Array[Long](m * (m - 1) / 2)
    var k = 0
    i = 0
    while (i < m) {
      var j = i + 1
      while (j < m) { out(k) = (arr(i) << 32) | arr(j); k += 1; j += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Static kernel for [[MinhashSig]], callable from generated Java.
  * Same avalanche (splitmix-style) per-seed rehash as the UDF it
  * replaced — signatures are bit-identical.
  */
object MinhashKernels {
  def signature(hs: ArrayData): ArrayData = {
    val m = graft.operators.Dedup.NumHashes
    val sig = Array.fill(m)(Long.MaxValue)
    if (hs != null) {
      val n = hs.numElements()
      var j = 0
      while (j < n) {
        // a NULL element would read as hash 0 and fold a phantom
        // shingle into the signature — refuse, like packed_pairs
        require(!hs.isNullAt(j), "minhash_sig: NULL hash in input array")
        val h = hs.getLong(j)
        var k = 0
        while (k < m) {
          var x = h ^ (0x9e3779b97f4a7c15L * (k + 1))
          x ^= (x >>> 33); x *= 0xff51afd7ed558ccdL; x ^= (x >>> 33)
          if (x < sig(k)) sig(k) = x
          k += 1
        }
        j += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }
}

/** vector_norm(array<float>) → double (√Σa²), codegen'd. */
case class VectorNorm(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vector_norm requires ARRAY<FLOAT|DOUBLE>, got ${other.sql}")
  }
  private def isDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_norm"

  override protected def nullSafeEval(a: Any): Any =
    if (isDouble) VectorKernels.normD(a.asInstanceOf[ArrayData])
    else VectorKernels.norm(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (isDouble) "normD" else "norm"
    defineCodeGen(ctx, ev, a => s"graft.plans.VectorKernels.$fn($a)")
  }

  override protected def withNewChildInternal(newChild: Expression): VectorNorm =
    copy(child = newChild)
}

/** lsh_buckets(array<float>, numPlanes) → array<bigint>: the
  * multi-table random-hyperplane signature as packed
  * (table << 32 | bucket) longs — one kernel pass over all
  * NumTables × numPlanes sign-bit dots straight off `ArrayData`, the
  * last ANN kernel still paying a per-row Seq[Float] → Seq[(Int,Int)]
  * UDF round trip. `numPlanes` is the occupancy-adaptive plane count
  * ([[graft.operators.Similarity.adaptivePlanes]]), baked into the
  * plan as a generated-code literal: each table uses the leading
  * `numPlanes` planes of the seeded stack. Identical double
  * accumulation (emb[i].toDouble × plane[i], left-to-right) to the
  * UDF it replaces, so buckets — and the lsh_build / sim_ann_lsh
  * oracles that recompute them from the plane literals — are
  * bit-identical. Empty input: zero dots, every bit set (dot >= 0),
  * matching the kernel contract the oracle's COALESCE pins.
  */
case class LshBuckets(child: Expression, numPlanes: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_buckets requires ARRAY<FLOAT>, got ${other.sql}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "lsh_buckets"

  override protected def nullSafeEval(emb: Any): Any =
    LshKernels.buckets(emb.asInstanceOf[ArrayData], numPlanes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.LshKernels.buckets($c, $numPlanes)")

  override protected def withNewChildInternal(newChild: Expression): LshBuckets =
    copy(child = newChild)
}

/** Static kernel for [[LshBuckets]], callable from generated Java. */
object LshKernels {
  def buckets(emb: ArrayData, numPlanes: Int): ArrayData = {
    val ps = graft.operators.Similarity.planes
    val m = if (emb == null) 0 else emb.numElements()
    // snapshot once: tables × planes × dim re-reads through the
    // scan's virtual ArrayData.getFloat dominated the bucket kernel
    // (the NearestCells lesson — see IvfKernels.nearestCells); only
    // the first Dim elements are ever dotted
    val lim = math.min(m, graft.operators.Similarity.Dim)
    val v = new Array[Float](lim)
    var j = 0
    while (j < lim) { v(j) = emb.getFloat(j); j += 1 }
    val out = new Array[Long](ps.length)
    var t = 0
    while (t < ps.length) {
      val tp = ps(t)
      var bucket = 0
      var p = 0
      val pn = math.min(numPlanes, tp.length)
      while (p < pn) {
        val w = tp(p)
        var dot = 0.0
        var i = 0
        val n = math.min(lim, w.length)
        while (i < n) { dot += v(i).toDouble * w(i); i += 1 }
        if (dot >= 0) bucket |= (1 << p)
        p += 1
      }
      out(t) = (t.toLong << 32) | bucket.toLong
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** pq_adc(query array<float>, codes array<int>) → double: the PQ
  * asymmetric-distance score against the TRAINED codebooks, as a
  * native codegen expression — the last pair-scoring kernel still
  * paying a per-row Seq[Float]/Seq[Int] encoder round trip (at 10×
  * bench scale the IVF-PQ probe scores ~10⁶ candidate rows; the
  * boxing, not the arithmetic, dominated). The codebook tensor is a
  * plan constant shipped once per plan via `addReferenceObj` (it is
  * trained state, so it cannot be a compile-time literal like the LSH
  * planes — the sim_ann_pq/sim_ann_ivfpq oracles already render it at
  * Verify time). Accumulation is per-subspace partial dots then a
  * cross-subspace sum, bit-identical to the UDF it replaces and to the
  * oracle's nested list_sum; query elements past the vector's length
  * read as 0.0 (the short-vector padding contract).
  */
case class PqAdc(left: Expression, right: Expression,
    codebooks: Array[Array[Array[Float]]]) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(org.apache.spark.sql.types.IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"pq_adc requires (ARRAY<FLOAT>, ARRAY<INT>), got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"

  override protected def nullSafeEval(q: Any, codes: Any): Any =
    PqKernels.adc(q.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData],
      codebooks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("pqCodebooks", codebooks, "float[][][]")
    defineCodeGen(ctx, ev, (q, c) => s"graft.plans.PqKernels.adc($q, $c, $cb)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}

/** Static kernel for [[PqAdc]], callable from generated Java. */
object PqKernels {
  def adc(q: ArrayData, codes: ArrayData,
      cb: Array[Array[Array[Float]]]): Double = {
    val m = q.numElements()
    require(codes.numElements() >= cb.length,
      "pq_adc: codes array shorter than the codebook's subspace count")
    var total = 0.0
    var off = 0
    var sub = 0
    while (sub < cb.length) {
      require(!codes.isNullAt(sub), "pq_adc: NULL code in codes array")
      val cw = cb(sub)(codes.getInt(sub))
      var partial = 0.0
      var i = 0
      while (i < cw.length) {
        if (off + i < m) {
          require(!q.isNullAt(off + i), "pq_adc: NULL element in query vector")
          partial += q.getFloat(off + i).toDouble * cw(i).toDouble
        }
        i += 1
      }
      total += partial
      off += cw.length
      sub += 1
    }
    total
  }
}

/** sq_decode_dot(q array<float>, codes binary) → double: the SQ8
  * asymmetric decode-dot for the IVF-SQ candidate join — q·decoded(x)
  * where decoded(x)[i] = decodeTable(i)(codes[i]), the same per-corpus
  * 64×256 table the full-scan coarse pass reads (plan constant via
  * `addReferenceObj`, the [[PqAdc]] treatment). Accumulation is
  * left-to-right double over dim 0..63 with query elements past the
  * vector's length reading 0.0 — bit-identical to Sq.sqProbe's scan
  * kernel and the oracle's list_sum restatement. Codes shorter than
  * the table fail loudly (a silently skipped row would shrink the
  * candidate set with no signal that the index is corrupt).
  */
case class SqDecodeDot(left: Expression, right: Expression,
    dec: Array[Array[Double]]) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), org.apache.spark.sql.types.BinaryType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"sq_decode_dot requires (ARRAY<FLOAT>, BINARY), got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq_decode_dot"

  override protected def nullSafeEval(q: Any, codes: Any): Any =
    SqKernels.decodeDot(q.asInstanceOf[ArrayData],
      codes.asInstanceOf[Array[Byte]], dec)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("sqDecodeTable", dec, "double[][]")
    defineCodeGen(ctx, ev, (q, c) => s"graft.plans.SqKernels.decodeDot($q, $c, $t)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDecodeDot =
    copy(left = newLeft, right = newRight)
}

/** Static kernel for [[SqDecodeDot]], callable from generated Java. */
object SqKernels {
  def decodeDot(q: ArrayData, codes: Array[Byte],
      dec: Array[Array[Double]]): Double = {
    require(codes.length >= dec.length,
      s"sq_decode_dot: codes row has ${codes.length} bytes, " +
        s"need ${dec.length}")
    val m = q.numElements()
    var dot = 0.0
    var i = 0
    while (i < dec.length) {
      if (i < m) {
        require(!q.isNullAt(i), "sq_decode_dot: NULL element in query vector")
        dot += q.getFloat(i).toDouble * dec(i)(codes(i) & 0xFF)
      }
      i += 1
    }
    dot
  }
}

/** pca_project(emb array<float>) → array<double>: projection onto the
  * TRAINED PCA loadings (centered dot per component), as a native
  * codegen expression — same plan-constant treatment as [[PqAdc]]
  * (trained state via `addReferenceObj`, never a compile-time
  * literal). Replaces the row-local Scala UDF on the emb_pca /
  * sim_ann_pca index-build path: the 64×16 arithmetic is cheap, the
  * per-row Seq[Float] → Seq[Double] encoder round trip was the cost.
  * Accumulation is per-component left-to-right over
  * (emb[i] − mean[i]) · w[i] with i < min(len, dim), bit-identical to
  * the UDF and the oracle's list_sum restatement.
  */
case class PcaProject(child: Expression, mean: Array[Double],
    comps: Array[Array[Double]], dim: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pca_project requires ARRAY<FLOAT>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pca_project"

  override protected def nullSafeEval(emb: Any): Any =
    PcaKernels.project(emb.asInstanceOf[ArrayData], mean, comps, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val meanRef = ctx.addReferenceObj("pcaMean", mean, "double[]")
    val compsRef = ctx.addReferenceObj("pcaComps", comps, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.plans.PcaKernels.project($c, $meanRef, $compsRef, $dim)")
  }

  override protected def withNewChildInternal(newChild: Expression): PcaProject =
    copy(child = newChild)
}

/** Static kernel for [[PcaProject]], callable from generated Java. */
object PcaKernels {
  def project(emb: ArrayData, mean: Array[Double],
      comps: Array[Array[Double]], dim: Int): ArrayData = {
    val n = math.min(if (emb == null) 0 else emb.numElements(), dim)
    // snapshot once (the NearestCells lesson): components × dim
    // re-reads through the virtual getFloat were the kernel's cost
    val v = new Array[Float](n)
    var j = 0
    while (j < n) {
      require(!emb.isNullAt(j), "pca_project: NULL element in input array")
      v(j) = emb.getFloat(j)
      j += 1
    }
    val out = new Array[Double](comps.length)
    var c = 0
    while (c < comps.length) {
      val w = comps(c)
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += (v(i).toDouble - mean(i)) * w(i)
        i += 1
      }
      out(c) = acc
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** nearest_cells(emb array<float>) → array<bigint>: the `n` nearest
  * IVF centroid cells by cosine (ties → lowest centroid id), as a
  * native codegen expression over the broadcast-as-plan-constant
  * centroid matrix — the assignment kernel of ivf_build (n·k dot
  * products over the whole corpus, the heaviest build line at 10×
  * bench scale) and of every IVF probe's query side, previously a
  * Seq[Float] → Seq[Long] UDF round trip per row. Same arithmetic as
  * the UDF it replaces: left-to-right double dot against each
  * centroid, divided by the vector norm then the stored centroid norm
  * in that order, ranked by java.lang.Double total order descending
  * (the Scala 2.13 sortBy default) with the centroid-id tiebreak —
  * bit-identical cells, so the Verify-time centroid-literal oracles
  * are untouched.
  */
case class NearestCells(child: Expression,
    cents: Array[(Long, Array[Float], Double)], n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_cells requires ARRAY<FLOAT>, got ${other.sql}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "nearest_cells"

  /** Two-level coarse quantizer over the centroid matrix (round-12
    * verdict item 1), built ONCE on the driver at plan-construction
    * time and shipped as a plan constant beside the centroids; null
    * below [[IvfKernels.HierMinCells]] where the flat scan wins.
    */
  @transient private lazy val hier: IvfKernels.Hier =
    IvfKernels.buildHier(cents)

  override protected def nullSafeEval(emb: Any): Any =
    IvfKernels.nearestCells(emb.asInstanceOf[ArrayData], cents, hier, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the tuple-array type has no stable Java source name — ship it as
    // Object and cast inside the Scala kernel
    val centsRef = ctx.addReferenceObj("ivfCents", cents, "java.lang.Object")
    val hierRef = ctx.addReferenceObj("ivfHier", hier, "java.lang.Object")
    defineCodeGen(ctx, ev,
      c => s"graft.plans.IvfKernels.nearestCells($c, $centsRef, $hierRef, $n)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)
}

/** Static kernels for [[NearestCells]], callable from generated Java.
  *
  * The assignment pass is the IVF build's hot loop: n rows × k
  * centroids × d dims of dot products, O(n^1.5) at the k=√n sizing —
  * the one at-linear sf10 curve of round 12. Two kernel-level designs
  * close it:
  *
  * 1. TOP-N BY INSERTION, not a full sort. The old kernel allocated
  *    and box-sorted ALL k cells per row to take the top 1–16; the
  *    measured cost at sf10 (200k × 448 cells) was ~30 s of boxing +
  *    comparator sort against ~0.3 s of dot products. The insertion
  *    scan keeps the same (−sim total order, cid) ranking with zero
  *    allocation beyond the n-slot result arrays.
  *
  * 2. HIERARCHICAL PRUNING (the two-level coarse quantizer): the k
  *    centroids are clustered once on the driver into g = ⌈√k⌉
  *    super-cells; per row the kernel scores the g super-centroids,
  *    orders groups by a triangle-inequality UPPER BOUND on any
  *    member's cosine — cos(θ_group − δ_group) where δ is the group's
  *    max member-to-super angle — and scans groups best-bound-first,
  *    stopping when the bound can no longer displace the running n-th
  *    best. The bound is exact geometry (padded by [[BoundEps]]
  *    against double rounding), so the output is BIT-IDENTICAL to the
  *    flat scan — same cells, same order, ties and NaN included
  *    (NearestCellsSpec pins equality property-style) — while the
  *    scanned-member count drops from k to ~√k·w on clustered
  *    corpora: O(n·√k) assignment, O(n^1.25) at the √n sizing.
  *
  * NaN discipline, pinned: the comparator ranks by Double.compare on
  * the NEGATED sim (NaN ranks LAST). The prune test compares negated
  * values too, so an all-NaN running top (zero-norm vector) compares
  * as compare(−bound, NaN) = −1 → never prunes → degenerates to the
  * flat scan, and a NaN BOUND (overflowing input) is replaced by 2.0
  * (≥ any cosine) → its group is always scanned. A pruned group can
  * therefore only ever contain members ranking strictly worse than
  * the kept top-n.
  */
object IvfKernels {

  /** Below this many cells the flat scan beats the hierarchy (g·d
    * super-dots plus bookkeeping outweigh the pruned members); bench
    * SF sits below it, so bench plans carry no hierarchy at all.
    */
  val HierMinCells = 64

  /** Additive pad on the cosine upper bound: the triangle-inequality
    * bound is exact in real arithmetic; the pad absorbs double
    * rounding in the bound/sim computations (≲1e-13 at d=64) so a
    * last-ulp difference can never prune a group the flat scan would
    * have ranked into the top-n. A false KEEP costs one group scan; a
    * false prune would cost correctness.
    */
  val BoundEps = 1e-9

  /** Driver-built two-level coarse quantizer: unit super-centroids,
    * member index lists, and each group's (cos δ, sin δ) for the
    * bound. Serializable — rides the plan as a reference constant.
    */
  final class Hier(val superCents: Array[Array[Double]],
      val members: Array[Array[Int]],
      val cosD: Array[Double], val sinD: Array[Double])
    extends Serializable

  /** Cluster the k centroids into ⌈√k⌉ super-cells (deterministic
    * spherical k-means: init = first g unit centroids, max-dot
    * assignment with lowest-index tiebreak, mean-then-renormalize,
    * 5 iterations — the trainCentroids conventions), then record per
    * group the max member angle δ for the bound. Returns null below
    * [[HierMinCells]] — the kernel treats null as "flat scan".
    * Driver-side, O(k·√k·d) once per plan: trivia next to the n·k
    * assignment pass it prunes.
    */
  def buildHier(cents: Array[(Long, Array[Float], Double)]): Hier = {
    val k = cents.length
    if (k < HierMinCells) return null
    val d = cents(0)._2.length
    // unit centroid matrix (cn is |cv| by the trainer's construction;
    // recompute defensively so the bound's geometry never depends on
    // the stored norm being exact)
    val u = Array.ofDim[Double](k, d)
    var c = 0
    while (c < k) {
      val cv = cents(c)._2
      var acc = 0.0
      var i = 0
      while (i < math.min(d, cv.length)) {
        acc += cv(i).toDouble * cv(i).toDouble; i += 1
      }
      val nrm = math.sqrt(acc)
      i = 0
      while (i < math.min(d, cv.length)) {
        u(c)(i) = if (nrm == 0) 0.0 else cv(i).toDouble / nrm; i += 1
      }
      c += 1
    }
    val g = math.ceil(math.sqrt(k.toDouble)).toInt
    var sc: Array[Array[Double]] = Array.tabulate(g)(j => u(j).clone())
    val asg = new Array[Int](k)
    var iter = 0
    while (iter < 5) {
      c = 0
      while (c < k) {
        var best = 0
        var bestDot = Double.MinValue
        var j = 0
        while (j < g) {
          var dot = 0.0
          var i = 0
          while (i < d) { dot += u(c)(i) * sc(j)(i); i += 1 }
          if (dot > bestDot) { bestDot = dot; best = j }
          j += 1
        }
        asg(c) = best
        c += 1
      }
      val sums = Array.ofDim[Double](g, d)
      val counts = new Array[Int](g)
      c = 0
      while (c < k) {
        var i = 0
        while (i < d) { sums(asg(c))(i) += u(c)(i); i += 1 }
        counts(asg(c)) += 1
        c += 1
      }
      sc = Array.tabulate(g) { j =>
        if (counts(j) == 0) sc(j)
        else {
          var acc = 0.0
          var i = 0
          while (i < d) { acc += sums(j)(i) * sums(j)(i); i += 1 }
          val nrm = math.sqrt(acc)
          if (nrm == 0) sc(j) else sums(j).map(_ / nrm)
        }
      }
      iter += 1
    }
    val members = Array.tabulate(g)(j => (0 until k).filter(asg(_) == j).toArray)
    val cosD = new Array[Double](g)
    val sinD = new Array[Double](g)
    var j = 0
    while (j < g) {
      var maxAngle = 0.0
      members(j).foreach { c =>
        var dot = 0.0
        var i = 0
        while (i < d) { dot += u(c)(i) * sc(j)(i); i += 1 }
        val a = math.acos(math.max(-1.0, math.min(1.0, dot)))
        if (a > maxAngle) maxAngle = a
      }
      // pad δ a hair outward: cos/sin of a slightly larger angle can
      // only LOOSEN the bound
      maxAngle = math.min(math.Pi, maxAngle + 1e-9)
      cosD(j) = math.cos(maxAngle)
      sinD(j) = math.sin(maxAngle)
      j += 1
    }
    new Hier(sc, members, cosD, sinD)
  }

  /** (sim, id) ranks strictly better than (thanSim, thanId) under the
    * (−sim Double total order, id asc) comparator.
    */
  private def ranksBefore(sim: Double, id: Long,
      thanSim: Double, thanId: Long): Boolean = {
    val s = java.lang.Double.compare(-sim, -thanSim)
    s < 0 || (s == 0 && id < thanId)
  }

  /** Insert (sim, cid) into the running top-n arrays (sims/ids hold
    * `size` entries in final rank order); returns the new size.
    */
  private def insertTop(sims: Array[Double], ids: Array[Long], size: Int,
      n: Int, sim: Double, cid: Long): Int = {
    if (size == n && !ranksBefore(sim, cid, sims(size - 1), ids(size - 1)))
      return size
    var pos = if (size == n) size - 1 else size
    while (pos > 0 && ranksBefore(sim, cid, sims(pos - 1), ids(pos - 1))) {
      sims(pos) = sims(pos - 1); ids(pos) = ids(pos - 1); pos -= 1
    }
    sims(pos) = sim; ids(pos) = cid
    math.min(size + 1, n)
  }

  def nearestCells(emb: ArrayData, centsObj: Object, hierObj: Object,
      n: Int): ArrayData = {
    // Object-typed like cents: the nested class's binary name
    // (IvfKernels$Hier) is not a valid generated-Java source type
    val hier = hierObj.asInstanceOf[Hier]
    val cents = centsObj.asInstanceOf[Array[(Long, Array[Float], Double)]]
    val k = cents.length
    val m = emb.numElements()
    // snapshot the row into a primitive array FIRST: the scan hands a
    // ColumnarArray/UnsafeArrayData whose getFloat is a virtual call
    // the JIT cannot inline across k dot loops — measured 595 µs/row
    // at k=448 reading ArrayData directly vs ~30 µs off a local
    // float[] (the single biggest line of the r12 sf10 ivf_build
    // curve). m virtual reads once, then m·k direct reads.
    val v = new Array[Float](m)
    var acc = 0.0
    var i = 0
    while (i < m) {
      require(!emb.isNullAt(i), "nearest_cells: NULL element in input array")
      val x = emb.getFloat(i)
      v(i) = x
      acc += x.toDouble * x.toDouble
      i += 1
    }
    val nv = math.sqrt(acc)
    val take = math.min(n, k)
    val sims = new Array[Double](take)
    val ids = new Array[Long](take)
    var size = 0

    def scanMember(c: Int): Unit = {
      val (cid, cv, cn) = cents(c)
      var dot = 0.0
      var j = 0
      val lim = math.min(m, cv.length)
      while (j < lim) { dot += v(j).toDouble * cv(j).toDouble; j += 1 }
      size = insertTop(sims, ids, size, take, dot / nv / cn, cid)
    }

    // the hierarchy's spherical-triangle bound assumes full-width
    // vectors; a short/overlong row (adversarial fixtures) takes the
    // flat scan, as does a sub-threshold k (hier == null)
    val d = if (k == 0) 0 else cents(0)._2.length
    if (hier == null || m != d || take >= k) {
      var c = 0
      while (c < k) { scanMember(c); c += 1 }
    } else {
      val g = hier.superCents.length
      val bounds = new Array[Double](g)
      var j = 0
      while (j < g) {
        val sc = hier.superCents(j)
        var dot = 0.0
        i = 0
        while (i < d) { dot += v(i).toDouble * sc(i); i += 1 }
        val cosT = math.max(-1.0, math.min(1.0, dot / nv))
        val sinT = math.sqrt(math.max(0.0, 1.0 - cosT * cosT))
        // Upper bound on any member's cosine. For θ ≥ δ the spherical
        // triangle inequality gives cos(θ − δ). For θ < δ (query
        // INSIDE the group's cone, cosT ≥ cosD) that formula is WRONG:
        // a member can sit at angle δm ≈ θ from the super-centroid,
        // i.e. coincident with the query, so the only valid bound is
        // 1. cos(θ−δ) being even in its argument hides the regime
        // change — clamp explicitly (the r13 ADVICE counterexample:
        // query coincident with a member of a wide group was pruned
        // in favor of a worse cell).
        var b =
          if (cosT >= hier.cosD(j)) 1.0 + BoundEps
          else cosT * hier.cosD(j) + sinT * hier.sinD(j) + BoundEps
        if (java.lang.Double.isNaN(b)) b = 2.0 // overflow → always scan
        bounds(j) = b
        j += 1
      }
      // group order: bound desc (primitive insertion sort on indices —
      // g = √k ≤ 64 entries)
      val order = new Array[Int](g)
      j = 0
      while (j < g) {
        var pos = j
        while (pos > 0 && bounds(order(pos - 1)) < bounds(j)) {
          order(pos) = order(pos - 1); pos -= 1
        }
        order(pos) = j
        j += 1
      }
      var oi = 0
      var done = false
      while (oi < g && !done) {
        val grp = order(oi)
        // prune iff the bound ranks strictly WORSE than the running
        // n-th sim under the negated-total-order comparator: an
        // all-NaN top never prunes (compare(−b, NaN) = −1), so the
        // zero-norm row degenerates to the flat scan's answer
        if (size == take &&
            java.lang.Double.compare(-bounds(grp), -sims(size - 1)) > 0)
          done = true
        else {
          val ms = hier.members(grp)
          var mi = 0
          while (mi < ms.length) { scanMember(ms(mi)); mi += 1 }
        }
        oi += 1
      }
    }
    val out = new Array[Long](size)
    System.arraycopy(ids, 0, out, 0, size)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
