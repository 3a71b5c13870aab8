package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Product quantization (Jégou, Douze, Schmid: "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011) — the compression lever
  * of corpus-scale ANN: the 64-dim float vector (256 B) becomes
  * [[PqSubvectors]] one-byte codewords (8 B, 32×), and search scans
  * CODES, not vectors. At 10⁹ vectors the index scan is memory-
  * bandwidth-bound, so the 32× smaller representation is a 32× faster
  * coarse pass; full-precision vectors page in only for the exact
  * re-rank of the top candidates (the sim_ann_proj coarse-to-fine
  * shape). [[Similarity]]'s IVF/LSH bound WHICH vectors are scored;
  * PQ bounds the BYTES each scored vector costs — at deployment scale
  * the two compose (FAISS-style IVF-PQ: PQ codes stored per IVF cell).
  *
  * Everything is deterministic given the corpus — the per-subspace
  * Lloyd training mirrors [[Similarity.trainCentroids]]'s bounded
  * deterministic sample and first-wins ties — so the whole family is
  * hash-oracled via the trained-codebook-literal trick (Verify-time
  * dynamic oracles, like the IVF centroids).
  */
object Pq {

  /** 64 dims → 8 subspaces × 8 dims; 16 codewords per subspace (4-bit
    * codes — sized to the fixture corpus; production uses 256/8-bit).
    * Training cost: sample × codewords × dim × iters ≈ 4·10⁷ flops,
    * far under [[Similarity.DriverTrainFlopsCap]], so the driver path
    * is always taken at these parameters.
    */
  val PqSubvectors = 8
  val PqCodewords = 16
  val SubDim: Int = Similarity.Dim / PqSubvectors

  /** Candidate pool per query for the exact re-rank, same rationale as
    * [[Similarity.ProjCandidates]]: the budget must cover the query's
    * topic neighborhood, because within-neighborhood order is exactly
    * what quantization blurs.
    */
  val PqCandidates = 100

  /** Zero-padded subvector of `v` starting at `off` (the short-vector
    * contract shared by training, encoding, and the oracle CTEs).
    */
  @inline private def subvOf(v: Array[Float], off: Int): Array[Float] =
    Array.tabulate(SubDim)(i => if (off + i < v.length) v(off + i) else 0f)

  /** Per-subspace EUCLIDEAN k-means on the deterministic sample
    * (hash-ordered prefix, init = first k subvectors, first-wins
    * assignment ties, empty cells keep their centroid — every
    * determinism rule of the IVF trainer, but L2 on subvectors, the
    * published PQ objective). Returns [sub][code][SubDim] floats.
    *
    * The driver/distributed split is GUARDED the same way as
    * [[Similarity.trainCentroids]]: total training cost
    * (sample × codewords × Dim × iters, summed over subspaces) under
    * `maxDriverFlops` collects the sample and runs Lloyd locally;
    * above it — e.g. production 256-codeword/8-bit codebooks at the
    * full sample cap (~5·10⁹ flops) — the sample stays distributed and
    * each iteration ships per-partition partial sums for ALL subspaces
    * in one pass over the id-partitioned, id-sorted sample
    * ([[Similarity.deterministicSampleRdd]] — bit-reproducible, not
    * just partition-order-stable), partials combined in partition
    * order. Raising PqCodewords can therefore never
    * silently grow an unguarded driver collect+train.
    */
  def trainCodebooks(s: SparkSession, d: String,
      maxDriverFlops: Double = Similarity.DriverTrainFlopsCap,
      codewords: Int = PqCodewords): Array[Array[Array[Float]]] =
    trainCodebooksOver(s, Tables.embeddings(s, d), maxDriverFlops, codewords)

  /** [[trainCodebooks]] over a GIVEN (vec_id, embedding) relation —
    * shared with the OPQ path, which feeds the PERMUTED view so the
    * two families train through identical sampling/guard machinery.
    */
  private def trainCodebooksOver(s: SparkSession, emb: DataFrame,
      maxDriverFlops: Double = Similarity.DriverTrainFlopsCap,
      codewords: Int = PqCodewords): Array[Array[Array[Float]]] = {
    import s.implicits._
    val sampleSize = Similarity.IvfSampleCap
    // when the corpus fits the cap the sample IS the corpus: a bare
    // columnar scan, no hash-order sort (the trainCentroids shape);
    // above the cap, the deterministic hash-ordered prefix
    val n = Similarity.rowCount(s, emb)
    val sampleDs: org.apache.spark.sql.Dataset[(Long, Array[Float])] =
      if (n <= sampleSize)
        emb.select($"vec_id", $"embedding").as[(Long, Array[Float])]
      else emb
        .select($"vec_id", $"embedding")
        .orderBy(xxhash64($"vec_id"), $"vec_id")
        .limit(sampleSize)
        .select($"vec_id", $"embedding").as[(Long, Array[Float])]
    trainCodebooksOn(s, sampleDs, math.min(n, sampleSize.toLong),
      maxDriverFlops, codewords)
  }

  /** The Lloyd trainer over a GIVEN bounded sample relation — shared
    * by the raw-vector path ([[trainCodebooks]]) and the residual path
    * ([[resPqIndex]], which feeds x − centroid[cell] rows) so the two
    * codebook families can never diverge in init/tie/empty-cell rules.
    * `effSample` is the sample's row count (it prices the
    * driver-vs-distributed guard, the trainCodebooks contract).
    */
  private[operators] def trainCodebooksOn(s: SparkSession,
      sampleDs: org.apache.spark.sql.Dataset[(Long, Array[Float])],
      effSample: Long, maxDriverFlops: Double,
      codewords: Int): Array[Array[Array[Float]]] = {
    if (Similarity.trainFlops(effSample, codewords) <= maxDriverFlops) {
      val sample = sampleDs.collect().map(_._2)
      require(sample.nonEmpty, "cannot train PQ codebooks on an empty sample")
      Array.tabulate(PqSubvectors) { sub =>
        val off = sub * SubDim
        val xs = sample.map(subvOf(_, off))
        var cents: Array[Array[Float]] =
          (0 until codewords).map(i => xs(i % xs.length).clone()).toArray
        var iter = 0
        while (iter < Similarity.LloydIters) {
          val sums = Array.fill(codewords)(new Array[Double](SubDim))
          val counts = new Array[Int](codewords)
          xs.foreach { x =>
            val c = nearestCode(x, 0, cents)
            var i = 0
            while (i < SubDim) { sums(c)(i) += x(i); i += 1 }
            counts(c) += 1
          }
          cents = cents.zipWithIndex.map { case (old, c) =>
            if (counts(c) == 0) old
            else sums(c).map(v => (v / counts(c)).toFloat)
          }
          iter += 1
        }
        cents
      }
    } else {
      // distributed Lloyd: same init (first k sample subvectors), same
      // assignment kernel, partial sums per partition — one RDD pass
      // per iteration covers every subspace, over the deterministic
      // (id-partitioned, id-sorted) sample layout
      val init = sampleDs.take(codewords).map(_._2)
      require(init.nonEmpty, "cannot train PQ codebooks on an empty sample")
      val rdd = Similarity.deterministicSampleRdd(sampleDs,
          s.sparkContext.defaultParallelism)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var cbs: Array[Array[Array[Float]]] = Array.tabulate(PqSubvectors) { sub =>
        val off = sub * SubDim
        (0 until codewords)
          .map(i => subvOf(init(i % init.length), off)).toArray
      }
      var iter = 0
      while (iter < Similarity.LloydIters) {
        val bc = s.sparkContext.broadcast(cbs)
        val partials = rdd.mapPartitionsWithIndex { (pid, it) =>
          val cl = bc.value
          val sums = Array.fill(PqSubvectors, codewords)(new Array[Double](SubDim))
          val counts = Array.fill(PqSubvectors)(new Array[Int](codewords))
          it.foreach { v =>
            var sub = 0
            while (sub < PqSubvectors) {
              val x = subvOf(v, sub * SubDim)
              val c = nearestCode(x, 0, cl(sub))
              val srow = sums(sub)(c)
              var i = 0
              while (i < SubDim) { srow(i) += x(i); i += 1 }
              counts(sub)(c) += 1
              sub += 1
            }
          }
          Iterator.single((pid, sums, counts))
        }.collect().sortBy(_._1) // combine in partition order: deterministic
        cbs = Array.tabulate(PqSubvectors) { sub =>
          val sums = Array.fill(codewords)(new Array[Double](SubDim))
          val counts = new Array[Int](codewords)
          partials.foreach { case (_, ps, pc) =>
            var c = 0
            while (c < codewords) {
              var i = 0
              while (i < SubDim) { sums(c)(i) += ps(sub)(c)(i); i += 1 }
              counts(c) += pc(sub)(c)
              c += 1
            }
          }
          cbs(sub).zipWithIndex.map { case (old, c) =>
            if (counts(c) == 0) old
            else sums(c).map(v => (v / counts(c)).toFloat)
          }
        }
        bc.destroy()
        iter += 1
      }
      rdd.unpersist(blocking = false)
      cbs
    }
  }

  /** Argmin-L2 codeword for the subvector of `v` starting at `off`
    * (strictly-less update = lowest code on an exact tie, the same
    * rule the oracle's `ORDER BY dist ASC, code ASC` states).
    * Distances accumulate left-to-right in double so both engines
    * compare bit-identical values. Out-of-range dims read as 0 (the
    * zero-pad contract for short vectors).
    */
  private def nearestCode(v: Array[Float], off: Int,
      cents: Array[Array[Float]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var dist = 0.0
      var i = 0
      while (i < SubDim) {
        val x = if (off + i < v.length) v(off + i).toDouble else 0.0
        val dd = x - cents(c)(i).toDouble
        dist += dd * dd
        i += 1
      }
      if (dist < bestD) { bestD = dist; best = c }
      c += 1
    }
    best
  }

  /** [[nearestCode]] over a DOUBLE vector — the residual-encoding
    * kernel. Residuals are computed in double on both engines
    * (emb[i] − centroid[i], each float exactly widened), so the
    * argmin-L2 comparison is bit-identical to the oracle's; rounding
    * the residual to float before encoding would diverge them.
    */
  private def nearestCodeD(v: Array[Double], off: Int,
      cents: Array[Array[Float]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var dist = 0.0
      var i = 0
      while (i < SubDim) {
        val dd = v(off + i) - cents(c)(i).toDouble
        dist += dd * dd
        i += 1
      }
      if (dist < bestD) { bestD = dist; best = c }
      c += 1
    }
    best
  }

  /** A built PQ index: trained codebooks + the codes relation
    * (vec_id, codes ARRAY<INT> — 8 small ints standing in for the
    * 8-byte packed representation; `pq_build` benches the build and
    * `sim_ann_pq` the steady-state search, the build-once contract of
    * every index here). At deployment scale the codes table IS the
    * stored index.
    */
  final case class PqIndex(codebooks: Array[Array[Array[Float]]],
      codes: DataFrame)

  private val pqCache = new SessionCache[PqIndex](idx =>
    scala.util.Try(idx.codes.unpersist(blocking = false)))

  def pqIndex(s: SparkSession, d: String,
      codewords: Int = PqCodewords): PqIndex =
    pqCache.getOrBuild(s, s"$codewords#$d") {
      import s.implicits._
      val cb = trainCodebooks(s, d, codewords = codewords)
      val enc = udf { (emb: Seq[Float]) =>
        val v = emb.toArray
        Array.tabulate(PqSubvectors)(sub => nearestCode(v, sub * SubDim, cb(sub)))
      }
      val codes = Tables.embeddings(s, d)
        .select($"vec_id", enc($"embedding").as("codes"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      PqIndex(cb, codes)
    }

  // ----- OPQ (permutation form) ---------------------------------------

  /** OPQ-P: optimized product quantization by dimension PERMUTATION —
    * the parametric initialization of Ge et al. ("Optimized Product
    * Quantization", CVPR 2013) without the iterative rotation, because
    * a permutation is the orthogonal transform a relational engine
    * applies for FREE on both sides (a column re-index at encode and
    * query time — no matrix multiply in the scan, no new kernel).
    * Plain PQ slices CONSECUTIVE dims into subspaces, so a variance-
    * skewed corpus concentrates its signal in a few subspaces and
    * spends the rest of the code budget quantizing noise; OPQ-P ranks
    * dims by corpus variance and deals them SERPENTINE across the
    * subspaces, balancing per-subspace variance (the paper's
    * eigenvalue-allocation objective, applied to the diagonal). The
    * exact re-rank is on ORIGINAL vectors (cosine is permutation-
    * invariant), so only the coarse ADC sees permuted coordinates.
    */
  final case class OpqIndex(perm: Array[Int], pq: PqIndex)

  private val opqCache = new SessionCache[OpqIndex](idx =>
    scala.util.Try(idx.pq.codes.unpersist(blocking = false)))

  /** Per-dim variance ranking → serpentine deal: one imperative pass
    * per partition (dim-sized partials, the buildCms shape), partials
    * added through one reduce. perm(sub·SubDim + slot) = original dim
    * (0-based). Short rows zero-pad, the shared kernel contract.
    */
  private def opqPermutation(s: SparkSession, d: String): Array[Int] = {
    import s.implicits._
    val dim = Similarity.Dim
    val (sx, sxx, n) = Tables.embeddings(s, d).select($"embedding")
      .as[Array[Float]].mapPartitions { it =>
        val sx = new Array[Double](dim)
        val sxx = new Array[Double](dim)
        var n = 0L
        it.foreach { v =>
          var i = 0
          while (i < dim) {
            val x = if (v != null && i < v.length) v(i).toDouble else 0.0
            sx(i) += x; sxx(i) += x * x; i += 1
          }
          n += 1
        }
        Iterator.single((sx, sxx, n))
      }.reduce { (a, b) =>
        var i = 0
        while (i < dim) { a._1(i) += b._1(i); a._2(i) += b._2(i); i += 1 }
        (a._1, a._2, a._3 + b._3)
      }
    val vars = Array.tabulate(dim) { i =>
      if (n == 0) 0.0 else sxx(i) / n - (sx(i) / n) * (sx(i) / n)
    }
    val ranked = (0 until dim).sortBy(i => (-vars(i), i))
    val slots = Array.fill(PqSubvectors)(
      scala.collection.mutable.ArrayBuffer.empty[Int])
    ranked.zipWithIndex.foreach { case (dimIdx, r) =>
      val block = r / PqSubvectors
      val pos = r % PqSubvectors
      val sub = if (block % 2 == 0) pos else PqSubvectors - 1 - pos
      slots(sub) += dimIdx
    }
    slots.flatMap(_.iterator).toArray
  }

  /** The permuted view of an embedding column — a pure Column
    * expression (Dim element_at's, codegen'd), nulls zero-padded to
    * the kernel contract.
    */
  private def permutedCol(perm: Array[Int], emb: Column): Column =
    array(perm.toIndexedSeq.map(i =>
      coalesce(element_at(emb, i + 1), lit(0.0f))): _*)

  /** Build = variance pass → permutation → the UNCHANGED PQ trainer
    * and encoder over the permuted view: everything downstream of the
    * column re-index is byte-for-byte the PQ machinery, which is the
    * operational argument for the permutation form at 100 TB.
    */
  def opqIndex(s: SparkSession, d: String): OpqIndex =
    opqCache.getOrBuild(s, d) {
      import s.implicits._
      val perm = opqPermutation(s, d)
      val permEmb = Tables.embeddings(s, d)
        .select($"vec_id", permutedCol(perm, $"embedding").as("embedding"))
      val cb = trainCodebooksOver(s, permEmb)
      val enc = udf { (emb: Seq[Float]) =>
        val v = emb.toArray
        Array.tabulate(PqSubvectors)(sub =>
          nearestCode(v, sub * SubDim, cb(sub)))
      }
      val codes = permEmb
        .select($"vec_id", enc($"embedding").as("codes"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      OpqIndex(perm, PqIndex(cb, codes))
    }

  /** The OPQ probe: the PQ probe with PERMUTED query coordinates (the
    * LUTs dot permuted q-slices against codewords trained in permuted
    * space); candidates re-rank by exact cosine on ORIGINAL vectors.
    * `queries` (q_id, q_emb, q_nrm) arrive in ORIGINAL coordinates and
    * are permuted here, so callers never handle transformed ones; the
    * norms carry over, since a permutation preserves them.
    */
  private def opqProbe(s: SparkSession, d: String, idx: OpqIndex,
      queries: DataFrame, k: Int, candidates: Int): DataFrame = {
    import s.implicits._
    val permuted = queries.select($"q_id",
      permutedCol(idx.perm, $"q_emb").as("q_emb"), $"q_nrm")
    pqProbe(s, d, idx.pq, k, candidates, permuted, queries)
  }

  def topkOpq(s: SparkSession, d: String, k: Int = Similarity.TopK,
      candidates: Int = PqCandidates): DataFrame =
    opqProbe(s, d, opqIndex(s, d), queryRelation(s, d), k, candidates)

  /** Store the OPQ index: codes + codebooks (the PQ layout) plus the
    * permutation as a (pos, dim) table — trained state, the same
    * class as the codebooks. The tombstone/compaction seam is shared
    * (codes subdir, [[Similarity.compactCodesIndex]]).
    */
  def writeOpqIndex(s: SparkSession, d: String, outDir: String): Unit = {
    import s.implicits._
    val idx = opqIndex(s, d)
    idx.pq.codes.write.mode("overwrite").parquet(s"$outDir/codes")
    writeCodebooks(s, idx.pq.codebooks, s"$outDir/codebooks")
    idx.perm.zipWithIndex.toSeq.map { case (dim, pos) => (pos, dim) }
      .toDF("pos", "dim").coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/perm")
  }

  /** Read a stored OPQ index; a perm table that is not a bijection of
    * the dims fails loudly (probing through a corrupt permutation
    * would silently score garbage coordinates).
    */
  def readOpqIndex(s: SparkSession, indexDir: String): OpqIndex = {
    import s.implicits._
    val rows = s.read.parquet(s"$indexDir/perm")
      .select($"pos", $"dim").as[(Int, Int)].collect()
    require(rows.length == Similarity.Dim &&
        rows.map(_._2).sorted.sameElements(0 until Similarity.Dim),
      s"opq perm table under $indexDir is not a bijection of the dims")
    val perm = new Array[Int](Similarity.Dim)
    rows.foreach { case (pos, dim) => perm(pos) = dim }
    OpqIndex(perm, readPqIndex(s, indexDir))
  }

  /** Probe a STORED OPQ index with the declared query set. */
  def topkOpqStored(s: SparkSession, d: String, indexDir: String,
      k: Int = Similarity.TopK,
      candidates: Int = PqCandidates): DataFrame =
    topkOpqStoredFor(s, queryRelation(s, d), d, indexDir, k, candidates)

  /** The stored-OPQ probe for an ARBITRARY query relation in ORIGINAL
    * coordinates (q_id, q_emb, q_nrm) — the serving entry point (the
    * topkLshStoredFor convention): queries are permuted with the
    * INDEX's recorded permutation (never the current corpus's
    * retrained one, the planes-sidecar discipline).
    */
  def topkOpqStoredFor(s: SparkSession, queries: DataFrame, d: String,
      indexDir: String, k: Int = Similarity.TopK,
      candidates: Int = PqCandidates): DataFrame =
    opqProbe(s, d, readOpqIndex(s, indexDir), queries, k, candidates)

  // ----- OPQ (full-rotation form) --------------------------------------

  /** OPQ-R: the non-parametric alternation of Ge et al. §4 behind the
    * permutation init — [[OpqRotIters]] passes of (train codebooks in
    * the rotated space → encode → Procrustes-update R toward the
    * reconstructions), R₀ = the OPQ-P permutation matrix. Each update
    * solves min_R Σ‖Rx − x̂‖² over orthogonal R exactly (R = VUᵀ from
    * the SVD of M = Σ x x̂ᵀ, computed via the shared deterministic
    * Jacobi eigensolve on MᵀM), so the quantization error is
    * monotone non-increasing across passes by construction. The whole
    * alternation runs on the bounded deterministic training sample
    * (the trainCodebooksOver prefix — model-sized driver state, the
    * BPE/PCA discipline); only the FINAL R touches the corpus: one
    * rotate-and-encode pass, exactly the PQ build's cost shape plus a
    * d² matvec per row. Rotated coordinates are rounded to FLOAT
    * before quantization (the permuted view's dtype), which is what
    * lets the oracle restate the rotation exactly
    * (CAST(Σ R[r][i]·x[i] AS FLOAT) — both engines IEEE-round the
    * same double). Exact re-rank stays on ORIGINAL vectors (cosine is
    * rotation-invariant).
    */
  final case class OpqRotIndex(rot: Array[Array[Double]], pq: PqIndex)

  /** Alternating refinement passes. Per-pass gains roughly halve on
    * the fixtures (0.545 → 0.506 → 0.488 → 0.480 over 4; an 8-pass
    * trace recovers <½ of the 4-pass gain beyond this horizon —
    * OpqSpec pins it), and each pass is a bounded driver job, so 4
    * buys ~90% of the asymptotic improvement at seconds of cost.
    */
  val OpqRotIters = 4

  private val opqRotCache = new SessionCache[OpqRotIndex](idx =>
    scala.util.Try(idx.pq.codes.unpersist(blocking = false)))

  /** Apply a rotation row-wise to a (possibly short) float vector:
    * out(r) = Σ_i R(r)(i)·x(i) accumulated left-to-right in double,
    * rounded to float — the dtype contract of the quantizer's input
    * and the oracle's CAST(... AS FLOAT) restatement.
    */
  private[operators] def rotateF(rot: Array[Array[Double]],
      v: Array[Float]): Array[Float] = {
    val dim = rot.length
    val out = new Array[Float](dim)
    var r = 0
    while (r < dim) {
      val row = rot(r)
      var acc = 0.0
      var i = 0
      while (i < dim) {
        if (v != null && i < v.length) acc += row(i) * v(i).toDouble
        i += 1
      }
      out(r) = acc.toFloat
      r += 1
    }
    out
  }

  /** [[rotateF]] as a column: nulls rotate as the empty vector. */
  private def rotatedCol(rot: Array[Array[Double]], emb: Column): Column =
    udf { (v: Seq[Float]) =>
      rotateF(rot, if (v == null) Array.empty[Float] else v.toArray)
    }.apply(emb)

  /** Orthogonal Procrustes solution max_R tr(RM): R = VUᵀ from
    * M = UΣVᵀ. V and Σ² come from the Jacobi eigensolve of MᵀM
    * (deterministic, the PCA solver); U's columns are Mv_i/σ_i, with
    * a modified-Gram-Schmidt completion for any σ_i ≈ 0 column
    * (rank-deficient M — e.g. a zero-variance dim) so R stays exactly
    * orthogonal instead of blowing up on the division.
    */
  private[operators] def procrustesRotation(
      m: Array[Array[Double]]): Array[Array[Double]] = {
    val d = m.length
    val mtm = Array.tabulate(d, d) { (i, j) =>
      var acc = 0.0; var k = 0
      while (k < d) { acc += m(k)(i) * m(k)(j); k += 1 }
      acc
    }
    val (eig, v) = Pca.jacobiEigen(mtm)
    val sigMax = math.sqrt(math.max(eig.max, 0.0))
    val u = Array.ofDim[Double](d, d) // columns u(_)(c)
    var c = 0
    while (c < d) {
      val sig = math.sqrt(math.max(eig(c), 0.0))
      if (sig > 1e-12 * math.max(sigMax, 1e-300)) {
        var r = 0
        while (r < d) {
          var acc = 0.0; var k = 0
          while (k < d) { acc += m(r)(k) * v(k)(c); k += 1 }
          u(r)(c) = acc / sig
          r += 1
        }
      } else {
        // null-space column: seed from v's column; the MGS pass below
        // orthogonalizes it against every better-conditioned column
        var r = 0
        while (r < d) { u(r)(c) = v(r)(c); r += 1 }
      }
      c += 1
    }
    // One modified-Gram-Schmidt pass over U's columns in DESCENDING-σ
    // order: Mv/σ columns are only orthonormal to ~σmin/σmax·ε on
    // ill-conditioned M (a near-isotropic corpus sent the deviation to
    // 2.7e-6 — over the reader's orthogonality gate), and R = VUᵀ
    // inherits every defect. Well-conditioned directions anchor the
    // basis; near-degenerate ones are re-projected onto what remains.
    // Deterministic: fixed order, pure arithmetic.
    val order = (0 until d).sortBy(i => (-eig(i), i))
    var oi = 0
    while (oi < d) {
      val c1 = order(oi)
      var oj = 0
      while (oj < oi) {
        val c0 = order(oj)
        var dot = 0.0; var k = 0
        while (k < d) { dot += u(k)(c1) * u(k)(c0); k += 1 }
        k = 0
        while (k < d) { u(k)(c1) -= dot * u(k)(c0); k += 1 }
        oj += 1
      }
      var nrm = 0.0; var k = 0
      while (k < d) { nrm += u(k)(c1) * u(k)(c1); k += 1 }
      nrm = math.sqrt(nrm)
      require(nrm > 1e-9, "procrustes: degenerate column after MGS")
      k = 0
      while (k < d) { u(k)(c1) /= nrm; k += 1 }
      oi += 1
    }
    // R = VUᵀ: R(a)(b) = Σ_i v(a)(i)·u(b)(i)
    val rot = Array.tabulate(d, d) { (a, b) =>
      var acc = 0.0; var i = 0
      while (i < d) { acc += v(a)(i) * u(b)(i); i += 1 }
      acc
    }
    // loud orthogonality check — a silently skewed R would score
    // garbage coordinates forever
    var worst = 0.0
    var a = 0
    while (a < d) {
      var b = 0
      while (b < d) {
        var acc = 0.0; var i = 0
        while (i < d) { acc += rot(a)(i) * rot(b)(i); i += 1 }
        val target = if (a == b) 1.0 else 0.0
        worst = math.max(worst, math.abs(acc - target))
        b += 1
      }
      a += 1
    }
    require(worst < 1e-8, f"procrustes: RRᵀ deviates from I by $worst%.2e")
    rot
  }

  /** The alternation over the bounded deterministic sample. Returns
    * (R, per-pass mean quantization error in rotated space) — the
    * error trace is what the monotonicity spec pins.
    */
  private[operators] def trainRotation(s: SparkSession, d: String,
      iters: Int = OpqRotIters): (Array[Array[Double]], Array[Double]) = {
    import s.implicits._
    val dim = Similarity.Dim
    val emb = Tables.embeddings(s, d)
    val n = Similarity.rowCount(s, emb)
    val cap = Similarity.IvfSampleCap
    val sample: Array[Array[Float]] =
      (if (n <= cap) emb.select($"embedding")
       else emb.select($"vec_id", $"embedding")
         .orderBy(xxhash64($"vec_id"), $"vec_id").limit(cap)
         .select($"embedding"))
        .as[Array[Float]].collect()
    val perm = opqPermutation(s, d)
    var rot: Array[Array[Double]] = Array.tabulate(dim, dim) { (r, i) =>
      if (perm(r) == i) 1.0 else 0.0
    }
    val errs = new Array[Double](iters)
    var t = 0
    while (t < iters) {
      val rotated = sample.map(v => rotateF(rot, v))
      val cb = trainCodebooksOn(s,
        s.createDataset(rotated.zipWithIndex.toSeq
          .map { case (v, i) => (i.toLong, v) }),
        rotated.length.toLong, Similarity.DriverTrainFlopsCap, PqCodewords)
      // encode, reconstruct, accumulate M = Σ x x̂ᵀ and the error trace
      val m = Array.ofDim[Double](dim, dim)
      var err = 0.0
      var j = 0
      while (j < sample.length) {
        val x = sample(j)
        val y = rotated(j)
        val xhat = new Array[Double](dim)
        var sub = 0
        while (sub < PqSubvectors) {
          val code = nearestCode(y, sub * SubDim, cb(sub))
          var i = 0
          while (i < SubDim) {
            xhat(sub * SubDim + i) = cb(sub)(code)(i).toDouble
            i += 1
          }
          sub += 1
        }
        var r = 0
        while (r < dim) {
          val e = y(r).toDouble - xhat(r)
          err += e * e
          val xr = if (r < x.length) x(r).toDouble else 0.0
          var i = 0
          while (i < dim) { m(r)(i) += xr * xhat(i); i += 1 }
          r += 1
        }
        j += 1
      }
      errs(t) = if (sample.isEmpty) 0.0 else err / sample.length
      rot = procrustesRotation(m)
      t += 1
    }
    (rot, errs)
  }

  def opqRotIndex(s: SparkSession, d: String): OpqRotIndex =
    opqRotCache.getOrBuild(s, d) {
      import s.implicits._
      val (rot, _) = trainRotation(s, d)
      val rotEmb = Tables.embeddings(s, d)
        .select($"vec_id", rotatedCol(rot, $"embedding").as("embedding"))
      val cb = trainCodebooksOver(s, rotEmb)
      val enc = udf { (emb: Seq[Float]) =>
        val v = emb.toArray
        Array.tabulate(PqSubvectors)(sub =>
          nearestCode(v, sub * SubDim, cb(sub)))
      }
      val codes = rotEmb
        .select($"vec_id", enc($"embedding").as("codes"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      OpqRotIndex(rot, PqIndex(cb, codes))
    }

  /** The OPQ-R probe: `queries` (q_id, q_emb, q_nrm) in ORIGINAL
    * coordinates are rotated with the index's R for the LUTs, and the
    * exact re-rank dots the originals (the [[opqProbe]] contract; the
    * norms carry over, since a rotation preserves them exactly in real
    * arithmetic).
    */
  private def opqRotProbe(s: SparkSession, d: String, idx: OpqRotIndex,
      queries: DataFrame, k: Int, candidates: Int): DataFrame = {
    import s.implicits._
    val rotated = queries.select($"q_id",
      rotatedCol(idx.rot, $"q_emb").as("q_emb"), $"q_nrm")
    pqProbe(s, d, idx.pq, k, candidates, rotated, queries)
  }

  def topkOpqRot(s: SparkSession, d: String, k: Int = Similarity.TopK,
      candidates: Int = PqCandidates): DataFrame =
    opqRotProbe(s, d, opqRotIndex(s, d), queryRelation(s, d), k, candidates)

  /** Store the OPQ-R index: codes + codebooks (the PQ layout) plus R
    * as a (r, vals) table — trained state, the perm-table class.
    */
  def writeOpqRotIndex(s: SparkSession, d: String, outDir: String): Unit = {
    import s.implicits._
    val idx = opqRotIndex(s, d)
    idx.pq.codes.write.mode("overwrite").parquet(s"$outDir/codes")
    writeCodebooks(s, idx.pq.codebooks, s"$outDir/codebooks")
    idx.rot.zipWithIndex.toSeq.map { case (row, r) => (r, row.toSeq) }
      .toDF("r", "vals").coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/rot")
  }

  /** Read a stored OPQ-R index; a rot table that is not a Dim×Dim
    * orthogonal matrix fails loudly (the perm-bijection discipline).
    */
  def readOpqRotIndex(s: SparkSession, indexDir: String): OpqRotIndex = {
    import s.implicits._
    val dim = Similarity.Dim
    val rows = s.read.parquet(s"$indexDir/rot")
      .select($"r", $"vals").as[(Int, Seq[Double])].collect()
    require(rows.length == dim && rows.forall(_._2.length == dim),
      s"opq rot table under $indexDir is not $dim x $dim")
    val rot = new Array[Array[Double]](dim)
    rows.foreach { case (r, vals) => rot(r) = vals.toArray }
    var worst = 0.0
    var a = 0
    while (a < dim) {
      var b = 0
      while (b < dim) {
        var acc = 0.0; var i = 0
        while (i < dim) { acc += rot(a)(i) * rot(b)(i); i += 1 }
        worst = math.max(worst,
          math.abs(acc - (if (a == b) 1.0 else 0.0)))
        b += 1
      }
      a += 1
    }
    require(worst < 1e-6,
      s"opq rot table under $indexDir is not orthogonal (dev $worst)")
    OpqRotIndex(rot, readPqIndex(s, indexDir))
  }

  /** Probe a STORED OPQ-R index with the declared query set. */
  def topkOpqRotStored(s: SparkSession, d: String, indexDir: String,
      k: Int = Similarity.TopK,
      candidates: Int = PqCandidates): DataFrame =
    topkOpqRotStoredFor(s, queryRelation(s, d), d, indexDir, k, candidates)

  /** [[appendToPqIndex]] for the OPQ layout: the batch is PERMUTED
    * with the index's recorded permutation, then encoded through the
    * same frozen-codebook argmin kernel — appended vectors get
    * exactly the codes a rebuild with this trained state would give.
    */
  def appendToOpqIndex(s: SparkSession, indexDir: String,
      batch: DataFrame): Unit = {
    import s.implicits._
    val idx = readOpqIndex(s, indexDir)
    val cb = idx.pq.codebooks
    val enc = udf { (emb: Seq[Float]) =>
      val v = emb.toArray
      Array.tabulate(cb.length)(sub => nearestCode(v, sub * SubDim, cb(sub)))
    }
    batch
      .select($"vec_id", permutedCol(idx.perm, $"embedding").as("embedding"))
      .select($"vec_id", enc($"embedding").as("codes"))
      .write.mode("append").parquet(s"$indexDir/codes")
  }

  /** [[appendToOpqIndex]] for the full-rotation layout: the batch is
    * rotated with the index's recorded R (same float-rounding the
    * build used), then frozen-codebook encoded.
    */
  def appendToOpqRotIndex(s: SparkSession, indexDir: String,
      batch: DataFrame): Unit = {
    import s.implicits._
    val idx = readOpqRotIndex(s, indexDir)
    val cb = idx.pq.codebooks
    val enc = udf { (emb: Seq[Float]) =>
      val v = emb.toArray
      Array.tabulate(cb.length)(sub => nearestCode(v, sub * SubDim, cb(sub)))
    }
    batch
      .select($"vec_id", rotatedCol(idx.rot, $"embedding").as("embedding"))
      .select($"vec_id", enc($"embedding").as("codes"))
      .write.mode("append").parquet(s"$indexDir/codes")
  }

  /** The stored-OPQ-R probe for an ARBITRARY query relation in
    * ORIGINAL coordinates (q_id, q_emb, q_nrm) — the serving entry
    * point (the topkOpqStoredFor convention): queries are rotated with
    * the INDEX's recorded R (the planes-sidecar discipline).
    */
  def topkOpqRotStoredFor(s: SparkSession, queries: DataFrame, d: String,
      indexDir: String, k: Int = Similarity.TopK,
      candidates: Int = PqCandidates): DataFrame =
    opqRotProbe(s, d, readOpqRotIndex(s, indexDir), queries, k, candidates)

  /** ADC (asymmetric distance computation) coarse score: the query
    * stays full-precision, the corpus vector is its reconstruction
    * Σ_sub dot(q_sub, codeword[sub][code_sub]) — subspaces summed
    * left-to-right, each inner dot left-to-right, so the unrounded
    * double is bit-identical in DuckDB and the coarse ORDER BY is
    * engine-independent (the sim_ann_proj precedent). Deployment form
    * precomputes the per-query LUT[sub][code] (k×Dim mults amortized
    * over the corpus, 8 lookups/row); the row kernel here evaluates
    * the same sum directly — identical values, and the scan-bytes win
    * (codes, not vectors, cross memory) is the structural point.
    */
  private def adcScore(cb: Array[Array[Array[Float]]])(
      q: org.apache.spark.sql.Column,
      codes: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.PqAdc(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(q),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(codes), cb))

  /** The query set (every QueryStride'th vector with its norm) — the
    * shared head of both coarse-to-fine queries here.
    */
  private[graft] def queryRelation(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions
    Tables.embeddings(s, d)
      .filter($"vec_id" % Similarity.QueryStride === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
        VectorFunctions.norm($"embedding").as("q_nrm"))
  }

  /** ADC top-C per query over `scored` (q_id, n_id, adc) rows, then
    * the exact full-width rounded-cosine re-rank — the ONE place the
    * coarse-to-fine tail lives, shared by [[topkPq]] and [[topkIvfPq]]
    * so a contract change (rounding, tie-break, k) cannot fork them.
    */
  private[operators] def rerankTail(s: SparkSession, d: String,
      scored: DataFrame, candidates: Int, k: Int,
      queries: DataFrame): DataFrame = {
    import s.implicits._
    // winnow the ADC stream per partition before the rank window
    // (Similarity.winnowTopPerKey: output-invariant, kills the full
    // shuffle+sort of every scored row)
    val coarse = Similarity.winnowTopPerKey(
        scored.select($"q_id", $"n_id", $"adc"), candidates)
      .withColumn("crank", row_number().over(
        Window.partitionBy($"q_id").orderBy($"adc".desc, $"n_id".asc)))
      .filter($"crank" <= candidates)
      .select($"q_id", $"n_id")
    fineRerank(s, d, coarse, k, queries)
  }

  /** The exact full-width re-rank of a coarse candidate set — shared
    * by both coarse front-ends (the ADC join winnow above and the LUT
    * scan in [[pqProbe]]) so the contract (rounding, tie-break, k)
    * cannot fork. `queries` is the (q_id, q_emb, q_nrm) relation the
    * coarse set was probed for: the declared [[queryRelation]] or a
    * serving entry point's own (the topkLshStoredFor convention).
    */
  private[graft] def fineRerank(s: SparkSession, d: String, coarse: DataFrame,
      k: Int, queries: DataFrame): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions
    val full = Tables.embeddings(s, d)
      .select($"vec_id".as("n_id"), $"embedding",
        VectorFunctions.norm($"embedding").as("nrm"))
    coarse
      .join(full, Seq("n_id"))
      .join(broadcast(queries.select($"q_id", $"q_emb", $"q_nrm")),
        Seq("q_id"))
      .select($"q_id", $"n_id",
        round(VectorFunctions.cosineFrom(
          VectorFunctions.dot($"q_emb", $"embedding"), $"q_nrm", $"nrm"),
          4).as("cos_sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"q_id").orderBy($"cos_sim".desc, $"n_id".asc)))
      .filter($"rank" <= k)
      .select($"q_id", $"n_id", $"cos_sim", $"rank".cast("int").as("rank"))
  }

  /** Coarse-to-fine PQ ANN: ADC over the codes relation picks top-C
    * candidates per query; the exact full-width rounded cosine
    * re-ranks them (same output contract as every sim_ann_*).
    */
  def topkPq(s: SparkSession, d: String, k: Int = Similarity.TopK,
      candidates: Int = PqCandidates,
      codewords: Int = PqCodewords): DataFrame = {
    val q = queryRelation(s, d)
    pqProbe(s, d, pqIndex(s, d, codewords), k, candidates, q, q)
  }

  /** The PQ probe against a GIVEN index — shared by the session-cached
    * path ([[topkPq]]) and the stored path ([[topkPqStored]]) so the
    * two can never drift (the lshProbe/ivfProbe convention).
    */
  private def pqProbe(s: SparkSession, d: String, idx: PqIndex, k: Int,
      candidates: Int, queries: DataFrame,
      rerankQueries: DataFrame): DataFrame = {
    // `queries` feeds the coarse LUTs (codebook space — PERMUTED for
    // OPQ); the exact re-rank dots ORIGINAL coordinates, so a caller
    // probing in a transformed space passes the untransformed relation
    // as `rerankQueries` (for raw PQ the two coincide)
    import s.implicits._
    // The FAISS ADC trick done relationally: per query, the dot of
    // its sub-slices against every codeword is precomputed ONCE into
    // a lookup table (|Q| × subspaces × codewords doubles —
    // driver-bounded), and the whole-corpus scan then scores each
    // codes row with subspaces ADDS per query instead of subspaces ×
    // subDim multiplies — and instead of a broadcast nested-loop
    // join materializing |Q|·n joined rows for the old per-pair ADC
    // expression. LUT entries are the SAME left-to-right per-subspace
    // partial dots the PqAdc kernel computed, summed in the same
    // subspace order, so scores are bit-identical; per-partition
    // TopBuf winnowing under the rank window's exact comparator keeps
    // the output invariant (the coarseScanTopC argument).
    val qRows = queries.select($"q_id", $"q_emb")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val cb = idx.codebooks
    val luts: Array[Array[Array[Double]]] = qRows.map { case (_, q) =>
      var off = 0
      cb.map { sub =>
        val row = sub.map { cw =>
          var partial = 0.0
          var i = 0
          while (i < cw.length) {
            if (off + i < q.length)
              partial += q(off + i).toDouble * cw(i).toDouble
            i += 1
          }
          partial
        }
        off += sub(0).length
        row
      }
    }
    val qIds = qRows.map(_._1)
    val bc = s.sparkContext.broadcast((qIds, luts))
    val n = Similarity.rowCount(s, Tables.embeddings(s, d))
    val src = Similarity.widenIfStarved(s, idx.codes,
      qIds.length.toDouble * n * cb.length, $"vec_id",
      Tables.embeddings(s, d))
    val coarse = src.select($"vec_id", $"codes")
      .as[(Long, Array[Int])].mapPartitions { it =>
        val (ids, tabs) = bc.value
        val bufs = Array.fill(ids.length)(new Similarity.TopBuf(candidates))
        val nSub = tabs.headOption.map(_.length).getOrElse(0)
        it.foreach { case (vid, codes) =>
          // loud on malformed rows, matching the replaced PqKernels.adc
          // require: a silently skipped codes row would shrink the
          // candidate set without any signal that the index is corrupt
          require(codes != null && codes.length >= nSub,
            s"pq scan: codes row for vec_id=$vid has " +
              s"${if (codes == null) "null" else codes.length.toString} " +
              s"codes, need $nSub")
          var qi = 0
          while (qi < ids.length) {
            if (ids(qi) != vid) {
              val lut = tabs(qi)
              var total = 0.0
              var sub = 0
              while (sub < lut.length) {
                total += lut(sub)(codes(sub))
                sub += 1
              }
              bufs(qi).insert(total, vid)
            }
            qi += 1
          }
        }
        val out = Vector.newBuilder[(Long, Long, Double)]
        var qi = 0
        while (qi < ids.length) {
          bufs(qi).foreach((sc, id) => out += ((ids(qi), id, sc)))
          qi += 1
        }
        out.result().iterator
      }.toDF("q_id", "n_id", "adc")
      .withColumn("crank", row_number().over(
        Window.partitionBy($"q_id").orderBy($"adc".desc, $"n_id".asc)))
      .filter($"crank" <= candidates)
      .select($"q_id", $"n_id")
    fineRerank(s, d, coarse, k, rerankQueries)
  }

  /** IVF-PQ composition — the FAISS deployment shape: the IVF coarse
    * quantizer bounds WHICH vectors are scored (only the query's
    * probed cells; the shared occupancy-aware probe policy), the PQ
    * codes bound the BYTES each scored one costs (the candidate join
    * ships (vec_id, cell) plus 8 codes — the 256-byte vectors never
    * enter the coarse pass), and full-precision vectors page in only
    * for the exact re-rank of the ADC top-C. At 10⁹ vectors this is
    * the stored shape: a codes table partitioned by cell.
    */
  def topkIvfPq(s: SparkSession, d: String, k: Int = Similarity.TopK,
      candidates: Int = PqCandidates): DataFrame =
    ivfPqProbe(s, d, Similarity.ivfIndex(s, d), pqIndex(s, d), k, candidates,
      queryRelation(s, d))

  /** The composed probe against GIVEN indexes — shared by the
    * session-cached path ([[topkIvfPq]]) and the stored-index path
    * ([[topkIvfPqStoredFor]], the actual FAISS deployment shape: both
    * index halves written by one build job, read + composed by any
    * later query job).
    */
  private def ivfPqProbe(s: SparkSession, d: String,
      ivf: Similarity.IvfIndex, pq: PqIndex, k: Int,
      candidates: Int, queries: DataFrame): DataFrame = {
    import s.implicits._
    val np = Similarity.defaultNProbe(ivf.cents.length, ivf.cellCounts)
    val adc = adcScore(pq.codebooks) _
    val qCells = queries.select($"q_id", $"q_emb",
      explode(Similarity.nearestCellsCol(ivf.cents, np)($"q_emb")).as("cell"))
    // the stored IVF-PQ relation: cell + codes, no vectors
    val members = ivf.assigned.select($"vec_id", $"cell")
      .join(pq.codes, Seq("vec_id"))
    // single assignment ⇒ a vector reaches a query through at most one
    // probed cell — no candidate dedup exchange (the sim_ann_ivf plan
    // property)
    val scored = broadcast(qCells)
      .join(members, Seq("cell"))
      .filter($"q_id" =!= $"vec_id")
      .select($"q_id", $"vec_id".as("n_id"), adc($"q_emb", $"codes").as("adc"))
    rerankTail(s, d, scored, candidates, k, queries)
  }

  /** Per-cell L2 means of the RAW member vectors — the residual
    * family's reconstruction centroids. The IVF centroids themselves
    * are SPHERICAL (means of unit-normalized vectors, cosine-assigned:
    * they minimize angular error, not L2 error to the raw x), and
    * residuals against them measured WORSE than raw PQ on the fixture
    * (MSE 0.67 vs 0.55 — the norm spread lands in the residual plus a
    * scale mismatch). The L2 cell mean minimizes within-cell ‖x−m‖²
    * by definition, so the residual the PQ must encode carries only
    * the within-cell variance. Computed deterministically: each cell
    * hash-partitions wholly into one partition, members accumulate in
    * (cell, id)-sorted order — bit-reproducible across runs, the
    * deterministicSampleRdd discipline. Bounded k×Dim driver state,
    * same class as the centroid matrix; the one corpus-sized shuffle
    * is a build cost of the same class as the IVF assignment pass.
    * Empty cells get the zero vector (they have no members to encode
    * and contribute dot 0 if probed).
    */
  private[operators] def cellMeans(s: SparkSession, d: String,
      ivf: Similarity.IvfIndex): Array[Array[Double]] = {
    import s.implicits._
    val k = ivf.cents.length
    val joined = Tables.embeddings(s, d)
      .join(ivf.assigned.select($"vec_id", $"cell"), Seq("vec_id"))
      .select($"cell", $"vec_id", $"embedding")
      .as[(Long, Long, Array[Float])]
    val parts = s.sparkContext.defaultParallelism
    val partials = joined.rdd
      .map { case (cell, id, v) => (cell, (id, v)) }
      .partitionBy(new org.apache.spark.HashPartitioner(parts))
      .mapPartitions { it =>
        val rows = it.toArray.sortBy { case (cell, (id, _)) => (cell, id) }
        val acc = scala.collection.mutable.LinkedHashMap
          .empty[Long, (Array[Double], Long)]
        rows.foreach { case (cell, (_, v)) =>
          val (sum, cnt) = acc.getOrElseUpdate(cell,
            (new Array[Double](Similarity.Dim), 0L))
          var i = 0
          while (i < Similarity.Dim) {
            sum(i) += (if (v != null && i < v.length) v(i).toDouble else 0.0)
            i += 1
          }
          acc(cell) = (sum, cnt + 1)
        }
        acc.iterator.map { case (cell, (sum, cnt)) => (cell, sum, cnt) }
      }.collect()
    val means = Array.fill(k)(new Array[Double](Similarity.Dim))
    // disjoint cells across partitions (hash partitioner on the cell),
    // so this is a plain scatter, not an order-sensitive reduce
    partials.foreach { case (cell, sum, cnt) =>
      means(cell.toInt) = sum.map(_ / cnt)
    }
    means
  }

  /** The reconstruction means as a bounded (cell, mvec) relation —
    * k ≤ 4096 rows, broadcast at every use; the join form keeps the
    * residual subtraction and the per-cell query dot inside the
    * executors.
    */
  private def meansDf(s: SparkSession,
      means: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    means.zipWithIndex.toSeq.map { case (v, cell) => (cell.toLong, v.toSeq) }
      .toDF("cell", "mvec")
  }

  /** A residual IVF-PQ index: PQ codebooks trained on RESIDUALS
    * (x − mean[assigned cell]) instead of raw vectors — the
    * FAISS-default `IVFx,PQy` encoding (Jégou §IV-B: quantize the
    * coarse quantizer's error, whose energy is a fraction of the
    * vector's, so the same code budget buys much finer resolution).
    * The reconstruction anchor is the per-cell L2 mean of the raw
    * members ([[cellMeans]]), not the spherical IVF centroid — see
    * that method's note for the measured reason. The codes relation
    * carries the cell so the stored layout is the deployment shape: a
    * cell-partitioned codes table; reconstruction is mean[cell] +
    * codebook[sub][code], so the ADC score decomposes as
    * dot(q, mean) — one term per (query, probed cell) — plus the
    * residual LUT sum per row.
    */
  final case class ResPqIndex(means: Array[Array[Double]],
      codebooks: Array[Array[Array[Float]]], codes: DataFrame)

  private val resCache = new SessionCache[ResPqIndex](idx =>
    scala.util.Try(idx.codes.unpersist(blocking = false)))

  /** Build (or fetch the session-cached) residual index for corpus
    * `d`. Training sees FLOAT-rounded residuals (so both trainer
    * branches reuse [[trainCodebooksOn]] verbatim — trained state
    * need only be deterministic, not SQL-restated); ENCODING computes
    * the residual in double (bit-matching the oracle's
    * COALESCE(emb[i],0) − cv[cell][i]). The sample is always the
    * hash-ordered prefix: the residual relation is a JOIN, whose
    * collect order — unlike the bare parquet scan trainCodebooks
    * leans on below the cap — is not stable across runs.
    */
  def resPqIndex(s: SparkSession, d: String,
      codewords: Int = PqCodewords): ResPqIndex =
    resCache.getOrBuild(s, s"$codewords#$d") {
      import s.implicits._
      val ivf = Similarity.ivfIndex(s, d)
      val means = cellMeans(s, d, ivf)
      val mdf = meansDf(s, means)
      val resRel = Tables.embeddings(s, d)
        .join(ivf.assigned.select($"vec_id", $"cell"), Seq("vec_id"))
        .join(broadcast(mdf), Seq("cell"))
      val resF = udf { (emb: Seq[Float], mvec: Seq[Double]) =>
        Array.tabulate(Similarity.Dim) { i =>
          ((if (emb != null && i < emb.length) emb(i).toDouble else 0.0)
            - mvec(i)).toFloat
        }
      }
      val n = Similarity.rowCount(s, Tables.embeddings(s, d))
      val cap = Similarity.IvfSampleCap
      val sampleDs = resRel
        .select($"vec_id", resF($"embedding", $"mvec").as("res"))
        .orderBy(xxhash64($"vec_id"), $"vec_id")
        .limit(cap)
        .select($"vec_id", $"res").as[(Long, Array[Float])]
      val cb = trainCodebooksOn(s, sampleDs, math.min(n, cap.toLong),
        Similarity.DriverTrainFlopsCap, codewords)
      val codes = resRel
        .select($"vec_id", $"cell",
          resEncodeUdf(cb)($"embedding", $"mvec").as("codes"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ResPqIndex(means, cb, codes)
    }

  /** The residual encode kernel — ONE body for the build and the
    * frozen-quantizer append ([[appendToResPqIndex]]), the encodeWith
    * convention: double-precision residual against the cell's
    * reconstruction mean, argmin-L2 against the given codebooks.
    */
  private def resEncodeUdf(cb: Array[Array[Array[Float]]]):
      org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (emb: Seq[Float], mvec: Seq[Double]) =>
      val r = Array.tabulate(Similarity.Dim) { i =>
        (if (emb != null && i < emb.length) emb(i).toDouble else 0.0) -
          mvec(i)
      }
      Array.tabulate(cb.length)(sub => nearestCodeD(r, sub * SubDim, cb(sub)))
    }

  /** Residual IVF-PQ probe: probed cells bound WHICH rows are scored
    * (the shared occupancy-aware policy), residual codes bound what
    * each costs, and the coarse score is exactly
    * dot(q, mean[cell]) + Σ_sub LUT[sub][code] — the reconstruction-
    * mean dot computed ONCE per (query, probed cell) on the
    * |Q|·nprobe-row broadcast side, never per candidate. Tail is the
    * shared [[rerankTail]], so the output contract cannot fork from
    * the other PQ probes.
    */
  def topkIvfPqRes(s: SparkSession, d: String, k: Int = Similarity.TopK,
      candidates: Int = PqCandidates): DataFrame =
    resProbe(s, d, Similarity.ivfIndex(s, d), resPqIndex(s, d), k, candidates,
      queryRelation(s, d))

  private def resProbe(s: SparkSession, d: String,
      ivf: Similarity.IvfIndex, idx: ResPqIndex, k: Int,
      candidates: Int, queries: DataFrame): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions
    val np = Similarity.defaultNProbe(ivf.cents.length, ivf.cellCounts)
    val adc = adcScore(idx.codebooks) _
    val qCells = queries
      .select($"q_id", $"q_emb",
        explode(Similarity.nearestCellsCol(ivf.cents, np)($"q_emb")).as("cell"))
      .join(broadcast(meansDf(s, idx.means)), Seq("cell"))
      .select($"q_id", $"q_emb", $"cell",
        VectorFunctions.dot($"q_emb".cast("array<double>"), $"mvec").as("cdot"))
    // single assignment ⇒ no candidate dedup exchange (the
    // sim_ann_ivf plan property), same as the raw IVF-PQ probe
    val scored = broadcast(qCells)
      .join(idx.codes, Seq("cell"))
      .filter($"q_id" =!= $"vec_id")
      .select($"q_id", $"vec_id".as("n_id"),
        ($"cdot" + adc($"q_emb", $"codes")).as("adc"))
    rerankTail(s, d, scored, candidates, k, queries)
  }

  /** Serving entry points (the topkLshStoredFor convention): probe a
    * stored composition with an ARBITRARY (q_id, q_emb, q_nrm) query
    * relation — the declared [[queryRelation]], or a streaming
    * micro-batch of live queries ([[graft.streaming.MicroBatch.start]]
    * over this kernel). `d` stays the corpus the exact re-rank pages
    * full vectors from.
    */
  def topkIvfPqStoredFor(s: SparkSession, queries: DataFrame, d: String,
      ivfDir: String, pqDir: String, k: Int = Similarity.TopK,
      candidates: Int = PqCandidates): DataFrame =
    ivfPqProbe(s, d, Similarity.readIvfIndex(s, ivfDir),
      readPqIndex(s, pqDir), k, candidates, queries)

  /** [[topkIvfPqStoredFor]] for the residual composition. */
  def topkIvfPqResStoredFor(s: SparkSession, queries: DataFrame, d: String,
      ivfDir: String, resDir: String, k: Int = Similarity.TopK,
      candidates: Int = PqCandidates): DataFrame =
    resProbe(s, d, Similarity.readIvfIndex(s, ivfDir),
      readResPqIndex(s, resDir), k, candidates, queries)

  /** Write the built PQ index — the stored-index half of the
    * build-once contract (see Similarity.writeIvfIndex): the codes
    * relation (the index body — 8 small ints per vector, the 32×
    * compression that IS the point of PQ) plus the trained codebooks
    * flattened to (sub, code, vector) rows (bounded:
    * [[PqSubvectors]]×[[PqCodewords]]).
    */
  def writePqIndex(s: SparkSession, d: String, outDir: String,
      codewords: Int = PqCodewords): Unit = {
    val idx = pqIndex(s, d, codewords)
    idx.codes.write.mode("overwrite").parquet(s"$outDir/codes")
    writeCodebooks(s, idx.codebooks, s"$outDir/codebooks")
  }

  /** The trained codebooks flattened to (sub, code, vector) rows —
    * bounded: subspaces × codewords. Shared by the raw and residual
    * stored layouts.
    */
  private def writeCodebooks(s: SparkSession,
      cb: Array[Array[Array[Float]]], path: String): Unit = {
    import s.implicits._
    cb.zipWithIndex.toSeq
      .flatMap { case (sub, si) => sub.zipWithIndex.map { case (v, code) =>
        (si, code, v.toSeq) } }
      .toDF("sub", "code", "vector")
      .write.mode("overwrite").parquet(path)
  }

  /** Read a stored codebooks table back into the [sub][code][SubDim]
    * tensor; dimensions come from the DATA (the readPqIndex contract —
    * any codeword width round-trips, sparse tables fail loudly).
    */
  private def readCodebooks(s: SparkSession,
      path: String): Array[Array[Array[Float]]] = {
    import s.implicits._
    val flat = s.read.parquet(path)
      .select($"sub", $"code", $"vector")
      .as[(Int, Int, Seq[Float])].collect()
    require(flat.nonEmpty, s"empty PQ codebooks table under $path")
    val nSub = flat.map(_._1).max + 1
    val nCode = flat.map(_._2).max + 1
    require(flat.length == nSub * nCode,
      s"sparse PQ codebooks table under $path: " +
        s"${flat.length} rows for $nSub x $nCode")
    val cb = Array.fill(nSub, nCode)(Array.empty[Float])
    flat.foreach { case (sub, code, v) => cb(sub)(code) = v.toArray }
    cb
  }

  /** Read a stored PQ index back into the probe-side shape. The
    * codebook dimensions come from the DATA (max sub/code + 1), not
    * from the compiled-in constants, so an index stored at any
    * codeword width (the 256/8-bit production shape included) round-
    * trips; a sparse/corrupt codebooks table fails loudly instead of
    * silently ADC-scoring against empty codewords.
    */
  def readPqIndex(s: SparkSession, indexDir: String): PqIndex =
    PqIndex(readCodebooks(s, s"$indexDir/codebooks"),
      Similarity.minusTombstones(s, indexDir,
        s.read.parquet(s"$indexDir/codes")))

  /** Probe a STORED PQ index (written by [[writePqIndex]]) through the
    * same probe core as the session-cached path.
    */
  def topkPqStored(s: SparkSession, d: String, indexDir: String,
      k: Int = Similarity.TopK, candidates: Int = PqCandidates): DataFrame = {
    val q = queryRelation(s, d)
    pqProbe(s, d, readPqIndex(s, indexDir), k, candidates, q, q)
  }

  /** Append NEW vectors' codes to a STORED PQ index WITHOUT
    * retraining — the appendToIvfIndex convention for the compressed
    * family: only the bounded codebooks table is read back (never the
    * stored codes), the batch encodes through the SAME argmin-L2
    * kernel the build used against those FROZEN codewords, so an
    * appended vector lands on exactly the codes a full rebuild with
    * these codebooks would give it (retraining is a new index
    * VERSION). Single-writer, disjoint ids, compaction/rebuild as
    * defrag — the shared append conventions.
    */
  def appendToPqIndex(s: SparkSession, indexDir: String,
      batch: DataFrame): Unit = {
    import s.implicits._
    val cb = readPqIndex(s, indexDir).codebooks
    val enc = udf { (emb: Seq[Float]) =>
      val v = emb.toArray
      Array.tabulate(cb.length)(sub => nearestCode(v, sub * SubDim, cb(sub)))
    }
    batch.select($"vec_id", enc($"embedding").as("codes"))
      .write.mode("append").parquet(s"$indexDir/codes")
  }

  /** Write the residual index — the stored layout is the deployment
    * shape: cell-carrying codes (reconstruction needs mean[cell] +
    * codeword), the residual codebooks, and the per-cell
    * reconstruction means (k × Dim doubles — trained state, same
    * class as the IVF centroid matrix).
    */
  def writeResPqIndex(s: SparkSession, d: String, outDir: String,
      codewords: Int = PqCodewords): Unit = {
    import s.implicits._
    val idx = resPqIndex(s, d, codewords)
    idx.codes.write.mode("overwrite").parquet(s"$outDir/codes")
    writeCodebooks(s, idx.codebooks, s"$outDir/codebooks")
    idx.means.zipWithIndex.toSeq
      .map { case (v, cell) => (cell.toLong, v.toSeq) }
      .toDF("cell", "mvec")
      .write.mode("overwrite").parquet(s"$outDir/means")
  }

  /** Read a stored residual index back into the probe-side shape; a
    * sparse means table fails loudly (every cell 0..k−1 must be
    * present — empty cells were written as zero vectors).
    */
  def readResPqIndex(s: SparkSession, indexDir: String): ResPqIndex = {
    import s.implicits._
    val rows = s.read.parquet(s"$indexDir/means")
      .select($"cell", $"mvec").as[(Long, Seq[Double])].collect()
    require(rows.nonEmpty, s"empty means table under $indexDir")
    val k = rows.map(_._1).max.toInt + 1
    require(rows.length == k,
      s"sparse means table under $indexDir: ${rows.length} rows for $k cells")
    val means = new Array[Array[Double]](k)
    rows.foreach { case (cell, v) => means(cell.toInt) = v.toArray }
    ResPqIndex(means, readCodebooks(s, s"$indexDir/codebooks"),
      Similarity.minusTombstones(s, indexDir,
        s.read.parquet(s"$indexDir/codes")))
  }

  /** Append NEW vectors to a STORED residual index WITHOUT
    * retraining: the batch assigns to the FROZEN coarse quantizer
    * (the stored IVF centroids — same single-assignment kernel the
    * build's cells came from), subtracts the FROZEN cell means, and
    * encodes through the same argmin-L2 body the build used
    * ([[resEncodeUdf]]) — so an appended vector lands on exactly the
    * codes a full rebuild with this quantizer state would give it.
    * Only the bounded means/codebooks tables are read back, never the
    * stored codes. Single-writer, disjoint ids, retrain = new index
    * version — the shared append conventions.
    */
  def appendToResPqIndex(s: SparkSession, ivfDir: String, resDir: String,
      batch: DataFrame): Unit = {
    import s.implicits._
    val ivf = Similarity.readIvfIndex(s, ivfDir)
    val idx = readResPqIndex(s, resDir)
    batch
      .select($"vec_id", $"embedding",
        Similarity.nearestCellsCol(ivf.cents, 1)($"embedding")
          .getItem(0).as("cell"))
      .join(broadcast(meansDf(s, idx.means)), Seq("cell"))
      .select($"vec_id", $"cell",
        resEncodeUdf(idx.codebooks)($"embedding", $"mvec").as("codes"))
      .write.mode("append").parquet(s"$resDir/codes")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the codes relation as exploded scalar rows (the proj_build
    // pattern: the driver compare can't hash a raw array column)
    "pq_build" -> { (s, d) =>
      import s.implicits._
      pqIndex(s, d).codes
        .select($"vec_id", posexplode($"codes").as(Seq("sub", "code")))
        .select($"vec_id", $"sub".cast("int").as("sub"),
          $"code".cast("int").as("code"))
    },
    "sim_ann_pq" -> ((s, d) => topkPq(s, d)),
    // OPQ-P build: the permuted codes relation, exploded like
    // pq_build. The permutation itself is trained state, rendered as
    // a literal in the dynamic oracle (the codebook convention); the
    // codes are recomputed independently by DuckDB from it.
    "opq_build" -> { (s, d) =>
      import s.implicits._
      opqIndex(s, d).pq.codes
        .select($"vec_id", posexplode($"codes").as(Seq("sub", "code")))
        .select($"vec_id", $"sub".cast("int").as("sub"),
          $"code".cast("int").as("code"))
    },
    "sim_ann_opq" -> ((s, d) => topkOpq(s, d)),
    // The STORED-path form (the sim_ann_pq_stored convention): write
    // codes + codebooks + permutation, read back, probe with the
    // INDEX's recorded permutation. Same answer as sim_ann_opq by
    // construction, so it shares that oracle verbatim.
    "sim_ann_opq_stored" -> { (s, d) =>
      val dir = Similarity.storedQueryDir("opq", d)
      writeOpqIndex(s, d, dir)
      topkOpqStored(s, d, dir)
    },
    // OPQ-R build: the rotated-space codes, exploded like opq_build.
    // R is trained state (Procrustes alternation over the bounded
    // sample), rendered as a 64×64 double literal in the dynamic
    // oracle; DuckDB recomputes the rotation, the float rounding, and
    // the argmin codes independently from it.
    "opq_rot_build" -> { (s, d) =>
      import s.implicits._
      opqRotIndex(s, d).pq.codes
        .select($"vec_id", posexplode($"codes").as(Seq("sub", "code")))
        .select($"vec_id", $"sub".cast("int").as("sub"),
          $"code".cast("int").as("code"))
    },
    "sim_ann_opq_rot" -> ((s, d) => topkOpqRot(s, d)),
    // stored round trip: write codes + codebooks + R, read back,
    // probe with the INDEX's recorded R. Same answer by construction,
    // shares the oracle verbatim.
    "sim_ann_opq_rot_stored" -> { (s, d) =>
      val dir = Similarity.storedQueryDir("opqrot", d)
      writeOpqRotIndex(s, d, dir)
      topkOpqRotStored(s, d, dir)
    },
    // The STORED-path form of sim_ann_pq (the sim_ann_ivf_stored
    // pattern): write codes + codebooks, read them back, ADC-probe —
    // the compressed-index lifecycle (store 8 bytes/vector, probe
    // later) under the oracle gate. Same answer as sim_ann_pq by
    // construction (parquet round-trips the float codebooks exactly),
    // so it shares that oracle verbatim.
    "sim_ann_pq_stored" -> { (s, d) =>
      val dir = Similarity.storedQueryDir("pq", d)
      writePqIndex(s, d, dir)
      topkPqStored(s, d, dir)
    },
    "sim_ann_ivfpq" -> ((s, d) => topkIvfPq(s, d)),
    // the residual codes relation, exploded like pq_build, with the
    // cell column (it is part of the stored layout: reconstruction
    // needs centroid[cell] + codeword) — the encode pass gets its own
    // oracle row instead of being verified only through the probe
    "pq_res_build" -> { (s, d) =>
      import s.implicits._
      resPqIndex(s, d).codes
        .select($"vec_id", $"cell", posexplode($"codes").as(Seq("sub", "code")))
        .select($"vec_id", $"cell", $"sub".cast("int").as("sub"),
          $"code".cast("int").as("code"))
    },
    "sim_ann_ivfpq_res" -> ((s, d) => topkIvfPqRes(s, d)))

  // static oracles: none — both queries embed TRAINED state and are
  // rendered at Verify time (dynamicOracles below)
  val oracles: Map[String, String] = Map.empty

  /** The trained codebooks as a DuckDB literal [sub][code][SubDim]
    * (float components are exactly representable as doubles, the
    * centroid-literal precedent).
    */
  def codebookSql(s: SparkSession, d: String): String =
    renderCodebooks(pqIndex(s, d).codebooks)

  private def renderCodebooks(cb: Array[Array[Array[Float]]]): String =
    cb.map(_.map(_.map(_.toDouble.toString).mkString("[", ", ", "]"))
        .mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")

  /** Verify-time oracles: DuckDB independently recomputes the argmin-L2
    * code assignment, the ADC coarse ranking, and the exact re-rank
    * from the codebook literals — only the trained VALUES come from the
    * Spark side (the IVF dynamic-oracle contract). The corpus is the
    * fixed 64-dim embeddings table (the emb_centroids dim contract), so
    * the oracle indexes subvectors directly.
    */
  /** Shared oracle CTE text: `pqm` (codebook literal), `dists`
    * (argmin-L2 inputs — (x−c)² summed left-to-right; literal
    * multiplication, not POWER, to keep the double arithmetic
    * identical), `codes` (lowest-code-on-tie argmin), `codesarr`
    * (per-vector code arrays). The `pqm` name is clash-free with the
    * IVF CTEs' `m` so the IVF-PQ composition can concatenate both.
    */
  private[operators] def pqOracleCtes(s: SparkSession, d: String): String = {
    val cb = codebookSql(s, d)
    // COALESCE(..., 0.0) pins the short-vector case to the kernel's
    // zero-pad contract: an out-of-range list index is NULL in DuckDB
    // and would silently vanish from list_sum, diverging the argmin
    val dist =
      s"""list_sum(list_transform(generate_series(1, $SubDim),
          i -> (COALESCE(e.embedding[(g.s - 1) * $SubDim + i]::DOUBLE, 0.0) - pqm.cb[g.s][c.c][i])
             * (COALESCE(e.embedding[(g.s - 1) * $SubDim + i]::DOUBLE, 0.0) - pqm.cb[g.s][c.c][i])))"""
    s"""pqm AS (SELECT $cb AS cb),
        dists AS (
          SELECT e.vec_id, g.s, c.c, $dist AS dist
          FROM embeddings e, pqm,
            generate_series(1, $PqSubvectors) AS g(s),
            generate_series(1, $PqCodewords) AS c(c)),
        codes AS (
          SELECT vec_id, s, CAST(c - 1 AS INT) AS code FROM (
            SELECT vec_id, s, c, ROW_NUMBER() OVER (
              PARTITION BY vec_id, s ORDER BY dist ASC, c ASC) AS rn
            FROM dists)
          WHERE rn = 1),
        codesarr AS (
          SELECT vec_id, list(code ORDER BY s) AS codes
          FROM codes GROUP BY vec_id)"""
  }

  /** The ADC reconstruction-dot SQL for query alias `q` against a
    * codesarr alias `x` — subspace partial dots summed in subspace
    * order, each inner dot left-to-right (the kernel's exact grouping).
    */
  private[operators] def sqlAdc(q: String, x: String): String =
    sqlAdcOn(q, x, "pqm")

  /** [[sqlAdc]] against an arbitrary codebook CTE alias — shared by
    * the raw (`pqm`) and residual (`rpqm`) oracle families.
    */
  private[operators] def sqlAdcOn(q: String, x: String, cb: String): String =
    s"""list_sum(list_transform(generate_series(1, $PqSubvectors), s ->
        list_sum(list_transform(generate_series(1, $SubDim), i ->
          COALESCE($q.embedding[(s - 1) * $SubDim + i]::DOUBLE, 0.0) *
          $cb.cb[s][$x.codes[s] + 1][i]))))"""

  /** The shared SQL tail after an `adc(q_id, n_id, score)` CTE: top-C
    * coarse cut, exact rounded-cosine re-rank, final top-k — the SQL
    * mirror of [[rerankTail]], defined once so kernel and oracle
    * contracts change together.
    */
  private def sqlRerankTail: String = sqlRerankTailC(PqCandidates)

  /** The tail at an explicit candidate budget — shared with the
    * binary-quantization oracle ([[Bq]]), whose probe ends in the same
    * [[rerankTail]] kernel.
    */
  private[operators] def sqlRerankTailC(candidates: Int): String =
    s"""coarse AS (
          SELECT q_id, n_id FROM (
            SELECT q_id, n_id, ROW_NUMBER() OVER (
              PARTITION BY q_id ORDER BY score DESC, n_id ASC) AS crank
            FROM adc) WHERE crank <= $candidates),
        scored AS (
          SELECT c.q_id, c.n_id,
            ROUND(${Similarity.sqlCos("q.embedding", "n.embedding")}, 4) + 0.0 AS cos_sim
          FROM coarse c JOIN embeddings q ON q.vec_id = c.q_id
                       JOIN embeddings n ON n.vec_id = c.n_id)
        SELECT q_id, n_id, cos_sim, rank FROM (
          SELECT q_id, n_id, cos_sim, CAST(ROW_NUMBER() OVER (
            PARTITION BY q_id ORDER BY cos_sim DESC, n_id ASC) AS INT) AS rank
          FROM scored) WHERE rank <= ${Similarity.TopK}"""

  /** Residual-family oracle CTEs. Assumes the IVF CTEs (`m`, `asg`)
    * are already in scope — the caller concatenates
    * [[Similarity.ivfOracleCtes]] first. `rres` restates the
    * double-precision residual (COALESCE zero-pad − centroid, the
    * encode kernel's exact arithmetic; the list always has Dim
    * entries, so the subvector indexing below needs no COALESCE);
    * `rcodes`/`rcodesarr` mirror the raw family's argmin-L2 with the
    * residual codebook literal.
    */
  private def resOracleCtes(s: SparkSession, d: String): String = {
    val idx = resPqIndex(s, d)
    val cb = renderCodebooks(idx.codebooks)
    // the reconstruction means as a double literal [cell][Dim] —
    // Double.toString round-trips exactly, the centroid-literal
    // precedent widened to trained double state
    val mv = idx.means
      .map(_.map(_.toString).mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")
    s"""rpqm AS (SELECT $cb AS cb),
        rm AS (SELECT $mv AS mv),
        rres AS (
          SELECT e.vec_id, a.cell,
            list_transform(generate_series(1, ${Similarity.Dim}), i ->
              COALESCE(e.embedding[i]::DOUBLE, 0.0) - rm.mv[a.cell + 1][i]) AS res
          FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id, rm),
        rdists AS (
          SELECT r.vec_id, g.s, c.c,
            list_sum(list_transform(generate_series(1, $SubDim), i ->
              (r.res[(g.s - 1) * $SubDim + i] - rpqm.cb[g.s][c.c][i])
            * (r.res[(g.s - 1) * $SubDim + i] - rpqm.cb[g.s][c.c][i]))) AS dist
          FROM rres r, rpqm,
            generate_series(1, $PqSubvectors) AS g(s),
            generate_series(1, $PqCodewords) AS c(c)),
        rcodes AS (
          SELECT vec_id, s, CAST(c - 1 AS INT) AS code FROM (
            SELECT vec_id, s, c, ROW_NUMBER() OVER (
              PARTITION BY vec_id, s ORDER BY dist ASC, c ASC) AS rn
            FROM rdists)
          WHERE rn = 1),
        rcodesarr AS (
          SELECT vec_id, list(code ORDER BY s) AS codes
          FROM rcodes GROUP BY vec_id)"""
  }

  /** OPQ oracle CTEs: permutation + codebook literals, the permuted
    * embedding view, argmin codes over it — `o`-prefixed names so they
    * compose beside the raw-PQ CTEs if ever needed.
    */
  private def opqOracleCtes(s: SparkSession, d: String): String = {
    val idx = opqIndex(s, d)
    val cbSql = renderCodebooks(idx.pq.codebooks)
    // 1-based dim indices for DuckDB list indexing
    val permSql = idx.perm.map(i => (i + 1).toString)
      .mkString("[", ", ", "]")
    val dist =
      s"""list_sum(list_transform(generate_series(1, $SubDim),
          i -> (e.pe[(g.s - 1) * $SubDim + i] - opqm.cb[g.s][c.c][i])
             * (e.pe[(g.s - 1) * $SubDim + i] - opqm.cb[g.s][c.c][i])))"""
    s"""opqm AS (SELECT $cbSql AS cb, $permSql AS p),
        pemb AS (
          SELECT vec_id, list_transform(generate_series(1, ${Similarity.Dim}),
            j -> COALESCE(embedding[opqm.p[j]]::DOUBLE, 0.0)) AS pe
          FROM embeddings, opqm),
        odists AS (
          SELECT e.vec_id, g.s, c.c, $dist AS dist
          FROM pemb e, opqm,
            generate_series(1, $PqSubvectors) AS g(s),
            generate_series(1, $PqCodewords) AS c(c)),
        ocodes AS (
          SELECT vec_id, s, CAST(c - 1 AS INT) AS code FROM (
            SELECT vec_id, s, c, ROW_NUMBER() OVER (
              PARTITION BY vec_id, s ORDER BY dist ASC, c ASC) AS rn
            FROM odists)
          WHERE rn = 1),
        ocodesarr AS (
          SELECT vec_id, list(code ORDER BY s) AS codes
          FROM ocodes GROUP BY vec_id)"""
  }

  /** OPQ-R oracle CTEs: rotation + codebook literals, the rotated
    * embedding view (Σ R[r][i]·x[i] in double, CAST to FLOAT then
    * back — the rotateF dtype contract exactly), argmin codes over
    * it — `ro`-prefixed names, clash-free beside the other families.
    */
  private def opqRotOracleCtes(s: SparkSession, d: String): String = {
    val idx = opqRotIndex(s, d)
    val cbSql = renderCodebooks(idx.pq.codebooks)
    val rotSql = idx.rot
      .map(_.map(_.toString).mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")
    val dist =
      s"""list_sum(list_transform(generate_series(1, $SubDim),
          i -> (e.pe[(g.s - 1) * $SubDim + i] - ropqm.cb[g.s][c.c][i])
             * (e.pe[(g.s - 1) * $SubDim + i] - ropqm.cb[g.s][c.c][i])))"""
    s"""ropqm AS (SELECT $cbSql AS cb, $rotSql AS rt),
        remb AS (
          SELECT vec_id, list_transform(generate_series(1, ${Similarity.Dim}),
            r -> CAST(CAST(list_sum(list_transform(
                   generate_series(1, ${Similarity.Dim}),
                   i -> ropqm.rt[r][i] * COALESCE(embedding[i]::DOUBLE, 0.0)))
                 AS FLOAT) AS DOUBLE)) AS pe
          FROM embeddings, ropqm),
        rodists AS (
          SELECT e.vec_id, g.s, c.c, $dist AS dist
          FROM remb e, ropqm,
            generate_series(1, $PqSubvectors) AS g(s),
            generate_series(1, $PqCodewords) AS c(c)),
        rocodes AS (
          SELECT vec_id, s, CAST(c - 1 AS INT) AS code FROM (
            SELECT vec_id, s, c, ROW_NUMBER() OVER (
              PARTITION BY vec_id, s ORDER BY dist ASC, c ASC) AS rn
            FROM rodists)
          WHERE rn = 1),
        rocodesarr AS (
          SELECT vec_id, list(code ORDER BY s) AS codes
          FROM rocodes GROUP BY vec_id)"""
  }

  /** The OPQ-R ADC: rotated query coordinates (the remb view — float-
    * rounded like the kernel's) against the rotated-space codewords.
    */
  private def sqlAdcOpqRot(rq: String, x: String): String =
    s"""list_sum(list_transform(generate_series(1, $PqSubvectors), s ->
        list_sum(list_transform(generate_series(1, $SubDim), i ->
          $rq.pe[(s - 1) * $SubDim + i] *
          ropqm.cb[s][$x.codes[s] + 1][i]))))"""

  /** The OPQ ADC: permuted query coordinates against the permuted-
    * space codewords — the kernel's LUT partials exactly.
    */
  private def sqlAdcOpq(q: String, x: String): String =
    s"""list_sum(list_transform(generate_series(1, $PqSubvectors), s ->
        list_sum(list_transform(generate_series(1, $SubDim), i ->
          COALESCE($q.embedding[opqm.p[(s - 1) * $SubDim + i]]::DOUBLE, 0.0) *
          opqm.cb[s][$x.codes[s] + 1][i]))))"""

  def dynamicOracles(s: SparkSession, d: String): Map[String, String] = {
    val codesCte = pqOracleCtes(s, d)
    val opqCte = opqOracleCtes(s, d)
    val opqRotCte = opqRotOracleCtes(s, d)
    val base = Map(
      "opq_build" ->
        s"""WITH $opqCte
            SELECT vec_id, CAST(s - 1 AS INT) AS sub, code FROM ocodes""",
      "opq_rot_build" ->
        s"""WITH $opqRotCte
            SELECT vec_id, CAST(s - 1 AS INT) AS sub, code FROM rocodes""",
      // the sim_ann_opq oracle shape with the ROTATED views: rotated
      // ADC coarse ranking, then the SHARED exact-re-rank tail on the
      // original vectors (cosine is rotation-invariant)
      "sim_ann_opq_rot" ->
        s"""WITH $opqRotCte,
            adc AS (
              SELECT rq.vec_id AS q_id, x.vec_id AS n_id,
                ${sqlAdcOpqRot("rq", "x")} AS score
              FROM remb rq, rocodesarr x, ropqm
              WHERE rq.vec_id % ${Similarity.QueryStride} = 0
                AND rq.vec_id <> x.vec_id),
            $sqlRerankTail""",
      // the sim_ann_pq oracle shape in permuted coordinates: permuted
      // ADC coarse ranking, then the SHARED exact-re-rank tail on the
      // original vectors (cosine is permutation-invariant)
      "sim_ann_opq" ->
        s"""WITH $opqCte,
            adc AS (
              SELECT q.vec_id AS q_id, x.vec_id AS n_id,
                ${sqlAdcOpq("q", "x")} AS score
              FROM embeddings q, ocodesarr x, opqm
              WHERE q.vec_id % ${Similarity.QueryStride} = 0
                AND q.vec_id <> x.vec_id),
            $sqlRerankTail""",
      "pq_build" ->
        s"""WITH $codesCte
            SELECT vec_id, CAST(s - 1 AS INT) AS sub, code FROM codes""",
      // ADC: per (query, vector) the reconstruction dot — subspace
      // partial dots summed in subspace order (list_sum over the
      // per-subspace sums), each inner sum left-to-right, matching the
      // kernel's accumulation exactly; unrounded ORDER BY then the
      // shared top-C / exact-re-rank tail (the sim_ann_proj shape).
      "sim_ann_pq" ->
        s"""WITH $codesCte,
            adc AS (
              SELECT q.vec_id AS q_id, x.vec_id AS n_id,
                ${sqlAdc("q", "x")} AS score
              FROM embeddings q, codesarr x, pqm
              WHERE q.vec_id % ${Similarity.QueryStride} = 0
                AND q.vec_id <> x.vec_id),
            $sqlRerankTail""",
      // IVF-PQ composed: the IVF CTEs (m/sims/asg — trained centroid
      // literals) restate the probe and candidate set, the PQ CTEs
      // (pqm/codes/codesarr — trained codebook literals) restate the
      // ADC scores of exactly those candidates, then the shared tail.
      // CTE names are disjoint by construction.
      "sim_ann_ivfpq" -> {
        val (ivfCtes, k) = Similarity.ivfOracleCtes(s, d)
        val np = Similarity.defaultNProbe(k, Similarity.ivfIndex(s, d).cellCounts)
        s"""WITH $ivfCtes,
            $codesCte,
            qprobe AS (
              SELECT vec_id AS q_id, CAST(c - 1 AS BIGINT) AS cell FROM (
                SELECT vec_id, c, ROW_NUMBER() OVER (
                  PARTITION BY vec_id ORDER BY sim DESC, c ASC) AS rn
                FROM sims WHERE vec_id % ${Similarity.QueryStride} = 0)
              WHERE rn <= $np),
            cand AS (
              SELECT q.q_id, a.vec_id AS n_id
              FROM qprobe q JOIN asg a ON q.cell = a.cell
              WHERE q.q_id <> a.vec_id),
            adc AS (
              SELECT c.q_id, c.n_id, ${sqlAdc("q", "x")} AS score
              FROM cand c
                JOIN embeddings q ON q.vec_id = c.q_id
                JOIN codesarr x ON x.vec_id = c.n_id, pqm),
            $sqlRerankTail"""
      },
      // Residual-encoded codes: the IVF CTEs pin the assignment, the
      // residual CTEs the double-precision residual + argmin-L2 codes.
      "pq_res_build" -> {
        val (ivfCtes, _) = Similarity.ivfOracleCtes(s, d)
        s"""WITH $ivfCtes,
            ${resOracleCtes(s, d)}
            SELECT r.vec_id, a.cell, CAST(r.s - 1 AS INT) AS sub, r.code
            FROM rcodes r JOIN asg a ON a.vec_id = r.vec_id"""
      },
      // Residual IVF-PQ: probe + candidates as in sim_ann_ivfpq, but
      // the coarse score is the decomposed reconstruction dot —
      // dot(q, mean[cell]) + residual ADC — exactly the kernel's
      // cdot + LUT sum, then the shared tail.
      "sim_ann_ivfpq_res" -> {
        val (ivfCtes, k) = Similarity.ivfOracleCtes(s, d)
        val np = Similarity.defaultNProbe(k, Similarity.ivfIndex(s, d).cellCounts)
        s"""WITH $ivfCtes,
            ${resOracleCtes(s, d)},
            qprobe AS (
              SELECT vec_id AS q_id, CAST(c - 1 AS BIGINT) AS cell FROM (
                SELECT vec_id, c, ROW_NUMBER() OVER (
                  PARTITION BY vec_id ORDER BY sim DESC, c ASC) AS rn
                FROM sims WHERE vec_id % ${Similarity.QueryStride} = 0)
              WHERE rn <= $np),
            cand AS (
              SELECT q.q_id, q.cell, a.vec_id AS n_id
              FROM qprobe q JOIN asg a ON q.cell = a.cell
              WHERE q.q_id <> a.vec_id),
            adc AS (
              SELECT c.q_id, c.n_id,
                list_sum(list_transform(generate_series(1, ${Similarity.Dim}), i ->
                  COALESCE(q.embedding[i]::DOUBLE, 0.0) * rm.mv[c.cell + 1][i]))
                + ${sqlAdcOn("q", "x", "rpqm")} AS score
              FROM cand c
                JOIN embeddings q ON q.vec_id = c.q_id
                JOIN rcodesarr x ON x.vec_id = c.n_id, rm, rpqm),
            $sqlRerankTail"""
      })
    // stored probe shares the session-path oracle verbatim (the
    // Similarity.oracles sim_ann_lsh_stored convention)
    base +
      ("sim_ann_pq_stored" -> base("sim_ann_pq")) +
      ("sim_ann_opq_stored" -> base("sim_ann_opq")) +
      ("sim_ann_opq_rot_stored" -> base("sim_ann_opq_rot"))
  }
}
