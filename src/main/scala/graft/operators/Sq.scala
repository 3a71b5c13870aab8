package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Scalar quantization (SQ8) for the embedding corpus — the third
  * compression point on the ANN storage spectrum, between full-width
  * floats (4·d bytes/vector — `sim_topk_bruteforce`) and product
  * quantization (8 bytes/vector — [[Pq]]): one byte per DIMENSION
  * (64 bytes/vector here, a 4× scan-bandwidth cut) with far higher
  * reconstruction fidelity than PQ, the FAISS `SQ8` convention.
  *
  * Quantizer: per-dimension min/max over the corpus (one map-side-
  * combinable aggregate — 64 groups, order-independent, so no float-
  * summation contract is even needed for training), Δ_d =
  * (max_d − min_d)/255, code_d = clamp(⌊(v_d − min_d)/Δ_d + ½⌋, 0,
  * 255). Unlike PQ/IVF there is NO trained state with iteration-order
  * sensitivity — the quantizer is a pure corpus statistic — so the
  * DuckDB oracles are fully STATIC SQL restating the same arithmetic,
  * no Verify-time literal rendering.
  *
  * Probe (coarse-to-fine, the [[Pq]] shape): the codes scan decodes
  * through a per-corpus 64×256 decoded-value table (decoded[d][c] =
  * min_d + c·Δ_d, 128 KB broadcast — built once so kernel and stored
  * path share bit-identical reconstructions) and scores every row
  * against the collected query matrix inside one mapPartitions with
  * per-partition top-C winnowing (the coarseScanTopC argument: no
  * |Q|·n joined-row materialization, no full rank-window sort), then
  * the exact full-width rounded-cosine re-rank ([[Pq.fineRerank]] —
  * shared, so the output contract cannot fork from the other
  * sim_ann_* families). Scan cost: one multiply-add per (row, query,
  * dim) over BYTE-width codes — at 100 TB the scan reads a quarter of
  * the full-width bytes, and the asymmetric decode costs no extra
  * memory traffic because the decode table lives in cache.
  *
  * Storage ([[writeSqIndex]]): `params` (64 rows: dim, mn, mx) +
  * `codes` (vec_id, codes BINARY — one byte/dim, sign-wrapped —
  * dnrm DOUBLE, the decoded norm precomputed at build so the probe
  * never rebuilds it). Parquet round-trips doubles exactly, so the
  * stored probe is bit-identical to the session path and shares its
  * oracle verbatim (the sim_ann_pq_stored convention).
  *
  * Zero-pad contract: rows are padded/truncated to the fixed
  * [[Sq.SqDim]]=64-dim corpus contract (missing dims read as 0.0) on
  * BOTH the quantizer aggregate and the query side, matching the
  * oracle's COALESCE(embedding[i], 0.0) — the [[Pq]] short-vector
  * convention.
  */
object Sq {

  /** The fixed corpus dimensionality (the emb_centroids contract). */
  val SqDim = 64

  /** Coarse candidates per query fed to the exact re-rank. */
  val SqCandidates = 100

  /** The SQ index in probe-side shape: per-dim quantizer params and
    * the codes relation (vec_id, codes: BINARY, dnrm: DOUBLE).
    */
  case class SqIndex(mins: Array[Double], maxs: Array[Double],
      codes: DataFrame) {
    def deltas: Array[Double] =
      mins.indices.map(d => (maxs(d) - mins(d)) / 255.0).toArray
    /** decoded[d][c] = mn_d + c·Δ_d — the ONE place reconstruction
      * arithmetic lives, shared by dnrm (build), the scan kernel, and
      * (as the same expression text) the SQL oracles.
      */
    def decodeTable: Array[Array[Double]] = {
      val dl = deltas
      Array.tabulate(SqDim, 256)((d, c) => mins(d) + c.toDouble * dl(d))
    }
  }

  /** Per-dimension corpus min/max under the zero-pad contract: every
    * row contributes a value for every one of the 64 dims (missing →
    * 0.0), via explode over the padded array — map-side combine
    * collapses to 64 groups per task, so the "shuffle" moves
    * 64·tasks rows regardless of corpus size.
    */
  private def params(s: SparkSession, d: String): (Array[Double], Array[Double]) = {
    import s.implicits._
    val padded = transform(sequence(lit(0), lit(SqDim - 1)),
      i => coalesce(element_at($"embedding", i + 1), lit(0.0f)).cast("double"))
    val rows = Tables.embeddings(s, d)
      .select(posexplode(padded).as(Seq("dim", "v")))
      .groupBy($"dim").agg(min($"v").as("mn"), max($"v").as("mx"))
      .as[(Int, Double, Double)].collect()
    val mins = new Array[Double](SqDim)
    val maxs = new Array[Double](SqDim)
    rows.foreach { case (dim, mn, mx) => mins(dim) = mn; maxs(dim) = mx }
    (mins, maxs)
  }

  @inline private def padTo64(v: Array[Float]): Array[Double] = {
    val out = new Array[Double](SqDim)
    if (v != null) {
      var i = 0
      val m = math.min(SqDim, v.length)
      while (i < m) { out(i) = v(i).toDouble; i += 1 }
    }
    out
  }

  @inline private[operators] def encodeDim(v: Double, mn: Double,
      delta: Double): Int =
    if (delta == 0.0) 0
    else {
      val c = math.floor((v - mn) / delta + 0.5)
      if (c < 0.0) 0 else if (c > 255.0) 255 else c.toInt
    }

  /** Build the SQ index for a corpus: one params aggregate, then a
    * row-local encode pass (codes + decoded norm in one map, zero
    * shuffle).
    */
  def sqIndex(s: SparkSession, d: String): SqIndex = {
    val (mins, maxs) = params(s, d)
    val idx = SqIndex(mins, maxs, null)
    idx.copy(codes = encodeWith(s,
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")), idx))
  }

  /** The row-local encode pass against GIVEN quantizer params —
    * shared by the build ([[sqIndex]]) and the frozen-quantizer
    * append ([[appendToSqIndex]]) so the two can never drift.
    */
  private def encodeWith(s: SparkSession, src: DataFrame,
      idx: SqIndex): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast((idx.mins, idx.deltas, idx.decodeTable))
    src.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val (mn, delta, table) = bc.value
        val pv = padTo64(v)
        val cs = new Array[Byte](SqDim)
        var nrm2 = 0.0
        var i = 0
        while (i < SqDim) {
          val c = encodeDim(pv(i), mn(i), delta(i))
          cs(i) = (c & 0xFF).toByte
          val dv = table(i)(c)
          nrm2 += dv * dv
          i += 1
        }
        (id, cs, math.sqrt(nrm2))
      }.toDF("vec_id", "codes", "dnrm")
  }

  /** Append NEW vectors' codes to a STORED SQ index WITHOUT
    * re-deriving the quantizer — the appendToIvfIndex convention for
    * the codes family: the params table read back IS the frozen
    * quantizer (a retune would shift every stored code's decoded
    * value, i.e. a new index VERSION), so an appended vector encodes
    * to exactly the codes a full rebuild at these params would give
    * it. Single-writer, disjoint ids, compaction/rebuild as defrag —
    * the shared append conventions.
    */
  def appendToSqIndex(s: SparkSession, indexDir: String,
      batch: DataFrame): Unit = {
    val idx = readSqIndex(s, indexDir)
    encodeWith(s, batch, idx)
      .write.mode("append").parquet(s"$indexDir/codes")
  }

  /** The SQ probe against a GIVEN index — shared by the session path
    * ([[topkSq]]) and the stored path ([[topkSqStored]]) so the two
    * cannot drift (the pqProbe convention). Coarse score: asymmetric
    * decode-dot, q·decoded(x) / ‖q‖ / ‖decoded(x)‖, summed dim
    * 0..63 left-to-right — exactly the oracle's list_sum order.
    */
  private def sqProbe(s: SparkSession, d: String, idx: SqIndex, k: Int,
      candidates: Int): DataFrame = {
    import s.implicits._
    val dec = idx.decodeTable
    val qRows = Pq.queryRelation(s, d)
      .select($"q_id", $"q_emb", $"q_nrm")
      .as[(Long, Array[Float], Double)].collect().sortBy(_._1)
    val qIds = qRows.map(_._1)
    val qPad = qRows.map(q => padTo64(q._2))
    val qNrm = qRows.map(_._3)
    val bc = s.sparkContext.broadcast((qIds, qPad, qNrm, dec))
    val n = Similarity.rowCount(s, Tables.embeddings(s, d))
    val src = Similarity.widenIfStarved(s, idx.codes,
      qIds.length.toDouble * n * SqDim, $"vec_id", Tables.embeddings(s, d))
    val coarse = src.select($"vec_id", $"codes", $"dnrm")
      .as[(Long, Array[Byte], Double)].mapPartitions { it =>
        val (ids, qs, qn, table) = bc.value
        val bufs = Array.fill(ids.length)(new Similarity.TopBuf(candidates))
        it.foreach { case (vid, cs, dnrm) =>
          // loud on malformed rows (the Pq scan convention): a
          // silently skipped codes row would shrink candidate sets
          // with no signal that the index is corrupt
          require(cs != null && cs.length >= SqDim,
            s"sq scan: codes row for vec_id=$vid has " +
              s"${if (cs == null) "null" else cs.length.toString} bytes, " +
              s"need $SqDim")
          var qi = 0
          while (qi < ids.length) {
            if (ids(qi) != vid) {
              val q = qs(qi)
              var dot = 0.0
              var i = 0
              while (i < SqDim) {
                dot += q(i) * table(i)(cs(i) & 0xFF)
                i += 1
              }
              bufs(qi).insert(dot / qn(qi) / dnrm, vid)
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
      }.toDF("q_id", "n_id", "sq")
      .withColumn("crank", row_number().over(
        Window.partitionBy($"q_id").orderBy($"sq".desc, $"n_id".asc)))
      .filter($"crank" <= candidates)
      .select($"q_id", $"n_id")
    Pq.fineRerank(s, d, coarse, k, Pq.queryRelation(s, d))
  }

  /** Coarse-to-fine SQ8 ANN: byte-decode scan picks top-C per query,
    * the exact full-width rounded cosine re-ranks them (same output
    * contract as every sim_ann_*).
    */
  def topkSq(s: SparkSession, d: String, k: Int = Similarity.TopK,
      candidates: Int = SqCandidates): DataFrame =
    sqProbe(s, d, sqIndex(s, d), k, candidates)

  def writeSqIndex(s: SparkSession, d: String, outDir: String): Unit = {
    import s.implicits._
    val idx = sqIndex(s, d)
    idx.codes.write.mode("overwrite").parquet(s"$outDir/codes")
    idx.mins.indices
      .map(dim => (dim, idx.mins(dim), idx.maxs(dim)))
      .toDF("dim", "mn", "mx")
      .write.mode("overwrite").parquet(s"$outDir/params")
  }

  /** Read a stored SQ index back into probe shape; fails loudly on a
    * params table that doesn't cover the fixed dim contract.
    */
  def readSqIndex(s: SparkSession, indexDir: String): SqIndex = {
    import s.implicits._
    val rows = s.read.parquet(s"$indexDir/params")
      .select($"dim", $"mn", $"mx")
      .as[(Int, Double, Double)].collect()
    require(rows.length == SqDim && rows.map(_._1).sorted.sameElements(
        0 until SqDim),
      s"sq params table under $indexDir has ${rows.length} rows, " +
        s"need dims 0..${SqDim - 1}")
    val mins = new Array[Double](SqDim)
    val maxs = new Array[Double](SqDim)
    rows.foreach { case (dim, mn, mx) => mins(dim) = mn; maxs(dim) = mx }
    SqIndex(mins, maxs, Similarity.minusTombstones(s, indexDir,
      s.read.parquet(s"$indexDir/codes")))
  }

  /** Probe a STORED SQ index (written by [[writeSqIndex]]) through the
    * same probe core as the session path.
    */
  def topkSqStored(s: SparkSession, d: String, indexDir: String,
      k: Int = Similarity.TopK, candidates: Int = SqCandidates): DataFrame =
    sqProbe(s, d, readSqIndex(s, indexDir), k, candidates)

  private def sqDecodeDot(dec: Array[Array[Double]])(
      q: org.apache.spark.sql.Column,
      codes: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.SqDecodeDot(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(q),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(codes), dec))

  /** IVF-SQ composition — the FAISS `IVF…,SQ8` deployment shape,
    * symmetric with [[Pq.topkIvfPq]]: the IVF coarse quantizer bounds
    * WHICH vectors are scored (only the query's probed cells, the
    * shared occupancy-aware probe policy), the SQ codes bound the
    * BYTES each scored one costs (the candidate join ships (vec_id,
    * cell) plus 64 code bytes and the precomputed decoded norm — the
    * 256-byte full-width vectors never enter the coarse pass), and
    * full-precision vectors page in only for the exact re-rank of the
    * decode-dot top-C. Against PQ's 8 bytes/vector this trades 8× the
    * scan bytes for much higher coarse fidelity — the right half of
    * the recall/bandwidth spectrum when cells are large. At 10⁹
    * vectors this is the stored shape: a codes table partitioned by
    * cell.
    */
  def topkIvfSq(s: SparkSession, d: String, k: Int = Similarity.TopK,
      candidates: Int = SqCandidates): DataFrame =
    ivfSqProbe(s, d, Similarity.ivfIndex(s, d), sqIndex(s, d), k, candidates,
      Pq.queryRelation(s, d))

  /** The composed probe against GIVEN indexes (the ivfPqProbe
    * convention — one body so a session/stored split could never
    * drift). Score arithmetic is the scan kernel's exactly:
    * decode-dot / ‖q‖ / decoded-norm, left-associated.
    */
  private def ivfSqProbe(s: SparkSession, d: String,
      ivf: Similarity.IvfIndex, sq: SqIndex, k: Int,
      candidates: Int, queries: DataFrame): DataFrame = {
    import s.implicits._
    val np = Similarity.defaultNProbe(ivf.cents.length, ivf.cellCounts)
    val dd = sqDecodeDot(sq.decodeTable) _
    val qCells = queries.select($"q_id", $"q_emb", $"q_nrm",
      explode(Similarity.nearestCellsCol(ivf.cents, np)($"q_emb")).as("cell"))
    // the stored IVF-SQ relation: cell + codes + decoded norm, no vectors
    val members = ivf.assigned.select($"vec_id", $"cell")
      .join(sq.codes, Seq("vec_id"))
    // single assignment ⇒ a vector reaches a query through at most one
    // probed cell — no candidate dedup exchange (the sim_ann_ivf plan
    // property)
    val scored = broadcast(qCells)
      .join(members, Seq("cell"))
      .filter($"q_id" =!= $"vec_id")
      .select($"q_id", $"vec_id".as("n_id"),
        (dd($"q_emb", $"codes") / $"q_nrm" / $"dnrm").as("adc"))
    Pq.rerankTail(s, d, scored, candidates, k, queries)
  }

  /** Serving entry point (the topkLshStoredFor convention): probe the
    * stored IVF-SQ composition with an ARBITRARY (q_id, q_emb, q_nrm)
    * query relation — the declared [[Pq.queryRelation]], or a streaming
    * micro-batch of live queries ([[graft.streaming.MicroBatch.start]]
    * over this kernel). Both index halves are written by one build job
    * and composed by any later query job; parquet round-trips the
    * params/norm doubles exactly, so over the declared query set this
    * is bit-identical to [[topkIvfSq]] (IndexStoreSpec pins it).
    */
  def topkIvfSqStoredFor(s: SparkSession, queries: DataFrame, d: String,
      ivfDir: String, sqDir: String, k: Int = Similarity.TopK,
      candidates: Int = SqCandidates): DataFrame =
    ivfSqProbe(s, d, Similarity.readIvfIndex(s, ivfDir),
      readSqIndex(s, sqDir), k, candidates, queries)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the codes relation as exploded scalar rows (the pq_build
    // pattern: the driver compare can't hash a raw binary column; the
    // sign-wrap is undone here, so the declared relation states codes
    // 0..255)
    "sq_build" -> { (s, d) =>
      import s.implicits._
      sqIndex(s, d).codes
        .select($"vec_id", $"codes")
        .as[(Long, Array[Byte])]
        .flatMap { case (id, cs) =>
          cs.iterator.zipWithIndex.map { case (b, i) => (id, i, b & 0xFF) }
        }.toDF("vec_id", "dim", "code")
    },
    "sim_ann_sq" -> ((s, d) => topkSq(s, d)),
    // The STORED-path form (the sim_ann_pq_stored pattern): write
    // params + codes, read them back, probe — same answer as
    // sim_ann_sq by construction (parquet round-trips the double
    // params and precomputed norms exactly), so it shares that
    // oracle verbatim.
    "sim_ann_sq_stored" -> { (s, d) =>
      val dir = Similarity.storedQueryDir("sq", d)
      writeSqIndex(s, d, dir)
      topkSqStored(s, d, dir)
    },
    "sim_ann_ivfsq" -> ((s, d) => topkIvfSq(s, d)))

  /** Shared oracle CTE text: per-dim quantizer params under the
    * zero-pad contract, per-(vector, dim) codes with the kernel's
    * exact round/clamp, decoded values and left-to-right decoded
    * norms. Pure corpus statistics — no trained literals, so these
    * are STATIC oracles (unlike every other ANN family here).
    */
  private def sqOracleCtes: String =
    s"""sqp AS (
          SELECT g.i AS dim,
            MIN(COALESCE(e.embedding[g.i]::DOUBLE, 0.0)) AS mn,
            MAX(COALESCE(e.embedding[g.i]::DOUBLE, 0.0)) AS mx
          FROM embeddings e, generate_series(1, $SqDim) AS g(i)
          GROUP BY g.i),
        sqd AS (
          SELECT dim, mn, mx, (mx - mn) / 255.0 AS delta FROM sqp),
        sqcodes AS (
          SELECT e.vec_id, p.dim,
            CASE WHEN p.delta = 0.0 THEN 0
              ELSE LEAST(255, GREATEST(0, CAST(FLOOR(
                (COALESCE(e.embedding[p.dim]::DOUBLE, 0.0) - p.mn)
                  / p.delta + 0.5) AS INT))) END AS code
          FROM embeddings e, sqd p),
        sqdec AS (
          SELECT c.vec_id, c.dim, c.code,
            p.mn + c.code::DOUBLE * p.delta AS dec
          FROM sqcodes c JOIN sqd p ON p.dim = c.dim),
        sqarr AS (
          SELECT vec_id, list(dec ORDER BY dim) AS dec,
            SQRT(list_sum(list_transform(list(dec ORDER BY dim),
              x -> x * x))) AS dnrm
          FROM sqdec GROUP BY vec_id)"""

  val oracles: Map[String, String] = {
    val base = Map(
      "sq_build" ->
        s"""WITH sqp AS (
              SELECT g.i AS dim,
                MIN(COALESCE(e.embedding[g.i]::DOUBLE, 0.0)) AS mn,
                MAX(COALESCE(e.embedding[g.i]::DOUBLE, 0.0)) AS mx
              FROM embeddings e, generate_series(1, $SqDim) AS g(i)
              GROUP BY g.i),
            sqd AS (
              SELECT dim, mn, mx, (mx - mn) / 255.0 AS delta FROM sqp)
            SELECT e.vec_id, CAST(p.dim - 1 AS INT) AS dim,
              CASE WHEN p.delta = 0.0 THEN 0
                ELSE LEAST(255, GREATEST(0, CAST(FLOOR(
                  (COALESCE(e.embedding[p.dim]::DOUBLE, 0.0) - p.mn)
                    / p.delta + 0.5) AS INT))) END AS code
            FROM embeddings e, sqd p""",
      // coarse: asymmetric decode-dot summed dim 1..64 left-to-right
      // (list_sum order — the kernel's accumulation), / qnrm / dnrm
      // in that association; unrounded ORDER BY then the shared
      // top-C / exact-re-rank tail (the sim_ann_pq shape).
      "sim_ann_sq" ->
        s"""WITH $sqOracleCtes,
            adc AS (
              SELECT q.vec_id AS q_id, x.vec_id AS n_id,
                list_sum(list_transform(generate_series(1, $SqDim),
                  i -> COALESCE(q.embedding[i]::DOUBLE, 0.0) * x.dec[i]))
                / SQRT(list_sum(list_transform(generate_series(1, len(q.embedding)),
                    i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)))
                / x.dnrm AS score
              FROM embeddings q, sqarr x
              WHERE q.vec_id % ${Similarity.QueryStride} = 0
                AND q.vec_id <> x.vec_id),
            coarse AS (
              SELECT q_id, n_id FROM (
                SELECT q_id, n_id, ROW_NUMBER() OVER (
                  PARTITION BY q_id ORDER BY score DESC, n_id ASC) AS crank
                FROM adc) WHERE crank <= $SqCandidates),
            scored AS (
              SELECT c.q_id, c.n_id,
                ROUND(${Similarity.sqlCos("q.embedding", "n.embedding")}, 4) + 0.0 AS cos_sim
              FROM coarse c JOIN embeddings q ON q.vec_id = c.q_id
                           JOIN embeddings n ON n.vec_id = c.n_id)
            SELECT q_id, n_id, cos_sim, rank FROM (
              SELECT q_id, n_id, cos_sim, CAST(ROW_NUMBER() OVER (
                PARTITION BY q_id ORDER BY cos_sim DESC, n_id ASC) AS INT) AS rank
              FROM scored) WHERE rank <= ${Similarity.TopK}""")
    base + ("sim_ann_sq_stored" -> base("sim_ann_sq"))
  }

  /** The IVF-SQ oracle embeds the trained IVF centroids as literals
    * (the sim_ann_ivfpq contract), so it is rendered at Verify time;
    * the SQ half stays the static CTE text above. CTE names are
    * disjoint by construction (m/sims/asg vs sqp/sqd/sqcodes/sqdec/
    * sqarr).
    */
  def dynamicOracles(s: SparkSession, d: String): Map[String, String] = {
    val (ivfCtes, k) = Similarity.ivfOracleCtes(s, d)
    val np = Similarity.defaultNProbe(k, Similarity.ivfIndex(s, d).cellCounts)
    Map("sim_ann_ivfsq" ->
      s"""WITH $ivfCtes,
          $sqOracleCtes,
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
            SELECT c.q_id, c.n_id,
              list_sum(list_transform(generate_series(1, $SqDim),
                i -> COALESCE(q.embedding[i]::DOUBLE, 0.0) * x.dec[i]))
              / SQRT(list_sum(list_transform(generate_series(1, len(q.embedding)),
                  i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)))
              / x.dnrm AS score
            FROM cand c
              JOIN embeddings q ON q.vec_id = c.q_id
              JOIN sqarr x ON x.vec_id = c.n_id),
          coarse AS (
            SELECT q_id, n_id FROM (
              SELECT q_id, n_id, ROW_NUMBER() OVER (
                PARTITION BY q_id ORDER BY score DESC, n_id ASC) AS crank
              FROM adc) WHERE crank <= $SqCandidates),
          scored AS (
            SELECT c.q_id, c.n_id,
              ROUND(${Similarity.sqlCos("q.embedding", "n.embedding")}, 4) + 0.0 AS cos_sim
            FROM coarse c JOIN embeddings q ON q.vec_id = c.q_id
                         JOIN embeddings n ON n.vec_id = c.n_id)
          SELECT q_id, n_id, cos_sim, rank FROM (
            SELECT q_id, n_id, cos_sim, CAST(ROW_NUMBER() OVER (
              PARTITION BY q_id ORDER BY cos_sim DESC, n_id ASC) AS INT) AS rank
            FROM scored) WHERE rank <= ${Similarity.TopK}""")
  }
}
