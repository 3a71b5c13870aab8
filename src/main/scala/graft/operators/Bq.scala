package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Binary quantization — the 1-bit/dim point of the compression
  * spectrum (Lucene/Elasticsearch BBQ, the RaBitQ family's baseline):
  * a 64-dim float vector (256 B) becomes its SIGN PATTERN, one bit
  * per dimension — exactly one BIGINT here, a 32× cut below even PQ's
  * 8 bytes. The coarse scan is xor + popcount per (query, row) — the
  * cheapest candidate generator there is, memory-bandwidth-optimal at
  * 10⁹ vectors — and the exact full-width re-rank (the shared
  * [[Pq.fineRerank]] tail) restores top-k fidelity from the coarse
  * pool. Sign similarity estimates angular similarity
  * (1 − hamming/d ≈ 1 − θ/π, the SimHash identity — Charikar STOC'02),
  * which is the same ordering cosine induces for near ties.
  *
  * There is NO trained state (the threshold is literal zero; the
  * fixture embeddings are mean-centered by construction, and a
  * deployment centers per dimension first — one corpus-stat pass),
  * so the whole family is hash-oracled with fully STATIC SQL: the
  * signature build is restated in HUGEINT arithmetic (the
  * dedup_simhash two's-complement convention) and the probe in
  * bit_count(xor(...)).
  */
object Bq {

  /** Candidate pool per query — the ProjCandidates rationale: the
    * re-rank budget must cover the query's topic neighborhood, since
    * within-neighborhood order is exactly what 1-bit quantization
    * blurs hardest.
    */
  val BqCandidates: Int = Similarity.ProjCandidates

  /** Sign signature: bit i (0-based) set iff emb[i] > 0; missing
    * dimensions read as 0.0 (the zero-pad contract) and therefore
    * clear their bit, as does an exact 0.0.
    */
  private[operators] def signature(emb: Seq[Float]): Long = {
    var sig = 0L
    var i = 0
    val n = if (emb == null) 0 else math.min(emb.length, Similarity.Dim)
    while (i < n) {
      if (emb(i) > 0f) sig |= (1L << i)
      i += 1
    }
    sig
  }

  private val sigUdf = udf { (emb: Seq[Float]) => signature(emb) }

  private val bqCache = new SessionCache[DataFrame](df =>
    scala.util.Try(df.unpersist(blocking = false)))

  /** The signature relation as a build-once session index (the
    * projIndex convention); at deployment scale this is a stored
    * 8-bytes-per-row table.
    */
  def bqIndex(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bqCache.getOrBuild(s, d) {
      Tables.embeddings(s, d)
        .select($"vec_id", sigUdf($"embedding").as("sig"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  }

  def topkBq(s: SparkSession, d: String, k: Int = Similarity.TopK,
      candidates: Int = BqCandidates): DataFrame =
    bqProbe(s, d, bqIndex(s, d), k, candidates, Pq.queryRelation(s, d))

  /** The probe against a GIVEN signature relation — shared by the
    * session-cached and stored paths (the pqProbe convention). Shape
    * is the LUT scan's: the |Q| query signatures broadcast as one
    * long array, the corpus signature column scanned once through
    * per-partition TopBufs (no |Q|·n joined-row materialization),
    * score = Dim − hamming (descending = most-similar-first, exact
    * integer, so the coarse order is engine-independent; ties break
    * on n_id in the shared tail).
    */
  private def bqProbe(s: SparkSession, d: String, idx: DataFrame, k: Int,
      candidates: Int, queries: DataFrame): DataFrame = {
    import s.implicits._
    val qRows = queries.select($"q_id", $"q_emb")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val qIds = qRows.map(_._1)
    val qSigs = qRows.map(r => signature(scala.collection.immutable.ArraySeq.unsafeWrapArray(r._2)))
    val bc = s.sparkContext.broadcast((qIds, qSigs))
    val coarse = idx.select($"vec_id", $"sig")
      .as[(Long, Long)].mapPartitions { it =>
        val (ids, sigs) = bc.value
        val bufs = Array.fill(ids.length)(new Similarity.TopBuf(candidates))
        it.foreach { case (vid, sig) =>
          var qi = 0
          while (qi < ids.length) {
            if (ids(qi) != vid) {
              val score =
                (Similarity.Dim - java.lang.Long.bitCount(sig ^ sigs(qi))).toDouble
              bufs(qi).insert(score, vid)
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
    Pq.fineRerank(s, d, coarse, k, queries)
  }

  /** Serving entry point (the topkLshStoredFor convention): probe the
    * stored signatures with an ARBITRARY (q_id, q_emb, q_nrm) query
    * relation — the streaming micro-batch shape.
    */
  def topkBqStoredFor(s: SparkSession, queries: DataFrame, d: String,
      indexDir: String, k: Int = Similarity.TopK,
      candidates: Int = BqCandidates): DataFrame =
    bqProbe(s, d, readBqSigs(s, indexDir), k, candidates, queries)

  /** The stored signature relation, minus any tombstoned ids — the
    * shared takedown seam (Similarity.deleteFromIndex /
    * compactCodesIndex with dataSubdir = "sigs").
    */
  private def readBqSigs(s: SparkSession, indexDir: String): DataFrame =
    Similarity.minusTombstones(s, indexDir,
      s.read.parquet(s"$indexDir/sigs"))

  /** Store the signature relation — no quantizer state to persist
    * (the threshold is literal zero), so the index is ONE parquet
    * table and appends need nothing read back.
    */
  def writeBqIndex(s: SparkSession, d: String, outDir: String): Unit =
    bqIndex(s, d).write.mode("overwrite").parquet(s"$outDir/sigs")

  def topkBqStored(s: SparkSession, d: String, indexDir: String,
      k: Int = Similarity.TopK, candidates: Int = BqCandidates): DataFrame =
    topkBqStoredFor(s, Pq.queryRelation(s, d), d, indexDir, k, candidates)

  /** Append new vectors' signatures — stateless encode, pure append
    * (single-writer, disjoint ids, the shared append conventions).
    */
  def appendToBqIndex(s: SparkSession, indexDir: String,
      batch: DataFrame): Unit = {
    import s.implicits._
    batch.select($"vec_id", sigUdf($"embedding").as("sig"))
      .write.mode("append").parquet(s"$indexDir/sigs")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bq_build" -> ((s, d) => bqIndex(s, d)),
    "sim_ann_bq" -> ((s, d) => topkBq(s, d)),
    // stored round trip (the sim_ann_pq_stored convention): longs are
    // parquet-exact, so it shares the session oracle verbatim
    "sim_ann_bq_stored" -> { (s, d) =>
      val dir = Similarity.storedQueryDir("bq", d)
      writeBqIndex(s, d, dir)
      topkBqStored(s, d, dir)
    })

  /** The signature build in HUGEINT arithmetic wrapped to a signed
    * BIGINT (the dedup_simhash two's-complement convention); an
    * out-of-range index is NULL, whose CASE falls to 0 — the kernel's
    * zero-pad contract.
    */
  private val sigCte =
    s"""sigs AS (
          SELECT e.vec_id,
            CAST(CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
              THEN u - CAST('18446744073709551616' AS HUGEINT)
              ELSE u END AS BIGINT) AS sig
          FROM (
            SELECT e.vec_id,
              COALESCE(SUM(CASE WHEN e.embedding[g.i] > 0
                THEN CAST(POWER(2, g.i - 1) AS HUGEINT)
                ELSE CAST(0 AS HUGEINT) END), CAST(0 AS HUGEINT)) AS u
            FROM embeddings e, generate_series(1, ${Similarity.Dim}) AS g(i)
            GROUP BY e.vec_id) e)"""

  private val bqSql =
    s"""WITH $sigCte,
        adc AS (
          SELECT q.vec_id AS q_id, x.vec_id AS n_id,
            CAST(${Similarity.Dim} - bit_count(xor(qs.sig, x.sig)) AS DOUBLE) AS score
          FROM embeddings q
            JOIN sigs qs ON qs.vec_id = q.vec_id, sigs x
          WHERE q.vec_id % ${Similarity.QueryStride} = 0
            AND q.vec_id <> x.vec_id),
        ${Pq.sqlRerankTailC(BqCandidates)}"""

  val oracles: Map[String, String] = Map(
    "bq_build" ->
      s"""WITH $sigCte
          SELECT vec_id, sig FROM sigs""",
    "sim_ann_bq" -> bqSql,
    "sim_ann_bq_stored" -> bqSql)
}
