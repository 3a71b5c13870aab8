package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** Streaming lifecycle for the stored ANN index — the serving and
  * maintenance halves of the build → append → compact → probe cycle
  * whose batch forms are declared queries (`lsh_build`,
  * `sim_ann_lsh_stored`) and maintenance ops
  * ([[Similarity.appendToLshIndex]], [[Similarity.compactLshIndex]]).
  *
  * Both streams are `foreachBatch` over the BATCH kernels, on purpose:
  * a micro-batch of new vectors or live queries is exactly the batch
  * those kernels were built for, so streaming adds scheduling — not a
  * second implementation that could drift. Parity is therefore
  * structural (queries are independent rows; appends are the same
  * writer path), and VecStreamSpec pins it end-to-end.
  *
  * Scale notes:
  *  - Probe cost per micro-batch is the stored probe's contract: the
  *    probed-bucket set is pushed into the bucket-sorted scan
  *    (chunked past the cap), so a batch of B queries reads only its
  *    own buckets — serving latency tracks B, not index size.
  *  - Each append micro-batch adds one bucket-sorted file per touched
  *    table directory; probes stay correct throughout (they glob the
  *    index dir), and [[Similarity.compactLshIndex]] is the periodic
  *    defrag once accumulated small files start costing footer/open
  *    overhead. Single-writer discipline: one append stream per index
  *    version, as with the batch maintenance ops.
  */
object VecStream {

  /** Serve a stream of queries (q_id, q_emb, q_nrm) against the stored
    * LSH index: each micro-batch runs the batch probe and hands the
    * top-k relation to `sink` (write to a result log, push to a cache
    * — the caller's choice).
    */
  def probeStream(queries: DataFrame, indexDir: String,
      k: Int = Similarity.TopK)(sink: DataFrame => Unit): StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        sink(Similarity.topkLshStoredFor(batch.sparkSession, batch.toDF(),
          indexDir, k))
      }.start()

  /** Maintain the stored LSH index from a stream of new vectors
    * (vec_id, embedding): each micro-batch goes through the batch
    * append path (same planes sidecar, same bucket-sorted writer), so
    * probes — streaming or batch — see it from the next trigger on.
    */
  def appendStream(vectors: DataFrame, indexDir: String): StreamingQuery =
    vectors.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        Similarity.appendToLshIndex(batch.sparkSession, indexDir,
          batch.toDF())
      }.start()

  /** Apply a stream of takedown ids (vec_id) to a stored index — LSH
    * or IVF layout, the tombstone relation is shared: each micro-batch
    * appends id-sized tombstones ([[Similarity.deleteFromIndex]]), so
    * every probe from the next trigger on — streaming or batch — stops
    * surfacing the deleted ids, with the multi-TB layout untouched.
    * Physical purge stays a periodic compaction, exactly like the
    * append streams' defrag.
    */
  def deleteStream(ids: DataFrame, indexDir: String): StreamingQuery =
    ids.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        Similarity.deleteFromIndex(batch.sparkSession, indexDir,
          batch.toDF())
      }.start()

  /** [[probeStream]] against a stored IVF index: same serving shape,
    * the per-batch cost is the occupancy-priced cell-pruned scan
    * instead of the bucket pushdown.
    */
  def probeStreamIvf(queries: DataFrame, indexDir: String,
      k: Int = Similarity.TopK, nprobe: Int = -1)(
      sink: DataFrame => Unit): StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        sink(Similarity.topkIvfStoredFor(batch.sparkSession, batch.toDF(),
          indexDir, k, nprobe))
      }.start()

  /** [[appendStream]] against a stored IVF index: each micro-batch is
    * assigned against the FROZEN coarse quantizer and appended into the
    * existing cell directories ([[Similarity.appendToIvfIndex]]), so no
    * retrain happens on the ingest path; [[Similarity.compactIvfIndex]]
    * is the periodic defrag, as with the LSH table files.
    */
  def appendStreamIvf(vectors: DataFrame, indexDir: String): StreamingQuery =
    vectors.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        Similarity.appendToIvfIndex(batch.sparkSession, indexDir,
          batch.toDF())
      }.start()

  /** [[probeStream]] against the stored COMPRESSED compositions — the
    * serving shapes where the scan reads codes, not vectors (the exact
    * re-rank pages full vectors from the corpus at `d`, the shared
    * stored-codes contract). Per-trigger cost: the batch's probed
    * cells at code bandwidth + a batch-sized re-rank.
    */
  def probeStreamIvfPq(queries: DataFrame, d: String, ivfDir: String,
      pqDir: String, k: Int = Similarity.TopK)(
      sink: DataFrame => Unit): StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        sink(graft.operators.Pq.topkIvfPqStoredFor(batch.sparkSession,
          batch.toDF(), d, ivfDir, pqDir, k))
      }.start()

  /** [[probeStreamIvfPq]] against a stored OPQ index — queries arrive
    * in ORIGINAL coordinates and are permuted inside with the index's
    * recorded permutation.
    */
  def probeStreamOpq(queries: DataFrame, d: String, indexDir: String,
      k: Int = Similarity.TopK)(
      sink: DataFrame => Unit): StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        sink(graft.operators.Pq.topkOpqStoredFor(batch.sparkSession,
          batch.toDF(), d, indexDir, k))
      }.start()

  /** [[probeStreamOpq]] for the full-rotation index — queries arrive
    * in ORIGINAL coordinates and are rotated inside with the index's
    * recorded R.
    */
  def probeStreamOpqRot(queries: DataFrame, d: String, indexDir: String,
      k: Int = Similarity.TopK)(
      sink: DataFrame => Unit): StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        sink(graft.operators.Pq.topkOpqRotStoredFor(batch.sparkSession,
          batch.toDF(), d, indexDir, k))
      }.start()

  /** Hard-negative mining as a serving loop: a stream of anchors
    * (q_id, q_emb, q_nrm, q_label) — fresh training examples — mines
    * each micro-batch from the stored label-carrying index
    * ([[Similarity.hardNegativesAnnFor]]): per-trigger cost is the
    * batch's probed cells, the nightly-contrastive-refresh shape.
    */
  def mineStream(anchors: DataFrame, d: String, indexDir: String,
      k: Int = Similarity.HardNegK)(
      sink: DataFrame => Unit): StreamingQuery =
    anchors.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        sink(Similarity.hardNegativesAnnFor(batch.sparkSession, d,
          indexDir, batch.toDF(), k))
      }.start()

  /** [[appendStreamIvf]] for the label-carrying hard-negative index:
    * each micro-batch of (vec_id, embedding, label) rows is assigned
    * against the frozen quantizer and appended with its label
    * ([[Similarity.appendToHardNegIndex]]).
    */
  def appendStreamHardNeg(vectors: DataFrame,
      indexDir: String): StreamingQuery =
    vectors.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        Similarity.appendToHardNegIndex(batch.sparkSession, indexDir,
          batch.toDF())
      }.start()

  /** [[probeStreamIvfPq]] for the residual composition. */
  def probeStreamIvfPqRes(queries: DataFrame, d: String, ivfDir: String,
      resDir: String, k: Int = Similarity.TopK)(
      sink: DataFrame => Unit): StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        sink(graft.operators.Pq.topkIvfPqResStoredFor(batch.sparkSession,
          batch.toDF(), d, ivfDir, resDir, k))
      }.start()

  /** [[probeStreamIvfPq]] for the SQ8 composition. */
  def probeStreamIvfSq(queries: DataFrame, d: String, ivfDir: String,
      sqDir: String, k: Int = Similarity.TopK)(
      sink: DataFrame => Unit): StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        sink(graft.operators.Sq.topkIvfSqStoredFor(batch.sparkSession,
          batch.toDF(), d, ivfDir, sqDir, k))
      }.start()

  /** [[probeStream]] against a stored binary-quantization index — the
    * cheapest serving scan there is (one BIGINT per row, xor+popcount
    * scoring) plus the batch-sized exact re-rank.
    */
  def probeStreamBq(queries: DataFrame, d: String, indexDir: String,
      k: Int = Similarity.TopK)(sink: DataFrame => Unit): StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        sink(graft.operators.Bq.topkBqStoredFor(batch.sparkSession,
          batch.toDF(), d, indexDir, k))
      }.start()

  /** Maintain the stored residual-PQ codes from a stream of new
    * vectors: frozen coarse quantizer + frozen means + frozen
    * codebooks ([[graft.operators.Pq.appendToResPqIndex]]); the IVF
    * half appends through [[appendStreamIvf]] as usual.
    */
  def appendStreamRes(vectors: DataFrame, ivfDir: String,
      resDir: String): StreamingQuery =
    vectors.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        graft.operators.Pq.appendToResPqIndex(batch.sparkSession, ivfDir,
          resDir, batch.toDF())
      }.start()
}
