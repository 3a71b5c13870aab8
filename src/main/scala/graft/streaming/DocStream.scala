package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, TextAnalysis}

/** Streaming document curation — the batch `pipe_curate` stages
  * (quality gate → content-hash dedup → train-split filter →
  * decontamination → historical-keeplist check) re-expressed for
  * continuous ingestion with Structured Streaming, so a corpus can be
  * curated incrementally as documents arrive instead of in one batch
  * rebuild. The reference's closest shape is the incremental
  * tracking-table anti-join (`dags/dag.py:452-474`); this is that idea
  * applied to the full curation pipeline.
  *
  * Parity contract (DocStreamSpec): replaying a corpus through this
  * stream in arrival order = ascending doc_id yields exactly the batch
  * `pipe_curate` survivors (minus the packing stage, which needs a
  * global per-shard order and stays batch — stated). Stage order
  * matters for that parity and mirrors the batch plan: the dedup runs
  * BEFORE the split filter and the decontamination filter, so an
  * eval-split or contaminated first-arrival shadows its later
  * duplicates exactly like the batch keeplist's min-doc_id winner does.
  *
  * Scale design (100 TB / continuous):
  *  - Every stage before the dedup is row-local (gate predicate,
  *    md5 fingerprint, token count, gram-set intersect), so the wide
  *    `text` column never crosses the stateful operator — the
  *    projection keeps (doc_id, source, fp, n_tokens, is_contam) only,
  *    the tokenize-once lesson from the batch plan.
  *  - Dedup state is bounded by the watermark:
  *    `dropDuplicatesWithinWatermark` on the content hash holds one
  *    entry per distinct fingerprint seen within the window (state ∝
  *    ingest rate × watermark, not corpus size). Content re-appearing
  *    AFTER the watermark re-enters — the bounded-state contract, same
  *    as [[EventStream.dedupStream]]; the historical keeplist below is
  *    what catches it.
  *  - The held-out gram set is broadcast as a literal array —
  *    exact, and affordable because the eval split is the bounded ~5%
  *    side. At full scale the row-local cull is the Bloom sketch from
  *    `txt_bloom_decontaminate` (same gram kernel) with an offline
  *    exact verify; the literal-array path here is the exact-semantics
  *    reference the sketch is audited against.
  *  - The historical keeplist (fingerprints curated in past runs) is a
  *    stream-static LEFT ANTI join: re-evaluated per micro-batch, so
  *    callers should cache (or bucket-store) the static side; its
  *    natural producer is the batch `pipe_incremental_dedup` path.
  */
object DocStream {

  /** Curate a stream of documents (schema: doc_id, text, source,
    * ingest_ts, …) into the append-mode stream of survivors
    * (doc_id, source, fp, n_tokens).
    *
    * @param docs          streaming DataFrame of raw documents
    * @param evalGrams     distinct [[TextAnalysis.decontamGramHashes]]
    *                      of the held-out split (fixed at stream start
    *                      — the deployment shape: the eval set is
    *                      pinned before training data is collected)
    * @param historicalFps optional static (fp) relation of content
    *                      hashes already curated by past runs
    * @param watermark     dedup state horizon on `ingest_ts`
    */
  def curateStream(docs: DataFrame, evalGrams: Array[Long],
      historicalFps: Option[DataFrame] = None,
      watermark: String = "2 hours"): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._

    val projected = TextAnalysis.qualityGate(docs)
      .select($"doc_id", $"source", $"ingest_ts",
        md5($"text").as("fp"),
        size(TextAnalysis.tokens($"text")).as("n_tokens"),
        (size(array_intersect(
          TextAnalysis.decontamGramHashes($"text"),
          lit(evalGrams))) > 0).as("is_contam"))

    val deduped = projected
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("fp")

    val curated = deduped
      .filter(TextAnalysis.splitPrefix($"doc_id") >=
        TextAnalysis.EvalSplitThreshold && !$"is_contam")
      .select($"doc_id", $"source", $"fp", $"n_tokens")

    historicalFps match {
      case Some(fps) => curated.join(fps.select($"fp"), Seq("fp"), "left_anti")
      case None      => curated
    }
  }

  /** Score a stream of documents with a STORED NB quality model
    * (written by [[TextAnalysis.writeNbModel]]) — the classifier's
    * serving mode: train once in batch, then every arriving document
    * gets its quality score as it lands. [[MicroBatch.start]] over the
    * shared batch kernel ([[TextAnalysis.scoreDocsWithNbModel]]): a
    * micro-batch of independent documents is exactly the batch that
    * kernel was built for, so streaming adds scheduling, not a second
    * scorer that could drift. The model is read ONCE at stream start
    * (the curateStream evalGrams convention — the model version is
    * pinned for the stream's lifetime; a retrain is a new stream).
    * Per-trigger cost: tokenize the batch + the tok-keyed join against
    * the vocabulary-sized weight relation — batch-proportional, never
    * corpus-proportional.
    */
  def scoreStream(docs: DataFrame, modelDir: String)(
      sink: DataFrame => Unit): StreamingQuery = {
    val (w, prior) = TextAnalysis.readNbModel(docs.sparkSession, modelDir)
    MicroBatch.start(docs.writeStream)(b =>
      sink(TextAnalysis.scoreDocsWithNbModel(b, w, prior)))
  }

  /** Streamed sub-document dedup — the CDC chunk-index lifecycle at
    * micro-batch cadence: each batch of (doc_id, text) documents is
    * first PROBED for duplicated chunk mass against the stored
    * historical index ([[graft.operators.Dedup.cdcMassFor]] — the
    * declared dedup_cdc_incremental probe, shared code), results
    * handed to `sink`, and THEN its distinct chunk hashes are appended
    * so the next batch sees it as historical — probe-before-append is
    * what keeps a batch from being compared against itself, the
    * new×old contract. The probe result is EAGERLY MATERIALIZED
    * inside cdcMassFor (localCheckpoint, lineage cut from the index
    * scan), so the contract holds even for a sink that stores the
    * DataFrame and consumes it after this trigger returns — a lazy
    * plan re-read after the append would have seen the batch's own
    * hashes as historical. State lives entirely in the stored index (8
    * bytes per distinct chunk, never text); per-trigger cost is the
    * batch's chunking plus an index-sized hash join.
    */
  def cdcMassStream(docs: DataFrame, indexDir: String)(
      sink: DataFrame => Unit): StreamingQuery =
    MicroBatch.start(docs.writeStream) { b =>
      sink(Dedup.cdcMassFor(b.sparkSession, indexDir, b))
      Dedup.appendChunkHashesFor(b.sparkSession, indexDir, b)
    }
}
