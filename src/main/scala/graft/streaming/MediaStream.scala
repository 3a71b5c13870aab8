package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Streaming media curation — the batch `pipe_media_curate` stages
  * (exact/near-exact collapse → size gate → survivor projection)
  * re-expressed for continuous ingestion, the [[DocStream]] treatment
  * applied to the media family.
  *
  * Parity contract (MediaStreamSpec): on a corpus whose duplicate
  * clusters are SIGNATURE-EXACT (byte-identical copies and
  * container-variant re-encodes — the collapse levels of
  * `mediaCollapsedClusters`), replaying in media_id order yields
  * exactly the batch `pipe_media_curate` survivors. Stage order is the
  * parity lever, as in DocStream: the dedup runs BEFORE the size gate,
  * because the batch collapse groups over ALL media — a gated-out
  * cluster representative must still shadow its gated-in duplicates.
  *
  * What stays batch (stated): CROSS-signature near-dup collapse (the
  * cosine-threshold LSH edges). That is a graph closure — not
  * expressible with bounded per-key streaming state — so the streamed
  * dedup key is the exact signature, and near-dup members of
  * previously-curated clusters are caught by the historical-keys
  * anti-join only when their signature matches an already-seen
  * member's exactly; the periodic batch `dedup_media_collapsed` pass
  * is the deployment's near-dup sweep, exactly as packing stays batch
  * for DocStream.
  *
  * Scale design (continuous):
  *  - The decode runs row-local inside the projection (one signature
  *    per payload through the [[Multimodal.MediaDecoder]] seam); the
  *    payload bytes never cross the stateful operator — state rows
  *    carry (key, ts) only.
  *  - Dedup state is watermark-bounded (`dropDuplicatesWithinWatermark`
  *    on the signature key): state ∝ ingest rate × watermark.
  *    Signature-equal content re-appearing AFTER the watermark
  *    re-enters — the bounded-state contract — and the historical keys
  *    relation is what catches it; its natural producer is
  *    [[signatureKeys]] over the already-curated corpus.
  *  - The dedup key is the exact signature rendered to a string (a
  *    reference-exact choice mirroring the batch collapse's group-by
  *    on the embedding itself); a deployment would key the 128-bit
  *    hash of the signature instead — 16-byte state rows, the
  *    shingleHashes collision convention.
  *  - Undecodable payloads (zero-norm signature) get a per-row key:
  *    the batch collapse drops them from the signature relation before
  *    grouping, so byte-identical undecodables all survive — the
  *    streamed key preserves exactly that.
  */
object MediaStream {

  /** Curate a stream of media (schema: media_id, payload, media_type,
    * ingest_ts) into the append-mode stream of survivors
    * (media_id, media_type, n_bytes).
    */
  def curateStream(media: DataFrame, decoder: Multimodal.MediaDecoder,
      historicalKeys: Option[DataFrame] = None,
      watermark: String = "2 hours"): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    val projected = media
      .select($"media_id", $"payload", $"media_type", $"ingest_ts")
      .as[(Long, Array[Byte], String, java.sql.Timestamp)]
      .mapPartitions { it =>
        // per-partition native-context init would go here (the
        // decodeFeaturesWith convention)
        it.map { case (id, bytes, mt, ts) =>
          val payload = Option(bytes).getOrElse(Array.empty[Byte])
          (id, mt, ts, payload.length.toLong, dedupKey(id, payload, decoder))
        }
      }.toDF("media_id", "media_type", "ingest_ts", "n_bytes", "dkey")
    val deduped = projected
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("dkey")
    // gate AFTER the dedup (see the parity note above)
    val gated = deduped
      .filter($"n_bytes" >= Multimodal.CurateMinBytes)
    val kept = historicalKeys match {
      case Some(ks) => gated.join(ks.select($"dkey"), Seq("dkey"), "left_anti")
      case None     => gated
    }
    kept.select($"media_id", $"media_type", $"n_bytes")
  }

  /** The streamed dedup key for one payload: the exact signature for
    * decodable media, a per-row sentinel for zero-norm ones.
    */
  private def dedupKey(id: Long, payload: Array[Byte],
      decoder: Multimodal.MediaDecoder): String = {
    val sig = decoder.signature(payload)
    var n2 = 0.0
    var i = 0
    while (i < sig.length) { n2 += sig(i).toDouble * sig(i); i += 1 }
    if (n2 > 0) "s:" + sig.mkString(",") else s"u:$id"
  }

  /** Batch producer of the historical-keys relation: (media_id, dkey)
    * for an already-curated corpus — feed `select(dkey)` of it as
    * [[curateStream]]'s static side so re-ingested signature-equal
    * content (inside or past the watermark) is dropped.
    */
  def signatureKeys(media: DataFrame,
      decoder: Multimodal.MediaDecoder): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.select($"media_id", $"payload")
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          (id, dedupKey(id, Option(bytes).getOrElse(Array.empty[Byte]),
            decoder))
        }
      }.toDF("media_id", "dkey")
  }
}
