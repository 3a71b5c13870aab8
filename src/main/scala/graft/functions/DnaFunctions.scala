package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf
import graft.codec.{DnaChunk, DnaCodec, Goldman, Utf8Chunker}

/** Spark column functions wrapping the pure DNA codec
  * (SURVEY.md §2.8 X2–X18). Scalar UDFs first (correctness layer);
  * the hot paths are fused per-row so encode→validate→reconstruct
  * needs no shuffle (SURVEY.md §4.2).
  */
object DnaFunctions {

  /** One exploded chunk row (the reference's DNAChunk + its file key). */
  case class ChunkOut(
      chunk_id: String,
      idx: Int,
      chunk_nbytes: Int,
      checksum: String,
      dna_sequence: String,
      ecc_hex: String)

  private def chunkOut(c: DnaChunk): ChunkOut =
    ChunkOut(c.chunkId, c.index, c.originalLengthBytes, c.checksum,
      c.dnaSequence, DnaCodec.hex(c.errorCorrectionCode))

  /** Per-file report (the reference's process_text_file result,
    * `dna_encoding.py:458-468`) with the file's chunk rows.
    */
  case class ReportOut(
      original_checksum: String,
      reconstructed_checksum: String,
      n_chunks: Int,
      total_dna_bases: Long,
      status: String,
      chunks: Seq[ChunkOut])

  /** text → array<chunk struct>: UTF-8-safe chunk + RS parity + MD5 +
    * Goldman DNA, in one pass (`dna_encoding.py:270-335`). Encode only;
    * the pipelines take their chunks from [[dnaProcessNative]]'s report.
    */
  def dnaChunks(chunkSize: Int, nsym: Int) = udf { (text: String) =>
    DnaCodec.createDnaChunks(text, chunkSize, nsym).map(chunkOut)
  }

  /** Fused encode→validate→reconstruct→report: the whole per-file
    * pipeline as one narrow map (no shuffle), `dna_encoding.py:416-476`.
    * UDF form — registry-free; interchangeable with the whole-stage-
    * codegen native form below, which the pipeline call sites use.
    */
  def dnaProcess(chunkSize: Int, nsym: Int) = udf { (text: String) =>
    val r = DnaCodec.processText(text, chunkSize, nsym)
    ReportOut(r.originalChecksum, r.reconstructedChecksum, r.dnaChunksCount,
      r.totalDnaBases, r.status, r.chunks.map(chunkOut))
  }

  /** Native-expression form of [[dnaProcess]] (`graft.plans.DnaProcess`):
    * stays inside whole-stage codegen with no per-row UDF encoder
    * boxing. Registers the graft SQL functions into the session first
    * (idempotent).
    */
  def dnaProcessNative(spark: org.apache.spark.sql.SparkSession,
      chunkSize: Int, nsym: Int)(text: Column): Column = {
    graft.plans.GraftExtensions.register(spark)
    org.apache.spark.sql.functions.call_function("dna_process",
      text, org.apache.spark.sql.functions.lit(chunkSize),
      org.apache.spark.sql.functions.lit(nsym))
  }

  /** Chunk integrity check (`dna_encoding.py:371-398`): decode,
    * strict-UTF-8, MD5-compare against the stored checksum.
    */
  val validateChunk = udf { (dna: String, nbytes: Int, checksum: String) =>
    val bytes = Goldman.dnaToBytes(dna, nbytes)
    Utf8Chunker.decodeStrict(bytes).isDefined && DnaCodec.md5Hex(bytes) == checksum
  }

  /** One exploded chunk keyed by its file, as the typed input of the
    * reconstruction aggregator.
    */
  case class ChunkSlice(doc_id: Long, idx: Int, dna_sequence: String,
      chunk_nbytes: Int)

  /** A5 as a typed `Aggregator` (SURVEY.md §4.2): chunks fold into an
    * index-keyed TreeMap with map-side partial aggregation, each chunk
    * decoded AS IT IS FOLDED — the buffer holds decoded text slices,
    * never a whole collect_list array of struct rows, and a
    * million-chunk file aggregates incrementally across partials
    * instead of spiking one task's memory with a sort-at-the-end list.
    * Output: the reconstructed document text in chunk-index order
    * (`dna_encoding.py:337-369`).
    */
  object ReconstructAggregator
      extends org.apache.spark.sql.expressions.Aggregator[
        ChunkSlice, scala.collection.immutable.TreeMap[Int, String], String] {
    import scala.collection.immutable.TreeMap
    def zero: TreeMap[Int, String] = TreeMap.empty
    def reduce(b: TreeMap[Int, String], a: ChunkSlice): TreeMap[Int, String] =
      b.updated(a.idx, Utf8Chunker.decodeStrict(
        Goldman.dnaToBytes(a.dna_sequence, a.chunk_nbytes)).getOrElse("�"))
    def merge(b1: TreeMap[Int, String], b2: TreeMap[Int, String]): TreeMap[Int, String] =
      b1 ++ b2
    def finish(m: TreeMap[Int, String]): String = {
      val sb = new java.lang.StringBuilder
      m.valuesIterator.foreach(sb.append)
      sb.toString
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[TreeMap[Int, String]] =
      org.apache.spark.sql.Encoders.kryo[TreeMap[Int, String]]
    def outputEncoder: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
  }

  /** Homopolymer check as a column (X9). */
  val hasHomopolymers = udf { (dna: String) => Goldman.hasHomopolymers(dna) }
}
