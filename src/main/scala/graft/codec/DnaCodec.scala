package graft.codec

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** One DNA chunk with its metadata — mirrors the reference dataclass
  * (`plugins/utils/dna_encoding.py:14-24`). `originalBinary` is always
  * empty on the pipeline path (`dna_encoding.py:322`).
  */
case class DnaChunk(
    chunkId: String,
    index: Int,
    dnaSequence: String,
    originalBinary: String,
    originalLengthBytes: Int,
    errorCorrectionCode: Array[Byte],
    checksum: String,
    chunkSize: Int)

/** One chunk as the encoder builds it: the DNA stays ASCII bytes and
  * the checksum a raw MD5 digest, so the Catalyst kernel hands them to
  * Spark with no String round trip. [[toDnaChunk]] is the reference's
  * view of it.
  */
final class EncodedChunk(val index: Int, val nbytes: Int,
    val dna: Array[Byte], val parity: Array[Byte], val md5: Array[Byte]) {
  def chunkId: String = f"dna_chunk_$index%03d"

  def toDnaChunk: DnaChunk =
    DnaChunk(chunkId, index, new String(dna, StandardCharsets.US_ASCII), "",
      nbytes, parity, DnaCodec.hex(md5), nbytes)
}

/** The per-file encode → validate → reconstruct pipeline as pure
  * functions (no Spark dependency), mirroring the reference processor
  * (`plugins/utils/dna_encoding.py:270-398, 416-476`).
  */
object DnaCodec {

  private val HexDigits = "0123456789abcdef".getBytes(StandardCharsets.US_ASCII)

  /** Lowercase hex of `bytes` as ASCII bytes, two digits per byte. */
  def hexAscii(bytes: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = HexDigits((bytes(i) >>> 4) & 0xf)
      out(2 * i + 1) = HexDigits(bytes(i) & 0xf)
      i += 1
    }
    out
  }

  /** Lowercase hex, as Python's `bytes.hex()` / `hexdigest()`. */
  def hex(bytes: Array[Byte]): String =
    new String(hexAscii(bytes), StandardCharsets.US_ASCII)

  private def md5(bytes: Array[Byte]): Array[Byte] =
    MessageDigest.getInstance("MD5").digest(bytes)

  def md5Hex(bytes: Array[Byte]): String = hex(md5(bytes))

  private def utf8(text: String): Array[Byte] =
    (if (text == null) "" else text).getBytes(StandardCharsets.UTF_8)

  /** Null text is an empty file to this codec (the
    * null-doc-is-empty-file contract of DnaPipeline.discover) — the
    * codec stays total even when called outside the coalescing
    * pipeline entry.
    */
  def md5HexUtf8(text: String): String = md5Hex(utf8(text))

  /** UTF-8-safe chunks of `bytes`, each with its Goldman DNA, RS parity
    * and the MD5 of its original bytes (`dna_encoding.py:270-335`).
    */
  private def encodeChunks(bytes: Array[Byte], chunkSize: Int,
      errorCorrectionSymbols: Int): IndexedSeq[EncodedChunk] =
    Utf8Chunker.chunkOffsets(bytes, chunkSize).zipWithIndex.map {
      case ((s, e), index) =>
        val data = java.util.Arrays.copyOfRange(bytes, s, e)
        new EncodedChunk(index, data.length, Goldman.bytesToDnaAscii(data),
          ReedSolomon.parity(data, errorCorrectionSymbols), md5(data))
    }.toIndexedSeq

  /** Split text into UTF-8-safe chunks, each carrying RS parity, an MD5
    * checksum of its original bytes, and its Goldman DNA sequence
    * (`dna_encoding.py:270-335`).
    */
  def createDnaChunks(text: String, chunkSize: Int = 1000,
      errorCorrectionSymbols: Int = 10): Seq[DnaChunk] =
    encodeChunks(utf8(text), chunkSize, errorCorrectionSymbols).map(_.toDnaChunk)

  /** Decode a chunk's DNA back to its original bytes. */
  def chunkBytesOf(chunk: DnaChunk): Array[Byte] =
    Goldman.dnaToBytes(chunk.dnaSequence, chunk.originalLengthBytes)

  /** Decode + strict-UTF-8 + checksum validation
    * (`dna_encoding.py:371-398`).
    */
  def validateChunkIntegrity(chunk: DnaChunk): Boolean = {
    val bytes = chunkBytesOf(chunk)
    Utf8Chunker.decodeStrict(bytes).isDefined && md5Hex(bytes) == chunk.checksum
  }

  /** Sort by index, decode each chunk, concatenate
    * (`dna_encoding.py:337-369`). Throws on undecodable chunks like the
    * reference.
    */
  def reconstructText(chunks: Seq[DnaChunk]): String =
    chunks.sortBy(_.index).map { c =>
      Utf8Chunker.decodeStrict(chunkBytesOf(c)).getOrElse(
        throw new IllegalStateException(s"chunk ${c.chunkId} is not valid UTF-8"))
    }.mkString

  /** Whole-file result — the reference's per-file report
    * (`dna_encoding.py:416-476`): chunk, validate every chunk, rebuild,
    * compare whole-file checksums. `encoded` holds the file's chunks
    * even when validation fails; the report's chunk count and base
    * total are 0 then, as in the reference.
    */
  case class FileResult(
      originalChecksum: String,
      reconstructedChecksum: String,
      status: String,
      errorMessage: Option[String],
      encoded: IndexedSeq[EncodedChunk]) {
    private def ok = status == "success"
    def dnaChunksCount: Int = if (ok) encoded.length else 0
    def totalDnaBases: Long = if (ok) encoded.map(_.dna.length.toLong).sum else 0L
    def chunks: Seq[DnaChunk] = encoded.map(_.toDnaChunk)
  }

  def processText(text: String, chunkSize: Int = 1000,
      errorCorrectionSymbols: Int = 10): FileResult = {
    val bytes = utf8(text)
    val originalChecksum = md5Hex(bytes)
    var chunks = IndexedSeq.empty[EncodedChunk]
    try {
      chunks = encodeChunks(bytes, chunkSize, errorCorrectionSymbols)
      // single decode pass: validate each chunk AND digest its decoded
      // bytes (the reference decodes twice — validate at :440-446, then
      // reconstruct at :449; SURVEY §3.2 marks this compute-once-reuse).
      // Chunks that pass the strict UTF-8 decode re-encode to the same
      // bytes, so the digest equals the md5 of the rebuilt text.
      val rebuilt = MessageDigest.getInstance("MD5")
      chunks.foreach { c =>
        val decoded = Goldman.dnaAsciiToBytes(c.dna, c.nbytes)
        if (Utf8Chunker.decodeStrict(decoded).isEmpty ||
            !java.util.Arrays.equals(md5(decoded), c.md5))
          throw new IllegalStateException(s"invalid chunk: ${c.chunkId}")
        rebuilt.update(decoded)
      }
      val reconstructedChecksum = hex(rebuilt.digest())
      if (reconstructedChecksum != originalChecksum)
        throw new IllegalStateException("reconstruction checksum mismatch")
      FileResult(originalChecksum, reconstructedChecksum, "success", None, chunks)
    } catch {
      case e: Exception =>
        FileResult(originalChecksum, "", "error", Some(e.getMessage), chunks)
    }
  }
}
