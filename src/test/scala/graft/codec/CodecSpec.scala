package graft.codec

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

class CodecSpec extends AnyFunSuite {

  /** Deterministic property sampler (scalatestplus bridge not in the
    * offline cache, so we drive ScalaCheck Gens directly).
    */
  private def forAll[A](gen: Gen[A], n: Int = 100)(f: A => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(42L)
    var i = 0
    while (i < n) {
      gen.apply(Gen.Parameters.default.withSize(1 + i % 100), seed).foreach(f)
      seed = seed.next
      i += 1
    }
  }
  private def forAll[A, B](g1: Gen[A], g2: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(g1, g2))(t => f(t._1, t._2))
  private def whenever(cond: Boolean)(f: => Unit): Unit = if (cond) f

  // ---- Trits (reference edge cases, dna_encoding.py:47-76) ----

  test("empty bytes encode to the single trit [0]") {
    assert(Trits.bytesToTrits(Array.empty[Byte]).toSeq == Seq(0))
  }

  test("zero bytes encode to [0] and restore via fixed width") {
    assert(Trits.bytesToTrits(Array[Byte](0, 0, 0)).toSeq == Seq(0))
    assert(Trits.tritsToBytes(Seq(0), 3).toSeq == Seq[Byte](0, 0, 0))
  }

  test("leading zero bytes collapse on encode, restore on decode") {
    val data = Array[Byte](0, 0, 5, 42)
    val trits = Trits.bytesToTrits(data)
    assert(Trits.tritsToBytes(trits.toSeq, 4).toSeq == data.toSeq)
  }

  test("trits roundtrip: arbitrary byte arrays") {
    forAll(Gen.containerOf[Array, Byte](Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) {
      (data: Array[Byte]) =>
        whenever(data.nonEmpty) {
          val trits = Trits.bytesToTrits(data)
          assert(Trits.tritsToBytes(trits.toSeq, data.length).toSeq == data.toSeq)
        }
    }
  }

  test("binary string roundtrip (legacy path)") {
    forAll(Gen.nonEmptyListOf(Gen.oneOf('0', '1'))) { (bits: List[Char]) =>
      val s = bits.mkString
      val trits = Trits.binaryToTrits(s)
      assert(Trits.tritsToBinary(trits.toSeq, s.length).takeRight(s.length)
        .dropWhile(_ == '0') == s.dropWhile(_ == '0'))
    }
  }

  // ---- Goldman (dna_encoding.py:132-204) ----

  test("first base is in {A,C,G} and maps trit 0,1,2 in order") {
    assert(Goldman.tritsToDna(Seq(0)) == "A")
    assert(Goldman.tritsToDna(Seq(1)) == "C")
    assert(Goldman.tritsToDna(Seq(2)) == "G")
  }

  test("rotation map avoids homopolymers on every encode") {
    forAll(Gen.listOf(Gen.chooseNum(0, 2))) { (trits: List[Int]) =>
      val dna = Goldman.tritsToDna(trits)
      assert(!Goldman.hasHomopolymers(dna))
      assert(dna.length == trits.length)
    }
  }

  test("goldman trit roundtrip") {
    forAll(Gen.listOf(Gen.chooseNum(0, 2))) { (trits: List[Int]) =>
      assert(Goldman.dnaToTrits(Goldman.tritsToDna(trits)).toSeq == trits)
    }
  }

  test("unknown bases decode to trit 0, input is uppercased") {
    assert(Goldman.dnaToTrits("X").toSeq == Seq(0))
    assert(Goldman.dnaToTrits("acg").toSeq == Goldman.dnaToTrits("ACG").toSeq)
  }

  test("bytes→DNA→bytes roundtrip with fixed width") {
    forAll(Gen.containerOf[Array, Byte](Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) {
      (data: Array[Byte]) =>
        whenever(data.nonEmpty) {
          val dna = Goldman.bytesToDna(data)
          assert(Goldman.dnaToBytes(dna, data.length).toSeq == data.toSeq)
        }
    }
  }

  test("expansion factor ~5.05 bases/byte at 1000-byte chunks") {
    val data = Array.fill[Byte](1000)(0x41)
    val dna = Goldman.bytesToDna(data)
    assert(dna.length >= 5000 && dna.length <= 5100, s"got ${dna.length}")
  }

  // ---- Reed–Solomon (dna_encoding.py:232-268; reedsolo semantics) ----

  test("RS parity size: nsym per 245-byte sub-block") {
    assert(ReedSolomon.parity(Array.fill[Byte](100)(1), 10).length == 10)
    assert(ReedSolomon.parity(Array.fill[Byte](1000)(1), 10).length ==
      10 * math.ceil(1000.0 / 245).toInt)
  }

  test("RS roundtrip without errors") {
    forAll(Gen.containerOf[Array, Byte](Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) {
      (data: Array[Byte]) =>
        whenever(data.nonEmpty && data.length <= 2000) {
          val enc = ReedSolomon.encode(data, 10)
          assert(ReedSolomon.decode(enc, 10).map(_.toSeq).contains(data.toSeq))
        }
    }
  }

  test("RS corrects up to nsym/2 byte errors in one block") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 50) {
      val data = Array.fill[Byte](rnd.nextInt(200) + 20)(rnd.nextInt(256).toByte)
      val nsym = 10
      val enc = ReedSolomon.encode(data, nsym)
      val corrupted = enc.clone()
      val nErr = rnd.nextInt(nsym / 2) + 1
      val positions = rnd.shuffle((0 until enc.length).toList).take(nErr)
      positions.foreach { p =>
        corrupted(p) = (corrupted(p) ^ (rnd.nextInt(255) + 1)).toByte
      }
      assert(ReedSolomon.decode(corrupted, nsym).map(_.toSeq).contains(data.toSeq),
        s"failed with ${nErr} errors at $positions, len ${data.length}")
    }
  }

  test("RS detects (refuses) more than nsym/2 errors - usually") {
    val data = Array.fill[Byte](50)(7)
    val enc = ReedSolomon.encode(data, 4)
    val corrupted = enc.clone()
    (0 until 10).foreach(i => corrupted(i) = (corrupted(i) ^ 0x55).toByte)
    val out = ReedSolomon.decode(corrupted, 4)
    assert(out.isEmpty || out.get.toSeq != data.toSeq)
  }

  test("RS erasure mode corrects a full nsym of erasures at known positions") {
    // reedsolo parity (dna_encoding.py:261): with the positions known,
    // capacity doubles — up to nsym erasures, vs nsym/2 unknown errors
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 50) {
      val nsym = 10
      val data = Array.fill[Byte](rnd.nextInt(200) + 20)(rnd.nextInt(256).toByte)
      val enc = ReedSolomon.encode(data, nsym)
      val corrupted = enc.clone()
      val positions = rnd.shuffle((0 until enc.length).toList).take(nsym).sorted
      positions.foreach { p =>
        corrupted(p) = (corrupted(p) ^ (rnd.nextInt(255) + 1)).toByte
      }
      val out = ReedSolomon.decodeErrata(corrupted, nsym, positions)
      assert(out.map(_._1.toSeq).contains(data.toSeq),
        s"failed on $positions, len ${data.length}")
      // every corrupted position is reported as corrected errata
      assert(positions.toSet.subsetOf(out.get._2.toSet),
        s"errata ${out.get._2} misses some of $positions")
    }
  }

  test("RS erasures whose true byte is zero are still reported as errata") {
    // Zeroing the erasure positions makes the block clean (the original
    // bytes WERE zero) → all-zero syndromes. reedsolo still returns
    // erase_pos in errata_pos on that path; so must we.
    val nsym = 6
    val data = Array.fill[Byte](40)(0) // every byte zero
    val enc = ReedSolomon.encode(data, nsym)
    val corrupted = enc.clone()
    val erasures = Seq(2, 9, 17) // data region: true bytes are 0
    erasures.foreach(p => corrupted(p) = 0x7f)
    val out = ReedSolomon.decodeErrata(corrupted, nsym, erasures)
    assert(out.map(_._1.toSeq).contains(data.toSeq))
    assert(out.get._2.sorted == erasures)
  }

  test("RS mixed errata: e errors + f erasures correct while 2e + f <= nsym") {
    val rnd = new scala.util.Random(13)
    for (_ <- 1 to 50) {
      val nsym = 10
      val data = Array.fill[Byte](rnd.nextInt(180) + 20)(rnd.nextInt(256).toByte)
      val enc = ReedSolomon.encode(data, nsym)
      val e = rnd.nextInt(nsym / 2 + 1)          // unknown errors
      val f = rnd.nextInt(nsym - 2 * e + 1)      // known erasures
      val all = rnd.shuffle((0 until enc.length).toList).take(e + f)
      val (errs, erasures) = all.splitAt(e)
      val corrupted = enc.clone()
      all.foreach { p =>
        corrupted(p) = (corrupted(p) ^ (rnd.nextInt(255) + 1)).toByte
      }
      val out = ReedSolomon.decodeErrata(corrupted, nsym, erasures)
      assert(out.map(_._1.toSeq).contains(data.toSeq),
        s"failed with e=$e at $errs, f=$f at $erasures, len ${data.length}")
      assert(all.toSet.subsetOf(out.get._2.toSet))
    }
  }

  test("RS erasure mode refuses more than nsym erasures; multi-block positions map through") {
    val nsym = 10
    val data = Array.fill[Byte](60)(3)
    val enc = ReedSolomon.encode(data, nsym)
    assert(ReedSolomon.decodeErrata(enc, nsym, 0 to nsym).isEmpty)
    // chunked stream: corrupt one byte in each 255-byte block of a
    // 1000-byte message; errata come back in stream coordinates
    val big = Array.tabulate[Byte](1000)(i => (i % 251).toByte)
    val bigEnc = ReedSolomon.encode(big, nsym)
    val corrupted = bigEnc.clone()
    val posns = Seq(5, 255 + 17, 510 + 100)
    posns.foreach(p => corrupted(p) = (corrupted(p) ^ 0x3c).toByte)
    val out = ReedSolomon.decodeErrata(corrupted, nsym, posns)
    assert(out.map(_._1.toSeq).contains(big.toSeq))
    assert(posns.toSet.subsetOf(out.get._2.toSet))
  }

  test("RS errata positions are reported for error-only decode too") {
    val nsym = 8
    val data = Array.fill[Byte](100)(11)
    val enc = ReedSolomon.encode(data, nsym)
    val corrupted = enc.clone()
    val posns = Seq(3, 42, 77)
    posns.foreach(p => corrupted(p) = (corrupted(p) ^ 0x11).toByte)
    val out = ReedSolomon.decodeErrata(corrupted, nsym)
    assert(out.map(_._1.toSeq).contains(data.toSeq))
    assert(out.get._2.sorted == posns)
  }

  // ---- UTF-8 chunker (dna_encoding.py:282-305) ----

  test("chunker never splits a code point and covers all bytes") {
    // size ≥ 4 fits every UTF-8 code point, so each slice must decode
    forAll(Gen.asciiPrintableStr, Gen.chooseNum(4, 64)) { (base: String, size: Int) =>
      val text = base + "éàçùñ—😀" // force multi-byte content
      val parts = Utf8Chunker.chunkBytes(text, size)
      assert(parts.map(_.length).sum ==
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length)
      assert(parts.forall(p => p.length >= 1 && p.length <= size))
      // each slice independently decodes (no split code points)
      parts.foreach(p => assert(Utf8Chunker.decodeStrict(p).isDefined))
      assert(parts.map(p => Utf8Chunker.decodeStrict(p).get).mkString == text)
    }
  }

  test("chunk smaller than a code point yields invalid chunks that validation rejects (reference behavior)") {
    // dna_encoding.py:300-304 forces a 1-byte slice mid-code-point; the
    // strict decode in validate_chunk_integrity then rejects it.
    val chunks = DnaCodec.createDnaChunks("😀", 1, 4)
    assert(chunks.length == 4)
    assert(chunks.exists(!DnaCodec.validateChunkIntegrity(_)))
    assert(DnaCodec.processText("😀", 1, 4).status == "error")
  }

  test("chunker forces >=1 byte per chunk") {
    val parts = Utf8Chunker.chunkBytes("😀", 1) // 4-byte code point, size 1
    assert(parts.length == 4)
    assert(parts.forall(_.length == 1))
  }

  // ---- whole pipeline (dna_encoding.py:270-398, 416-476) ----

  test("createDnaChunks → reconstruct roundtrip, arbitrary unicode") {
    val pieceGen: Gen[String] = Gen.oneOf(
      Gen.alphaNumChar.map(_.toString),
      Gen.oneOf("é", "à", "ç", "ù", "ñ", "—", "中", "文", "😀", " ", "\n"))
    val gen = for {
      s <- Gen.listOf(pieceGen)
      size <- Gen.chooseNum(4, 4096) // ≥4 so every code point fits a chunk
    } yield (s.mkString, size)
    forAll(gen) { case (text: String, size: Int) =>
      val chunks = DnaCodec.createDnaChunks(text, size, 10)
      assert(chunks.forall(DnaCodec.validateChunkIntegrity))
      assert(DnaCodec.reconstructText(chunks) == text)
    }
  }

  test("chunk ids follow dna_chunk_%03d and indexes are sequential") {
    val chunks = DnaCodec.createDnaChunks("a" * 2500, 1000, 10)
    assert(chunks.map(_.chunkId) == Seq("dna_chunk_000", "dna_chunk_001", "dna_chunk_002"))
    assert(chunks.map(_.originalLengthBytes) == Seq(1000, 1000, 500))
  }

  test("processText produces a success report with matching checksums") {
    val r = DnaCodec.processText("Hello, DNA — éàçùñ 😀", 7, 4)
    assert(r.status == "success")
    assert(r.originalChecksum == r.reconstructedChecksum)
    assert(r.dnaChunksCount == r.chunks.length)
    assert(r.totalDnaBases == r.chunks.map(_.dnaSequence.length).sum)
  }

  // ---- table-driven kernels == slow oracles (bit identity) ----

  /** The reference's arbitrary-precision base-3 conversion
    * (`dna_encoding.py:47-76`), one divmod per trit.
    */
  private object Oracle {
    def bytesToTrits(data: Array[Byte]): Seq[Int] = {
      var v = BigInt(1, data)
      if (v == 0) return Seq(0)
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      while (v > 0) { out += (v % 3).toInt; v /= 3 }
      out.reverse.toSeq
    }

    def tritsToBytes(trits: Seq[Int], target: Int): Seq[Byte] = {
      val v = trits.foldLeft(BigInt(0))(_ * 3 + _)
      val raw = v.toByteArray.dropWhile(_ == 0) match {
        case a if a.isEmpty => Array[Byte](0)
        case a              => a
      }
      if (target <= 0) raw.toSeq
      else (Array.fill[Byte](math.max(0, target - raw.length))(0) ++ raw)
        .takeRight(target).toSeq
    }

    private val Bases = "ACGT"

    /** Linear scan over the alphabet minus the previous base. */
    def tritsToDna(trits: Seq[Int]): String = {
      var prev = ' '
      trits.zipWithIndex.map { case (t, i) =>
        val alphabet = if (i == 0) "ACG" else Bases.filter(_ != prev)
        prev = alphabet(t)
        prev
      }.mkString
    }

    def dnaToTrits(dna: String): Seq[Int] = {
      var prev = ' '
      dna.toUpperCase.zipWithIndex.map { case (b, i) =>
        val alphabet = if (i == 0) "ACG" else Bases.filter(_ != prev)
        prev = b
        math.max(alphabet.indexOf(b), 0)
      }
    }

    /** Bitwise GF(2^8) product over 0x11d, apart from the codec's tables. */
    private def mul(a: Int, b: Int): Int = {
      var (x, y, r) = (a, b, 0)
      while (y != 0) {
        if ((y & 1) != 0) r ^= x
        x <<= 1
        if ((x & 0x100) != 0) x ^= 0x11d
        y >>= 1
      }
      r
    }

    private def encodeBlock(block: Seq[Byte], nsym: Int): Seq[Byte] = {
      var gen = Seq(1)
      var root = 1
      for (_ <- 0 until nsym) {
        gen = (gen :+ 0).zip(0 +: gen.map(mul(_, root))).map { case (a, b) => a ^ b }
        root = mul(root, 2)
      }
      val rem = (block.map(_ & 0xff) ++ Seq.fill(nsym)(0)).toArray
      block.indices.foreach { i =>
        val c = rem(i)
        (1 to nsym).foreach(j => rem(i + j) ^= mul(gen(j), c))
      }
      block ++ rem.drop(block.length).map(_.toByte)
    }

    /** The reference's `protected[len(data):]` over the sub-block stream. */
    def rsParity(data: Array[Byte], nsym: Int): Seq[Byte] = {
      val k = 255 - nsym
      val blocks = if (data.length <= k) Seq(data.toSeq) else data.toSeq.grouped(k).toSeq
      blocks.flatMap(encodeBlock(_, nsym)).drop(data.length)
    }
  }

  /** Random bytes of length 0 to 1100, some with leading zero bytes,
    * some all zero.
    */
  private val byteArrays: Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(5)
    Seq.tabulate(120) { i =>
      val data = Array.fill[Byte](rnd.nextInt(1101))(rnd.nextInt(256).toByte)
      i % 6 match {
        case 0 => java.util.Arrays.fill(data, 0, math.min(rnd.nextInt(9), data.length), 0.toByte); data
        case 1 => new Array[Byte](data.length)
        case _ => data
      }
    } ++ Seq(Array.empty[Byte], Array[Byte](0), Array[Byte](0, 0, 1), Array.fill[Byte](1000)(-1))
  }

  test("base-3 kernels equal the BigInt oracle") {
    byteArrays.foreach { data =>
      val trits = Oracle.bytesToTrits(data)
      assert(Trits.bytesToTrits(data).toSeq == trits, s"len ${data.length}")
      for (target <- Seq(0, data.length, data.length + 3, math.max(1, data.length / 2)))
        assert(Trits.tritsToBytes(trits, target).toSeq == Oracle.tritsToBytes(trits, target),
          s"len ${data.length} target $target")
    }
  }

  test("Goldman kernels equal the alphabet-scan oracle") {
    byteArrays.foreach { data =>
      val dna = Oracle.tritsToDna(Oracle.bytesToTrits(data))
      assert(Goldman.bytesToDna(data) == dna, s"len ${data.length}")
      assert(new String(Goldman.bytesToDnaAscii(data), "US-ASCII") == dna)
      val bytes = Oracle.tritsToBytes(Oracle.dnaToTrits(dna), data.length)
      assert(Goldman.dnaToBytes(dna, data.length).toSeq == bytes)
      assert(Goldman.dnaAsciiToBytes(dna.getBytes("US-ASCII"), data.length).toSeq == bytes)
      if (data.nonEmpty) assert(bytes == data.toSeq)
    }
    val rnd = new scala.util.Random(9)
    for (_ <- 1 to 200) {
      val trits = Seq.fill(rnd.nextInt(60))(rnd.nextInt(3))
      assert(Goldman.tritsToDna(trits) == Oracle.tritsToDna(trits))
    }
  }

  test("Goldman decode equals the oracle on lowercase, unknown and non-ASCII bases") {
    val rnd = new scala.util.Random(11)
    val alphabet = "ACGTacgtXN-?ßŉıé中😀".codePoints.toArray.toSeq
    val inputs = Seq("", "T", "X", "XT", "acgt", "ACXT", "ßACG", "AßT", "ŉA", "ıT", "Ga😀Tc") ++
      Seq.fill(300) {
        val cps = Seq.fill(rnd.nextInt(50))(alphabet(rnd.nextInt(alphabet.length)))
        new String(cps.toArray, 0, cps.length)
      }
    assert(Goldman.dnaToTrits("XT").toSeq == Seq(0, 3)) // T after an unknown base
    inputs.foreach { dna =>
      val trits = Oracle.dnaToTrits(dna)
      assert(Goldman.dnaToTrits(dna).toSeq == trits, dna)
      for (target <- Seq(0, 1, 4, 12))
        assert(Goldman.dnaToBytes(dna, target).toSeq == Oracle.tritsToBytes(trits, target),
          s"$dna target $target")
    }
  }

  test("RS parity equals the reference's stream suffix for 1 to 5 sub-blocks") {
    val rnd = new scala.util.Random(3)
    val blockCounts = scala.collection.mutable.Set.empty[Int]
    byteArrays.foreach { data =>
      val nsym = Seq(2, 4, 10, 16, 32)(rnd.nextInt(5))
      blockCounts += math.max(1, math.ceil(data.length.toDouble / (255 - nsym)).toInt)
      val expected = Oracle.rsParity(data, nsym)
      assert(ReedSolomon.parity(data, nsym).toSeq == expected, s"len ${data.length} nsym $nsym")
      assert(ReedSolomon.encode(data, nsym).drop(data.length).toSeq == expected)
    }
    assert((1 to 5).forall(blockCounts), blockCounts)
  }

  test("hex encoder equals per-byte %02x formatting") {
    byteArrays.take(20).foreach { data =>
      assert(DnaCodec.hex(data) == data.map(b => f"${b & 0xff}%02x").mkString)
    }
    val all = Array.tabulate[Byte](256)(_.toByte)
    assert(DnaCodec.md5Hex(all) ==
      java.security.MessageDigest.getInstance("MD5").digest(all).map(b => f"${b & 0xff}%02x").mkString)
  }

  test("processText keeps a failing file's chunks and reports it as the reference does") {
    val r = DnaCodec.processText("a😀b", 2, 4)
    assert(r.status == "error" && r.dnaChunksCount == 0 && r.totalDnaBases == 0)
    assert(r.chunks.map(c => (c.chunkId, c.dnaSequence, c.checksum, c.errorCorrectionCode.toSeq)) ==
      DnaCodec.createDnaChunks("a😀b", 2, 4)
        .map(c => (c.chunkId, c.dnaSequence, c.checksum, c.errorCorrectionCode.toSeq)))
  }

  test("golden: reference sample files roundtrip byte-identically") {
    val inputDir = new java.io.File("/root/reference/data/input")
    val files = Option(inputDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".txt"))
    assert(files.nonEmpty, "reference sample inputs missing")
    files.foreach { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      val r = DnaCodec.processText(text, 1000, 10)
      assert(r.status == "success", s"${f.getName}: ${r.errorMessage}")
      assert(DnaCodec.reconstructText(r.chunks) == text, f.getName)
    }
  }
}
