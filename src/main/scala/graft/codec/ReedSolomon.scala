package graft.codec

/** Reed–Solomon over GF(2^8), parameter-compatible with the codec the
  * reference uses (`reedsolo==1.7.0`, `requirements.txt:39`; configured
  * with `nsym = error_correction_symbols` at `dna_encoding.py:45`):
  * primitive polynomial 0x11d, generator α = 2, fcr = 0, block size 255.
  *
  * Like the reference codec, `encode` splits messages longer than
  * `255 - nsym` into sub-blocks and appends `nsym` parity bytes to each
  * sub-block inline; `parity` returns the byte suffix the reference
  * stores as `error_correction_code` (`dna_encoding.py:324` slices
  * `protected[len(data):]`, i.e. the last `nsym * nBlocks` bytes of the
  * interleaved stream). `decode` corrects up to ⌊nsym/2⌋ byte errors per
  * sub-block (`dna_encoding.py:250-268` — dead code in the reference
  * pipeline but part of its public codec surface).
  *
  * Implemented from the standard textbook construction (syndromes →
  * Berlekamp–Massey → Chien search → Forney), public knowledge.
  */
object ReedSolomon {
  private val Prim = 0x11d
  private val Exp = new Array[Int](512)
  private val Log = new Array[Int](256)
  locally {
    var x = 1
    var i = 0
    while (i < 255) {
      Exp(i) = x
      Log(x) = i
      x <<= 1
      if ((x & 0x100) != 0) x ^= Prim
      i += 1
    }
    i = 255
    while (i < 512) { Exp(i) = Exp(i - 255); i += 1 }
  }

  @inline private def gfMul(a: Int, b: Int): Int =
    if (a == 0 || b == 0) 0 else Exp(Log(a) + Log(b))

  @inline private def gfDiv(a: Int, b: Int): Int = {
    require(b != 0, "division by zero in GF(256)")
    if (a == 0) 0 else Exp((Log(a) + 255 - Log(b)) % 255)
  }

  @inline private def gfPow(a: Int, n: Int): Int =
    Exp(((Log(a) * n) % 255 + 255) % 255)

  @inline private def gfInv(a: Int): Int = Exp(255 - Log(a))

  private def polyMul(p: Array[Int], q: Array[Int]): Array[Int] = {
    val r = new Array[Int](p.length + q.length - 1)
    var i = 0
    while (i < p.length) {
      var j = 0
      while (j < q.length) {
        r(i + j) ^= gfMul(p(i), q(j))
        j += 1
      }
      i += 1
    }
    r
  }

  private def polyEval(p: Array[Int], x: Int): Int = {
    var y = p(0)
    var i = 1
    while (i < p.length) {
      y = gfMul(y, x) ^ p(i)
      i += 1
    }
    y
  }

  /** Generator polynomial ∏ (x - α^i), i in [0, nsym) (fcr = 0). */
  private val genCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Int]]()

  def generatorPoly(nsym: Int): Array[Int] =
    genCache.computeIfAbsent(nsym, { n =>
      var g = Array(1)
      var i = 0
      while (i < n) {
        g = polyMul(g, Array(1, gfPow(2, i)))
        i += 1
      }
      g
    })

  /** Products(nsym)(coef * nsym + j - 1) = gen(j) · coef: the generator
    * coefficients' GF(2^8) multiplication table, one row per coefficient
    * value.
    */
  private val productsCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Byte]]()

  private def products(nsym: Int): Array[Byte] =
    productsCache.computeIfAbsent(nsym, { n =>
      val gen = generatorPoly(n)
      val t = new Array[Byte](256 * n)
      var c = 0
      while (c < 256) {
        var j = 1
        while (j <= n) { t(c * n + j - 1) = gfMul(gen(j), c).toByte; j += 1 }
        c += 1
      }
      t
    })

  /** Parity of `data[off, off + len)` (one block) into
    * `dst[dstOff, dstOff + nsym)`: synthetic division by the generator,
    * one table row per data byte.
    */
  private def blockParity(data: Array[Byte], off: Int, len: Int, nsym: Int,
      dst: Array[Byte], dstOff: Int): Unit = {
    require(len + nsym <= 255, s"block too long: $len + $nsym > 255")
    val t = products(nsym)
    val rem = new Array[Byte](len + nsym)
    System.arraycopy(data, off, rem, 0, len)
    var i = 0
    while (i < len) {
      val row = (rem(i) & 0xff) * nsym
      if (row != 0) {
        var j = 0
        while (j < nsym) { rem(i + 1 + j) = (rem(i + 1 + j) ^ t(row + j)).toByte; j += 1 }
      }
      i += 1
    }
    System.arraycopy(rem, len, dst, dstOff, nsym)
  }

  /** Systematic encode of one block (≤ 255 - nsym data bytes):
    * returns data ++ nsym parity bytes.
    */
  def encodeBlock(data: Array[Byte], nsym: Int): Array[Byte] = {
    val out = java.util.Arrays.copyOf(data, data.length + nsym)
    blockParity(data, 0, data.length, nsym, out, data.length)
    out
  }

  /** Chunked encode: splits at 255 - nsym, each sub-block gets its own
    * inline parity (matches the reference codec's behavior for the
    * default 1000-byte chunks, which exceed one RS block).
    */
  def encode(data: Array[Byte], nsym: Int): Array[Byte] = {
    val blockData = 255 - nsym
    if (data.length <= blockData) encodeBlock(data, nsym)
    else data.grouped(blockData).flatMap(encodeBlock(_, nsym)).toArray
  }

  /** The parity suffix the reference stores as `error_correction_code`:
    * the last `encoded.length - data.length` bytes of the encoded
    * stream (`dna_encoding.py:324`). That suffix is not the blocks'
    * parities side by side: it starts at stream offset `data.length`,
    * so it holds the tail of a late block's data too. Only the blocks
    * that reach into it are encoded (2 of 5 for a 1000-byte chunk at
    * nsym 10).
    */
  def parity(data: Array[Byte], nsym: Int): Array[Byte] = {
    val blockData = 255 - nsym
    val n = data.length
    val nBlocks = if (n <= blockData) 1 else (n + blockData - 1) / blockData
    val out = new Array[Byte](nBlocks * nsym)
    val parityBlock = new Array[Byte](nsym)
    // block b sits at stream offset b * 255: its data, then its parity
    var b = nBlocks - 1
    while (b >= 0 && b * 255 + math.min(blockData, n - b * blockData) + nsym > n) {
      val len = math.min(blockData, n - b * blockData)
      val blockStart = b * 255
      blockParity(data, b * blockData, len, nsym, parityBlock, 0)
      // the block's data bytes at stream offsets >= n, then its parity
      val dataFrom = math.max(n - blockStart, 0)
      if (dataFrom < len)
        System.arraycopy(data, b * blockData + dataFrom, out, blockStart + dataFrom - n, len - dataFrom)
      val parityAt = blockStart + len - n
      val parityFrom = math.max(-parityAt, 0)
      System.arraycopy(parityBlock, parityFrom, out, parityAt + parityFrom, nsym - parityFrom)
      b -= 1
    }
    out
  }

  private def syndromes(block: Array[Int], nsym: Int): Array[Int] = {
    val s = new Array[Int](nsym)
    var i = 0
    while (i < nsym) {
      s(i) = polyEval(block, gfPow(2, i))
      i += 1
    }
    s
  }

  private def polyAdd(p: Array[Int], q: Array[Int]): Array[Int] = {
    val r = new Array[Int](math.max(p.length, q.length))
    var i = 0
    while (i < p.length) { r(i + r.length - p.length) ^= p(i); i += 1 }
    i = 0
    while (i < q.length) { r(i + r.length - q.length) ^= q(i); i += 1 }
    r
  }

  /** Forney syndromes: fold each known-erasure root into the syndrome
    * sequence so Berlekamp–Massey sees only the UNKNOWN errors. After
    * folding f erasures, the first `nsym - f` entries are the modified
    * syndromes BM may use.
    */
  private def forneySyndromes(synd: Array[Int], erasePos: Seq[Int],
      n: Int): Array[Int] = {
    val fsynd = synd.clone()
    erasePos.foreach { p =>
      val x = gfPow(2, n - 1 - p)
      var j = 0
      while (j < fsynd.length - 1) {
        fsynd(j) = gfMul(fsynd(j), x) ^ fsynd(j + 1)
        j += 1
      }
    }
    fsynd
  }

  /** Correct one encoded block (data+parity, ≤255 bytes) given
    * optional known-erasure positions; returns the corrected data part
    * plus the errata positions corrected (the known erasures and the
    * located unknown errors, block-relative, sorted) —
    * the `(decoded, errata_pos)` surface of the reference codec's
    * `rs_codec.decode` (`plugins/utils/dna_encoding.py:261`, reedsolo
    * 1.7.0). Capacity: f erasures + e errors correctable while
    * 2e + f ≤ nsym. Textbook construction throughout: syndromes →
    * Forney syndromes → Berlekamp–Massey → Chien search → errata
    * locator from known positions → Forney with the product-form Λ'
    * (Wikiversity "RS codes for coders", the same public algorithm the
    * reference codec uses).
    */
  def decodeBlockErrata(encoded: Array[Byte], nsym: Int,
      erasePos: Seq[Int] = Nil): Option[(Array[Byte], Seq[Int])] = {
    val block = encoded.map(_ & 0xff)
    require(erasePos.forall(p => p >= 0 && p < block.length),
      s"erasure position out of block range [0, ${block.length})")
    if (erasePos.length > nsym) return None // beyond capacity by construction
    val erasures = erasePos.distinct
    erasures.foreach(block(_) = 0) // erasure convention: zero, then solve
    val synd = syndromes(block, nsym) // synd(i) = S_i, i in [0, nsym)
    if (synd.forall(_ == 0))
      // Clean after zeroing the erasures (the erased bytes WERE zero).
      // reedsolo still reports erase_pos in errata_pos, so do the same.
      return Some((block.dropRight(nsym).map(_.toByte), erasures.sorted))

    // Berlekamp–Massey over the Forney syndromes (erasure roots folded
    // out), iterating only the nsym - f informative entries
    // (coefficients high-to-low; delta taps low-order end)
    val fsynd = forneySyndromes(synd, erasures, block.length)
    var errLoc = Array(1)
    var oldLoc = Array(1)
    var i = 0
    while (i < nsym - erasures.length) {
      var delta = fsynd(i)
      var j = 1
      while (j < errLoc.length) {
        delta ^= gfMul(errLoc(errLoc.length - 1 - j), fsynd(i - j))
        j += 1
      }
      oldLoc = oldLoc :+ 0
      if (delta != 0) {
        if (oldLoc.length > errLoc.length) {
          val newLoc = oldLoc.map(gfMul(_, delta))
          oldLoc = errLoc.map(gfMul(_, gfInv(delta)))
          errLoc = newLoc
        }
        errLoc = polyAdd(errLoc, oldLoc.map(gfMul(_, delta)))
      }
      i += 1
    }
    errLoc = errLoc.dropWhile(_ == 0) match {
      case a if a.isEmpty => Array(1)
      case a              => a
    }
    val nErrors = errLoc.length - 1
    if (nErrors * 2 + erasures.length > nsym) return None

    // Chien search over message positions: the REVERSED locator has its
    // root for coefficient position c at x = α^c
    val errLocRev = errLoc.reverse
    val errPos = scala.collection.mutable.ArrayBuffer.empty[Int]
    i = 0
    while (i < block.length) {
      if (polyEval(errLocRev, gfPow(2, i)) == 0)
        errPos += block.length - 1 - i
      i += 1
    }
    if (errPos.length != nErrors) return None

    // Errata = known erasures + located errors. Build the combined
    // locator in normalized product form ∏(1 + X_i·x) directly from
    // the positions — Forney's magnitudes then use its roots.
    val errataPos = (erasures ++ errPos).distinct.sorted
    val coefPos = errataPos.map(p => block.length - 1 - p)
    val errataLoc = coefPos
      .map(c => Array(gfPow(2, c), 1))
      .foldLeft(Array(1))(polyMul)
    // Ω(x) = (S(x)·x)·Λ(x) mod x^{e+1}; the extra x factor (the codec's
    // zero-pad convention) cancels the Xi multiplier in the numerator
    val syndPoly = synd.reverse :+ 0 // high-to-low: S_{nsym-1} ... S_0, 0
    val prod = polyMul(syndPoly, errataLoc)
    val omega = prod.drop(prod.length - (errataLoc.length - 1) - 1)
    val xs = coefPos.map(c => gfPow(2, c)).toArray
    var k = 0
    while (k < xs.length) {
      val xi = xs(k)
      val xiInv = gfInv(xi)
      var lambdaPrime = 1
      var j = 0
      while (j < xs.length) {
        if (j != k) lambdaPrime = gfMul(lambdaPrime, 1 ^ gfMul(xiInv, xs(j)))
        j += 1
      }
      if (lambdaPrime == 0) return None
      val y = gfMul(xi, polyEval(omega, xiInv))
      block(errataPos(k)) ^= gfDiv(y, lambdaPrime)
      k += 1
    }
    if (syndromes(block, nsym).exists(_ != 0)) None
    else Some((block.dropRight(nsym).map(_.toByte), errataPos))
  }

  /** Chunked erasure-aware decode+correct: inverse of [[encode]], with
    * erasure positions given in ENCODED-stream coordinates; returns
    * the corrected data and the stream-coordinate errata positions.
    */
  def decodeErrata(encoded: Array[Byte], nsym: Int,
      erasePos: Seq[Int] = Nil): Option[(Array[Byte], Seq[Int])] = {
    if (encoded.length <= 255) decodeBlockErrata(encoded, nsym, erasePos)
    else {
      val byBlock = erasePos.groupBy(_ / 255)
      val blocks = encoded.grouped(255).zipWithIndex.map { case (b, bi) =>
        decodeBlockErrata(b, nsym, byBlock.getOrElse(bi, Nil).map(_ % 255))
          .map { case (data, pos) => (data, pos.map(_ + bi * 255)) }
      }.toSeq
      if (blocks.exists(_.isEmpty)) None
      else Some((blocks.flatMap(_.get._1).toArray, blocks.flatMap(_.get._2)))
    }
  }

  /** Chunked decode+correct: inverse of [[encode]]. */
  def decode(encoded: Array[Byte], nsym: Int): Option[Array[Byte]] =
    decodeErrata(encoded, nsym).map(_._1)
}
