package graft.codec

/** Base-3 (trit) codecs over big-endian byte blocks.
  *
  * Semantics match the reference exactly
  * (`plugins/utils/dna_encoding.py:47-130`):
  *   - empty input and zero both encode to the single trit `[0]`
  *     (`dna_encoding.py:49-54`);
  *   - the whole block is one big-endian unsigned integer, so leading
  *     zero bytes collapse on encode and are restored on decode via the
  *     caller-supplied fixed width (`dna_encoding.py:63-76`);
  *   - decode left-pads to `targetLengthBytes` and keeps the low-order
  *     bytes if the value is wider (`dna_encoding.py:71-76`).
  */
object Trits {

  /** Bytes → base-3 digits, most-significant trit first. */
  def bytesToTrits(data: Array[Byte]): Array[Int] = {
    val sd = superdigits(data)
    val top = sd.length - 1
    val total = top * RadixTrits + tritCount(sd(top))
    val arr = new Array[Int](total)
    var p = total - 1
    var s = 0
    while (s <= top) {
      var v = sd(s)
      val k = if (s == top) total - top * RadixTrits else RadixTrits
      var c = 0
      while (c < k) { arr(p) = v % 3; v /= 3; p -= 1; c += 1 }
      s += 1
    }
    arr
  }

  private[codec] final val RadixTrits = 19
  private final val Radix = 1162261467L // 3^19 < 2^31

  /** 3^k for k in [0, 19]. */
  private val Pow3: Array[Long] = Array.iterate(1L, RadixTrits + 1)(_ * 3)

  /** Trits a superdigit needs at its minimal width (at least one). */
  private[codec] def tritCount(superdigit: Int): Int = {
    var v = superdigit
    var n = 1
    while (v >= 3) { v /= 3; n += 1 }
    n
  }

  /** The big-endian unsigned value of `data` in base 3^19, least
    * significant superdigit first, with no leading zero superdigit
    * (`[0]` for an empty or all-zero input). Each superdigit expands to
    * 19 trits (the most significant one to [[tritCount]] trits), so the
    * digit sequence is the reference's one-divmod-per-trit loop
    * (`dna_encoding.py:47-61`).
    *
    * Repeated division of a base-2³² limb array by 3^19. Each walk over
    * the limbs divides four times: each division consumes the previous
    * one's quotient limb as soon as it exists, so the four remainder
    * chains run side by side and a walk yields four superdigits.
    */
  private[codec] def superdigits(data: Array[Byte]): Array[Int] = {
    if (data.isEmpty) return Array(0)
    val nl = (data.length + 3) / 4
    val limbs = new Array[Int](nl) // big-endian base-2^32
    val lead = data.length - (nl - 1) * 4
    var acc = 0
    var i = 0
    while (i < lead) { acc = (acc << 8) | (data(i) & 0xff); i += 1 }
    limbs(0) = acc
    var li = 1
    while (li < nl) {
      limbs(li) = ((data(i) & 0xff) << 24) | ((data(i + 1) & 0xff) << 16) |
        ((data(i + 2) & 0xff) << 8) | (data(i + 3) & 0xff)
      i += 4; li += 1
    }
    var start = 0
    while (start < nl && limbs(start) == 0) start += 1
    if (start == nl) return Array(0)
    // 32 bits per limb over log2(3^19) ≈ 30.1 bits per superdigit,
    // plus the zeros a final walk may add
    val out = new Array[Int](nl * 12 / 11 + 5)
    var n = 0
    while (start < nl) {
      var r0, r1, r2, r3 = 0L
      var j = start
      while (j < nl) {
        var c = (r0 << 32) | (limbs(j) & 0xffffffffL)
        var q = c / Radix; r0 = c - q * Radix
        c = (r1 << 32) | q; q = c / Radix; r1 = c - q * Radix
        c = (r2 << 32) | q; q = c / Radix; r2 = c - q * Radix
        c = (r3 << 32) | q; q = c / Radix; r3 = c - q * Radix
        limbs(j) = q.toInt
        j += 1
      }
      out(n) = r0.toInt; out(n + 1) = r1.toInt; out(n + 2) = r2.toInt; out(n + 3) = r3.toInt
      n += 4
      while (start < nl && limbs(start) == 0) start += 1
    }
    while (n > 1 && out(n - 1) == 0) n -= 1 // the value ran out mid-walk
    java.util.Arrays.copyOf(out, n)
  }

  /** Trits → fixed-width big-endian bytes (left-pad zeros / keep the
    * low-order `targetLengthBytes` bytes when wider; minimal width, at
    * least one byte, when `targetLengthBytes <= 0`).
    */
  def tritsToBytes(trits: Seq[Int], targetLengthBytes: Int): Array[Byte] = {
    val n = trits.length
    val groups = new Array[Long]((n + RadixTrits - 1) / RadixTrits)
    val it = trits.iterator
    var g = 0
    var left = if (n % RadixTrits == 0) RadixTrits else n % RadixTrits
    var gv = 0L
    while (it.hasNext) {
      gv = gv * 3 + it.next()
      left -= 1
      if (left == 0) { groups(g) = gv; g += 1; gv = 0; left = RadixTrits }
    }
    fromSuperdigits(groups, n, targetLengthBytes)
  }

  /** Horner evaluation of `nTrits` trits folded most-significant first
    * into base-3^19 groups (the first group holds `nTrits % 19` trits
    * when that is not zero), written as fixed-width big-endian bytes
    * like [[tritsToBytes]]. One multiply-add walk over base-2³² limbs
    * per group (`dna_encoding.py:63-76`).
    */
  private[codec] def fromSuperdigits(groups: Array[Long], nTrits: Int,
      targetLengthBytes: Int): Array[Byte] = {
    var limbs = new Array[Int](nTrits / 16 + 2) // little-endian base-2^32
    var used = 1
    var gi = 0
    while (gi < groups.length) {
      val mult =
        if (gi == 0 && nTrits % RadixTrits != 0) Pow3(nTrits % RadixTrits) else Radix
      var carry = groups(gi)
      var j = 0
      while (j < used) {
        val cur = (limbs(j) & 0xffffffffL) * mult + carry
        limbs(j) = cur.toInt
        carry = cur >>> 32
        j += 1
      }
      while (carry != 0) {
        if (used == limbs.length) limbs = java.util.Arrays.copyOf(limbs, used * 2)
        limbs(used) = carry.toInt
        carry = carry >>> 32
        used += 1
      }
      gi += 1
    }
    @inline def byteAt(k: Int): Byte = // k-th byte from the least significant end
      if (k / 4 < used) (limbs(k / 4) >>> (8 * (k % 4))).toByte else 0
    val width =
      if (targetLengthBytes > 0) targetLengthBytes
      else {
        var w = used * 4
        while (w > 1 && byteAt(w - 1) == 0) w -= 1
        w
      }
    val out = new Array[Byte](width)
    var k = 0
    while (k < width) { out(width - 1 - k) = byteAt(k); k += 1 }
    out
  }

  /** Bit-string → trits (legacy path, `dna_encoding.py:78-104`; dead on
    * the reference pipeline but part of its public codec surface).
    */
  def binaryToTrits(binaryString: String): Array[Int] = {
    var value = BigInt(binaryString, 2)
    if (value == 0) return Array(0)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (value > 0) {
      buf += (value % 3).toInt
      value /= 3
    }
    buf.reverseIterator.toArray
  }

  /** Trits → bit-string, zero-filled to `targetBitLength` when given
    * (`dna_encoding.py:106-130`).
    */
  def tritsToBinary(trits: Seq[Int], targetBitLength: Int = -1): String = {
    var value = BigInt(0)
    trits.foreach(t => value = value * 3 + t)
    val s = value.toString(2)
    if (targetBitLength > 0 && s.length < targetBitLength)
      ("0" * (targetBitLength - s.length)) + s
    else s
  }
}
