package graft.codec

import java.nio.charset.StandardCharsets

/** Goldman rotation-code DNA mapping — 1 base per trit, never repeating
  * the previous base, so encoded sequences contain no homopolymers.
  *
  * Semantics match the reference exactly
  * (`plugins/utils/dna_encoding.py:132-204`):
  *   - first trit maps over `{A,C,G}` only (`dna_encoding.py:151-153`);
  *   - subsequent trits map over the three bases ≠ previous, in
  *     `A,C,G,T` order (`dna_encoding.py:155-157`);
  *   - decode uppercases its input and maps unknown bases to trit 0
  *     (`dna_encoding.py:178-188`), still advancing `previous` to the
  *     unknown character itself (so a garbage base never matches the
  *     "minus previous" alphabet either, and the base after it maps
  *     over all four letters: a `T` there decodes to 3).
  *
  * Both directions are table lookups over a base index
  * (A = 0, C = 1, G = 2, T = 3, anything else = 4). The first trit maps
  * as if the previous base were `T`, since {A,C,G} is exactly the
  * alphabet minus `T`.
  */
object Goldman {
  private val Ascii: Array[Byte] = "ACGT".getBytes(StandardCharsets.US_ASCII)
  private final val Start = 3 // the first trit maps as if after a T

  /** Next(previous * 3 + trit): index of the trit-th base ≠ previous. */
  private val Next: Array[Int] =
    Array.tabulate(12) { i => val t = i % 3; if (t < i / 3) t else t + 1 }

  /** Base index of a byte: ACGT in either case, 4 for anything else. */
  private val Index: Array[Int] = Array.tabulate(256) { b =>
    "ACGTacgt".indexOf(b.toChar) match { case -1 => 4; case i => i % 4 }
  }

  /** Trit(previous * 5 + base): the base's position in the alphabet
    * minus `previous` (all four letters after an unknown base), 0 for an
    * unknown base or a repeat of `previous`.
    */
  private val Trit: Array[Int] = Array.tabulate(25) { i =>
    val (prev, base) = (i / 5, i % 5)
    if (base == 4 || base == prev) 0
    else if (base < prev) base
    else base - 1
  }

  def tritsToDna(trits: Seq[Int]): String = {
    val out = new Array[Byte](trits.length)
    var prev = Start
    var p = 0
    trits.foreach { t =>
      prev = Next(prev * 3 + t % 3)
      out(p) = Ascii(prev)
      p += 1
    }
    new String(out, StandardCharsets.US_ASCII)
  }

  /** Bytes → DNA as ASCII bytes: each base-3^19 superdigit of the chunk
    * is expanded straight into bases, with no trit array for the whole
    * chunk (`dna_encoding.py:196-199`).
    */
  def bytesToDnaAscii(data: Array[Byte]): Array[Byte] = {
    val sd = Trits.superdigits(data)
    val top = sd.length - 1
    val total = top * Trits.RadixTrits + Trits.tritCount(sd(top))
    val out = new Array[Byte](total)
    val digits = new Array[Int](Trits.RadixTrits)
    var prev = Start
    var p = 0
    var s = top
    while (s >= 0) {
      val k = if (s == top) total - top * Trits.RadixTrits else Trits.RadixTrits
      var v = sd(s)
      var i = k - 1
      while (i >= 0) { digits(i) = v % 3; v /= 3; i -= 1 }
      i = 0
      while (i < k) {
        prev = Next(prev * 3 + digits(i))
        out(p) = Ascii(prev)
        p += 1; i += 1
      }
      s -= 1
    }
    out
  }

  /** Bytes → trits → DNA (`dna_encoding.py:196-199`). */
  def bytesToDna(data: Array[Byte]): String =
    new String(bytesToDnaAscii(data), StandardCharsets.US_ASCII)

  /** `dna` as ASCII bytes that index like the reference's `upper()` of
    * it. ASCII input is taken as is (every locale uppercases `acgt` to
    * `ACGT` and keeps an ASCII string's length); other input is
    * uppercased first, which may change its length, and what is still
    * not ASCII becomes `?`, an unknown base.
    */
  private def asciiBases(dna: String): Array[Byte] = {
    var ascii = true
    var i = 0
    while (ascii && i < dna.length) { ascii = dna.charAt(i) < 128; i += 1 }
    if (ascii) dna.getBytes(StandardCharsets.US_ASCII)
    else dna.toUpperCase.map(c => if (c < 128) c else '?')
      .getBytes(StandardCharsets.US_ASCII)
  }

  def dnaToTrits(dna: String): Array[Int] = {
    val bases = asciiBases(dna)
    val out = new Array[Int](bases.length)
    var prev = Start
    var i = 0
    while (i < bases.length) {
      val b = Index(bases(i) & 0xff)
      out(i) = Trit(prev * 5 + b)
      prev = b
      i += 1
    }
    out
  }

  /** ASCII DNA → fixed-width bytes: 19 bases fold into one base-3^19
    * superdigit, then one Horner walk per superdigit
    * (`dna_encoding.py:201-204`).
    */
  def dnaAsciiToBytes(dna: Array[Byte], targetLengthBytes: Int): Array[Byte] = {
    val n = dna.length
    val groups = new Array[Long]((n + Trits.RadixTrits - 1) / Trits.RadixTrits)
    var prev = Start
    var i = 0
    var g = 0
    var end = if (n % Trits.RadixTrits == 0) Trits.RadixTrits else n % Trits.RadixTrits
    while (i < n) {
      var gv = 0L
      while (i < end) {
        val b = Index(dna(i) & 0xff)
        gv = gv * 3 + Trit(prev * 5 + b)
        prev = b
        i += 1
      }
      groups(g) = gv
      g += 1
      end += Trits.RadixTrits
    }
    Trits.fromSuperdigits(groups, n, targetLengthBytes)
  }

  /** DNA → trits → fixed-width bytes (`dna_encoding.py:201-204`). */
  def dnaToBytes(dna: String, targetLengthBytes: Int): Array[Byte] =
    dnaAsciiToBytes(asciiBases(dna), targetLengthBytes)

  /** Adjacent-repeat check (`dna_encoding.py:223`); encode guarantees
    * this is false for every sequence it emits.
    */
  def hasHomopolymers(dna: String): Boolean = {
    var i = 0
    while (i + 1 < dna.length) {
      if (dna.charAt(i) == dna.charAt(i + 1)) return true
      i += 1
    }
    false
  }
}
