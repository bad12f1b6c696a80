package graft.codec

/** Append-only bit stream writer (MSB-first within each long word). */
final class BitWriter(initialWords: Int = 16) {
  private var words = new Array[Long](initialWords)
  private var bitLen = 0L

  def writeBit(b: Int): Unit = writeBits(b.toLong & 1L, 1)

  /** Write the low `n` bits of `v` (1 <= n <= 64), most significant first. */
  def writeBits(v: Long, n: Int): Unit = {
    require(n >= 1 && n <= 64)
    val value = if (n == 64) v else v & ((1L << n) - 1)
    var wordIdx = (bitLen >>> 6).toInt
    val bitIdx = (bitLen & 63).toInt
    if (wordIdx + 2 >= words.length) {
      words = java.util.Arrays.copyOf(words, words.length * 2 + 2)
    }
    val free = 64 - bitIdx
    if (n <= free) {
      words(wordIdx) |= (if (n == 64 && bitIdx == 0) value
                         else (value << (free - n)))
    } else {
      val hi = n - free // bits that spill to the next word
      words(wordIdx) |= (value >>> hi)
      wordIdx += 1
      words(wordIdx) |= (value << (64 - hi))
    }
    bitLen += n
  }

  def toBytes: Array[Byte] = {
    val nBytes = ((bitLen + 7) / 8).toInt
    val out = new Array[Byte](nBytes)
    var i = 0
    while (i < nBytes) {
      val w = words(i >>> 3)
      out(i) = ((w >>> (56 - 8 * (i & 7))) & 0xff).toByte
      i += 1
    }
    out
  }
}

/** Bit stream reader matching [[BitWriter]]'s layout. */
final class BitReader(bytes: Array[Byte]) {
  private var pos = 0L
  private val nBits = bytes.length.toLong * 8

  def readBit(): Int = readBits(1).toInt

  def readBits(n: Int): Long = {
    require(n >= 1 && n <= 64 && pos + n <= nBits, s"read past end ($pos + $n > $nBits)")
    var v = 0L
    var left = n
    while (left > 0) {
      val byteIdx = (pos >>> 3).toInt
      val bitIdx = (pos & 7).toInt
      val avail = 8 - bitIdx
      val take = math.min(left, avail)
      val b = bytes(byteIdx) & 0xff
      val chunk = (b >>> (avail - take)) & ((1 << take) - 1)
      v = (v << take) | chunk
      pos += take
      left -= take
    }
    v
  }
}
