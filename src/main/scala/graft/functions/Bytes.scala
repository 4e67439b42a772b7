package graft.functions

/**
 * Byte-order readers and writers over `Array[Byte]`, shared by every
 * container parser and fixture encoder. No bounds checks: each parser
 * keeps its own length checks (and its null-on-truncation contract).
 * `U` readers are unsigned (a u32 widens to a non-negative Long), `I`
 * readers keep the sign.
 */
object Bytes {

  def leU16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  def leI32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
  def leU32(b: Array[Byte], i: Int): Long = leI32(b, i) & 0xffffffffL
  def leU64(b: Array[Byte], i: Int): Long = leU32(b, i) | (leU32(b, i + 4) << 32)

  def beU16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  def beI32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
  def beU32(b: Array[Byte], i: Int): Long = beI32(b, i) & 0xffffffffL
  def beU64(b: Array[Byte], i: Int): Long = (beU32(b, i) << 32) | beU32(b, i + 4)

  /** Writes the low 16 bits of `v` little-endian at `b(i)`. */
  def putLe16(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = v.toByte; b(i + 1) = (v >>> 8).toByte
  }
  /** Writes `v` little-endian at `b(i)`. */
  def putLe32(b: Array[Byte], i: Int, v: Int): Unit = {
    putLe16(b, i, v); putLe16(b, i + 2, v >>> 16)
  }
  /** Writes `v` little-endian at `b(i)`. */
  def putLe64(b: Array[Byte], i: Int, v: Long): Unit = {
    putLe32(b, i, v.toInt); putLe32(b, i + 4, (v >>> 32).toInt)
  }

  /** Fresh little-/big-endian encodings of the low 2, 4 or 8 bytes. */
  def le16(v: Int): Array[Byte] = { val b = new Array[Byte](2); putLe16(b, 0, v); b }
  def le32(v: Long): Array[Byte] = { val b = new Array[Byte](4); putLe32(b, 0, v.toInt); b }
  def le64(v: Long): Array[Byte] = { val b = new Array[Byte](8); putLe64(b, 0, v); b }
  def be32(v: Long): Array[Byte] =
    Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  def be64(v: Long): Array[Byte] = be32(v >>> 32) ++ be32(v)
}
