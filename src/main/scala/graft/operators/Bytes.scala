package graft.operators

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.US_ASCII

/** Fixed-width integer reads and writes for the media codecs: one
  * definition of each byte order and signedness, shared by every
  * container walk and encoder in [[Multimodal]].
  *
  * Readers take `(bytes, off)` and leave bounds to the caller, except
  * where a variant says otherwise; writers append to a
  * `ByteArrayOutputStream`. All are plain static functions — the sample
  * and pixel loops call them per element, so they allocate nothing. */
private[graft] object Bytes {

  def u8(b: Array[Byte], off: Int): Int = b(off) & 0xff

  def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  /** Signed: BMP and DIB headers store a negative height for top-down rows. */
  def le32(b: Array[Byte], off: Int): Int = le16(b, off) | (le16(b, off + 2) << 16)

  /** Unsigned, as a Long: RIFF chunk sizes and sample rates. */
  def le32u(b: Array[Byte], off: Int): Long = le32(b, off) & 0xffffffffL

  def be16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  /** Unsigned, as a Long. */
  def be32(b: Array[Byte], off: Int): Long =
    (be16(b, off).toLong << 16) | be16(b, off + 2)

  def be64(b: Array[Byte], off: Int): Long = (be32(b, off) << 32) | be32(b, off + 4)

  /** TIFF's reads: byte order chosen at run time by the `II`/`MM` mark,
    * and -1 for any field that does not lie wholly inside the buffer. */
  def u16(b: Array[Byte], off: Int, le: Boolean): Int =
    if (off < 0 || off + 2 > b.length) -1
    else if (le) le16(b, off) else be16(b, off)

  def u32(b: Array[Byte], off: Int, le: Boolean): Long =
    if (off < 0 || off + 4 > b.length) -1L
    else if (le) le32u(b, off) else be32(b, off)

  /** `n` ASCII characters, or "" when they run past the end. */
  def str(b: Array[Byte], off: Int, n: Int): String =
    if (off + n <= b.length) new String(b, off, n, US_ASCII) else ""

  def putLe16(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
  }

  def putLe32(out: ByteArrayOutputStream, v: Int): Unit = {
    putLe16(out, v); putLe16(out, v >>> 16)
  }

  def putBe16(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write((v >> 8) & 0xff); out.write(v & 0xff)
  }

  def putBe32(out: ByteArrayOutputStream, v: Long): Unit = {
    putBe16(out, (v >> 16).toInt); putBe16(out, v.toInt)
  }

  def put16(out: ByteArrayOutputStream, v: Int, le: Boolean): Unit =
    if (le) putLe16(out, v) else putBe16(out, v)

  def put32(out: ByteArrayOutputStream, v: Int, le: Boolean): Unit =
    if (le) putLe32(out, v) else putBe32(out, v)

  def putAscii(out: ByteArrayOutputStream, s: String): Unit = out.write(s.getBytes(US_ASCII))
}
