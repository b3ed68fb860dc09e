package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** [[Snappy]] raw-block codec: literal round trips at every length
  * tier, hand-assembled copy tags of all three widths (incl. the
  * overlapping RLE idiom), and the malformed-stream discipline.
  */
class SnappySpec extends AnyFunSuite {

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  test("literal-only round trip across length-tag tiers") {
    for (n <- Seq(0, 1, 59, 60, 61, 255, 256, 257, 4096, 70000)) {
      val data = Array.tabulate(n)(i => (i * 31 + 7).toByte)
      val back = Snappy.decompress(Snappy.compressLiteral(data))
      assert(java.util.Arrays.equals(back, data), s"n=$n")
    }
  }

  test("copy tags: all three widths, overlapping RLE copy") {
    // copy-1: literal "abcd" + copy len 4 offset 4 -> "abcdabcd"
    val c1 = bytes(8, // varint uncompressed length 8
      (3 << 2), 'a', 'b', 'c', 'd', // literal len 4
      ((4 - 4) << 2) | 1, 4) // copy-1 len 4, offset 4
    assert(new String(Snappy.decompress(c1), "US-ASCII") === "abcdabcd")
    // copy-2: same copy through the 16-bit LE offset form
    val c2 = bytes(8,
      (3 << 2), 'a', 'b', 'c', 'd',
      ((4 - 1) << 2) | 2, 4, 0) // copy-2 len 4, offset 4
    assert(new String(Snappy.decompress(c2), "US-ASCII") === "abcdabcd")
    // copy-4: 32-bit LE offset
    val c4 = bytes(8,
      (3 << 2), 'a', 'b', 'c', 'd',
      ((4 - 1) << 2) | 3, 4, 0, 0, 0)
    assert(new String(Snappy.decompress(c4), "US-ASCII") === "abcdabcd")
    // overlapping copy (offset < len): "ab" + copy len 6 offset 2
    // -> "abababab" — must re-read freshly written bytes
    val rle = bytes(8,
      (1 << 2), 'a', 'b',
      ((6 - 1) << 2) | 2, 2, 0)
    assert(new String(Snappy.decompress(rle), "US-ASCII") === "abababab")
  }

  test("malformed streams throw the named Malformed, never raw OOB") {
    def mal(d: Array[Byte]): String =
      intercept[graft.bytes.Bytes.Malformed](Snappy.decompress(d)).msg
    assert(mal(Array.emptyByteArray).contains("truncated"))
    // declared length larger than the literals provide
    assert(mal(bytes(10, (3 << 2), 'a', 'b', 'c', 'd')).contains("decoded"))
    // literal running past EOF
    assert(mal(bytes(8, (7 << 2), 'a', 'b')).contains("past EOF"))
    // copy before any output exists
    assert(mal(bytes(4, ((4 - 4) << 2) | 1, 1)).contains("offset"))
    // copy offset beyond what is written
    assert(mal(bytes(8, (1 << 2), 'a', 'b', ((4 - 4) << 2) | 1, 9))
      .contains("offset"))
    // literal overrunning the declared length
    assert(mal(bytes(2, (3 << 2), 'a', 'b', 'c', 'd')).contains("declared"))
  }
}
