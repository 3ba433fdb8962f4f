package graft

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal.uint

/** `Multimodal.uint`, the one byte-field reader every m_* parse reads
  * `media` through, against `java.nio.ByteBuffer` on seeded random
  * bytes: every width the parses use, both byte orders, a literal
  * offset and a lambda-variable offset inside `transform`. */
class ByteFieldSpec extends SparkSpec {

  private val widths = Seq(1, 2, 3, 4, 8)
  private val orders = Seq(ByteOrder.BIG_ENDIAN, ByteOrder.LITTLE_ENDIAN)

  private val blobs: Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(20261019L)
    Seq.fill(12)(Array.fill(24)(rnd.nextInt(256).toByte))
  }

  private def media(rows: Seq[Array[Byte]]): DataFrame = {
    import spark.implicits._
    rows.zipWithIndex.map { case (b, i) => (i, b) }.toDF("row", "media")
  }

  /** The field as ByteBuffer reads it: the `width` bytes at 0-based `at`,
    * zero-extended to 8 bytes in `order`. None where the value does not
    * fit a signed BIGINT (an 8-byte field whose top bit is set). */
  private def reference(b: Array[Byte], at: Int, width: Int, order: ByteOrder): Option[Long] = {
    val buf = ByteBuffer.allocate(8).order(order)
    if (order == ByteOrder.BIG_ENDIAN) buf.put(new Array[Byte](8 - width)).put(b, at, width)
    else buf.put(b, at, width).put(new Array[Byte](8 - width))
    Some(buf.getLong(0)).filter(_ >= 0)
  }

  /** `uint` at `off`, NULL where [[reference]] is None (the read is
    * skipped there, so an 8-byte field never overflows BIGINT). */
  private def guarded(off: Column, width: Int, order: ByteOrder): Column =
    if (width < 8) uint(off, width, order)
    else {
      val top = if (order == ByteOrder.BIG_ENDIAN) off else off + (width - 1)
      when(uint(top, 1, order) < 128, uint(off, width, order))
    }

  test("a literal offset reads what ByteBuffer reads, every width and byte order") {
    for (w <- widths; order <- orders) {
      val offsets = 0 to (24 - w)
      val rows = media(blobs)
        .select(col("row") +: offsets.map(at => guarded(lit(at + 1), w, order).as(s"at$at")): _*)
        .collect().sortBy(_.getInt(0))
      rows.zip(blobs).foreach { case (r, b) =>
        offsets.foreach { at =>
          val got = if (r.isNullAt(at + 1)) None else Some(r.getLong(at + 1))
          assert(got == reference(b, at, w, order), s"width $w $order at byte $at")
        }
      }
    }
  }

  test("a lambda-variable offset inside transform reads what ByteBuffer reads") {
    for (w <- widths; order <- orders) {
      val rows = media(blobs)
        .select(col("row"),
          transform(sequence(lit(1), length(col("media")) - (w - 1)), i => guarded(i, w, order))
            .as("fields"))
        .collect().sortBy(_.getInt(0))
      rows.zip(blobs).foreach { case (r, b) =>
        val got = r.getSeq[java.lang.Long](1).map(v => Option(v).map(_.longValue))
        val want = (0 to (24 - w)).map(at => reference(b, at, w, order))
        assert(got == want, s"width $w $order")
      }
    }
    // the data has 8-byte fields on both sides of the guard
    val topBitSet = for (b <- blobs; at <- 0 to 16) yield b(at) < 0
    assert(topBitSet.contains(true) && topBitSet.contains(false))
  }

  test("a read past the end of media is NULL, as the per-byte conv read was") {
    val n = 5
    // the per-byte read every m_* parse defined for itself before
    // uint: one substring + hex + conv of a single byte
    def perByte(off: Int) = conv(hex(substring(col("media"), off, 1)), 16, 10).cast("long")
    val r = media(Seq(Array.tabulate[Byte](n)(i => (0xf0 + i).toByte)))
      .select(
        perByte(n).as("last_old"), uint(lit(n), 1, ByteOrder.BIG_ENDIAN).as("last"),
        perByte(n + 1).as("past_old"), uint(lit(n + 1), 1, ByteOrder.BIG_ENDIAN).as("past"),
        uint(lit(n - 1), 4, ByteOrder.BIG_ENDIAN).as("straddle_be"),
        uint(lit(n - 1), 4, ByteOrder.LITTLE_ENDIAN).as("straddle_le"))
      .head()
    assert(r.getLong(0) == 0xf4 && r.getLong(1) == 0xf4)
    assert(r.isNullAt(2) && r.isNullAt(3), s"past the end: old ${r.get(2)}, uint ${r.get(3)}")
    assert(r.isNullAt(4) && r.isNullAt(5), s"a field reaching past the end: ${r.get(4)}, ${r.get(5)}")
  }
}
