package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.{BinaryType, DataType}

import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Build-side row pages across page boundaries: the growing writer the
  * join appends to in arrival order and the exactly sized one it re-lays
  * into, both read back through [[IntervalBuildSide.pointTo]]. */
class RowPageWriterSpec extends AnyFunSuite {

  test("rows spanning several pages and a row over one page read back " +
      "intact from the growing and the exactly sized writer") {
    val rnd = new Random(3)
    val proj = UnsafeProjection.create(Array[DataType](BinaryType))
    // ~2.5 MiB of small and mid-sized rows, with one row over a full page
    // in the middle
    val payloads = (0 until 400).map { i =>
      val n = if (i == 200) RowPageWriter.PageBytes.toInt + 12345
              else rnd.nextInt(12000)
      val b = new Array[Byte](n)
      rnd.nextBytes(b)
      b
    }
    val arrived = new RowPageWriter(0L)
    val arrivedAddrs = payloads.map(p => arrived.append(proj(InternalRow(p))))
    assert(arrived.bytes == payloads.map(p =>
      RowPageWriter.Header + UnsafeRow.calculateBitSetWidthInBytes(1) + 8 +
        ((p.length + 7) & ~7)).sum)

    // re-lay in a shuffled order into a writer sized to the total
    val order = rnd.shuffle(payloads.indices.toVector)
    val laid = new RowPageWriter(arrived.bytes)
    val laidAddrs = order.map(i => laid.appendFrom(arrived, arrivedAddrs(i)))
    assert(laid.bytes == arrived.bytes)

    val row = new UnsafeRow(1)
    def check(pages: Array[Array[Byte]], addrs: Seq[Long],
        expected: Seq[Array[Byte]], what: String): Unit = {
      assert(pages.length > 2, s"$what: ${pages.length} pages")
      assert(addrs.exists(a => (a >>> 32) > 1), what)
      val side = new IntervalBuildSide(new java.util.HashMap(), pages,
        addrs.toArray)
      for (pos <- expected.indices)
        assert(java.util.Arrays.equals(side.pointTo(row, pos).getBinary(0),
          expected(pos)), s"$what pos=$pos")
    }
    check(arrived.result(), arrivedAddrs, payloads, "growing")
    val laidPages = laid.result()
    check(laidPages, laidAddrs, order.map(payloads), "exact")
    // the oversized row has a page of its own
    assert(laidPages.exists(_.length > RowPageWriter.PageBytes))
    // the last page is trimmed to its records
    val last = laidAddrs.maxBy(identity)
    val lastPage = laidPages((last >>> 32).toInt)
    val lastSize = java.nio.ByteBuffer.wrap(lastPage, last.toInt, 4)
      .order(java.nio.ByteOrder.nativeOrder()).getInt
    assert(lastPage.length == last.toInt + RowPageWriter.Header + lastSize)
  }
}
