package graft

import graft.format.DvSidecar
import graft.model._
import graft.table.Wal
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.roaringbitmap.longlong.Roaring64Bitmap
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Seeded randomized round-trips over the two remaining hand-written
 *  durability codecs: the WAL's JSONL event log (append → replay) and
 *  the GDV1 roaring deletion-vector sidecar. The WAL is line-oriented,
 *  so embedded newlines/quotes/control characters in data values are
 *  exactly the inputs that would corrupt a naive codec.
 */
class WalDvFuzzSpec extends AnyFunSuite {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("walfuzz").toString + "/t"

  private val fieldTypes: Seq[DataType] = Seq(IntegerType, LongType,
    DoubleType, FloatType, BooleanType, StringType, BinaryType,
    TimestampType, ArrayType(LongType), ShortType)

  private def genString(r: Random): String = r.nextInt(6) match {
    case 0 => "line\nbreak" // the line-oriented codec's worst case
    case 1 => "quote\"back\\slash"
    case 2 => "é世界" + new String(Character.toChars(0x1F680))
    case 3 => "\u0000\u0001\t ctrl"
    case 4 => ""
    case _ => r.alphanumeric.take(r.nextInt(10)).mkString
  }

  private def genValue(dt: DataType, r: Random): Any =
    if (r.nextInt(6) == 0) null
    else dt match {
      case IntegerType => r.nextInt()
      case LongType => r.nextLong()
      case ShortType => r.nextInt().toShort
      case DoubleType => if (r.nextInt(8) == 0) Double.NaN else r.nextDouble()
      case FloatType =>
        if (r.nextInt(8) == 0) Float.NegativeInfinity else r.nextFloat()
      case BooleanType => r.nextBoolean()
      case StringType => genString(r)
      case BinaryType => Array.fill(r.nextInt(8))(r.nextInt().toByte)
      case TimestampType =>
        val t = new java.sql.Timestamp(math.abs(r.nextLong()) % 4102444800000L)
        t.setNanos((math.abs(r.nextInt()) % 1000000) * 1000) // micro-precision
        t
      case ArrayType(LongType, _) => Seq.fill(r.nextInt(4))(r.nextLong())
      case other => sys.error(s"gen: $other")
    }

  private def deepEq(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case (x: Float, y: Float) =>
      java.lang.Float.floatToIntBits(x) == java.lang.Float.floatToIntBits(y)
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.size == y.size && x.lazyZip(y).forall(deepEq)
    case _ => a == b
  }

  test("WAL append/replay round-trips 50 random schemas and event streams") {
    for (seed <- 0 until 50) {
      val r = new Random(seed)
      val schema = StructType((0 until 1 + r.nextInt(5)).map(i =>
        StructField(s"c$i${if (r.nextBoolean()) genString(r).take(3) else ""}",
          fieldTypes(r.nextInt(fieldTypes.size)))))
      val keyTypes: Seq[Any => Any] = Seq(
        _ => r.nextLong(), _ => r.nextInt(), _ => genString(r),
        _ => r.nextBoolean(), _ => null)
      var lsn = 0L
      val events: Seq[CdcEvent] = (0 until 1 + r.nextInt(20)).map { _ =>
        lsn += 1 + r.nextInt(3)
        r.nextInt(10) match {
          case 0 => Commit(lsn, if (r.nextBoolean()) Some(r.nextInt(5).toLong) else None)
          case 1 => Delete(Seq(keyTypes(r.nextInt(keyTypes.size))(())), lsn,
            None, ifExists = r.nextBoolean())
          case 2 => StreamAbort(r.nextInt(9).toLong)
          case _ => Append(
            Row.fromSeq(schema.fields.toSeq.map(f => genValue(f.dataType, r))),
            lsn, if (r.nextInt(4) == 0) Some(r.nextInt(5).toLong) else None)
        }
      }
      val root = freshRoot()
      // several append calls: replay must restitch multiple files in order
      val appended = events.grouped(math.max(1, events.size / (1 + r.nextInt(3))))
        .map(g => Wal.append(root, schema, g.toSeq)).toMap
      val (back, segments) = Wal.replay(root, schema, committedLsn = -1L)
      assert(back.size == events.size, s"seed=$seed count drift")
      // replay reports the same per-segment max LSN append returned
      assert(segments == appended, s"seed=$seed segment max-LSN drift")
      back.lazyZip(events).zipWithIndex.foreach { case ((got, want), i) =>
        (got, want) match {
          case (Append(gr, gl, gx), Append(wr, wl, wx)) =>
            assert(gl == wl && gx == wx, s"seed=$seed ev$i meta")
            gr.toSeq.lazyZip(wr.toSeq).foreach { (g, w) =>
              assert(deepEq(g, w), s"seed=$seed ev$i row: $g vs $w\n$schema")
            }
          case (Delete(gk, gl, _, gife), Delete(wk, wl, _, wife)) =>
            assert(gl == wl && gife == wife &&
              gk.lazyZip(wk).forall(deepEq), s"seed=$seed ev$i delete")
          case (g, w) => assert(g == w, s"seed=$seed ev$i: $g vs $w")
        }
      }
    }
  }

  test("DV sidecars round-trip random file maps and boundary bitmaps") {
    val interesting = Seq(0L, 1L, 0xFFFFL, 0x10000L, 0xFFFFFFFFL,
      0x100000000L, (1L << 40) - 1)
    for (seed <- 0 until 30) {
      val r = new Random(900 + seed)
      val entries = (0 until 1 + r.nextInt(5)).map { i =>
        val bm = new Roaring64Bitmap()
        interesting.foreach(p => if (r.nextBoolean()) bm.addLong(p))
        (0 until r.nextInt(40)).foreach(_ =>
          bm.addLong(math.abs(r.nextLong()) % (1L << 41)))
        if (r.nextBoolean()) (0L until 500L).foreach(j => bm.addLong(1000 + j))
        (s"data-é$i${r.alphanumeric.take(4).mkString}.parquet", bm)
      }
      val path = freshRoot() + ".gdv1"
      DvSidecar.write(path, entries)
      val back = DvSidecar.read(path)
      assert(back.size == entries.size, s"seed=$seed entry count")
      back.lazyZip(entries).foreach { (g, w) =>
        assert(g._1 == w._1, s"seed=$seed file name")
        assert(java.util.Arrays.equals(g._2.toArray, w._2.toArray),
          s"seed=$seed bitmap for ${w._1}")
      }
    }
  }
}
