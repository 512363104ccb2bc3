package graft.table

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.format.Fio
import graft.model._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/**
 * Per-table write-ahead event log (M12): every apply() batch is
 * serialized as one `wal-%09d.jsonl` file of JSON events before being
 * processed; on open, events with LSN beyond the manifest's commit LSN
 * are replayed; files fully covered by the committed LSN are truncated
 * (reference `storage/wal.rs:423,670,750,778`; recovery semantics
 * `moonlink_backend/tests/test_wal_recovery.rs`).
 *
 * Truncation never reads a segment back: `append` and `replay` report
 * each segment's max LSN, the table keeps that segment -> max-LSN map,
 * and `truncate` decides from the map alone.
 *
 * Scale note: the WAL only carries the not-yet-committed window (the
 * mem-slice, <= memSliceSize rows per batch), never table data.
 */
object Wal {
  private val mapper = new ObjectMapper()

  private[table] def walDir(root: String) = s"$root/wal"

  /** An event's LSN for replay and truncation. A `StreamAbort` carries
   *  none and counts as `Long.MaxValue`: it always replays, and a
   *  segment holding one is never truncated. Alters publish their
   *  schema change immediately, so a replayed alter may already be in
   *  the manifest — the table's alter handling is idempotent. */
  private def lsnOf(e: CdcEvent): Long = e match {
    case e: Commit => e.lsn
    case e: Append => e.lsn
    case e: Delete => e.lsn
    case e: AlterAdd => e.lsn
    case e: AlterDrop => e.lsn
    case _: StreamAbort => Long.MaxValue
  }

  /** A segment's truncation watermark: its highest event LSN (-1 when
   *  empty, never truncated). */
  private def maxLsnOf(events: Seq[CdcEvent]): Long =
    events.iterator.map(lsnOf).foldLeft(-1L)(math.max)

  /** Write `events` as the next segment; returns (segment name, its max
   *  LSN) for the caller's truncation map. */
  def append(root: String, schema: StructType,
      events: Seq[CdcEvent]): (String, Long) = {
    Fio.mkdirs(walDir(root))
    val next = Fio.list(walDir(root))
      .flatMap(n => "\\d{9}".r.findFirstIn(n)).map(_.toLong)
      .maxOption.getOrElse(-1L) + 1
    val sb = new StringBuilder
    // the schema EVOLVES through in-stream alter events: appends after
    // an AlterAdd carry the widened row and must serialize every field
    var sch = schema
    events.foreach { e =>
      sb.append(eventToJson(sch, e)).append('\n')
      e match {
        case AlterAdd(cols, _) =>
          cols.filter { case (n, _) => !sch.fieldNames.contains(n) }
            .foreach { case (n, t) =>
              sch = StructType(sch.fields :+ SchemaDsl.field(n, t)) }
        case AlterDrop(cols, _) =>
          sch = StructType(sch.fields.filterNot(f => cols.contains(f.name)))
        case _ =>
      }
    }
    // put-if-absent with LOUD conflict: a rival handle racing the same
    // segment number must never have its durability record silently
    // dropped (the manifest commit has the same CAS rule) — the losing
    // statement fails before its caller can believe the events durable
    val seg = f"wal-$next%09d.jsonl"
    if (!Fio.writeAtomicCas(s"${walDir(root)}/$seg", sb.toString))
      throw new java.util.ConcurrentModificationException(
        s"WAL segment $seg of $root was claimed by another " +
          "writer; reload the table and retry the statement")
    (seg, maxLsnOf(events))
  }

  /** Replay events with lsn > committedLsn (plus all transactional
   *  scaffolding: in-flight xact events must be re-staged, reference
   *  replays in-flight streaming xacts too). Also returns every
   *  segment's max LSN — replay already reads them all, so the table's
   *  truncation map starts complete without a second pass. */
  def replay(root: String, schema: StructType,
      committedLsn: Long): (Seq[CdcEvent], Map[String, Long]) = {
    val files = Fio.list(walDir(root)).filter(_.endsWith(".jsonl")).sorted
    val segs = files.map { f =>
      f -> Fio.readString(s"${walDir(root)}/$f").split('\n').iterator
        .filter(_.nonEmpty).map(l => eventFromJson(schema, l)).toSeq
    }
    (segs.flatMap(_._2).filter(e => lsnOf(e) > committedLsn),
      segs.map { case (f, es) => f -> maxLsnOf(es) }.toMap)
  }

  /** Drop WAL files whose events are all at-or-below the durable LSN,
   *  deciding from `segments` (segment -> max LSN, as returned by
   *  `append`/`replay`) without reading any segment back. A segment
   *  leaves the map only once its file is deleted, so a failed delete
   *  is retried by the next truncation. */
  def truncate(root: String, persistedLsn: Long,
      segments: scala.collection.mutable.Map[String, Long]): Unit =
    segments.collect {
      case (seg, maxLsn) if maxLsn >= 0 && maxLsn <= persistedLsn => seg
    }.foreach { seg =>
      Fio.delete(s"${walDir(root)}/$seg")
      segments -= seg
    }

  // ---- event <-> JSON ---------------------------------------------------

  private def eventToJson(schema: StructType, e: CdcEvent): String = {
    val o = mapper.createObjectNode()
    e match {
      case Append(row, lsn, x) =>
        o.put("t", "a"); o.put("lsn", lsn)
        x.foreach(o.put("x", _))
        o.set[ObjectNode]("row", rowToNode(schema, row))
      case Delete(key, lsn, x, ifE) =>
        o.put("t", "d"); o.put("lsn", lsn); o.put("ife", ifE)
        x.foreach(o.put("x", _))
        val arr = o.putArray("key")
        key.foreach(v => arr.add(valueToNode(inferKeyType(v), v)))
      case Commit(lsn, x) =>
        o.put("t", "c"); o.put("lsn", lsn)
        x.foreach(o.put("x", _))
      case StreamAbort(xid) =>
        o.put("t", "ab"); o.put("x", xid)
      case AlterAdd(cols, lsn) =>
        o.put("t", "aa"); o.put("lsn", lsn)
        val arr = o.putArray("cols")
        cols.foreach { case (cn, ct) =>
          val e = mapper.createArrayNode(); e.add(cn); e.add(ct); arr.add(e)
        }
      case AlterDrop(cols, lsn) =>
        o.put("t", "ad"); o.put("lsn", lsn)
        val arr = o.putArray("cols")
        cols.foreach(arr.add)
    }
    mapper.writeValueAsString(o)
  }

  // key values in a Delete are not schema-positioned; encode self-typed
  private def inferKeyType(v: Any): DataType = v match {
    case _: Int => IntegerType
    case _: Long => LongType
    case _: String => StringType
    case _: Double => DoubleType
    case _: Boolean => BooleanType
    case _: java.sql.Date => DateType
    case _: java.sql.Timestamp => TimestampType
    case null => NullType
    case other =>
      throw new IllegalArgumentException(s"unsupported WAL key type: ${other.getClass}")
  }

  private def eventFromJson(schema: StructType, line: String): CdcEvent = {
    val n = mapper.readTree(line)
    val x = if (n.has("x")) Some(n.get("x").asLong) else None
    n.get("t").asText match {
      case "a" => Append(nodeToRow(schema, n.get("row")), n.get("lsn").asLong, x)
      case "d" =>
        val key = n.get("key").elements().asScala.map(nodeToValueAuto).toSeq
        Delete(key, n.get("lsn").asLong, x, n.path("ife").asBoolean(false))
      case "c" => Commit(n.get("lsn").asLong, x)
      case "ab" => StreamAbort(n.get("x").asLong)
      case "aa" => AlterAdd(
        n.get("cols").elements().asScala
          .map(e => (e.get(0).asText, e.get(1).asText)).toSeq,
        n.get("lsn").asLong)
      case "ad" => AlterDrop(
        n.get("cols").elements().asScala.map(_.asText).toSeq,
        n.get("lsn").asLong)
    }
  }

  private[graft] def rowToNode(schema: StructType, row: Row): ObjectNode = {
    val o = mapper.createObjectNode()
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      o.set[JsonNode](f.name,
        if (row.isNullAt(i)) mapper.nullNode()
        else valueToNode(f.dataType, row.get(i)))
    }
    o
  }

  private def valueToNode(dt: DataType, v: Any): JsonNode = (dt, v) match {
    case (_, null) => mapper.nullNode()
    case (IntegerType, x: Int) => mapper.getNodeFactory.numberNode(x)
    case (ShortType, x: Short) => mapper.getNodeFactory.numberNode(x)
    case (LongType, x: Long) => mapper.getNodeFactory.numberNode(x)
    case (DoubleType, x: Double) => mapper.getNodeFactory.numberNode(x)
    case (FloatType, x: Float) => mapper.getNodeFactory.numberNode(x)
    case (BooleanType, x: Boolean) => mapper.getNodeFactory.booleanNode(x)
    case (StringType, x) => mapper.getNodeFactory.textNode(x.toString)
    case (DateType, x: java.sql.Date) => mapper.getNodeFactory.textNode(x.toString)
    case (TimestampType, x: java.sql.Timestamp) =>
      mapper.getNodeFactory.numberNode(x.getTime * 1000 + x.getNanos / 1000 % 1000)
    case (d: DecimalType, x: java.math.BigDecimal) =>
      mapper.getNodeFactory.textNode(x.toPlainString)
    case (BinaryType, x: Array[Byte]) =>
      mapper.getNodeFactory.textNode(java.util.Base64.getEncoder.encodeToString(x))
    case (ArrayType(et, _), x: scala.collection.Seq[_]) =>
      val arr = mapper.createArrayNode()
      x.foreach(e => arr.add(valueToNode(et, e)))
      arr
    case (st: StructType, x: Row) => rowToNode(st, x)
    case (NullType, _) => mapper.nullNode()
    case (d, x) =>
      throw new IllegalArgumentException(s"unsupported WAL type $d / ${x.getClass}")
  }

  private[graft] def nodeToRow(schema: StructType, n: JsonNode): Row =
    Row.fromSeq(schema.fields.toSeq.map(f => nodeToValue(f.dataType, n.get(f.name))))

  private def nodeToValue(dt: DataType, n: JsonNode): Any = {
    if (n == null || n.isNull) return null
    dt match {
      case IntegerType => n.asInt
      case ShortType => n.asInt.toShort
      case LongType => n.asLong
      case DoubleType => n.asDouble
      case FloatType => n.asDouble.toFloat
      case BooleanType => n.asBoolean
      case StringType => n.asText
      case DateType => java.sql.Date.valueOf(n.asText)
      case TimestampType =>
        val micros = n.asLong
        val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
        t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
        t
      case d: DecimalType => new java.math.BigDecimal(n.asText)
      case BinaryType => java.util.Base64.getDecoder.decode(n.asText)
      case ArrayType(et, _) =>
        n.elements().asScala.map(e => nodeToValue(et, e)).toSeq
      case st: StructType => nodeToRow(st, n)
      case other => throw new IllegalArgumentException(s"unsupported WAL type $other")
    }
  }

  /** untyped fallback for delete keys (primitives only); callers must
   *  coerce back to the key schema with [[coerceKey]]. */
  private def nodeToValueAuto(n: JsonNode): Any =
    if (n.isNull) null
    else if (n.isIntegralNumber) n.asLong
    else if (n.isFloatingPointNumber) n.asDouble
    else if (n.isBoolean) n.asBoolean
    else n.asText

  /** Re-typed replayed delete keys: JSON round-trips lose Int-vs-Long
   *  and date/timestamp typing, which must match Row values exactly for
   *  the mem-index lookup and the index join. */
  def coerceKey(key: Seq[Any], fields: Seq[StructField]): Seq[Any] =
    key.zip(fields).map { case (v, f) =>
      (v, f.dataType) match {
        case (null, _) => null
        case (l: Long, IntegerType) => l.toInt
        case (l: Long, ShortType) => l.toShort
        case (l: Long, LongType) => l
        case (l: Long, TimestampType) =>
          val t = new java.sql.Timestamp(Math.floorDiv(l, 1000000L) * 1000L)
          t.setNanos((Math.floorMod(l, 1000000L) * 1000L).toInt)
          t
        case (d: Double, FloatType) => d.toFloat
        case (s: String, DateType) => java.sql.Date.valueOf(s)
        case (x, _) => x
      }
    }
}
