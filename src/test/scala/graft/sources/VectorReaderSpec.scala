package graft.sources

import graft.table.DvCache
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.roaringbitmap.longlong.Roaring64Bitmap
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/**
 * The vectorized partition reader underneath the DSv2 connector
 * (`GraftVectorReader`, `GraftColumnarReader`): proves the three DV
 * skip levels the reference applies via `RowSelection`
 * (`table_provider.rs:140-167`) — fully-deleted row groups never reach
 * the parquet reader (dropped from the doctored footer), and residual
 * positions are removed per batch through selection vectors against
 * absolute row indexes: batches without deletes pass through as
 * decoded, fully deleted batches are never emitted.
 */
class VectorReaderSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-vector-reader-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  /** one parquet file of ids 0 until n; a tiny block size gives MANY row
   *  groups (hundreds of rows each), the default one row group */
  private def writeFile(n: Long, blockSize: Option[Int])
      : (String, Seq[(Long, Long)]) = {
    val dir = Files.createTempDirectory("graft-rg").toString + "/data"
    val w = spark.range(0, n).select(col("id"),
        concat(lit("name-"), col("id")).as("name"))
      .coalesce(1).write
    blockSize.fold(w)(b => w.option("parquet.block.size", b.toString)).parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    val fr = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), new Configuration()))
    val blocks = try fr.getFooter.getBlocks.asScala.toSeq finally fr.close()
    var off = 0L
    (file, blocks.map { b => val s = off; off += b.getRowCount; (s, b.getRowCount) })
  }

  private def writeMultiGroupFile(n: Long) = writeFile(n, Some(8192))

  private def dvOf(positions: Iterable[Long]): Roaring64Bitmap = {
    val dv = new Roaring64Bitmap()
    positions.foreach(dv.addLong)
    dv
  }

  /** What one emitted batch held, captured before the reader reuses
   *  its vectors for the next batch. */
  private case class Batch(rows: Int, view: Boolean, ids: Seq[Long],
      firstName: String)

  private def readBatches(part: GraftInputPartition): Seq[Batch] = {
    val cr = new GraftColumnarReader(part, schema, Map.empty)
    val out = ArrayBuffer[Batch]()
    try while (cr.next()) {
      val b: ColumnarBatch = cr.get()
      out += Batch(b.numRows(), b.column(0).isInstanceOf[GraftSelectedVector],
        (0 until b.numRows()).map(b.column(0).getLong),
        b.column(1).getUTF8String(0).toString)
    } finally cr.close()
    out.toSeq
  }

  private def readIds(part: GraftInputPartition): Seq[Long] =
    readBatches(part).flatMap(_.ids)

  test("fully-deleted row groups are dropped from the doctored footer") {
    val n = 4000L
    val (file, groups) = writeMultiGroupFile(n)
    assert(groups.length >= 3, s"need multiple row groups, got ${groups.length}")
    // delete ALL of group 0 plus the first row of group 1
    val (g0start, g0rows) = groups.head
    val (g1start, _) = groups(1)
    val dv = dvOf((g0start until g0start + g0rows) :+ g1start)
    val part = GraftInputPartition(file, n, DvCache.serialize(dv))

    val (reader, kept) = GraftVectorReader.open(part, schema, Map.empty, dv)
    try {
      assert(kept.length == groups.length - 1,
        "the fully-deleted group must not survive the footer")
      assert(kept.head._1 == g1start,
        "first surviving range must start at group 1's absolute position")
    } finally reader.close()

    // end-to-end: the columnar reader serves exactly the undeleted suffix
    val ids = readIds(part)
    assert(ids.length == n - g0rows - 1)
    assert(ids.head == g1start + 1 && ids.last == n - 1)
    assert(!ids.exists(_ < g1start + 1), "deleted positions must not surface")
  }

  test("residual per-row deletes skip against absolute positions") {
    val n = 3000L
    val (file, groups) = writeMultiGroupFile(n)
    assert(groups.length >= 2)
    // scatter deletes across groups (none fully deleted)
    val deleted = (0L until n by 7L).toSet
    val part = GraftInputPartition(file, n, DvCache.serialize(dvOf(deleted)))
    val batches = readBatches(part)
    assert(batches.map(_.ids).flatten.toSet == (0L until n).toSet -- deleted)
    // names decode through the selection view too
    assert(batches.forall(b => b.view && b.firstName == s"name-${b.ids.head}"))
  }

  test("DV-free files stream ColumnarBatches") {
    val n = 2500L
    val (file, _) = writeMultiGroupFile(n)
    val batches = readBatches(GraftInputPartition(file, n, null))
    assert(batches.map(_.ids).flatten == (0L until n),
      "columnar path must deliver every live row")
    assert(batches.nonEmpty)
  }

  test("byte-range splits partition the row groups exactly once") {
    // intra-file parallelism: two half-file byte ranges; each range
    // keeps the groups whose midpoint falls inside it (parquet-mr's
    // rule), so together they read every row exactly once — and DV
    // position mapping stays absolute (computed from the full footer)
    val n = 4000L
    val (file, groups) = writeMultiGroupFile(n)
    assert(groups.length >= 3)
    val fileLen = new java.io.File(file).length()
    val blob = DvCache.serialize(dvOf(0L until n by 13L)) // scattered deletes
    val halves = Seq(
      GraftInputPartition(file, n, blob, splitStart = 0L, splitEnd = fileLen / 2),
      GraftInputPartition(file, n, blob, splitStart = fileLen / 2,
        splitEnd = Long.MaxValue))
    val perSplit = halves.map(readIds)
    assert(perSplit.forall(_.nonEmpty), "both splits must carry row groups")
    assert(perSplit.flatten.sorted ==
      (0L until n).filterNot(_ % 13 == 0).sorted,
      "splits together must read every live row exactly once")
  }

  test("reader cap stops early (pushed-limit partition cap)") {
    val n = 2000L
    val (file, _) = writeMultiGroupFile(n)
    val capped = readBatches(GraftInputPartition(file, n, null, cap = 10L))
    assert(capped.map(_.ids).flatten == (0L until 10L),
      s"cap=10 must stop the reader, got ${capped.map(_.rows)}")
    // under a DV the cap counts live rows
    val dvCapped = readIds(GraftInputPartition(file, n,
      DvCache.serialize(dvOf(0L until 20L by 2L)), cap = 10L))
    assert(dvCapped == (1L until 20L by 2L))
  }

  test("DV positions straddling a 4096-row batch boundary map exactly") {
    // one row group, so batches of 4096 split it at absolute 4096/8192
    val n = 10000L
    val (file, groups) = writeFile(n, None)
    assert(groups.length == 1)
    val deleted = (4090L to 4100L) ++ (8190L to 8193L)
    val batches = readBatches(
      GraftInputPartition(file, n, DvCache.serialize(dvOf(deleted))))
    assert(batches.length == 3)
    assert(batches.map(_.ids).flatten == (0L until n).filterNot(deleted.contains))
  }

  test("a wholly deleted batch is never emitted, a delete-free one passes unwrapped") {
    val n = 10000L
    val (file, _) = writeFile(n, None)
    // batch 0: one delete; batch 1 (rows 4096-8191): all deleted;
    // batch 2: no deletes
    val deleted = 5L +: (4096L until 8192L)
    val batches = readBatches(
      GraftInputPartition(file, n, DvCache.serialize(dvOf(deleted))))
    assert(batches.map(_.rows) == Seq(4095, 10000 - 8192),
      "the fully deleted batch must not surface, not even with 0 rows")
    assert(batches.map(_.ids).flatten == (0L until n).filterNot(deleted.contains))
    assert(batches.head.view, "a partly deleted batch is a selection view")
    assert(!batches(1).view, "a batch without deletes passes through as decoded")
  }
}
