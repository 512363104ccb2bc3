package graft

import graft.format.{Fio, FioFaults}
import graft.model._
import graft.table._
import org.apache.spark.GraftSparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/**
 * Driver-path delete resolution (`publish()`): the due keys' xxhash64 is
 * computed on the driver, selects the khRange probe files and filters
 * ONE index scan; the exact key match runs on the driver. Pins the job
 * budget, hash parity with the cluster's `xxhash64` across key types,
 * and WAL truncation from the in-memory segment map.
 */
class DeleteResolutionSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-delete-resolution-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpDir(): String =
    Files.createTempDirectory("graft-delres").toString

  /** Spark jobs started while `f` runs (listener bus drained both ends). */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    GraftSparkInternals.drainListenerBus(sc)
    sc.addSparkListener(l)
    try { f; GraftSparkInternals.drainListenerBus(sc) }
    finally sc.removeSparkListener(l)
    n.get
  }

  private val lvSchema = SchemaDsl.struct("id" -> "int64", "v" -> "int64")

  test("a driver-path commit resolves flushed-key deletes in one Spark job") {
    val t = GraftTable.create(spark, tmpDir() + "/jobs", lvSchema,
      Identity.Keys(Seq("id")), TableConfig())
    // two flushes: two unranged index files (an index merge needs >= 2)
    t.insertAll((1L to 100L).map(i => Row(i, i)), startLsn = 1)
    t.flush(); t.publish()
    t.insertAll((101L to 200L).map(i => Row(i, i)), startLsn = 101)
    t.flush(); t.publish()
    def commit(lsn: Long): Int = jobsDuring {
      // upserts and deletes of flushed keys: every delete falls through
      // to the persisted index (nothing of these keys is in the tail)
      t.apply(Seq(
        Delete(Seq(lsn - 1000L), lsn), Append(Row(lsn - 1000L, -1L), lsn),
        Delete(Seq(lsn - 990L), lsn + 1),
        Commit(lsn + 2)))
    }
    // unranged flush index
    assert(commit(1010) == 1)
    // ranged generations after an index merge
    assert(t.mergeIndexes())
    assert(t.currentManifest.indexFiles.forall(_.khRange.size == 2))
    assert(commit(1030) == 1)
    val st = t.read().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(st.size == 198)
    assert(st(10L) == -1L && st(30L) == -1L)
    assert(!st.contains(20L) && !st.contains(40L))
    // a commit whose delete hashes fall in no khRange runs no job at all
    val ranges = t.currentManifest.indexFiles
      .map(e => (e.khRange.head.toLong, e.khRange(1).toLong))
    val hash = GraftTable.keyHashEval(Seq(lvSchema("id")))
    val miss = Iterator.from(100000).map(_.toLong)
      .find(k => !ranges.exists { case (mn, mx) =>
        val h = hash(Seq(k)); h >= mn && h <= mx }).get
    assert(jobsDuring(t.apply(Seq(Delete(Seq(miss), 2000), Commit(2001)))) == 0)
    assert(t.lastDeleteProbe == ((0, t.currentManifest.indexFiles.size)))
    assert(t.read().count() == 198)
    t.drop()
  }

  // ---- hash parity --------------------------------------------------

  private case class KeyCase(name: String, keyTypes: Seq[(String, String)],
      key: Int => Seq[Any], viaWal: Boolean)

  private val day0 = java.time.LocalDate.of(2024, 1, 1)
  private val keyCases = Seq(
    KeyCase("int", Seq("k" -> "int32"), i => Seq(i * 7), viaWal = true),
    KeyCase("long", Seq("k" -> "int64"), i => Seq(i * 1000003L), viaWal = true),
    KeyCase("string", Seq("k" -> "string"), i => Seq(s"key-$i-é"), viaWal = true),
    KeyCase("date", Seq("k" -> "date32"),
      i => Seq(java.sql.Date.valueOf(day0.plusDays(i))), viaWal = true),
    KeyCase("timestamp", Seq("k" -> "timestamp"), i => {
      val ts = new java.sql.Timestamp(1700000000000L + i * 60000L)
      ts.setNanos(123456000); Seq(ts)
    }, viaWal = true),
    // the WAL does not encode decimal delete keys: direct path only
    KeyCase("decimal(10,2)", Seq("k" -> "decimal(10,2)"),
      i => Seq(new java.math.BigDecimal(s"$i.25")), viaWal = false),
    KeyCase("composite(int,string)", Seq("a" -> "int32", "b" -> "string"),
      i => Seq(i % 5, s"b$i"), viaWal = true))

  keyCases.foreach { kc =>
    test(s"hash-filtered delete resolution: ${kc.name} keys, ranged + unranged index") {
      val schema = SchemaDsl.struct(kc.keyTypes :+ ("v" -> "int64"): _*)
      val keyNames = kc.keyTypes.map(_._1)
      val root = tmpDir() + "/hp"
      val t = GraftTable.create(spark, root, schema, Identity.Keys(keyNames),
        TableConfig(walEnabled = kc.viaWal, rowsPerFile = 16))
      def row(i: Int) = Row.fromSeq(kc.key(i) :+ i.toLong)
      // two flushed generations merged into ranged buckets, then an
      // unranged flush on top
      t.insertAll((1 to 40).map(row), startLsn = 1)
      t.flush(); t.publish()
      t.insertAll((41 to 80).map(row), startLsn = 100)
      t.flush(); t.publish()
      assert(t.mergeIndexes())
      t.insertAll((81 to 100).map(row), startLsn = 200)
      t.flush(); t.publish()
      val idx = t.currentManifest.indexFiles
      assert(idx.count(_.khRange.size == 2) >= 2, s"ranged: $idx")
      assert(idx.exists(_.khRange.isEmpty), s"unranged: $idx")

      // deletes of flushed keys (one re-upserted), a never-seen key
      val delIds = Seq(3, 17, 42, 64, 85, 99)
      val events = delIds.zipWithIndex.map { case (i, j) =>
        Delete(kc.key(i), 1000L + j) } ++
        Seq(Delete(kc.key(500), 1010L),
          Delete(kc.key(17), 1011L), Append(row(17), 1011L),
          Commit(1012L))
      val dueKeys = events.collect { case d: Delete => d.key }.distinct
      // the probe set the cluster-side xxhash64 selects
      val sparkHashes = spark.createDataFrame(
          dueKeys.map(Row.fromSeq(_)).asJava,
          StructType(keyNames.map(n => schema(n))))
        .select(xxhash64(keyNames.map(col): _*)).collect().map(_.getLong(0)).toSet
      val driverHash = GraftTable.keyHashEval(keyNames.map(n => schema(n)))
      assert(dueKeys.map(driverHash).toSet == sparkHashes, "hash parity")
      val expectProbe = (idx.count(e => sparkHashes.exists(e.coversHash)), idx.size)

      val t2 = if (kc.viaWal) {
        // crash right after the WAL append: the batch exists only in the
        // log, and reopen resolves its deletes from JSON-replayed keys
        Wal.append(root, schema, events)
        GraftTable.open(spark, root, Identity.Keys(keyNames),
          TableConfig(rowsPerFile = 16))
      } else { t.apply(events); t }
      assert(t2.lastDeleteProbe == expectProbe)
      val want = ((1 to 100).toSet -- delIds + 17).map(i => kc.key(i) :+ i.toLong)
      val got = t2.read().collect().map(_.toSeq).toSet
      assert(got == want, s"only-got=${got -- want} only-want=${want -- got}")
      assert(t2.currentManifest.dataFiles.map(_.deletes).sum == delIds.size)
      t2.drop()
    }
  }

  test("FullRow identity: a delete key with a null column matches nothing") {
    val schema = SchemaDsl.struct("id" -> "int64", "v" -> "int64", "tag" -> "string")
    val t = GraftTable.create(spark, tmpDir() + "/frn", schema,
      Identity.FullRow, TableConfig(walEnabled = false))
    t.insertAll(Seq(Row(1L, 10L, null), Row(2L, 20L, "b"), Row(3L, 30L, "c")), 1)
    t.flush(); t.publish()
    t.apply(Seq(Delete(Seq(1L, 10L, null), 10), Delete(Seq(2L, 20L, "b"), 11),
      Commit(12)))
    // the null-bearing row survives on disk (SQL key equality), the
    // fully non-null key is deleted
    val rows = t.read().collect().map(_.toSeq).toSet
    assert(rows == Set(Seq(1L, 10L, null), Seq(3L, 30L, "c")))
    assert(t.lastDeleteProbe == ((1, 1)))
    t.drop()
  }

  // ---- WAL truncation from the segment map ---------------------------

  private def walSegments(root: String): Set[String] =
    Fio.list(s"$root/wal").filter(_.endsWith(".jsonl")).toSet

  test("WAL truncation deletes exactly the covered segments, keeps aborts, " +
      "and a crash before truncation recovers") {
    val root = tmpDir() + "/walt"
    val cfg = TableConfig(walEnabled = true)
    val keys = Identity.Keys(Seq("id"))
    val t = GraftTable.create(spark, root, lvSchema, keys, cfg)
    t.apply((1L to 3L).map(i => Append(Row(i, i), i)) :+ Commit(3))   // max 3
    t.apply(Seq(Append(Row(4L, 4L), 4), Append(Row(5L, 5L), 5), Commit(5))) // max 5
    t.apply(Seq(Append(Row(100L, 100L), 6, Some(7L)), StreamAbort(7))) // abort
    t.apply(Seq(Append(Row(6L, 6L), 8), Append(Row(7L, 7L), 8)))        // max 8
    val segs = walSegments(root).toSeq.sorted
    assert(segs.size == 4)
    val Seq(s3, s5, sAbort, s8) = segs

    // reopen: every segment is replayed (nothing was flushed)
    val t2 = GraftTable.open(spark, root, keys, cfg)
    assert(walSegments(root) == segs.toSet)
    t2.flush(); t2.publish() // flushLsn = 5: only the two covered segments go
    assert(t2.flushLsn == 5)
    assert(walSegments(root) == Set(sAbort, s8))

    // crash between the manifest commit and the WAL truncation
    final class WalDeleteFault extends FioFaults {
      @volatile var armed = false
      override def beforeOp(op: String, path: String): Unit =
        if (armed && op == "delete" && path.contains("/wal/"))
          throw new java.io.IOException(s"injected fault: $op $path")
    }
    val fault = new WalDeleteFault
    Fio.installFaults(root, fault)
    try {
      t2.apply(Seq(Commit(9)))
      fault.armed = true
      intercept[java.io.IOException] { t2.flush(); t2.publish() }
      fault.armed = false
    } finally Fio.clearFaults()
    assert(walSegments(root).contains(s8), "truncation was not reached")
    val oracle = (1L to 7L).map(i => Seq(i, i)).toSet
    val t3 = GraftTable.open(spark, root, keys, cfg)
    assert(t3.flushLsn == 8 && t3.commitLsn == 9)
    assert(t3.read().collect().map(_.toSeq).toSet == oracle)
    // the next real commit truncates everything covered; the abort
    // segment is never truncated
    t3.upsertAll(Seq(Row(1L, 11L)), startLsn = 20)
    t3.flush(); t3.publish()
    val left = walSegments(root)
    assert(left.contains(sAbort) && !left.contains(s3) && !left.contains(s5) &&
      !left.contains(s8), s"left: $left")
    assert(GraftTable.open(spark, root, keys, cfg).read().collect()
      .map(_.toSeq).toSet == oracle - Seq(1L, 1L) + Seq(1L, 11L))
    t3.drop()
  }
}
