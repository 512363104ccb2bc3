package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** One generated CDC event. `op` is 'i' (insert of a new key), 'u'
 *  (upsert: delete-if-exists + insert) or 'd' (delete of a live key). */
final case class Ev(op: Char, id: Long, grp: Int, amount: Long, ts: Long)

object Ev {
  val Groups = 64
  def note(id: Long): String = f"n$id%011d"
}

/** Running SHA-256 over the generated event and query streams, so two
 *  runs (or two commits in an A/B) can show they consumed identical
 *  inputs. */
final class Digest {
  private val md = MessageDigest.getInstance("SHA-256")
  private var n = 0L
  def add(e: Ev): Unit = add(s"${e.op}|${e.id}|${e.grp}|${e.amount}|${e.ts}")
  def add(s: String): Unit = { md.update(s.getBytes("UTF-8")); md.update('\n'.toByte); n += 1 }
  def count: Long = n
  def hex: String = md.clone().asInstanceOf[MessageDigest].digest().map(b => f"$b%02x").mkString
}

/** Live-key set with O(1) insert, remove and uniform random pick. Keys
 *  are dense non-negative longs (ids are handed out sequentially). */
final class LiveKeys {
  private var keys = new Array[Long](1 << 16)
  private var size0 = 0
  private var pos = new Array[Int](1 << 16)
  java.util.Arrays.fill(pos, -1)
  def size: Int = size0
  def contains(id: Long): Boolean = id < pos.length && pos(id.toInt) >= 0
  def add(id: Long): Unit = if (!contains(id)) {
    val i = id.toInt
    if (i >= pos.length) {
      val np = java.util.Arrays.copyOf(pos, math.max(pos.length * 2, i + 1))
      java.util.Arrays.fill(np, pos.length, np.length, -1)
      pos = np
    }
    if (size0 == keys.length) keys = java.util.Arrays.copyOf(keys, keys.length * 2)
    keys(size0) = id; pos(i) = size0; size0 += 1
  }
  def remove(id: Long): Unit = if (contains(id)) {
    val i = pos(id.toInt); val last = keys(size0 - 1)
    keys(i) = last; pos(last.toInt) = i
    pos(id.toInt) = -1; size0 -= 1
  }
  def pick(rng: SplittableRandom): Long = keys(rng.nextInt(size0))
}

/** Seeded event generator. Only this class consumes the seed; the
 *  engine sees nothing but the events it produces. It tracks its own
 *  view of which keys are live, independent of the engine. */
final class Gen(seed: Long) {
  val rng = new SplittableRandom(seed)
  val live = new LiveKeys
  var nextId = 0L
  val digest = new Digest

  private def values(id: Long, op: Char, ts: Long): Ev =
    Ev(op, id, rng.nextInt(Ev.Groups), rng.nextLong(-1000000L, 1000000L), ts)

  def insert(ts: Long): Ev = {
    val id = nextId; nextId += 1; live.add(id)
    val e = values(id, 'i', ts); digest.add(e); e
  }
  def upsert(id: Long, ts: Long): Ev = {
    live.add(id); val e = values(id, 'u', ts); digest.add(e); e
  }
  def delete(id: Long, ts: Long): Ev = {
    live.remove(id); val e = Ev('d', id, 0, 0L, ts); digest.add(e); e
  }

  /** Streaming CDC mix: 20% inserts of new keys, 70% upserts, 10%
   *  deletes of live keys. Upserts follow YCSB's hotspot distribution at
   *  its CoreWorkload defaults (`hotspotopnfraction` 0.8 of operations on
   *  `hotspotdatafraction` 0.2 of the key range): 80% pick a uniform id
   *  below `hot`, the rest a uniform live key. */
  def streamEvent(hot: Long, ts: Long): Ev = {
    val u = rng.nextDouble()
    if (u < 0.2 || live.size == 0) insert(ts)
    else if (u < 0.9) {
      val id = if (rng.nextDouble() < Gen.HotOpnFraction) rng.nextLong(hot) else live.pick(rng)
      upsert(id, ts)
    } else delete(live.pick(rng), ts)
  }

  /** One bulk batch: `inserts` new keys, then `upserts` and `deletes`
   *  on distinct existing live keys (no key appears twice in a batch). */
  def bulkBatch(inserts: Int, upserts: Int, deletes: Int, ts0: Long): Array[Ev] = {
    val out = new Array[Ev](inserts + upserts + deletes)
    val touched = new java.util.HashSet[java.lang.Long]()
    def distinctLive(): Long = {
      var id = live.pick(rng)
      while (!touched.add(id)) id = live.pick(rng)
      id
    }
    var j = 0
    // keys picked for update or delete are drawn before this batch's
    // inserts, so they all name rows of earlier batches
    val targets = Array.fill(upserts + deletes)(distinctLive())
    while (j < upserts) { out(j) = upsert(targets(j), ts0 + j); j += 1 }
    while (j < upserts + deletes) { out(j) = delete(targets(j), ts0 + j); j += 1 }
    while (j < out.length) { out(j) = insert(ts0 + j); j += 1 }
    out
  }
}

object Gen {
  /** YCSB CoreWorkload hotspot defaults. */
  val HotDataFraction = 0.2
  val HotOpnFraction = 0.8
}

/** Aggregates the oracle checks reads against. */
final case class Agg(count: Long, sumAmount: Long, sumId: Long)

/** In-memory key -> row model, driven by the same events the engine
 *  receives. Ids are dense, so columns are plain growable arrays. */
final class Oracle {
  private var alive = new Array[Boolean](1 << 16)
  private var grp = new Array[Int](1 << 16)
  private var amount = new Array[Long](1 << 16)
  private var ts = new Array[Long](1 << 16)
  private var hi = 0 // ids < hi may be set
  var count = 0L
  var sumAmount = 0L
  var sumId = 0L
  val grpCount = new Array[Long](Ev.Groups)
  val grpSum = new Array[Long](Ev.Groups)

  private def ensure(id: Int): Unit = if (id >= alive.length) {
    val n = math.max(alive.length * 2, id + 1)
    alive = java.util.Arrays.copyOf(alive, n); grp = java.util.Arrays.copyOf(grp, n)
    amount = java.util.Arrays.copyOf(amount, n); ts = java.util.Arrays.copyOf(ts, n)
  }
  private def kill(i: Int): Unit = if (i < hi && alive(i)) {
    alive(i) = false; count -= 1; sumAmount -= amount(i); sumId -= i
    grpCount(grp(i)) -= 1; grpSum(grp(i)) -= amount(i)
  }
  def apply(e: Ev): Unit = {
    val i = e.id.toInt
    ensure(i); kill(i)
    if (e.op != 'd') {
      alive(i) = true; grp(i) = e.grp; amount(i) = e.amount; ts(i) = e.ts
      count += 1; sumAmount += e.amount; sumId += i
      grpCount(e.grp) += 1; grpSum(e.grp) += e.amount
      hi = math.max(hi, i + 1)
    }
  }
  def agg: Agg = Agg(count, sumAmount, sumId)
  /** (grp -> (count, sum(amount))) over groups with live rows. */
  def groups: Map[Int, (Long, Long)] =
    (0 until Ev.Groups).filter(grpCount(_) > 0).map(g => g -> (grpCount(g), grpSum(g))).toMap
  /** The live row of `id` as (grp, amount, ts), if any. */
  def row(id: Long): Option[(Int, Long, Long)] = {
    val i = id.toInt
    if (i < hi && alive(i)) Some((grp(i), amount(i), ts(i))) else None
  }
  /** (count, sum(amount)) over live rows with lo <= ts <= hi. */
  def tsRange(lo: Long, hiTs: Long): (Long, Long) = {
    var c = 0L; var s = 0L; var i = 0
    while (i < hi) {
      if (alive(i) && ts(i) >= lo && ts(i) <= hiTs) { c += 1; s += amount(i) }
      i += 1
    }
    (c, s)
  }
  def copy(): Oracle = {
    val o = new Oracle
    o.alive = alive.clone(); o.grp = grp.clone(); o.amount = amount.clone(); o.ts = ts.clone()
    o.hi = hi; o.count = count; o.sumAmount = sumAmount; o.sumId = sumId
    Array.copy(grpCount, 0, o.grpCount, 0, Ev.Groups); Array.copy(grpSum, 0, o.grpSum, 0, Ev.Groups)
    o
  }
}
