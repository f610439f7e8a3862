package cdcbench

import graft.cdc.{ChangeRecord, Op}

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer
import scala.util.hashing.MurmurHash3

/** One source table: `hot` tables take part in most transactions, cold
  * ones appear in a minority of chunks (so table pruning has chunks to
  * skip). Keys are drawn Zipf-skewed over `nKeys`. */
final case class TableSpec(db: String, tbl: String, hot: Boolean, nKeys: Int)

/** Seeded CDC load generator and its oracle.
  *
  * Emits chunks of transactions (BEGIN, 1-6 DML, COMMIT) over two
  * databases with hot and cold tables, Zipf-skewed keys, an
  * INSERT/UPDATE/DELETE mix, one HEARTBEAT per chunk, ~10-column row
  * images of mixed widths, bounded event-time disorder (well inside the
  * 10-minute dedup watermark), and every 20th chunk opening
  * by re-delivering the tail of the previous chunk, as after a failover
  * reseek. Every workload shares the generator; only the chunk size
  * (`recordsPerChunk`, heartbeat included) and count differ.
  *
  * It also keeps what the checks need: per key the winning DML by
  * (tsUs, id) — the sink's last-writer-wins order — and, per emitted
  * record, (tsUs, id, op, db, table) so every scan query has an exact
  * expected answer. Row images are pure functions of
  * (seed, table, key, version), so the expected table is regenerated at
  * the end instead of held in memory. */
final class Gen(seed: Long, val recordsPerChunk: Int) {
  import Gen._

  private val rng = new SplittableRandom(seed)
  private val zipf = Tables.map(t => zipfCdf(t.nKeys, 1.05))
  private val keyBase = Tables.scanLeft(0)(_ + _.nKeys).toArray
  private val nAllKeys = keyBase.last
  // generation-order state: next version per key, live flag
  private val version = new Array[Int](nAllKeys)
  private val live = new Array[Boolean](nAllKeys)
  // oracle: winning DML per key by (tsUs, id)
  private val bestTs = Array.fill(nAllKeys)(Long.MinValue)
  private val bestId = new Array[Long](nAllKeys)
  private val bestVer = new Array[Int](nAllKeys)
  private val bestDel = new Array[Boolean](nAllKeys)

  private var nextId = 1L
  private var txn = 0L
  private var clockUs = T0Us
  private var prevChunk: Array[ChangeRecord] = Array.empty

  /** Per-record log of everything emitted, redelivered copies included
    * (what a scan of the transport sees). */
  val recTs = new ArrayBuffer[Long]
  val recId = new ArrayBuffer[Long]
  val recOp = new ArrayBuffer[Byte]
  val recTable = new ArrayBuffer[Byte]
  val recDb = new ArrayBuffer[Byte]
  /** Records per emitted chunk, in landing order. */
  val chunkSizes = new ArrayBuffer[Int]
  var redelivered = 0L

  def records: Long = recTs.size.toLong
  def chunks: Int = chunkSizes.size

  /** The next chunk's records, in file order. */
  def nextChunk(): Array[ChangeRecord] = {
    val out = new ArrayBuffer[ChangeRecord](recordsPerChunk + 64)
    if (prevChunk.nonEmpty && chunkSizes.size % RedeliverEvery == RedeliverEvery / 2) {
      val m = math.min(prevChunk.length,
        10 + rng.nextInt(math.max(1, recordsPerChunk / 4)))
      prevChunk.takeRight(m).foreach { r => out += r; log(r) }
      redelivered += m
    }
    val start = out.length
    val coldAt =
      if (rng.nextDouble() < ColdChunkShare)
        rng.nextInt(math.max(1, recordsPerChunk))
      else -1
    var coldDone = false
    while (out.length - start < recordsPerChunk - 1) {
      val t =
        if (!coldDone && coldAt >= 0 && out.length - start >= coldAt) {
          coldDone = true
          ColdTables(rng.nextInt(ColdTables.length))
        } else HotTables(rng.nextInt(HotTables.length))
      transaction(t, out)
    }
    out += marker(Op.Heartbeat, null)
    val chunk = out.toArray
    prevChunk = chunk
    chunkSizes += chunk.length
    chunk
  }

  private def transaction(t: Int, out: ArrayBuffer[ChangeRecord]): Unit = {
    txn += 1
    val tx = s"tx-$txn"
    val db = Tables(t).db
    out += marker(Op.Begin, tx, db)
    val n = 1 + rng.nextInt(6)
    var i = 0
    while (i < n) { out += dml(t, tx, i); i += 1 }
    out += marker(Op.Commit, tx, db)
  }

  private def tick(): Long = { clockUs += StepUs; clockUs }

  private def marker(op: String, tx: String, db: String = null): ChangeRecord = {
    val r = ChangeRecord(nextId, tx, tick(), clockUs, op, db, null, Nil,
      null, null, null, "MySQL", "8.0")
    nextId += 1
    log(r)
    r
  }

  private def dml(t: Int, tx: String, seq: Int): ChangeRecord = {
    val spec = Tables(t)
    val k = sampleKey(t)
    val g = keyBase(t) + k
    val now = tick()
    val ts =
      if (rng.nextDouble() < DisorderShare)
        now - rng.nextLong(MaxDisorderUs)
      else now
    val id = nextId
    nextId += 1
    val v0 = version(g)
    val (op, before, after, v) =
      if (!live(g)) (Op.Insert, null, image(t, k, v0 + 1), v0 + 1)
      else if (rng.nextDouble() < 0.88)
        (Op.Update, image(t, k, v0), image(t, k, v0 + 1), v0 + 1)
      else (Op.Delete, image(t, k, v0), null, v0)
    version(g) = v
    live(g) = op != Op.Delete
    if (ts > bestTs(g) || (ts == bestTs(g) && id > bestId(g))) {
      bestTs(g) = ts; bestId(g) = id; bestVer(g) = v
      bestDel(g) = op == Op.Delete
    }
    val r = ChangeRecord(id, tx, ts, now, op, spec.db, spec.tbl, PkNames,
      before, after, null, "MySQL", "8.0", null, seq.toLong, null)
    log(r)
    r
  }

  private def log(r: ChangeRecord): Unit = {
    recTs += r.tsUs; recId += r.id; recOp += Op.code(r.op)
    recTable += (if (r.tbl == null) -1
      else Tables.indexWhere(s => s.db == r.db && s.tbl == r.tbl)).toByte
    recDb += Dbs.indexOf(r.db).toByte
  }

  private def sampleKey(t: Int): Int = {
    val cdf = zipf(t)
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    if (i >= 0) i else math.min(-i - 1, cdf.length - 1)
  }

  /** Row image of (table, key, version): ten columns of mixed widths,
    * one of them nullable. Deterministic in the seed. */
  def image(t: Int, k: Int, v: Int): Map[String, String] = {
    val r = new SplittableRandom(
      seed * 0x9E3779B97F4A7C15L ^ (t.toLong << 56) ^ (k.toLong << 20) ^ v)
    val name = word(r, 6 + r.nextInt(11))
    val note =
      if (r.nextInt(10) == 0) null
      else {
        val b = new java.lang.StringBuilder
        var w = 3 + r.nextInt(20)
        while (w > 0) { b.append(word(r, 3 + r.nextInt(6))); w -= 1; if (w > 0) b.append(' ') }
        b.toString
      }
    Map(
      "id" -> Integer.toString(k),
      "name" -> name,
      "email" -> (name + "." + r.nextInt(1000) + "@" + Domains(r.nextInt(Domains.length))),
      "amount" -> (r.nextInt(100000) + "." + two(r.nextInt(100))),
      "qty" -> Integer.toString(1 + r.nextInt(500)),
      "status" -> Statuses(r.nextInt(Statuses.length)),
      "created_at" -> ("2026-0" + (1 + r.nextInt(9)) + "-" + two(1 + r.nextInt(28)) + " " +
        two(r.nextInt(24)) + ":" + two(r.nextInt(60)) + ":" + two(r.nextInt(60))),
      "note" -> note,
      "flag" -> Integer.toString(r.nextInt(2)),
      "score" -> java.lang.Double.toString(r.nextInt(1000000) / 997.0))
  }

  /** Expected materialized table: (row count, order-independent hash of
    * (key, after)) over keys whose winning DML is not a DELETE. */
  def expectedTable: (Long, Long) = {
    var n = 0L
    var h = 0L
    var t = 0
    while (t < Tables.length) {
      var k = 0
      while (k < Tables(t).nKeys) {
        val g = keyBase(t) + k
        if (bestTs(g) != Long.MinValue && !bestDel(g)) {
          n += 1
          h += rowHash(keyOf(t, k), image(t, k, bestVer(g)))
        }
        k += 1
      }
      t += 1
    }
    (n, h)
  }

  /** Event-time range [lo, hi) covering the middle tenth of what was
    * emitted — the reposition query's window. */
  def midRange: (Long, Long) = {
    val span = clockUs - T0Us
    (T0Us + span * 45 / 100, T0Us + span * 55 / 100)
  }
}

object Gen {
  val T0Us: Long = 1767225600000000L // 2026-01-01T00:00:00Z
  /** Event time advances one step per record. */
  val StepUs = 1000L
  /** Share of chunks that carry one cold-table transaction. */
  val ColdChunkShare = 0.2
  /** Every RedeliverEvery-th chunk (5%) opens by re-delivering the
    * previous chunk's tail: evenly spaced, so every transport of 20 or
    * more chunks exercises the dedup. */
  val RedeliverEvery = 20
  /** Share of DML records whose event time lags by up to MaxDisorderUs —
    * far inside the 10-minute dedup watermark, so none arrives late. */
  val DisorderShare = 0.2
  val MaxDisorderUs = 3000000L
  val Tables: IndexedSeq[TableSpec] = IndexedSeq(
    TableSpec("shop", "orders", hot = true, 60000),
    TableSpec("shop", "customers", hot = true, 20000),
    TableSpec("crm", "contacts", hot = true, 30000),
    TableSpec("shop", "audit_log", hot = false, 8000),
    TableSpec("crm", "regions", hot = false, 400))
  val Dbs: IndexedSeq[String] = Tables.map(_.db).distinct
  val HotTables: IndexedSeq[Int] = Tables.indices.filter(Tables(_).hot)
  val ColdTables: IndexedSeq[Int] = Tables.indices.filterNot(Tables(_).hot)
  /** The cold table the selection query reads. */
  val SelectedCold: Int = 3
  val PkNames: Seq[String] = Seq("id")
  private val Statuses = IndexedSeq("new", "paid", "shipped", "returned", "void")
  private val Domains = IndexedSeq("example.com", "mail.test", "corp.example.org")
  private val Alpha = "abcdefghijklmnopqrstuvwxyz0123456789"

  def keyOf(t: Int, k: Int): String = s"${Tables(t).db}|${Tables(t).tbl}|$k"

  /** Order-independent row hash shared by the oracle and the table
    * check: sums of it compare two multisets of rows. */
  def rowHash(key: String, after: scala.collection.Map[String, String]): Long =
    (MurmurHash3.stringHash(key).toLong << 32) ^
      (MurmurHash3.unorderedHash(after.iterator.map { case (k, v) =>
        MurmurHash3.stringHash(k) * 31 + (if (v == null) 0 else MurmurHash3.stringHash(v))
      }) & 0xffffffffL)

  private def two(i: Int): String = if (i < 10) "0" + i else Integer.toString(i)

  private def word(r: SplittableRandom, n: Int): String = {
    val c = new Array[Char](n)
    var i = 0
    while (i < n) { c(i) = Alpha.charAt(r.nextInt(Alpha.length)); i += 1 }
    new String(c)
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
}
