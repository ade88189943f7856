package graft.bench

import graft.cdc.CdcConfig
import graft.sources.{InMemoryRedis, RedisId}
import java.util.SplittableRandom
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable.ArrayBuffer

/** Workload knobs, read by run.py from workloads.json and passed as flags.
  * `mode` is `open` (open loop at `ratePerStream` events/s per stream) or
  * `backlog` (closed loop: append `backlogPerStream` entries per stream,
  * wait until every id is visible, repeat while time remains). `keys` is
  * `unique` or `zipf` (ranks 1..zipfKeys, exponent zipfS).
  */
final case class Workload(
    name: String, mode: String, ratePerStream: Double, keys: String,
    zipfKeys: Int, zipfS: Double, warmupPerStream: Int, backlogPerStream: Int)

/** Debezium-shaped entry text, a pure function of (seed, stream, seq, id):
  * the extended format's `key` and `value`, where the value carries
  * `before` and `after` images of 20 columns plus a `source` block, about
  * 1 KB in all. Serializable so executors can rebuild captured epochs.
  */
final case class EnvelopeGen(seed: Long, tables: IndexedSeq[String],
                             idCols: IndexedSeq[String]) {
  import EnvelopeGen._

  def key(s: Int, id: Int): String = "{\"" + idCols(s) + "\":" + id + "}"

  def value(s: Int, seq: Long, id: Int): String = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (s.toLong << 40) ^ seq)
    val ts = 1760000000000L + seq * 7 + s
    val sb = new java.lang.StringBuilder(1200)
    sb.append("{\"before\":"); image(sb, r, s, id, ts - 86400000L)
    sb.append(",\"after\":"); image(sb, r, s, id, ts)
    sb.append(",\"source\":{\"version\":\"2.7.3.Final\",\"connector\":\"mysql\",")
      .append("\"name\":\"m2\",\"ts_ms\":").append(ts)
      .append(",\"db\":\"magento\",\"table\":\"").append(tables(s))
      .append("\",\"server_id\":1,\"file\":\"mysql-bin.000042\",\"pos\":")
      .append(r.nextInt(1 << 30)).append(",\"row\":0}")
      .append(",\"op\":\"u\",\"ts_ms\":").append(ts + 3).append('}')
    sb.toString
  }

  private def image(sb: java.lang.StringBuilder, r: SplittableRandom, s: Int,
                    id: Int, ts: Long): Unit = {
    sb.append("{\"").append(idCols(s)).append("\":").append(id)
    var c = 0
    while (c < Columns.length) {
      sb.append(",\"").append(Columns(c)).append("\":")
      c % 4 match {
        case 0 => sb.append(r.nextInt(100000))
        case 1 => sb.append('"').append(r.nextInt(1000000) / 100.0).append('"')
        case 2 =>
          sb.append('"')
          var w = 0
          while (w < 3) {
            if (w > 0) sb.append(' ')
            sb.append(Words(r.nextInt(Words.length))); w += 1
          }
          sb.append('"')
        case _ =>
          sb.append('"').append(java.time.Instant.ofEpochMilli(ts - r.nextInt(1000000)))
            .append('"')
      }
      c += 1
    }
    sb.append('}')
  }
}

object EnvelopeGen {
  val Columns: Array[String] = Array("attribute_set_id", "price", "name",
    "created_at", "store_id", "special_price", "sku", "updated_at", "status",
    "cost", "url_key", "news_from_date", "visibility", "weight", "meta_title",
    "special_from_date", "tax_class_id", "qty", "type_id")
  val Words: Array[String] = Array("classic", "cotton", "shirt", "slim", "blue",
    "leather", "jacket", "runner", "wool", "linen", "sport", "canvas", "deluxe",
    "travel", "bag", "watch", "steel", "outdoor", "kids", "premium")
  val SentinelBase = 2000000000
  val Stride = 4000000
}

object EventKind {
  val Warmup: Byte = 0
  val Load: Byte = 1
  val Backlog: Byte = 2
  val Sentinel: Byte = 3
}

/** Seeded generator writing into one `mem://` source. It records, per
  * stream and entry seq (the fake's auto ids are `<seq>-0`), the entity id,
  * the creation stamp (`System.nanoTime`; the due time in open loop) and
  * the kind. The same seed gives the same ids and bodies.
  */
final class Feed(cfg: CdcConfig, wl: Workload, seed: Long, val redis: InMemoryRedis) {
  val tables: IndexedSeq[String] = cfg.mapping.keys.toIndexedSeq.sorted
  val streams: IndexedSeq[String] = tables.map(cfg.source.prefix + _)
  val gen: EnvelopeGen = EnvelopeGen(seed, tables,
    tables.map(t => cfg.mapping(t).keys.toSeq.sorted.head))
  val targets: IndexedSeq[String] = cfg.routes.map(_.target).distinct.sorted.toIndexedSeq
  /** per source stream: the target indices it routes to */
  val routes: IndexedSeq[IndexedSeq[Int]] = tables.map(t =>
    cfg.routes.filter(_.table == t).map(r => targets.indexOf(r.target)).distinct.toIndexedSeq)

  val ids: IndexedSeq[ArrayBuffer[Int]] = streams.map(_ => ArrayBuffer[Int]())
  val created: IndexedSeq[ArrayBuffer[Long]] = streams.map(_ => ArrayBuffer[Long]())
  val kinds: IndexedSeq[ArrayBuffer[Byte]] = streams.map(_ => ArrayBuffer[Byte]())

  private val base = 1 + new SplittableRandom(seed).nextInt(1000000)
  private val draws = streams.indices.map(s => new SplittableRandom(seed * 31 + s))
  private val zipf: Array[Double] =
    if (wl.keys == "zipf") Feed.zipfCdf(wl.zipfKeys, wl.zipfS) else null
  private val issued = Array.fill(streams.size)(0)
  private var sentinels = 0

  def size(s: Int): Int = ids(s).size

  /** Entity id for the next event of stream `s` under the key model. */
  def nextId(s: Int): Int = nextId(s, draws(s), issued)
  def nextId(s: Int, r: SplittableRandom, counter: Array[Int]): Int =
    if (zipf != null) base + s * EnvelopeGen.Stride + Feed.draw(zipf, r)
    else { counter(s) += 1; base + s * EnvelopeGen.Stride + counter(s) }

  def add(s: Int, kind: Byte, createdNanos: Long): Unit =
    append(s, kind, createdNanos, nextId(s))

  private def append(s: Int, kind: Byte, createdNanos: Long, id: Int): Unit = {
    val seq = ids(s).size + 1L
    val got = redis.xadd(streams(s),
      Seq("key" -> gen.key(s, id), "value" -> gen.value(s, seq, id)))
    require(got == RedisId(seq, 0L), s"unexpected entry id $got in ${streams(s)}")
    ids(s) += id; created(s) += createdNanos; kinds(s) += kind
  }

  /** `n` entries per stream, stamped at their append. */
  def burst(n: Int, kind: Byte): Unit =
    for (_ <- 0 until n; s <- streams.indices) add(s, kind, System.nanoTime())

  /** One sentinel entry per stream (ids from a reserved range). */
  def sentinel(): Unit = {
    sentinels += 1
    streams.indices.foreach(s =>
      append(s, EventKind.Sentinel, System.nanoTime(),
        EnvelopeGen.SentinelBase + sentinels * 100 + s))
  }

  /** Open loop from `start` to `end` (nanoTime) at `ratePerStream` per
    * stream, round-robin over streams; each event is stamped with its due
    * time. Returns how late the generator ran at worst, in ns.
    */
  def openLoop(start: Long, end: Long): Long = {
    val period = 1e9 / (wl.ratePerStream * streams.size)
    var i = 0L
    var late = 0L
    var due = start
    while (due < end) {
      var now = System.nanoTime()
      while (now < due) {
        LockSupport.parkNanos(math.min(due - now, 1000000L)); now = System.nanoTime()
      }
      late = math.max(late, now - due)
      add((i % streams.size).toInt, EventKind.Load, due)
      i += 1
      due = start + (i * period).toLong
    }
    late
  }
}

object Feed {
  def zipfCdf(k: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(k)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }

  /** Rank in 1..k drawn from the cdf. */
  def draw(cdf: Array[Double], r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1) + 1
  }
}
