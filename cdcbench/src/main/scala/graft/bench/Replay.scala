package graft.bench

import graft.cdc.{Batcher, CdcConfig, CdcPipeline, Dedupe, Routing}
import graft.sources.{InMemoryRedis, RedisId}
import graft.streaming.RedisStreamsSink
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Traced replay of one captured epoch through the public layer functions,
  * each call timed inside a span. The epoch's input is rebuilt from the
  * generator (same stream, seq and id, so the same bytes) because the
  * source trims acked entries. Every timing is the median of three.
  */
object Replay {
  private val MaxId = RedisId(-1L, -1L)
  private val Reps = 3

  def run(spark: SparkSession, cfg: CdcConfig, feed: Feed, epoch: WatchBench.Epoch,
          spans: Spans, root: Int): Seq[(String, (Double, String))] = {
    val parent = spans.add(root, "replay", System.nanoTime(), System.nanoTime(), "batch" -> epoch.batch)
    val streams = feed.streams.indices
    val rows: IndexedSeq[(Int, Long, Int)] = for {
      s <- streams; seq <- epoch.start(s) + 1 to epoch.end(s)
    } yield (s, seq, feed.ids(s)((seq - 1).toInt))
    val prefix = cfg.target.prefix
    val maxBatch = cfg.buffers.target.size
    var scratch = 0
    def fresh(kind: String): String = {
      scratch += 1
      val name = s"cdcbench-replay-$kind-$scratch"
      InMemoryRedis.reset(name)
      name
    }
    def median(xs: Seq[Double]): Double = Stats.median(xs)
    def reps(name: String)(f: => Unit): Double =
      median((1 to Reps).map(i => spans.time(parent, name, "rep" -> i)(f)._2 * 1000))

    // ---- sources: xrange paging of the epoch's ranges, then xack + xdel ----
    val bodies = rows.map { case (s, seq, id) =>
      (s, RedisId(seq, 0L), Seq("key" -> feed.gen.key(s, id), "value" -> feed.gen.value(s, seq, id)))
    }
    val readCount = 1000
    val readMs = ArrayBuffer[Double]()
    val ackMs = ArrayBuffer[Double]()
    for (i <- 1 to Reps) {
      val r = InMemoryRedis.named(fresh("src"))
      bodies.foreach { case (s, id, body) => r.xadd(feed.streams(s), body, Some(id)) }
      readMs += spans.time(parent, "sources.xrange", "rep" -> i) {
        for (s <- streams if epoch.end(s) > epoch.start(s)) {
          var cursor = RedisId(epoch.start(s), 0L)
          var page = r.xrange(feed.streams(s), cursor, RedisId(epoch.end(s), 0L), readCount)
          while (page.nonEmpty) {
            cursor = page.last._1
            page = if (page.size < readCount) Seq.empty
              else r.xrange(feed.streams(s), cursor, RedisId(epoch.end(s), 0L), readCount)
          }
        }
      }._2 * 1000
      streams.foreach(s => r.xgroupCreate(feed.streams(s), cfg.source.group, RedisId.Zero))
      val idsBy = bodies.groupBy(_._1).map { case (s, b) => s -> b.map(_._2) }
      ackMs += spans.time(parent, "sources.xack_xdel", "rep" -> i) {
        idsBy.foreach { case (s, ids) =>
          ids.grouped(readCount).foreach { page =>
            r.xack(feed.streams(s), cfg.source.group, page)
            r.xdel(feed.streams(s), page)
          }
        }
      }._2 * 1000
    }

    // ---- cdc layers on the captured input ----
    val routes = Routing.routesDf(spark, cfg).cache()
    routes.count()
    val input1 = inputOf(spark, feed, rows)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val parsed = CdcPipeline.parseAndRoute(input1, routes)
    val routed = parsed.filter(col("entity_id").isNotNull)
    val parseMs = reps("cdc.parseAndRoute")(noop(routed))
    val routedRows = routed.count()
    val rejected = parsed.filter(col("entity_id").isNull).count()
    val routedCk = routed.localCheckpoint(eager = true)
    val deduped = Dedupe.keepFirstAgg(routedCk, Seq("target", "entity_id"), col("id"), Seq("id"))
    val dedupeMs = reps("cdc.keepFirstAgg")(noop(deduped))
    val survivors = deduped.count()
    val dedupedCk = deduped.localCheckpoint(eager = true)
    val chunked = Batcher.chunkIds(dedupedCk, "target", "entity_id", maxBatch, col("id"))
    val chunkMs = reps("cdc.chunkIds")(noop(chunked))
    val chunkCk = chunked.localCheckpoint(eager = true)
    val chunks = chunkCk.count()

    // ---- sink on the captured chunk output ----
    var sinkTarget = ""
    val sinkMs = reps("sink.writer") {
      sinkTarget = fresh("tgt")
      RedisStreamsSink.writer(s"mem://$sinkTarget", prefix)(chunkCk, epoch.batch)
    }
    val written = feed.targets.flatMap(t =>
      InMemoryRedis.named(sinkTarget).xrange(prefix + t, RedisId.Zero, MaxId, Int.MaxValue))
    val primeMs = median((1 to 5).map(i => spans.time(parent, "sink.prime", "rep" -> i) {
      RedisStreamsSink.prime(s"mem://${fresh("prime")}", prefix, feed.targets)
    }._2 * 1000))

    // ---- fixed vs marginal: CdcPipeline.run + writer at 1x and 10x ----
    val rng = new SplittableRandom(feed.gen.seed ^ 0x5EEDL)
    val counter = Array.fill(feed.streams.size)(2000000)
    val extra = for (c <- 1 to 9; (s, seq, _) <- rows)
      yield (s, seq + c * 100000000L, feed.nextId(s, rng, counter))
    val input10 = inputOf(spark, feed, rows ++ extra)
    val n1 = rows.size.toDouble
    val n10 = n1 + extra.size
    val t1 = ArrayBuffer[Double]()
    val t10 = ArrayBuffer[Double]()
    for (i <- 1 to Reps; (scale, in, acc) <- Seq((1, input1, t1), (10, input10, t10))) {
      acc += spans.time(parent, s"plane.${scale}x", "rep" -> i) {
        RedisStreamsSink.writer(s"mem://${fresh("fit")}", prefix)(
          CdcPipeline.run(in, routes, maxBatch), epoch.batch)
      }._2
    }
    val marginal = (median(t10.toSeq) - median(t1.toSeq)) / (n10 - n1)
    val fixed = median(t1.toSeq) - marginal * n1
    spans.add(root, "replay-end", System.nanoTime(), System.nanoTime())

    Seq(
      "sources.read_ms" -> (median(readMs.toSeq), "ms"),
      "sources.ack_ms" -> (median(ackMs.toSeq), "ms"),
      "cdc.parse_route_ms" -> (parseMs, "ms"),
      "cdc.routed_rows" -> (routedRows.toDouble, "rows"),
      "cdc.rejected_rows" -> (rejected.toDouble, "rows"),
      "cdc.dedupe_ms" -> (dedupeMs, "ms"),
      "cdc.dedupe_keep_ratio" -> (survivors.toDouble / math.max(1L, routedRows), "ratio"),
      "cdc.chunk_ms" -> (chunkMs, "ms"),
      "cdc.chunks" -> (chunks.toDouble, "count"),
      "sink.write_ms" -> (sinkMs, "ms"),
      "sink.xadds_per_epoch" -> (written.size.toDouble, "count"),
      "sink.bytes_per_epoch" -> (written.map(_._2.getOrElse("ids", "").length.toLong).sum.toDouble, "bytes"),
      "sink.prime_ms" -> (primeMs, "ms"),
      "cdc.fixed_ms_per_epoch" -> (fixed * 1000, "ms"),
      "cdc.marginal_us_per_event" -> (marginal * 1e6, "us"))
  }

  /** The source's record contract (`id`, `table`, `envelope`) for the given
    * (stream, seq, id) triples; envelopes are built on the executors and
    * the result is checkpointed so timings exclude generation.
    */
  private def inputOf(spark: SparkSession, feed: Feed, rows: Seq[(Int, Long, Int)]): DataFrame = {
    import spark.implicits._
    val gen = feed.gen
    val envelope = udf((s: Int, seq: Long, id: Int) => gen.value(s, seq, id))
    rows.toDF("s", "seq", "eid").repartition(feed.streams.size, col("s"))
      .select(
        concat(col("seq").cast("string"), lit("-0")).as("id"),
        element_at(array(feed.tables.map(lit): _*), col("s") + 1).as("table"),
        envelope(col("s"), col("seq"), col("eid")).as("envelope"))
      .localCheckpoint(eager = true)
  }
}
