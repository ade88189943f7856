package graft.bench

import graft.cdc.CdcConfig
import graft.sources.{InMemoryRedis, RedisId}
import java.nio.file.Paths
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Benchmark of the shipped `watch` plane. Every run goes through
  * `graft.Main.main("watch", ...)` with the flags Main reads
  * (`--source redis --sink redis` over `mem://`), so config → source
  * options → trigger → CdcPipeline → RedisStreamsSink → source commit run
  * as deployed. The harness adds a generator thread that XADDs into the
  * source, a collector thread that polls the targets, and Spark listeners.
  *
  * A run sets the plane up [[Setups]] times (fresh session, streams and
  * checkpoint each time) and keeps the last one running for the load:
  * an open loop for `--seconds`, or backlog rounds until `--seconds` have
  * passed. After the load it pokes a sentinel so the last load epoch gets
  * acked, stops the query, checks every output and prints one JSON line.
  * With `--trace 1` it also replays one captured epoch through the public
  * layer functions (see [[Replay]]) and writes its spans to `--spans`.
  */
object WatchBench {
  final case class Epoch(batch: Long, start: IndexedSeq[Long], end: IndexedSeq[Long],
                         trigger: Long, done: Long, rows: Long, durations: Map[String, Long])

  private val MaxId = RedisId(-1L, -1L)
  private val wallOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def wallMsToNanos(ms: Long): Long = ms * 1000000L - wallOffset

  final class MainRunner(args: Array[String]) extends Thread("cdcbench-watch") {
    @volatile var error: Throwable = _
    override def run(): Unit = try graft.Main.main(args) catch { case t: Throwable => error = t }
  }

  private val progs = ArrayBuffer[Tap.Progress]()

  private def await(what: String, timeoutS: Double, runner: MainRunner)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!cond) {
      if (runner != null && runner.error != null)
        throw new IllegalStateException(s"watch failed while waiting for $what", runner.error)
      if (System.nanoTime() > deadline) throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(2)
    }
  }

  /** Completed epochs of one query, from its progress events, in batch order. */
  private def epochsOf(query: java.util.UUID, streams: IndexedSeq[String]): IndexedSeq[Epoch] = {
    var p = Tap.progress.poll()
    while (p != null) { progs += p; p = Tap.progress.poll() }
    val seqOf = "\"([^\"]+)\"\\s*:\\s*\"(\\d+)-(\\d+)\"".r
    def offsets(json: String): IndexedSeq[Long] = {
      val m = if (json == null) Map.empty[String, Long]
        else seqOf.findAllMatchIn(json).map(x => x.group(1) -> x.group(2).toLong).toMap
      streams.map(m.getOrElse(_, 0L))
    }
    progs.iterator.filter(x => x.p.id == query && x.p.durationMs.containsKey("addBatch"))
      .map { x =>
        val pr = x.p
        Epoch(pr.batchId, offsets(pr.sources.head.startOffset), offsets(pr.sources.head.endOffset),
          wallMsToNanos(java.time.Instant.parse(pr.timestamp).toEpochMilli), x.nanos,
          pr.numInputRows, pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }.toSeq.groupBy(_.batch).values.map(_.head).toIndexedSeq.sortBy(_.batch)
  }

  /** Stop a running `watch` query. Main's `awaitTermination` returns as soon
    * as the stream thread ends and Main then stops the SparkContext, which
    * can land while `stop()` is still cancelling the query's job group.
    */
  private def stopQuery(session: SparkSession, id: java.util.UUID): Unit =
    try Option(session.streams.get(id)).foreach(_.stop())
    catch { case e: IllegalStateException if session.sparkContext.isStopped => () }

  final case class Setup(t0: Long, session: Long, started: Long, first: Long, query: java.util.UUID)

  /** Setups per run. `setup_s` is their median: the first setup is also
    * JVM-cold, so one setup alone spreads with class loading and JIT
    * warm-up; three keep the run inside its time budget.
    */
  val Setups = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workload(a("workload"), a("mode"), a("rate").toDouble, a("keys"),
      a("zipf-keys").toInt, a("zipf-s").toDouble, a("warmup").toInt, a("backlog").toInt)
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val cfgPath = a("config")
    val cfg = CdcConfig.load(cfgPath)
    val spans = new Spans(s"${wl.name}-s$seed")
    val tRun = System.nanoTime()
    def mark(what: String): Unit =
      System.err.println(f"[cdcbench] ${(System.nanoTime() - tRun) / 1e9}%.2f s: $what")

    val selfTest = Checker.selfTest()
    selfTest.foreach(m => System.err.println(s"[cdcbench] checker self-test: $m"))

    System.setProperty("spark.sql.streaming.streamingQueryListeners", classOf[ProgressTap].getName)
    if (trace) System.setProperty("spark.extraListeners", classOf[JobTap].getName)
    System.setProperty("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    System.setProperty("spark.local.dir", work.resolve("spark-local").toString)

    var prevSession: SparkSession = null
    var feed: Feed = null
    var collector: Collector = null
    var runner: MainRunner = null
    val setups = (1 to Setups).map { k =>
      val src = s"cdcbench-src-$k"
      val tgt = s"cdcbench-tgt-$k"
      InMemoryRedis.reset(src); InMemoryRedis.reset(tgt)
      feed = new Feed(cfg, wl, seed, InMemoryRedis.named(src))
      feed.burst(wl.warmupPerStream, EventKind.Warmup)
      val last = k == Setups
      if (last) {
        val f = feed
        val lag: Option[() => Long] = if (!trace) None else Some(() =>
          f.streams.indices.map(s => f.size(s) - f.redis.ackedIds(f.streams(s), cfg.source.group).size).sum.toLong)
        collector = new Collector(InMemoryRedis.named(tgt),
          feed.targets.map(cfg.target.prefix + _), lag)
        collector.start()
      }
      val ckpt = work.resolve(s"checkpoint-$k").toString
      val t0 = System.nanoTime()
      runner = new MainRunner(Array("watch", "--config", cfgPath, "--in", s"mem://$src",
        "--source", "redis", "--url", s"mem://$src", "--sink", "redis",
        "--target-url", s"mem://$tgt", "--checkpoint", ckpt))
      runner.start()
      val r = runner
      await("session", 120, r)(SparkSession.getDefaultSession.exists(s =>
        (s ne prevSession) && !s.sparkContext.isStopped))
      val tSession = System.nanoTime()
      prevSession = SparkSession.getDefaultSession.get
      await("query start", 120, r)(Tap.started.asScala.exists(_.nanos >= t0))
      val st = Tap.started.asScala.filter(_.nanos >= t0).head
      await("first epoch", 120, r)(epochsOf(st.id, feed.streams).nonEmpty)
      val first = epochsOf(st.id, feed.streams).head
      spans.add(0, s"setup-$k", t0, first.done, "session_s" -> (tSession - t0) / 1e9)
      if (!last) {
        stopQuery(prevSession, st.id)
        runner.join(120000)
      }
      mark(s"setup $k done")
      Setup(t0, tSession, st.nanos, first.done, st.id)
    }
    val query = setups.last.query
    val streams = feed.streams
    def epochs = epochsOf(query, streams)
    // Main maps buffers.dedupe.time to a ProcessingTime trigger, whose
    // epochs start on wall-clock multiples of the interval. Starting the
    // load a fixed lead before such a boundary fixes the phase between load
    // and triggers, so waits behind the trigger repeat from run to run.
    val interval = cfg.buffers.dedupe.time
    def alignToTrigger(): Long = {
      val lead = 500L
      val nowMs = System.currentTimeMillis()
      var boundary = (nowMs / interval + 1) * interval
      while (boundary - lead < nowMs + 50) boundary += interval
      val at = wallMsToNanos(boundary - lead)
      while (System.nanoTime() < at) java.util.concurrent.locks.LockSupport.parkNanos(200000L)
      at
    }
    val tW0 = alignToTrigger()
    val (stealW0, totW0) = Host.cpuTimes()

    // ---- load ----
    var genLate = 0L
    val rounds = ArrayBuffer[(Int, Int)]() // backlog rounds: (first seq - 1, last seq), per stream
    if (wl.mode == "open") {
      val f = feed
      val g = new Thread(() => genLate = f.openLoop(tW0, tW0 + (seconds * 1e9).toLong), "cdcbench-gen")
      g.start(); g.join()
    } else {
      do {
        if (rounds.nonEmpty) alignToTrigger()
        val before = feed.size(0)
        feed.burst(wl.backlogPerStream, EventKind.Backlog)
        rounds += ((before, feed.size(0)))
        val f = feed
        await("backlog drained", 150, runner)(epochs.lastOption.exists(e =>
          streams.indices.forall(s => e.end(s) >= f.size(s))))
      } while (System.nanoTime() - tW0 < seconds * 1e9)
    }
    val tStop = System.nanoTime()
    mark("load done")

    // ---- tail: epoch N is acked only when N+1 plans, so poke a sentinel ----
    val f = feed
    def consumedAll = epochs.lastOption.exists(e => streams.indices.forall(s => e.end(s) >= f.size(s)))
    if (!consumedAll) await("epoch after the load", 60, runner)(epochs.exists(_.trigger >= tStop) || consumedAll)
    val tPoke = System.nanoTime()
    feed.sentinel()
    val sentinelSeq = streams.indices.map(feed.size)
    await("sentinel epoch", 60, runner)(epochs.exists(e =>
      e.trigger >= tPoke || streams.indices.exists(s => e.end(s) >= sentinelSeq(s))))
    stopQuery(prevSession, query)
    collector.finish()
    runner.join(120000)
    if (runner.error != null) throw new IllegalStateException("watch failed", runner.error)
    val tEnd = System.nanoTime()
    mark("query stopped; trigger phase (ms past the interval boundary) " +
      epochs.drop(1).map(e => ((e.trigger + wallOffset) / 1000000L) % interval).mkString(","))
    val (stealEnd, totEnd) = Host.cpuTimes()
    val rssMb = Host.peakRssMb()

    // ---- check ----
    val E = epochs
    val ackSets = streams.map(s => feed.redis.ackedIds(s, cfg.source.group))
    val present = streams.map(s => feed.redis.xrange(s, RedisId.Zero, MaxId, Int.MaxValue).map(_._1.ms).toSet)
    val maxBatch = cfg.buffers.target.size
    val res = Checker.check(Checker.Input(feed.routes, feed.ids.map(_.toIndexedSeq),
      E.map(e => (e.start, e.end)), collector.entries.map(_.map(_._2).toIndexedSeq),
      (s, seq) => ackSets(s).contains(RedisId(seq, 0L)) || !present(s).contains(seq), maxBatch))

    // ---- end-to-end metrics ----
    val nT = feed.targets.size
    def vis(t: Int, idx: Int): Long = collector.entries(t)(idx)._1
    val lastVis = E.indices.map { e =>
      val vs = for (t <- 0 until nT; idx <- res.found(e)(t).valuesIterator) yield vis(t, idx)
      if (vs.isEmpty) E(e).done else vs.max
    }
    val epochOf = streams.indices.map { s =>
      val arr = Array.fill(feed.size(s))(-1)
      for ((ep, e) <- E.zipWithIndex; seq <- ep.start(s) + 1 to ep.end(s)) arr((seq - 1).toInt) = e
      arr
    }
    def measured(s: Int, k: Int): Boolean = {
      val kind = feed.kinds(s)(k)
      kind == EventKind.Load || kind == EventKind.Backlog
    }
    def delivered(s: Int, k: Int, t: Int): Option[Long] = {
      val e = epochOf(s)(k)
      if (e < 0) None else res.found(e)(t).get(feed.ids(s)(k)).map(vis(t, _))
    }
    val consumed = Array.fill(E.size)(0L)
    val newest = Array.fill(E.size)(Long.MinValue)
    val fresh = ArrayBuffer[Double]()
    var onTime = 0L
    val limitMs = 2.0 * cfg.buffers.dedupe.time
    for (s <- streams.indices; k <- 0 until feed.size(s)) {
      val e = epochOf(s)(k)
      val c = feed.created(s)(k)
      if (e >= 0 && feed.kinds(s)(k) != EventKind.Sentinel) newest(e) = math.max(newest(e), c)
      if (measured(s, k)) {
        if (e >= 0) consumed(e) += 1
        for (t <- feed.routes(s)) {
          val d = delivered(s, k, t)
          val ms = (d.getOrElse(tEnd) - c) / 1e6
          fresh += ms
          if (d.isDefined && ms <= limitMs) onTime += 1
        }
      }
    }
    val M = E.indices.filter(e => e > 0 && consumed(e) > 0 && (wl.mode == "backlog" || E(e).trigger <= tStop))
    require(M.nonEmpty, "no epoch consumed measured events")
    val deliveredEps =
      if (M.size >= 2) M.tail.map(consumed).sum / ((lastVis(M.last) - lastVis(M.head)) / 1e9)
      else consumed(M.head) / ((lastVis(M.head) - E(M.head).trigger) / 1e9)
    val drainEps =
      if (wl.mode == "open") M.map(consumed).sum / ((lastVis(M.last) - E(M.head).trigger) / 1e9)
      else Stats.median(rounds.toSeq.map { case (from, to) =>
        val firstEpoch = E.indexWhere(_.end(0) > from)
        var endT = 0L
        for (s <- streams.indices; k <- from until to; t <- feed.routes(s))
          endT = math.max(endT, delivered(s, k, t).getOrElse(tEnd))
        (to - from).toDouble * streams.size / ((endT - E(firstEpoch).trigger) / 1e9)
      })
    val emitDelays = E.indices.filter(e => e > 0 && newest(e) != Long.MinValue)
      .map(e => (lastVis(e) - newest(e)) / 1e6)
    val cpuPerK = collector.cpuSeconds(tW0, tEnd) / (consumed.sum / 1000.0)

    val e2e = Seq(
      "setup_s" -> (Stats.median(setups.map(x => (x.first - x.t0) / 1e9)), "s"),
      "drain_eps" -> (drainEps, "events/s"),
      "delivered_eps" -> (deliveredEps, "events/s"),
      "freshness_p50_ms" -> (Stats.quantile(fresh.toSeq, 0.5), "ms"),
      "freshness_p99_ms" -> (Stats.quantile(fresh.toSeq, 0.99), "ms"),
      "emit_delay_p50_ms" -> (Stats.median(emitDelays), "ms"),
      "ontime_share" -> (onTime.toDouble / fresh.size, "ratio"),
      "rss_peak_mb" -> (rssMb, "MB"))

    // ---- host-contention stamp ----
    val stealS = stealEnd - stealW0
    val stealShare = stealS / math.max(1e-9, totEnd - totW0)
    val dirty = stealShare > 0.05
    println("host-stamp " + Json.obj(Seq("workload" -> wl.name, "seed" -> seed,
      "steal_s" -> stealS, "steal_share" -> stealShare, "steal_dirty" -> dirty,
      "process_cpu_s" -> collector.cpuSeconds(tW0, tEnd),
      "generator_late_ms_max" -> genLate / 1e6, "epochs" -> E.size,
      "checker" -> Json.obj(res.counts.toSeq))).json)
    if (dirty) System.err.println(f"[cdcbench] steal-dirty run: $stealS%.2f stolen cpu-s ($stealShare%.3f of host cpu)")

    // ---- per-layer metrics (traced run) ----
    val metrics: Seq[(String, (Double, String))] = if (!trace) e2e else {
      val root = spans.add(0, "run", tRun, tEnd, "workload" -> wl.name, "seed" -> seed)
      spans.add(root, "load", tW0, tStop)
      val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      val epochSpan = E.map { ep =>
        val id = spans.add(root, s"epoch-${ep.batch}", ep.trigger, ep.done, "rows" -> ep.rows)
        var at = ep.trigger
        phases.foreach { ph =>
          ep.durations.get(ph).foreach { d => spans.add(id, ph, at, at + d * 1000000L); at += d * 1000000L }
        }
        ep.batch -> id
      }.toMap
      // per-layer medians run over every epoch after setup that read load
      val L = E.indices.filter(e => e > 0 && consumed(e) > 0)
      val Lb = L.map(E(_).batch).toSet
      val qid = query.toString
      val jobs = Tap.jobStarts.asScala.filter(j => j.queryId == qid && Lb.contains(j.batch)).toSeq
      val jobEnd = Tap.jobEnds.asScala.map(j => j.jobId -> j.timeMs).toMap
      val stageDone = Tap.stages.asScala.map(s => s.stageId -> s).toMap
      jobs.foreach { j =>
        val jid = spans.add(epochSpan.getOrElse(j.batch, root), s"job-${j.jobId}",
          wallMsToNanos(j.timeMs), wallMsToNanos(jobEnd.getOrElse(j.jobId, j.timeMs)))
        j.stageIds.flatMap(stageDone.get).foreach { s =>
          spans.add(jid, s"stage-${s.stageId}", wallMsToNanos(s.submitMs), wallMsToNanos(s.doneMs),
            "tasks" -> s.numTasks, "cpu_ms" -> s.cpuNanos / 1e6, "shuffle_write_bytes" -> s.shuffleWriteBytes)
        }
      }
      def perEpoch(f: Seq[Tap.StageDone] => Double, g: Seq[Tap.JobStart] => Double = null): Double =
        Stats.median(L.map { e =>
          val js = jobs.filter(_.batch == E(e).batch)
          if (g != null) g(js) else f(js.flatMap(_.stageIds).distinct.flatMap(stageDone.get))
        })
      def dur(k: String): Double = Stats.median(L.map(e => E(e).durations.getOrElse(k, 0L).toDouble))
      val coverage = Stats.median(L.map { e =>
        phases.map(E(e).durations.getOrElse(_, 0L)).sum.toDouble /
          math.max(1L, E(e).durations.getOrElse("triggerExecution", 0L))
      })
      val session = replaySession()
      val captured = L.maxBy(E(_).rows)
      val replay = try Replay.run(session, cfg, feed, E(captured), spans, root)
                   finally session.stop()
      spans.write(Paths.get(a("spans")))
      val layer = Seq(
        "sources.plan_ms" -> (dur("latestOffset"), "ms"),
        "sources.commit_ms" -> (dur("walCommit"), "ms"),
        "sources.rows_per_epoch" -> (Stats.median(L.map(E(_).rows.toDouble)), "rows"),
        "sources.lag_entries_max" -> (collector.lagMax.toDouble, "entries"),
        "streaming.trigger_ms" -> (dur("triggerExecution"), "ms"),
        "streaming.add_batch_ms" -> (dur("addBatch"), "ms"),
        "streaming.query_planning_ms" -> (dur("queryPlanning"), "ms"),
        "streaming.commit_log_ms" -> (dur("commitOffsets"), "ms"),
        "streaming.phase_coverage" -> (coverage, "ratio"),
        "streaming.jobs_per_epoch" -> (perEpoch(null, js => js.size.toDouble), "count"),
        "streaming.stages_per_epoch" -> (perEpoch(ss => ss.size.toDouble), "count"),
        "streaming.tasks_per_epoch" -> (perEpoch(ss => ss.map(_.numTasks).sum.toDouble), "count"),
        "streaming.executor_cpu_ms_per_epoch" -> (perEpoch(ss => ss.map(_.cpuNanos).sum / 1e6), "ms"),
        "streaming.shuffle_write_bytes_per_epoch" -> (perEpoch(ss => ss.map(_.shuffleWriteBytes).sum.toDouble), "bytes"),
        "main.session_s" -> (Stats.median(setups.map(x => (x.session - x.t0) / 1e9)), "s"),
        "main.first_epoch_s" -> (Stats.median(setups.map(x => (x.first - x.started) / 1e9)), "s"),
        "main.setup_cold_s" -> ((setups.head.first - setups.head.t0) / 1e9, "s"),
        "gen.late_ms_max" -> (genLate / 1e6, "ms"),
        "host.cpu_s_per_kevent" -> (cpuPerK, "cpu-s/kevent"),
        "host.steal_s" -> (stealS, "s"),
        "host.steal_share" -> (stealShare, "ratio"),
        "trace.emit_delay_p50_ms" -> (Stats.median(emitDelays), "ms"),
        "trace.delivered_eps" -> (deliveredEps, "events/s"))
      layer ++ replay
    }

    mark("checked")
    val correct = selfTest.isEmpty && res.failed == 0
    println(Json.obj(Seq("correct" -> correct, "attempted" -> res.attempted, "failed" -> res.failed,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) => k -> Json.obj(Seq("value" -> v, "unit" -> u)) })
    )).json)
    System.out.flush()
    // Spark leaves non-daemon threads behind; the result is out, so leave.
    Runtime.getRuntime.halt(0)
  }

  /** A session for the traced replay, built by the same factory Main uses. */
  private def replaySession(): SparkSession = {
    val s = graft.GraftSession.local()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
