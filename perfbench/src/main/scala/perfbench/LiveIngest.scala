package perfbench

import graft.core.{GunCell, GunValue}
import graft.sources.{GunWebSocketServer, GunWire, InMemoryPeerConn, PeerConn, WebSocketPeerConn, WireCodec}
import graft.streaming.{HamStream, SubscriptionHub}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import scala.jdk.CollectionConverters._

/** `live_ingest`: an open-loop put stream over two loopback websocket peers,
  * every frame sent to both (Gun's put-to-all-peers). Peer A runs the wire
  * codec → HAM state machine (timers on) → delta-store append and
  * compaction; peer B runs the same stream into a SubscriptionHub. A
  * closed-loop tail paced by the store's batches then measures throughput
  * over `--tail-batches` store batches of about `--tail-burst` frames each.
  * The put schedule comes from run.py (`--input`), which also owns the LWW
  * model the final state is checked against.
  */
object LiveIngest {
  val Buckets = 64
  val TailSettleMs = 50.0

  /** One scheduled put of phase `warm` (sent in the first set-up), `open`
    * (sent `tMs` after the start of the open loop) or `tail` (closed loop).
    * `stateRel` is its HAM state relative to the send of the warm-up burst
    * or to the start of the open loop.
    */
  final case class Put(idx: Int, phase: String, tMs: Double, soul: String, stateRel: Double,
      kind: String, fields: Seq[String]) {
    def frame(base: Double): String = WireCodec.putMessage(s"m$idx",
      fields.map(f => GunCell(soul, f, GunValue.string(s"i$idx"), base + stateRel)))
  }

  final case class Setup(spark: SparkSession, servers: Seq[GunWebSocketServer],
      clients: Seq[PeerConn], connNames: Seq[String], store: String,
      storeQuery: StreamingQuery, hub: SubscriptionHub, progress: ProgressLog,
      deliveries: java.util.concurrent.ConcurrentLinkedQueue[(String, String, String, Double)])

  def readSchedule(path: String): (Seq[Put], Seq[(String, String)]) = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala.toSeq
    val puts = lines.filter(_.startsWith("put\t")).map(_.split("\t")).map { a =>
      Put(a(1).toInt, a(2), a(3).toDouble, a(4), a(5).toDouble, a(6), a(7).split(",").toSeq)
    }
    val subs = lines.filter(_.startsWith("sub\t")).map(_.split("\t")).map(a => (a(1), a(2)))
    (puts, subs)
  }

  /** Set-up on a running session: peers, both streaming queries, the
    * subscriptions, and a first completed batch of each query. The first
    * set-up also sends the warm-up puts and waits until both queries commit
    * them, so that every later set-up and the measured phase run warm code;
    * its store is discarded with it.
    */
  def setup(spark: SparkSession, o: Opts, rep: Int, subs: Seq[(String, String)],
      warm: Seq[Put]): Setup = {
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    implicit val cellEnc: org.apache.spark.sql.Encoder[GunCell] = Encoders.product[GunCell]
    val names = Seq(s"perfbench-a-$rep", s"perfbench-b-$rep")
    val accepted = names.map(_ => new java.util.concurrent.LinkedBlockingQueue[PeerConn]())
    val servers = accepted.map(q => new GunWebSocketServer(0, q.put(_)))
    val clients = servers.map(s => WebSocketPeerConn.dial(s"ws://127.0.0.1:${s.boundPort}/gun"))
    names.zip(accepted).foreach { case (n, q) =>
      val c = q.poll(10, java.util.concurrent.TimeUnit.SECONDS)
      require(c != null, "websocket accept timed out")
      InMemoryPeerConn.register(n, c)
    }
    def updates(name: String) = {
      val frames = spark.readStream.format("gun").option("conn", name).option("pid", name).load()
      HamStream.updates(GunWire.framesToCells(frames, "frame").as[GunCell], timers = true)
    }
    val store = s"${o.work}/store-$rep"
    val storeQuery = HamStream.appendIntoStore(updates(names(0)), store, Buckets)
    val hub = new SubscriptionHub(updates(names(1)))
    val deliveries = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String, Double)]()
    subs.foreach { case (soul, field) =>
      hub.subscribe(soul, field)(u => deliveries.add((u.soul, u.field, u.value.str.getOrElse(""), Clock.nowMs)))
    }
    val toSend = if (rep == 1) warm else Nil
    if (toSend.nonEmpty) {
      val tb = Clock.nowMs
      toSend.foreach { p =>
        val f = p.frame(tb)
        clients.foreach(_.send(f))
      }
    }
    // ready = both queries have completed a batch holding every warm-up put
    def ready(q: StreamingQuery) =
      progress.of(q.id).nonEmpty && progress.committed(q.id) >= toSend.length
    val deadline = System.currentTimeMillis() + 60000
    while (!(ready(storeQuery) && ready(hub.query)) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    require(ready(storeQuery) && ready(hub.query), "streaming queries did not start")
    Setup(spark, servers, clients, names, store, storeQuery, hub, progress, deliveries)
  }

  def teardown(s: Setup): Unit = {
    s.storeQuery.stop()
    s.hub.query.stop()
    s.spark.streams.removeListener(s.progress)
    s.clients.foreach(c => scala.util.Try(c.close()))
    s.servers.foreach(c => scala.util.Try(c.close()))
    s.connNames.foreach(InMemoryPeerConn.unregister)
  }

  def run(s: Setup, o: Opts, puts: Seq[Put], rec: Record, tally: Option[SparkTally]): Unit = {
    val open = puts.filter(_.phase == "open")
    val tail = puts.filter(_.phase == "tail").toIndexedSeq
    val openMs = o.seconds * 1000.0 * 2 / 3
    val sentA = new java.util.concurrent.atomic.AtomicInteger(0)
    def committed(q: StreamingQuery) = s.progress.committed(q.id)
    def await(cond: => Boolean, what: String): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(10)
      if (!cond) rec.errors += s"timed out waiting for $what"
    }

    val t0 = Clock.nowMs + 200 // first send a little after the threads start
    rec.set("t0_ms", t0)
    // the tail starts once the store has committed every open-loop put, so
    // the open loop's latencies do not depend on it. A store batch that
    // starts within TailSettleMs of it holds only the first few frames and is
    // not measured; each later one holds about one burst. The tail ends after
    // tailBatches of them, or `--seconds` after it started
    @volatile var tailStart = Double.PositiveInfinity
    def tailCap = tailStart + o.seconds * 1000.0
    @volatile var tailDone = false
    def tailOver: Boolean = tailDone || {
      tailDone = Clock.nowMs >= tailCap ||
        s.progress.of(s.storeQuery.id).count(b => b.startMs >= tailStart + TailSettleMs && b.inputRows > 0) >= o.tailBatches
      tailDone
    }
    val cpu0 = Clock.cpuS
    @volatile var cpuOpen = 0.0
    @volatile var aDone = false

    // Client thread `peer`: the open-loop schedule, then the closed-loop
    // tail. Peer A sends a burst of tailBurst frames when the tail starts
    // and another each time a store batch ends, so every batch finds the
    // burst sent during the one before it; it sends one burst per measured
    // batch, so none is left to drain after the tail. Peer B sends every
    // tail frame peer A sent, so both pipelines get the same frames.
    def client(peer: Int): Runnable = () => {
      val conn = s.clients(peer)
      def send(p: Put): Unit = {
        val frame = p.frame(t0)
        val a = Clock.nowMs
        Trace.span("sources", "send", p.idx)(conn.send(frame))
        val b = Clock.nowMs
        if (peer == 0) {
          rec.add("send_at_ms", a - t0)
          rec.add("send_ms", b - a)
          rec.add("frame_bytes", frame.length.toDouble)
          sentA.incrementAndGet()
        }
        if (p.phase == "open") rec.add("late_ms", a - (t0 + p.tMs))
      }
      open.foreach { p =>
        val due = t0 + p.tMs
        var now = Clock.nowMs
        while (now < due) {
          val waitMs = due - now
          // park until just before the send is due, then spin: the
          // generator must not take the pipeline's cores
          if (waitMs > 0.2) java.util.concurrent.locks.LockSupport.parkNanos(((waitMs - 0.1) * 1e6).toLong)
          else Thread.onSpinWait()
          now = Clock.nowMs
        }
        send(p)
      }
      var k = 0 // tail frames this peer has sent
      if (peer == 0) {
        cpuOpen = Clock.cpuS - cpu0
        val drainCap = t0 + openMs + o.seconds * 1000.0
        while (committed(s.storeQuery) < open.length && Clock.nowMs < drainCap) Thread.sleep(1)
        tailStart = Clock.nowMs
        var ended = s.progress.of(s.storeQuery.id).length
        var bursts = 0
        def burst(): Unit = {
          val until = (k + o.tailBurst) min tail.length
          while (k < until && !tailOver) { send(tail(k)); k += 1 }
          bursts += 1
        }
        burst()
        while (!tailOver) {
          val n = s.progress.of(s.storeQuery.id).length
          if (n > ended && bursts < o.tailBatches) { ended = n; burst() } else Thread.sleep(1)
        }
        aDone = true
      } else {
        while (!aDone || open.length + k < sentA.get()) {
          if (open.length + k < sentA.get()) { send(tail(k)); k += 1 }
          else Thread.sleep(1)
        }
      }
    }

    val threads = Seq(new Thread(client(0)), new Thread(client(1)))
    threads.foreach(_.start())
    threads.foreach(_.join())
    val t1 = Clock.nowMs
    rec.set("cpu_open_s", cpuOpen)
    rec.set("open_ms", openMs)
    rec.set("tail_start_ms", tailStart - t0)
    rec.set("tail_settle_ms", TailSettleMs)
    rec.set("sent", sentA.get())
    rec.set("tail_end_ms", t1 - t0)
    rec.set("tail_batches", o.tailBatches)

    // drain: every sent frame committed by both queries, and a batch of
    // each that started once every future write was due (plus the timer
    // floor), so matured deferred writes have fired
    val sent = sentA.get().toLong
    val due = (open ++ tail).take(sentA.get()).map(_.stateRel).max + t0 +
      HamStream.DeferSlackMs + 1000
    def doneAfterDue(q: StreamingQuery) = s.progress.of(q.id).exists(_.startMs >= due)
    await(committed(s.storeQuery) >= sent && committed(s.hub.query) >= sent &&
      doneAfterDue(s.storeQuery) && doneAfterDue(s.hub.query), "the pipelines to drain")
    rec.set("drained", committed(s.storeQuery) >= sent && committed(s.hub.query) >= sent)

    // the store's merged view and every subscriber's last value, for the
    // front end's LWW model check
    val view = HamStream.readStore(s.spark, s.store, Buckets)
      .select("soul", "field", "value.str", "state").collect()
      .map(r => Seq(r.getString(0), r.getString(1), r.getString(2), r.getDouble(3)))
    rec.set("store_view", view.toSeq)
    val last = s.deliveries.asScala.toSeq.groupBy(d => (d._1, d._2)).map { case ((so, f), ds) =>
      Seq(so, f, ds.maxBy(_._4)._3) }
    rec.set("sub_last", last.toSeq)
    rec.set("deliveries", s.deliveries.asScala.toSeq.map { case (_, _, v, t) => Seq(v, t - t0) })

    def dump(q: StreamingQuery) = s.progress.of(q.id).map { b =>
      Map("batch" -> b.batchId, "start_ms" -> (b.startMs - t0), "end_ms" -> (b.endMs - t0),
        "start_offset" -> b.startOffset, "end_offset" -> b.endOffset, "rows" -> b.inputRows,
        "durations" -> b.durations, "state_rows_total" -> b.stateRowsTotal,
        "state_rows_updated" -> b.stateRowsUpdated, "state_memory_bytes" -> b.stateMemoryBytes,
        "state_update_ms" -> b.stateUpdateMs, "state_commit_ms" -> b.stateCommitMs)
    }
    // the sinks run inside Spark's streaming threads: their spans come from
    // the progress events (addBatch ends where commitOffsets begins)
    if (Trace.enabled) Seq(s.storeQuery -> "store_append", s.hub.query -> "hub_batch").foreach {
      case (q, name) => s.progress.of(q.id).filter(_.inputRows > 0).foreach { b =>
        val end = b.endMs - b.durations.getOrElse("commitOffsets", 0L)
        Trace.record("streaming", name, end - b.durations.getOrElse("addBatch", 0L), end)
      }
    }
    rec.set("store_batches", dump(s.storeQuery))
    rec.set("hub_batches", dump(s.hub.query))
    tally.foreach { t =>
      SparkTally.settle(t)
      SparkTally.sparkLayer(rec, t.window(t0, t1))
      rec.set("streaming.store_compactions", t.compactions(t0, t1))
    }
    storeLayout(s.spark, s.store, rec)
  }

  /** File layout of the store after the run: files per bucket and bytes. */
  private def storeLayout(spark: SparkSession, store: String, rec: Record): Unit = {
    val dir = new org.apache.hadoop.fs.Path(store)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val buckets = fs.listStatus(dir).filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
    val files = buckets.map(b => fs.listStatus(b.getPath).filter(_.getPath.getName.endsWith(".parquet")))
    rec.set("streaming.store_files_per_bucket_max", files.map(_.length).foldLeft(0)(_ max _))
    rec.set("store_bytes", files.flatten.map(_.getLen).sum.toDouble)
  }
}
