package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Command line of one benchmark process (see run.py for the flags). */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    work: String,
    data: String,
    out: String,
    input: String,
    tailBurst: Int,
    tailBatches: Int)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      req("work"), kv.getOrElse("data", ""), req("out"), kv.getOrElse("input", ""),
      kv.getOrElse("tail-burst", "10000").toInt, kv.getOrElse("tail-batches", "2").toInt)
  }
}

/** Raw result of one run: counters, scalar values and sample arrays. The
  * python front end turns it into the metric line; nothing here computes a
  * percentile, so the percentile rules live in one place.
  */
final class Record {
  val values = mutable.LinkedHashMap.empty[String, Any]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val errors = mutable.ArrayBuffer.empty[String]
  @volatile var attempted = 0L
  @volatile var failed = 0L

  def set(k: String, v: Any): Unit = synchronized { values(k) = v }
  def add(k: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty[Double]) += v
  }
  def attempt(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) {
      failed += 1
      if (errors.length < 50) errors += what
      System.err.println(s"[perfbench] FAILED: $what")
    }
  }

  def toJson: String = synchronized {
    Json.write(Map(
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "values" -> values.toMap, "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap))
  }
}

/** Minimal JSON writer for the raw record (maps, sequences, numbers, text). */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(x: Any): Unit = x match {
      case null | None => sb ++= "null"
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case f: Float => go(f.toDouble)
      case n: Int => sb ++= n.toString
      case n: Long => sb ++= n.toString
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        m.iterator.zipWithIndex.foreach { case ((k, w), i) =>
          if (i > 0) sb += ','
          str(k.toString); sb += ':'; go(w)
        }
        sb += '}'
      case a: Array[_] => go(a.toSeq)
      case s: Iterable[_] =>
        sb += '['
        s.iterator.zipWithIndex.foreach { case (w, i) => if (i > 0) sb += ','; go(w) }
        sb += ']'
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}

/** Wall clock in epoch milliseconds with nanosecond resolution, so spans
  * line up with the epoch-millisecond times of Spark listener events.
  */
object Clock {
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def nowMs: Double = (epochNs0 + (System.nanoTime() - nano0)) / 1e6
  def cpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    }.getOrElse(0.0)
}

/** Spans around the benchmark's own calls into a layer. Disabled spans cost
  * one volatile read. A span's parent is the innermost open span of the same
  * thread; `op` ties the spans of one operation together.
  */
object Trace {
  final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
      startMs: Double, endMs: Double)
  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)
  @volatile private var costNs = 0L

  def span[T](layer: String, name: String, op: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val c0 = System.nanoTime()
      val id = ids.incrementAndGet()
      val stack = open.get()
      open.set(id :: stack)
      val start = Clock.nowMs
      costNs += System.nanoTime() - c0
      try body
      finally {
        val c1 = System.nanoTime()
        spans.add(Span(id, stack.headOption.getOrElse(0L), op, layer, name, start, Clock.nowMs))
        open.set(stack)
        costNs += System.nanoTime() - c1
      }
    }

  /** A span whose times were measured elsewhere (e.g. a progress event). */
  def record(layer: String, name: String, startMs: Double, endMs: Double): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), 0L, -1L, layer, name, startMs, endMs))

  def all: Seq[Span] = spans.asScala.toSeq
  def overheadMs: Double = costNs / 1e6

  /** Self time per layer: each span's duration minus its children's. */
  def selfSeconds: Map[String, Double] = {
    val xs = all
    val childMs = xs.groupBy(_.parent).map { case (p, cs) => p -> cs.map(s => s.endMs - s.startMs).sum }
    xs.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endMs - s.startMs) - childMs.getOrElse(s.id, 0.0)).sum / 1000.0
    }
  }

  def writeTo(path: String): Unit = {
    val rows = all.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), Json.write(rows))
  }
}

object Sessions {
  val cpus: Int = Runtime.getRuntime.availableProcessors()

  def start(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .config("spark.sql.streaming.stopTimeout", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
