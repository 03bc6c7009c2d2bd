package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: set up the workload several times (the
  * median of the set-ups after the first, which also starts the session, is
  * `setup_s`), measure it for `--seconds`, check its outputs and write the
  * raw record to `--out`. run.py turns the record into metrics.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--oracle-sql")) {
      println(AnalyticsMix.oracleSql())
      System.exit(0)
    }
    val o = Opts.parse(args)
    Trace.enabled = o.trace
    val rec = new Record
    val code =
      try { runWorkload(o, rec); 0 }
      catch {
        case e: Throwable =>
          e.printStackTrace()
          rec.errors += s"run aborted: ${e.getClass.getName}: ${e.getMessage}"
          3
      }
    rec.set("peak_rss_mb", Clock.peakRssMb)
    if (o.trace) {
      Trace.writeTo(s"${o.work}/spans.json")
      Trace.selfSeconds.foreach { case (layer, s) => rec.set(s"$layer.self_s", s) }
      rec.set("trace.spans", Trace.all.length)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), rec.toJson)
    // ends the run's session, streaming queries and sockets with the JVM
    Runtime.getRuntime.halt(code)
  }

  /** Set up `SetupReps` times, tearing down all but the last set-up. */
  private def withSetups[S](rec: Record)(setup: () => S)(teardown: S => Unit): S = {
    var last: Option[S] = None
    (1 to SetupReps).foreach { _ =>
      last.foreach(teardown)
      val t0 = Clock.nowMs
      last = Some(setup())
      rec.add("setup_s", (Clock.nowMs - t0) / 1000.0)
    }
    last.get
  }

  private def runWorkload(o: Opts, rec: Record): Unit = o.workload match {
    case "analytics_mix" =>
      // the session starts once (in the first set-up)
      lazy val session = Sessions.start(o.work)
      val spark = withSetups(rec)(() => AnalyticsMix.setup(session, o))(_.catalog.clearCache())
      val tally = if (o.trace) Some(SparkTally.attach(spark)) else None
      AnalyticsMix.run(spark, o, rec, tally)
      tally.foreach(t => rec.set("trace.listener_ms", t.overheadMs))
    case "live_ingest" =>
      val (puts, subs) = LiveIngest.readSchedule(o.input)
      // the session starts once (in the first set-up); each set-up starts
      // the peers and streaming queries on it
      lazy val session = Sessions.start(o.work)
      var rep = 0
      val s = withSetups(rec) { () =>
        rep += 1
        LiveIngest.setup(session, o, rep, subs, puts.filter(_.phase == "warm"))
      }(LiveIngest.teardown)
      val tally = if (o.trace) Some(SparkTally.attach(s.spark)) else None
      LiveIngest.run(s, o, puts, rec, tally)
      tally.foreach(t => rec.set("trace.listener_ms", t.overheadMs))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
