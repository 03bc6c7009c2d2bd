package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** `analytics_mix`: the 13 declared analytics queries over the benchmark's
  * own copy of the sf0.01 tables. The seed only sets their order. Each query
  * is timed to a complete result with a `noop` write, so every output column
  * is evaluated.
  */
object AnalyticsMix {
  /** Query name → the layer whose module does its work. */
  val Queries: Seq[(String, String)] = Seq(
    "gun_ham_merge" -> "operators", "gun_path_read" -> "operators",
    "gun_lww_tiebreak" -> "operators", "gun_deferred_split" -> "operators",
    "emb_semantic_dedup_hier" -> "operators", "minhash_lsh_pairs" -> "operators",
    "doc_dup_clusters" -> "operators", "doc_bpe_train" -> "operators",
    "graph_pagerank" -> "graph", "graph_label_prop" -> "graph", "graph_components" -> "graph",
    "q3_shipping" -> "queries", "q5_region_volume" -> "queries")

  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Set-up on a running session: open every table's footer and run one
    * small join-aggregate, so the first query of the mix does not pay alone
    * for the planner, code generation and shuffle warming up.
    */
  def setup(spark: SparkSession, o: Opts): SparkSession = {
    import org.apache.spark.sql.functions.{count, sum}
    val t = Tables.map(n => n -> spark.read.parquet(s"${o.data}/$n.parquet")).toMap
    t("orders").join(t("customer"), t("orders")("o_custkey") === t("customer")("c_custkey"))
      .groupBy("c_mktsegment").agg(sum("o_totalprice"), count("o_orderkey"))
      .write.format("noop").mode("overwrite").save()
    spark
  }

  def run(spark: SparkSession, o: Opts, rec: Record, tally: Option[SparkTally]): Unit = {
    val order = new scala.util.Random(o.seed).shuffle(Queries)
    val queries = SparkEntry.queries
    val failedNames = scala.collection.mutable.Set.empty[String]
    val windows = scala.collection.mutable.ArrayBuffer.empty[(String, String, Double, Double)]

    // One pass runs every query once. The timed part is the query build plus
    // its noop write; on the first pass the same built DataFrame is then
    // written to parquet, untimed, for the oracle check. Reusing the built
    // DataFrame lets that write reuse what the build already materialized.
    val outDir = s"${o.work}/results"
    var cpuTimed = 0.0
    def pass(check: Boolean): Double = {
      var total = 0.0
      order.foreach { case (name, layer) =>
        val cpuA = Clock.cpuS
        val a = Clock.nowMs
        var df: org.apache.spark.sql.DataFrame = null
        val ok = try {
          Trace.span(layer, name) {
            df = Trace.span(layer, s"$name.build")(queries(name)(spark, o.data))
            Trace.span("spark", s"$name.noop_write")(df.write.format("noop").mode("overwrite").save())
          }
          true
        } catch {
          case e: Throwable =>
            failedNames += name
            rec.errors += s"$name threw ${e.getClass.getName}: ${e.getMessage}"
            false
        }
        val b = Clock.nowMs
        cpuTimed += Clock.cpuS - cpuA
        rec.attempt(ok, s"$name threw")
        if (ok) {
          rec.add(s"query_s.$name", (b - a) / 1000.0)
          windows += ((name, layer, a, b))
          total += (b - a) / 1000.0
          if (check) {
            try df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
            catch {
              case e: Throwable =>
                failedNames += name
                rec.errors += s"$name result write threw ${e.getClass.getName}: ${e.getMessage}"
            }
          }
        }
        spark.catalog.clearCache()
      }
      total
    }

    // measured phase: whole passes while the next one still fits
    val t0 = Clock.nowMs
    var passes = 0
    var last = 0.0
    do {
      val s = pass(check = passes == 0)
      passes += 1
      last = s
      rec.add("pass_s", s)
    } while ((Clock.nowMs - t0) / 1000.0 + last <= o.seconds)
    rec.set("cpu_s", cpuTimed / passes)
    rec.set("passes", passes)

    tally.foreach { t =>
      SparkTally.settle(t)
      // only the timed windows: the untimed result writes of the oracle check
      // run their queries again and are not the program's work
      SparkTally.sparkLayer(rec, SparkTally.total(windows.toSeq.map { case (_, _, a, b) => t.window(a, b) }))
      // per query: sum over its passes, divided by the pass count
      windows.groupBy(w => (w._1, w._2)).foreach { case ((name, layer), ws) =>
        val sums = SparkTally.total(ws.toSeq.map { case (_, _, a, b) =>
          t.window(a, b) + ("s" -> (b - a) / 1000.0) })
        Seq("s", "executor_cpu_s", "shuffle_write_bytes", "jobs", "driver_gap_s").foreach { k =>
          val name2 = if (k == "executor_cpu_s") "cpu_s" else k
          rec.set(s"$layer.$name.$name2", sums(k) / ws.length)
        }
      }
    }

    rec.set("results_dir", outDir)
    rec.set("failed_queries", failedNames.toSeq.sorted)
  }

  /** Print the oracle SQL of the 13 queries (used to refresh the digests). */
  def oracleSql(): String =
    Json.write(Queries.map { case (n, _) => n -> SparkEntry.oracleSql(n) }.toMap)
}
