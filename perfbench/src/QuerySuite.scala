package perfbench

import scala.util.control.NonFatal

/** The batch-analytics layer: one cold pass over fixed `SparkEntry.queries`
  * rows on the bundled sf0.01 tables, with each row's time, planning time,
  * Spark jobs and shuffle bytes, and its result cardinality checked.
  * Measured in the traced run of `ingest_dedup` (a timed workload of its
  * own would not fit the benchmark's run budget).
  */
object QuerySuite {
  /** Row -> result cardinality on the bundled tables, as the DuckDB
    * oracle (`SparkEntry.oracleSql`) computes it over the same parquet
    * files. `contain_build` builds a cache and has no result.
    */
  val Expected: Seq[(String, Long)] = Seq(
    "contain_build" -> -1L,
    "q_dedup_containment" -> 50L,
    "q_dedup_containment_incremental" -> 8L,
    "q_dedup_containment_admitted" -> 8L,
    "q_dedup_compacted" -> 4L,
    "q_graph_pagerank" -> 25L,
    "q5_local_supplier" -> 25L,
    "q18_big_orders" -> 5102L,
    "q_text_tfidf" -> 1500L,
    "cdc_serving_state" -> 669L,
    "q1_pricing_summary" -> 6L,
    "q6_forecast_revenue" -> 1L)

  def tracePass(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val dir = ctx.args.dataDir.toString
    val queries = graft.SparkEntry.queries
    val l = ctx.layer
    spark.sharedState.cacheManager.clearCache()
    val times = Expected.flatMap { case (name, want) =>
      val s0 = ctx.counters.snap()
      val t0 = System.nanoTime()
      val rows =
        try Some(ctx.tracer.span(s"query.$name", trace = s"query-$name") {
          if (name == "contain_build") { graft.analytics.DedupQueries.buildContainChain(spark, dir); -1L }
          else {
            val df = queries(name)(spark, dir)
            val p0 = System.nanoTime()
            df.queryExecution.executedPlan
            l.put(s"query.$name.plan_ms", (System.nanoTime() - p0) / 1e6, "ms")
            df.count()
          }
        })
        catch { case NonFatal(e) =>
          ctx.check(ok = false, s"$name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
        }
      rows.map { n =>
        val sec = (System.nanoTime() - t0) / 1e9
        ctx.check(n == want, s"$name: $n rows, the oracle's cardinality is $want")
        val d = ctx.counters.snap() - s0
        l.put(s"query.${name}_s", sec, "s")
        l.put(s"query.$name.jobs", d.jobs.toDouble, "count")
        l.put(s"query.$name.shuffle_bytes", d.shuffleWrite.toDouble, "bytes")
        sec
      }
    }
    l.put("suite_s", times.sum, "s")
    ctx.note(f"query pass took ${times.sum}%.2f s")
  }
}
