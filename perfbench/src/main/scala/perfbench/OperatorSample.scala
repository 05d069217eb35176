package perfbench

import java.io.File

import scala.collection.mutable

import graft.SparkEntry

/** operator_sample: registry queries of the batch packs, one at a time
  * on a read-only fixture. The first pass is cold and dumps each result
  * for the oracle check (done by the caller in DuckDB); the measured
  * passes time each query to a `noop` sink in a seed-shuffled order. */
object OperatorSample {
  import Probe.median

  /** The two iterative-lineage queries whose `localCheckpoint` cuts are
    * in question: q117's PageRank and d07's connected components. Two,
    * so a cold pass and two warm passes fit one run. */
  val Queries: Seq[String] = Seq("q117_pagerank", "d07_dedup_clusters")

  /** Measuring time allotted to one pass: a 12 s window measures two. */
  val PassSeconds = 5.0

  private val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private def cleanup(ctx: Ctx): Unit = {
    ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    ctx.spark.catalog.clearCache()
  }

  def run(ctx: Ctx): Unit = {
    val a = ctx.a
    val o = ctx.o
    val fx = a.fixture
    require(new File(fx, "events.parquet").exists(), s"no fixture at $fx")
    // Set-up: read every table, repeated; then the cold pass.
    val touches = (0 until Workloads.SetupRepeats).map { _ =>
      val t0 = Clock.nowMs
      Tables.foreach(t => graft.Tables.t(ctx.spark, fx, t).count())
      (Clock.nowMs - t0) / 1000.0
    }
    val dumps = ctx.dir("ops")
    val t0 = Clock.nowMs
    Queries.foreach { q =>
      o.attempted += 1
      try {
        SparkEntry.queries(q)(ctx.spark, fx).coalesce(1)
          .write.mode("overwrite").parquet(new File(dumps, q).getAbsolutePath)
      } catch { case e: Throwable => o.fail(1, s"$q threw on the cold pass: $e") }
      cleanup(ctx)
    }
    o.put("setup_s", ctx.sessionS + median(touches) + (Clock.nowMs - t0) / 1000.0, "s")
    val oracle = new com.fasterxml.jackson.databind.ObjectMapper().createObjectNode()
    Queries.foreach(q => SparkEntry.oracleSql.get(q).foreach(sql => oracle.put(q, sql)))
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(new File(a.out, "oracle_sql.json"), oracle)

    val walls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val spans = mutable.Map.empty[String, mutable.ArrayBuffer[(Double, Double)]]
    val (passes, m0, m1) = Workloads.measured(ctx, PassSeconds) { pass =>
      val order = new scala.util.Random(a.seed * 1000003L + pass).shuffle(Queries)
      order.foreach { q =>
        o.attempted += 1
        ctx.spark.sparkContext.setJobGroup(q, q, interruptOnCancel = false)
        val q0 = Clock.nowMs
        try {
          ctx.probe.span(Layers.Lifecycle, q) {
            SparkEntry.queries(q)(ctx.spark, fx).write.format("noop").mode("overwrite").save()
          }
        } catch { case e: Throwable => o.fail(1, s"$q threw: $e") }
        val q1 = Clock.nowMs
        ctx.spark.sparkContext.clearJobGroup()
        walls.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (q1 - q0)
        spans.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ((q0, q1))
        ctx.sampleHeap()
        cleanup(ctx)
      }
    }
    val pass = passes.size
    val perQuery = Queries.map(q => q -> median(walls(q).toSeq)).toMap
    o.put("latency_p50_ms", median(perQuery.values.toSeq), "ms")
    o.put("latency_p90_ms", perQuery.values.max, "ms")
    o.put("throughput_rps", Queries.size / (perQuery.values.sum / 1000.0), "1/s")
    o.put("peak_heap_mb", ctx.peakHeapMb, "MB")
    if (a.trace) {
      Workloads.execMetrics(ctx, m0, m1, pass.toDouble)
      Queries.foreach { q =>
        o.put(s"ops.$q.wall_s", perQuery(q) / 1000.0, "s")
        val st = ctx.probe.stages.filter(_.tag == q)
        val gaps = spans(q).map { case (s, e) =>
          ((e - s) - Probe.unionMs(st.map(x => (math.max(x.startMs, s), math.min(x.endMs, e))))) / 1000.0
        }
        o.put(s"ops.$q.driver_gap_s", median(gaps.toSeq), "s")
        o.put(s"ops.$q.gc_s", st.map(_.gcMs).sum / 1000.0 / pass, "s")
      }
      ctx.probe.selfSeconds.foreach { case (layer, s) => o.put(s"self.$layer", s / pass, "s") }
      o.put("trace.overhead_pct", ctx.probe.overheadMs / (m1 - m0) * 100.0, "%")
    }
  }
}
