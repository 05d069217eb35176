package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its metrics to `<out>/result.json`.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --out <dir> [--fixture <sf dir>]
  */
object Main {

  /** Metrics and the failure count of one run. */
  final class Outcome {
    val metrics   = mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0L
    var failed    = 0L
    /** Failures that are wrong output, not just a failed operation. */
    var mismatches = 0L
    val problems  = mutable.ArrayBuffer.empty[String]
    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
    def fail(n: Long, msg: String): Unit = {
      failed += n
      problems += msg
      System.err.println(s"[perfbench] FAILED: $msg")
    }
    def mismatch(n: Long, msg: String): Unit = { mismatches += n; fail(n, msg) }
  }

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: File, fixture: String)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      new File(m("out")).getAbsoluteFile, m.getOrElse("fixture", ""))
  }

  def session(cpus: Int, out: File): SparkSession = {
    val s = graft.GraftSession.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(out, "spark-local").getAbsolutePath)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.out.mkdirs()
    val probe = new Probe(s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}", a.trace)
    val o = new Outcome
    val t0 = Clock.nowMs
    val spark = session(Runtime.getRuntime.availableProcessors, a.out)
    val sessionS = (Clock.nowMs - t0) / 1000.0
    probe.attach(spark)
    val ctx = new Ctx(a, spark, probe, o, sessionS)
    try {
      a.workload match {
        case "backlog_drain"   => Workloads.backlogDrain(ctx)
        case "live_tail"       => Workloads.liveTail(ctx)
        case "operator_sample" => OperatorSample.run(ctx)
        case other             => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        o.mismatch(1, s"workload threw: $e")
    }
    if (a.trace) probe.writeTrace(new File(a.out, "trace.json"))
    writeResult(new File(a.out, "result.json"), o)
    SparkSession.getActiveSession.foreach(_.stop())
  }

  private def writeResult(f: File, o: Outcome): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    root.put("attempted", o.attempted)
    root.put("failed", o.failed)
    root.put("mismatches", o.mismatches)
    val ps = root.putArray("problems"); o.problems.foreach(p => ps.add(p))
    val ms = root.putObject("metrics")
    o.metrics.foreach { case (k, (v, u)) =>
      val x = ms.putObject(k); x.put("value", v); x.put("unit", u)
    }
    m.writeValue(f, root)
  }
}

/** Everything a workload needs: arguments, session, probe, outcome. */
final class Ctx(val a: Main.Args, var spark: SparkSession, val probe: Probe,
    val o: Main.Outcome, val sessionS: Double) {
  def dir(name: String): File = { val d = new File(a.out, name); d.mkdirs(); d }
  private var peakHeap = 0.0
  /** Record the heap in use after a full collection. */
  def sampleHeap(): Unit = peakHeap = math.max(peakHeap, Probe.liveHeapMb())
  def peakHeapMb: Double = peakHeap
}
