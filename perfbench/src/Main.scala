package perfbench

import graft.core.Dict
import graft.crf.Crf
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}

/** Entry point: one run of one workload.
  *
  *   perfbench.Main --workload <bulk_kg|small_batches>
  *       --seed <n> --seconds <s> --trace <0|1> --workdir <dir>
  *   perfbench.Main --selftest
  *
  * Prints one line per metric, then a last line holding one JSON object
  * with `correct`, `attempted`, `failed` and `metrics`. With `--trace 0`
  * the metrics are the end-to-end ones; with `--trace 1` they are the
  * per-layer ones, and the spans go to `<workdir>/trace/`. */
object Main {

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Array("--selftest"))) {
      val problems = Ledger.selfTest()
      problems.foreach(p => System.err.println(s"[perfbench] selftest: $p"))
      println(if (problems.isEmpty) "selftest ok: a throwing call and a " +
        "call failing its check were both counted as failed" else "selftest FAILED")
      sys.exit(if (problems.isEmpty) 0 else 1)
    }
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("workdir")).toAbsolutePath
    // exit explicitly: a failed run must not hang on a live Spark thread
    try new Run(workload, seed, seconds, traced, work).execute()
    catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
    sys.exit(0)
  }
}

/** Session, setup clock, closed loop and report shared by the
  * workloads. */
final class Run(val workload: String, val seed: Long, val seconds: Double,
    val traced: Boolean, val work: Path) {

  val ledger = new Ledger
  val trace = new Trace(
    s"$workload-seed$seed-${ProcessHandle.current().pid()}", traced)

  def execute(): Unit = {
    // inputs are made before the setup clock starts: they are the
    // benchmark's work, not the engine's
    val w = Workloads(workload, seed, trace)
    val t0 = System.nanoTime()
    val spark = Run.session(work)
    Crf.emissionWeights; Crf.transitions; Dict.gazIndex
    val counts = if (traced) Some(new SparkCounts(spark)) else None
    val bench = new EngineCalls(spark, ledger, trace, counts, work)
    trace.span("setup.warm_up")(_ => w.warmUp(bench))
    val setupS = (System.nanoTime() - t0) / 1e9

    val samples = closedLoop(w, bench)
    val probe = w.checkpointProbe(bench, traced)
      .getOrElse(throw new IllegalStateException("the checkpoint probe failed"))
    val e2e = w.endToEnd(samples, probe) ++ Seq(
      Metric("setup_s", setupS, "s", 1),
      Metric("peak_rss_mb", Run.peakRssMb(), "MB", 1))
    val metrics =
      if (!traced) e2e
      else {
        val (layers, checks) = w.perLayer(bench, probe)
        val (untracedS, tracedS) = samples.partition(!_.traced)
        val overhead =
          if (untracedS.isEmpty || tracedS.isEmpty) 0.0
          else Stats.median(tracedS.map(_.seconds)) /
            Stats.median(untracedS.map(_.seconds)) - 1.0
        val summary = Seq("tracing_overhead_ratio" -> overhead,
          "untraced_calls" -> untracedS.size.toDouble,
          "traced_calls" -> tracedS.size.toDouble) ++ checks
        summary.foreach { case (k, v) => println(f"trace $k%-28s $v%.4f") }
        Files.createDirectories(work.resolve("trace"))
        val file = work.resolve("trace").resolve(s"$workload-seed$seed.json")
        Files.writeString(file, trace.toJson(summary))
        println(s"trace ${trace.size} spans written to $file")
        layers
      }
    bench.stop()
    report(metrics)
  }

  /** Closed loop: the next call starts only after the previous one has
    * returned, until `seconds` have passed. In a traced run every
    * second call is traced, so the two halves give the overhead. */
  private def closedLoop(w: Workload, bench: EngineCalls): Vector[Sample] = {
    val out = Vector.newBuilder[Sample]
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val tracedCall = traced && i % 2 == 1
      w.call(bench, i, tracedCall).foreach(out += _)
      i += 1
    }
    out.result()
  }

  private def report(metrics: Seq[Metric]): Unit = {
    println(f"calls: attempted=${ledger.attempted} failed=${ledger.failed} " +
      f"fail_ratio=${ledger.failed.toDouble / math.max(1, ledger.attempted)}%.4f")
    ledger.failures.foreach(r => println(s"failed call ${r.name}: ${r.error}"))
    metrics.foreach { m =>
      println(f"metric ${m.name}%-32s ${m.value}%14.6f ${m.unit}%-13s n=${m.n}")
    }
    val ms = metrics.map { m =>
      s"${Json.str(m.name)}:{\"value\":${Json.num(m.value)}," +
        s"\"unit\":${Json.str(m.unit)}}"
    }
    println(s"""{"correct":${ledger.failed == 0},""" +
      s""""attempted":${ledger.attempted},"failed":${ledger.failed},""" +
      s""""metrics":{${ms.mkString(",")}}}""")
  }
}

/** One timed call of a workload's closed loop that returned and passed
  * its check. */
final case class Sample(seconds: Double, docs: Int, triples: Long,
    traced: Boolean)

final case class Metric(name: String, value: Double, unit: String, n: Int)

object Run {
  val cores = 4

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** This JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status"))
      .toArray(Array.empty[String]).find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
