package perfbench

import graft.core.SourceFile
import EngineCalls.{Probe, T3}

/** A workload: its warm-up, its closed-loop call, and how its samples
  * turn into metrics. */
abstract class Workload(trace: Trace) {

  def warmUp(b: EngineCalls): Unit
  def call(b: EngineCalls, i: Int, traced: Boolean): Option[Sample]
  /** The checkpoint probe on this workload's input, after the loop. */
  def checkpointProbe(b: EngineCalls, traced: Boolean): Option[Probe]

  /** Documents whose sentences the kernels are timed on. */
  protected def kernelTexts: Seq[String]
  /** Inputs of the stage-prefix repetitions. */
  protected def prefixInputs: Seq[Seq[SourceFile]]
  /** Input of the timed `TableIO.snapshotId` calls. */
  protected def snapshotInput: Seq[SourceFile]

  def endToEnd(loop: Vector[Sample], probe: Probe): Seq[Metric] = {
    require(loop.nonEmpty, "no call of the closed loop succeeded")
    val s = loop.map(_.seconds)
    val (tail, pct) = Stats.tail(s)
    println(f"latency: p50 and p$pct of ${s.size} calls: " +
      s.map(x => f"$x%.3f").mkString(" "))
    Seq(
      Metric("docs_per_sec", Stats.median(loop.map(x => x.docs / x.seconds)), "1/s", s.size),
      Metric("triples_per_sec", Stats.median(loop.map(x => x.triples / x.seconds)), "1/s", s.size),
      Metric("batch_p50_s", Stats.median(s), "s", s.size),
      Metric("batch_p90_s", tail, "s", s.size),
      Metric("write_s", probe.writeS, "s", 1),
      Metric("resume_s", Stats.median(probe.resumeS), "s", probe.resumeS.size))
  }

  /** The per-layer metrics, and the figures that check them: stage
    * self-time sum against the un-prefixed call. */
  def perLayer(b: EngineCalls, probe: Probe)
      : (Seq[Metric], Seq[(String, Double)]) = {
    val kernels = trace.span("kernels")(Kernels.measure(kernelTexts, trace, _))
      .map { case (k, v) => Metric(k, v, Workload.kernelUnit(k), 1) }

    // the first repetition only warms the prefixes' own plans
    val reps = trace.span("prefixes") { parent =>
      (prefixInputs.head +: prefixInputs).zipWithIndex.map { case (files, r) =>
        b.prefixes(if (r == 0) "prefix.warm_up" else s"prefix$r", files,
          reversed = r % 2 == 0, parent)
      }.drop(1).flatten
    }
    require(reps.nonEmpty, "no stage-prefix repetition succeeded")
    def med(k: Int, key: String) = Stats.median(reps.map(_._1(k)(key)))
    // self value: per repetition, the prefix minus the one before it
    def selfOf(k: Int, key: String) = Stats.median(reps.map { case (w, _) =>
      w(k)(key) - (if (k == 0) 0.0 else w(k - 1)(key))
    })
    val stages = EngineCalls.Stages.zipWithIndex.flatMap { case (stage, k) =>
      Seq(Metric(s"$stage.self_s", selfOf(k, "wall_s"), "s", reps.size)) ++
        Workload.selfCounts.map { case (key, unit) =>
          Metric(s"$stage.$key", selfOf(k, key), unit, reps.size)
        } ++ Seq(
          Metric(s"$stage.task_skew", med(k, "task_skew"), "ratio", reps.size),
          Metric(s"$stage.rows_out", med(k, "rows_out"), "count", reps.size))
    }
    val stageSum = EngineCalls.Stages.indices.map(selfOf(_, "wall_s")).sum
    val full = Stats.median(reps.map(_._2))
    val summary = Seq("stage_self_sum_s" -> stageSum, "full_call_s" -> full,
      "stage_residual_ratio" -> (stageSum - full) / full)

    val snaps = trace.span("io.snapshots") { parent =>
      (0 until 3).flatMap(i =>
        b.snapshot(s"io.snapshot$i", snapshotInput, traced = true, parent))
    }.map(_._1)
    require(snaps.nonEmpty, "no timed snapshot call succeeded")
    def io(name: String, key: String, unit: String) =
      Metric(name, probe.counts(key), unit, 1)
    val ioMetrics = Seq(
      Metric("io.snapshot_s", Stats.median(snaps), "s", snaps.size),
      io("io.write_mb", "write.output_mb", "MB"),
      io("io.files_written", "files_written", "count"),
      io("io.write_jobs", "write.jobs", "count"),
      io("io.resume_read_mb", "resume.input_mb", "MB"),
      io("io.resume_jobs", "resume.jobs", "count"))
    (kernels ++ stages ++ ioMetrics, summary)
  }
}

object Workload {
  /** Window counts reported per stage as self values, with units. */
  val selfCounts: Seq[(String, String)] = Seq(
    "jobs" -> "count", "spark_stages" -> "count", "tasks" -> "count",
    "task_run_s" -> "s", "task_cpu_s" -> "s", "gc_s" -> "s",
    "queue_s" -> "s", "fetch_wait_s" -> "s", "shuffle_write_mb" -> "MB",
    "shuffle_read_mb" -> "MB", "spill_mb" -> "MB")

  def kernelUnit(name: String): String =
    if (name.endsWith("ns_per_token")) "ns/token"
    else if (name == "link.ns_per_candidate") "ns/candidate"
    else if (name.endsWith("_ratio") || name.endsWith("_per_mention")) "ratio"
    else "count"
}

object Workloads {
  def apply(name: String, seed: Long, trace: Trace): Workload = name match {
    case "bulk_kg" => new BulkKg(seed, trace)
    case "small_batches" => new SmallBatches(seed, trace)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Triple precision and recall against golden triples, both >= 0.95;
    * label triples are not scored. */
  def precisionRecall(golden: Set[T3])(got: Vector[T3]): Option[String] = {
    val g = got.filter(_._2 != "label").toSet
    val tp = (g intersect golden).size.toDouble
    val p = if (g.isEmpty) 0.0 else tp / g.size
    val r = tp / golden.size
    if (p >= 0.95 && r >= 0.95) None else Some(f"precision $p%.4f recall $r%.4f")
  }
}

/** One large entity-dense corpus per call: per-row cost (decode, linker
  * scoring, post-process shuffle volume) carries the wall time. */
final class BulkKg(seed: Long, trace: Trace) extends Workload(trace) {
  private val corpus = Gen.entityDense(10000, seed, "bulk")
  private val golden = Gen.goldenTriples(corpus)
  private var digest = ""

  // every output of this corpus, checkpointed or not, must be the same
  private def check(got: Vector[T3]): Option[String] =
    Workloads.precisionRecall(golden)(got).orElse {
      val d = Stats.digest(got)
      if (digest.isEmpty) { digest = d; None }
      else if (d == digest) None
      else Some("output differs from the first Pipeline.triples output")
    }

  def warmUp(b: EngineCalls): Unit =
    (0 until 2).foreach(i => b.triples(s"warm_up$i", corpus.files, traced = false)(check))

  def call(b: EngineCalls, i: Int, traced: Boolean): Option[Sample] =
    b.triples(s"call$i", corpus.files, traced)(check).map { case (s, t) =>
      Sample(s, corpus.docs, t.size.toLong, traced)
    }

  def checkpointProbe(b: EngineCalls, traced: Boolean): Option[Probe] =
    b.checkpointProbe(corpus.files, traced)(check)

  protected def kernelTexts: Seq[String] = corpus.files.take(2000).map(_.content)
  protected def prefixInputs: Seq[Seq[SourceFile]] = Seq.fill(3)(corpus.files)
  protected def snapshotInput: Seq[SourceFile] = corpus.files
}

/** Many small batches of short single-line documents: fixed per-call
  * cost (jobs, exchanges, broadcasts, eager checkpoints) carries the
  * wall time, and link and insertion do almost nothing. */
final class SmallBatches(seed: Long, trace: Trace) extends Workload(trace) {
  private val batches = Gen.smallBatches(4, 64, seed)
  private val digests = scala.collection.mutable.Map.empty[Int, String]
  private val predicates = Set("hasType", "label", "sameAs", "mentionedIn")

  private def check(batch: Int)(got: Vector[T3]): Option[String] = {
    val docs = batches(batch).map(f => s"${f.repo}/${f.path}").toSet
    val digest = Stats.digest(got)
    if (got.isEmpty) Some("no triples")
    else got.find(t => !predicates(t._2)).map(t => s"unknown predicate ${t._2}")
      .orElse(got.find(t => t._2 == "mentionedIn" && !docs(t._3))
        .map(t => s"mentionedIn ${t._3} is not a document of batch $batch"))
      .orElse(digests.get(batch).filter(_ != digest)
        .map(_ => s"batch $batch digest changed between iterations"))
      .orElse { digests(batch) = digest; None }
  }

  // per-call cost here is mostly driver-side planning and scheduling,
  // which the JIT needs many calls to compile
  def warmUp(b: EngineCalls): Unit = (0 until 6).foreach { i =>
    val batch = i % batches.size
    b.triples(s"warm_up$i", batches(batch), traced = false)(check(batch))
  }

  def call(b: EngineCalls, i: Int, traced: Boolean): Option[Sample] = {
    val batch = i % batches.size
    b.triples(s"call$i.batch$batch", batches(batch), traced)(check(batch))
      .map { case (s, t) => Sample(s, batches(batch).size, t.size.toLong, traced) }
  }

  def checkpointProbe(b: EngineCalls, traced: Boolean): Option[Probe] =
    b.checkpointProbe(batches(0), traced)(check(0))

  protected def kernelTexts: Seq[String] = batches.flatten.map(_.content)
  protected def prefixInputs: Seq[Seq[SourceFile]] = batches.take(3)
  protected def snapshotInput: Seq[SourceFile] = batches(0)
}
