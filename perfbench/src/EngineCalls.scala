package perfbench

import graft.core.SourceFile
import graft.io.TableIO
import graft.link.Linker
import graft.pipeline.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path}
import scala.jdk.StreamConverters._

/** The benchmark's calls into the engine's public entry points. Every
  * call goes through the ledger; a traced call also gets a span and,
  * in a traced run, the Spark counts of its window. */
final class EngineCalls(val spark: SparkSession, ledger: Ledger,
    trace: Trace, counts: Option[SparkCounts], work: Path) {
  import spark.implicits._
  import EngineCalls._

  /** Times `body` as one call named `name`, then checks its result. */
  def timed[A](name: String, traced: Boolean, parent: Int = 0)(body: => A)
      (check: A => Option[String]): Option[(Double, A, Map[String, Double])] =
    ledger.call(name) {
      if (!traced) (body, Map.empty[String, Double])
      else trace.span(name, parent) { _ =>
        counts.map(_.window(body)).getOrElse((body, Map.empty[String, Double]))
      }
    }(r => check(r._1)).map { case (s, (a, c)) => (s, a, c) }

  private def rows(df: DataFrame): Vector[T3] =
    df.collect().iterator
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toVector

  /** `Pipeline.triples` over `files`, collected. */
  def triples(name: String, files: Seq[SourceFile], traced: Boolean)
      (check: Vector[T3] => Option[String]): Option[(Double, Vector[T3])] =
    timed(name, traced)(rows(Pipeline.triples(spark.createDataset(files))))(check)
      .map { case (s, t, _) => (s, t) }

  /** `TableIO.snapshotId` of `files`, timed. */
  def snapshot(name: String, files: Seq[SourceFile], traced: Boolean,
      parent: Int = 0): Option[(Double, String)] =
    timed(name, traced, parent)(TableIO.snapshotId(spark.createDataset(files).toDF()))(
      id => if (id.startsWith("sha-")) None else Some(s"bad snapshot id $id"))
      .map { case (s, id, _) => (s, id) }

  /** The checkpoint probe: `TableIO.snapshotId` of `files`, a cold
    * `Pipeline.triplesCheckpointed` into a fresh root, then the same
    * call with the same snapshot three times, each resuming from the
    * committed stages. Every output must pass `check`; the resumed ones
    * must equal the cold one. */
  def checkpointProbe(files: Seq[SourceFile], traced: Boolean)
      (check: Vector[T3] => Option[String]): Option[Probe] = {
    val root = work.resolve("ckpt")
    deleteTree(root)
    def call(snapshotId: String) = rows(Pipeline.triplesCheckpointed(
      spark.createDataset(files), root.toString, snapshotId))
    val out = for {
      (_, id) <- snapshot("probe.snapshot", files, traced = false)
      (w, cold, wc) <- timed("probe.write", traced)(call(id))(check)
      written = countFiles(root)
      resumes = (0 until 3).flatMap { i =>
        timed(s"probe.resume$i", traced)(call(id)) { t =>
          check(t).orElse(
            if (Stats.digest(t) == Stats.digest(cold)) None
            else Some("resumed output differs from the cold output"))
        }
      }
      if resumes.nonEmpty
    } yield Probe(w, resumes.map(_._1).toVector,
      wc.map { case (k, v) => s"write.$k" -> v } ++
        resumes.head._3.map { case (k, v) => s"resume.$k" -> v } +
        ("files_written" -> written.toDouble))
    deleteTree(root)
    out
  }

  /** The pipeline's cumulative prefixes, each built exactly as the
    * engine builds it and forced by a full-row noop write, inside a
    * counted window; and the un-prefixed call as a user makes it
    * (`Pipeline.triples`, collected), whose time the stage self times
    * should add up to. `reversed` runs them last to first, so that
    * alternating repetitions cancel any effect of the order. */
  def prefixes(name: String, files: Seq[SourceFile], reversed: Boolean,
      parent: Int): Option[(Vector[Map[String, Double]], Double)] = {
    def ds = spark.createDataset(files)
    val built: Vector[(String, () => DataFrame)] = Vector(
      "pipeline.mentions" -> (() => Pipeline.mentions(ds).toDF()),
      "postprocess" -> (() => Pipeline.postProcessed(ds).toDF()),
      "link" -> (() => Linker.link(Pipeline.postProcessed(ds)).toDF()),
      "triples" -> (() => Pipeline.triples(ds)))
    def prefix(i: Int) = timed(s"$name.${built(i)._1}", traced = true, parent) {
      built(i)._2().write.format("noop").mode("overwrite").save()
    }(_ => None).map(_._3)
    def full() = timed(s"$name.full", traced = true, parent)(
      rows(Pipeline.triples(ds)))(_ => None).map(_._1)
    val (windows, fullS) =
      if (!reversed) { val w = built.indices.map(prefix); (w, full()) }
      else { val f = full(); (built.indices.reverse.map(prefix).reverse, f) }
    for (f <- fullS if windows.forall(_.nonEmpty))
      yield (windows.flatten.toVector, f)
  }

  def stop(): Unit = {
    spark.stop()
    deleteTree(work.resolve("ckpt"))
  }
}

object EngineCalls {
  type T3 = (String, String, String)

  /** Timings of one checkpoint probe, with the counts of its cold write
    * and first resume when traced. */
  final case class Probe(writeS: Double, resumeS: Vector[Double],
      counts: Map[String, Double])

  /** The stage prefixes, in pipeline order. */
  val Stages: Vector[String] =
    Vector("pipeline.mentions", "postprocess", "link", "triples")

  def countFiles(root: Path): Int =
    if (!Files.exists(root)) 0
    else {
      val s = Files.walk(root)
      try s.toScala(Vector).count(Files.isRegularFile(_)) finally s.close()
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.toScala(Vector).reverse.foreach(Files.delete) finally s.close()
    }
}
