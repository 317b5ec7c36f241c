package perfbench

import org.apache.spark.PerfbenchListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** A listener that counts what Spark did inside a measurement window:
  * jobs, stages and tasks, task time, waiting, shuffle, spill and
  * storage bytes, rows reaching a V2 write (the noop sink), and the
  * task-time skew of the heaviest stage. */
final class SparkCounts(spark: SparkSession) extends SparkListener {
  import SparkCounts._

  private val sc = spark.sparkContext
  private var jobs = 0L
  private var rowsWritten = 0L
  private var stages = 0L
  private val sums = Array.fill(Summed.size)(0.0)
  private val submittedAt = mutable.Map.empty[Int, Long]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  sc.addSparkListener(this)
  spark.listenerManager.register(new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = {
      val rows = qe.executedPlan.collectFirst {
        case w: V2TableWriteExec => w.commitProgress.map(_.numOutputRows)
      }.flatten
      SparkCounts.this.synchronized { rowsWritten += rows.getOrElse(0L) }
    }
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += 1 }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      submittedAt(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val queuedMs = submittedAt.get(e.stageId)
        .map(s => math.max(0L, e.taskInfo.launchTime - s)).getOrElse(0L)
      val v = Array(
        1.0,
        m.executorRunTime / 1e3,
        m.executorCpuTime / 1e9,
        m.jvmGCTime / 1e3,
        queuedMs / 1e3,
        m.shuffleReadMetrics.fetchWaitTime / 1e3,
        m.shuffleWriteMetrics.bytesWritten / MB,
        m.shuffleReadMetrics.totalBytesRead / MB,
        m.diskBytesSpilled / MB,
        m.outputMetrics.bytesWritten / MB,
        m.inputMetrics.bytesRead / MB)
      var i = 0
      while (i < v.length) { sums(i) += v(i); i += 1 }
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  /** Runs `body` and returns its result with the wall seconds and every
    * count of the work Spark did meanwhile. */
  def window[A](body: => A): (A, Map[String, Double]) = {
    PerfbenchListenerBus.drain(sc)
    val (j0, st0, r0, s0, seen0) = synchronized {
      (jobs, stages, rowsWritten, sums.clone(), taskMs.keySet.toSet)
    }
    val t0 = System.nanoTime()
    val a = body
    val wall = (System.nanoTime() - t0) / 1e9
    PerfbenchListenerBus.drain(sc)
    synchronized {
      val heaviest = taskMs.iterator.filter { case (id, _) => !seen0(id) }
        .map(_._2).toSeq.sortBy(-_.sum).headOption
      val skew = heaviest.map { ts =>
        val sorted = ts.sorted
        sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
      }.getOrElse(1.0)
      val counts = Map("wall_s" -> wall, "jobs" -> (jobs - j0).toDouble,
        "spark_stages" -> (stages - st0).toDouble, "task_skew" -> skew,
        "rows_out" -> (rowsWritten - r0).toDouble) ++
        Summed.indices.map(i => Summed(i) -> (sums(i) - s0(i)))
      (a, counts)
    }
  }
}

object SparkCounts {
  private val MB = 1024.0 * 1024.0

  /** Per-task values summed over a window, in the order `onTaskEnd`
    * builds them. */
  val Summed: Vector[String] = Vector("tasks", "task_run_s", "task_cpu_s",
    "gc_s", "queue_s", "fetch_wait_s", "shuffle_write_mb",
    "shuffle_read_mb", "spill_mb", "output_mb", "input_mb")
}
