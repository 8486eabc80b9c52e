package crawlbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-runtime counters for the traced run: a listener the benchmark
  * registers itself, counting jobs, stages, tasks and task metrics while
  * it is attached. Nothing is registered in an untraced run.
  */
final class SparkTrace(sc: SparkContext) extends SparkListener {
  private var jobs = 0L
  private var jobsEnded = 0L
  private var stages = 0L
  private var tasks = 0L
  private var runMs = 0L
  private var shuffleWriteBytes = 0L
  private var spillBytes = 0L
  private var inputBytes = 0L

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobsEnded += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stages += 1
    tasks += si.numTasks
    val m = si.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
    }
  }

  /** Counters so far; the difference of two snapshots covers a region. */
  def snapshot(): SparkTrace.Counts = synchronized {
    SparkTrace.Counts(jobs, stages, tasks, runMs / 1e3, shuffleWriteBytes,
      spillBytes, inputBytes)
  }

  /** Listener events arrive asynchronously: wait until every started
    * job's end (which follows its stages' completions) has arrived.
    */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (synchronized(jobsEnded < jobs) && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def detach(): Unit = sc.removeSparkListener(this)
}

object SparkTrace {
  final case class Counts(jobs: Long, stages: Long, tasks: Long, runS: Double,
      shuffleWriteBytes: Long, spillBytes: Long, inputBytes: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, runS - o.runS, shuffleWriteBytes - o.shuffleWriteBytes,
      spillBytes - o.spillBytes, inputBytes - o.inputBytes)
    def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, runS + o.runS, shuffleWriteBytes + o.shuffleWriteBytes,
      spillBytes + o.spillBytes, inputBytes + o.inputBytes)
  }
  val zero: Counts = Counts(0, 0, 0, 0.0, 0, 0, 0)
}
