package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import scala.jdk.CollectionConverters._

/** Jobs, tasks, task time and shuffle bytes of everything the session
  * runs (registered in traced runs only).
  */
final class JobListener extends SparkListener {
  val jobs = new AtomicLong(0L)
  val tasks = new AtomicLong(0L)
  val taskMs = new AtomicLong(0L)
  val shuffleBytes = new AtomicLong(0L)
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten +
        m.shuffleReadMetrics.totalBytesRead)
    }
  }

  def snap(spark: SparkSession): Array[Long] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    Array(jobs.get, tasks.get, taskMs.get, shuffleBytes.get)
  }
}

/** Every progress event of the streaming queries, in arrival order. The
  * ingest workloads need it untraced too: batch membership of each
  * record comes from the progress end offsets.
  */
final class ProgressLog extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  /** Optional hook run on each event (the traced run's lag probe). */
  @volatile var onProgress: StreamingQueryProgress => Unit = _ => ()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    events.add(e.progress)
    onProgress(e.progress)
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
    events.asScala.toSeq.filter(_.id == id)
}
