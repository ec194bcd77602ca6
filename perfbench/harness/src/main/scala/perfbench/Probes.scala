package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/**
 * Counters the traced run reads from Spark's own events. Every job carries
 * the local property [[Probes.Tag]] that the harness sets around one phase
 * of one execution ("<execution id>/optimize" or "<execution id>/execute");
 * the property is inherited by subquery, broadcast and stream threads, so
 * jobs started on behalf of that phase are counted against it.
 */
object Probes {
  val Tag = "perfbench.span"

  /** Totals for one tag. */
  final class Host {
    @volatile var jobs = 0L
    @volatile var stages = 0L
    @volatile var scanRows = 0L
    @volatile var shuffleBytes = 0L
    @volatile var spillBytes = 0L
    @volatile var taskMs = 0L
    @volatile var gcMs = 0L
  }

  /** Streaming progress totals for one tag. */
  final class Stream {
    @volatile var batches = 0L
    @volatile var planningMs = 0L
    @volatile var addBatchMs = 0L
    @volatile var commitMs = 0L
  }
}

final class Probes extends SparkListener {
  import Probes._

  val hosts = new ConcurrentHashMap[String, Host]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  @volatile var events = 0L

  private def host(tag: String) = hosts.computeIfAbsent(tag, _ => new Host)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    Option(e.properties).flatMap(p => Option(p.getProperty(Tag))).foreach { tag =>
      host(tag).jobs += 1
      e.stageIds.foreach(s => stageTag.put(s, tag))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    Option(stageTag.get(e.stageInfo.stageId)).foreach(t => host(t).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val m = e.taskMetrics
    Option(stageTag.get(e.stageId)).filter(_ => m != null).foreach { t =>
      val h = host(t)
      h.scanRows += m.inputMetrics.recordsRead
      h.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      h.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      h.taskMs += m.executorRunTime
      h.gcMs += m.jvmGCTime
    }
  }

  /** Streaming progress, attributed to the tag current when the stream started. */
  final class StreamProbe(current: () => String) extends StreamingQueryListener {
    private val tagOf = new ConcurrentHashMap[java.util.UUID, String]()
    val streams = new ConcurrentHashMap[String, Stream]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      tagOf.put(e.runId, current())
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      Option(tagOf.get(p.runId)).foreach { t =>
        val s = streams.computeIfAbsent(t, _ => new Stream)
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        s.synchronized {
          s.batches += 1
          s.planningMs += d.getOrElse("queryPlanning", 0L)
          s.addBatchMs += d.getOrElse("addBatch", 0L)
          s.commitMs += d.getOrElse("commitOffsets", 0L) + d.getOrElse("walCommit", 0L)
        }
      }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}
