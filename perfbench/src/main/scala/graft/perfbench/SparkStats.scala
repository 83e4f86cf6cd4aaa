package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Job, stage and task counters from Spark's listener bus, keyed by the
  * tag the benchmark sets as a local property before each call into the
  * program. Jobs that adaptive execution submits from its own threads
  * inherit the property, so every job lands on the call that caused it.
  */
final class SparkStats extends SparkListener {
  import SparkStats._

  private val byTag = new ConcurrentHashMap[String, Counters]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobTag = new ConcurrentHashMap[Int, (String, Long)]()

  private def counters(tag: String) = byTag.computeIfAbsent(tag, _ => new Counters)

  private def tagOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Key))).getOrElse(Untagged)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = tagOf(e.properties)
    jobTag.put(e.jobId, (tag, e.time))
    counters(tag).synchronized(counters(tag).jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobTag.remove(e.jobId)).foreach { case (tag, start) =>
      val c = counters(tag)
      c.synchronized(c.jobMillis += e.time - start)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val tag = tagOf(e.properties)
    stageTag.put(e.stageInfo.stageId, tag)
    val c = counters(tag)
    c.synchronized(c.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      val c = counters(stageTag.getOrDefault(e.stageId, Untagged))
      c.synchronized {
        c.tasks += 1
        c.runMillis += m.executorRunTime
        c.gcMillis += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
      }
    }

  /** Counters summed over the tags `keep` accepts, after every event
    * posted so far has been delivered.
    */
  def sum(sc: SparkContext)(keep: String => Boolean): Counters = {
    org.apache.spark.PerfbenchBus.drain(sc)
    byTag.asScala.filter { case (t, _) => keep(t) }.values
      .foldLeft(new Counters)(_ + _)
  }
}

object SparkStats {
  val Key = "perfbench.tag"
  val Untagged = "untagged"

  final class Counters {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var jobMillis = 0L
    var runMillis = 0L
    var gcMillis = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L

    def +(o: Counters): Counters = {
      val r = new Counters
      r.jobs = jobs + o.jobs
      r.stages = stages + o.stages
      r.tasks = tasks + o.tasks
      r.jobMillis = jobMillis + o.jobMillis
      r.runMillis = runMillis + o.runMillis
      r.gcMillis = gcMillis + o.gcMillis
      r.shuffleWriteBytes = shuffleWriteBytes + o.shuffleWriteBytes
      r.spillBytes = spillBytes + o.spillBytes
      r
    }
  }

  /** Run `body` with every job it submits tagged `tag`, then restore
    * the caller's tag.
    */
  def tagged[A](sc: SparkContext, tag: String)(body: => A): A = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try body finally sc.setLocalProperty(Key, prev)
  }
}
