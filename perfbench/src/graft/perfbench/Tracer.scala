package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Posted by the harness on the listener bus when a traced op begins and
  * ends. Block updates carry no job id, so they are attributed to the op
  * whose markers enclose them in the bus's event order. */
final case class OpMarker(seq: Int, begin: Boolean) extends SparkListenerEvent

/** Spark work attributed to one span key `"<op seq>:<phase>"`. */
final class SpanStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var scan = 0L
  /** [start, end] of each job, epoch milliseconds. */
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
}

final case class JobSpan(jobId: Int, span: String, start: Long, var end: Long)

final case class StageSpan(stageId: Int, attempt: Int, jobId: Int, span: String,
    start: Long, end: Long, tasks: Int)

/** Persisted / locally checkpointed RDD blocks seen during one op. */
final class PinStats {
  var blocksWritten = 0
  var peakBytes = 0L
  var liveAfter = 0L
}

/** Attributes Spark jobs, stages, task metrics and block updates to the
  * benchmark's spans. The harness sets the local property [[Tracer.Key]]
  * before each phase; every job started under it (including the ones
  * Spark starts from its own threads for the same query, which inherit
  * the caller's properties) carries the span key in its properties.
  * All state is touched on the listener thread only; the harness reads
  * it after draining the bus. */
final class Tracer extends SparkListener {
  val spans = mutable.HashMap[String, SpanStats]()
  val jobs = mutable.HashMap[Int, JobSpan]()
  val stages = mutable.ArrayBuffer[StageSpan]()
  val pins = mutable.HashMap[Int, PinStats]()
  var unattributedJobs = 0

  private val stageOwner = mutable.HashMap[Int, (Int, String)]()
  private val liveBlocks = mutable.HashMap[String, Long]()
  private var liveTotal = 0L
  private var openPin: Option[PinStats] = None

  private def stats(span: String) = spans.getOrElseUpdate(span, new SpanStats)
  private def traced(span: String) = span != null && span != Tracer.Untraced

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).map(_.getProperty(Tracer.Key)).orNull
    if (span == null) unattributedJobs += 1
    else if (traced(span)) {
      jobs(e.jobId) = JobSpan(e.jobId, span, e.time, e.time)
      stats(span).jobs += 1
      e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = (e.jobId, span))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      stats(j.span).jobIntervals += ((j.start, j.end))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOwner.get(info.stageId).foreach { case (jobId, span) =>
      stats(span).stages += 1
      val start = info.submissionTime.getOrElse(0L)
      stages += StageSpan(info.stageId, info.attemptNumber(), jobId, span, start,
        info.completionTime.getOrElse(start), info.numTasks)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for ((_, span) <- stageOwner.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = stats(span)
      s.tasks += 1
      s.taskMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.scan += m.inputMetrics.bytesRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockManagerId.executorId + "/" + info.blockId.name
      liveTotal -= liveBlocks.remove(key).getOrElse(0L)
      if (info.storageLevel.isValid) {
        val bytes = info.memSize + info.diskSize
        liveBlocks(key) = bytes
        liveTotal += bytes
        openPin.foreach(_.blocksWritten += 1)
      }
      openPin.foreach(p => p.peakBytes = math.max(p.peakBytes, liveTotal))
    }
  }

  /** Replaces the live-block table ("<executor>/<block>" -> bytes) after
    * the tracer was detached while untraced ops ran. */
  def resync(blocks: Map[String, Long]): Unit = synchronized {
    liveBlocks.clear()
    liveBlocks ++= blocks
    liveTotal = blocks.values.sum
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case OpMarker(seq, true) => synchronized {
      val p = new PinStats
      p.peakBytes = liveTotal
      pins(seq) = p
      openPin = Some(p)
    }
    case OpMarker(seq, false) => synchronized {
      pins.get(seq).foreach(_.liveAfter = liveTotal)
      openPin = None
    }
    case _ => ()
  }
}

object Tracer {
  /** Local property that names the span a job belongs to. */
  val Key = "perfbench.span"
  /** Span value for ops run untraced inside a traced run. */
  val Untraced = "-"
}
