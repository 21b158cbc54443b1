package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** One traced interval: a call into the program, nested by call order. */
final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long = -1L) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Spans nest by the calling thread's stack; they
  * are written out once, at the end of the run, with self time (a span's
  * duration minus its children's) computed then.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()

  def apply[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val s = Span(spans.size, name, stack.headOption.getOrElse(-1), System.nanoTime())
    spans += s
    stack.push(s.id)
    try body finally { s.end = System.nanoTime(); stack.pop() }
  }

  def toJson: Seq[Map[String, Any]] = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    spans.toSeq.map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9,
        "self_s" -> (s.seconds - childSum.getOrElse(s.id, 0.0)))
    }
  }
}

/** Task and stage figures of one completed stage. */
final case class StageStats(group: String, tasks: Int, wallMs: Long, taskMs: Seq[Long],
                            cpuNs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
                            spillBytes: Long, outputBytes: Long, outputRows: Long, inputRows: Long)

/** Benchmark-owned listener: attributes every completed stage to the job
  * group it ran under, and every streaming query to the benchmark call that
  * started it. Streaming micro-batches run under the stream's run id as job
  * group, so [[groupOf]] maps those back to the caller's group.
  */
final class LayerListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageAcc = mutable.Map.empty[Int, Array[Long]] // cpu, shR, shW, spill, outB, outR, inR
  private val stages = mutable.ArrayBuffer.empty[StageStats]
  private val runGroup = mutable.Map.empty[String, String]
  // cached RDD blocks by id → bytes, tagged with the layer current when stored
  private val blocks = mutable.Map.empty[String, (String, Long)]
  private val cachedPeak = mutable.Map.empty[String, Long]
  @volatile var currentGroup: String = ""
  // off between the traced passes of a run, which alternate with untraced ones
  @volatile var active: Boolean = true

  final case class Stream(group: String, started: Long,
                          batches: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty,
                          var stateRows: Long = 0L)
  private val streams = mutable.Map.empty[String, Stream]

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    // delivered synchronously on the thread that called start(), so
    // currentGroup is the benchmark call that owns the stream
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      LayerListener.this.synchronized {
        if (!active) return
        runGroup(e.runId.toString) = currentGroup
        streams(e.runId.toString) = Stream(currentGroup, System.currentTimeMillis())
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      LayerListener.this.synchronized {
        if (!active) return
        streams.get(e.progress.runId.toString).foreach { s =>
          val ms = Option(e.progress.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
          s.batches += ((java.time.Instant.parse(e.progress.timestamp).toEpochMilli + ms, ms))
          s.stateRows = math.max(s.stateRows, e.progress.stateOperators.map(_.numRowsTotal).sum)
        }
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def groupOf(props: java.util.Properties): String = {
    val g = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    runGroup.getOrElse(g, g)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (!active) return
    val g = groupOf(e.properties)
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!active) return
    val m = e.taskMetrics
    if (m != null) {
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val a = stageAcc.getOrElseUpdate(e.stageId, new Array[Long](7))
      a(0) += m.executorCpuTime
      a(1) += m.shuffleReadMetrics.totalBytesRead
      a(2) += m.shuffleWriteMetrics.bytesWritten
      a(3) += m.memoryBytesSpilled + m.diskBytesSpilled
      a(4) += m.outputMetrics.bytesWritten
      a(5) += m.outputMetrics.recordsWritten
      a(6) += m.inputMetrics.recordsRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (!active) return
    val i = e.stageInfo
    val wall = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(0L)
    val a = stageAcc.remove(i.stageId).getOrElse(new Array[Long](7))
    val ts = taskMs.remove(i.stageId).map(_.toSeq).getOrElse(Nil)
    stages += StageStats(stageGroup.getOrElse(i.stageId, ""), ts.size, wall, ts,
      a(0), a(1), a(2), a(3), a(4), a(5), a(6))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    if (!active) return
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val bytes = info.memSize + info.diskSize
      if (bytes > 0) blocks(info.blockId.name) = (currentGroup, bytes)
      else blocks.remove(info.blockId.name)
      val g = blocks.get(info.blockId.name).map(_._1).getOrElse(currentGroup)
      val held = blocks.valuesIterator.filter(_._1 == g).map(_._2).sum
      cachedPeak(g) = math.max(cachedPeak.getOrElse(g, 0L), held)
    }
  }

  /** Peak bytes of cached RDD blocks stored while `group` was current. */
  def cachedBytes(group: String): Long = synchronized(cachedPeak.getOrElse(group, 0L))

  def stagesOf(pred: String => Boolean): Seq[StageStats] = synchronized(stages.filter(s => pred(s.group)).toSeq)
  def streamsOf(pred: String => Boolean): Seq[Stream] = synchronized(streams.values.filter(s => pred(s.group)).toSeq)
}

object LayerListener {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2 }
}
