package e2ebench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.E2eBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark work attributed to one label. */
final class Cost {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var jobMs = 0L; var taskRunMs = 0L; var schedDelayMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var recordsRead = 0L

  def +=(o: Cost): Unit = add(o, 1)
  def -=(o: Cost): Unit = add(o, -1)

  private def add(o: Cost, k: Int): Unit = {
    jobs += k * o.jobs; stages += k * o.stages; tasks += k * o.tasks; jobMs += k * o.jobMs
    taskRunMs += k * o.taskRunMs; schedDelayMs += k * o.schedDelayMs
    shuffleRead += k * o.shuffleRead; shuffleWrite += k * o.shuffleWrite
    spill += k * o.spill; recordsRead += k * o.recordsRead
  }
}

/** The traced run's instrument: a SparkListener that charges every job,
  * stage and task to the benchmark span that was open on the thread that
  * submitted it (jobs from other threads, such as the tail's stream
  * thread, are charged to `stream`), and to the source file of the job's
  * call site (`count at Sinks.scala:61` → `Sinks.scala`, `other` when the
  * stage name carries none). A StreamingQueryListener keeps each
  * micro-batch's `durationMs`.
  */
final class Probe(spark: SparkSession) extends SparkListener {

  private val sc = spark.sparkContext
  private val SpanKey = "e2ebench.span"
  private val bySpan = new ConcurrentHashMap[String, Cost]()
  private val byFile = new ConcurrentHashMap[String, Cost]()
  private val stageOwner = new ConcurrentHashMap[Int, (String, String)]()
  private val jobOwner = new ConcurrentHashMap[Int, (String, String, Long)]()
  @volatile private var batches = Vector.empty[Map[String, Long]]

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0)
        batches :+= e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
  }

  def attach(): Unit = { sc.addSparkListener(this); spark.streams.addListener(streamListener) }
  def detach(): Unit = { sc.removeSparkListener(this); spark.streams.removeListener(streamListener) }

  /** Run `body` with its Spark work charged to `name`. */
  def span[A](name: String)(body: => A): A = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    try body finally sc.setLocalProperty(SpanKey, prev)
  }

  private def cost(m: ConcurrentHashMap[String, Cost], k: String): Cost =
    m.computeIfAbsent(k, _ => new Cost)

  /** `count at Sinks.scala:61`; jobs that AQE or a broadcast submits from
    * their own threads carry a Java frame (`FutureTask.java`).
    */
  private val CallSiteFile = """ at ([A-Za-z0-9_$]+\.(?:scala|java)):\d+""".r.unanchored

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("stream")
    val file = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name) match {
      case Some(CallSiteFile(f)) => f
      case _ => "other"
    }
    jobOwner.put(e.jobId, (span, file, e.time))
    e.stageIds.foreach(id => stageOwner.put(id, (span, file)))
    bySpan.synchronized { cost(bySpan, span).jobs += 1; cost(byFile, file).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOwner.remove(e.jobId)).foreach { case (span, file, t0) =>
      bySpan.synchronized {
        cost(bySpan, span).jobMs += e.time - t0
        cost(byFile, file).jobMs += e.time - t0
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOwner.get(e.stageInfo.stageId)).foreach { case (span, file) =>
      bySpan.synchronized { cost(bySpan, span).stages += 1; cost(byFile, file).stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOwner.get(e.stageId)).foreach { case (span, file) =>
      val m = e.taskMetrics
      val i = e.taskInfo
      bySpan.synchronized {
        Seq(cost(bySpan, span), cost(byFile, file)).foreach { c =>
          c.tasks += 1
          if (m != null) {
            c.taskRunMs += m.executorRunTime
            c.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.spill += m.diskBytesSpilled
            c.recordsRead += m.inputMetrics.recordsRead
          }
        }
      }
    }

  /** Everything charged so far, after the bus has delivered it. */
  def snapshot(): (Map[String, Cost], Map[String, Cost]) = {
    E2eBusDrain(sc)
    def copy(m: ConcurrentHashMap[String, Cost]) = m.asScala.map { case (k, c) =>
      val d = new Cost; d += c; k -> d }.toMap
    bySpan.synchronized((copy(bySpan), copy(byFile)))
  }

  /** `durationMs` of every micro-batch that read rows, in order. */
  def streamBatches: Vector[Map[String, Long]] = { E2eBusDrain(sc); batches }
}

object Probe {
  /** Work done between two snapshots of one map. */
  def delta(after: Map[String, Cost], before: Map[String, Cost], key: String): Cost = {
    val d = new Cost
    after.get(key).foreach(d += _)
    before.get(key).foreach(d -= _)
    d
  }

  def total(m: Map[String, Cost]): Cost = { val d = new Cost; m.values.foreach(d += _); d }
}
