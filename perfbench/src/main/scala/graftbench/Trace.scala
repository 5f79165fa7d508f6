package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans recorded from outside the engine, around calls into each layer's
  * public functions, plus a listener that attributes Spark work to them.
  *
  * A span tags the calling thread through a SparkContext local property;
  * Spark copies local properties into threads created under the tag (the
  * helper thread of `graft.util.Par.run2`, broadcast and subquery threads),
  * so every job the call submits carries the id of the innermost open
  * span. Spans stay in memory and are written out when the run ends. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val sc = spark.sparkContext
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private val open = mutable.Stack.empty[Int]
  private val stageSpan = mutable.Map.empty[Int, Int]
  val jobs: ArrayBuffer[Job] = ArrayBuffer.empty
  private val jobIndex = mutable.Map.empty[Int, Job]

  sc.addSparkListener(this)

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def span[A](name: String, iteration: Int)(body: => A): A = {
    val s = begin(name, iteration)
    try body finally end(s)
  }

  /** Open a span on the calling thread; [[end]] must close it before any
    * span opened earlier is closed. */
  def begin(name: String, iteration: Int): Span = {
    val s = Span(spans.size, open.headOption.getOrElse(-1), name, iteration,
      System.nanoTime(), System.currentTimeMillis())
    s.gcMs0 = gcMs
    s.prevTag = sc.getLocalProperty(Key)
    spans += s
    sc.setLocalProperty(Key, s.id.toString)
    open.push(s.id)
    s
  }

  def end(s: Span): Unit = {
    s.endNs = System.nanoTime()
    s.gcS = (gcMs - s.gcMs0) / 1e3
    open.pop()
    sc.setLocalProperty(Key, s.prevTag)
  }

  /** Wait until the listener has seen every event submitted so far. */
  def drain(): Unit = org.apache.spark.GraftbenchBus.drain(sc)

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Key))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = spanOf(e.properties)
    val j = Job(e.jobId, id, e.time)
    jobs += j
    jobIndex(e.jobId) = j
    e.stageIds.foreach(stageSpan(_) = id)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobIndex.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).filter(_ >= 0).foreach(id => spans(id).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).filter(_ >= 0).foreach { id =>
      val s = spans(id)
      s.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.taskS += m.executorRunTime / 1e3
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Ids of `root` and every span below it. */
  def subtree(root: Int): Set[Int] = {
    val out = mutable.Set(root)
    spans.foreach(s => if (out.contains(s.parent)) out += s.id)
    out.toSet
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Duration minus the time its direct children cover (children of one
    * span run one after another on the calling thread). */
  def selfS(s: Span): Double = s.durS - children(s.id).map(_.durS).sum

  /** Totals over a span and everything below it. */
  def inclusive(s: Span): Totals = synchronized {
    val ids = subtree(s.id)
    val mine = spans.filter(x => ids.contains(x.id))
    Totals(jobs.count(j => ids.contains(j.span)), mine.map(_.stages).sum, mine.map(_.tasks).sum,
      mine.map(_.taskS).sum, mine.map(_.shuffleBytes).sum)
  }

  /** Wall time inside `s` during which none of its jobs was running. */
  def driverGapS(s: Span): Double = synchronized {
    val ids = subtree(s.id)
    val start = s.startMs
    val end = start + (s.durS * 1e3).toLong
    val ivs = jobs.filter(j => ids.contains(j.span) && j.endMs >= 0)
      .map(j => (math.max(j.startMs, start), math.min(j.endMs, end))).filter(iv => iv._2 > iv._1)
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    ivs.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, s.durS - covered / 1e3)
  }

  def toJson: String = spans.map { s =>
    val t = inclusive(s)
    f"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", "iteration": ${s.iteration}, """ +
      f""""start_ms": ${s.startMs}, "dur_s": ${s.durS}%.6f, "self_s": ${selfS(s)}%.6f, "gc_s": ${s.gcS}%.3f, """ +
      f""""jobs": ${t.jobs}, "stages": ${t.stages}, "tasks": ${t.tasks}, "task_s": ${t.taskS}%.3f, """ +
      f""""shuffle_bytes": ${t.shuffleBytes}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val Key = "graftbench.span"

  final case class Span(id: Int, parent: Int, name: String, iteration: Int, startNs: Long, startMs: Long) {
    var endNs: Long = -1L
    var gcS: Double = 0.0
    private[graftbench] var gcMs0: Long = 0L
    private[graftbench] var prevTag: String = null
    var stages: Int = 0
    var tasks: Int = 0
    var taskS: Double = 0.0
    var shuffleBytes: Long = 0L
    def durS: Double = (endNs - startNs) / 1e9
  }

  final case class Job(id: Int, span: Int, startMs: Long) { var endMs: Long = -1L }

  final case class Totals(jobs: Int, stages: Int, tasks: Int, taskS: Double, shuffleBytes: Long)
}

/** Captures the engine's per-pass log lines (`[graft.pass] ...`) so each
  * match's strategy, distinct counts and survivor counts are recorded as
  * labels without adding a Spark job. */
object PassLog {
  import org.apache.logging.log4j.{Level, LogManager}
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

  private val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app = new AbstractAppender("graftbench-pass", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.startsWith("[graft.pass]")) lines.add(m)
      }
    }
    app.start()
    val lc = new LoggerConfig("graft.fuzzy", Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    cfg.addLogger("graft.fuzzy", lc)
    ctx.updateLoggers()
  }

  /** Lines logged since the last call. */
  def take(): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    var l = lines.poll()
    while (l != null) { out += l; l = lines.poll() }
    out.toSeq
  }

  private val Strategy = """.* -> (.*?) \((.*)\)$""".r
  private val Survivors = """.*pass=([a-z-]+)\): (\d+) surviving row pairs$""".r

  /** Strategy label of every fresh pass, e.g. `exact broadcast sweep`. */
  def strategies(ls: Seq[String]): Seq[String] = ls.collect { case Strategy(s, _) => s }

  /** (pass kind, surviving row pairs) per pass, in pass order. */
  def survivors(ls: Seq[String]): Seq[(String, Long)] = ls.collect { case Survivors(k, n) => (k, n.toLong) }
}
