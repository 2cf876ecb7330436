package graftbench

import scala.collection.mutable
import org.apache.spark.graftbench.BusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer. `op` groups the spans of one benchmark
  * operation; `parent` is the enclosing span (-1 for an operation's root).
  * Listener counts are attributed to the span whose thread submitted the
  * job; `attrs` holds per-operation facts read from plans and tables.
  */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
                 val start: Long) {
  var end: Long = start
  var jobs, stages, tasks = 0L
  var taskMs, waitMs, shuffleWrite, spill, gcMs = 0L
  val attrs = mutable.LinkedHashMap[String, Double]()
  def ms: Double = (end - start) / 1e6
  def layer: String = name.takeWhile(_ != '.')
}

/** Spans recorded from outside the program, around the calls the
  * benchmark makes into each layer, plus a Spark listener that attributes
  * jobs, stages and tasks to the span that ran them. With `enabled` false
  * every method is a pass-through and no listener is registered, so the
  * untraced runs that give the end-to-end metrics pay nothing.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val Key = "graftbench.span"
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var lastRoot: Option[Span] = None
  private var nextOp = 0
  var drainMs = 0.0

  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageSubmitted = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      id.flatMap(i => Option(byId.get(i.toInt))).foreach { s =>
        s.jobs += 1
        e.stageInfos.foreach(si => stageOwner.put(si.stageId, s))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmitted.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      Option(stageOwner.get(e.stageInfo.stageId)).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      Option(stageOwner.get(e.stageId)).foreach { s =>
        s.tasks += 1
        val ti = e.taskInfo
        s.taskMs += ti.duration
        val sub = stageSubmitted.getOrDefault(e.stageId, ti.launchTime)
        s.waitMs += math.max(0L, ti.launchTime - sub)
        Option(e.taskMetrics).foreach { m =>
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }

  /** Time `body` as a span named `name` (`layer.call`). */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val parent = stack.headOption
    val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1),
      parent.map(_.op).getOrElse { nextOp += 1; nextOp }, System.nanoTime())
    spans += s
    byId.put(s.id, s)
    stack = s :: stack
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, s.id.toString)
    val gc0 = gcMillis()
    try body
    finally {
      s.end = System.nanoTime()
      s.gcMs = gcMillis() - gc0
      stack = stack.tail
      if (stack.isEmpty) lastRoot = Some(s)
      sc.setLocalProperty(Key, prev)
    }
  }

  /** Attribute every listener event of a finished operation before the
    * next one starts; called outside the operation's timing.
    */
  def drain(): Unit = if (enabled) {
    val t0 = System.nanoTime()
    BusAccess.drain(sc)
    drainMs += (System.nanoTime() - t0) / 1e6
  }

  /** Record a per-operation fact on the innermost open span, or on the
    * operation that just finished.
    */
  def attr(k: String, v: Double): Unit =
    if (enabled) stack.headOption.orElse(lastRoot).foreach(_.attrs(k) = v)

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)

  /** Self time of each layer: a span's duration minus what its child
    * spans cover, summed per layer.
    */
  def selfMs(ss: Seq[Span]): Map[String, Double] = {
    val childMs = mutable.Map[Int, Double]().withDefaultValue(0.0)
    ss.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.ms)
    ss.groupBy(_.layer).map { case (l, g) => l -> g.map(s => s.ms - childMs(s.id)).sum }
  }

  def toJson: String = spans.map { s =>
    val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
      s""""start_ns":${s.start},"end_ns":${s.end},"jobs":${s.jobs},"stages":${s.stages},""" +
      s""""tasks":${s.tasks},"task_ms":${s.taskMs},"wait_ms":${s.waitMs},""" +
      s""""shuffle_write":${s.shuffleWrite},"spill":${s.spill},"gc_ms":${s.gcMs},"attrs":{$attrs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
