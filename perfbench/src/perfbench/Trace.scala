package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one job group. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var deserMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    deserMs += o.deserMs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill
  }

  /** The `spark.*` per-layer figures over `wallS` seconds on `cores`. */
  def fields(wallS: Double, cores: Int): Seq[(String, Double)] = Seq(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "busy_frac" -> (if (wallS > 0) runMs / 1000.0 / (wallS * cores) else 0.0),
    "deser_s" -> deserMs / 1000.0, "shuffle_write_bytes" -> shuffleWrite.toDouble,
    "shuffle_read_bytes" -> shuffleRead.toDouble, "spill_bytes" -> spill.toDouble,
    "gc_s" -> gcMs / 1000.0)
}

/** Counts jobs, stages and tasks per job group (the group id the
  * benchmark sets before each call, or a streaming query's run id). */
final class GroupListener extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, Counts]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  private def counts(g: String): Counts = byGroup.getOrElseUpdate(g, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    counts(groupOf(e.properties)).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = groupOf(e.properties)
    stageGroup(e.stageInfo.stageId) = g
    counts(g).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.runMs += m.executorRunTime
      c.deserMs += m.executorDeserializeTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot(): Map[String, Counts] = synchronized {
    byGroup.map { case (g, c) => val d = new Counts; d += c; g -> d }.toMap
  }
}

/** One timed call into a layer. */
final case class Span(id: Long, name: String, parent: Long, trace: Long,
    start: Long, end: Long)

/** Spans around the benchmark's calls into each layer, plus Spark
  * counts keyed by the job group each span sets. Off (`on = false`),
  * `span` only runs its body: no listener, no job groups, no records. */
final class Trace(val on: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(1)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[(Long, Long, String)]] {
    override def initialValue(): List[(Long, Long, String)] = Nil
  }
  /** Streaming run id -> span id, so a query's own job group counts
    * towards the span that started it. */
  private val alias = mutable.HashMap.empty[String, Long]
  val listener = new GroupListener
  if (on) sc.addSparkListener(listener)

  private def group(id: Long) = s"span-$id"

  /** Runs `body` inside a span named `name`. Spark jobs submitted
    * from this thread, or from threads it starts, count towards it. */
  def span[T](name: String)(body: => T): T = if (!on) body else {
    val stack = open.get
    val id = ids.getAndIncrement()
    val (parent, trace) = stack.headOption.map(p => (p._1, p._2)).getOrElse((0L, id))
    open.set((id, trace, name) :: stack)
    sc.setJobGroup(group(id), name)
    val t0 = System.nanoTime
    try body
    finally {
      val t1 = System.nanoTime
      synchronized { done += Span(id, name, parent, trace, t0, t1) }
      open.set(stack)
      stack.headOption match {
        case Some((pid, _, pname)) => sc.setJobGroup(group(pid), pname)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Attributes the jobs of streaming query `runId` to the current span. */
  def adopt(runId: String): Unit = if (on) open.get.headOption.foreach { s =>
    synchronized { alias(runId) = s._1 }
  }

  def spans: Seq[Span] = synchronized(done.toSeq)

  /** Per-span counts after the listener bus has drained. */
  def counts(): Map[Long, Counts] = {
    if (!on) return Map.empty
    org.apache.spark.ListenerBusAccess.drain(sc)
    val a = synchronized(alias.toMap)
    val out = mutable.HashMap.empty[Long, Counts]
    listener.snapshot().foreach { case (g, c) =>
      val id = if (g.startsWith("span-")) Some(g.stripPrefix("span-").toLong) else a.get(g)
      id.foreach(i => out.getOrElseUpdate(i, new Counts) += c)
    }
    out.toMap
  }

  /** Counts of span `id` plus all its descendants. */
  def inclusive(id: Long, own: Map[Long, Counts]): Counts = {
    val kids = spans.groupBy(_.parent)
    val c = new Counts
    def walk(i: Long): Unit = { own.get(i).foreach(c += _); kids.getOrElse(i, Nil).foreach(k => walk(k.id)) }
    walk(id)
    c
  }

  /** Span duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.start max s.start, k.end min s.end))
      .filter(k => k._2 > k._1).sortBy(_._1)
    var covered = 0L
    var curS = 0L
    var curE = -1L
    kids.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = curE max b
    }
    if (curE > curS) covered += curE - curS
    (s.end - s.start - covered) / 1e9
  }

  /** All spans as JSON records, with times relative to `origin`. */
  def dump(origin: Long, cores: Int): Seq[Map[String, Any]] = {
    val all = spans.sortBy(_.start)
    val own = counts()
    all.map { s =>
      val wall = (s.end - s.start) / 1e9
      Map[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "trace" -> s.trace, "start_s" -> (s.start - origin) / 1e9,
        "end_s" -> (s.end - origin) / 1e9, "dur_s" -> wall,
        "self_s" -> selfSeconds(s, all)) ++
        inclusive(s.id, own).fields(wall, cores).map { case (k, v) => s"spark.$k" -> v }
    }
  }
}
