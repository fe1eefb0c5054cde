package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spans around the benchmark's calls into each layer, plus a SparkListener
  * that attributes every Spark job and task to the span whose thread
  * submitted it (the span id rides the job as a local property, which Spark
  * also hands to the threads it runs broadcasts and subqueries on).
  *
  * Everything is kept in memory and summarised once, after the session has
  * stopped and the listener bus has drained. */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  private val nextId = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[SpanRec]
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]
  private val jobs = new ConcurrentHashMap[Long, AtomicLong]
  private val tasks = new ConcurrentLinkedQueue[TaskRec]
  private val failed = new AtomicLong

  // wall-clock milliseconds with sub-millisecond resolution, on the same
  // base as the task launch/finish times Spark reports
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  sc.addSparkListener(this)

  /** Runs `body` as span `name`, a child of the thread's current span. The
    * body must force its layer's output before returning. */
  def span[T](name: String)(body: => T): T = {
    require(names.contains(name), s"unknown span $name")
    val parent = Option(sc.getLocalProperty(Key)).map(_.toLong).getOrElse(0L)
    val id = nextId.incrementAndGet()
    sc.setLocalProperty(Key, id.toString)
    val start = nowMs
    try body
    finally {
      spans.add(SpanRec(id, name, parent, start, nowMs))
      sc.setLocalProperty(Key, if (parent == 0L) null else parent.toString)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { s =>
      val id = s.toLong
      jobs.computeIfAbsent(id, _ => new AtomicLong).incrementAndGet()
      e.stageIds.foreach(st => stageSpan.put(st, id))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (e.taskInfo.failed || e.taskInfo.killed) failed.incrementAndGet()
    val span = Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L)
    val m = Option(e.taskMetrics)
    tasks.add(TaskRec(span, e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble,
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(_.inputMetrics.bytesRead).getOrElse(0L)))
  }

  def failedTasks: Long = failed.get

  /** Per span name: calls, and per-call means of self time, jobs, tasks,
    * task busy time, driver gap, shuffle and input bytes. Call only after
    * the SparkContext has stopped. */
  def summary(): Map[String, Stats] = {
    val all = spans.asScala.toSeq
    val children = all.groupBy(_.parent)
    val tasksBySpan = tasks.asScala.toSeq.groupBy(_.span)
    all.groupBy(_.name).map { case (name, ss) =>
      val per = ss.map { s =>
        val self = subtract(Seq((s.start, s.end)),
          children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
        val own = tasksBySpan.getOrElse(s.id, Nil)
        val gap = subtract(self, own.map(t => (t.launch, t.finish)))
        Stats(1, length(self), jobs.getOrDefault(s.id, new AtomicLong).get.toDouble,
          own.size.toDouble, own.map(t => t.finish - t.launch).sum, length(gap),
          own.map(_.shuffleBytes).sum.toDouble, own.map(_.inputBytes).sum.toDouble)
      }
      val n = per.size.toDouble
      name -> Stats(per.size, per.map(_.ms).sum / n, per.map(_.jobs).sum / n,
        per.map(_.tasks).sum / n, per.map(_.taskMs).sum / n, per.map(_.gapMs).sum / n,
        per.map(_.shuffleBytes).sum / n, per.map(_.inputBytes).sum / n)
    }
  }

  /** Summed wall time (children included) of every call of span `name`. */
  def totalWallMs(name: String): Double =
    spans.asScala.filter(_.name == name).map(s => s.end - s.start).sum
}

object Trace {
  val Key = "perfbench.span"

  /** Every span the benchmark records, named `{layer}.{operation}`. */
  val names: Seq[String] = Seq(
    "soccer.predictFlat", "ml.load", "features.inference", "ml.predict",
    "features.topCompanies", "features.trainingSet", "ml.train", "ml.save",
    "store.upsert", "store.read", "store.purge",
    "ext.candidates", "ext.nearDupPairs", "graph.components", "ext.quality")

  val quantities: Seq[String] =
    Seq("calls", "ms", "jobs", "tasks", "task_ms", "gap_ms", "shuffle_bytes", "input_bytes")

  final case class SpanRec(id: Long, name: String, parent: Long, start: Double, end: Double)
  final case class TaskRec(span: Long, launch: Double, finish: Double, shuffleBytes: Long, inputBytes: Long)
  final case class Stats(calls: Int, ms: Double, jobs: Double, tasks: Double, taskMs: Double,
      gapMs: Double, shuffleBytes: Double, inputBytes: Double) {
    def values: Seq[Double] = Seq(calls.toDouble, ms, jobs, tasks, taskMs, gapMs, shuffleBytes, inputBytes)
  }
  val empty: Stats = Stats(0, 0, 0, 0, 0, 0, 0, 0)

  type Iv = (Double, Double)

  private def union(ivs: Seq[Iv]): Seq[Iv] =
    ivs.filter(i => i._2 > i._1).sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  /** `from` minus the union of `cut`. */
  def subtract(from: Seq[Iv], cut: Seq[Iv]): Seq[Iv] = {
    val cuts = union(cut)
    from.flatMap { case (s0, e0) =>
      val (pieces, last) = cuts.foldLeft((List.empty[Iv], s0)) { case ((acc, pos), (a, b)) =>
        if (b <= pos || a >= e0) (acc, pos)
        else (if (a > pos) (pos, math.min(a, e0)) :: acc else acc, math.max(pos, b))
      }
      (if (last < e0) (last, e0) :: pieces else pieces).reverse
    }
  }

  def length(ivs: Seq[Iv]): Double = ivs.map(i => i._2 - i._1).sum
}
