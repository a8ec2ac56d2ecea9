package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span recorder for the traced run. Spans are taken only in the
  * benchmark's own code, around calls into the program's layers; each
  * has a name, the layer it times, start and end (ns since the recorder
  * was made), the enclosing span on the same thread, and the operation
  * it belongs to (-1 for set-up). Spans stay in memory until the run
  * ends. A disabled recorder only runs the body.
  */
final class Spans(val enabled: Boolean) {
  final case class Span(id: Long, name: String, layer: String, parent: Long,
      op: Int, start: Long, end: Long)

  private val t0 = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def apply[A](name: String, layer: String, op: Int = -1)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val start = System.nanoTime() - t0
      try body
      finally {
        done.add(Span(id, name, layer, parents.headOption.getOrElse(0L), op,
          start, System.nanoTime() - t0))
        stack.set(parents)
      }
    }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  def json: Json.Raw = Json.arr(all.map(s => Json.obj(
    "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
    "op" -> s.op, "start_ns" -> s.start, "end_ns" -> s.end)))
}

/** Spark runtime counters for the traced run, attributed to the phase
  * named by the local property [[SparkCounters.Phase]] of the thread that
  * submitted each job. Attach with [[SparkCounters.attach]], read with
  * [[drain]] (which waits for the asynchronous listener bus to deliver
  * every started job and task), then [[detach]].
  */
final class SparkCounters private (sc: SparkContext) extends SparkListener {
  final class PhaseStats {
    var jobs = 0
    var tasks = 0
    var runMs = 0L
    var gcMs = 0L
    var schedDelayMs = 0L
    var shuffleWriteBytes = 0L
    val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }

  private val phases = mutable.Map.empty[String, PhaseStats]
  private val stagePhase = mutable.Map.empty[Int, String]
  private var jobsStarted, jobsEnded, tasksStarted, tasksEnded = 0L

  private def phase(name: String): PhaseStats = phases.getOrElseUpdate(name, new PhaseStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsStarted += 1
    val name = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SparkCounters.Phase))).getOrElse("other")
    phase(name).jobs += 1
    e.stageIds.foreach(s => stagePhase(s) = name)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobsEnded += 1 }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized { tasksStarted += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasksEnded += 1
    val p = phase(stagePhase.getOrElse(e.stageId, "other"))
    p.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      p.runMs += m.executorRunTime
      p.gcMs += m.jvmGCTime
      p.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      // the Spark UI's scheduler delay: time a task was neither running
      // nor (de)serializing nor shipping its result
      val info = e.taskInfo
      p.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      p.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
    }
  }

  /** Waits (up to 10 s) until every job and task the bus has seen start
    * has also been seen to end, and the counts stay still for 200 ms.
    */
  def drain(): Unit = {
    def snap = synchronized((jobsStarted, jobsEnded, tasksStarted, tasksEnded))
    val deadline = System.nanoTime() + 10000000000L
    var last = snap
    var stable = 0
    while (stable < 4 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val now = snap
      if (now == last && now._1 == now._2 && now._3 == now._4) stable += 1
      else stable = 0
      last = now
    }
  }

  def detach(): Unit = sc.removeSparkListener(this)

  def json: Json.Raw = synchronized {
    Json.obj(phases.toSeq.sortBy(_._1).map { case (name, p) =>
      name -> Json.obj(
        "jobs" -> p.jobs, "tasks" -> p.tasks, "run_ms" -> p.runMs,
        "gc_ms" -> p.gcMs, "sched_delay_ms" -> p.schedDelayMs,
        "shuffle_write_bytes" -> p.shuffleWriteBytes,
        "stage_task_ms" -> Json.arr(p.stageTasks.toSeq.sortBy(_._1)
          .map { case (_, ds) => ds.toSeq }))
    }: _*)
  }
}

object SparkCounters {
  val Phase = "perfbench.phase"

  def attach(sc: SparkContext): SparkCounters = {
    val c = new SparkCounters(sc)
    sc.addSparkListener(c)
    c
  }

  /** Tags every job the calling thread submits from now on. */
  def tag(sc: SparkContext, phase: String): Unit = sc.setLocalProperty(Phase, phase)
}

/** Minimal JSON text writer for the result line. */
object Json {
  /** Already-encoded JSON text. */
  final case class Raw(text: String)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(t) => t
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case xs: Iterable[_] => arr(xs.toSeq).text
    case xs: Array[_] => arr(xs.toSeq).text
    case other => other.toString // Boolean, Int, Long
  }

  def obj(kvs: (String, Any)*): Raw =
    Raw(kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))

  def arr(items: Seq[Any]): Raw = Raw(items.map(value).mkString("[", ",", "]"))
}
