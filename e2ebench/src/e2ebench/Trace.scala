package e2ebench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One timed call into a layer. `parent` is the enclosing span's id (-1 at
  * the top). Wall-clock milliseconds bound the interval that listener
  * events are matched against; nanoTime gives the duration. */
final class Span(val id: Int, val name: String, val parent: Int,
    val startMs: Long, val t0: Long) {
  var endMs: Long = 0L
  var t1: Long = 0L
  def secs: Double = (t1 - t0) / 1e9
}

/** Spark work attributed to one span: jobs started inside it (and inside
  * no deeper span), with their stages and tasks. */
final class Work {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskMs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var jobMs = 0L; var barrierMs = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; jobMs += o.jobMs; barrierMs += o.barrierMs
  }
}

/** Spans around the benchmark's calls into each layer, plus a listener that
  * counts the Spark work each span caused. Everything stays in memory until
  * [[report]]. With `enabled = false` a span is a plain call: no listener is
  * attached and nothing is recorded. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()

  private final class Job(val id: Int, val startMs: Long, val site: String,
      val stageIds: Seq[Int]) { var endMs: Long = 0L }
  private final class Stage { var tasks = 0L; var taskMs = 0L; var read = 0L
    var write = 0L; var spill = 0L; var done = false }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()
  private def stage(id: Int) = stages.computeIfAbsent(id, _ => new Stage)

  /** RDD blocks stored (cache and barrier materializations) and their
    * bytes, over the tracer's whole life. */
  val storedBlocks = new java.util.concurrent.atomic.AtomicLong()
  val storedBytes = new java.util.concurrent.atomic.AtomicLong()

  private val listener = new SparkListener {
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        storedBlocks.incrementAndGet()
        storedBytes.addAndGet(b.memSize + b.diskSize)
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // the result stage is named after the action's call site, e.g.
      // "localCheckpoint at Checkpoints.scala:47"
      val site = e.stageInfos.sortBy(_.stageId).lastOption
        .map(_.name).getOrElse("")
      jobs.put(e.jobId, new Job(e.jobId, e.time, site, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stage(e.stageInfo.stageId).done = true
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stage(e.stageId)
      s.synchronized {
        s.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          s.taskMs += m.executorRunTime
          s.read += m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead
          s.write += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Times `f` as span `name`; the job group names the layer so Spark's own
    * logs and listeners see the same attribution. */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = new Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack.push(s)
      val sc = spark.sparkContext
      sc.setJobGroup(name.takeWhile(_ != '#'), name)
      try f
      finally {
        s.t1 = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.name.takeWhile(_ != '#'), p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Spark work caused by each span itself (not its children): a job belongs
    * to the deepest span whose interval holds its submission time. */
  def selfWork(): Map[Int, Work] = {
    if (!enabled) return Map.empty
    org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    val out = mutable.Map[Int, Work]()
    val depth = mutable.Map[Int, Int]()
    def d(s: Span): Int = depth.getOrElseUpdate(s.id,
      if (s.parent < 0) 0 else d(spans(s.parent)) + 1)
    val it = jobs.values().iterator()
    while (it.hasNext) {
      val j = it.next()
      val owner = spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .maxByOption(d)
      owner.foreach { s =>
        val w = out.getOrElseUpdate(s.id, new Work)
        w.jobs += 1
        val ms = math.max(0L, j.endMs - j.startMs)
        w.jobMs += ms
        if (j.site.contains("Checkpoints.scala")) w.barrierMs += ms
        j.stageIds.flatMap(i => Option(stages.get(i))).filter(_.done).foreach { st =>
          w.stages += 1; w.tasks += st.tasks; w.taskMs += st.taskMs
          w.shuffleRead += st.read; w.shuffleWrite += st.write; w.spill += st.spill
        }
      }
    }
    out.toMap
  }

  /** Work of a span and all spans below it. */
  def inclusiveWork(self: Map[Int, Work]): Map[Int, Work] = {
    val out = mutable.Map[Int, Work]()
    spans.foreach { s =>
      var cur = s.id
      val w = self.getOrElse(s.id, new Work)
      while (cur >= 0) {
        out.getOrElseUpdate(cur, new Work).add(w)
        cur = spans(cur).parent
      }
    }
    out.toMap
  }

  /** Span duration minus the time its direct children cover. */
  def selfSecs(s: Span): Double =
    s.secs - spans.filter(_.parent == s.id).map(_.secs).sum

  def detach(): Unit = if (enabled) spark.sparkContext.removeSparkListener(listener)

  /** Every span with its inclusive Spark counts, as JSON-ready maps. */
  def report(): Seq[Map[String, Any]] = {
    val self = selfWork()
    val incl = inclusiveWork(self)
    spans.toSeq.map { s =>
      val w = incl.getOrElse(s.id, new Work)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "wall_s" -> s.secs, "self_s" -> selfSecs(s), "jobs" -> w.jobs,
        "stages" -> w.stages, "tasks" -> w.tasks, "task_s" -> w.taskMs / 1e3,
        "shuffle_read_bytes" -> w.shuffleRead,
        "shuffle_write_bytes" -> w.shuffleWrite, "spill_bytes" -> w.spill,
        "job_s" -> w.jobMs / 1e3, "barrier_s" -> w.barrierMs / 1e3)
    }
  }
}
