package graft.perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced call into the engine. Counters are inclusive: a span's
  * jobs, tasks and bytes include those of the spans nested in it. */
final class Span(val id: Int, val name: String, val parent: Int, val runId: String,
                 val startMs: Long, startNs: Long, metaReads0: Long) {
  var endMs = 0L
  var seconds = 0.0
  var metaReads = 0L
  var bytesWritten = 0L
  var filesWritten = 0L
  private[perfbench] def close(endNs: Long, metaReads1: Long): Unit = {
    endMs = System.currentTimeMillis()
    seconds = (endNs - startNs) / 1e9
    metaReads = metaReads1 - metaReads0
  }
}

/** Spans recorded from the benchmark's own files around each call into an
  * engine layer, plus a SparkListener that attributes Spark work to them.
  * The benchmark sets a local property naming the open span before each
  * call; the listener reads it when a job starts. A job submitted from a
  * thread without the property goes to the innermost span open when it
  * started. Spans stay in memory until [[report]].
  *
  * With tracing off, [[span]] only runs its body. */
final class Tracer(spark: SparkSession, val enabled: Boolean, runId: String) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var nextId = 0
  private var measuredFrom = 0
  private val listener = new SpanListener
  if (enabled) sc.addSparkListener(listener)

  def span[A](name: String, watch: Seq[File] = Nil)(body: => A): A =
    if (!enabled) body
    else {
      val before = DirSnapshot.of(watch)
      val s = new Span(nextId, name, open.headOption.map(_.id).getOrElse(-1),
        runId, System.currentTimeMillis(), System.nanoTime(),
        graft.sources.VersionedTable.metaReads.get())
      nextId += 1
      open ::= s
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.close(System.nanoTime(), graft.sources.VersionedTable.metaReads.get())
        val diff = DirSnapshot.of(watch).writtenSince(before)
        s.bytesWritten = diff._1
        s.filesWritten = diff._2
        open = open.tail
        sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.id.toString).orNull)
        spans += s
      }
    }

  /** Spans opened from here on are the measured ones; earlier spans
    * (set-up, warm passes) still go to the span file. */
  def startMeasuring(): Unit = measuredFrom = nextId

  def isMeasured(s: Span): Boolean = s.id >= measuredFrom

  /** Counters of every recorded span, once the listener has seen every
    * event. */
  def report(): Seq[(Span, Map[String, Double])] = {
    if (!enabled) return Nil
    org.apache.spark.ListenerBusAccess.drain(sc)
    val all = spans.sortBy(_.id).toVector
    val byId = all.map(s => s.id -> s).toMap
    val children = all.groupBy(_.parent)
    def innermostAt(t: Long): Int = all.filter(s => s.startMs <= t && t <= s.endMs)
      .sortBy(s => s.endMs - s.startMs).headOption.map(_.id).getOrElse(-1)
    val jobs = listener.jobs.values.asScala.toVector.sortBy(_.jobId).map { j =>
      if (j.span >= 0 && byId.contains(j.span)) j else j.copy(span = innermostAt(j.start))
    }
    // a stage's tasks run for the first job that lists it
    val stageSpan = mutable.HashMap.empty[Int, Int]
    jobs.foreach(j => j.stages.foreach(st => stageSpan.getOrElseUpdate(st, j.span)))
    val taskAgg = mutable.HashMap.empty[Int, TaskAgg]
    listener.stages.asScala.foreach { case (st, agg) =>
      stageSpan.get(st).foreach(sp => taskAgg.getOrElseUpdate(sp, new TaskAgg).add(agg))
    }
    val jobsBySpan = jobs.groupBy(_.span)
    def subtree(s: Span): Vector[Span] =
      s +: children.getOrElse(s.id, Vector.empty).flatMap(subtree)
    all.map { s =>
      val tree = subtree(s)
      val js = tree.flatMap(t => jobsBySpan.getOrElse(t.id, Vector.empty))
      val tasks = new TaskAgg
      tree.foreach(t => taskAgg.get(t.id).foreach(tasks.add))
      val jobSeconds = js.map(j => (j.end - j.start).max(0L)).sum / 1e3
      val covered = unionMs(js.map(j => (j.start.max(s.startMs), j.end.min(s.endMs)))) / 1e3
      val childSeconds = children.getOrElse(s.id, Vector.empty).map(_.seconds).sum
      s -> Map(
        "s" -> s.seconds,
        "self_s" -> (s.seconds - childSeconds).max(0.0),
        "jobs" -> js.size.toDouble,
        "tasks" -> tasks.tasks.toDouble,
        "job_s" -> jobSeconds,
        "driver_gap_s" -> (s.seconds - covered).max(0.0),
        "shuffle_read_bytes" -> tasks.shuffleRead.toDouble,
        "shuffle_write_bytes" -> tasks.shuffleWrite.toDouble,
        "spill_bytes" -> tasks.spill.toDouble,
        "gc_s" -> tasks.gcMs / 1e3,
        "executor_run_s" -> tasks.runMs / 1e3,
        "empty_task_ratio" ->
          (if (tasks.tasks == 0) 0.0 else tasks.emptyTasks.toDouble / tasks.tasks),
        "meta_reads" -> s.metaReads.toDouble,
        "bytes_written" -> s.bytesWritten.toDouble,
        "files_written" -> s.filesWritten.toDouble)
    }
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    for ((a, b) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = curE.max(b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

private final case class JobRec(jobId: Int, span: Int, start: Long, end: Long, stages: Seq[Int])

private final class TaskAgg {
  var tasks = 0L; var emptyTasks = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var gcMs = 0L; var runMs = 0L
  def add(o: TaskAgg): Unit = {
    tasks += o.tasks; emptyTasks += o.emptyTasks
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    gcMs += o.gcMs; runMs += o.runMs
  }
}

private final class SpanListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, TaskAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobs.put(e.jobId, JobRec(e.jobId, span, e.time, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val agg = stages.computeIfAbsent(e.stageId, _ => new TaskAgg)
    agg.synchronized {
      agg.tasks += 1
      if (m != null) {
        val records = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        if (records == 0L) agg.emptyTasks += 1
        agg.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        agg.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        agg.gcMs += m.jvmGCTime
        agg.runMs += m.executorRunTime
      }
    }
  }
}

/** Sizes of the files under some directories, for a before/after diff. */
private final class DirSnapshot(val files: Map[String, (Long, Long)]) {
  /** (bytes, files) that are new or changed since `before`. */
  def writtenSince(before: DirSnapshot): (Long, Long) = {
    val changed = files.filter { case (p, v) => !before.files.get(p).contains(v) }
    (changed.values.map(_._1).sum, changed.size.toLong)
  }
}

private object DirSnapshot {
  def of(dirs: Seq[File]): DirSnapshot =
    new DirSnapshot(dirs.flatMap(Files.walk).map(f => f.getPath -> (f.length(), f.lastModified())).toMap)
}

/** Small filesystem helpers shared by the workloads. */
object Files {
  def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
    else if (f.isFile) Seq(f) else Nil

  def bytesUnder(f: File): Long = walk(f).map(_.length()).sum

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
