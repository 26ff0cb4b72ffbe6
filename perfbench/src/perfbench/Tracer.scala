package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into each layer, plus a SparkListener
  * that attributes every Spark job to the span that submitted it.
  *
  * A span's name is its layer (`construct`, `plan`, `exec`,
  * `creatorops.silver`, `vt.upsert`, ...). Opening a span sets the Spark
  * local property `perfbench.span` on the client thread, so each job carries
  * the innermost open span in its submission properties; attribution never
  * depends on when the asynchronous listener bus delivers the event. The
  * job's call site (the first stack frame outside Spark, which Spark stores
  * in the stage details) tells a table load apart from other jobs. Spans are kept in memory and written at the
  * end of the run.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: Int)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0
  private var op = -1

  /** Per-span-name counters, filled by the listener. */
  final class Acc {
    var jobs, stages, tasks, loadJobs = 0L
    var loadMs, taskMs, cpuMs = 0.0
    var shuffleWrite, shuffleRead, input, spill = 0L
  }
  private val acc = mutable.Map.empty[String, Acc]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val loadJobStart = mutable.Map.empty[Int, (String, Long)]
  @volatile private var events = 0L

  def accFor(name: String): Acc = synchronized(acc.getOrElseUpdate(name, new Acc))

  def beginOp(id: Int): Unit = op = id
  def endOp(): Unit = op = -1

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val start = System.nanoTime()
    stack = (id, name) :: stack
    sc.setLocalProperty(Tracer.SpanKey, name)
    try body
    finally {
      val end = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_._2).orNull)
      spans += Span(id, name, start, end, parent, op)
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Counters of every span except the untraced bucket. */
  def tracedAccs: Seq[Acc] = synchronized(acc.collect { case (k, a) if k != "untraced" => a }.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val name = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .getOrElse("untraced")
    // Spark's long call site: the last Spark frame, then the first frame
    // outside Spark and its callers
    val site = e.stageInfos.headOption.map(_.details).getOrElse("")
    val firstUserFrame = site.linesIterator.slice(1, 2).nextOption().getOrElse("")
    val load = Tracer.LoadSites.exists(firstUserFrame.startsWith)
    e.stageIds.foreach(stageSpan(_) = name)
    val a = accFor(name)
    a.jobs += 1
    if (load) {
      a.loadJobs += 1
      loadJobStart(e.jobId) = (name, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    loadJobStart.remove(e.jobId).foreach { case (name, t0) => accFor(name).loadMs += e.time - t0 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    val a = accFor(stageSpan.getOrElse(e.stageInfo.stageId, "untraced"))
    a.stages += 1
    a.tasks += e.stageInfo.numTasks
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val m = e.taskMetrics
    if (m != null) {
      val a = accFor(stageSpan.getOrElse(e.stageId, "untraced"))
      a.taskMs += m.executorRunTime
      a.cpuMs += m.executorCpuTime / 1e6
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.input += m.inputMetrics.bytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Wait until the asynchronous listener bus has gone quiet. */
  def drain(): Unit = {
    var last = -1L
    while (last != events) { last = events; Thread.sleep(300) }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** Stack frames (Spark's call-site format) of the program's table loaders. */
  val LoadSites = Seq("graft.sources.Tables$", "graft.sources.TableIO$")
}

/** Turns a traced run's spans and listener counters into the per-layer
  * metrics named in BENCHMARK.json. Times and counts are per traced op;
  * `vt.*` and `mv.refresh_ms` are per commit or refresh. */
object Layers {
  def summarize(t: Tracer, counters: Map[String, Double], tracedOps: Int,
      slots: Int, gcMsPerOp: Double, jitMsPerOp: Double): Map[String, Double] = {
    val n = tracedOps.max(1).toDouble
    val spans = t.all.filter(_.op >= 0)
    def ms(name: String) = spans.filter(_.name == name).map(s => (s.end - s.start) / 1e6).sum
    def calls(name: String) = spans.count(_.name == name).toDouble
    def mean(name: String) = if (calls(name) == 0) 0.0 else ms(name) / calls(name)
    def c(k: String) = counters.getOrElse(k, 0.0)
    val all = t.tracedAccs
    val con = t.accFor("construct")
    val ex = t.accFor("exec")
    val commits = calls("vt.upsert") + calls("vt.delete") + calls("vt.compact")
    def perCommit(v: Double) = if (commits == 0) 0.0 else v / commits
    Map(
      "load.reads" -> c("load.reads") / n,
      "load.jobs" -> all.map(_.loadJobs).sum / n,
      "load.ms" -> all.map(_.loadMs).sum / n,
      "construct.ms" -> ms("construct") / n,
      "construct.jobs" -> con.jobs / n,
      "construct.task_ms" -> con.taskMs / n,
      "plan.ms" -> ms("plan") / n,
      "exec.ms" -> ms("exec") / n,
      "exec.jobs" -> ex.jobs / n,
      "exec.stages" -> ex.stages / n,
      "exec.tasks_per_stage" -> (if (ex.stages == 0) 0.0 else ex.tasks.toDouble / ex.stages),
      "exec.task_ms" -> ex.taskMs / n,
      "exec.cpu_ms" -> ex.cpuMs / n,
      "exec.slot_util" -> (if (ms("exec") == 0) 0.0 else ex.taskMs / (ms("exec") * slots)),
      "exec.shuffle_write_bytes" -> ex.shuffleWrite / n,
      "exec.shuffle_read_bytes" -> ex.shuffleRead / n,
      "exec.input_bytes" -> ex.input / n,
      "exec.spill_bytes" -> ex.spill / n,
      "scan.files_read" -> c("scan.files_read") / n,
      "scan.files_total" -> c("scan.files_total") / n,
      "creatorops.bronze.ms" -> ms("creatorops.bronze") / n,
      "creatorops.silver.ms" -> ms("creatorops.silver") / n,
      "creatorops.gold.ms" -> ms("creatorops.gold") / n,
      "tableio.files_written" -> c("tableio.files_written") / n,
      "tableio.bytes_written" -> c("tableio.bytes_written") / n,
      "vt.commit_ms.upsert" -> mean("vt.upsert"),
      "vt.commit_ms.delete" -> mean("vt.delete"),
      "vt.commit_ms.compact" -> mean("vt.compact"),
      "vt.files_added" -> perCommit(c("vt.files_added")),
      "vt.files_removed" -> perCommit(c("vt.files_removed")),
      "vt.bytes_rewritten" -> perCommit(c("vt.bytes_rewritten")),
      "vt.write_amp" -> (if (c("vt.bytes_changed") == 0) 0.0
        else c("vt.bytes_rewritten") / c("vt.bytes_changed")),
      "vt.log_bytes" -> perCommit(c("vt.log_bytes")),
      "mv.refresh_ms" -> mean("mv.refresh"),
      "mv.rewrite_hits" -> c("mv.rewrite_hits") / n,
      "mv.rewrite_attempts" -> c("mv.rewrite_attempts") / n,
      "jvm.gc_ms" -> gcMsPerOp,
      "jvm.jit_ms" -> jitMsPerOp)
  }
}
