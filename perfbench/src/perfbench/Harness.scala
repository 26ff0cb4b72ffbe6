package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run inside one JVM: set the workload up, run its op list
  * in a closed loop (one client thread, each op starts when the previous one
  * has finished) until the time is up, then write the correctness outputs
  * and the raw measurements for `run.py` to turn into metrics.
  *
  * {{{
  *   perfbench.Harness <workload> <runDir> <dataDir> <opsFile> <seconds> <trace 0|1>
  * }}}
  *
  * The op file is produced by `workloads.py` from the seed: `@key<TAB>value`
  * parameter lines, then one `kind<TAB>part<TAB>name<TAB>args...` line per
  * op, where `part` names the component that runs it (`sql` queries, `dml`
  * table commits, the `etl` pipeline). The first `@warm` ops run during
  * set-up, untimed. The loop always finishes
  * the `@pass` of ops it is in, so a run measures whole passes.
  */
object Harness {
  final case class Op(kind: String, part: String, name: String, args: Vector[String])

  /** Where an op's time goes. With tracing off every call is a plain call. */
  trait Spans {
    def enabled: Boolean
    def span[T](name: String)(body: => T): T
    /** Add `v` to a per-layer counter (kept only for traced ops). */
    def count(key: String, v: Double): Unit
  }
  object NoSpans extends Spans {
    def enabled = false
    def span[T](name: String)(body: => T): T = body
    def count(key: String, v: Double): Unit = ()
  }

  /** One component's set-up, ops and correctness outputs. */
  trait Part {
    def setup(): Unit
    def run(op: Op, s: Spans): Unit
    /** Runs after the timed loop: write what the correctness check reads. */
    def finish(): Map[String, String]
    /** Measurements taken during set-up, such as the backfill time. */
    def extra: Map[String, Double] = Map.empty
  }

  /** The read path every query-like op shares: construct, plan, execute into
    * the `noop` sink. Planning is only forced separately when traced. */
  def readOp(spark: SparkSession, s: Spans)(construct: => DataFrame): Unit = {
    val df = s.span("construct")(construct)
    if (s.enabled) {
      s.count("load.reads", df.queryExecution.analyzed.collectLeaves()
        .count(_.getClass.getSimpleName == "LogicalRelation").toDouble)
      s.span("plan")(df.queryExecution.executedPlan)
    }
    s.span("exec")(df.write.format("noop").mode("overwrite").save())
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, runDir, dataDir, opsFile, secondsArg, traceArg) = args
    val lines = Files.readAllLines(Paths.get(opsFile)).asScala.toVector
    val params = lines.filter(_.startsWith("@"))
      .map(_.drop(1).split("\t", 2)).map(a => a(0) -> a(1)).toMap
    val ops = lines.filterNot(l => l.startsWith("@") || l.isEmpty).map { l =>
      val f = l.split("\t").toVector
      Op(f(0), f(1), f(2), f.drop(3))
    }
    val warm = params("warm").toInt
    val pass = params("pass").toInt
    val traced = traceArg == "1"
    val cpus = params("cpus").toInt

    val spark = Session.local(cpus, runDir)
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val on: Spans = new Spans {
      def enabled = true
      def span[T](name: String)(body: => T): T = tracer.span(name)(body)
      def count(key: String, v: Double): Unit = counters(key) += v
    }
    val parts: Map[String, Part] = ops.map(_.part).distinct.map {
      case "sql" =>
        "sql" -> new SqlPart(spark, workload, dataDir, runDir, ops.filter(_.part == "sql"))
      case "dml" => "dml" -> new DmlPart(spark, dataDir, runDir, params)
      case "etl" => "etl" -> new EtlPart(spark, runDir, params)
    }.toMap
    def run(op: Op, s: Spans): Unit = parts(op.part).run(op, s)
    val setupMs = mutable.LinkedHashMap.empty[String, Double]
    def timed(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      setupMs(name) = (System.nanoTime() - t0) / 1e6
    }
    parts.foreach { case (name, p) => timed(name)(p.setup()) }
    timed("warm")(ops.take(warm).foreach(op => run(op, NoSpans)))

    // Timed closed loop. With tracing on, every other pass runs without
    // spans (its jobs land in the listener's `untraced` bucket), so traced
    // over untraced wall of the same op mix gives the tracing overhead.
    if (traced) sc.addSparkListener(tracer)
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    def gcMs = gcs.map(_.getCollectionTime).sum.toDouble
    val firstOpEpochMs = System.currentTimeMillis()
    val cpu0 = os.getProcessCpuTime
    val gc0 = gcMs
    val jit0 = jit.getTotalCompilationTime.toDouble
    val loop0 = System.nanoTime()
    val deadline = loop0 + (secondsArg.toDouble * 1e9).toLong
    val records = mutable.ArrayBuffer.empty[String]
    var i = warm
    var tracedOps = 0
    val minOps = pass * params("passes").toInt
    while (i < ops.length &&
        (System.nanoTime() < deadline || (i - warm) % pass != 0 || i - warm < minOps)) {
      val op = ops(i)
      val traceThis = traced && (i - warm) / pass % 2 == 0
      val t0 = System.nanoTime()
      val ok = try {
        if (traceThis) {
          tracer.beginOp(i)
          try tracer.span("op")(run(op, on)) finally tracer.endOp()
          tracedOps += 1
        } else run(op, NoSpans)
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] op $i ${op.kind} ${op.name} failed: $e")
          false
      }
      val t1 = System.nanoTime()
      records += Seq(i, op.kind, op.part, op.name, t0 - loop0, t1 - loop0, if (ok) 1 else 0,
        if (traceThis) 1 else 0).mkString("\t")
      i += 1
    }
    val loop1 = System.nanoTime()
    val cpuNs = os.getProcessCpuTime - cpu0
    val gcLoop = gcMs - gc0
    val jitLoop = jit.getTotalCompilationTime - jit0
    // heap still in use once a full collection has run: what the run keeps
    // live, which unlike a raw peak does not depend on when collections ran
    System.gc()
    val heapLiveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val check = parts.map { case (p, w) => p -> w.finish() }

    val out = Paths.get(runDir, "out")
    Files.createDirectories(out)
    Files.write(out.resolve("ops.tsv"), records.asJava)
    val nOps = records.length.max(1)
    val result = mutable.LinkedHashMap[String, Any](
      "first_op_epoch_ms" -> firstOpEpochMs,
      "loop_s" -> (loop1 - loop0) / 1e9,
      "cpu_s" -> cpuNs / 1e9,
      "gc_ms_per_op" -> gcLoop / nOps,
      "jit_ms_per_op" -> jitLoop / nOps,
      "heap_live_mb" -> heapLiveMb,
      "check" -> check,
      "setup_ms" -> setupMs) ++ parts.values.flatMap(_.extra)
    if (traced) {
      tracer.drain()
      result("layers") = Layers.summarize(tracer, counters.toMap, tracedOps, cpus,
        gcLoop / nOps, jitLoop / nOps)
      Files.write(out.resolve("spans.jsonl"), tracer.all.map { s =>
        s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
          s""""parent":${s.parent},"op":${s.op}}"""
      }.asJava)
    }
    Files.writeString(out.resolve("run.json"), Json.render(result))
    spark.stop()
  }
}

/** Minimal JSON writer for the harness's flat outputs. */
object Json {
  def render(v: Any): String = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(render).mkString("[", ",", "]")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case null => "null"
    case other => quote(other.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
