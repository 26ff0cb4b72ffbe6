package perfbench

import java.io.File
import java.time.{Instant, LocalDate}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.creatorops.{Bronze, Generator, Pipeline}
import graft.sources.{MaterializedView, TableIO, VersionedTable}

import Harness.{Op, Part, Spans}

/** Regular files under `root` with their (size, mtime). */
object FileTree {
  def snapshot(root: String): Map[String, (Long, Long)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(root)).filter(_.isFile)
      .map(f => f.getPath -> (f.length, f.lastModified)).toMap
  }

  def bytes(root: String): Long = snapshot(root).values.map(_._1).sum

  /** Run `body` and count the files it created or replaced under `root`.
    * The tree is only walked when traced. */
  def write(s: Spans, root: String)(body: => Unit): Unit =
    if (!s.enabled) body
    else {
      val before = snapshot(root)
      body
      val written = snapshot(root).filter { case (p, v) => !before.get(p).contains(v) }
      s.count("tableio.files_written", written.size.toDouble)
      s.count("tableio.bytes_written", written.values.map(_._1).sum.toDouble)
    }
}

/** The two query workloads' pools: every query of `SparkEntry.queries`
  * belongs to exactly one, by the module that defines it. */
object Pools {
  import graft.SparkEntry
  import graft.queries.{EventKpis, ExtQueries, SimilarityQueries, SkippingQueries,
    TextQueries, TpchQueries}
  import graft.operators.{Multimodal, NearDup}

  val curation: Set[String] = NearDup.queries.keySet ++ SimilarityQueries.queries.keySet ++
    Multimodal.queries.keySet ++ TextQueries.queries.keySet
  val lakehouse: Set[String] = EventKpis.queries.keySet ++ TpchQueries.queries.keySet ++
    ExtQueries.queries.keySet ++ SkippingQueries.queries.keySet ++
    Set("q_asof_join", "q_asof_native", "q_sessionize", "q_approx_distinct")

  /** Why the pools do not partition `SparkEntry.queries`, if they do not. */
  def problem: Option[String] = {
    val all = SparkEntry.queries.keySet
    val both = lakehouse & curation
    val neither = all -- lakehouse -- curation
    val unknown = (lakehouse ++ curation) -- all
    if (both.isEmpty && neither.isEmpty && unknown.isEmpty) None
    else Some(s"in both: ${both.toSeq.sorted}; in neither: ${neither.toSeq.sorted}; " +
      s"not queries: ${unknown.toSeq.sorted}")
  }
}

/** The `sql` part: a panel of named queries from `SparkEntry.queries`
  * (lakehouse queries in `lakehouse_sql`, curation queries in
  * `etl_curation`), each op executing one into the `noop` sink. Set-up
  * runs each panel query once to warm it; after the timed loop each runs
  * once more and its result is kept for the oracle check, so the check sees
  * what the queries return once the loop has built up state. */
final class SqlPart(spark: SparkSession, workload: String, dataDir: String,
    runDir: String, ops: Seq[Op]) extends Part {
  private val fns = graft.SparkEntry.queries
  private val names = ops.map(_.name).distinct
  private val pool = if (workload == "lakehouse_sql") Pools.lakehouse else Pools.curation

  def setup(): Unit = {
    val outside = names.filterNot(pool)
    require(outside.isEmpty, s"$workload ops name queries outside its pool: $outside")
    names.foreach { n =>
      try Harness.readOp(spark, Harness.NoSpans)(fns(n)(spark, dataDir))
      catch { case e: Throwable => System.err.println(s"[perfbench] $n failed: $e") }
      spark.catalog.clearCache()
    }
  }

  def run(op: Op, s: Spans): Unit = {
    Harness.readOp(spark, s)(fns(op.name)(spark, dataDir))
    spark.catalog.clearCache()
  }

  def finish(): Map[String, String] = {
    names.foreach { n =>
      try fns(n)(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$runDir/results/$n")
      catch { case e: Throwable => System.err.println(s"[perfbench] $n failed: $e") }
      spark.catalog.clearCache()
    }
    val oracles = names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(runDir, "results", "oracle_sql.json"),
      Json.render(oracles))
    Map("results" -> s"$runDir/results", "pool_error" -> Pools.problem.getOrElse(""))
  }
}

/** The `etl` part of `etl_curation`: the paper's pipeline. Set-up generates
  * the creator events with `Generator`, lands them as NDJSON partitioned by
  * the day they arrive (a seeded share arrives a day late) and backfills
  * every day but the held-back ones with `Pipeline.runAll`. Each held-back
  * day is one write op, its daily cycle; a read op reads a gold KPI table
  * over the trailing week of a day. */
final class EtlPart(spark: SparkSession, runDir: String,
    params: Map[String, String]) extends Part {
  private val root = s"$runDir/warehouse"
  private val wh = Pipeline.Warehouse(root)
  private val input = s"$runDir/input/events"
  private var held: IndexedSeq[String] = IndexedSeq.empty
  private var backfill: Seq[String] = Nil
  private var backfillMs = 0.0
  private var bronzeDone = -1

  private def day(k: Int) = held(k).stripPrefix("p_arrival=")

  def setup(): Unit = {
    val seed = params("seed").toLong
    // a fixed population sampled down to a fixed number of events, so every
    // seed generates the same volume
    val authors = params("authors").toInt
    val stories = params("stories").toInt
    val cfg = Generator.Config(seed = seed, tenants = params("tenants").toInt,
      timelineDays = params("days").toInt, endDay = LocalDate.parse(params("end_day")),
      authorsPerTenant = (authors, authors), storiesPerAuthor = (stories, stories),
      targetTotalEvents = Some(params("events").toLong),
      corruptionRate = params("corrupt").toDouble)
    val ev = Generator.events(spark, cfg).toDF()
    val late = pmod(xxhash64(col("eventId"), col("occurredAt"), lit(seed)), lit(1000)) <
      lit((params("late").toDouble * 1000).toInt)
    // malformed timestamps have no day of their own: they land on a hashed one
    val occurred = coalesce(expr("try_cast(substring(occurredAt, 1, 10) AS DATE)"),
      date_add(lit(cfg.endDay.minusDays(cfg.timelineDays.toLong).toString).cast("date"),
        pmod(xxhash64(col("eventId")), lit(cfg.timelineDays)).cast("int")))
    TableIO.writeNdjson(
      ev.withColumn("p_arrival", date_add(occurred, when(late, 1).otherwise(0))),
      input, Seq("p_arrival"))
    val days = new File(input).list().filter(_.startsWith("p_arrival=")).sorted.toIndexedSeq
    val nHeld = params("held").toInt
    held = days.takeRight(nHeld)
    backfill = days.dropRight(nHeld).map(d => s"$input/$d")
    val t0 = System.nanoTime()
    Pipeline.runAll(spark, backfill, root)
    backfillMs = (System.nanoTime() - t0) / 1e6
  }

  /** The daily cycle of held-back day `k`: append its arrivals to bronze,
    * then rebuild silver (merging late events into the day before) and the
    * gold KPIs of the two days it touches. */
  private def cycle(k: Int, s: Spans): Unit = {
    val d = day(k)
    val prev = LocalDate.parse(d).minusDays(1).toString
    FileTree.write(s, root) {
      val stamp = java.sql.Timestamp.from(Instant.parse(s"${d}T23:59:59Z"))
      s.span("creatorops.bronze") {
        TableIO.write(Bronze.ingest(spark, Seq(s"$input/${held(k)}"), ingestedAt = Some(stamp)),
          wh.bronze, SaveMode.Append, partitionBy = Seq("p_ingest_date"))
      }
      bronzeDone = k
      s.span("creatorops.silver")(Pipeline.runSilverRange(spark, root, d, d))
      s.span("creatorops.gold")(Pipeline.runGoldRange(spark, root, prev, d))
    }
  }

  def run(op: Op, s: Spans): Unit = {
    val k = op.args(0).toInt
    if (op.kind == "write") cycle(k, s)
    else {
      val d = LocalDate.parse(day(k))
      Harness.readOp(spark, s) {
        TableIO.read(spark, s"$root/${op.name}").filter(col("p_event_date")
          .between(lit(d.minusDays(6).toString).cast("date"), lit(d.toString).cast("date")))
      }
    }
  }

  private def landed = backfill.map(new File(_).getName) ++ held.take(bronzeDone + 1)

  def finish(): Map[String, String] = {
    def n(path: String) = TableIO.read(spark, path).count().toString
    Map("input" -> input, "days" -> landed.mkString(","),
      "bronze" -> n(wh.bronze), "silver" -> n(wh.silverEvents),
      "rejects" -> n(wh.silverRejects))
  }

  /** For `space_amp`: the medallion tables over the NDJSON of the days
    * landed in them. */
  override def extra: Map[String, Double] = Map("backfill_ms" -> backfillMs,
    "table_bytes" -> FileTree.bytes(root).toDouble,
    "input_bytes" -> landed.map(d => FileTree.bytes(s"$input/$d")).sum.toDouble)
}

/** The `dml` part of `lakehouse_sql`: a `VersionedTable` copy of a keyed
  * table (stats on the key, range-clustered) with one `MaterializedView`
  * over it. Reads are a selective `readWhere` and the view-covered
  * aggregate; writes are `upsert`, `delete` and `compact` commits, each
  * followed by `MaterializedView.refresh`. Every write is a pure function
  * of its op line, so the check can replay the op log independently. */
final class DmlPart(spark: SparkSession, dataDir: String, runDir: String,
    params: Map[String, String]) extends Part {
  private val vt = s"$runDir/warehouse/orders_vt"
  private val mv = s"$runDir/warehouse/orders_mv"
  private val key = col("o_orderkey")

  def setup(): Unit = {
    val base = spark.read.parquet(s"$dataDir/dml_base.parquet")
    VersionedTable.write(base.repartitionByRange(params("files").toInt, key), vt,
      statsCols = Seq("o_orderkey"))
    MaterializedView.create(spark, vt, mv, Seq("o_orderstatus"), Seq("price_cents"))
  }

  private def aggregate: DataFrame = VersionedTable.read(spark, vt)
    .groupBy(col("o_orderstatus"))
    .agg(count(lit(1)).as("n_rows"), sum(col("price_cents")).as("sum_price"))

  /** Rows an upsert writes: keys [lo, lo+nUpd) are updated, nIns new keys
    * from `fresh` are inserted; values are a function of key and op id. */
  private def updates(id: Long, lo: Long, nUpd: Long, fresh: Long, nIns: Long): DataFrame =
    spark.range(lo, lo + nUpd).union(spark.range(fresh, fresh + nIns)).select(
      col("id").as("o_orderkey"), (col("id") % 1000).as("o_custkey"),
      lit("U").as("o_orderstatus"),
      ((col("id") * 7919 + lit(id * 104729)) % 10000000).as("price_cents"))

  private def files(): Map[String, Long] = {
    val v = VersionedTable.latestVersion(spark, vt).get
    VersionedTable.filesOf(spark, vt, v).map(f => f -> new File(s"$vt/$f").length).toMap
  }
  private def logBytes(): Long =
    FileTree.snapshot(vt).collect { case (p, (n, _)) if !p.endsWith(".parquet") => n }.sum

  /** Time one commit as `span`, then refresh the view; when traced, count
    * the files it added and removed and the bytes it rewrote against the
    * bytes of rows it logically changed. */
  private def commit(s: Spans, span: String, changedRows: => Long)(body: => Unit): Unit = {
    if (!s.enabled) body
    else {
      val before = files()
      val log0 = logBytes()
      val rows = changedRows
      s.span(span)(body)
      val after = files()
      val added = after.keySet -- before.keySet
      val bytes = after.values.sum.toDouble
      val tableRows = VersionedTable.countRows(spark, vt)
        .getOrElse(VersionedTable.read(spark, vt).count()).toDouble
      s.count("vt.files_added", added.size.toDouble)
      s.count("vt.files_removed", (before.keySet -- after.keySet).size.toDouble)
      s.count("vt.bytes_rewritten", added.toSeq.map(after).sum.toDouble)
      s.count("vt.bytes_changed", if (tableRows == 0) 0.0 else rows * bytes / tableRows)
      s.count("vt.log_bytes", (logBytes() - log0).toDouble)
    }
    s.span("mv.refresh")(MaterializedView.refresh(spark, mv))
  }

  def run(op: Op, s: Spans): Unit = {
    val a = op.args.map(_.toLong)
    op.name match {
      case "where" =>
        val p = key >= a(0) && key < a(1)
        if (s.enabled) {
          val (kept, skipped) = VersionedTable.pruneInfo(spark, vt, p)
          s.count("scan.files_read", kept.size.toDouble)
          s.count("scan.files_total", (kept.size + skipped.size).toDouble)
        }
        Harness.readOp(spark, s)(VersionedTable.readWhere(spark, vt, p))
      case "agg" =>
        Harness.readOp(spark, s) {
          val df = aggregate
          if (s.enabled) {
            val roots = org.apache.spark.sql.graft.GraftBatchShim.scanRootsOf(df).map(_.toString)
            s.count("mv.rewrite_attempts", 1)
            s.count("mv.rewrite_hits", if (roots.contains(mv)) 1 else 0)
          }
          df
        }
      case "upsert" =>
        commit(s, "vt.upsert", a(2) + a(4))(
          VersionedTable.upsert(updates(a(0), a(1), a(2), a(3), a(4)), vt, Seq("o_orderkey")))
      case "delete" =>
        val p = key >= a(0) && key < a(1) && key % 2 === 0
        commit(s, "vt.delete", VersionedTable.read(spark, vt).filter(p).count())(
          VersionedTable.delete(spark, vt, p))
      case "compact" =>
        commit(s, "vt.compact", 0L)(VersionedTable.compact(spark, vt, a(0)))
    }
  }

  def finish(): Map[String, String] = {
    VersionedTable.read(spark, vt).coalesce(1).write.parquet(s"$runDir/results/final_table")
    aggregate.coalesce(1).write.parquet(s"$runDir/results/final_view")
    Map("results" -> s"$runDir/results")
  }

  /** For `space_amp`: the files the head versions of the table and the view
    * reference, plus both commit logs, over the base table. Files only
    * older versions reference are left out: how many of those the table
    * keeps depends on which files each seeded commit happens to touch. */
  override def extra: Map[String, Double] = {
    def head(path: String) = {
      val v = VersionedTable.latestVersion(spark, path).get
      VersionedTable.filesOf(spark, path, v).map(f => new File(s"$path/$f").length).sum +
        FileTree.bytes(s"$path/_graft_log")
    }
    Map("table_bytes" -> (head(vt) + head(mv)).toDouble,
      "input_bytes" -> FileTree.bytes(s"$dataDir/dml_base.parquet").toDouble)
  }
}
