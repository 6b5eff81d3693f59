package graft.perfbench

import java.nio.file.{Files, Path}
import java.time.{Duration, Instant, LocalDate, ZoneOffset}
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.{LogWarehouse, StateStore, WarehouseStore}

/** One timed operation. `run` is timed; `prepare` and `check` are not,
  * and `check` returns the reason the output is wrong, if it is. `phase`
  * is `cold` for work that builds state from nothing and `warm` for work
  * served from state the pass already built. */
final case class Op(name: String, kind: String, run: () => Any,
    check: Any => Option[String], prepare: () => Unit = () => (),
    phase: String = "cold")

final case class Ctx(spark: SparkSession, data: String, work: Path, expected: JsonNode,
    seed: Long)

trait Workload {
  /** Brings the program to the state a pass starts from: clears its caches,
    * imports tables and generates the inputs. Called several times; returns
    * the seconds spent importing tables. */
  def setup(): Double
  /** The workload's fixed operation sequence, in seeded order. */
  def pass(index: Int, rng: scala.util.Random): Seq[Op]
  /** Untimed end-of-pass verification of the state the pass left. */
  def verify(): Option[String] = None
  /** Bytes on disk the program keeps for this workload after a pass. */
  def storedBytes(): Long
  /** Workload-specific per-layer counters for the last pass. */
  def counters(): Map[String, Double] = Map.empty
}

object Workloads {
  val names: Seq[String] = Seq("lakehouse", "corpus")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "lakehouse" => new Etl(ctx, LogWarehouse, verbs = true)
    case "corpus" => new Queries(ctx, corpus)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** LLM-data queries that build artifacts (postings, vocabularies,
    * cluster maps, importance weights) through ArtifactCache and Regime:
    * the most driver jobs per query (x47-x50), the overlapped builds of
    * x43, and the connected-components family x19/x20/x36. */
  val corpus: Seq[String] = Seq(
    "x19_dedup_clusters", "x20_dedup_survivors", "x36_quality_survivors",
    "x43_dsir_select", "x47_bm25_topk", "x48_rrf_fusion", "x49_containment",
    "x50_inclusion")
  /** LogTable verbs: compaction and vacuum, the change feed, and the
    * deletion-vector rows k23-k26. */
  val verbs: Seq[String] = Seq(
    "k12_log_maintenance", "k13_change_feed", "k23_dv_merge", "k24_dv_conditional",
    "k25_mor_update", "k26_dv_bulk")

  def sizeOf(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }

  /** Executes a query and returns its rows: the whole result reaches the
    * driver, as it reaches a dashboard. */
  def queryOp(ctx: Ctx, name: String, data: String, kind: String): Op = {
    val fn = graft.SparkEntry.queries(name)
    Op(name, kind, () => {
      val df = QueryTimer.time(v => QueryTimer.construct = v)(fn(ctx.spark, data))
      QueryTimer.time(v => QueryTimer.plan = v)(df.queryExecution.executedPlan)
      QueryTimer.time(v => QueryTimer.exec = v)(df.collect())
    }, {
      case rows: Array[Row] =>
        val want = ctx.expected.path("queries").path(name)
        if (want.isMissingNode) Some(s"$name: no expected result recorded")
        else Check.compare(name, Check.Digest(want.path("rows").asLong,
          want.path("hash").asText), Check.digest(rows))
      case other => Some(s"$name: unexpected result $other")
    })
  }
}

/** A read-only query family (`corpus`): every query, in seeded order, runs
  * cold, after both cache layers are cleared, and then warm, served from
  * the artifacts its cold run built. */
final class Queries(ctx: Ctx, names: Seq[String]) extends Workload {
  import Workloads._
  private val importDir = ctx.work.resolve("import")

  def setup(): Double = {
    graft.io.ArtifactCache.clear()
    ctx.spark.catalog.clearCache()
    graft.io.Tables.clearSchemaCache()
    deleteTree(importDir)
    graft.io.Tables.importAll(ctx.spark, ctx.data)
  }

  def pass(index: Int, rng: scala.util.Random): Seq[Op] =
    rng.shuffle(names).flatMap { name =>
      val op = queryOp(ctx, name, ctx.data, "query")
      Seq(op.copy(prepare = () => {
        // every cold query pays its own artifact builds
        graft.io.ArtifactCache.retainOnly(_.startsWith("import:"))
        ctx.spark.catalog.clearCache()
      }), op.copy(phase = "warm"))
    }

  def storedBytes(): Long = sizeOf(importDir)
}

/** The ETL (`lakehouse` on LogWarehouse): a backfill of `windows` 30-day
  * windows into a fresh warehouse and the missing-category re-enrich, then
  * a re-fetch of one loaded window and an idle run with a forced re-enrich.
  * With `verbs`, the LogTable verbs run after the backfill. */
final class Etl(ctx: Ctx, store: WarehouseStore, verbs: Boolean) extends Workload {
  import Workloads._
  private val spark = ctx.spark
  private val windows = Etl.Windows
  private val span = Etl.span(ctx.seed)
  private val start = Etl.spanStart(span)
  private val bounds = (0 to windows).map(i => start.plus(Duration.ofDays(30L * i)))
  private val src = ctx.work.resolve("src").toString
  private var warehouse: Path = ctx.work.resolve("wh")
  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  // per-window (orders, max order date), counted straight from the source
  private var expectedWindows: IndexedSeq[(Long, Option[Instant])] = IndexedSeq.empty
  private var expectedItems = 0L

  /** Writes the orders of the span, their line items and the product
    * catalog as the API's source, so the run after the backfill is idle. */
  private def writeSource(): Unit = {
    deleteTree(ctx.work.resolve("src"))
    val lo = lit(fmt.format(bounds.head)).cast("timestamp")
    val hi = lit(fmt.format(bounds.last)).cast("timestamp")
    val orders = spark.read.parquet(s"${ctx.data}/orders.parquet")
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
    orders.coalesce(1).write.parquet(s"$src/orders.parquet")
    spark.read.parquet(s"${ctx.data}/lineitem.parquet")
      .join(orders.select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"), "left_semi")
      .coalesce(1).write.parquet(s"$src/lineitem.parquet")
    spark.read.parquet(s"${ctx.data}/part.parquet").coalesce(1)
      .write.parquet(s"$src/part.parquet")
    val o = spark.read.parquet(s"$src/orders.parquet")
    expectedWindows = bounds.sliding(2).map { case Seq(a, b) =>
      val r = o.filter(col("o_orderdate") >= lit(fmt.format(a)).cast("timestamp") &&
          col("o_orderdate") < lit(fmt.format(b)).cast("timestamp"))
        .agg(count(lit(1)), max(col("o_orderdate"))).head()
      (r.getLong(0), Option(r.get(1)).map {
        case t: java.sql.Timestamp => t.toInstant
        case t: java.time.LocalDateTime => t.toInstant(ZoneOffset.UTC)
        case t: Instant => t
      })
    }.toIndexedSeq
    expectedItems = spark.read.parquet(s"$src/lineitem.parquet").count()
  }

  private def freshWarehouse(tag: String): Unit = {
    deleteTree(warehouse)
    warehouse = ctx.work.resolve(s"wh-$tag")
    deleteTree(warehouse)
    Files.createDirectories(warehouse)
  }

  private def state = new StateStore(warehouse.resolve("state.json"))

  /** One window through `Run.processBatch`. A backfill window advances the
    * watermark as `Run.execute` does; a re-fetch leaves it where it is. */
  private def batchOp(i: Int, kind: String): Op = Op(s"window_$i", kind, () => {
    val r = graft.Run.processBatch(spark, src, warehouse.toString,
      fmt.format(bounds(i)), Some(fmt.format(bounds(i + 1))), store)
    if (kind == "batch") r._2.foreach(state.advanceFrom)
    r
  }, got => Check.compare(s"window_$i (orders, max order date)", expectedWindows(i), got))

  private def reEnrichOp: Op = Op("reenrich", "reenrich",
    () => graft.Run.reEnrichCategories(spark, src, warehouse.toString,
      forceAll = false, store), got =>
      Check.compare("reenrich rows", expectedEtl.path("reenriched").asLong, got))

  private def idleOp: Op = Op("idle_force_enrich", "idle", () =>
    graft.Run.execute(spark, graft.Run.Args(data = src, warehouse = warehouse.toString,
      forceEnrichAll = true, now = Some(bounds.last.toString),
      logWarehouse = store == LogWarehouse)), got =>
    Check.compare("idle run summary", expectedEtl.path("idle").asText, got))

  private def expectedEtl: JsonNode = ctx.expected.path("etl").path(span.toString)

  def setup(): Double = {
    spark.catalog.clearCache()
    graft.io.Tables.clearSchemaCache()
    writeSource()
    0.0
  }

  def pass(index: Int, rng: scala.util.Random): Seq[Op] = {
    freshWarehouse(index.toString)
    val backfill = (0 until windows).map(batchOp(_, "batch")) :+ reEnrichOp
    val verbOps =
      if (verbs) rng.shuffle(Workloads.verbs).map(queryOp(ctx, _, ctx.data, "verb"))
      else Nil
    val refetch = batchOp(Etl.refetch(ctx.seed), "refetch")
    backfill ++ verbOps ++ Seq(refetch, idleOp).map(_.copy(phase = "warm"))
  }

  override def verify(): Option[String] = {
    def table(t: String) = Check.digest(store.read(spark, warehouse.toString, t).collect())
    val want = expectedEtl
    val orders = expectedWindows.map(_._1).sum
    val watermark = expectedWindows.flatMap(_._2).maxOption
      .map(m => fmt.format(m.plus(Duration.ofMinutes(1))))
    val o = table("fct_orders")
    val i = table("fct_order_items")
    Check.compare("fct_orders rows", orders, o.rows)
      .orElse(Check.compare("fct_order_items rows", expectedItems, i.rows))
      .orElse(Check.compare("watermark", watermark, state.readCursor()))
      .orElse(Check.compare("fct_orders hash", want.path("fct_orders").asText, o.hash))
      .orElse(Check.compare("fct_order_items hash", want.path("fct_order_items").asText, i.hash))
  }

  /** Runs one pass without settling or checks and returns what the checks
    * compare: re-enriched rows, the idle run's summary and the digests of
    * both final tables. */
  def record(): (Long, String, String, String) = {
    writeSource()
    val results = pass(0, new scala.util.Random(ctx.seed)).map(op => op.name -> op.run()).toMap
    def table(t: String) = Check.digest(store.read(spark, warehouse.toString, t).collect()).hash
    val out = (results("reenrich").asInstanceOf[Long], results("idle_force_enrich").toString,
      table("fct_orders"), table("fct_order_items"))
    deleteTree(warehouse)
    out
  }

  def storedBytes(): Long = sizeOf(warehouse)

  override def counters(): Map[String, Double] =
    if (store != LogWarehouse) Map.empty
    else Map("logtable.commits" -> Seq("fct_orders", "fct_order_items")
      .map(t => graft.io.LogTable.version(warehouse.resolve(s"${t}_log").toString)).sum.toDouble)
}

object Etl {
  /** Backfill windows per pass. */
  val Windows = 2
  /** Number of span starts the seed chooses among: consecutive months
    * from 1995-01, so every span lies inside the fixture history. */
  val Spans = 12

  def span(seed: Long): Int = java.lang.Math.floorMod(seed, Spans.toLong).toInt

  def spanStart(span: Int): Instant =
    LocalDate.of(1995, 1, 1).plusMonths(span.toLong).atStartOfDay(ZoneOffset.UTC).toInstant

  /** The window the warm phase re-fetches. */
  def refetch(seed: Long): Int =
    java.lang.Math.floorMod(seed / Spans, Windows.toLong).toInt
}
