package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The benchmark harness: one JVM runs one workload for one seed.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <fixture dir> --work <dir> --out <dir>
  *      [--expected <file>] [--record <file>]
  * }}}
  *
  * The last stdout line is the result object. `--record` instead runs every
  * operation once and writes the expected outputs the checks compare to. */
object Main {

  final case class Args(workload: String = "", seed: Long = 0L, seconds: Double = 10,
      trace: Boolean = false, data: String = "",
      work: String = "", out: String = "", expected: String = "",
      record: Option[String] = None)

  private def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--data" :: v :: t => parse(t, a.copy(data = v))
    case "--work" :: v :: t => parse(t, a.copy(work = v))
    case "--out" :: v :: t => parse(t, a.copy(out = v))
    case "--expected" :: v :: t => parse(t, a.copy(expected = v))
    case "--record" :: v :: t => parse(t, a.copy(record = Some(v)))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
  }

  /** One executed operation. Times are epoch ms. */
  final case class Sample(pass: Int, phase: String, op: String, kind: String,
      start: Double, end: Double, failure: Option[String], traced: Boolean,
      construct: Double, plan: Double, exec: Double,
      built: Set[String], reused: Int, decisions: Map[String, String]) {
    def seconds: Double = (end - start) / 1000
  }

  final case class PassRec(index: Int, traced: Boolean, cold: Double, warm: Double,
      stored: Long, start: Double, end: Double, folds: Long, foldNanos: Long,
      counters: Map[String, Double])

  /** Timed passes a run makes at least, after its settling pass: the most
    * that fit the time the benchmark may take, so each figure of a run is a
    * median over repeated work, not one pass that happened to be slow. */
  val TimedPasses = 2

  /** Wall-clock ms with sub-ms resolution on the listener events' clock. */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  /** Harrell-Davis estimate of the `q` quantile of `xs`: a Beta-weighted
    * mean of all order statistics. With the 16-18 latencies of one run it
    * varies far less from run to run than a single order statistic. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n <= 1) s.headOption.getOrElse(0.0)
    else {
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        q * (n + 1), (1 - q) * (n + 1))
      s.indices.map { i =>
        (beta.cumulativeProbability((i + 1).toDouble / n) -
          beta.cumulativeProbability(i.toDouble / n)) * s(i)
      }.sum
    }
  }

  private def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim
    catch { case _: java.io.IOException => "" }

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def session(cpus: Int, work: Path, useImport: Boolean): SparkSession = {
    if (useImport) sys.props("graft.import") = "1" else sys.props.remove("graft.import")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      // graft.Bench's session, so the queries run as the suite tunes them
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.ui.retainedExecutions", "15")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.RewriteLongDotProduct
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(Workloads.names.contains(a.workload) || a.record.isDefined,
      s"--workload must be one of ${Workloads.names.mkString(", ")}")
    val work = Paths.get(a.work).toAbsolutePath
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors()
    val useImport = a.workload == "corpus"
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(cpus, work, useImport)
    val sessionReady = nowMs
    val expected = {
      val f = new java.io.File(a.expected)
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      if (a.expected.nonEmpty && f.isFile) m.readTree(f) else m.createObjectNode()
    }
    try a.record match {
      case Some(file) => Record(spark, a, work, file)
      case None =>
        val ctx = Ctx(spark, a.data, work, expected, a.seed)
        run(spark, a, ctx, cpus, jvmStart, sessionReady)
    } finally spark.stop()
  }

  private def run(spark: SparkSession, a: Args, ctx: Ctx, cpus: Int,
      jvmStart: Double, sessionReady: Double): Unit = {
    val loadBefore = loadavg()
    val workload = Workloads(a.workload, ctx)
    // setup_s = JVM and session start + the median of three set-ups
    // (cache reset, table import, input generation), so one slow
    // repetition does not move it, + the settling pass below.
    val setups = (1 to 3).map { _ =>
      val t0 = nowMs
      val importS = workload.setup()
      ((nowMs - t0) / 1000, importS)
    }
    val importS = median(setups.map(_._2))
    val setupS = (sessionReady - jvmStart) / 1000 + median(setups.map(_._1))
    System.gc()

    val recorder = if (a.trace) Some(new Recorder(spark)) else None
    val rng = new scala.util.Random(a.seed)
    val samples = ArrayBuffer.empty[Sample]
    val passes = ArrayBuffer.empty[PassRec]
    val builtBy = scala.collection.mutable.Map.empty[String, Set[String]]
    // Pass 0 settles: it is the warm-up, the workload's own operations on
    // its own inputs, checked but not timed (a first pass runs 2.5-3x
    // slower than later ones). It ends set-up. Timing then covers at least
    // `TimedPasses` passes and at least `--seconds`. A traced run makes
    // exactly three passes after it: untraced, traced, untraced. The traced
    // pass's wall minus the untraced pair's mean is the tracing overhead,
    // free of linear drift (warming, host speed) that a fixed order would
    // add to it.
    var settledAt = 0.0
    var deadline = 0L
    def more(index: Int) =
      if (a.trace) index < 4
      else index <= TimedPasses || System.nanoTime() < deadline
    val settleStart = nowMs
    var index = 0
    while (more(index)) {
      val traced = a.trace && index == 2
      if (traced) recorder.foreach(_.attach())
      val pass = workload.pass(index, rng)
      val folds0 = graft.io.LogTable.foldCalls.get()
      val foldNs0 = graft.io.LogTable.foldNanos.get()
      val p0 = nowMs
      pass.foreach { op =>
        graft.io.Regime.lastDecision.clear()
        op.prepare()
        val before = graft.io.ArtifactCache.keys
        QueryTimer.reset()
        val s = nowMs
        val result =
          try Right(op.run())
          catch { case scala.util.control.NonFatal(e) => Left(e) }
        val e = nowMs
        val failure = result match {
          case Left(err) => Some(s"${op.name}: ${err.getClass.getName}: ${err.getMessage}")
          case Right(v) => op.check(v)
        }
        val after = graft.io.ArtifactCache.keys
        val built = after -- before
        if (op.phase == "cold" && built.nonEmpty) builtBy(op.name) = built
        val reused =
          if (op.phase == "warm" && built.isEmpty)
            builtBy.get(op.name).map(_.count(after.contains)).getOrElse(0)
          else 0
        failure.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
        samples += Sample(index, op.phase, op.name, op.kind, s, e, failure, traced,
          QueryTimer.construct, QueryTimer.plan, QueryTimer.exec, built, reused,
          graft.io.Regime.lastDecision.asScala.toMap)
      }
      def phaseSeconds(phase: String) =
        samples.filter(x => x.pass == index && x.phase == phase).map(_.seconds).sum
      val cold = phaseSeconds("cold")
      val warm = phaseSeconds("warm")
      val p1 = nowMs
      workload.verify().foreach { f =>
        System.err.println(s"[perfbench] FAILED verify: $f")
        // the end-of-pass state check belongs to the pass's last operation
        val i = samples.lastIndexWhere(_.pass == index)
        samples(i) = samples(i).copy(failure = samples(i).failure.orElse(Some(f)))
      }
      passes += PassRec(index, traced, cold, warm, workload.storedBytes(), p0, p1,
        graft.io.LogTable.foldCalls.get() - folds0,
        graft.io.LogTable.foldNanos.get() - foldNs0, workload.counters())
      if (traced) recorder.foreach(_.detach())
      if (index == 0) {
        settledAt = nowMs
        deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      }
      index += 1
    }
    val loadAfter = loadavg()
    // retained heap: the least used heap seen after three full collections,
    // so garbage a concurrent Spark thread allocates meanwhile does not count
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mx.getHeapMemoryUsage.getUsed / 1e6
    }.min

    val untraced = passes.filter(p => !p.traced && p.index > 0)
    // operation latency median: cold-phase operations of timed untraced
    // passes (a warm re-run is counted by warm_wall_s, and mixing the two
    // puts the median in the gap between them). A run times 16-18 of them,
    // too few for a p90 with ten samples beyond it, so no tail is reported.
    val timed = samples.filter(s => !s.traced && s.pass > 0 && s.phase == "cold")
      .map(_.seconds).toSeq
    val attempted = samples.size
    val failed = samples.count(_.failure.nonEmpty)
    val e2e = Seq(
      "setup_s" -> (setupS + (settledAt - settleStart) / 1000, "s"),
      "wall_s" -> (median(untraced.map(_.cold).toSeq), "s"),
      "warm_wall_s" -> (median(untraced.map(_.warm).toSeq), "s"),
      "op_p50_s" -> (quantile(timed, 0.5), "s"),
      "stored_mb" -> (median(passes.map(_.stored.toDouble).toSeq) / 1e6, "MB"),
      "retained_heap_mb" -> (heapMb, "MB"))

    val conf = spark.conf.getAll.toSeq.sorted
      .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val env =
      s"""{"workload":${jstr(a.workload)},"seed":${a.seed},"seconds":${jnum(a.seconds)},""" +
        s""""trace":${a.trace},"nproc":$cpus,"master":${jstr(spark.sparkContext.master)},""" +
        s""""heap_max_mb":${jnum(Runtime.getRuntime.maxMemory / 1e6)},""" +
        s""""loadavg_before":${jstr(loadBefore)},"loadavg_after":${jstr(loadAfter)},""" +
        s""""setup_reps_s":[${setups.map(r => jnum(r._1)).mkString(",")}],""" +
        s""""session_s":${jnum((sessionReady - jvmStart) / 1000)},""" +
        s""""settle_s":${jnum((settledAt - settleStart) / 1000)},""" +
        s""""passes":${passes.size},"ops":$attempted,"timed_ops":${timed.size},""" +
        s""""fail_ratio":${jnum(failed.toDouble / math.max(1, attempted))},""" +
        s""""spark_conf":$conf}"""
    val out = Paths.get(a.out)
    Files.createDirectories(out)
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    Files.writeString(out.resolve(s"$tag.env.json"), env + "\n")
    val opsJson = samples.map { s =>
      s"""{"pass":${s.pass},"phase":${jstr(s.phase)},"op":${jstr(s.op)},"kind":${jstr(s.kind)},""" +
        s""""seconds":${jnum(s.seconds)},"traced":${s.traced},"failure":""" +
        s.failure.map(jstr).getOrElse("null") + "}"
    }
    Files.write(out.resolve(s"$tag.ops.jsonl"), opsJson.asJava)

    val metrics = recorder match {
      case Some(rec) =>
        val layers = Layers(spark, rec, samples.toSeq, passes.toSeq, importS, ctx)
        Files.write(out.resolve(s"$tag.spans.jsonl"), layers.spans.asJava)
        Files.writeString(out.resolve(s"$tag.layers.json"), layers.table + "\n")
        println(layers.report)
        layers.metrics
      case None => e2e
    }
    println(s"[perfbench] workload=${a.workload} seed=${a.seed} passes=${passes.size} " +
      s"ops=$attempted failed=$failed timed_ops=${timed.size} " +
      s"fail_ratio=${jnum(failed.toDouble / math.max(1, attempted))} nproc=$cpus " +
      s"heap_max_mb=${jnum(Runtime.getRuntime.maxMemory / 1e6)} " +
      s"loadavg_before=[$loadBefore] loadavg_after=[$loadAfter]")
    e2e.foreach { case (k, (v, u)) => println(s"[perfbench] $k = ${jnum(v)} $u") }
    val m = metrics.map { case (k, (v, u)) =>
      s"${jstr(k)}:{${jstr("value")}:${jnum(v)},${jstr("unit")}:${jstr(u)}}" }
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${m.mkString(",")}}}""")
  }
}

/** Harness-side split of one query operation: construction (including the
  * artifacts the program builds while constructing), Catalyst planning,
  * and execution with the result's transfer to the driver. */
object QueryTimer {
  @volatile var construct, plan, exec = 0.0
  def reset(): Unit = { construct = 0; plan = 0; exec = 0 }
  def time[T](set: Double => Unit)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally set((System.nanoTime() - t0) / 1e9)
  }
}
