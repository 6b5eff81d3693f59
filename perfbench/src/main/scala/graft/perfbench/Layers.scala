package graft.perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import Main.{PassRec, Sample, jnum, jstr, median}

/** The per-layer view of a traced run: spans, the per-layer table with
  * self times, and the per-layer metrics (per traced pass). */
final case class Layers(metrics: Seq[(String, (Double, String))], spans: Seq[String],
    table: String, report: String)

object Layers {
  private type Iv = (Double, Double)

  /** Length of the union of intervals. */
  def covered(ivs: Iterable[Iv]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    ivs.toSeq.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  private def clip(iv: Iv, w: Iv): Iv = (math.max(iv._1, w._1), math.min(iv._2, w._2))

  val etlKinds = Set("batch", "refetch", "reenrich", "idle")
  val queryKinds = Set("query", "verb")

  /** Native expressions the corpus queries call, over the documents text. */
  def natives: Seq[(String, Column => Column)] = {
    def toks(text: Column) = split(text, " ")
    Seq(
      "md5_hash60" -> (t => graft.functions.Md5Hash60(t)),
      "simhash32" -> (t => graft.functions.Simhash32(toks(t))),
      "simhash60" -> (t => graft.functions.Simhash60(toks(t))),
      "shingle_set60" -> (t => size(graft.functions.ShingleSet60(toks(t), 5))),
      "minhash_sig_set" -> (t => graft.functions.MinhashSigSet(toks(t), 3, 1)),
      "gram_tf" -> (t => size(graft.functions.GramTf(toks(t)))),
      "term_stats" -> (t => graft.functions.TermStats(toks(t))),
      "shingle_dup_stats" -> (t => graft.functions.ShingleDupStats(toks(t), 5)))
  }

  /** Rows per second of each native over `copies` copies of the documents
    * table, cached first so only the projection is timed (median of 3). */
  def nativeRates(spark: SparkSession, data: String, copies: Int = 40): Seq[(String, Double)] = {
    val docs = spark.read.parquet(s"$data/documents.parquet")
      .select(col("text"))
      .withColumn("copy", explode(sequence(lit(1), lit(copies))))
      .select(concat(col("text"), lit(" "), col("copy").cast("string")).as("text"))
      .repartition(spark.sparkContext.defaultParallelism)
      .cache()
    val n = docs.count().toDouble
    try natives.map { case (name, f) =>
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        docs.select(f(col("text"))).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      name -> n / median(times)
    } finally docs.unpersist()
  }

  def apply(spark: SparkSession, rec: Recorder, samples: Seq[Sample],
      passes: Seq[PassRec], importS: Double, ctx: Ctx): Layers = {
    rec.drain()
    val tracedPasses = passes.filter(_.traced)
    val nPass = math.max(1, tracedPasses.size).toDouble
    val ops = samples.filter(_.traced)
    val execs = rec.executions.values.asScala.toSeq.filter(_.end >= 0)
    val execById = execs.map(e => e.id -> e).toMap
    val jobs = rec.jobs.values.asScala.toSeq.filter(_.end >= 0)
    def rootOf(execId: Long): Option[Trace.Execution] =
      execById.get(execId).flatMap(e => execById.get(e.root).orElse(Some(e)))
    def jobModule(j: Trace.Job): String =
      rootOf(j.execution).map(e => Trace.module(e.description)).getOrElse("other")
    def opAt(t: Double): Option[Sample] = ops.find(s => t >= s.start && t <= s.end)
    def ivJ(j: Trace.Job): Iv = (j.start.toDouble, j.end.toDouble)
    def ivE(e: Trace.Execution): Iv = (e.start.toDouble, e.end.toDouble)

    // jobs and root executions that ran inside a traced operation
    val opJobs = jobs.flatMap(j => opAt(j.start.toDouble).map(_ -> j))
    val rootExecs = execs.filter(e => e.root == e.id)
      .flatMap(e => opAt(e.start.toDouble).map(_ -> e))
    val stageModule: Map[Int, String] =
      opJobs.flatMap { case (_, j) => j.stages.map(_ -> jobModule(j)) }.toMap
    val passWindows = tracedPasses.map(p => (p.start, p.end))
    val tasks = rec.tasks.asScala.toSeq.filter(t => stageModule.contains(t.stage))

    def opsOf(kinds: Set[String]) = ops.filter(s => kinds(s.kind))
    def opSeconds(kinds: Set[String]) = opsOf(kinds).map(_.seconds).sum
    def jobsIn(kinds: Set[String]) = opJobs.filter { case (s, _) => kinds(s.kind) }
    def inJob(kinds: Set[String]) = opsOf(kinds).map { s =>
      covered(jobsIn(kinds).collect { case (o, j) if o eq s => clip(ivJ(j), (s.start, s.end)) })
    }.sum / 1000
    def gap(kinds: Set[String]) = opSeconds(kinds) - inJob(kinds)
    def execSeconds(module: String, kinds: Set[String]) = covered(rootExecs.collect {
      case (s, e) if kinds(s.kind) && Trace.module(e.description) == module =>
        clip(ivE(e), (s.start, s.end))
    }) / 1000
    def jobCount(module: String) = opJobs.count { case (_, j) => jobModule(j) == module }
    def mb(module: String, f: Trace.Task => Long) =
      tasks.filter(t => stageModule(t.stage) == module).map(f).sum / 1e6
    val allKinds = ops.map(_.kind).toSet
    val phases = rec.phases.asScala.toSeq
      .filter(p => passWindows.exists(w => p.start >= w._1 && p.start <= w._2))
    val counters = tracedPasses.flatMap(_.counters).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).sum }
    val decisions = ops.flatMap(_.decisions.values).groupBy(identity)
      .map { case (k, v) => k -> v.size.toDouble }
    val inJobAll = covered(opJobs.map(_._2).map(ivJ)) / 1000
    val attributed = covered(opJobs.map(_._2).filter(j => jobModule(j) != "other").map(ivJ)) / 1000
    val untracedWall = median(passes.filter(p => !p.traced && p.index > 0).map(p => p.cold + p.warm))
    val tracedWall = median(tracedPasses.map(p => p.cold + p.warm))
    val rates = nativeRates(spark, ctx.data)

    val perPass: Seq[(String, Double, String)] = Seq(
      ("queries.construct_s", opsOf(queryKinds).map(_.construct).sum, "s"),
      ("queries.plan_s", opsOf(queryKinds).map(_.plan).sum, "s"),
      ("queries.exec_s", opsOf(queryKinds).map(_.exec).sum, "s"),
      ("queries.jobs", jobsIn(queryKinds).size.toDouble, "count"),
      ("queries.injob_s", inJob(queryKinds), "s"),
      ("queries.gap_s", gap(queryKinds), "s"),
      ("plans.analysis_s", phases.map(_.analysisMs).sum / 1000.0, "s"),
      ("plans.optimization_s", phases.map(_.optimizationMs).sum / 1000.0, "s"),
      ("plans.planning_s", phases.map(_.planningMs).sum / 1000.0, "s"),
      ("artifact.hits", ops.map(_.reused).sum.toDouble, "count"),
      ("artifact.misses", ops.map(_.built.size).sum.toDouble, "count"),
      ("regime.collected", decisions.getOrElse("collected", 0.0), "count"),
      ("regime.distributed", decisions.getOrElse("distributed", 0.0), "count"),
      ("sources.fetch_s", execSeconds("sources", allKinds), "s"),
      ("sources.jobs", jobCount("sources").toDouble, "count"),
      ("sources.shuffle_mb", mb("sources", _.shuffleWriteBytes), "MB"),
      ("etl.batch_s", opSeconds(Set("batch", "refetch")), "s"),
      ("etl.harvest_s", execSeconds("etl", Set("batch", "refetch")), "s"),
      ("etl.reenrich_s", opSeconds(Set("reenrich", "idle")), "s"),
      ("etl.gap_s", gap(etlKinds), "s"),
      ("etl.jobs", jobsIn(etlKinds).size.toDouble, "count"),
      ("logtable.upsert_s", execSeconds("logtable", etlKinds), "s"),
      ("logtable.verb_s", opSeconds(Set("verb")), "s"),
      ("logtable.written_mb", mb("logtable", _.outputBytes), "MB"),
      ("logtable.commits", counters.getOrElse("logtable.commits", 0.0), "count"),
      ("logtable.fold_calls", tracedPasses.map(_.folds).sum.toDouble, "count"),
      ("logtable.fold_s", tracedPasses.map(_.foldNanos).sum / 1e9, "s"),
      ("exec.tasks", tasks.size.toDouble, "count"),
      ("exec.task_cpu_s", tasks.map(_.cpuNs).sum / 1e9, "s"),
      ("exec.input_mb", tasks.map(_.inputBytes).sum / 1e6, "MB"),
      ("exec.shuffle_read_mb", tasks.map(_.shuffleReadBytes).sum / 1e6, "MB"),
      ("exec.shuffle_write_mb", tasks.map(_.shuffleWriteBytes).sum / 1e6, "MB"),
      ("exec.spill_mb", tasks.map(_.spillBytes).sum / 1e6, "MB"),
      ("exec.gc_s", tasks.map(_.gcMs).sum / 1000.0, "s"))
    val metrics: Seq[(String, (Double, String))] =
      perPass.map { case (k, v, u) => k -> (v / nPass, u) } ++
        Seq(
          "artifact.rejected" -> (graft.io.ArtifactCache.rejected.get().toDouble, "count"),
          "tables.import_s" -> (importS, "s"),
          "trace.overhead_s" -> (tracedWall - untracedWall, "s"),
          "trace.attributed_share" -> (if (inJobAll > 0) attributed / inJobAll else 1.0, "ratio")) ++
        rates.map { case (k, v) => s"functions.$k.rows_per_s" -> (v, "rows/s") }

    // spans: pass → operation → root SQL execution → job
    val spans = Seq.newBuilder[String]
    def span(id: String, name: String, kind: String, s: Double, e: Double,
        parent: String, op: String): Unit =
      spans += s"""{"id":${jstr(id)},"name":${jstr(name)},"kind":${jstr(kind)},""" +
        s""""start":${jnum(s)},"end":${jnum(e)},"parent":${jstr(parent)},"op":${jstr(op)}}"""
    tracedPasses.foreach(p => span(s"p${p.index}", s"pass ${p.index}", "pass", p.start, p.end, "", ""))
    val opId = ops.zipWithIndex.map { case (s, i) => (s.pass, s.start) -> s"o$i" }.toMap
    ops.foreach { s =>
      span(opId((s.pass, s.start)), s.op, s"op:${s.kind}", s.start, s.end, s"p${s.pass}",
        opId((s.pass, s.start)))
    }
    rootExecs.foreach { case (s, e) =>
      val o = opId((s.pass, s.start))
      span(s"e${e.id}", e.description, s"sql:${Trace.module(e.description)}",
        e.start.toDouble, e.end.toDouble, o, o)
    }
    opJobs.foreach { case (s, j) =>
      val o = opId((s.pass, s.start))
      val parent = rootOf(j.execution).map(e => s"e${e.id}").getOrElse(o)
      span(s"j${j.id}", s"job ${j.id}", s"job:${jobModule(j)}", j.start.toDouble,
        j.end.toDouble, parent, o)
    }

    // per-layer table: operations by kind and executions by module, each
    // with its total, the part its children cover and its self time
    val byKind = ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, ss) =>
      val total = ss.map(_.seconds).sum
      val child = ss.map { s =>
        covered(opJobs.collect { case (o, j) if o eq s => clip(ivJ(j), (s.start, s.end)) })
      }.sum / 1000
      (s"op:$k", ss.size, total / nPass, child / nPass, (total - child) / nPass)
    }
    val byModule = rootExecs.groupBy(x => Trace.module(x._2.description)).toSeq.sortBy(_._1)
      .map { case (m, xs) =>
        val total = xs.map { case (_, e) => (e.end - e.start) / 1000.0 }.sum
        val child = xs.map { case (_, e) =>
          covered(jobs.filter(j => rootOf(j.execution).exists(_.id == e.id)).map(ivJ)
            .map(clip(_, ivE(e))))
        }.sum / 1000
        (s"sql:$m", xs.size, total / nPass, child / nPass, (total - child) / nPass)
      }
    val rows = byKind ++ byModule
    val table = rows.map { case (layer, n, total, child, self) =>
      s"""{"layer":${jstr(layer)},"count":$n,"total_s":${jnum(total)},""" +
        s""""children_s":${jnum(child)},"self_s":${jnum(self)}}"""
    }.mkString(s"""{"traced_passes":${tracedPasses.size},"tracing_overhead_s":""" +
      s"""${jnum(tracedWall - untracedWall)},"untraced_pass_s":${jnum(untracedWall)},""" +
      s""""traced_pass_s":${jnum(tracedWall)},"in_job_s":${jnum(inJobAll / nPass)},""" +
      s""""attributed_in_job_s":${jnum(attributed / nPass)},"rows":[""", ",", "]}")
    val report = (f"[perfbench] ${"layer"}%-16s ${"count"}%6s ${"total_s"}%9s ${"children_s"}%10s ${"self_s"}%9s" +:
      rows.map { case (layer, n, total, child, self) =>
        f"[perfbench] $layer%-16s $n%6d $total%9.3f $child%10.3f $self%9.3f"
      }) :+ f"[perfbench] tracing overhead ${tracedWall - untracedWall}%.3f s per pass " +
      f"(traced $tracedWall%.3f s, untraced $untracedWall%.3f s); module-attributed " +
      f"in-job time ${attributed / nPass}%.3f of ${inJobAll / nPass}%.3f s per pass"
    Layers(metrics, spans.result(), table, report.mkString("\n"))
  }
}
