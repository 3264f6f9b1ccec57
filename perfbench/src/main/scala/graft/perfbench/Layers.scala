package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The traced run: every round runs once untraced and once traced, with
  * the Spark and planning listeners recording (see [[Schedule]]). Both
  * phases run the same operations on like state. Per-layer numbers come
  * from the traced phase; the two phases' end-to-end figures give the
  * tracing overhead. */
object Layers {
  /** Every per-layer metric with its unit; a layer the workload does not
    * touch reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "engine.handshake_ms" -> "ms", "engine.prepare_ms" -> "ms",
    "engine.execute_p50_ms" -> "ms", "engine.execute_p90_ms" -> "ms",
    "engine.fetch_ms" -> "ms", "engine.refetch_ms" -> "ms", "engine.close_ms" -> "ms",
    "engine.result_rows" -> "count", "engine.result_bytes" -> "bytes", "engine.frames" -> "count",
    "graftaccess.encode_ms" -> "ms", "graftaccess.ipc_bytes_per_row" -> "bytes",
    "spark.plan_parse_ms" -> "ms", "spark.plan_analyze_ms" -> "ms",
    "spark.plan_optimize_ms" -> "ms", "spark.plan_physical_ms" -> "ms",
    "spark.codegen_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.sched_wait_s" -> "s", "spark.stage_wall_s" -> "s",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_write_ms" -> "ms", "spark.spill_bytes" -> "bytes", "spark.gc_ms" -> "ms",
    "spark.failed_tasks" -> "count", "spark.input_rows_per_row_returned" -> "ratio",
    "catalog.insert_ms" -> "ms", "catalog.update_ms" -> "ms", "catalog.delete_ms" -> "ms",
    "catalog.merge_ms" -> "ms", "catalog.compact_ms" -> "ms",
    "catalog.footer_opens_per_read" -> "count", "catalog.files_live" -> "count",
    "catalog.snapshots" -> "count", "catalog.write_amp" -> "ratio", "catalog.space_amp" -> "ratio",
    "operators.q_pipeline_e2e_s" -> "s", "operators.q_dedup_minhash_auto_s" -> "s",
    "operators.q_fingerprint_overlap_banded_s" -> "s", "operators.q_dedup_cc_star_s" -> "s",
    "operators.q_join_fuzzy_s" -> "s", "operators.q_quality_classifier_s" -> "s",
    "operators.q_dedup_cdc_s" -> "s", "operators.q_pca_gram_s" -> "s",
    "jvm.heap_peak_mb" -> "MB", "jvm.gc_ms" -> "ms",
    "selftime.client_ms" -> "ms", "selftime.engine_ms" -> "ms", "selftime.plan_ms" -> "ms",
    "selftime.job_ms" -> "ms", "selftime.stage_ms" -> "ms",
    "workload.first_batch_p50_ms" -> "ms", "workload.fetch_mb_s" -> "MB/s",
    "workload.write_p50_ms" -> "ms", "workload.write_p90_ms" -> "ms",
    "workload.failed_frac" -> "ratio", "operators.pass_s" -> "s",
    "traced.qps" -> "1/s", "traced.read_p50_ms" -> "ms", "traced.read_p90_ms" -> "ms",
    "untraced.qps" -> "1/s", "untraced.read_p50_ms" -> "ms", "untraced.read_p90_ms" -> "ms",
    "trace.overhead_read_p50_pct" -> "%", "setup.ready_s" -> "s")

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  /** Rounds of a traced run, each run untraced and traced: two, so the
    * alternating order runs untraced–traced, traced–untraced. */
  val TracedRounds = 2

  def tracedRun(b: Bench, wl: Workload, setupS: Double, readyS: Double): Result = {
    val sc = b.spark.sparkContext
    val listener = new SparkTraceListener
    sc.addSparkListener(listener)
    // events of a sub-round reach the listeners before tracing switches
    Tracer.beforeSwitch = () => org.apache.spark.perfbench.ListenerDrain(sc)
    Tracer.count("codegen_ns")(CodeGenerator.compileTime)
    Tracer.count("gc_ms")(gcMs)
    Tracer.count("footer_opens")(graft.catalog.ParquetStats.footerOpens.get())
    wl.reset(b)
    heapPools.foreach(_.resetPeakUsage())
    val untraced = new Phase
    val traced = new Phase
    try wl.run(b, b.args.seconds, TracedRounds, b.args.seed, Seq(untraced, traced))
    finally Tracer.set(false)
    val codegenMs = Tracer.counted("codegen_ns") / 1e6
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    val gcDelta = Tracer.counted("gc_ms")
    sc.removeSparkListener(listener)

    val spans = Tracer.snapshot
    val ops = traced.all
    val n = math.max(1, ops.length).toDouble
    val samples = ops.flatMap(_.sample)
    val jobs = listener.jobs.values.asScala.toSeq
    val stages = listener.stages.values.asScala.toSeq
    def sumS(f: StageRec => Long) = stages.map(f).sum.toDouble
    val plans = listener.execToQe.asScala.toMap
      .flatMap { case (exec, qe) => Option(PlanTraceListener.plans.get(qe)).map(exec -> _) }
    def phaseMs(p: String) = plans.values.toSeq
      .map(_.get(p).map { case (s, e) => (e - s).toDouble }.getOrElse(0.0)).sum / n
    val rowsOut = ops.map(_.rows).sum
    val readRows = ops.filter(_.sample.nonEmpty).map(_.rows).sum
    val figT = Report.workloadFigures(traced)
    val figU = Report.workloadFigures(untraced)
    val self = selfTimes(spans, jobs, stages, plans)
    writeSpans(b, "", spans, jobs, stages, plans)

    val m: Map[String, Double] = Map(
      "engine.handshake_ms" -> Stats.median(b.handshakeMs.toSeq),
      "engine.prepare_ms" -> Stats.median(samples.map(_.prepareMs)),
      "engine.execute_p50_ms" -> Stats.median(samples.map(_.executeMs)),
      "engine.execute_p90_ms" -> Stats.percentile(samples.map(_.executeMs), 0.9),
      "engine.fetch_ms" -> Stats.median(samples.map(_.fetchMs)),
      "engine.refetch_ms" -> Stats.median(samples.map(_.refetchMs)),
      "engine.close_ms" -> Stats.median(samples.map(_.closeMs)),
      "engine.result_rows" -> readRows / math.max(1.0, samples.length),
      "engine.result_bytes" -> samples.map(_.bytes).sum / math.max(1.0, samples.length),
      "engine.frames" -> samples.map(_.frames).sum / math.max(1.0, samples.length),
      "graftaccess.encode_ms" -> Stats.median(samples.map(s => s.fetchMs - s.refetchMs)),
      "graftaccess.ipc_bytes_per_row" -> samples.map(_.bytes).sum.toDouble / math.max(1L, readRows),
      "spark.plan_parse_ms" -> phaseMs("parsing"),
      "spark.plan_analyze_ms" -> phaseMs("analysis"),
      "spark.plan_optimize_ms" -> phaseMs("optimization"),
      "spark.plan_physical_ms" -> phaseMs("planning"),
      "spark.codegen_ms" -> codegenMs / n,
      "spark.jobs" -> jobs.length / n,
      "spark.stages" -> stages.length / n,
      "spark.tasks" -> sumS(_.tasks) / n,
      "spark.task_run_s" -> sumS(_.taskRunMs) / 1e3 / n,
      "spark.sched_wait_s" -> sumS(_.schedWaitMs) / 1e3 / n,
      "spark.stage_wall_s" -> stages.map(s => math.max(0L, s.completeMs - s.submitMs)).sum / 1e3 / n,
      "spark.shuffle_read_bytes" -> sumS(_.shuffleReadBytes) / n,
      "spark.shuffle_write_bytes" -> sumS(_.shuffleWriteBytes) / n,
      "spark.shuffle_write_ms" -> sumS(_.shuffleWriteNs) / 1e6 / n,
      "spark.spill_bytes" -> sumS(_.spillBytes) / n,
      "spark.gc_ms" -> sumS(_.gcMs) / n,
      "spark.failed_tasks" -> sumS(_.failedTasks),
      "spark.input_rows_per_row_returned" -> sumS(_.inputRecords) / math.max(1L, rowsOut),
      "jvm.heap_peak_mb" -> heapPeakMb,
      "jvm.gc_ms" -> gcDelta.toDouble,
      "workload.first_batch_p50_ms" -> figT("first_batch_p50_ms"),
      "workload.fetch_mb_s" -> figT("fetch_mb_s"),
      "workload.write_p50_ms" -> figT("write_p50_ms"),
      "workload.write_p90_ms" -> figT("write_p90_ms"),
      "workload.failed_frac" -> figT("failed_frac"),
      "traced.qps" -> figT("qps"), "traced.read_p50_ms" -> figT("read_p50_ms"),
      "traced.read_p90_ms" -> figT("read_p90_ms"),
      "untraced.qps" -> figU("qps"), "untraced.read_p50_ms" -> figU("read_p50_ms"),
      "untraced.read_p90_ms" -> figU("read_p90_ms"),
      "trace.overhead_read_p50_pct" ->
        (figT("read_p50_ms") - figU("read_p50_ms")) / figU("read_p50_ms") * 100,
      "setup.ready_s" -> readyS) ++ self ++ wl.layers(b, traced)

    // the operators layer, traced on its own so its jobs stay out of the
    // workload's per-operation Spark figures
    Tracer.spans.clear()
    val opsListener = new SparkTraceListener
    sc.addSparkListener(opsListener)
    val opsPhase = new Phase
    val opsLayers = new Operators(b).measure(b.args.seed, opsPhase)
    org.apache.spark.perfbench.ListenerDrain(sc)
    sc.removeSparkListener(opsListener)
    writeSpans(b, "-operators", Tracer.snapshot, opsListener.jobs.values.asScala.toSeq,
      opsListener.stages.values.asScala.toSeq, Map.empty)

    val all = new Phase
    Seq(untraced, traced, opsPhase).foreach { p =>
      p.all.foreach(all.ops.add); p.problems.asScala.foreach(all.problems.add)
    }
    val metrics = m ++ opsLayers
    Report.result(all, PerLayer.map { case (k, u) => (k, metrics.getOrElse(k, 0.0), u) },
      Map("untraced" -> figU, "traced" -> figT, "setup_s" -> setupS,
        "plans_traced" -> plans.size, "jobs_traced" -> jobs.length))
  }

  /** Per-operation self time of each layer, averaged over the traced
    * operations. An operation is a client statement span (children: its
    * verb spans), a DML span or an operator-call span. Spark jobs attach
    * to the operation whose key their job group carries, or, for jobs
    * without a group, to the operation running when they started; stages
    * and planning phases attach through their job. */
  private def selfTimes(spans: Seq[Span], jobs: Seq[JobRec], stages: Seq[StageRec],
      plans: Map[Long, Map[String, (Long, Long)]]): Map[String, Double] = {
    val roots = spans.filter(_.parent == 0L)
    val byParent = spans.groupBy(_.parent)
    val stagesByJob = stages.groupBy(_.jobId)
    def ms(us: Long) = us / 1000.0
    val per = roots.map { op =>
      val mine = jobs.filter { j =>
        if (j.group.nonEmpty) j.group == op.key || j.group.startsWith(s"graft-stmt-${op.key}-")
        else j.startMs * 1000 >= op.startUs && j.startMs * 1000 < op.endUs
      }
      val jobIv = mine.map(j => (j.startMs * 1000, math.max(j.startMs, j.endMs) * 1000))
      val planIv = mine.map(_.executionId).distinct.flatMap(plans.get).flatMap(_.values)
        .map { case (s, e) => (s * 1000, e * 1000) }
      val stageIv = mine.flatMap(j => stagesByJob.getOrElse(j.jobId, Nil))
        .map(s => (s.submitMs * 1000, math.max(s.submitMs, s.completeMs) * 1000))
      val verbs = byParent.getOrElse(op.id, Nil)
      val inner = jobIv ++ planIv
      val (client, engine) =
        if (verbs.isEmpty) (0L, op.durUs - Tracer.covered(op.startUs, op.endUs, inner))
        else (op.durUs - Tracer.covered(op.startUs, op.endUs, verbs.map(v => (v.startUs, v.endUs))),
          verbs.map(v => v.durUs - Tracer.covered(v.startUs, v.endUs, inner)).sum)
      val job = mine.zip(jobIv).map { case (j, (s, e)) =>
        (e - s) - Tracer.covered(s, e, stagesByJob.getOrElse(j.jobId, Nil)
          .map(st => (st.submitMs * 1000, math.max(st.submitMs, st.completeMs) * 1000)))
      }.sum
      Seq(ms(client), ms(engine), ms(Tracer.covered(Long.MinValue, Long.MaxValue, planIv)),
        ms(job), ms(Tracer.covered(Long.MinValue, Long.MaxValue, stageIv)))
    }
    val k = math.max(1, per.length).toDouble
    Seq("client", "engine", "plan", "job", "stage").zipWithIndex.map { case (name, i) =>
      s"selftime.${name}_ms" -> per.map(_(i)).sum / k
    }.toMap
  }

  /** Writes every span, with Spark jobs, stages and planning phases as
    * child spans, to `traces/<workload>-<seed><suffix>.jsonl` under the
    * run root. */
  private def writeSpans(b: Bench, suffix: String, spans: Seq[Span], jobs: Seq[JobRec],
      stages: Seq[StageRec], plans: Map[Long, Map[String, (Long, Long)]]): Unit = {
    val dir = b.args.root.resolve("traces")
    Files.createDirectories(dir)
    val out = new java.io.PrintWriter(
      dir.resolve(s"${b.args.workload}-${b.args.seed}$suffix.jsonl").toFile, "UTF-8")
    def line(kind: String, id: String, parent: String, name: String, s: Long, e: Long): Unit =
      out.println(s"""{"kind": "$kind", "id": "$id", "parent": "$parent", "name": "$name", """ +
        s""""start_us": $s, "end_us": $e}""")
    try {
      spans.foreach(s => line("client", s.id.toString, s.parent.toString, s.name + ":" + s.key,
        s.startUs, s.endUs))
      jobs.foreach { j =>
        line("job", s"job${j.jobId}", j.group, s"exec${j.executionId}",
          j.startMs * 1000, j.endMs * 1000)
        plans.get(j.executionId).foreach(_.foreach { case (p, (s, e)) =>
          line("plan", s"exec${j.executionId}.$p", s"job${j.jobId}", p, s * 1000, e * 1000)
        })
      }
      stages.foreach(s => line("stage", s"stage${s.stageId}", s"job${s.jobId}",
        s"tasks=${s.tasks}", s.submitMs * 1000, s.completeMs * 1000))
    } finally out.close()
  }
}
