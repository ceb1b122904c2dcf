package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Turns the traced run's spans and listener counters into the per-layer
  * metrics. Every value is per timed pass unless its name says otherwise. */
object Report {
  private val MB = 1024.0 * 1024.0

  def perLayer(c: Ctx, passWall: Seq[(Long, Long)], codegen: (Long, Double),
               fallbacks: Long): Map[String, Double] = {
    val t = c.tracer
    val np = passWall.size.toDouble
    // wall-clock offset between the span clock (nanoTime) and listener
    // times (epoch ms)
    val offNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val spans = t.spans.toSeq
    val byId = spans.map(s => s.id -> s).toMap
    def root(s: Span): Span = byId.get(s.parent).map(root).getOrElse(s)
    // the operation a job or stage ran under, from its job group
    def opOf(group: String): Option[String] =
      group.split("/").lastOption.filter(_.startsWith("s"))
        .flatMap(x => byId.get(x.drop(1).toInt)).map(s => root(s).name)
    def timed(group: String) = group.startsWith("p")

    val stages = t.stageRecs.filter(s => timed(s.group) && s.complete > 0)
    val stageIv = stages.map(s => (s.submit * 1000000L - offNs, s.complete * 1000000L - offNs))
    val stageMs = passWall.map(pw => Intervals.covered(pw, stageIv)).sum / 1e6
    val wallMs = passWall.map { case (a, b) => b - a }.sum / 1e6
    val stageOp = stages.map(s => s -> opOf(s.group))
    val jobs = t.collector.jobs.asScala.toSeq.filter(j => timed(j._2))
    def stagesOf(p: String => Boolean) = stageOp.collect { case (s, Some(op)) if p(op) => s }
    def jobsOf(name: String) = jobs.count(j => opOf(j._2).contains(name)) / np

    val opSpans = spans.filter(_.parent < 0)
    def ms(p: String => Boolean) =
      opSpans.filter(s => p(s.name)).map(s => s.end - s.start).sum / 1e6 / np
    // a public call's time, whether it is an operation or nested in one
    def named(n: String) = spans.filter(_.name == n).map(s => s.end - s.start).sum / 1e6 / np
    val exportNames = Set("sources.toParquet", "sources.toPartitionedParquet")
    val sourceRead = (n: String) => n.startsWith("sources.") && !exportNames(n)
    val readStages = stagesOf(sourceRead)
    val exportStages = stagesOf(exportNames)
    val returned = c.ops.filter(o => sourceRead(o.name)).map(_.returned).sum.toDouble
    val rowsRead = readStages.map(_.inRows).sum.toDouble

    val tasks = stages.map(_.tasks).sum.toDouble
    val busy = stages.map(_.runMs).sum.toDouble
    val peak = stages.map(s => s.peaks.sorted(Ordering[Long].reverse).take(c.cores).sum)
      .foldLeft(0L)(math.max) / MB

    val progress = t.streams.progress.asScala.toSeq.map(_.progress)
    def dur(keys: String*) = progress.map(p =>
      keys.map(k => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum).sum / np
    // state size of each stream run: its last progress
    val lastByRun = progress.groupBy(_.runId).values.map(_.maxBy(_.batchId))
    val stateRows = lastByRun.map(_.stateOperators.map(_.numRowsTotal).sum).sum / np
    val stateMb = lastByRun.map(_.stateOperators.map(_.memoryUsedBytes).sum).sum / MB / np

    val n = c.notes
    def note(k: String) = n.getOrElse(k, 0.0)
    val cand = note("dedup.candidate_pairs")
    Map(
      "spark.analyze_ms" -> t.phases("spark.analyze_ms") / np,
      "spark.optimize_ms" -> t.phases("spark.optimize_ms") / np,
      "spark.plan_ms" -> t.phases("spark.plan_ms") / np,
      "spark.codegen_ms" -> codegen._2 / np,
      "spark.codegen_classes" -> codegen._1 / np,
      "spark.driver_ms" -> (wallMs - stageMs) / np,
      "spark.in_stage_share" -> (if (wallMs > 0) stageMs / wallMs else 0.0),
      "spark.jobs" -> jobs.size / np,
      "spark.stages" -> stages.size / np,
      "spark.tasks" -> tasks / np,
      "spark.stage_ms" -> stageMs / np,
      "spark.task_busy_ms" -> busy / np,
      "spark.task_cpu_ms" -> stages.map(_.cpuNs).sum / 1e6 / np,
      "spark.gc_ms" -> stages.map(_.gcMs).sum / np,
      "spark.task_wait_ms" -> (if (tasks > 0) stages.map(_.waitMs).sum / tasks else 0.0),
      "spark.core_util" -> (if (stageMs > 0) busy / (c.cores * stageMs) else 0.0),
      "spark.shuffle_write_mb" -> stages.map(_.shuffleW).sum / MB / np,
      "spark.shuffle_read_mb" -> stages.map(_.shuffleR).sum / MB / np,
      "spark.spill_mb" -> stages.map(_.spill).sum / MB / np,
      "spark.peak_exec_mem_mb" -> peak,
      "sources.call_ms" -> ms(sourceRead),
      "sources.rows_read" -> rowsRead / np,
      "sources.bytes_read" -> readStages.map(_.inBytes).sum / np,
      "sources.read_per_returned" -> (if (returned > 0) rowsRead / returned else 0.0),
      "sources.export_ms" -> ms(exportNames),
      "sources.bytes_written" -> exportStages.map(_.outBytes).sum / np,
      "sources.files_written" -> note("sources.files_written") / np,
      "catalog.call_ms" -> ms(_.startsWith("catalog.")),
      "ops.build_ms" -> spans.filter(_.name == "call").map(s => s.end - s.start).sum / 1e6 / np,
      "ops.standardize_ms" -> named("ops.standardize"),
      "ops.dates_ms" -> named("ops.parseDateFlexible"),
      "ops.expand_ms" -> named("ops.expandDelimPos"),
      "ops.expand_fanout" -> note("ops.expand_fanout"),
      "functions.codegen_fallbacks" -> fallbacks.toDouble,
      "streaming.run_ms" -> ms(_.startsWith("streaming.")),
      "streaming.batches" -> progress.size / np,
      "streaming.plan_ms" -> dur("queryPlanning"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.commit_ms" -> dur("walCommit", "commitOffsets"),
      "streaming.offset_ms" -> dur("latestOffset", "getBatch"),
      "streaming.state_rows" -> stateRows,
      "streaming.state_mb" -> stateMb,
      "text.curation_ms" -> named("text.curationPipeline"),
      "text.keep_ratio" -> note("text.keep_ratio"),
      "text.tokenize_ms" -> named("text.tokenize"),
      "text.bm25_ms" -> named("text.bm25"),
      "dedup.minhash_ms" -> named("dedup.minhashPairs"),
      "dedup.candidate_pairs" -> cand,
      "dedup.confirmed_pairs" -> note("dedup.confirmed_pairs"),
      "dedup.pair_yield" -> (if (cand > 0) note("dedup.confirmed_pairs") / cand else 0.0),
      "dedup.components_ms" -> named("dedup.componentsStars"),
      "dedup.components_jobs" -> jobsOf("dedup.componentsStars"),
      "dedup.semantic_ms" -> named("dedup.semantic"),
      "sim.ann_ms" -> named("sim.ivfTopK"),
      "sim.ann_recall_at_10" -> note("sim.ann_recall_at_10"),
      "analytics.pagerank_ms" -> named("analytics.pageRank"),
      "analytics.pagerank_jobs" -> jobsOf("analytics.pageRank"))
  }

  /** All spans with their self time, and the stage intervals, as JSON. */
  def writeTrace(path: String, c: Ctx, passWall: Seq[(Long, Long)]): Unit = {
    val spans = c.tracer.spans.toSeq
    val self = Intervals.selfTimes(spans)
    val t0 = passWall.headOption.map(_._1).getOrElse(0L)
    Json.write(path, Map(
      "passes" -> passWall.map { case (a, b) => Seq((a - t0) / 1e6, (b - t0) / 1e6) },
      "spans" -> spans.map(s => Map("id" -> s.id, "op" -> s.op, "pass" -> s.pass,
        "name" -> s.name, "parent" -> s.parent, "start_ms" -> (s.start - t0) / 1e6,
        "ms" -> (s.end - s.start) / 1e6, "self_ms" -> self(s.id) / 1e6)),
      "stages" -> c.tracer.stageRecs.map(s => Map("stage" -> s.stageId, "group" -> s.group,
        "tasks" -> s.tasks, "ms" -> (s.complete - s.submit), "run_ms" -> s.runMs))))
  }

  def unifiedMemoryMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / MB

  /** Heap still in use after a full collection, in MB: what the program
    * holds live, free of whatever garbage the collector had not reached. */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
  }

  /** Committed heap, in MB. */
  def heapCommittedMb(): Double =
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / MB

  /** The JVM's peak resident set (VmHWM), in MB. */
  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

