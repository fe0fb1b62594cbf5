package perfbench

/** The per-layer metrics every traced run prints (BENCHMARK.json's
  * `per_layer`), with their units. A metric that does not apply to a
  * workload reads 0; a workload's own spans print after them. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "codegen.compile_ms" -> "ms",
    "spark.jobs_per_read" -> "count", "spark.jobs_per_write" -> "count",
    "spark.stages_per_write" -> "count", "spark.tasks_per_write" -> "count",
    "spark.sched_gap_ms_per_read" -> "ms", "spark.sched_gap_ms_per_write" -> "ms",
    "spark.task_cpu_ms_per_read" -> "ms", "spark.task_cpu_ms_per_write" -> "ms",
    "spark.task_wait_ms_per_write" -> "ms", "jvm.gc_ms" -> "ms", "jvm.jit_ms" -> "ms",
    "spark.shuffle_write_mb_per_write" -> "MB", "spark.shuffle_read_mb_per_read" -> "MB",
    "spark.input_mb_per_read" -> "MB",
    "ref.prep_ms" -> "ms", "ref.q1_ms" -> "ms", "ref.q2_ms" -> "ms",
    "ref.q3_ms" -> "ms", "ref.q4_ms" -> "ms",
    "io.csv_read_ms" -> "ms", "io.parquet_write_ms" -> "ms",
    "stream.text_commit_ms" -> "ms", "stream.dedup_commit_ms" -> "ms",
    "stream.vector_commit_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms", "stream.query_planning_ms" -> "ms",
    "serve.bm25_ms" -> "ms", "serve.jaccard_ms" -> "ms", "serve.embedding_ms" -> "ms",
    "store.files" -> "count")
}

/** Aggregates the timed operations and what Spark did for each. */
final class Report(ops: Seq[OpRec], rounds: Int, probe: Probe) {
  val spark: Seq[(OpRec, OpSpark)] = ops.map(o => o -> probe.forOp(o))

  /** Wall times in ms of the operations of one kind, less the share of
    * busy CPU time the hypervisor stole while each ran. */
  def walls(kind: String): Seq[Double] =
    ops.filter(_.kind == kind).map(o => o.wallNs / 1e6 * (1 - o.stealShare))

  def rawWalls(kind: String): Seq[Double] = ops.filter(_.kind == kind).map(_.wallNs / 1e6)

  private def of(kind: String) = spark.filter(_._1.kind == kind)

  private def med(kind: String)(f: ((OpRec, OpSpark)) => Double): Double =
    Stats.median(of(kind).map(f))

  /** Every generic per-layer metric: Spark and JVM figures per
    * operation (medians over the run's operations of one kind), JVM
    * time per round, and each span's median per operation of the kind
    * that calls it. */
  def layers(spans: Map[Long, Map[String, Double]]): Map[String, Double] = {
    val mb = 1e6
    val generic = Map(
      "catalyst.analysis_ms" -> med("read")(_._2.phases.getOrElse("analysis", 0L).toDouble),
      "catalyst.optimization_ms" -> med("read")(_._2.phases.getOrElse("optimization", 0L).toDouble),
      "catalyst.planning_ms" -> med("read")(_._2.phases.getOrElse("planning", 0L).toDouble),
      "codegen.compile_ms" -> Codegen.compileMs / rounds,
      "spark.jobs_per_read" -> med("read")(_._2.jobs.toDouble),
      "spark.jobs_per_write" -> med("write")(_._2.jobs.toDouble),
      "spark.stages_per_write" -> med("write")(_._2.stages.toDouble),
      "spark.tasks_per_write" -> med("write")(_._2.tasks.toDouble),
      "spark.sched_gap_ms_per_read" -> med("read")(p => p._1.wallNs / 1e6 - p._2.jobUnionMs),
      "spark.sched_gap_ms_per_write" -> med("write")(p => p._1.wallNs / 1e6 - p._2.jobUnionMs),
      "spark.task_cpu_ms_per_read" -> med("read")(_._2.taskCpuMs),
      "spark.task_cpu_ms_per_write" -> med("write")(_._2.taskCpuMs),
      "spark.task_wait_ms_per_write" -> med("write")(p => p._2.taskRunMs - p._2.taskCpuMs),
      "jvm.gc_ms" -> ops.map(_.gcMs).sum.toDouble / rounds,
      "jvm.jit_ms" -> ops.map(_.jitMs).sum.toDouble / rounds,
      "spark.shuffle_write_mb_per_write" -> med("write")(_._2.shuffleWriteB / mb),
      "spark.shuffle_read_mb_per_read" -> med("read")(_._2.shuffleReadB / mb),
      "spark.input_mb_per_read" -> med("read")(_._2.inputB / mb))
    val spanMedians = ops.groupBy(_.kind).toSeq.flatMap { case (_, os) =>
      val perOp = os.map(o => spans.getOrElse(o.id, Map.empty[String, Double]))
      perOp.flatMap(_.keys).distinct.map { n =>
        s"${n}_ms" -> Stats.median(perOp.filter(_.contains(n)).map(_(n)))
      }
    }
    generic ++ spanMedians
  }
}

/** Janino compilations of generated code, read from Spark's codegen
  * metrics source. The source keeps a count and a sampled histogram of
  * compile times, so the total is the count times the sampled mean. */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  private def hist = CodegenMetrics.METRIC_COMPILATION_TIME
  private var count0 = 0L

  def mark(): Unit = count0 = hist.getCount

  def compileMs: Double = {
    val n = hist.getCount - count0
    if (n <= 0) 0.0 else n * hist.getSnapshot.getMean
  }
}
