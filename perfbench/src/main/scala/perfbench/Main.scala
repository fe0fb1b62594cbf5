package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation. `pre` runs before the clock starts (e.g. a file
  * landing); `run` does the work and returns the check of its answer,
  * which runs after the clock has stopped and yields `Some(reason)` for
  * a wrong answer. */
final case class Op(kind: String, name: String, run: () => Check, pre: () => Unit = () => ())

/** A closed-loop, single-client workload. A run generates its inputs
  * several times (each time from scratch, in a fresh directory), builds
  * the initial state and warms up once, then repeats whole rounds of
  * the same operations, as many as `--seconds` plans (see `roundSeconds`). */
trait Workload {
  /** Generate the inputs under `dir` from the seed, from scratch. */
  def setup(dir: Path): Unit

  /** Build the initial state from the last set-up's inputs, then run
    * untimed operations of every kind to fill the JIT and codegen
    * caches before timing starts. */
  def warmUp(): Unit

  /** Untimed preparation before round `r` (e.g. resetting stores). */
  def beforeRound(r: Int): Unit = ()

  /** The operations of round `r`, always the same kinds in the same
    * order. */
  def round(r: Int): Seq[Op]

  /** Nominal wall time of one round on a 4-core host. A run of
    * `--seconds` takes seconds / roundSeconds whole rounds (at least
    * one), so it times the same operations on a slow host as on a fast
    * one. */
  def roundSeconds: Double

  /** Bytes on disk of the state the writes leave behind. */
  def storeBytes: Long

  /** Every check of this workload fed a planted wrong answer:
    * (check, rejected it). A check that accepts its planted answer
    * cannot fail and makes the run incorrect. */
  def plantedChecks(): Seq[(String, Boolean)]

  /** Workload-specific per-layer metrics over the timed operations. */
  def layerMetrics(ops: Seq[OpRec], probe: Probe): Map[String, Double] = Map.empty
}

object Main {
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path, out: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("out")))
  }

  def workload(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "decree_dashboard" => new DecreeDashboard(spark, seed)
    case "corpus_curation" => new CorpusCuration(spark, seed)
    case "corpus_stream" => new CorpusStream(spark, seed)
    case other => sys.error(s"unknown workload $other")
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.register(s)
    s
  }

  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - Jvm.startMs) / 1e3}%7.2f] $msg")

  def main(argv: Array[String]): Unit = {
    log("main")
    val hostMain = Host.sample()
    val args = parse(argv)
    val cores = Jvm.cores
    Files.createDirectories(args.work)
    val spark = session(cores, args.work)
    val sessionS = (System.currentTimeMillis() - Jvm.startMs) / 1e3
    log("session ready")
    val probe = new Probe(spark)
    val wl = workload(args.workload, spark, args.seed)

    val setupS = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      wl.setup(args.work.resolve(s"setup$i"))
      val s = (System.nanoTime() - t0) / 1e9
      log(f"set-up $i took $s%.2f s")
      s
    }
    val w0 = System.nanoTime()
    wl.warmUp()
    val warmS = (System.nanoTime() - w0) / 1e9
    log(f"warm-up took $warmS%.2f s")
    val planted = wl.plantedChecks()
    log("planted checks done")
    planted.filterNot(_._2).foreach { case (c, _) =>
      System.err.println(s"[perfbench] check '$c' accepted a planted wrong answer")
    }

    Trace.enabled = args.trace
    probe.drain(); probe.clear()
    Codegen.mark()
    val host0 = Host.sample()
    val t0 = System.nanoTime()
    val ops = Vector.newBuilder[OpRec]
    var attempted = 0L
    var failed = 0L
    var wrong = 0L
    var rounds = 0
    var heapPeak = 0L
    var opId = 0L
    val plannedRounds = math.max(1, (args.seconds / wl.roundSeconds).toInt)
    while (rounds < plannedRounds) {
      wl.beforeRound(rounds)
      wl.round(rounds).foreach { op =>
        op.pre()
        opId += 1
        spark.sparkContext.setLocalProperty(probe.OpProperty, opId.toString)
        Trace.currentOp = opId
        val h0 = Host.sample()
        val cpu0 = Jvm.processCpuNs; val gc0 = Jvm.gcMs; val jit0 = Jvm.jitMs
        val ms0 = System.currentTimeMillis(); val ns0 = System.nanoTime()
        val (check, threw): (Check, Boolean) =
          try (op.run(), false)
          catch { case NonFatal(e) => (() => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"), true) }
        val ns1 = System.nanoTime(); val ms1 = System.currentTimeMillis()
        val cpu1 = Jvm.processCpuNs; val gc1 = Jvm.gcMs; val jit1 = Jvm.jitMs
        val h1 = Host.sample()
        val rec = OpRec(opId, op.kind, op.name, ms0, ms1, ns1 - ns0,
          cpu1 - cpu0, gc1 - gc0, jit1 - jit0, Host.busyStealShare(h0, h1))
        Trace.currentOp = -1L
        spark.sparkContext.setLocalProperty(probe.OpProperty, null)
        ops += rec
        attempted += 1
        probe.drain()
        val sp = probe.forOp(rec)
        log(f"round $rounds ${op.kind} ${op.name}: ${rec.wallNs / 1e6}%.1f ms, steal ${rec.stealShare}%.3f, cpu ${rec.cpuNs / 1e6}%.0f ms, " +
          f"jit ${rec.jitMs} ms, ${sp.jobs} jobs, ${sp.stages} stages, shuffle ${sp.shuffleWriteB} B")
        val verdict = try check() catch { case NonFatal(e) => Some(s"check threw $e") }
        verdict.foreach { why =>
          failed += 1
          if (!threw) wrong += 1
          System.err.println(s"[perfbench] ${op.kind} ${op.name} (op $opId) failed: ${why.take(400)}")
        }
      }
      rounds += 1
      heapPeak = math.max(heapPeak, Jvm.heapAfterGcBytes)
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    log("timed phase done")
    val host1 = Host.sample()
    probe.drain()
    val recs = ops.result()
    val storeB = wl.storeBytes

    val report = new Report(recs, rounds, probe)
    val setupRawS = sessionS + Stats.median(setupS) + warmS
    val setupSteal = Host.busyStealShare(hostMain, host0)
    val conditions = Seq(
      "workload" -> Json.str(args.workload),
      "seed" -> args.seed.toString,
      "cores" -> cores.toString,
      "heap_max_mb" -> Json.num(Jvm.maxHeapBytes / 1048576.0),
      "steal_share" -> Json.num(Host.stealShare(host0, host1)),
      "steal_share_busy" -> Json.num(Host.busyStealShare(host0, host1)),
      "setup_steal_share_busy" -> Json.num(setupSteal),
      "load_avg_start" -> Json.num(host0.load1),
      "load_avg_end" -> Json.num(host1.load1),
      "source_rev" -> Json.str(sys.props.getOrElse("perfbench.srcrev", "unknown")),
      "spark" -> Json.str(spark.version),
      "java" -> Json.str(sys.props.getOrElse("java.version", "?")),
      "trace" -> args.trace.toString,
      "rounds" -> rounds.toString,
      "timed_s" -> Json.num(timedS),
      "session_s" -> Json.num(sessionS),
      "setup_reps_s" -> setupS.map(Json.num).mkString("[", ", ", "]"),
      "warm_up_s" -> Json.num(warmS),
      "setup_s_raw" -> Json.num(setupRawS),
      "read_p50_ms_raw" -> Json.num(Stats.median(report.rawWalls("read"))),
      "write_p50_ms_raw" -> Json.num(Stats.median(report.rawWalls("write"))),
      "planted_checks" -> Json.obj(planted.map { case (c, ok) => c -> ok.toString }))
    println(Json.obj(Seq("conditions" -> Json.obj(conditions))))

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("setup_s", setupRawS * (1 - setupSteal), "s"),
        ("read_p50_ms", Stats.median(report.walls("read")), "ms"),
        ("write_p50_ms", Stats.median(report.walls("write")), "ms"),
        ("cpu_s", recs.map(_.cpuNs).sum / 1e9 / rounds, "s"),
        ("jobs", report.spark.map(_._2.jobs).sum.toDouble / rounds, "count"),
        ("shuffle_mb", report.spark.map(_._2.shuffleWriteB).sum / 1e6 / rounds, "MB"),
        ("heap_peak_mb", heapPeak / 1048576.0, "MB"),
        ("store_mb", storeB / 1e6, "MB"))
      else {
        val spans = Trace.msByOp
        val generic = report.layers(spans)
        val specific = wl.layerMetrics(recs, probe)
        val listed = Layers.all.map { case (name, unit) =>
          (name, specific.getOrElse(name, generic.getOrElse(name, 0.0)), unit)
        }
        // a workload's own spans and metrics beyond the listed layers
        val extra = (generic ++ specific).keySet -- Layers.all.map(_._1)
        listed ++ extra.toSeq.sorted.map(n => (n, specific.getOrElse(n, generic(n)),
          if (n.endsWith("_ms")) "ms" else "ratio"))
      }
    if (args.trace) {
      val f = args.out.resolve(s"spans-${args.workload}-seed${args.seed}.json")
      Trace.writeJson(f, t0)
      System.err.println(s"[perfbench] ${Trace.all.size} spans written to $f")
    }
    // An operation that threw counts only as failed; one that returned
    // a wrong answer also makes the run incorrect, as does a check that
    // accepted a planted wrong answer.
    val correct = planted.forall(_._2) && wrong == 0
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    System.out.flush()
    log("result printed")
    spark.stop()
    log("session stopped")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Host conditions from the kernel's own counters. */
object Host {
  final case class Sample(cpuTicks: Array[Long], load1: Double)

  def sample(): Sample = {
    val ticks =
      try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      catch { case NonFatal(_) => Array.empty[Long] }
    val load =
      try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
      catch { case NonFatal(_) => Double.NaN }
    Sample(ticks, load)
  }

  /** Share of busy CPU time (all but idle and iowait) over the interval
    * that the hypervisor stole. A vCPU accrues steal only while it has
    * work, so this is the share by which the busy threads were slowed:
    * a wall time times (1 - share) is the time the same work takes
    * without steal. */
  def busyStealShare(a: Sample, b: Sample): Double =
    if (a.cpuTicks.length < 8 || b.cpuTicks.length < 8) 0.0
    else {
      val d = b.cpuTicks.zip(a.cpuTicks).take(8).map { case (x, y) => x - y }
      val busy = d.sum - d(3) - d(4)
      if (busy <= 0) 0.0 else d(7).toDouble / busy
    }

  /** Share of all CPU time over the interval that the hypervisor
    * stole (field 8 of the aggregate cpu line). */
  def stealShare(a: Sample, b: Sample): Double =
    if (a.cpuTicks.length < 8 || b.cpuTicks.length < 8) Double.NaN
    else {
      val d = b.cpuTicks.zip(a.cpuTicks).take(8).map { case (x, y) => x - y }
      if (d.sum <= 0) 0.0 else d(7).toDouble / d.sum
    }
}
