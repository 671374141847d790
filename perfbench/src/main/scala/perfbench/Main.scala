package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Benchmark JVM. Runs one workload: set-up repetitions, the timed
  * region, output checks and, for traced runs, the per-layer metrics and
  * the kernel microbench. Prints a host-facts line and a result line;
  * `run.py` turns the result into the benchmark's output. */
object Main {
  val Workloads: Map[String, Workload] =
    Seq[Workload](DeChain, CurationBatch, GateSweep).map(w => w.name -> w).toMap
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads.getOrElse(opts("workload"),
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}"))
    val seed = opts("seed").toLong
    val trace = opts.get("trace").contains("1")
    val workDir = new File(opts("work")).getAbsolutePath
    Digests.expectedFile = opts.get("digests")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    def load: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val loadStart = load

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // gates write oracle side tables only for the correctness dump
    System.setProperty("graft.bench.skipOracleSide", "true")
    graft.plans.GraftExtensions.register(spark)

    val sparkUpS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    // the microbench runs only in curation_batch's traced run, the
    // workload whose throughput the kernels move, and reads 0 elsewhere.
    // It runs first: after an expired deadline the engine may be stuck,
    // so it cannot follow the workload.
    val kernelsT0 = Util.now()
    val kernels =
      if (trace && w == CurationBatch) Kernels.run(spark, seed)
      else if (trace) Kernels.names.map(_ -> 0.0).toMap
      else Map.empty[String, Double]
    val kernelsS = Util.secs(kernelsT0, Util.now())
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, seed, opts("seconds").toInt, tracer, workDir)
    val setupS = (1 to SetupReps).map { rep =>
      val t0 = Util.now()
      ctx.span("setup")(w.setup(ctx, rep))
      Util.secs(t0, Util.now())
    }
    val runT0 = Util.now()
    val outcome = w.run(ctx)
    val runS = Util.secs(runT0, Util.now())
    w.verify(ctx)

    // every op of every round, the cold first calls included
    val wallS = ctx.roundS.sum
    val metrics: Map[String, Double] = tracer match {
      case None => Map(
        "setup_s" -> Util.median(setupS),
        "wall_s" -> wallS,
        "throughput" -> outcome.units / wallS,
        "op_p50_s" -> Util.quantile(w.latencies(ctx), 0.5),
        "op_p90_s" -> Util.quantile(w.latencies(ctx), 0.9))
      case Some(t) => Layers.compute(ctx, t, outcome) ++ kernels
    }
    val host = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "master" -> s"local[$cores]",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "jdk" -> System.getProperty("java.version"),
      "source_sha" -> opts.getOrElse("source-sha", "unknown"),
      "git_sha" -> opts.getOrElse("git-sha", "unknown"),
      "load_start" -> loadStart,
      "load_end" -> load,
      // where the JVM's time went: start to a ready session, the
      // microbench, the set-up repetitions, then the timed region with its
      // output checks
      "spark_up_s" -> sparkUpS,
      "kernels_s" -> kernelsS,
      "setup_reps_s" -> setupS,
      "run_with_checks_s" -> runS,
      "round_s" -> ctx.roundS,
      "ops" -> ctx.ops.groupBy(_.kind).map { case (k, rs) =>
        k -> Map("n" -> rs.size, "failed" -> rs.count(!_.ok), "s" -> rs.map(_.seconds).sum,
          "errors" -> rs.flatMap(_.error).distinct)
      },
      "check_failures" -> ctx.checkFailures,
      "jvm_discarded" -> ctx.poisoned) ++ ctx.notes
    tracer.foreach(t => Layers.writeSpans(t, s"$workDir/spans.jsonl"))
    println("PERFBENCH_HOST " + Util.json(host))
    // `correct`: every output that was produced passed its check. Ops
    // that threw or passed their deadline produced none; they count in
    // `failed`, as do ops whose check failed.
    println("PERFBENCH_RESULT " + Util.json(Map(
      "correct" -> ctx.checkFailures.isEmpty,
      "attempted" -> ctx.ops.size,
      "failed" -> ctx.ops.count(!_.ok),
      "metrics" -> metrics)))
    System.out.flush()
    if (ctx.poisoned) Runtime.getRuntime.halt(0)
    tracer.foreach(_.close())
    spark.stop()
  }
}
