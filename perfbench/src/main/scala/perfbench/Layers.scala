package perfbench

import java.io.{File, PrintWriter}

/** Per-layer metrics of a traced run, derived from its spans. Every
  * workload reports the full set; a layer the workload does not call
  * reads 0. Unless noted, a value is per round of the timed region
  * (de_chain: one chain; curation_batch: one batch plus one arriving
  * batch; gate_sweep: one sweep of the gate list). */
object Layers {
  val StatsFits = Seq("edger", "deseq2", "noiseq")
  val CurationOps = Seq("exact_dedup", "minhash_dedup", "span_scrub", "decontaminate")
  val SparkCounters = Seq("jobs", "stages", "tasks", "task_s", "driver_gap_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "broadcast_mb", "gc_s")

  def compute(ctx: Ctx, t: Tracer, o: Outcome): Map[String, Double] = {
    val r = math.max(1, o.rounds).toDouble
    val spans = t.spans.toSeq
    def named(n: String) = spans.filter(_.name == n)
    def sum(ss: Seq[Span], k: String) = ss.map(_.counters.getOrElse(k, 0.0)).sum
    def wall(ss: Seq[Span]) = ss.map(_.wallS).sum
    def meanWall(ss: Seq[Span]) = if (ss.isEmpty) 0.0 else wall(ss) / ss.size
    val rounds = named("round")
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    StatsFits.foreach { f =>
      val ss = named(s"stats.$f")
      m(s"stats.$f.call_s") = wall(ss) / r
      m(s"stats.$f.jobs") = sum(ss, "jobs") / r
      m(s"stats.$f.driver_gap_s") = ss.map(_.gapS).sum / r
      m(s"stats.$f.task_s") = sum(ss, "task_s") / r
    }
    m("functions.tmm.call_s") = wall(named("functions.tmm")) / r

    m("plans.analysis_s") = sum(rounds, "analysis_s") / r
    m("plans.optimization_s") = sum(rounds, "optimization_s") / r
    m("plans.physical_s") = sum(rounds, "physical_s") / r
    m("plans.codegen_compile_s") = sum(rounds, "codegen_compile_s") / r
    m("plans.codegen_compiles") = sum(rounds, "codegen_compiles") / r

    CurationOps.foreach { op =>
      val ss = named(s"operators.$op")
      m(s"operators.$op.call_s") = wall(ss) / r
      m(s"operators.$op.rows_in") = ctx.acc(s"operators.$op.rows_in") / r
      m(s"operators.$op.rows_out") = ctx.acc(s"operators.$op.rows_out") / r
      m(s"operators.$op.shuffle_mb") = sum(ss, "shuffle_write_mb") / r
    }
    Seq("build", "probe", "append", "remove").foreach { k =>
      m(s"operators.lsh_index.${k}_s") = meanWall(named(s"operators.lsh_index.$k"))
    }
    m("operators.lsh_index.verified_pairs") = ctx.acc("operators.lsh_index.verified_pairs") / r

    m("core.cache.retained_max") = ctx.acc("core.cache.retained_max")
    m("core.cache.cached_mb_peak") = ctx.acc("core.cache.cached_mb_peak")
    m("core.cache.scans") = sum(rounds, "scans") / r
    m("core.cache.evictions") = sum(rounds, "unpersists") / r

    val exports = named("sources.export")
    val written = ctx.acc("sources.export.bytes_written")
    m("sources.export.call_s") = wall(exports) / r
    m("sources.export.bytes_written") = written / r
    m("sources.export.bytes_per_input_byte") =
      if (written == 0) 0.0 else written / ctx.acc("sources.export.bytes_in")
    m("sources.export.files") = ctx.acc("sources.export.files") / r

    val p = t.progress.toSeq
    def meanP(k: String) = if (p.isEmpty) 0.0 else p.map(_.getOrElse(k, 0.0)).sum / p.size
    m("streaming.trigger_s") = meanP("triggerExecution")
    m("streaming.add_batch_s") = meanP("addBatch")
    m("streaming.query_planning_s") = meanP("queryPlanning")
    m("streaming.wal_commit_s") = meanP("walCommit")
    m("streaming.rows_per_batch") = meanP("rows")

    val gates = spans.filter(_.name.startsWith("gate."))
    val calls = math.max(1, gates.size).toDouble
    m("SparkEntry.construct_s") = wall(named("SparkEntry.construct")) / calls
    m("SparkEntry.action_s") = wall(named("SparkEntry.action")) / calls
    m("SparkEntry.sql_executions") = sum(gates, "sql_executions") / calls
    m("SparkEntry.jobs") = sum(gates, "jobs") / calls
    m("SparkEntry.stages") = sum(gates, "stages") / calls

    SparkCounters.foreach { k =>
      m(s"spark.$k") =
        if (k == "driver_gap_s") rounds.map(_.gapS).sum / r else sum(rounds, k) / r
    }
    m.toMap
  }

  /** All spans, one JSON object a line, with their self time. */
  def writeSpans(t: Tracer, path: String): Unit = {
    val out = new PrintWriter(new File(path), "UTF-8")
    try t.spans.indices.foreach { i =>
      val s = t.spans(i)
      out.println(Util.json(Map("i" -> i, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "wall_s" -> s.wallS, "self_s" -> t.selfS(i),
        "driver_gap_s" -> s.gapS, "counters" -> s.counters)))
    } finally out.close()
  }
}
