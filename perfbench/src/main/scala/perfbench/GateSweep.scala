package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** gate_sweep: many short calls of mdataframe-vocabulary gates from
  * `SparkEntry.queries` over seeded sf0.1-shaped tables, in a
  * seed-shuffled order per sweep. Each call constructs the gate's frame and
  * counts its rows, the action `graft.Bench` times. The inputs are small,
  * so the per-query fixed cost dominates: construction, Catalyst phases,
  * codegen and stage barriers. The gates' bounded cache (CacheScope, cap
  * 8) churns across the sweep. */
object GateSweep extends Workload {
  val name = "gate_sweep"
  /** Short gates that read only the seeded lineitem, orders, events and
    * documents tables and write nothing. */
  val Gates: Seq[String] = Seq(
    "q_filter_dsl", "q_impute_fixed", "q_elementwise", "q_window_rank", "q_bh_fdr", "q_asof_forward",
    "q_batch_effect", "q_eval_pr", "q_asof_join", "q_asof_nearest", "q_stream_quality",
    "q_split_hash")
  val OpDeadlineS = 60.0

  private var dir: String = _
  private val seen = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]

  def setup(ctx: Ctx, rep: Int): Unit = {
    dir = s"${ctx.workDir}/tables-$rep"
    Inputs.writeTables(ctx.spark, ctx.seed, dir)
  }

  /** (rows, order-free hash of every column of every row). */
  def digest(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case _: MapType => to_json(c)
        case _ => c
      }
    }
    val r = df.agg(count(lit(1)), sum(pmod(xxhash64(cols: _*), lit(2147483647L)))).head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Sweeps of a run: nine at 10 s, 108 calls, the fewest whole sweeps
    * that leave ten calls beyond `op_p90_s`. */
  def sweeps(seconds: Int): Int = math.max(1, seconds * 9 / 10)

  def run(ctx: Ctx): Outcome = {
    val n = sweeps(ctx.seconds)
    (1 to n).foreach { s =>
      val order = new scala.util.Random(ctx.seed * 7919 + s).shuffle(Gates)
      ctx.round(order.foreach(g => call(ctx, g)))
    }
    Outcome((n * Gates.size).toDouble, n)
  }

  private def call(ctx: Ctx, gate: String): Unit = {
    var df: DataFrame = null
    ctx.opChecked(s"gate.$gate", OpDeadlineS) {
      df = ctx.timed("SparkEntry.construct")(graft.SparkEntry.queries(gate)(ctx.spark, dir))
      ctx.timed("SparkEntry.action")(df.count())
    } { rows =>
      // every call of a gate in a run gives the same rows; at the default
      // seed the first call's rows are also hashed for the recorded digest
      val first = !seen.contains(gate)
      if (first) seen(gate) = if (ctx.seed == Digests.DefaultSeed) digest(df) else (rows, 0L)
      seen(gate)._1 == rows
    }
  }

  /** Every gate call is an operation. */
  override def latencies(ctx: Ctx): Seq[Double] = ctx.ops.map(_.seconds).toSeq

  override def verify(ctx: Ctx): Unit =
    Digests.check(ctx, name, seen.map { case (g, (rows, h)) => g -> s"$rows:$h" }.toMap)
}
