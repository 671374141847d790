package perfbench

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory, TimeUnit, TimeoutException}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation: a call into the program plus its output check. */
final case class OpRec(kind: String, seconds: Double, ok: Boolean, error: Option[String])

/** What a workload's timed region did: units of work (genes, docs or
  * gate calls) over `rounds` rounds. */
final case class Outcome(units: Double, rounds: Int)

/** State shared by one run: the session, the seed, the op log and, for
  * traced runs, the tracer. Every call into the program goes through
  * [[op]], which enforces a deadline and does the failure accounting. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val tracer: Option[Tracer], val workDir: String) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val checkFailures = mutable.ArrayBuffer.empty[String]
  val notes = mutable.LinkedHashMap.empty[String, Any]
  /** Set when an op passed its deadline: its task threads may still be
    * spinning (they ignore interrupts), so nothing after it can be timed
    * and the JVM is discarded when the run ends. */
  var poisoned = false

  private val pool = Executors.newSingleThreadExecutor(new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "perfbench-op")
      t.setDaemon(true)
      t
    }
  })

  private val accs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Per-layer values a workload records itself (row counts, bytes). */
  def acc(k: String): Double = synchronized(accs(k))
  def add(k: String, v: Double): Unit = synchronized(accs(k) += v)
  def peak(k: String, v: Double): Unit = synchronized(accs(k) = math.max(accs(k), v))

  def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))

  /** Wall time of a call inside an op, kept as a counter-less span. */
  def timed[T](name: String)(body: => T): T = tracer match {
    case None => body
    case Some(t) =>
      val t0 = Util.now()
      try body finally t.mark(name, Util.secs(t0, Util.now()))
  }

  /** Op seconds of each round of the timed region. */
  val roundS = mutable.ArrayBuffer.empty[Double]

  /** One round of the timed region: a unit of work that repeats. */
  def round[T](body: => T): T = {
    val before = ops.size
    try span("round")(body) finally roundS += ops.drop(before).map(_.seconds).sum
  }

  /** Run `body` as one timed op of kind `kind`; `body` returns whether
    * its output passed its check. See [[opChecked]]. */
  def op(kind: String, deadlineS: Double)(body: => Boolean): Boolean =
    opChecked(kind, deadlineS)(body)(identity)

  /** Run `body` as one timed op of kind `kind`, then `check` its output
    * outside the timed region. A throw, a failed check and an expired
    * deadline all count as a failed op; an expired op is charged its full
    * deadline. Returns whether the op succeeded. */
  def opChecked[T](kind: String, deadlineS: Double)(body: => T)(check: T => Boolean): Boolean = {
    if (poisoned) return false
    val token = tracer.map(_.begin(kind))
    def closeSpan(seconds: Double): Unit = token.foreach { t =>
      tracer.get.end(t, Some(seconds))
      if (!poisoned) {
        peak("core.cache.retained_max", graft.core.CacheScope.size)
        peak("core.cache.cached_mb_peak", spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum / 1048576.0)
      }
    }
    val t0 = Util.now()
    val fut = pool.submit(new Callable[T] { def call(): T = body })
    val rec = try {
      val out = fut.get((deadlineS * 1e9).toLong, TimeUnit.NANOSECONDS)
      val s = Util.secs(t0, Util.now())
      closeSpan(s)
      val ok = try check(out) catch { case e: Exception =>
        checkFailures += s"$kind: check threw $e"
        false
      }
      if (!ok) checkFailures += s"$kind: output check failed"
      // the check's own jobs must not land in the next span
      tracer.foreach(_.drain())
      OpRec(kind, s, ok, None)
    } catch {
      case _: TimeoutException =>
        poisoned = true
        fut.cancel(true)
        spark.sparkContext.cancelAllJobs()
        closeSpan(deadlineS)
        OpRec(kind, deadlineS, ok = false, Some(f"deadline of $deadlineS%.0f s passed"))
      case e: ExecutionException =>
        val c = Option(e.getCause).getOrElse(e)
        val s = Util.secs(t0, Util.now())
        closeSpan(s)
        OpRec(kind, s, ok = false,
          Some(s"${c.getClass.getName}: ${String.valueOf(c.getMessage).take(300)}"))
    }
    ops += rec
    System.err.println(f"perfbench op ${rec.kind} ${rec.seconds}%.3f s ok=${rec.ok} ${rec.error.getOrElse("")}")
    rec.ok
  }

  /** An output check outside any op (end-of-run invariants). */
  def check(what: String, ok: Boolean): Unit = if (!ok) checkFailures += what



}

/** A benchmark workload. `setup` builds the inputs and any index; it runs
  * several times per run (the median is `setup_s`), and the state of the
  * last repetition feeds `run`, the timed region. */
trait Workload {
  def name: String
  def setup(ctx: Ctx, rep: Int): Unit
  def run(ctx: Ctx): Outcome
  /** End-of-run digest checks, outside the timed region. Must not call
    * Spark: after an expired deadline the engine may be stuck. */
  def verify(ctx: Ctx): Unit = ()
  /** Latencies behind `op_p50_s`/`op_p90_s`: one per operation a user
    * issues. For the batch workloads that is a whole round (one chain, one
    * batch), not the stages inside it. */
  def latencies(ctx: Ctx): Seq[Double] = ctx.roundS.toSeq
}
