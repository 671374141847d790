package perfbench

import java.io.{File, PrintWriter}
import scala.io.Source

/** Output digests. At the default seed a run's digests must equal the
  * ones recorded in perfbench/digests.tsv (workload, key, digest per
  * line); every run writes what it computed beside its work files, which
  * is how the recorded set was made. */
object Digests {
  val DefaultSeed = 42L
  var expectedFile: Option[String] = None

  def ofStrings(xs: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    xs.toSeq.sorted.foreach(x => md.update((x + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  private def expected(workload: String): Map[String, String] =
    expectedFile.filter(f => new File(f).isFile).toSeq.flatMap { f =>
      val src = Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.split("\t")).collect {
        case Array(w, k, d) if w == workload => k -> d
      }.toList finally src.close()
    }.toMap

  def check(ctx: Ctx, workload: String, computed: Map[String, String]): Unit = {
    val out = new PrintWriter(new File(ctx.workDir, "digests-computed.tsv"), "UTF-8")
    try computed.toSeq.sorted.foreach { case (k, d) => out.println(s"$workload\t$k\t$d") }
    finally out.close()
    if (ctx.seed == DefaultSeed) {
      val want = expected(workload)
      ctx.check(s"$workload: no digests recorded for the default seed", want.nonEmpty)
      // a digest is missing only when the op that makes it did not finish,
      // and that op already counts as failed
      want.foreach { case (k, d) =>
        ctx.check(s"$workload: digest of $k is ${computed.getOrElse(k, "missing")}, recorded $d",
          computed.get(k).fold(ctx.poisoned)(_ == d))
      }
    }
  }
}
