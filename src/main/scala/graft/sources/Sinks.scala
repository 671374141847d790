package graft.sources

import graft.core.MFrame
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths, StandardCopyOption}

/** File sinks (reference SURVEY.md §2.1 S6/S7/S9).
  *
  * The reference writes ONE tab-separated file per table
  * (src/mdataframe/mdataframe.py:925-949); Spark writes a directory of
  * part-files, so the TSV sink coalesces to a single partition and then
  * promotes the lone part-file to the requested path. Outputs are reports
  * (small by contract); the distributed path for bulk data is parquet. */
object Sinks {

  /** S6: single-file TSV sink (mdataframe.py:925-949). `full=true` joins
    * metaRows into the output like the reference's `write(full=True)`
    * (J4; metaCols is emitted separately by [[writeReport]]). */
  def writeTsv(df: DataFrame, filename: String): Unit = {
    val tmp = filename + ".spark-tmp"
    df.coalesce(1).write.mode("overwrite")
      .option("sep", "\t").option("header", "true").csv(tmp)
    val dir = Paths.get(tmp)
    val part = Files.list(dir).filter(_.getFileName.toString.startsWith("part-"))
      .findFirst().orElseThrow(() => new IllegalStateException(s"no part file in $tmp"))
    Files.move(part, Paths.get(filename), StandardCopyOption.REPLACE_EXISTING)
    Files.list(dir).forEach(p => Files.delete(p))
    Files.delete(dir)
  }

  def writeTsv(mf: MFrame, filename: String, full: Boolean): Unit =
    writeTsv(if (full) mf.full else mf.data, filename)

  /** S7 analog: the reference's Excel sink emits sheets `data`,
    * `meta_columns`, `meta_rows` (mdataframe.py:951-973); with no Excel
    * writer in the allowed dependency set we emit one TSV per sheet under
    * `dirname/`, preserving the sheet contract. */
  def writeReport(mf: MFrame, dirname: String, full: Boolean = false): Unit = {
    Files.createDirectories(Paths.get(dirname))
    writeTsv(if (full) mf.full else mf.data, s"$dirname/data.tsv")
    mf.metaRows.foreach(m => writeTsv(m, s"$dirname/meta_rows.tsv"))
    mf.metaCols.foreach(m => writeTsv(m, s"$dirname/meta_columns.tsv"))
  }

  /** Parquet sink — the scale path (not in the reference; its pickle cache
    * plays this role, mdataframe.py:311-317). */
  /** Bucketed parquet table: pre-shuffles ONCE at write time so joins and
    * aggregations on the bucket keys read co-located data with NO exchange
    * (the 100 TB alternative to re-shuffling a fact table per query; pair
    * with `broadcast()` for small dims and [[graft.operators.Skew]] for
    * skewed keys). Registered through the session catalog — Spark's
    * bucketing metadata lives in the metastore, not the files. */
  def writeBucketed(df: DataFrame, tableName: String, keys: Seq[String],
      buckets: Int): Unit = {
    df.write.format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .mode("overwrite")
      .saveAsTable(tableName)
  }
}
