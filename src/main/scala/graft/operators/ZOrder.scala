package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) data layout — multi-dimensional locality for scan
  * pruning at 100 TB: interleaving the bits of several filter columns
  * into one sort key clusters rows that are close in EVERY dimension
  * into the same files, so per-file min/max statistics prune a
  * multi-column range query the way a single-column sort only prunes
  * its one column. This is the layout trick behind Delta/Iceberg
  * OPTIMIZE ZORDER BY, built here from plain Spark primitives:
  * a codegen'd integer expression + repartitionByRange + in-partition
  * sort (Morton 1966; the curve preserves locality because adjacent
  * z-values share high-order bit prefixes, i.e. the same hyper-box).
  *
  * Everything is integer-exact, so the gate oracle replays the
  * interleave bit-for-bit in SQL. */
object ZOrder {

  /** Morton-interleave non-negative integer columns, `bits` bits each
    * (column i contributes bit b to z-bit b·n + i). Values outside
    * [0, 2^bits) raise — silent masking would put far-apart rows in the
    * same z-neighborhood and quietly destroy the pruning property. */
  def zValue(cols: Seq[Column], bits: Int): Column = {
    val n = cols.size
    require(n >= 2, s"ZOrder.zValue: need at least 2 columns, got $n")
    require(bits >= 1 && n * bits <= 63,
      s"ZOrder.zValue: $n columns at $bits bits = ${n * bits} z-bits (max 63)")
    val lim = 1L << bits
    val guarded = cols.map { c =>
      val lc = c.cast("long")
      when(lc.isNull || lc < 0 || lc >= lim,
        raise_error(concat(lit(s"ZOrder.zValue: value out of [0, $lim): "),
          lc.cast("string"))))
        .otherwise(lc)
    }
    // disjoint powers of two, so + is | — a plain codegen'd sum tree
    (0 until bits).flatMap { b =>
      guarded.zipWithIndex.map { case (c, i) =>
        shiftleft(shiftright(c, b).bitwiseAND(lit(1L)), b * n + i)
      }
    }.reduce(_ + _)
  }

  /** Small-files compaction: rewrite a parquet directory into
    * ~`targetBytes`-sized output files, content-identical. The 100 TB
    * housekeeping op — streaming sinks, fine-grained partitions and
    * per-batch commits leave thousands of KB-sized files whose
    * per-file open/footer/listing cost dominates every later scan
    * (and the driver's memory). The output file count derives from
    * the CURRENT on-disk (compressed) bytes, floor 1; a round-robin
    * repartition balances rows without any shuffle key. Returns the
    * compacted directory's reader; content equality is the gate's
    * contract, file-count reduction the spec's. */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
      outDir: String, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, "ZOrder.compact: targetBytes must be positive")
    val bytes = parquetBytes(spark, dir)
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(dir)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(outDir)
    spark.read.parquet(outDir)
  }

  /** Total bytes of a directory's .parquet files (compressed,
    * metadata-only listing). */
  def parquetBytes(spark: org.apache.spark.sql.SparkSession,
      dir: String): Long = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).filter(_.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
  }

  /** Count of a directory's .parquet data files. */
  def parquetFileCount(spark: org.apache.spark.sql.SparkSession,
      dir: String): Int = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).count(_.getPath.getName.endsWith(".parquet"))
  }

  /** Rewrite `df` into a z-ordered layout: `nFiles` range partitions of
    * the z-value, rows z-sorted within each — after a parquet write,
    * every file holds one compact z-range (disjoint across files up to
    * range-partition boundary ties), and min/max stats prune
    * multi-column range queries. The z column is kept (`zCol`) so
    * readers can range-filter on it directly; drop it after the write
    * if the storage byte matters more than the pruning handle. */
  def layoutZOrdered(df: DataFrame, cols: Seq[String], bits: Int,
      nFiles: Int, zCol: String = "z_value"): DataFrame = {
    require(nFiles >= 1, s"ZOrder.layoutZOrdered: nFiles=$nFiles")
    df.withColumn(zCol, zValue(cols.map(col), bits))
      .repartitionByRange(nFiles, col(zCol))
      .sortWithinPartitions(zCol)
  }

  /** Hilbert curve index (2-D) — the stronger-locality alternative to
    * [[zValue]]: consecutive indices are ALWAYS grid neighbors
    * (|Δx|+|Δy| = 1, the curve's defining property; Z-order jumps at
    * quadrant seams), so range partitions are tighter boxes and a box
    * query intersects fewer files. The classic xy2d bit walk (Hilbert
    * 1891; the iterative form popularized by Warren's Hacker's Delight)
    * runs as one native expression, `hilbert_xy2d`: a `bits`-iteration
    * exact 64-bit integer loop per row ([[graft.functions.Hilbert.xy2d]])
    * inside whole-stage codegen, no UDF. The gate oracle replays the
    * same levels as chained CTEs, and ZOrderSpec pins golden values and
    * the adjacency property. Values outside [0, 2^bits) raise, same
    * contract as [[zValue]]. */
  def hilbertValue(df: DataFrame, xCol: String, yCol: String, bits: Int,
      out: String = "h_value"): DataFrame = {
    require(bits >= 1 && 2 * bits <= 62,
      s"ZOrder.hilbertValue: $bits bits per axis = ${2 * bits} index bits (max 62)")
    val lim = 1L << bits
    def guard(c: Column): Column = {
      val lc = c.cast("long")
      when(lc.isNull || lc < 0 || lc >= lim,
        raise_error(concat(lit(s"ZOrder.hilbertValue: value out of [0, $lim): "),
          lc.cast("string"))))
        .otherwise(lc)
    }
    graft.plans.GraftExtensions.register(df.sparkSession)
    df.withColumn(out,
      graft.plans.GraftExtensions.hilbertXy2d(guard(col(xCol)), guard(col(yCol)), bits))
  }

  /** [[layoutZOrdered]] with the Hilbert key — the stronger-locality
    * layout for box-query workloads; the bit-walk index (one codegen'd
    * loop per row) is paid once at WRITE time and amortized over every
    * pruned read. */
  def layoutHilbertOrdered(df: DataFrame, xCol: String, yCol: String,
      bits: Int, nFiles: Int, hCol: String = "h_value"): DataFrame = {
    require(nFiles >= 1, s"ZOrder.layoutHilbertOrdered: nFiles=$nFiles")
    hilbertValue(df, xCol, yCol, bits, hCol)
      .repartitionByRange(nFiles, col(hCol))
      .sortWithinPartitions(hCol)
  }

  /** Parquet footer statistics for one INT64 column of every row group
    * under `dir`: `(ordinal, stat_min, stat_max, n_rows)`, ordinal by
    * (min, max). These are EXACTLY the stats a pruning reader consults
    * — reading them back is how you AUDIT that a layout actually
    * produced prunable files (disjoint compact ranges after
    * [[layoutZOrdered]]) instead of trusting that it did. Metadata-only
    * and driver-side by design: footers are KB-sized whatever the data
    * — never confuse this with a data scan. */
  def fileStats(spark: org.apache.spark.sql.SparkSession, dir: String,
      column: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val files = fs.listStatus(root).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet")).sortBy(_.getName)
    val rows = files.flatMap { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try {
        import scala.jdk.CollectionConverters._
        r.getFooter.getBlocks.asScala.flatMap { block =>
          block.getColumns.asScala
            .filter(_.getPath.toDotString == column)
            .map { cc =>
              val st = cc.getStatistics
              require(st != null && !st.isEmpty,
                s"ZOrder.fileStats: no statistics for $column in $p — " +
                  "the layout is not prunable")
              (st.genericGetMin.asInstanceOf[Number].longValue(),
                st.genericGetMax.asInstanceOf[Number].longValue(),
                block.getRowCount)
            }
        }
      } finally r.close()
    }
    import spark.implicits._
    rows.sortBy(t => (t._1, t._2)).zipWithIndex
      .map { case ((mn, mx, n), i) => (i.toLong, mn, mx, n) }.toSeq
      .toDF("ordinal", "stat_min", "stat_max", "n_rows")
  }

  /** Locality audit: chunk the frame into `nChunks` by rank under
    * `orderCol` and report, per chunk, the bounding-box area over the
    * two audit columns — Σ area is the file-skipping proxy (smaller
    * boxes ⇒ a range query intersects fewer chunks). Compare the same
    * frame under a z-value ordering vs a single-column ordering to
    * quantify what the layout buys. Integer-exact throughout.
    *
    * The global rank is the repo's TWO-PHASE form (range partition by
    * the order key, per-partition window, broadcast prefix offsets) —
    * no single-partition stage, so the audit itself follows the
    * no-global-window rule and can run on the full frame, not just a
    * sample. */
  def localityReport(df: DataFrame, orderCol: String, auditX: String,
      auditY: String, nChunks: Int): DataFrame = {
    val spark = df.sparkSession
    val nPart = spark.sessionState.conf.numShufflePartitions
    val ranged = df
      .repartitionByRange(nPart, col(orderCol), col(auditX), col(auditY))
      .sortWithinPartitions(col(orderCol), col(auditX), col(auditY))
      .withColumn("__pid", spark_partition_id())
    val cached = graft.core.CacheScope.retain(ranged)
    // tiny: one row per partition; prefix sums become broadcast offsets
    val counts = cached.groupBy("__pid").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val n = counts.map(_._2).sum
    var acc = 0L
    val offsets = counts.map { case (pid, c) =>
      val off = acc; acc += c; pid -> off
    }
    val offCol =
      if (offsets.isEmpty) lit(0L)
      else coalesce(
        element_at(
          map(offsets.flatMap { case (p, o) => Seq(lit(p), lit(o)) }: _*),
          col("__pid")),
        lit(0L))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__pid")
      .orderBy(col(orderCol), col(auditX), col(auditY))
    val ranked = cached
      .withColumn("__rn", row_number().over(w).cast("long") + offCol - 1)
      .withColumn("chunk", (col("__rn") * nChunks / lit(n)).cast("int"))
    ranked.groupBy("chunk").agg(
      count(lit(1)).as("n_rows"),
      min(col(auditX)).as("x_min"), max(col(auditX)).as("x_max"),
      min(col(auditY)).as("y_min"), max(col(auditY)).as("y_max"),
      ((max(col(auditX)) - min(col(auditX)) + 1) *
        (max(col(auditY)) - min(col(auditY)) + 1)).as("bbox_area"))
  }
}
