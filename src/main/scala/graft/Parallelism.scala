package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, FileTable}

/** Small-file parallelism guard.
  *
  * The `documents` table is a single tiny parquet file, so Spark scans
  * it as ONE partition — and every compute-heavy per-row stage (minhash
  * md5s, shingling, tokenize+explode) serializes on one core. At real
  * scale the input is thousands of splits and this is a no-op (we check
  * first — never an unconditional repartition, which would *add* a
  * shuffle at 100 TB); locally it restores the 32-way parallelism the
  * cluster would have.
  *
  * The check itself is DRIVER-SIDE METADATA ONLY: the scan's split
  * count is re-derived from the cached file listing (file sizes +
  * open-cost packing — the same arithmetic Spark's FilePartition uses),
  * not from `df.rdd.getNumPartitions`, which would force a full
  * plan→RDD conversion of a QueryExecution that is then thrown away —
  * a wasted second planning pass on the construction path of every
  * corpus query. File leaves are V1 file relations and DSv2 file
  * tables — the snapshot table's reads are the latter; non-file plans
  * (not a shape any current call site produces) keep the old
  * rdd-based check.
  */
object Parallelism {
  def ensure(spark: SparkSession)(df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    val estimated = scanPartitions(spark, df)
      .getOrElse(df.rdd.getNumPartitions.toLong)
    // half-target slack: the estimate is a strict LOWER bound on
    // Spark's greedy file-boundary packing (it ignores that splits
    // can't cross files), so comparing against the full target would
    // fire — and pay an unconditional shuffle — on scans whose real
    // partition count is fine. Anything at or above half the cores
    // is left alone; the degenerate cases the guard exists for
    // (1-split tiny files) sit far below any slack.
    if (estimated < math.max(1L, target / 2)) df.repartition(target) else df
  }

  /** Metadata-only parallelism estimate for WRITE paths: the scan-split
    * estimate when the plan reads files, else the session's default
    * parallelism — never `df.rdd.getNumPartitions`, which would pay a
    * throwaway plan→RDD conversion inside the write. */
  def estimate(spark: SparkSession, df: DataFrame): Long =
    scanPartitions(spark, df)
      .getOrElse(spark.sparkContext.defaultParallelism.toLong)

  /** Split count the file scans under `df` get, replicating
    * FilePartition's packing math (maxSplitBytes = min(maxPartitionBytes,
    * max(openCost, totalBytes/defaultParallelism)); splits then pack
    * into maxSplitBytes bins) — a LOWER bound: real packing respects
    * file boundaries and can only produce more partitions. Uses the
    * UNFILTERED listing (the snapshot scan skips files with pushed
    * filters this estimate never sees), which biases the other way —
    * an overestimate that can only make the guard skip a repartition,
    * never add one. None when the plan has no file leaf. */
  private[graft] def scanPartitions(spark: SparkSession, df: DataFrame): Option[Long] = {
    val indexes: Seq[FileIndex] = df.queryExecution.analyzed.collect {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        lr.relation.asInstanceOf[HadoopFsRelation].location
      case r: DataSourceV2Relation if r.table.isInstanceOf[FileTable] =>
        r.table.asInstanceOf[FileTable].fileIndex
    }
    if (indexes.isEmpty) None
    else Some(indexes.map { index =>
      val openCost = bytesConf(spark, "spark.sql.files.openCostInBytes", 4194304L)
      val maxPart = bytesConf(spark, "spark.sql.files.maxPartitionBytes", 134217728L)
      val nFiles = index.inputFiles.length.toLong
      val totalBytes = index.sizeInBytes + nFiles * openCost
      val bytesPerCore = totalBytes / math.max(1, spark.sparkContext.defaultParallelism)
      val maxSplit = math.min(maxPart, math.max(openCost, bytesPerCore))
      math.max(1L, (totalBytes + maxSplit - 1) / math.max(1L, maxSplit))
    }.sum)
  }

  /** Read a size conf that may be set as "128MB"-style strings. */
  private def bytesConf(spark: SparkSession, key: String, dflt: Long): Long =
    try {
      val raw = spark.conf.get(key, dflt.toString).trim.toLowerCase
      val (num, mult) =
        if (raw.endsWith("kb") || raw.endsWith("k")) (raw.replaceAll("[a-z]+$", ""), 1L << 10)
        else if (raw.endsWith("mb") || raw.endsWith("m")) (raw.replaceAll("[a-z]+$", ""), 1L << 20)
        else if (raw.endsWith("gb") || raw.endsWith("g")) (raw.replaceAll("[a-z]+$", ""), 1L << 30)
        else if (raw.endsWith("b")) (raw.dropRight(1), 1L)
        else (raw, 1L)
      num.trim.toLong * mult
    } catch { case _: Exception => dflt }
}
