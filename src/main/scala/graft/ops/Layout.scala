package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout: interleave the bits of two
  * dimension keys so rows close in BOTH dimensions land close in the
  * sort order. Sorting/range-partitioning by the z-value is the standard
  * lakehouse trick for multi-dimensional data skipping — per-file min/max
  * stats become tight rectangles instead of full-range stripes, so a
  * predicate on EITHER dimension prunes files.
  *
  * Scale shape (100 TB): the z-value is pure map-side integer arithmetic
  * (quantize each dimension to `bits` bits against broadcast min/max,
  * then interleave with shifts/masks — all codegen'd, no UDF). The actual
  * layout write is `repartitionByRange($"z") .sortWithinPartitions($"z")`
  * — one range-exchange, the same cost as any global sort. The stats
  * query here audits the result: per z-bucket bounding boxes, whose
  * areas should be ~uniform small tiles (a naive single-column sort
  * yields full-height stripes instead).
  */
object Layout {

  /** Quantize `c` to [0, 2^bits) as BIGINT against inclusive min/max
    * columns: floor(((c - mn) * (2^bits - 1)) / max(mx - mn, 1)).
    * The division runs in doubles on BOTH engines (identical op
    * sequence); it is exact-equal to integer floor division here because
    * the numerator stays under 2^52 (key span < 2^42 × 10-bit scale), so
    * the quotient's 1/denominator tail always exceeds the ulp at the
    * boundary — no cross-integer rounding is possible.
    */
  def quantize(c: Column, mn: Column, mx: Column, bits: Int): Column =
    floor(((c - mn).cast("long") * lit((1L << bits) - 1)).cast("double") /
      greatest(mx.cast("long") - mn.cast("long"), lit(1L)).cast("double"))
      .cast("long")

  /** Morton interleave of two quantized values: bit b of x → bit 2b+1,
    * bit b of y → bit 2b. Pure shifts/masks, codegen'd. */
  def interleave(xq: Column, yq: Column, bits: Int): Column =
    (0 until bits).map { b =>
      shiftright(xq, b).bitwiseAND(lit(1L)) * lit(1L << (2 * b + 1)) +
        shiftright(yq, b).bitwiseAND(lit(1L)) * lit(1L << (2 * b))
    }.reduce(_ + _)

  /** DuckDB-portable rendering of quantize+interleave for the oracle:
    * the SAME op sequence (floor of a double division, then `>>`/`&`
    * shifts/masks on BIGINT). */
  def zValueSql(x: String, y: String, xmn: String, xmx: String,
      ymn: String, ymx: String, bits: Int): String = {
    val m = (1L << bits) - 1
    def q(c: String, mn: String, mx: String) =
      s"CAST(floor(CAST(($c - $mn) * $m AS DOUBLE) / " +
        s"CAST(GREATEST($mx - $mn, 1) AS DOUBLE)) AS BIGINT)"
    val xq = q(x, xmn, xmx)
    val yq = q(y, ymn, ymx)
    (0 until bits).map { b =>
      s"((($xq) >> $b) & 1) * ${1L << (2 * b + 1)} + " +
        s"((($yq) >> $b) & 1) * ${1L << (2 * b)}"
    }.mkString("(", " + ", ")")
  }

  /** Per-z-bucket bounding-box audit of a two-dimensional layout.
    *
    * Output: `bucket, n, x_min, x_max, y_min, y_max` for each
    * `z >> bucketShift` bucket — the rectangles a file-level min/max
    * index would hold if the table were written in z order with
    * ~2^bucketShift rows' worth of z-range per file.
    */
  def zOrderStats(df: DataFrame, xCol: String, yCol: String,
      bits: Int = 10, bucketShift: Int = 14): DataFrame = {
    val bounds = df.agg(
      min(col(xCol)).as("xmn"), max(col(xCol)).as("xmx"),
      min(col(yCol)).as("ymn"), max(col(yCol)).as("ymx"))
    df.crossJoin(broadcast(bounds))
      // quantized dims materialized once so the 2·bits interleave taps
      // reference columns, not 2·bits copies of the quantize subtree
      .select(col(xCol), col(yCol),
        quantize(col(xCol), col("xmn"), col("xmx"), bits).as("_xq"),
        quantize(col(yCol), col("ymn"), col("ymx"), bits).as("_yq"))
      .select(col(xCol), col(yCol),
        shiftright(interleave(col("_xq"), col("_yq"), bits), bucketShift)
          .as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col(xCol)).as("x_min"), max(col(xCol)).as("x_max"),
        min(col(yCol)).as("y_min"), max(col(yCol)).as("y_max"))
  }

  /** The write path the stats audit models: range-partition by z-value
    * and sort within partitions, so parquet row-group min/max stats form
    * tight tiles over (x, y). `numFiles` bounds output file count.
    */
  def zOrderedWrite(df: DataFrame, xCol: String, yCol: String,
      numFiles: Int, bits: Int = 10): DataFrame = {
    val bounds = df.agg(
      min(col(xCol)).as("xmn"), max(col(xCol)).as("xmx"),
      min(col(yCol)).as("ymn"), max(col(yCol)).as("ymx"))
    df.crossJoin(broadcast(bounds))
      .withColumn("_xq", quantize(col(xCol), col("xmn"), col("xmx"), bits))
      .withColumn("_yq", quantize(col(yCol), col("ymn"), col("ymx"), bits))
      .withColumn("_z", interleave(col("_xq"), col("_yq"), bits))
      .drop("xmn", "xmx", "ymn", "ymx", "_xq", "_yq")
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
  }

  /** Small-file compaction for a parquet directory — the maintenance
    * job every streaming/incremental sink eventually needs (thousands
    * of kilobyte part files turn a scan into an open()-bound crawl).
    * Plans deterministic NEXT-FIT bins over the real file listing in
    * name order (a file larger than `targetBytes` gets its own bin),
    * then rewrites each bin as ONE output file: rows are routed by a
    * broadcast (file name → bin) map joined on `input_file_name()`,
    * hash-repartitioned on bin, and written `partitionBy(bin)` — each
    * bin lands in exactly one task, so each bin directory holds one
    * part file. Returns the executed plan:
    * `(bin, n_files_in, bytes_in, n_rows)` (rows re-counted from the
    * compacted output — the conservation audit).
    *
    * Scale: ONE read+write pass over the data; the plan is an
    * O(files) driver listing (the same listing the scan does anyway).
    * Bin count = ceil(total/target), bounded; content is
    * byte-equivalent, layout is not (parquet re-encodes) — the spec
    * pins row-multiset equality instead.
    */
  def compactSmallFiles(spark: org.apache.spark.sql.SparkSession,
      dir: String, outDir: String, targetBytes: Long): DataFrame = {
    require(targetBytes >= 1, s"need targetBytes >= 1, got $targetBytes")
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .sortBy(_.getName)
    require(files.nonEmpty, s"no part files under $dir")
    // next-fit in name order: deterministic, one pass
    val bins = scala.collection.mutable.ArrayBuffer
      .empty[(Long, List[(String, Long)])]
    var cur = List.empty[(String, Long)]
    var curBytes = 0L
    for (f <- files) {
      if (cur.nonEmpty && curBytes + f.length() > targetBytes) {
        bins += ((bins.length.toLong, cur.reverse)); cur = Nil; curBytes = 0L
      }
      cur = (f.getName, f.length()) :: cur
      curBytes += f.length()
    }
    if (cur.nonEmpty) bins += ((bins.length.toLong, cur.reverse))
    import spark.implicits._
    val assign = bins.flatMap { case (b, fs) =>
      fs.map { case (name, _) => (name, b) } }.toSeq
      .toDF("_name", "_bin")
    spark.read.parquet(dir)
      .withColumn("_name",
        substring_index(input_file_name(), "/", -1))
      .join(org.apache.spark.sql.functions.broadcast(assign), "_name")
      .drop("_name")
      .repartition(bins.length, col("_bin"))
      .write.mode("overwrite").partitionBy("_bin").parquet(outDir)
    val rows = spark.read.parquet(outDir).groupBy(col("_bin"))
      .agg(count(lit(1)).as("n_rows"))
      .collect().map(r => r.get(0).toString.toLong -> r.getLong(1)).toMap
    bins.map { case (b, fs) =>
      (b, fs.length.toLong, fs.map(_._2).sum, rows.getOrElse(b, 0L))
    }.toSeq.toDF("bin", "n_files_in", "bytes_in", "n_rows")
  }

  /** Partition-level UPSERT on a Hive-partitioned lake table via
    * DYNAMIC partition overwrite: write the base table partitioned by
    * epoch-week, then re-write a restatement batch covering only the
    * trailing `restateWeeks` weeks with
    * `spark.sql.sources.partitionOverwriteMode=dynamic` — Spark
    * replaces ONLY the partition directories present in the batch;
    * untouched week directories are never rewritten (byte-identical,
    * asserted by spec). This is the idempotent daily-restatement
    * pattern of a partitioned lake without a table format's commit
    * log. The restatement here keeps even event_ids (a dedup-style
    * rewrite) so the final state is oracle-replayable:
    * weeks ≤ cut keep base rows, weeks > cut keep only the batch.
    * Returns the read-back `(week, n_events, n_users)` per week.
    *
    * Scale: both writes shuffle-free map passes partitioned by the
    * directory key; the replaced set is proportional to the
    * restatement, not the table.
    */
  def partitionedUpsert(events: DataFrame, dir: String,
      restateWeeks: Long = 2): DataFrame = {
    require(restateWeeks >= 1, s"need restateWeeks >= 1, got $restateWeeks")
    val spark = events.sparkSession
    val day = EventWindows.epochDay
    val typed = events.select(col("event_type"), col("user_id"),
        col("event_id"), day.as("day"))
      .withColumn("week", org.apache.spark.sql.functions.expr("day div 7"))
    val maxWeek = typed.agg(max(col("week"))).collect()(0).getLong(0)
    typed.write.mode("overwrite").partitionBy("week").parquet(dir)
    val cut = maxWeek - restateWeeks
    val updates = typed.filter(col("week") > cut &&
      col("event_id") % 2 === 0)
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try updates.write.mode("overwrite").partitionBy("week").parquet(dir)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    spark.read.parquet(dir)
      // partition discovery infers the directory key as INT — pin LONG
      .groupBy(col("week").cast("long").as("week"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("week"))
  }

  /** Partitioned-parquet round-trip with PARTITION PRUNING — the
    * canonical 100 TB event-lake layout, exercised end to end: write
    * the events day-table Hive-partitioned by epoch-week, read it
    * back filtered to the trailing `lastWeeks` weeks (a filter ON the
    * partition column — the scan must list only those directories,
    * asserted by the plan spec), and aggregate per type. Returns
    * `(event_type, n_events, n_days, n_users)` over the kept weeks.
    *
    * The week cut is computed from the data BEFORE the write (one-row
    * collect), so the filter is a literal comparison the catalog can
    * prune with — not a subquery evaluated at scan time.
    */
  def partitionedRoundTrip(events: DataFrame, dir: String,
      lastWeeks: Long = 4): DataFrame = {
    require(lastWeeks >= 1, s"need lastWeeks >= 1, got $lastWeeks")
    val spark = events.sparkSession
    val day = EventWindows.epochDay
    val typed = events.select(col("event_type"), col("user_id"),
        day.as("day"))
      .withColumn("week", org.apache.spark.sql.functions.expr("day div 7"))
    val maxWeek = typed.agg(max(col("week"))).collect()(0).getLong(0)
    typed.write.mode("overwrite").partitionBy("week").parquet(dir)
    val cut = maxWeek - lastWeeks
    spark.read.parquet(dir)
      .filter(col("week") > cut)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("day")).as("n_days"),
        count_distinct(col("user_id")).as("n_users"))
  }
}
