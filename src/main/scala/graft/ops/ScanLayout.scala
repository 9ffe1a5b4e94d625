package graft.ops

import org.apache.spark.sql.DataFrame

/** Guide §2.5 "input skew" fix, made scale-adaptive: a corpus that arrives
  * as fewer splits than the session has cores (at the test scale factors:
  * ONE sub-128MB parquet file) serializes every downstream map stage — the
  * explode/shingle/sketch work of a whole query runs in a single task
  * while the other cores idle (measured: qt50's two CMS passes and qd13's
  * gram aggregate each ran 1-task map stages at sf0.1). The guide's
  * prescription for unsplittable input is "repartition immediately after
  * the read"; doing that UNCONDITIONALLY would add a full-corpus shuffle
  * at production scale, so the repartition fires ONLY when the scan's
  * measured split count is below the session's core count — at 100-TB
  * scale the scan has thousands of splits and this is a no-op. The
  * decision is derived from the measured input layout, not a local-mode
  * constant (guide §1.2 step 1 / §2.2).
  */
private[graft] object ScanLayout {

  /** Round-robin repartition `df` to the session's default parallelism iff
    * its current layout has fewer partitions than that. Round-robin keeps
    * Spark's sort-before-repartition determinism; every caller's
    * downstream is partition-layout-independent (hash aggregates / joins
    * over exact types), so results are unchanged at any width.
    *
    * Precondition: `df` is a bare scan (a file read plus narrow
    * projections/filters, no exchange). The layout probe
    * `df.rdd.getNumPartitions` builds the physical plan, and on a plan
    * with exchanges (AQE query stages) that would run jobs at probe time.
    */
  def ensureParallel(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }
}
