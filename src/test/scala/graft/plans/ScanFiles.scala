package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Which parquet files a file-source query scans, against the files
  * under a cluster-partitioned index's `cluster=<id>` directories. */
object ScanFiles extends AdaptiveSparkPlanHelper {

  /** Runs `df` and returns the files its single file scan lists after
    * partition pruning; the scan's own file-count metric must agree. */
  def read(df: DataFrame): Set[String] = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    assert(scans.size == 1, plan.toString)
    val scan = scans.head
    val files = scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files.map(_.getPath.toUri.getPath)).toSet
    assert(scan.metrics("numFiles").value == files.size, plan.toString)
    files
  }

  /** Parquet files under `root/cluster=<c>` for each c. */
  def under(root: String, clusters: Seq[Int]): Set[String] =
    clusters.flatMap { c =>
      Option(new java.io.File(root, s"cluster=$c").listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet"))
        .map(f => new org.apache.hadoop.fs.Path(f.getAbsolutePath).toUri.getPath)
    }.toSet
}
