package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.feed.{ChangeFeed, FeedConfig}
import graft.lake.LakeTable

/** Pieces the workloads share: feed files split into batches, the
  * generic trace report, and row-set comparison for the oracles.
  */
object Common {
  /** Modules a span can be charged to (the span name's first component). */
  val Modules = Seq("bench", "stream", "lake", "operators", "sources")

  /** Generates `cfg`'s events with [[ChangeFeed]] and writes them to `dir`
    * as parquet, one directory per batch: lsn < `first` is batch -1 (the
    * bootstrap), then `size` events per batch.
    */
  def writeBatchedFeed(spark: SparkSession, cfg: FeedConfig, dir: String,
                       first: Long, size: Long): Unit =
    ChangeFeed.events(spark, cfg).toDF()
      .withColumn("batch",
        when(col("lsn") < first, lit(-1L)).otherwise(floor((col("lsn") - first) / size)))
      .repartition(col("batch"))
      .write.partitionBy("batch").parquet(dir)

  def readBatch(spark: SparkSession, dir: String, schema: StructType, batch: Long): DataFrame =
    spark.read.schema(schema).parquet(s"$dir/batch=$batch")

  /** Bytes of the table's live data files. */
  def liveBytes(t: LakeTable): Long = t.liveFiles().map(_.bytes).sum

  /** Differences between two row sets, as readable lines. */
  def diffRows(what: String, actual: Seq[Row], expected: Seq[Row]): Seq[String] = {
    def norm(r: Row): String = r.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("|")
    val a = actual.map(norm).groupBy(identity).map { case (k, v) => k -> v.size }
    val e = expected.map(norm).groupBy(identity).map { case (k, v) => k -> v.size }
    val extra = a.keySet.filter(k => a(k) != e.getOrElse(k, 0)).toSeq.sorted
    val missing = e.keySet.filter(k => !a.contains(k)).toSeq.sorted
    extra.map(k => s"$what unexpected row $k") ++ missing.map(k => s"$what missing row $k")
  }

  /** Trace-level figures every workload reports: module self times, their
    * split between Spark jobs and the driver, their sum against the
    * traced calls' wall (the coverage: time outside every module call
    * lowers it), and the tracing overhead (traced against untraced walls
    * of the plan's matching calls).
    */
  def traceLayers(ctx: Ctx, lp: Loop): Unit = {
    val res = ctx.res
    val rep = lp.report
    if (rep == null) return
    val self = rep.moduleSelf
    Modules.foreach(m => res.layer(s"self.$m" + "_s", self.getOrElse(m, 0.0), "s"))
    val roots = rep.roots
    val moduleSpans = rep.spans.filter(_.parent >= 0)
    val selfSum = moduleSpans.map(rep.selfS).sum
    val jobS = moduleSpans.map(rep.selfJobS).sum
    val wall = lp.tracedCalls.sum
    res.layer("self.spark_jobs_s", jobS, "s")
    res.layer("self.driver_s", selfSum - jobS, "s")
    res.layer("trace.wall_s", wall, "s")
    res.layer("trace.self_sum_s", selfSum, "s")
    res.layer("trace.coverage", selfSum / wall, "ratio")
    val u = lp.pairs.map(p => lp.calls(p._1)).sum
    val t = lp.pairs.map(p => lp.calls(p._2)).sum
    res.layer("trace.overhead", if (u > 0) t / u - 1.0 else 0.0, "ratio")
    res.layer("trace.spans", rep.spans.size.toDouble, "count")
    val st = ctx.probe.stagesOf(roots.flatMap(rep.jobsIn))
    val calls = roots.size
    res.layer("spark.job_busy_s", roots.map(rep.jobUnionS).sum / calls, "s")
    res.layer("spark.executor_cpu_s", st.map(_.cpuNs).sum / 1e9 / calls, "s")
    res.layer("spark.gc_s", st.map(_.gcMs).sum / 1e3 / calls, "s")
    res.layer("spark.spill_bytes", st.map(_.spillBytes).sum.toDouble / calls, "bytes")
  }
}
