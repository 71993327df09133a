package perfbench

import scala.collection.mutable

import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.feed.{ChangeFeed, FeedConfig}
import graft.lake.LakeTable
import graft.model.Schemas
import graft.stream.CdcIngest
import graft.verify.FoldOracle

/** `ingest_bulk`: `CdcIngest.run` (Trigger.AvailableNow) drains a
  * pre-written feed into a fresh lake table in a handful of large
  * triggers — watermark dedup state, the one-shuffle LWW reduce and bulk
  * delta writes. One call is one whole drain; the loop repeats drains of
  * the same feed into new tables. Every drain has the same input, so a
  * traced run pairs neighbouring drains after an untraced first one (the
  * only drain that meets a cold JIT).
  */
object IngestBulk {
  val Events = 300000L
  val KeysPerEvent = 10
  val DeletePct = 5
  val DupPct = 3
  val LatenessSec = 30
  val Chunks = 2
  val FilesPerTrigger = 8
  val Buckets = 8

  def config(seed: Long): FeedConfig = FeedConfig(seed = seed, numEvents = Events,
    numDocs = Events / KeysPerEvent, deletePct = DeletePct, maxTokens = 32,
    maxLatenessSec = LatenessSec)

  final case class Drain(wallS: Double, table: LakeTable, progress: Seq[StreamingQueryProgress])

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val res = ctx.res
    val cfg = config(ctx.opts.seed)
    val feed = ctx.setups() { r =>
      val dir = ctx.path(s"feed-$r")
      ctx.rm(dir)
      val t0 = System.nanoTime()
      ChangeFeed.writeFeed(spark, cfg, dir, chunks = Chunks, dupPct = DupPct)
      (dir, (System.nanoTime() - t0) / 1e9)
    }
    val delivered = spark.read.parquet(feed).count()

    val drains = mutable.ArrayBuffer[Drain]()
    val lp = ctx.loop(TracePlan.abba(warm = 1, groups = 1), minCalls = 2) { i =>
      val root = ctx.path(s"drain-$i")
      val table = ctx.span("lake.create", i) {
        LakeTable.create(spark, s"$root/t", Schemas.docRow, numBuckets = Buckets)
      }
      val t0 = System.nanoTime()
      val q = ctx.span("stream.run", i) {
        val q = CdcIngest.run(spark, feed, table, s"$root/ckpt",
          maxFilesPerTrigger = FilesPerTrigger)
        q.awaitTermination()
        q
      }
      val wall = (System.nanoTime() - t0) / 1e9
      q.exception.foreach(e => throw e)
      drains += Drain(wall, table, q.recentProgress.toSeq.filter(_.numInputRows > 0))
    }

    val last = drains.last.table
    val triggers = drains.flatMap(_.progress)
    val trigS = triggers.map(_.durationMs.get("triggerExecution").longValue / 1e3).toSeq
    val eps = delivered * drains.size / drains.map(_.wallS).sum
    val stored = Common.liveBytes(last)
    res.e2e("call_p50_s") = (Stats.median(lp.untracedCalls), "s")
    res.e2e("rate_per_s") = (eps, "1/s")
    res.named("ingest_eps", eps, "1/s", drains.size)
    res.named("store_bytes_per_event", stored.toDouble / Events, "bytes", 1)
    res.named("commit_p50_s", Stats.median(trigS), "s", trigS.size)
    res.named("commit_p90_s", Stats.pct(trigS, 90), "s", trigS.size)
    res.named("drain_p50_s", Stats.median(drains.map(_.wallS).toSeq), "s", drains.size)

    // rows committed / rows delivered, from the snapshot log: one upsert
    // per trigger writes exactly the batch's LWW winners
    val committed = last.snapshots.filter(_.summary.get("operation").contains("upsert"))
      .flatMap(_.addedData).map(_.rows).sum
    res.count("cdc.rows_in", delivered)
    res.count("cdc.rows_committed", committed)
    res.layer("cdc.useful_ratio", committed.toDouble / delivered, "ratio")
    res.count("stream.triggers_per_drain", drains.head.progress.size.toLong)

    if (lp.report != null) {
      Common.traceLayers(ctx, lp)
      val ps = ctx.probe.progress.filter(_.numInputRows > 0).toSeq
      def d(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      val trig = ps.map(d(_, "triggerExecution"))
      res.layer("stream.trigger_s", Stats.median(trig), "s")
      res.layer("stream.add_batch_share", ps.map(d(_, "addBatch")).sum / trig.sum, "ratio")
      res.layer("stream.checkpoint_s",
        Stats.median(ps.map(p => d(p, "walCommit") + d(p, "commitOffsets"))), "s")
      val stateOps = ps.map(_.stateOperators.toSeq)
      res.layer("cdc.dedup_commit_s",
        Stats.median(stateOps.map(_.map(_.commitTimeMs).sum / 1e3)), "s")
      // state rows after the last trigger of a drain
      res.count("cdc.dedup_state_rows",
        drains.last.progress.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L))
      val rep = lp.report
      val drainSpans = rep.named("stream.run")
      val js = drainSpans.flatMap(rep.jobsIn)
      val shuffle = ctx.probe.stagesOf(js).map(_.shuffleWriteBytes).sum
      res.layer("cdc.shuffle_bytes_per_event",
        shuffle.toDouble / (delivered * math.max(1, drainSpans.size)), "bytes")
    }

    val expected = FoldOracle.finalState(cfg)
    res.check("ingest_bulk final read() vs FoldOracle", FoldOracle.diff(last.read(), expected))
    drains.indices.foreach(i => ctx.rm(ctx.path(s"drain-$i")))
    (0 until 3).foreach(r => ctx.rm(ctx.path(s"feed-$r")))
  }
}
