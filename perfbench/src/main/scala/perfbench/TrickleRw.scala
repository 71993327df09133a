package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.feed.{ChangeFeed, EventGen, FeedConfig}
import graft.lake.{JoinView, LakeTable, MatView}
import graft.model.Schemas
import graft.stream.CdcIngest
import graft.verify.FoldOracle

/** `trickle_rw`: one writer and one reader share a bucketed lake, and
  * the writer keeps three views fresh. Each call is one round:
  *  1. the writer commits a batch to the base table through
  *     `CdcIngest.applyBatch` and runs the `compactionCandidates` →
  *     `compactBuckets` policy, then commits a small batch to a second
  *     (scores) table;
  *  2. it folds a decomposable `MatView` of sums, a `MatView` of
  *     min/max/count(distinct) (the recompute path) and a `JoinView` of
  *     base ⟕ scores — the view lag runs from the round's start to the
  *     last fold;
  *  3. the reader runs point lookups, a batched `lookupAll`, a
  *     `changesBetween` tail of the commit and, on a cadence, a full
  *     merged `read()`.
  * A traced run makes four rounds, untraced, traced, traced, untraced:
  * neighbours are paired for the overhead, and each half holds one
  * round with the merged `read()`.
  */
object TrickleRw {
  val Keys = 50000L
  val Bootstrap = 50000L
  val Batch = 10000L
  val ScoresBootstrap = 10000L
  val ScoresBatch = 2000L
  val MaxBatches = 4
  val Buckets = 8
  val MaxFilesPerBucket = 2
  val Lookups = 4
  val LookupAllKeys = 16
  val ScanEvery = 2
  /** Rounds every run makes; the deterministic counts cover exactly these. */
  val CountedCalls = 2

  def docsConfig(seed: Long): FeedConfig = FeedConfig(seed = seed,
    numEvents = Bootstrap + MaxBatches * Batch, numDocs = Keys, deletePct = 5, maxTokens = 16)

  def scoresConfig(seed: Long): FeedConfig = FeedConfig(seed = EventGen.mix64(seed ^ 0x5C0E5L),
    numEvents = ScoresBootstrap + MaxBatches * ScoresBatch, numDocs = Keys, deletePct = 3,
    maxTokens = 4)

  val ScoresFeed: StructType = StructType(Seq(
    StructField("op", StringType, nullable = false),
    StructField("doc_id", StringType, nullable = false),
    StructField("lsn", LongType, nullable = false),
    StructField("quality", IntegerType, nullable = true),
    StructField("judge", StringType, nullable = true)))

  val ScoresTable: StructType = StructType(ScoresFeed.fields.filterNot(f =>
    f.name == "op" || f.name == "lsn"))

  val Sums = Seq("sum_tok0" -> "element_at(tokens, 1)", "sum_ntok" -> "n_tok")
  val Recomputed = Seq("min_tok0" -> "min(element_at(tokens, 1))",
    "max_tok0" -> "max(element_at(tokens, 1))", "n_lens" -> "count(distinct n_tok)")

  /** Scores feed: change events of a second generator, payload reduced to
    * (quality, judge), one directory per batch.
    */
  def writeScores(spark: SparkSession, cfg: FeedConfig, dir: String): Unit =
    ChangeFeed.events(spark, cfg).toDF()
      .select(col("op"), col("doc_id"), col("lsn"),
        (element_at(col("tokens"), 1) % 1000).cast("int").as("quality"),
        when(col("op") === "D", lit(null)).otherwise(col("source")).as("judge"),
        when(col("lsn") < ScoresBootstrap, lit(-1L))
          .otherwise(floor((col("lsn") - ScoresBootstrap) / ScoresBatch)).as("batch"))
      .repartition(col("batch"))
      .write.partitionBy("batch").parquet(dir)

  final class State(val dir: String, val docs: LakeTable, val scores: LakeTable,
                    val sums: MatView, val rec: MatView, val join: JoinView)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val res = ctx.res
    val dcfg = docsConfig(ctx.opts.seed)
    val st = ctx.setups() { r =>
      val dir = ctx.path(s"setup-$r")
      ctx.rm(dir)
      val t0 = System.nanoTime()
      Common.writeBatchedFeed(spark, dcfg, s"$dir/docs-feed", Bootstrap, Batch)
      writeScores(spark, scoresConfig(ctx.opts.seed), s"$dir/scores-feed")
      val gen = (System.nanoTime() - t0) / 1e9
      val docs = LakeTable.create(spark, s"$dir/docs", Schemas.docRow, numBuckets = Buckets)
      val scores = LakeTable.create(spark, s"$dir/scores", ScoresTable, numBuckets = Buckets)
      CdcIngest.applyBatch(docs,
        Common.readBatch(spark, s"$dir/docs-feed", Schemas.changeEvent, -1L), epochId = 0L)
      CdcIngest.applyBatch(scores,
        Common.readBatch(spark, s"$dir/scores-feed", ScoresFeed, -1L), epochId = 0L)
      val sums = MatView.create(spark, s"$dir/v-sums", docs, Seq("source"), sums = Sums,
        numBuckets = 4)
      val rec = MatView.create(spark, s"$dir/v-rec", docs, Seq("source"),
        recomputed = Recomputed, numBuckets = 4)
      val join = JoinView.create(spark, s"$dir/v-join", docs, scores)
      sums.maintain()
      rec.maintain()
      join.catchUp()
      (new State(dir, docs, scores, sums, rec, join), gen)
    }
    val table = st.docs
    val views = Seq(st.sums.table, st.rec.table, st.join.table)
    val viewSnaps0 = views.map(_.snapshots.size).sum

    val rng = new scala.util.Random(ctx.opts.seed)
    val commitS, lagS, foldSumS, foldRecS, foldJoinS = mutable.ArrayBuffer[Double]()
    val lookupS, lookupAllS, tailS, scanS = mutable.ArrayBuffer[Double]()
    val snapAfter = mutable.ArrayBuffer[Long]()
    val probeKeys = mutable.ArrayBuffer[String]()
    def timed[T](buf: mutable.ArrayBuffer[Double])(body: => T): T = {
      val t0 = System.nanoTime()
      val v = body
      buf += (System.nanoTime() - t0) / 1e9
      v
    }
    // half the probes hit keys the batch just wrote, half any key
    def keysFor(i: Int, n: Int): Seq[String] = (0 until n).map { j =>
      if (j % 2 == 0) EventGen.docIdAt(dcfg, Bootstrap + i * Batch + rng.nextInt(Batch.toInt))
      else f"doc_${rng.nextInt(Keys.toInt)}%012d"
    }

    val batches = (0 until MaxBatches).map(i => (
      Common.readBatch(spark, s"${st.dir}/docs-feed", Schemas.changeEvent, i.toLong),
      Common.readBatch(spark, s"${st.dir}/scores-feed", ScoresFeed, i.toLong)))
    val lp = ctx.loop(TracePlan.abba(warm = 0, groups = 1), minCalls = CountedCalls,
        more = _ < MaxBatches) { i =>
      val (d, s) = batches(i)
      val t0 = System.nanoTime()
      val before = ctx.span("lake.snapshot_id", i)(table.currentSnapshotId)
      timed(commitS) {
        ctx.span("stream.apply_batch", i)(CdcIngest.applyBatch(table, d, epochId = i + 1L))
        val victims = ctx.span("lake.compaction_candidates", i) {
          table.compactionCandidates(MaxFilesPerBucket)
        }
        if (victims.nonEmpty) ctx.span("lake.compact", i)(table.compactBuckets(victims))
      }
      val after = ctx.span("lake.snapshot_id", i)(table.currentSnapshotId)
      snapAfter += after
      ctx.span("stream.apply_batch", i)(CdcIngest.applyBatch(st.scores, s, epochId = i + 1L))
      timed(foldSumS)(ctx.span("lake.fold.matview_sum", i)(st.sums.maintain()))
      timed(foldRecS)(ctx.span("lake.fold.matview_recompute", i)(st.rec.maintain()))
      timed(foldJoinS)(ctx.span("lake.fold.joinview", i)(st.join.catchUp()))
      lagS += (System.nanoTime() - t0) / 1e9
      val keys = keysFor(i, Lookups)
      probeKeys += keys.head
      keys.foreach(k => timed(lookupS)(ctx.span("lake.lookup", i)(table.lookup(k).collect())))
      timed(lookupAllS)(ctx.span("lake.lookup_all", i)(
        table.lookupAll(keysFor(i, LookupAllKeys)).collect()))
      timed(tailS)(ctx.span("lake.changes", i)(table.changesBetween(before, after).collect()))
      if (i % ScanEvery == ScanEvery - 1)
        timed(scanS)(ctx.span("lake.read", i)(
          table.read().agg(count(lit(1)), sum(col("n_tok"))).collect()))
    }

    val n = lp.calls.size
    val events = n * Batch
    res.e2e("call_p50_s") = (Stats.median(lp.untracedCalls), "s")
    res.e2e("rate_per_s") = (events / lp.calls.sum, "1/s")
    def named(name: String, xs: mutable.ArrayBuffer[Double], p: Double = 50): Unit =
      res.named(name, Stats.pct(xs.toSeq, p), "s", xs.size)
    named("commit_p50_s", commitS)
    named("commit_p90_s", commitS, 90)
    named("view_lag_p50_s", lagS)
    named("view_lag_p90_s", lagS, 90)
    named("fold_matview_sum_p50_s", foldSumS)
    named("fold_matview_recompute_p50_s", foldRecS)
    named("fold_joinview_p50_s", foldJoinS)
    named("lookup_p50_s", lookupS)
    named("lookup_p90_s", lookupS, 90)
    named("lookup_all_p50_s", lookupAllS)
    named("tail_p50_s", tailS)
    named("scan_p50_s", scanS)
    res.named("ingest_eps", events / lp.calls.sum, "1/s", n)
    res.named("store_bytes_per_event", Common.liveBytes(table).toDouble / (Bootstrap + events),
      "bytes", 1)

    // deterministic counts over the first CountedCalls rounds, read back
    // from the snapshot logs and the planner after the loop
    val snaps = table.snapshots
    val upto = snapAfter(CountedCalls - 1)
    val counted = snaps.filter(s => s.snapshotId > snaps.head.snapshotId && s.snapshotId <= upto)
    val upserts = counted.filter(_.summary.get("operation").contains("upsert"))
    val compacts = counted.filter(_.summary.get("operation").contains("compact"))
    res.count("lake.files_written_per_commit", upserts.map(_.addedData.size).sum / upserts.size)
    res.count("lake.compactions", compacts.size.toLong)
    res.layer("lake.compact_bytes_rewritten",
      compacts.flatMap(_.addedData).map(_.bytes).sum.toDouble / CountedCalls, "bytes")
    val live = (0 until CountedCalls).map(i => table.liveFiles(Some(snapAfter(i))).size)
    res.layer("lake.live_files", live.sum.toDouble / CountedCalls, "count")
    val perLookup = (0 until CountedCalls).map(i =>
      table.lookup(probeKeys(i), Some(snapAfter(i))).inputFiles.length)
    res.count("lake.files_per_lookup_total", perLookup.sum.toLong)
    res.layer("lake.files_per_lookup", perLookup.sum.toDouble / CountedCalls, "count")
    views.foreach(_.refresh())
    res.layer("lake.fold_commits", (views.map(_.snapshots.size).sum - viewSnaps0).toDouble / n,
      "count")

    if (lp.report != null) {
      Common.traceLayers(ctx, lp)
      val rep = lp.report
      val applies = rep.named("stream.apply_batch")
      res.layer("stream.apply_batch_s", Stats.median(applies.map(_.durNs / 1e9)), "s")
      res.layer("spark.jobs_per_commit",
        applies.map(rep.jobsIn(_).size).sum.toDouble / applies.size, "count")
      res.layer("lake.driver_s", applies.map(rep.driverS).sum / applies.size, "s")
      val lookups = rep.named("lake.lookup")
      val read = ctx.probe.stagesOf(lookups.flatMap(rep.jobsIn)).map(_.recordsRead).sum
      res.layer("lake.rows_scanned_per_lookup", read.toDouble / lookups.size, "count")
      res.layer("lake.compact_s",
        rep.named("lake.compact").map(_.durNs / 1e9).sum / lp.tracedCalls.size, "s")
      val folds = rep.named("lake.fold.")
      Seq("matview_sum", "matview_recompute", "joinview").foreach { k =>
        res.layer(s"lake.fold_s.$k",
          Stats.median(rep.named(s"lake.fold.$k").map(_.durNs / 1e9)), "s")
      }
      res.layer("lake.fold_driver_s", folds.map(rep.driverS).sum / folds.size, "s")
      res.layer("lake.fold_files_read",
        folds.flatMap(rep.qesIn).map(_.filesRead).sum.toDouble / folds.size, "count")
      res.layer("spark.jobs_per_fold",
        folds.map(rep.jobsIn(_).size).sum.toDouble / folds.size, "count")
    }

    check(ctx, st, dcfg, n, rng)
    (0 until 3).foreach(r => ctx.rm(ctx.path(s"setup-$r")))
  }

  /** The base against the fold oracle (full read and a `lookupAll`
    * sample), each view against a from-scratch computation over the base
    * winners.
    */
  def check(ctx: Ctx, st: State, dcfg: FeedConfig, n: Int, rng: scala.util.Random): Unit = {
    val res = ctx.res
    val expected = FoldOracle.finalState(dcfg.copy(numEvents = Bootstrap + n * Batch))
    res.check("trickle_rw base read() vs FoldOracle", FoldOracle.diff(st.docs.read(), expected))
    val sample = (0 until 64).map(_ => f"doc_${rng.nextInt(Keys.toInt)}%012d").distinct
    res.check("trickle_rw lookupAll vs FoldOracle", FoldOracle.diff(st.docs.lookupAll(sample),
      expected.filter { case (k, _) => sample.contains(k) }))
    val base = st.docs.read()
    val sumCols = Seq("source", "cnt", "sum_tok0", "sum_ntok")
    val sumsExp = base.groupBy("source").agg(count(lit(1)).as("cnt"),
      sum(coalesce(element_at(col("tokens"), 1).cast("long"), lit(0L))).as("sum_tok0"),
      sum(coalesce(col("n_tok").cast("long"), lit(0L))).as("sum_ntok"))
    res.check("trickle_rw MatView sums", Common.diffRows("sums",
      st.sums.read().select(sumCols.map(col): _*).collect().toSeq,
      sumsExp.select(sumCols.map(col): _*).collect().toSeq))
    val recCols = Seq("source", "cnt", "min_tok0", "max_tok0", "n_lens")
    val recExp = base.groupBy("source").agg(count(lit(1)).as("cnt"),
      min(element_at(col("tokens"), 1)).as("min_tok0"),
      max(element_at(col("tokens"), 1)).as("max_tok0"),
      countDistinct(col("n_tok")).as("n_lens"))
    res.check("trickle_rw MatView min/max/count(distinct)", Common.diffRows("recomputed",
      st.rec.read().select(recCols.map(col): _*).collect().toSeq,
      recExp.select(recCols.map(col): _*).collect().toSeq))
    val joinCols = Seq("doc_id", "tokens", "n_tok", "source", "quality", "judge")
    val joinExp = base.join(st.scores.read(), Seq("doc_id"), "left")
    res.check("trickle_rw JoinView", Common.diffRows("join",
      st.join.read().select(joinCols.map(col): _*).collect().toSeq,
      joinExp.select(joinCols.map(col): _*).collect().toSeq))
  }
}
