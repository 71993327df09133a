package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.feed.EventGen

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, tables: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v
    }.toMap
    def need(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), m.getOrElse("tables", ""))
  }
}

/** Everything a workload needs: the session, the options, the tracer and
  * (in a traced run) Spark's listeners, plus the result being built.
  */
final class Ctx(val spark: SparkSession, val opts: Opts, val cpus: Int) {
  val tracer = new Tracer
  var probe: SparkProbe = _
  var clock: Clock = _
  val res = new Result

  def path(name: String): String = new File(opts.work, name).getAbsolutePath

  def rm(p: String): Unit = Ctx.deleteTree(Paths.get(p))

  def span[T](name: String, batch: Long = -1L)(body: => T): T = tracer.span(name, batch)(body)

  /** Builds the workload's inputs `reps` times, each in a fresh
    * directory, and reports the median as `setup_s`; the last set-up is
    * the one the loop uses. `feed.gen_s` is the median of the part
    * `gen` reports as feed generation.
    */
  def setups[T](reps: Int = 3)(one: Int => (T, Double)): T = {
    val runs = (0 until reps).map { r =>
      val t0 = System.nanoTime()
      val (v, gen) = one(r)
      ((System.nanoTime() - t0) / 1e9, gen, v)
    }
    res.e2e("setup_s") = (Stats.median(runs.map(_._1)), "s")
    res.env("setup_runs_s") = runs.map(_._1)
    res.layer("feed.gen_s", Stats.median(runs.map(_._2)), "s")
    runs.last._3
  }

  /** Registers the tracer and Spark's listeners for one traced call. */
  def startTracing(): Unit = {
    if (probe == null) {
      probe = new SparkProbe(spark)
      clock = new Clock
    }
    probe.start()
    tracer.enabled = true
  }

  /** Waits for the listener bus to deliver the call's events, then
    * unregisters everything, so untraced calls run without listeners.
    */
  def stopTracing(): Unit = {
    tracer.enabled = false
    probe.stop()
  }

  /** Closed loop with one client: the next call starts when the previous
    * one returns. An untraced run calls until `opts.seconds` have passed
    * (and at least `minCalls` ran) or `more` says the inputs are used up.
    * A traced run makes exactly the calls of `plan`, tracing the ones it
    * flags, so its per-layer figures and counts do not depend on host
    * speed and the tracing overhead compares matching calls.
    */
  def loop(plan: TracePlan, minCalls: Int = 1, more: Int => Boolean = _ => true)
          (call: Int => Unit): Loop = {
    val lp = new Loop
    val t0 = System.nanoTime()
    val end = t0 + opts.seconds * 1000000000L
    // a call starts only while it can be expected to end near the deadline
    // (half the previous call may run over), so long calls do not stretch
    // a run far past its measured window
    def fits: Boolean =
      System.nanoTime() + lp.calls.lastOption.map(_ * 0.5e9).getOrElse(0.0) < end
    def go: Boolean =
      if (opts.trace) lp.calls.size < plan.traced.size else fits || lp.calls.size < minCalls
    while (go && more(lp.calls.size) && res.errors.isEmpty) {
      val i = lp.calls.size
      val traced = opts.trace && plan.traced(i)
      if (traced) startTracing()
      val c0 = System.nanoTime()
      res.attempted += 1
      try span("bench.call", i)(call(i))
      catch {
        case e: Throwable =>
          res.failed += 1
          res.errors += s"call $i failed: $e"
          e.printStackTrace()
      }
      lp.calls += ((System.nanoTime() - c0) / 1e9)
      lp.traced += traced
      if (traced) stopTracing()
    }
    if (lp.traced.contains(true)) {
      lp.pairs = plan.pairs.filter { case (u, t) => math.max(u, t) < lp.calls.size }
      lp.report = new TraceReport(tracer, probe, clock)
    }
    lp.wallS = (System.nanoTime() - t0) / 1e9
    res.env("loop_s") = lp.wallS
    lp
  }
}

/** The calls a traced run makes, each flagged traced or not, and the
  * pairs (untraced call, traced call) on matching inputs whose walls give
  * the tracing overhead.
  */
final case class TracePlan(traced: Seq[Boolean], pairs: Seq[(Int, Int)])

object TracePlan {
  /** `warm` untraced warm-up calls, then `groups` groups of untraced,
    * traced, traced, untraced calls; neighbours are paired, so a steady
    * drift in call cost cancels out of the overhead.
    */
  def abba(warm: Int, groups: Int): TracePlan = {
    val traced = Seq.fill(warm)(false) ++ Seq.fill(groups)(Seq(false, true, true, false)).flatten
    val pairs = (0 until groups).flatMap { k =>
      val b = warm + 4 * k
      Seq((b, b + 1), (b + 3, b + 2))
    }
    TracePlan(traced, pairs)
  }

  /** Three passes over the same `n` calls: a warm-up (it takes the cold
    * first runs), then two passes that trace each call once, the odd
    * calls in the first and the even ones in the second. Each call's
    * traced run is paired with its untraced one, so the warming that
    * continues from pass to pass cancels out of the overhead.
    */
  def passes(n: Int): TracePlan = {
    def tracedInPass(j: Int): Int = if (j % 2 == 1) 1 else 2
    TracePlan((0 until 3 * n).map(i => i >= n && i / n == tracedInPass(i % n)),
      (0 until n).map(j => (n * (3 - tracedInPass(j)) + j, n * tracedInPass(j) + j)))
  }
}

object Ctx {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.deleteIfExists(_))
    }
}

/** Per-call walls of one closed loop, flagged traced or not; in a traced
  * run also the overhead pairs that ran and the trace report.
  */
final class Loop {
  val calls = mutable.ArrayBuffer[Double]()
  val traced = mutable.ArrayBuffer[Boolean]()
  var wallS = 0.0
  var pairs: Seq[(Int, Int)] = Nil
  var report: TraceReport = _

  def untracedCalls: Seq[Double] = calls.zip(traced).collect { case (c, false) => c }.toSeq
  def tracedCalls: Seq[Double] = calls.zip(traced).collect { case (c, true) => c }.toSeq
}

/** The record one run prints: end-to-end metrics (untraced run),
  * per-layer metrics (traced run), the named detail metrics with their
  * sample counts, deterministic counts and the correctness verdict.
  */
final class Result {
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  val detail = mutable.LinkedHashMap[String, Any]()
  val counts = mutable.LinkedHashMap[String, Long]()
  val env = mutable.LinkedHashMap[String, Any]()
  val errors = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  /** A named detail metric: value, unit and the samples behind it. */
  def named(name: String, value: Double, unit: String, samples: Int): Unit =
    detail(name) = Map("value" -> value, "unit" -> unit, "samples" -> samples)

  def layer(name: String, value: Double, unit: String): Unit = layers(name) = (value, unit)

  def count(name: String, value: Long): Unit = {
    counts(name) = value
    layers(name) = (value.toDouble, "count")
  }

  def check(what: String, mismatches: Seq[String]): Unit =
    if (mismatches.nonEmpty)
      errors += s"$what: ${mismatches.size} mismatches, e.g. ${mismatches.take(3).mkString("; ")}"

  def toJson: String = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    Json.write(mutable.LinkedHashMap[String, Any](
      "correct" -> errors.isEmpty,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toSeq,
      "end_to_end" -> metrics(e2e),
      "per_layer" -> metrics(layers),
      "detail" -> detail,
      "counts" -> counts,
      "env" -> env))
  }
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "ingest_bulk" -> IngestBulk.run,
    "trickle_rw" -> TrickleRw.run,
    "query_suite" -> QuerySuite.run)

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val wl = Workloads.getOrElse(opts.workload,
      throw new IllegalArgumentException(s"unknown workload ${opts.workload}"))
    val cpus = Runtime.getRuntime.availableProcessors()
    val local = new File(opts.work, "spark-local").getAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", new File(opts.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, opts, cpus)
    val env = ctx.res.env
    env("workload") = opts.workload
    env("seed") = opts.seed
    env("seconds") = opts.seconds
    env("trace") = opts.trace
    env("nproc") = cpus
    env("heap_bytes") = Runtime.getRuntime.maxMemory()
    env("lake_dir") = new File(opts.work).getAbsolutePath
    env("shuffle_dir") = local
    env("spark_version") = spark.version
    env("java_version") = System.getProperty("java.version")
    env("host.ref_s") = hostRef(ctx)
    val t0 = System.nanoTime()
    try wl(ctx)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.res.errors += s"workload aborted: $e"
    }
    env("workload_wall_s") = (System.nanoTime() - t0) / 1e9
    println("PERFBENCH_RESULT " + ctx.res.toJson)
    System.out.flush()
    spark.stop()
  }

  /** A fixed CPU-bound Spark job (splitmix64 over a counter range on
    * every core): the same work in every run, so uniform machine drift
    * shows as a change in this figure. Median of three.
    */
  def hostRef(ctx: Ctx): Double = {
    val n = 1000000L * ctx.cpus
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      ctx.spark.sparkContext.range(0L, n, 1L, ctx.cpus)
        .map { i =>
          var h = i
          var k = 0
          while (k < 8) { h = EventGen.mix64(h); k += 1 }
          h
        }.reduce(_ ^ _)
      (System.nanoTime() - t0) / 1e9
    }
    val ref = Stats.median(times)
    ctx.res.layer("host.ref_s", ref, "s")
    ref
  }
}
