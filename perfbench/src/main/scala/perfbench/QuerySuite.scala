package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** `query_suite`: `SparkEntry.queries` leaves on generated star-schema
  * tables. The six lake-replay leaves are left out (the CDC workloads
  * measure those paths with many more samples), and of each module's
  * remaining leaves in name order every sixth one is kept, so a run fits
  * the benchmark's time budget while every module stays covered.
  *
  * One call runs one leaf twice, each time planned, executed and
  * collected to the driver: the first (cold) run pays code generation and
  * JIT for the leaf's plan, the second (warm) run is the per-query fixed
  * cost plus execution and is the timed sample (cold runs swing with
  * machine load far more than warm ones). The loop runs passes in name
  * order, at least one whole pass; the order is the same for every seed
  * (the seed only changes the tables), so each leaf meets the JVM equally
  * warm in every run. A traced run makes a warm-up pass, then two passes
  * that together trace every leaf once ([[TracePlan.passes]]). After the
  * loop every leaf's first result goes to parquet with its DuckDB oracle
  * SQL, which the runner compares once the JVM has exited.
  *
  * Set-up opens every table and counts its rows, then runs the warm-up
  * scan; generating the tables is the runner's, before the JVM starts.
  */
object QuerySuite {
  val LakeReplay = Set("q23", "q47", "q58", "q85", "q86", "q87")
  val KeepEvery = 6

  def prefix(name: String): String = name.takeWhile(_ != '_')

  /** Which module each leaf mainly exercises (a static map). */
  def module(name: String): String = {
    val p = prefix(name)
    val graph = Set("q18", "q37", "q38", "q43", "q48", "q49", "q50")
    val rdf = Set("q51", "q55", "q56", "q76", "q78", "q79", "q80", "q81", "q82", "q83",
      "q84", "q88", "q89", "q90")
    val vector = Set("qd32", "qd33", "qd39", "qd40", "qd57", "qd59")
    if (graph(p)) "operators.graph"
    else if (rdf(p)) "sources.rdf"
    else if (vector(p) || p.startsWith("qv") || p.startsWith("qm")) "operators.vector"
    else if (p.startsWith("qt") || p == "qd61") "operators.text"
    else if (p.startsWith("qd")) "operators.dedup"
    else if (p.startsWith("qs") || p.startsWith("qc")) "operators.sampling"
    else "operators.relational"
  }

  val Modules = Seq("operators.relational", "operators.graph", "operators.text",
    "operators.dedup", "operators.sampling", "operators.vector", "sources.rdf")

  def leaves: Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.filterNot { case (n, _) => LakeReplay(prefix(n)) }
      .groupBy { case (n, _) => module(n) }.values
      .flatMap(_.sortBy(_._1).zipWithIndex.collect { case (q, i) if i % KeepEvery == 0 => q })
      .toSeq.sortBy(_._1)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val res = ctx.res
    val dir = ctx.opts.tables
    require(dir.nonEmpty && Files.isDirectory(Paths.get(dir)), s"no tables at '$dir'")
    val queries = leaves
    val names = queries.map(_._1)
    val fns = queries.toMap

    val tables = Files.list(Paths.get(dir)).iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted
    ctx.setups() { _ =>
      tables.foreach(t => spark.read.parquet(t).count())
      spark.read.parquet(s"$dir/lineitem.parquet").groupBy("l_returnflag").count().collect()
      ((), 0.0)
    }

    val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val results = mutable.LinkedHashMap[String, (StructType, Array[Row])]()
    val coldS, warmS = mutable.ArrayBuffer[Double]()
    def execute(name: String, i: Int): (StructType, Array[Row], Double) = {
      val t0 = System.nanoTime()
      val (schema, rows) = ctx.span(module(name), i) {
        val df = fns(name)(spark, dir)
        (df.schema, df.collect())
      }
      (schema, rows, (System.nanoTime() - t0) / 1e9)
    }
    val lp = ctx.loop(TracePlan.passes(queries.size), minCalls = queries.size) { i =>
      val name = names(i % names.size)
      val (schema, rows, cold) = execute(name, i)
      val (_, _, dt) = execute(name, i)
      coldS += cold
      warmS += dt
      samples.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += dt
      if (!results.contains(name)) results(name) = (schema, rows)
    }

    val all = warmS.toSeq
    val perQuery = samples.map { case (n, xs) => n -> Stats.median(xs.toSeq) }
    res.e2e("call_p50_s") = (Stats.median(all.indices.filterNot(lp.traced).map(all)), "s")
    res.e2e("rate_per_s") = (all.size / all.sum, "1/s")
    res.named("suite_s", perQuery.values.sum, "s", all.size)
    res.named("query_p50_s", Stats.median(all), "s", all.size)
    res.named("query_p90_s", Stats.pct(all, 90), "s", all.size)
    res.named("suite_cold_s", coldS.sum, "s", coldS.size)
    res.named("query_cold_p50_s", Stats.median(coldS.toSeq), "s", coldS.size)
    res.detail("queries") = perQuery.toSeq.sortBy(_._1).toMap
    Modules.foreach { m =>
      res.layer(m + "_s", perQuery.collect { case (n, v) if module(n) == m => v }.sum, "s")
    }

    if (lp.report != null) {
      Common.traceLayers(ctx, lp)
      val rep = lp.report
      // each traced call holds two runs of its leaf: cold, then warm
      val runs = rep.roots.flatMap(rep.childrenOf)
      val warmRuns = rep.roots.flatMap(rep.childrenOf(_).drop(1))
      res.layer("spark.jobs_per_query", runs.map(rep.jobsIn(_).size).sum.toDouble / runs.size,
        "count")
      res.layer("spark.plan_s",
        Stats.median(warmRuns.map(s => rep.qesIn(s).map(_.planMs).sum / 1e3)), "s")
    }

    val out = ctx.path("verify")
    ctx.rm(out)
    // small single-task writes: run them from a few threads at once
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cpus)
    try results.toSeq.map { case (name, (schema, rows)) =>
      pool.submit(new Runnable {
        def run(): Unit = spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/$name")
      })
    }.foreach(_.get())
    finally pool.shutdown()
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => results.contains(k) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.write(oracle))
  }
}
