package perfbench

import java.nio.file.{Files, Path, Paths}

import graft.{Bench, Pipeline, SparkEntry}
import graft.operators._
import graft.sources.LayerStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run in one JVM: set up, measure one workload, check
  * its outputs, and write the result as JSON for perfbench/run.py.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --src DIR
  *       --deltas DIR --work DIR --out FILE --hashes FILE
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, src: String, deltas: String, work: String, out: String,
      hashes: String)

  final case class Metric(name: String, value: Double, unit: String)

  /** What a workload hands back: metrics, the ops it attempted and
    * failed, and every failed output check. */
  final class Outcome {
    val metrics = collection.mutable.ArrayBuffer.empty[Metric]
    val problems = collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    def metric(name: String, value: Double, unit: String): Unit = metrics += Metric(name, value, unit)
    def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what
  }

  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("src"), m.getOrElse("deltas", ""), m("work"), m("out"), m.getOrElse("hashes", ""))
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    // progress lines with JVM uptime, for the run's jvm.log
    def phase(p: String): Unit = println(
      f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs $p")
    phase("start")
    val setups = collection.mutable.ArrayBuffer.empty[Double]
    // the program's own session factory, several times: the median
    // set-up is steady, and a change to the factory shows in it
    def session(): SparkSession = {
      val (spark, s) = seconds(Bench.session()._1)
      setups += s
      spark.sparkContext.setLogLevel("ERROR")
      spark
    }
    var spark = session()
    for (_ <- 1 until SetupRepeats) { spark.stop(); spark = session() }
    phase("sessions " + setups.map(x => f"$x%.1f").mkString(","))
    val tr = new Tracer(spark.sparkContext, o.trace)
    val out = new Outcome
    try o.workload match {
      case "etl" => Etl.run(spark, tr, o, out)
      case "query_surface" => QuerySurface.run(spark, tr, o, out)
      case "setup" => // sessions only: run.py dumps its class-data archive so
      case w => out.problems += s"unknown workload $w"
    } catch {
      case e: Throwable =>
        out.problems += s"workload aborted: $e"
        e.printStackTrace()
    }
    phase("workload done")
    out.metric("setup_s", median(setups.toSeq), "s")
    if (o.trace) out.metric("jvm.peak_rss_mb", peakRssMb(), "MB")
    writeResult(o, spark, out)
    spark.stop()
  }

  val SetupRepeats = 5

  /** The typical op: unlike the median of a handful of unlike ops, it
    * does not jump when two ops of similar cost swap places. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** A reading of the benchmark's clock: wall time, and the CPU time
    * of the whole host (jiffies over all cores) that /proc/stat counts
    * as busy and as stolen by the hypervisor. */
  final case class Mark(nanos: Long, busy: Long, steal: Long)

  def mark(): Mark = {
    val (busy, steal) = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      // cpu user nice system idle iowait irq softirq steal ...
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally src.close()
      (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    } catch { case _: Exception => (0L, 0L) }
    Mark(System.nanoTime(), busy, steal)
  }

  /** Seconds since `m`, less the share of the host's CPU time that was
    * stolen meanwhile. On a shared virtual machine the neighbours' load
    * shows as steal and stretches every phase; scaling by
    * busy / (busy + steal) takes most of that out, and where nothing is
    * stolen this is the wall time. */
  def since(m: Mark): Double = {
    val n = mark()
    val wall = (n.nanos - m.nanos) / 1e9
    val (busy, steal) = (n.busy - m.busy, n.steal - m.steal)
    if (busy + steal <= 0) wall else wall * busy / (busy + steal)
  }

  def seconds[T](body: => T): (T, Double) = {
    val m = mark()
    val r = body
    (r, since(m))
  }

  def freshDir(p: Path): Path = {
    deleteTree(p)
    Files.createDirectories(p)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.list(p)
      try s.toArray.foreach(c => deleteTree(c.asInstanceOf[Path])) finally s.close()
    }
    Files.delete(p)
  }

  private def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def writeResult(o: Opts, spark: SparkSession, out: Outcome): Unit = {
    val conf = spark.conf
    val env = Seq(
      "cores" -> spark.sparkContext.defaultParallelism.toString,
      "master" -> spark.sparkContext.master,
      "heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "scheduler_mode" -> conf.getOption("spark.scheduler.mode").getOrElse("FIFO"),
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "input_dir" -> o.src,
      "seed" -> o.seed.toString,
      "java" -> System.getProperty("java.version"))
    val text = Seq(
      "\"correct\":" + out.problems.isEmpty,
      "\"attempted\":" + out.attempted,
      "\"failed\":" + out.failed,
      "\"problems\":" + out.problems.map(json).mkString("[", ",", "]"),
      "\"metrics\":" + out.metrics.map(m =>
        json(m.name) + ":{\"value\":" + num(m.value) + ",\"unit\":" + json(m.unit) + "}")
        .mkString("{", ",", "}"),
      "\"env\":" + env.map { case (k, v) => json(k) + ":" + json(v) }.mkString("{", ",", "}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(o.out), text + "\n")
  }
}

/** The ETL workload: one full-refresh medallion pass over the dirtied
  * source, then a closed loop of lineitem deltas refreshed
  * incrementally into the store that pass built. */
object Etl {
  import Main._

  val Keys = Seq("l_orderkey", "l_linenumber")
  val Marts = Seq("monthly_sales", "inventory_health", "supplier_monthly", "dashboard")

  def run(spark: SparkSession, tr: Tracer, o: Opts, out: Outcome): Unit = {
    val root = freshDir(Paths.get(o.work, "store")).toString
    val store = new LayerStore(spark, root)
    val runId = s"perfbench-${o.seed}"

    // ---- full refresh: Pipeline.run's layer gating, gold steps in runGold's order
    val (layers, buildS) = seconds {
      val bronze = tr.span("bronze")(Pipeline.runBronze(spark, store, o.src))
      val silver = if (bronze.ok) tr.span("silver")(Pipeline.runSilver(spark, store, runId))
        else Pipeline.LayerResult("silver", ok = false, 0, 0, 0)
      // runGold's failure rule: an exception makes the layer not ok
      val gold = silver.ok && (try {
        tr.span("gold.marts")(goldMarts(store))
        tr.span("gold.dq")(dq(store))
        true
      } catch { case e: Throwable => out.problems += s"gold failed: $e"; false })
      Seq("bronze" -> bronze.ok, "silver" -> silver.ok, "gold" -> gold)
    }
    out.attempted += 1
    layers.foreach { case (l, ok) => out.check(ok, s"layer $l not ok") }
    if (!layers.forall(_._2)) { out.failed += 1; return }
    checkFullRefresh(store, out)

    // ---- incremental: one delta per op until the time is up
    val deltas = Option(new java.io.File(o.deltas).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val opS = collection.mutable.ArrayBuffer.empty[Double]
    var deltaBytes = 0L
    val loopMark = mark()
    val it = deltas.iterator
    while (it.hasNext && (opS.isEmpty || (System.nanoTime() - loopMark.nanos) / 1e9 < o.seconds)) {
      val f = it.next()
      out.attempted += 1
      try {
        val delta = spark.read.parquet(f.getPath).persist()
        delta.count()
        opS += seconds(refresh(spark, tr, store, delta))._2
        deltaBytes += f.length()
        delta.unpersist()
      } catch {
        case e: Throwable =>
          out.failed += 1
          out.problems += s"delta ${f.getName} failed: $e"
      }
    }
    val loopS = since(loopMark)
    checkIncremental(store, out)

    out.metric("build_s", buildS, "s")
    out.metric("op_geomean_s", geomean(opS.toSeq), "s")
    out.metric("ops_per_s", opS.size / loopS, "1/s")
    if (tr.on) {
      val full = Seq("bronze", "silver", "gold.marts", "gold.dq")
      val inc = Seq("inc.upsert", "inc.silver", "inc.monthly", "inc.supplier", "inc.dashboard")
      (full ++ inc).foreach(s => spanMetrics(tr, s, out))
      out.metric("pipeline.excl_forecast_s", full.map(tr.secondsOf).sum, "s")
      val written = inc.map(s => tr.cost(s).outputBytes.get).sum
      out.metric("inc.write_amp", written.toDouble / math.max(1L, deltaBytes), "ratio")
      traceOverhead(tr, buildS + opS.sum, out)
    }
  }

  /** The tracing's own work on the listener thread, as a share of the
    * traced wall time; the traced end-to-end figures are reported too,
    * so they can be set against an untraced run of the same seed. */
  def traceOverhead(tr: Tracer, measuredS: Double, out: Outcome): Unit = {
    Seq("build_s", "op_geomean_s").foreach { m =>
      out.metrics.find(_.name == m).foreach(x => out.metric(s"trace.$m", x.value, x.unit))
    }
    out.metric("trace.listener_s", tr.listenerSeconds, "s")
    out.metric("trace.overhead_pct", 100.0 * tr.listenerSeconds / measuredS, "%")
  }

  def spanMetrics(tr: Tracer, span: String, out: Outcome): Unit = {
    val c = tr.cost(span)
    out.metric(s"$span.s", tr.secondsOf(span), "s")
    out.metric(s"$span.jobs", c.jobs.get.toDouble, "count")
    out.metric(s"$span.tasks", c.tasks.get.toDouble, "count")
    out.metric(s"$span.shuffle_bytes", c.shuffleBytes.get.toDouble, "bytes")
    out.metric(s"$span.spill_bytes", c.spillBytes.get.toDouble, "bytes")
    out.metric(s"$span.output_bytes", c.outputBytes.get.toDouble, "bytes")
  }

  /** runGold's four mart writes, with its per-call materializer. */
  def goldMarts(store: LayerStore): Unit = {
    val resolve = graft.PerfbenchAccess.goldResolver(store)
    val pinned = collection.mutable.ArrayBuffer.empty[DataFrame]
    val mat: DataFrame => DataFrame = df => { val p = df.persist(); p.count(); pinned += p; p }
    try {
      store.write("gold", "monthly_sales", GoldMarts.monthlySalesFrom(resolve, mat))
      store.write("gold", "inventory_health", GoldMarts.inventoryHealthFrom(resolve))
      store.write("gold", "supplier_monthly", GoldMarts.supplierMonthlyFrom(resolve, mat))
      store.write("gold", "dashboard", GoldMarts.dashboardFrom(resolve))
    } finally pinned.foreach(_.unpersist())
  }

  /** runGold's last step: the 12 DQ checks over the written marts. */
  def dq(store: LayerStore): Unit = {
    val checks = DqChecks.checksOver(
      store.table("gold", "monthly_sales"), store.table("gold", "supplier_monthly"))
    store.write("audit", "dq_results", checks)
    checks.filter(!col("passed")).count()
  }

  /** One delta through bronze, silver and the three mart refreshes. */
  def refresh(spark: SparkSession, tr: Tracer, store: LayerStore, delta: DataFrame): Unit = {
    tr.span("inc.upsert")(store.upsert("bronze", "lineitem", delta, Keys, "l_orderkey"))
    tr.span("inc.silver")(Pipeline.refreshSilverLineitem(spark, store, delta))
    tr.span("inc.monthly") {
      val orders = graft.PerfbenchAccess.goldResolver(store)("orders")
      Pipeline.refreshMonthlySales(spark, store,
        orders.join(delta.select(col("l_orderkey").as("o_orderkey")).distinct(),
          Seq("o_orderkey"), "left_semi"))
    }
    tr.span("inc.supplier")(Pipeline.refreshSupplierMarts(spark, store, delta))
    tr.span("inc.dashboard")(Pipeline.refreshDashboard(spark, store, delta))
  }

  /** Every silver entity step accounts for its input, and all 12 DQ
    * checks were recorded. */
  def checkFullRefresh(store: LayerStore, out: Outcome): Unit = {
    val steps = store.table("audit", "etl_steps").collect()
    out.check(steps.length == 6, s"audit.etl_steps has ${steps.length} rows, expected 6")
    steps.foreach { r =>
      val (in, clean, rej) = (r.getAs[Long]("input_count"), r.getAs[Long]("output_count"),
        r.getAs[Long]("rejected_count"))
      out.check(clean + rej == in,
        s"${r.getAs[String]("table_name")}: clean $clean + rejected $rej != input $in")
    }
    // the 1:1 entities read exactly their deduplicated bronze table
    Seq("suppliers" -> "supplier", "products" -> "part", "retail_stores" -> "customer",
      "warehouses" -> "nation").foreach { case (entity, bronze) =>
      val in = steps.find(_.getAs[String]("table_name") == entity).map(_.getAs[Long]("input_count"))
      val n = store.table("bronze", bronze).count()
      out.check(in.contains(n), s"$entity input $in != bronze.$bronze rows $n")
    }
    val rejected = steps.map(_.getAs[Long]("rejected_count")).sum
    out.check(rejected > 0, "the dirtied source produced no rejected rows")
    val dqRows = store.table("audit", "dq_results").count()
    out.check(dqRows == 12, s"audit.dq_results has $dqRows rows, expected 12")
  }

  /** After the last delta the stored marts equal a from-scratch build
    * over the same silver tables (untimed). */
  def checkIncremental(store: LayerStore, out: Outcome): Unit = {
    val resolve = graft.PerfbenchAccess.goldResolver(store)
    val fresh = Map(
      "monthly_sales" -> GoldMarts.monthlySalesFrom(resolve, identity),
      "inventory_health" -> GoldMarts.inventoryHealthFrom(resolve),
      "supplier_monthly" -> GoldMarts.supplierMonthlyFrom(resolve, identity),
      "dashboard" -> GoldMarts.dashboardFrom(resolve))
    Marts.foreach { m =>
      val (got, want) = (Bench.frameHash(store.table("gold", m)), Bench.frameHash(fresh(m)))
      out.check(got == want, s"incremental gold.$m $got != from-scratch $want")
    }
    val silver = Bench.frameHash(store.table("silver", "lineitem"))
    val recleaned = Bench.frameHash(store.table("bronze", "lineitem").filter(col("l_quantity") > 0))
    out.check(silver == recleaned, s"incremental silver.lineitem $silver != re-clean $recleaned")
  }
}

/** The query workload: build the forecast-family prep artifacts into
  * a fresh alias of the source dir, then run a fixed sample of the
  * query surface in a seeded order, each query materialized through
  * Bench.frameHash (every column, like Bench's noop sink, plus an
  * order-independent content hash the checks compare). */
object QuerySurface {
  import Main._

  /** Query modules, in SparkEntry's order. */
  val modules: Seq[(String, graft.QueryModule)] = Seq(
    "GoldMarts" -> GoldMarts, "Eda" -> Eda, "SilverClean" -> SilverClean,
    "SilverLayer" -> SilverLayer, "TextOps" -> TextOps, "CorpusOps" -> CorpusOps,
    "VectorOps" -> VectorOps, "EventOps" -> EventOps, "Forecast" -> Forecast,
    "GlobalAR" -> GlobalAR, "Forecasting" -> Forecasting, "Backtest" -> Backtest,
    "DqChecks" -> DqChecks, "Multimodal" -> Multimodal)

  /** The preps this workload builds: the demand series and the
    * grouped backtest engine. The other eight preps do not fit the
    * run budget (perfbench/README.md). */
  val Preps = Seq("prep_demand_series", "prep_forecast_backtest")

  /** One query per module: the one of median cold cost in its module.
    * Where that query would read a prep this workload does not build,
    * the next one that does not is taken. GoldMarts, SilverLayer and
    * DqChecks are left to the etl workload, which runs them as
    * pipeline layers. */
  val Queries = Seq(
    "q153_mann_kendall", "q41_store_performance", "q111_quality_budget",
    "q92_oov_profile", "q87_ann_sq8", "q122_scd2_history", "q34_gapfill_series",
    "q55_forecast_global_ar_weekly", "q70_forecast_levels", "q82_model_selection",
    "q163_image_near_dup")

  /** The span of a query: its defining module (the first in SparkEntry's
    * order, for the queries DqChecks shares with GoldMarts). */
  def moduleOf(q: String): String =
    modules.collectFirst { case (n, m) if m.queries.contains(q) => n }.getOrElse("unknown")

  /** A fresh symlink to the source: prep memos key on the dir string,
    * so every alias rebuilds its artifacts over the same bytes. */
  def alias(o: Opts, name: String): String = {
    val a = Paths.get(o.work, name)
    deleteTree(a)
    Files.createSymbolicLink(a, Paths.get(o.src).toAbsolutePath)
    a.toString
  }

  def run(spark: SparkSession, tr: Tracer, o: Opts, out: Outcome): Unit = {
    val preps = Bench.prepStages.filter(p => Preps.contains(p._1))
    val dir = alias(o, "alias")
    val (_, buildS) = seconds(preps.foreach { case (label, prep) =>
      tr.span(s"prep.$label")(prep(spark, dir))
    })
    out.attempted += 1

    val order = new scala.util.Random(o.seed).shuffle(Queries)
    val fns = SparkEntry.queries
    val spans = Queries.map(q => q -> s"mod.${moduleOf(q)}").toMap
    val hashes = collection.mutable.LinkedHashMap.empty[String, String]
    val lat = collection.mutable.ArrayBuffer.empty[Double]
    val loopMark = mark()
    var i = 0
    while (i < order.size || (System.nanoTime() - loopMark.nanos) / 1e9 < o.seconds) {
      val q = order(i % order.size)
      out.attempted += 1
      try {
        val (h, s) = seconds(tr.span(spans(q))(Bench.frameHash(fns(q)(spark, dir))))
        lat += s
        hashes.get(q) match {
          case Some(prev) => out.check(prev == h, s"$q hash changed within the run: $prev -> $h")
          case None => hashes(q) = h
        }
      } catch {
        case e: Throwable =>
          out.failed += 1
          out.problems += s"$q failed: $e"
      }
      i += 1
    }
    val loopS = since(loopMark)
    checkAgainstEarlierRuns(o, hashes.toMap, out)

    out.metric("build_s", buildS, "s")
    out.metric("op_geomean_s", geomean(lat.toSeq), "s")
    out.metric("ops_per_s", lat.size / loopS, "1/s")
    if (tr.on) {
      Etl.traceOverhead(tr, buildS + loopS, out)
      preps.foreach { case (label, _) =>
        out.metric(s"prep.$label.s", tr.secondsOf(s"prep.$label"), "s")
      }
      modules.foreach { case (m, _) =>
        out.metric(s"mod.$m.s", tr.secondsOf(s"mod.$m"), "s")
        out.metric(s"mod.$m.jobs", tr.cost(s"mod.$m").jobs.get.toDouble, "count")
      }
      checkPrepsRebuild(spark, tr, o, preps, out)
    }
  }

  /** The memo trap: a second build in the same session must do real
    * work, or a repeated op would time cache hits. Every prep span of
    * a build into a second alias has to run Spark jobs. */
  def checkPrepsRebuild(spark: SparkSession, tr: Tracer, o: Opts,
      preps: Seq[(String, (SparkSession, String) => Unit)], out: Outcome): Unit = {
    val dir = alias(o, "alias2")
    preps.foreach { case (label, prep) =>
      tr.span(s"rebuild.$label")(prep(spark, dir))
      val jobs = tr.cost(s"rebuild.$label").jobs.get
      out.check(jobs > 0, s"$label rebuilt into a fresh alias ran $jobs jobs (memo hit)")
    }
  }

  /** Row counts and content hashes must match every earlier run of the
    * same seed over the same program sources. */
  def checkAgainstEarlierRuns(o: Opts, hashes: Map[String, String], out: Outcome): Unit = {
    if (o.hashes.isEmpty) return
    val f = Paths.get(o.hashes)
    if (Files.exists(f)) {
      val earlier = scala.io.Source.fromFile(f.toFile).getLines()
        .map(_.split("\t", 2)).collect { case Array(q, h) => q -> h }.toMap
      hashes.foreach { case (q, h) =>
        earlier.get(q).foreach(e => out.check(e == h, s"$q: hash:rows $h != earlier run's $e"))
      }
    } else {
      Files.createDirectories(f.getParent)
      Files.writeString(f, hashes.map { case (q, h) => s"$q\t$h" }.mkString("", "\n", "\n"))
    }
  }
}
