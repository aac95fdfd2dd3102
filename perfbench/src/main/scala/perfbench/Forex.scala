package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.pipelines.{Alerter, Orchestrator, Pipelines}
import graft.sources.{CsvHistorySource, HtmlRatesSource, RestJsonSource}

/** `forex_daily_etl`: D consecutive days of the reference's daily cron,
  * `Orchestrator.runEtl`, into one work directory. Day 0 is the cold day
  * a fresh process pays; the rest are warm. A traced day calls the four
  * `Pipelines` stages `runEtl` is made of, in the same order, each in its
  * own span, and then times the three source parsers standalone.
  */
object Forex extends Workload {
  private def read(p: String) = new String(Files.readAllBytes(Paths.get(p)), "UTF-8")

  def run(spark: SparkSession, ctx: Ctx, tr: Tracer): Result = {
    val res = new Result
    val in = ctx.inputs
    val plan = Json.read(s"$in/plan.json")
    val nDays = plan.get("days").size
    val histCsv = plan.get("history_csv").asText
    val work = s"${ctx.work}/etl"
    val acc = spark.sparkContext.longAccumulator("posted")
    val post: Seq[String] => Unit = batch => acc.add(batch.size.toLong)
    var alerts = 0
    val alerter = new Alerter {
      def alert(subject: String, body: String): Unit = {
        alerts += 1
        System.err.println(s"[alert] $subject: $body")
      }
    }

    val days = mutable.ArrayBuffer.empty[Map[String, Any]]
    val traced, untraced = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var d = 0
    val minDays = 5
    var lastDay = 0.0
    // five days at least; another only while it still fits the time
    while (d < nDays && (d < minDays || elapsed + lastDay <= ctx.seconds)) {
      val day = plan.get("days").get(d)
      val anchor = java.time.LocalDate.parse(day.get("anchor").asText)
      val apiText = read(f"$in/api_$d%03d.json")
      val html = read(f"$in/page_$d%03d.html")
      val alerts0 = alerts
      val posted0 = acc.value
      // in a traced run, warm days alternate traced and untraced so the
      // run measures its own overhead on the same operation
      val traceDay = tr.enabled && (d == 0 || d % 2 == 1)
      if (tr.enabled && !traceDay) tr.detach()
      val t0 = System.nanoTime()
      val rep = tr.span(if (d == 0) "op.cold" else "op.warm") {
        if (!traceDay) Orchestrator.runEtl(spark, () => apiText, histCsv, html, work,
          anchor, post, alerter)
        else {
          val api = tr.span("pipelines.api") {
            Pipelines.api(spark, () => apiText, s"$work/api_rates_csv",
              s"$work/forex_rates_api", alerter)
          }
          val hist = tr.span("pipelines.history") {
            Pipelines.history(spark, histCsv, s"$work/forex_rates_history", anchor,
              months = 1, alerter = alerter)
          }
          val scr = tr.span("pipelines.scrape") {
            Pipelines.scrape(spark, html, s"$work/scraped_daily",
              s"$work/forex_rates_scraped", alerter)
          }
          val syncTables = Seq(
            Some(s"$work/forex_rates_api" -> "api"),
            hist.map(_ => s"$work/forex_rates_history" -> "csv"),
            scr.map(_ => s"$work/forex_rates_scraped" -> "web_scraper")
          ).flatten.filter { case (p, _) => exists(spark, p) }
          val synced = tr.span("pipelines.sync") {
            Pipelines.sync(spark, syncTables, java.time.LocalDateTime.now(), post,
              alerter = alerter)
          }
          Orchestrator.EtlReport(api, hist, scr, synced)
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      lastDay = wall
      if (tr.enabled && !traceDay) tr.attach()
      // day 1 still compiles much of what later days reuse, so the
      // overhead compares days from 2 on
      if (d > 1) (if (traceDay) traced else untraced) += wall * 1000
      if (traceDay) tr.span("sources.parse") {
        Main.noop(RestJsonSource.parse(spark, apiText))
        Main.noop(HtmlRatesSource.read(spark, html))
        Main.noop(CsvHistorySource.read(spark, histCsv))
      }
      def io(r: Option[graft.sinks.UpsertIgnore.Result]) =
        r.map(x => Map("inserted" -> x.inserted, "skipped" -> x.skipped)).orNull
      val ok = alerts == alerts0 && rep.api.isDefined && rep.history.isDefined &&
        rep.scrape.isDefined && rep.synced.isDefined
      res.attempted += 1
      if (!ok) res.failed += 1
      days += Map("day" -> d, "wall_s" -> wall, "traced" -> traceDay,
        "api" -> io(rep.api), "history" -> io(rep.history), "scraped" -> io(rep.scrape),
        "synced" -> rep.synced.getOrElse(-1L), "posted" -> (acc.value - posted0))
      d += 1
    }

    // checks outside the timed region: final target sizes, sync counts
    val tables = Seq("api" -> "forex_rates_api", "history" -> "forex_rates_history",
      "scraped" -> "forex_rates_scraped")
    res.data("days") = days.toSeq
    res.data("table_rows") = tables.map { case (k, t) =>
      k -> spark.read.parquet(s"$work/$t").count() }.toMap
    res.data("posted_total") = acc.value
    days.foreach { m =>
      res.check(s"day ${m("day")}: rows synced equal rows posted",
        m("synced") == m("posted"), s"synced ${m("synced")} posted ${m("posted")}")
    }
    val walls = days.map(_("wall_s").asInstanceOf[Double]).toSeq
    res.samples("day_wall_s") = walls
    val warm = walls.drop(1).map(_ * 1000)
    if (!tr.enabled) {
      res.metrics("cold_s") = walls.head
      res.metrics("warm_p50_ms") = Stats.median(warm)
      val (t, pct, n) = Stats.tail(warm)
      res.metrics("warm_tail_ms") = t
      res.data("tail") = Map("percentile" -> pct, "samples" -> n)
    } else {
      Layers.fill(tr, res)
      Seq("api", "history", "scrape", "sync").foreach { s =>
        res.metrics(s"pipelines.${s}_ms") = Layers.spanMs(tr, s"pipelines.$s")
      }
      res.metrics("sources.parse_ms") = Layers.spanMs(tr, "sources.parse")
      val ins = days.map(m => Seq("api", "history", "scraped").map(k =>
        Option(m(k)).map(_.asInstanceOf[Map[String, Long]]("inserted")).getOrElse(0L)).sum).sum
      val skp = days.map(m => Seq("api", "history", "scraped").map(k =>
        Option(m(k)).map(_.asInstanceOf[Map[String, Long]]("skipped")).getOrElse(0L)).sum).sum
      res.metrics("sinks.rows_inserted") = ins.toDouble
      res.metrics("sinks.rows_skipped") = skp.toDouble
      res.metrics("sinks.insert_ratio") = ins.toDouble / math.max(1L, ins + skp)
      res.metrics("sinks.target_files") = tables.map { case (_, t) =>
        parquetFiles(spark, s"$work/$t") }.sum.toDouble
      res.metrics("sinks.posted_rows") = acc.value.toDouble
      Layers.overhead(res, traced.toSeq, untraced.toSeq)
    }
    res
  }

  private def exists(spark: SparkSession, p: String): Boolean = {
    val hp = new Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  def parquetFiles(spark: SparkSession, dir: String): Int = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else {
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
  }
}
