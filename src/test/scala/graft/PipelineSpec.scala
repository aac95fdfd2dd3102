package graft

import java.nio.file.{Files, Paths}
import java.time.{LocalDate, LocalDateTime}

import org.apache.spark.sql.functions._
import graft.pipelines.{Alerter, Orchestrator, Pipelines}
import graft.sources.HtmlRatesSource

class PipelineSpec extends SparkSpec {

  private def readFixture(name: String): String =
    scala.io.Source.fromFile(fixture(name)).mkString

  test("EP1 api pipeline end-to-end: json -> long rows -> upsert table") {
    val work = tmpDir("ep1")
    val json = readFixture("frankfurter_latest.json")
    val r = Pipelines.api(spark, () => json, s"$work/csv", s"$work/table")
    assert(r.exists(_.inserted == 5))
    val t = spark.read.parquet(s"$work/table")
    assert(t.count() == 5)
    assert(!t.columns.contains("currency_name")) // api schema drift (§1.2)
    // rerun: idempotent, nothing inserted
    val r2 = Pipelines.api(spark, () => json, s"$work/csv", s"$work/table")
    assert(r2.exists(r => r.inserted == 0 && r.skipped == 5))
    assert(spark.read.parquet(s"$work/table").count() == 5)
  }

  test("EP2 history pipeline: window + clean + synthesize + upsert") {
    val work = tmpDir("ep2")
    val anchor = java.time.LocalDate.parse("2026-08-10")
    val r = Pipelines.history(spark, fixture("daily_forex_rates.csv"),
      s"$work/table", anchor, months = 1)
    // In-window rows: 2026-07-15(USD dup collapses to 1), GBP 07-15,
    // JPY 07-16, CHF 07-17, DKK 08-09, USD 08-10 = 6; AUD (negative),
    // CAD (null rate), null-currency, bad-date, out-of-window rows drop.
    assert(r.exists(_.inserted == 6))
    val t = spark.read.parquet(s"$work/table")
    // C3: history event time = date@10:00 UTC
    assert(t.select(date_format(col("timestamptz"), "HH:mm").as("hm"))
      .distinct().head().getString(0) == "10:00")
    // rerun idempotence
    val r2 = Pipelines.history(spark, fixture("daily_forex_rates.csv"),
      s"$work/table", anchor, months = 1)
    assert(r2.exists(_.inserted == 0))
  }

  test("EP3 scrape pipeline: html -> merge-overwrite daily + upsert table") {
    val work = tmpDir("ep3")
    val html = readFixture("x_rates_table.html")
    val r = Pipelines.scrape(spark, html, s"$work/daily", s"$work/table")
    assert(r.exists(_.inserted == 4))
    assert(spark.read.parquet(s"$work/daily").count() == 4)
    val r2 = Pipelines.scrape(spark, html, s"$work/daily", s"$work/table")
    assert(r2.exists(_.inserted == 0))
    assert(spark.read.parquet(s"$work/daily").count() == 4)
  }

  test("EP3 structural failure alerts instead of throwing") {
    var alerted = false
    val alerter = new Alerter {
      def alert(s: String, b: String): Unit = { alerted = true }
    }
    val r = Pipelines.scrape(spark, "<html>no table</html>",
      tmpDir("ep3f") + "/d", tmpDir("ep3f") + "/t", alerter)
    assert(r.isEmpty && alerted)
  }

  test("EP3 A4 gate: a well-formed page whose table has only a header row") {
    val work = tmpDir("ep3a4")
    val html = readFixture("x_rates_table.html")
      .replaceAll("(?s)(<tr><th>.*?</tr>).*?(</table>)", "$1\n$2")
    // the page itself is valid: a parseable timestamp, a rates table
    assert(HtmlRatesSource.extractTimestamp(html).isDefined)
    assert(html.contains("ratesTable") && !html.contains("<td>"))
    val alerts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val alerter = new Alerter {
      def alert(s: String, b: String): Unit = { alerts.add(b); () }
    }
    val r = Pipelines.scrape(spark, html, s"$work/daily", s"$work/table", alerter)
    assert(r.isEmpty)
    assert(alerts.toArray.toSeq == Seq("no rows parsed from rates table"))
    assert(!Files.exists(Paths.get(s"$work/daily")))
    assert(!Files.exists(Paths.get(s"$work/table")))
  }

  test("EP3: a failing sink still releases the cached page") {
    val work = tmpDir("ep3leak")
    // a corrupt daily dataset: the merge's read fails while it scans the
    // cached page alongside it
    Files.createDirectories(Paths.get(s"$work/daily"))
    Files.write(Paths.get(s"$work/daily/part-0.parquet"), "not parquet".getBytes)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    var alerted = false
    val alerter = new Alerter {
      def alert(s: String, b: String): Unit = { alerted = true }
    }
    val r = Pipelines.scrape(spark, readFixture("x_rates_table.html"),
      s"$work/daily", s"$work/table", alerter)
    assert(r.isEmpty && alerted)
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore,
      "the failed scrape left its batch cached")
  }

  test("sync: 20-min delta, provenance tags, column-union merge") {
    val work = tmpDir("sync")
    val json = readFixture("frankfurter_latest.json")
    val html = readFixture("x_rates_table.html")
    Pipelines.api(spark, () => json, s"$work/csv", s"$work/api")
    Pipelines.scrape(spark, html, s"$work/daily", s"$work/scraped")
    SyncHarness.out.clear()
    val n = Pipelines.sync(spark,
      Seq(s"$work/api" -> "api", s"$work/scraped" -> "web_scraper"),
      java.time.LocalDateTime.now(), SyncHarness.post)
    assert(n.contains(9L)) // 5 api + 4 scraped, all inside the window
    val shipped = SyncHarness.out.toArray(Array.empty[String])
    assert(shipped.length == 9)
    // drifted schemas merged: api rows have currency, scraped have currency_name
    assert(shipped.exists(_.contains("\"currency\":\"USD\"")))
    assert(shipped.exists(_.contains("\"currency_name\":\"US Dollar\"")))
    assert(shipped.forall(_.contains("\"source\":")))
  }

  test("sync: no row inside the window returns Some(0) and never posts") {
    val work = tmpDir("sync0")
    Pipelines.api(spark, () => readFixture("frankfurter_latest.json"),
      s"$work/csv", s"$work/api")
    SyncHarness.reset()
    // an hour on (created_at is UTC wall time), every row is outside the
    // 20-minute window
    val n = Pipelines.sync(spark, Seq(s"$work/api" -> "api"),
      LocalDateTime.now(java.time.ZoneOffset.UTC).plusHours(1), SyncHarness.post)
    assert(n.contains(0L))
    assert(SyncHarness.calls.get == 0, "an empty delta reached post")
  }

  test("sync: the returned count is the rows handed to post") {
    import spark.implicits._
    val work = tmpDir("syncn")
    val now = LocalDateTime.parse("2026-08-11T18:00:00")
    // two rows inside the window, two outside it
    Seq(("USD", 1.08, now.minusMinutes(5)), ("GBP", 0.84, now.minusMinutes(19)),
      ("JPY", 160.2, now.minusMinutes(21)), ("CHF", 0.97, now.minusHours(3)))
      .toDF("currency", "exchange_rate", "created_at")
      .write.parquet(s"$work/api")
    SyncHarness.reset()
    val n = Pipelines.sync(spark, Seq(s"$work/api" -> "api"), now, SyncHarness.post)
    assert(n.contains(2L))
    val shipped = SyncHarness.out.toArray(Array.empty[String]).toSeq
    assert(shipped.size == 2)
    assert(shipped.exists(_.contains("\"USD\"")) && shipped.exists(_.contains("\"GBP\"")))
  }

  test("orchestrator: full run_etl analog, continue-on-failure") {
    val work = tmpDir("orch")
    SyncHarness.out.clear()
    val report = Orchestrator.runEtl(
      spark,
      fetchApi = () => readFixture("frankfurter_latest.json"),
      historyCsv = fixture("daily_forex_rates.csv"),
      scrapeHtml = "<html>broken page</html>", // EP3 fails
      workDir = work,
      anchor = java.time.LocalDate.parse("2026-08-10"),
      post = SyncHarness.post)
    assert(report.api.exists(_.inserted == 5))
    assert(report.history.exists(_.inserted == 6))
    assert(report.scrape.isEmpty) // failed but did not abort the run
    assert(report.synced.contains(11L)) // 5 api + 6 history
  }

  test("job budget: a warm inserting run_etl day stays within its Spark jobs") {
    val work = tmpDir("budget")
    val json = readFixture("frankfurter_latest.json")
    val html = readFixture("x_rates_table.html")
    def day(date: String, page: String, anchor: String) = Orchestrator.runEtl(
      spark, () => json.replace("2026-08-11", date), fixture("daily_forex_rates.csv"),
      html.replace("Aug 11, 2026", page), work, LocalDate.parse(anchor),
      SyncHarness.post)
    day("2026-08-11", "Aug 11, 2026", "2026-08-09") // cold: creates the targets
    SyncHarness.reset()
    val (rep, jobs) = jobsIn(day("2026-08-12", "Aug 12, 2026", "2026-08-10"))
    // every stage inserts: the day runs each sink's full path
    assert(rep.api.contains(graft.sinks.UpsertIgnore.Result(5, 0)))
    assert(rep.history.contains(graft.sinks.UpsertIgnore.Result(1, 5)))
    assert(rep.scrape.contains(graft.sinks.UpsertIgnore.Result(4, 0)))
    assert(rep.synced.contains(SyncHarness.out.size.toLong))
    // 43 jobs when each sink counted, bounded and wrote in separate passes
    // (batch count + bounds + delta count + write per upsert, an isEmpty
    // job for the scrape gate, footer inference + count + post in sync);
    // 28 with one stats aggregate, one cached delta and one sync pass
    assert(jobs <= 28, s"a warm inserting day ran $jobs Spark jobs, budget 28")
  }
}

/** Executor-side sink target — must be a JVM singleton (see RestSinkTestHarness). */
object SyncHarness {
  val out = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val calls = new java.util.concurrent.atomic.AtomicInteger()
  val post: Seq[String] => Unit = { recs =>
    SyncHarness.calls.incrementAndGet()
    recs.foreach(SyncHarness.out.add)
  }
  def reset(): Unit = { out.clear(); calls.set(0) }
}
