package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Settings of one run, from the command line `run.py` builds. */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
    inputs: String, tables: String, work: String, cpus: Int, tiny: Boolean)

/** What a workload hands back: metrics by name, the checks it made
  * itself, and data `run.py` checks against the generator's truth.
  */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val data = mutable.LinkedHashMap.empty[String, Any]
  val samples = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0
  var failed = 0
  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
}

trait Workload {
  def run(spark: SparkSession, ctx: Ctx, tr: Tracer): Result
}

object Main {
  val Natives: Seq[String] = Seq("graft_minhash", "graft_simhash", "graft_isect",
    "graft_cosine", "graft_dot", "graft_rplsh", "graft_deflate_ratio",
    "graft_nfc", "graft_dhash", "graft_dhash_px")

  /** The session `graft.Bench` builds, with local dirs kept in the run's
    * work directory.
    */
  def session(ctx: Ctx): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${ctx.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ctx.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.local.dir", s"${ctx.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${ctx.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def workload(name: String): Workload = name match {
    case "forex_daily_etl" => Forex
    case "corpus_dedup"    => Corpus
    case other             => sys.error(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (kv.contains("dump-oracle-sql")) {
      val names = QueryPhase.Queries
      val sql = graft.SparkEntry.oracleSql
      Json.write(kv("dump-oracle-sql"), names.map(n => n -> sql(n)).toMap)
      return
    }
    val ctx = Ctx(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("inputs"), kv("tables"), kv("work"), kv("cpus").toInt,
      kv.get("tiny").contains("1"))
    val wl = workload(ctx.workload)
    val loadStart = loadAvg()

    // set-up, five times: the first from JVM start, the others from a
    // fresh session build; the median is the reported set-up time and the
    // whole list (process start first) rides in run_info
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    var spark: SparkSession = null
    val reps = 5
    val setups = (1 to reps).map { rep =>
      val t0 = if (rep == 1) jvmStart else System.currentTimeMillis().toDouble
      spark = session(ctx)
      val s = (System.currentTimeMillis() - t0) / 1000.0
      if (rep < reps) spark.stop()
      s
    }
    val tr = new Tracer(spark, ctx.trace).attach()
    val res = wl.run(spark, ctx, tr)
    tr.detach()
    val natives = Natives.count(n => spark.catalog.functionExists(n))
    val loadEnd = loadAvg()
    if (!ctx.trace) res.metrics("setup_s") = Stats.median(setups)
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> ctx.workload, "seed" -> ctx.seed, "trace" -> ctx.trace,
      "attempted" -> res.attempted, "failed" -> res.failed,
      "metrics" -> res.metrics.toMap, "checks" -> res.checks.toSeq,
      "data" -> res.data.toMap, "samples" -> res.samples.toMap,
      "run_info" -> Map("natives_resolved" -> natives, "natives_total" -> Natives.size,
        "load_start" -> loadStart, "load_end" -> loadEnd, "cpus" -> ctx.cpus,
        "setup_reps_s" -> setups, "spark" -> spark.version))
    if (ctx.trace) {
      val aggs = tr.aggregate()
      out("spans") = tr.spanRows(aggs)
    }
    Json.write(kv("out"), out.toMap)
    spark.stop()
  }

  /** Consume every output column of `df` without collecting it. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The value at the highest percentile that still has at least ten
    * samples beyond it, with that percentile and the sample count; with
    * ten samples or fewer, the maximum.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (Double.NaN, Double.NaN, 0)
    else if (n <= 10) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None        => "null"
    case Some(x)            => render(x)
    case b: Boolean         => b.toString
    case d: Double          => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float           => render(f.toDouble)
    case n: Int             => n.toString
    case n: Long            => n.toString
    case s: String          => quote(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]    => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_]       => xs.map(render).mkString("[", ",", "]")
    case other              => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  } + "\""

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), render(v))

  /** Parse a JSON file with the Jackson that ships with Spark. */
  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
}
