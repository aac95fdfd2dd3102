package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, IncrementalDedup, Similarity}
import graft.pipelines.Curation

/** `corpus_dedup`: the LLM-data path on a corpus with planted exact and
  * near-duplicate copies. The cold unit is one curation run, an ingest of
  * every batch into a durable dedup store, a forget of a seeded id set,
  * a compaction and one pass of oracled queries over the corpus tables
  * ([[QueryPhase]]); then a closed loop of top-k reads against the
  * persisted IVF index of `embeddings`. Ingest pairs are consumed with
  * `collect`, as is every query and top-k answer.
  */
object Corpus extends Workload {
  private val Threshold = IncrementalDedup.Params().threshold
  private val K = 10

  def run(spark: SparkSession, ctx: Ctx, tr: Tracer): Result = {
    import spark.implicits._
    val res = new Result
    val in = ctx.inputs
    val plan = Json.read(s"$in/plan.json")
    val corpus = spark.read.parquet(s"$in/corpus.parquet")
    val nBatches = plan.get("batches").asInt
    val forgetIds = plan.get("forget").elements.asScala.map(_.asLong).toSeq
    val queries = plan.get("queries").elements.asScala
      .map(_.elements.asScala.map(_.asDouble).toSeq).toSeq
    val store = s"${ctx.work}/store"
    val index = s"${ctx.work}/ivf"
    val docs = corpus.select("doc_id", "text", "lang")
    val nDocs = docs.count()

    def op[T](cold: Boolean, layer: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val out = tr.span(if (cold) "op.cold" else "op.warm")(tr.span(layer)(body))
      res.attempted += 1
      (out, (System.nanoTime() - t0) / 1e6)
    }

    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val (report, curateMs) = op(cold = true, "pipelines.curation") {
      Curation.run(spark, docs, s"${ctx.work}/curated")
    }
    val pairs = mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var ingestMs = 0.0
    (0 until nBatches).foreach { b =>
      val (rows, ms) = op(cold = true, "ext.ingest") {
        IncrementalDedup.ingest(spark, corpus.filter(col("batch") === b)
          .select("doc_id", "text"), "doc_id", "text", store).collect()
      }
      ingestMs += ms
      pairs ++= rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    val (_, forgetMs) = op(cold = true, "ext.forget") {
      IncrementalDedup.forget(spark, store, forgetIds.toDF("doc_id"))
    }
    val ((filesBefore, filesAfter), compactMs) = op(cold = true, "ext.compact") {
      IncrementalDedup.compactStore(spark, store)
    }
    val sums = mutable.LinkedHashMap.empty[String, mutable.Set[String]]
    val queryMs = QueryPhase.pass(spark, ctx.tables, new scala.util.Random(ctx.seed),
      cold = true, tr, res, sums)
    val coldS = elapsed
    val storeBytes = du(spark, store)

    // the index build is one-time set-up of the read loop: untimed
    val tIvf = System.nanoTime()
    val emb = spark.read.parquet(s"${ctx.tables}/embeddings.parquet")
    tr.span("ext.ivf_build") {
      Similarity.ivfBuildPersisted(emb, "vec_id", "embedding", index, nCentroids = 16)
    }
    val ivfMs = (System.nanoTime() - tIvf) / 1e6

    val topk = mutable.ArrayBuffer.empty[(Int, Double)]
    val answers = mutable.LinkedHashMap.empty[Int, Seq[(Long, Double)]]
    val traced, untraced = mutable.ArrayBuffer.empty[Double]
    val loop0 = System.nanoTime()
    var i = 0
    val minReads = if (ctx.tiny) 12 else 30
    var lastRead = 0.0
    while (i < minReads || elapsed + lastRead / 1000 <= ctx.seconds) {
      val qi = i % queries.size
      val traceRead = tr.enabled && i % 2 == 0
      if (tr.enabled && !traceRead) tr.detach()
      val (rows, ms) = op(cold = false, "ext.topk") {
        Similarity.ivfTopKPersisted(spark, index, queries(qi), K, idCol = "vec_id").collect()
      }
      if (tr.enabled && !traceRead) tr.attach()
      (if (traceRead) traced else untraced) += ms
      lastRead = ms
      topk += ((qi, ms))
      if (!answers.contains(qi)) answers(qi) = rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq
      i += 1
    }
    val loopMs = (System.nanoTime() - loop0) / 1e6

    // ---------------------------------------------- checks, untimed
    val text = corpus.select("doc_id", "text").as[(Long, String)].collect().toMap
    val sets = mutable.HashMap.empty[Long, Set[String]]
    def shingles(id: Long) = sets.getOrElseUpdate(id, Corpus.shingles(text(id)))
    val bad = pairs.filter { case (a, b, j) =>
      val exact = jaccard(shingles(a), shingles(b))
      a >= b || exact < Threshold - 1e-6 || math.abs(exact - j) > 1e-6
    }
    res.check("every ingest pair meets the Jaccard threshold (plain Scala)",
      bad.isEmpty, bad.take(5).mkString(";"))
    val found = pairs.map(p => (p._1, p._2)).toSet
    val planted = plan.get("planted").elements.asScala.map { p =>
      val (a, b) = (p.get(0).asLong, p.get(1).asLong)
      (math.min(a, b), math.max(a, b), p.get(2).asBoolean)
    }.toSeq
    val eligible = planted.filter(p => jaccard(shingles(p._1), shingles(p._2)) >= Threshold)
    val recall = eligible.count(p => found((p._1, p._2))).toDouble / math.max(1, eligible.size)
    val missedExact = planted.filter(p => p._3 && !found((p._1, p._2)))
    res.check("every planted exact copy is paired", missedExact.isEmpty,
      missedExact.take(5).mkString(";"))
    val stored = IncrementalDedup.storedDocs(spark, store)
    val expectStored = text.size - forgetIds.toSet.intersect(text.keySet).size
    res.check("store holds every ingested doc minus the forgotten",
      stored == expectStored, s"stored $stored expected $expectStored")
    val leaked = spark.read.parquet(s"$store/shingles")
      .filter(col("doc_id").isin(forgetIds: _*)).count()
    res.check("no forgotten doc survives compaction", leaked == 0, s"$leaked rows")
    res.check("curation funnel is monotone", report.input == nDocs &&
      report.afterQuality <= report.input && report.afterExact <= report.afterQuality &&
      report.afterNearDup <= report.afterExact, report.toString)

    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    val checked = answers.toSeq.take(10)
    var hits = 0
    val wrong = mutable.ArrayBuffer.empty[String]
    checked.foreach { case (qi, got) =>
      val q = queries(qi)
      val truth = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, K)
        .collect().map(_.getLong(0)).toSet
      hits += got.count(g => truth(g._1))
      got.foreach { case (id, score) =>
        val exact = BigDecimal(cosine(vecs(id), q)).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble
        if (math.abs(exact - score) > 2e-6) wrong += s"q$qi id $id $score vs $exact"
      }
      // IVF probes only some clusters, so it may return fewer than k rows;
      // the shortfall shows in the recall
      if (got.isEmpty || got.size > K || got.map(_._2) != got.map(_._2).sorted.reverse)
        wrong += s"q$qi: ${got.size} rows or unsorted"
    }
    res.check("every top-k score is the exact cosine, 1..k rows, sorted",
      wrong.isEmpty, wrong.take(5).mkString(";"))
    val topkRecall = hits.toDouble / math.max(1, checked.size * K)

    val reads = topk.map(_._2).toSeq
    res.samples("topk_ms") = reads
    res.data("report") = Map("input" -> report.input, "after_quality" -> report.afterQuality,
      "after_exact" -> report.afterExact, "after_near_dup" -> report.afterNearDup,
      "chunks" -> report.chunks)
    res.data("phases_ms") = Map("curation" -> curateMs, "ingest" -> ingestMs,
      "forget" -> forgetMs, "compact" -> compactMs, "ivf_build" -> ivfMs, "topk_loop" -> loopMs)
    res.data("checksums") = QueryPhase.checksums(sums)
    res.data("query_ms") = queryMs.toMap
    res.data("pairs") = pairs.size
    res.data("planted") = Map("total" -> planted.size, "eligible" -> eligible.size,
      "recall" -> recall)
    if (!tr.enabled) {
      res.metrics("cold_s") = coldS
      res.metrics("warm_p50_ms") = Stats.median(reads)
      val (t, pct, n) = Stats.tail(reads)
      res.metrics("warm_tail_ms") = t
      res.data("tail") = Map("percentile" -> pct, "samples" -> n)
      res.data("curate_docs_per_s") = nDocs / (curateMs / 1000)
      res.data("ingest_docs_per_s") = nDocs / (ingestMs / 1000)
      res.data("store_bytes_per_doc_byte") = storeBytes / plan.get("text_bytes").asDouble
    } else {
      Layers.fill(tr, res)
      res.metrics("pipelines.curation_ms") = curateMs
      res.metrics("pipelines.curation_input") = report.input.toDouble
      res.metrics("pipelines.curation_after_quality") = report.afterQuality.toDouble
      res.metrics("pipelines.curation_after_exact") = report.afterExact.toDouble
      res.metrics("pipelines.curation_after_near_dup") = report.afterNearDup.toDouble
      res.metrics("pipelines.curation_chunks") = report.chunks.toDouble
      res.metrics("pipelines.curate_docs_per_s") = nDocs / (curateMs / 1000)
      res.metrics("ext.ingest_ms") = ingestMs
      res.metrics("ext.ingest_docs_per_s") = nDocs / (ingestMs / 1000)
      res.metrics("ext.ingest_pairs") = pairs.size.toDouble
      res.metrics("ext.pair_recall") = recall
      res.metrics("ext.forget_ms") = forgetMs
      res.metrics("ext.compact_ms") = compactMs
      res.metrics("ext.ivf_build_ms") = ivfMs
      res.metrics("ext.topk_ms") = Layers.spanMs(tr, "ext.topk")
      res.metrics("ext.topk_recall_at_k") = topkRecall
      res.metrics("sinks.store_files_before") = filesBefore.toDouble
      res.metrics("sinks.store_files_after") = filesAfter.toDouble
      res.metrics("sinks.store_bytes_per_doc_byte") = storeBytes / plan.get("text_bytes").asDouble
      natives(spark, corpus, emb, res, tr)
      Layers.overhead(res, traced.toSeq, untraced.toSeq)
    }
    res
  }

  /** The SQL natives on their own: each forced through `noop` over
    * inputs materialized beforehand; the median of three timings.
    */
  private def natives(spark: SparkSession, corpus: org.apache.spark.sql.DataFrame,
      emb: org.apache.spark.sql.DataFrame, res: Result, tr: Tracer): Unit = {
    val hsets = corpus.select(array_distinct(transform(Dedup.shingles(col("text")),
      sh => xxhash64(sh))).as("hset")).localCheckpoint()
    val nSets = hsets.count()
    val vecs = emb.select(col("embedding").cast("array<double>").as("v"))
    val pairs = vecs.limit(200).select(col("v").as("a"))
      .crossJoin(vecs.select(col("v").as("b"))).localCheckpoint()
    val nPairs = pairs.count()
    def rate(n: Long, name: String)(body: => Unit): Double =
      n / Stats.median((1 to 3).map { _ =>
        val t0 = System.nanoTime(); tr.span(name)(body); (System.nanoTime() - t0) / 1e9
      })
    res.metrics("functions.minhash_rows_per_s") = rate(nSets, "functions.minhash") {
      Main.noop(hsets.select(expr("graft_minhash(hset, 32)")))
    }
    res.metrics("functions.cosine_pairs_per_s") = rate(nPairs, "functions.cosine") {
      Main.noop(pairs.select(expr("graft_cosine(a, b)")))
    }
  }

  /** Word 3-gram shingles of the whitespace tokens, as `Dedup.shingles`
    * forms them: a document under three tokens is one whole-doc shingle.
    */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val toks = text.trim.split("\\s+", -1)
    if (toks.length < n) Set(toks.mkString(" "))
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    a.intersect(b).size.toDouble / math.max(1, a.union(b).size)

  private def cosine(a: Seq[Double], b: Seq[Double]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.size) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def du(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }
}
