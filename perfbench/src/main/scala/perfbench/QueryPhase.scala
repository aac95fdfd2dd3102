package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A client reading the corpus through oracled `SparkEntry.queries`
  * entries, in an order the seed permutes. Each query is built (the
  * function returning its DataFrame, table loads included) and its whole
  * answer collected; the answer's checksum is taken after the timer
  * stops, and `run.py` compares it with the DuckDB answers in `expected/`.
  */
object QueryPhase {
  /** Text and embedding entries over `documents` and `embeddings`: a
    * regex scan, token and quality statistics, exact dedup, a cosine
    * top-k and a grouped aggregate.
    */
  val Queries: Seq[String] = Seq(
    "c_regex_family", "ext_token_stats", "ext_quality_score", "ext_dedup_exact",
    "ext_cosine_topk", "ext_embedding_stats")

  /** One pass over every query; returns each query's latency in ms. */
  def pass(spark: SparkSession, tables: String, rng: scala.util.Random, cold: Boolean,
      tr: Tracer, res: Result, sums: mutable.Map[String, mutable.Set[String]])
      : Seq[(String, Double)] =
    rng.shuffle(Queries).map { name =>
      val t0 = System.nanoTime()
      val rows = try {
        Some(tr.span(if (cold) "op.cold" else "op.warm") {
          val df = tr.span("queries.build") { SparkEntry.queries(name)(spark, tables) }
          tr.span("queries.execute") { (df.columns.toSeq, df.collect()) }
        })
      } catch { case e: Exception =>
        System.err.println(s"[queries] $name failed: ${e.getMessage}")
        None
      }
      val ms = (System.nanoTime() - t0) / 1e6
      res.attempted += 1
      if (rows.isEmpty) res.failed += 1
      rows.foreach { case (cols, rs) =>
        sums.getOrElseUpdate(name, mutable.LinkedHashSet.empty) +=
          Checksum.ofRows(cols, rs.iterator)
      }
      name -> ms
    }

  /** Each query's checksum; two different answers on two passes both show. */
  def checksums(sums: mutable.Map[String, mutable.Set[String]]): Map[String, String] =
    Queries.map { name =>
      name -> sums.get(name).map(_.mkString(" | ")).getOrElse("failed")
    }.toMap
}
