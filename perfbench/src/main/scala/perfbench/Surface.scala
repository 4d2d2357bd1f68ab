package perfbench

import graft.SparkEntry
import org.apache.spark.sql.Row
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** `surface`: a fixed set of `SparkEntry.queries` over generated tables,
  * called from outside after one untimed cold pass. The cold pass's
  * results are written for the DuckDB oracle check; every timed result
  * must equal its cold-pass result. */
object Surface {
  /** The query set and the ops module implementing each: every query the
    * slow-query list names plus one per remaining ops module. */
  val Queries: Seq[(String, String)] = Seq(
    "q_bm25_topk" -> "DocQueries",
    "q_keywords" -> "DocQueries",
    "q_bpe_pieces" -> "BpeOps",
    "q_containment" -> "TextOps",
    "q_dedup_apply" -> "TextOps",
    "q_dup_clusters_ls" -> "TextOps",
    "q_near_edit" -> "TextOps",
    "q_ngram_jaccard" -> "TextOps",
    "q_substr_apply" -> "TextOps",
    "q_ann_ivf" -> "VectorOps",
    "q_sessionize" -> "EventOps",
    "q_mm_features" -> "Multimodal")
  val Modules = Seq("DocQueries", "TextOps", "VectorOps", "BpeOps", "EventOps", "Multimodal")
  /** Wall time of one warm pass over [[Queries]] on a 4-core host. */
  val PassSeconds = 8.5
  /** The slow-query list, reported one by one. */
  val Named = Seq("q_bpe_pieces", "q_containment", "q_dup_clusters_ls", "q_dedup_apply",
    "q_substr_apply", "q_ngram_jaccard", "q_near_edit", "q_keywords", "q_bm25_topk")

  /** Row form used to compare results: doubles at the oracle's 4 places. */
  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => f"$d%.4f"
    case f: Float => f"${f.toDouble}%.4f"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }
  private def canonRows(rows: Array[Row]): Seq[String] = rows.map(canon).sorted.toSeq

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tables = s"${ctx.work}/tables"
    val results = s"${ctx.work}/results"
    val fns = SparkEntry.queries
    val t = ctx.tracer

    // set-up: the cold pass (index builds behind each query family, caches)
    val expected = mutable.Map[String, Seq[String]]()
    val (_, coldMs) = Stats.ms(Queries.foreach { case (name, _) =>
      ctx.op(s"cold $name") {
        val df = t.span(s"ops.$name", "ops")(fns(name)(spark, tables))
        val rows = df.collect()
        expected(name) = canonRows(rows)
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$results/$name")
      }
    })
    ctx.put("setup_s", coldMs / 1000)
    ctx.phase("setup")
    Files.writeString(Paths.get(results, "oracle_sql.json"), oracleJson(Queries.map(_._1)))
    ctx.info("oracle_checked") = Queries.count(q => SparkEntry.oracleSql.contains(q._1)).toString
    val cold = t.recorded.map(_.id).toSet
    ctx.settle()

    // timed: one pass per PassSeconds of the window, at least one; the
    // count is fixed by the window, not by the clock
    val samples = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val passes = math.max(1, math.round(ctx.seconds / PassSeconds).toInt)
    (0 until passes).foreach { _ =>
      Queries.foreach { case (name, _) =>
        t.newRequest()
        ctx.op(name) {
          val (rows, ms) = Stats.ms(t.span(s"ops.$name", "ops")(fns(name)(spark, tables).collect()))
          samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += ms
          ctx.check(expected.get(name).contains(canonRows(rows)), s"$name differs from its cold-pass result")
        }
      }
    }
    ctx.info("passes") = passes.toString
    ctx.phase("timed")

    val med = Queries.flatMap { case (n, _) => samples.get(n).map(s => n -> Stats.median(s.toSeq)) }.toMap
    val total = med.values.sum
    // round_s is the surface total; qps is the same measurement as round_s
    // (queries / round_s), kept so that every workload reports it
    ctx.put("round_s", total / 1000)
    ctx.put("qps", med.size / (total / 1000))
    ctx.put("surface_geomean_ms", Stats.geomean(med.values.toSeq))
    ctx.put("query_p50_ms", Stats.median(med.values.toSeq))
    ctx.put("query_p95_ms", Stats.pct(samples.values.flatten.toSeq, 95))

    if (ctx.traced) {
      Modules.foreach { m =>
        ctx.put(s"ops.${m}_s", Queries.filter(_._2 == m).map(q => med.getOrElse(q._1, 0.0)).sum / 1000)
      }
      Named.foreach(n => ctx.put(s"ops.${n}_ms", med.getOrElse(n, 0.0)))
      // listener totals over the timed traced calls, scaled to one pass
      val calls = t.recorded.filter(s => s.parent == -1 && !cold(s.id))
      val perQuery = calls.groupBy(_.name).map { case (n, ss) =>
        val jobs = ss.flatMap(s => t.subtree(s)._2)
        n -> (jobs.size.toDouble / ss.size, jobs.map(_.tasks).sum.toDouble / ss.size,
          jobs.map(_.taskMs).sum.toDouble / ss.size, jobs.map(_.ms).sum, ss.map(_.ms).sum)
      }
      ctx.put("ops.jobs_total", perQuery.values.map(_._1).sum)
      ctx.put("ops.tasks_total", perQuery.values.map(_._2).sum)
      ctx.put("ops.task_ms_total", perQuery.values.map(_._3).sum)
      ctx.put("ops.driver_share",
        1.0 - Stats.ratio(perQuery.values.map(_._4).sum, perQuery.values.map(_._5).sum))
    }
  }

  private def oracleJson(names: Seq[String]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    names.flatMap(n => SparkEntry.oracleSql.get(n).map(sql => s"${q(n)}: ${q(sql)}"))
      .mkString("{", ",\n", "}")
  }
}
