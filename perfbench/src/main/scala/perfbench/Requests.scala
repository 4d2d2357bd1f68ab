package perfbench

import graft.build.IndexBuilder
import graft.codec.Postings
import graft.model.Posting
import graft.query.{Bm25, Searcher, Wand}
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** Single top-10 requests against a [[Searcher]], shared by `serve` and
  * `ingest`, and the query- and codec-layer figures derived from them. */
final class Requests(ctx: Ctx) {
  val latencies = mutable.ArrayBuffer[Double]()
  private val bandHits = mutable.Map[String, Int]().withDefaultValue(0)
  private var queries = 0
  private var termsLooked = 0
  private var termsMissed = 0
  /** Terms the current searcher's df memo has seen (mirrors its memo). */
  private var memo = mutable.Set[String]()
  /** Served query texts, for the output checks and the codec layer. */
  val served = mutable.ArrayBuffer[String]()

  /** The next searcher starts with an empty df memo. */
  def reopened(): Unit = memo = mutable.Set[String]()

  /** An untimed top-10 request, which fills the searcher's df memo like a
    * timed one. */
  def untimed(s: Searcher, q: Seq[Corpus.QTerm]): Unit = {
    val text = Corpus.queryText(q)
    memo ++= s.analyzeQuery(text).keys
    collect(s.topK(text, 10))
  }

  /** One top-10 request; returns its (docId, score) rows. */
  def single(s: Searcher, q: Seq[Corpus.QTerm]): Array[(Long, Double)] = {
    val text = Corpus.queryText(q)
    queries += 1
    q.map(_.band).distinct.foreach(b => bandHits(b) += 1)
    val analyzed = s.analyzeQuery(text).keys
    termsLooked += analyzed.size
    termsMissed += analyzed.count(t => !memo(t))
    memo ++= analyzed
    served += text
    val t = ctx.tracer
    val (rows, ms) = Stats.ms {
      if (!t.enabled) collect(s.topK(text, 10))
      else {
        t.newRequest()
        t.span("query.request", "query") {
          val terms = t.span("query.analyze", "analysis")(s.analyzeQuery(text)).keys.toSeq
          t.span("query.df", "query")(s.dfSlice(terms))
          val df = t.span("query.kernel", "query")(s.topK(text, 10))
          t.span("query.resolve", "query")(collect(df))
        }
      }
    }
    latencies += ms
    rows
  }

  def collect(df: org.apache.spark.sql.DataFrame): Array[(Long, Double)] =
    df.select(col("docId"), col("score")).collect().map(r => (r.getLong(0), r.getDouble(1)))

  /** Rank identity with FuzzRankIdentitySpec's tolerance: scores agree to
    * 1e-12 relative, and documents may only permute on exact ties. */
  def sameRanking(got: Array[(Long, Double)], want: Array[(Long, Double)]): Boolean =
    got.length == want.length && got.zip(want).forall { case ((gd, gs), (wd, ws)) =>
      math.abs(gs - ws) <= 1e-12 * math.max(1.0, math.abs(ws)) &&
        (gd == wd || math.abs(gs - ws) <= 1e-12)
    }

  /** Checks a seeded sample of the served queries against the relational
    * exhaustive path. */
  def checkRankIdentity(s: Searcher, sample: Int, salt: Int): Unit = {
    val r = new java.util.SplittableRandom(Corpus.mix(ctx.seed, salt))
    val picks = served.distinct
    (0 until sample.min(picks.size)).foreach { _ =>
      val q = picks(r.nextInt(picks.size))
      ctx.op(s"rank identity '$q'") {
        ctx.check(sameRanking(collect(s.topK(q, 10)), collect(s.topKExhaustive(q, 10))),
          s"topK vs topKExhaustive for '$q'")
      }
    }
  }

  /** Share of looked-up query terms the searcher's df memo had not seen. */
  def missRatio: Double = Stats.ratio(termsMissed, termsLooked)

  def putEndToEnd(): Unit = {
    ctx.put("query_p50_ms", Stats.median(latencies.toSeq))
    ctx.put("query_p95_ms", Stats.pct(latencies.toSeq, 95))
    ctx.info("band_share") = Corpus.Bands
      .map(b => f"$b:${Stats.ratio(bandHits(b), queries)}%.2f").mkString(",")
    ctx.put("query.df_miss_ratio", missRatio)
    ctx.info("queries") = queries.toString
  }

  /** Codec and kernel figures over the served queries' posting lists of
    * one index, computed on the bench thread: bytes per posting, decode
    * time per posting, the share of each query's union the WAND kernel
    * fully scores, and the share of the posting rows a kernel job reads
    * that belong to the query's terms. */
  def putCodecLayer(s: Searcher, dir: String, rowRatio: Boolean): Unit = {
    import ctx.spark.implicits._
    val queries = served.distinct.take(40).toSeq
    val analyzed = queries.map(q => q -> s.analyzeQuery(q))
    val terms = analyzed.flatMap(_._2.keys).distinct
    val paths = s"$dir/postings" +: IndexBuilder.segmentPaths(ctx.spark, dir)
    val lists: Seq[Posting] = graft.sources.TableIO.read(ctx.spark, paths)
      .where(col("term").isin(terms: _*)).as[Posting].collect().toSeq
    val count = lists.map(_.count.toLong).sum
    val bytes = lists.map(p => p.docsBlob.length + p.tfsBlob.length + p.lensBlob.length).sum
    ctx.put("codec.bytes_per_posting", Stats.ratio(bytes.toDouble, count.toDouble))
    var reps = 0
    val (_, decodeMs) = Stats.ms {
      val stop = System.nanoTime() + 200000000L
      while (reps < 3 || System.nanoTime() < stop) { lists.foreach(Postings.decode); reps += 1 }
    }
    ctx.put("codec.decode_ns_per_posting", Stats.ratio(decodeMs * 1e6, count.toDouble * reps))

    val byShardTerm = lists.groupBy(p => (p.shard, p.term)).map { case (k, ps) =>
      k -> (if (ps.size == 1) ps.head else Postings.merge(ps))
    }
    val dfm = s.dfSlice(terms)
    var scored = 0L
    var union = 0L
    analyzed.foreach { case (_, qtf) =>
      byShardTerm.keys.map(_._1).toSeq.distinct.foreach { shard =>
        val inputs = qtf.toSeq.flatMap { case (term, f) =>
          byShardTerm.get((shard, term)).filter(_ => dfm.contains(term))
            .map(p => Wand.TermInput(p, f, dfm(term)))
        }
        if (inputs.nonEmpty) {
          Wand.topK(inputs, s.n, s.avgdl, 10, Bm25.RefDefaults)
          scored += Wand.lastScoredCount.get
          union += inputs.flatMap(i => Postings.decode(i.posting)._1).distinct.size
        }
      }
    }
    ctx.put("query.wand_scored_ratio", Stats.ratio(scored.toDouble, union.toDouble))

    // posting rows of each request's terms over the rows its kernel job
    // read; only meaningful when every request ran against this index
    if (!rowRatio) return
    val rowsPerTerm = lists.groupBy(_.term).map { case (k, v) => k -> v.size }
    val t = ctx.tracer
    val reqs = t.recorded.filter(_.name == "query.request")
    val pairs = reqs.zip(served).map { case (r, q) =>
      val (spans, jobs) = t.subtree(r)
      val kernelIds = spans.filter(_.name == "query.kernel").map(_.id).toSet
      val read = jobs.filter(j => kernelIds(j.span)).map(_.sum(_.inputRecords)).sum
      val useful = s.analyzeQuery(q).keys.toSeq.map(rowsPerTerm.getOrElse(_, 0)).sum
      (useful.toDouble, read.toDouble)
    }
    ctx.put("query.useful_row_ratio", Stats.ratio(pairs.map(_._1).sum, pairs.map(_._2).sum))
  }
}

object Requests {
  /** Query-layer figures from the requests' spans and jobs. */
  def putQueryLayer(ctx: Ctx): Unit = {
    val t = ctx.tracer
    val reqs = t.recorded.filter(_.name == "query.request")
    if (reqs.isEmpty) return
    case class R(analyze: Double, df: Double, kernel: Seq[JobRec], resolve: Seq[JobRec],
                 all: Seq[JobRec], wall: Double)
    val rs = reqs.map { r =>
      val (spans, jobs) = t.subtree(r)
      def named(n: String) = spans.filter(_.name == n)
      def jobsOf(n: String) = named(n).flatMap(s => jobs.filter(_.span == s.id))
      R(named("query.analyze").map(_.ms).sum, named("query.df").map(_.ms).sum,
        jobsOf("query.kernel"), jobsOf("query.resolve"), jobs, r.ms)
    }
    ctx.put("query.analyze_us", Stats.median(rs.map(_.analyze * 1000)))
    ctx.put("query.df_slice_ms", Stats.median(rs.map(_.df)))
    ctx.put("query.kernel_job_ms", Stats.median(rs.map(_.kernel.map(_.ms).sum)))
    ctx.put("query.resolve_job_ms", Stats.median(rs.map(_.resolve.map(_.ms).sum)))
    // the df span's job is part of the df slice, not uncovered driver time
    ctx.put("query.driver_ms", Stats.median(rs.map(r =>
      (r.wall - r.analyze - r.df - (r.kernel ++ r.resolve).map(_.ms).sum).max(0.0))))
    ctx.put("query.jobs_per_query", rs.map(_.all.size).sum.toDouble / rs.size)
    ctx.put("query.stages_per_query", rs.map(_.all.map(_.ranStages).sum).sum.toDouble / rs.size)
    ctx.put("query.tasks_per_query", rs.map(_.all.map(_.tasks).sum).sum.toDouble / rs.size)
    ctx.put("query.scan_rows_per_query",
      rs.map(_.kernel.map(_.sum(_.inputRecords)).sum).sum.toDouble / rs.size)
  }
}
