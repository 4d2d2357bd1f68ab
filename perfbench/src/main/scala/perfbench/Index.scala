package perfbench

import graft.build.{Fsck, IndexBuilder, Manifests}
import graft.query.Searcher
import graft.sources.TableIO
import org.apache.spark.sql.functions.{col, length, sum}
import scala.collection.mutable

/** Shared set-up steps of the index workloads. */
object Setup {
  val Turns = 16000L
  val Shards = 8
  val Reps = 2
  val BuildCfg: IndexBuilder.Config = IndexBuilder.Config(shards = Shards)

  /** Writes turns `from until from + n` of the seeded corpus as Parquet. */
  def writeTurns(ctx: Ctx, path: String, from: Long, n: Long): Long = {
    Corpus.turns(ctx.spark, ctx.seed, from, n, ctx.cores).write.mode("overwrite").parquet(path)
    Manifests.dirBytes(path)
  }

  def build(ctx: Ctx, src: String, dir: String): Unit =
    ctx.tracer.span("build.build", "build") {
      IndexBuilder.build(ctx.spark, TableIO.read(ctx.spark, src), dir, BuildCfg)
    }

  def open(ctx: Ctx, dir: String): Searcher =
    ctx.tracer.span("query.open", "query")(new Searcher(ctx.spark, dir))

  /** Per-stage figures of one build from its manifests, and the
    * listener's per-build means over the jobs of every full build. */
  def putBuildLayer(ctx: Ctx, dir: String, inputBytes: Long): Unit = {
    val ms = Manifests.all(dir).map(m => m.stage -> m).toMap
    Seq("analyzed", "df", "postings", "stats").foreach { st =>
      val m = ms.get(st)
      ctx.put(s"build.${st}_ms", m.map(_.wallMs.toDouble).getOrElse(0.0))
      ctx.put(s"build.${st}_rows", m.map(_.rows.toDouble).getOrElse(0.0))
      ctx.put(s"build.${st}_bytes", m.map(_.bytes.toDouble).getOrElse(0.0))
    }
    val t = ctx.tracer
    val builds = t.recorded.filter(_.name == "build.build")
    val jobs = builds.flatMap(b => t.subtree(b)._2)
    val wall = builds.map(_.ms).sum
    ctx.put("build.shuffle_write_bytes", jobs.map(_.sum(_.shuffleWrite)).sum.toDouble / builds.size.max(1))
    ctx.put("build.spill_bytes", jobs.map(_.sum(_.spill)).sum.toDouble / builds.size.max(1))
    ctx.put("build.gc_ms", jobs.map(_.sum(_.gcMs)).sum.toDouble / builds.size.max(1))
    ctx.put("build.task_ms", jobs.map(_.taskMs).sum.toDouble / builds.size.max(1))
    ctx.put("build.cpu_util", Stats.ratio(jobs.map(_.taskMs).sum.toDouble, wall * ctx.cores))
    val written = jobs.map(_.sum(_.outputBytes)).sum
    ctx.put("build.bytes_written_per_input_byte", Stats.ratio(written.toDouble,
      inputBytes.toDouble * builds.size.max(1)))
  }

  /** Full scan of the Parquet input through the sources layer. */
  def putSourcesLayer(ctx: Ctx, src: String): Unit = {
    val t = ctx.tracer
    val (_, ms) = Stats.ms(t.span("sources.scan", "sources") {
      TableIO.read(ctx.spark, src).select(sum(length(col("text")))).collect()
    })
    ctx.put("sources.scan_ms", ms)
    ctx.put("sources.scan_bytes", Manifests.dirBytes(src).toDouble)
  }

  /** Single-thread `Analyzer.tokenize` throughput over seeded turn texts. */
  def putAnalysisLayer(ctx: Ctx): Unit = {
    val texts = (0 until 2000).map(i => Corpus.text(ctx.seed ^ 0xA5L, i.toLong))
    val stop = graft.analysis.StopWords.english
    var tokens = 0L
    val (_, ms) = Stats.ms {
      val end = System.nanoTime() + 300000000L
      while (System.nanoTime() < end) texts.foreach(x => tokens += graft.analysis.Analyzer.tokenize(x, stop).length)
    }
    ctx.put("analysis.tokens_per_s", tokens / (ms / 1000))
  }
}

/** One run over a built index: set-up, a read window, write rounds,
  * compact and the output checks. `serve` and `ingest` compose these. */
final class IndexRun(ctx: Ctx) {
  import IndexRun._
  private val t = ctx.tracer
  private val src = s"${ctx.work}/corpus"
  private var inputBytes = 0L
  private var dir = ""
  private var searcher: Searcher = _
  /** Warm-searcher requests of the read window. */
  val warm = new Requests(ctx)
  /** Requests on the fresh searcher of each write round. */
  val fresh = new Requests(ctx)
  private var live = Setup.Turns

  /** Writes the corpus, then builds the index and opens a searcher that
    * answers one query, [[Setup.Reps]] times; `setup_s` is the median. */
  def setup(): Unit = {
    inputBytes = Setup.writeTurns(ctx, src, 0L, Setup.Turns)
    ctx.phase("corpus")
    warmUp()
    ctx.phase("warmup")
    val firstQ = Corpus.queryText(Corpus.query(ctx.seed, 9, 0))
    val reps = (0 until Setup.Reps).map { rep =>
      dir = s"${ctx.work}/idx$rep"
      Stats.ms {
        val buildMs = Stats.ms(Setup.build(ctx, src, dir))._2
        searcher = Setup.open(ctx, dir)
        searcher.topK(firstQ, 10).collect()
        buildMs
      }
    }
    ctx.put("setup_s", Stats.median(reps.map(_._2)) / 1000)
    ctx.put("build_turns_per_s", Setup.Turns / (Stats.median(reps.map(_._1)) / 1000))
    ctx.put("index_bytes_per_input_byte",
      Stats.ratio(Manifests.dirBytes(dir).toDouble, inputBytes.toDouble))
    if (ctx.traced) Setup.putBuildLayer(ctx, dir, inputBytes)
    searcher.topKBatch(batch(7, 0), 10).collect()
    ctx.settle()
    ctx.phase("setup")
  }

  /** One untimed pass through the build, write and single-request calls
    * the run times, on a 1,000-turn index, so that the timed calls run on
    * compiled code; the batch call is warmed on the built index. */
  private def warmUp(): Unit = {
    val wsrc = s"${ctx.work}/warm_src"
    val wdir = s"${ctx.work}/warm_idx"
    Setup.writeTurns(ctx, wsrc, 0L, 1000L)
    IndexBuilder.build(ctx.spark, TableIO.read(ctx.spark, wsrc), wdir, Setup.BuildCfg)
    Setup.writeTurns(ctx, s"${wsrc}_add", 1000L, 100L)
    IndexBuilder.delete(ctx.spark, wdir, col("conv_id") === Corpus.convId(0))
    IndexBuilder.append(ctx.spark, TableIO.read(ctx.spark, s"${wsrc}_add"), wdir, Setup.BuildCfg)
    IndexBuilder.refresh(ctx.spark, wdir)
    val s = new Searcher(ctx.spark, wdir)
    (0 until 3).foreach(i => s.topK(Corpus.queryText(Corpus.query(ctx.seed, 8, i)), 10).collect())
  }

  /** Batch `b` of query stream `stream`: [[BatchSize]] queries by id. */
  private def batch(stream: Int, b: Int): Map[String, String] =
    (0 until BatchSize).map { i =>
      s"q$i" -> Corpus.queryText(Corpus.query(ctx.seed, stream, b * BatchSize + i))
    }.toMap

  /** The read window: [[WarmSingles]] untimed single requests, then
    * [[SinglesPerCycle]] single top-10 requests on the warm searcher and
    * [[BatchesPerCycle]] 200-query batches, repeated once per
    * [[CycleSeconds]] of the window (at least once). The count is fixed by
    * the window, not by the clock, so every run has the same mix. */
  def serve(): Unit = {
    val batchMs = mutable.ArrayBuffer[Double]()
    val cycles = math.max(1, math.round(ctx.seconds / CycleSeconds).toInt)
    // single-request latency falls over the first requests on a searcher
    // while the driver's query path compiles; those are not timed
    (0 until WarmSingles).foreach(i => warm.untimed(searcher, Corpus.query(ctx.seed, 4, i)))
    (0 until cycles).foreach { c =>
      (0 until SinglesPerCycle).foreach { i =>
        ctx.op("topK")(warm.single(searcher, Corpus.query(ctx.seed, 1, c * SinglesPerCycle + i)))
      }
      (0 until BatchesPerCycle).foreach { b =>
        val qs = batch(2, c * BatchesPerCycle + b)
        t.newRequest()
        ctx.op("topKBatch") {
          val (rows, ms) = Stats.ms {
            val df = t.span("query.batch_kernel", "query")(searcher.topKBatch(qs, 10))
            t.span("query.batch_resolve", "query")(df.collect())
          }
          batchMs += ms
          ctx.check(rows.nonEmpty, "batch answered")
        }
      }
    }
    val qps = BatchSize / (Stats.median(batchMs.toSeq) / 1000)
    ctx.put("qps", qps)
    // one batch is the read window's round; `write` replaces it in ingest
    ctx.put("round_s", Stats.median(batchMs.toSeq) / 1000)
    warm.putEndToEnd()
    ctx.info("batch_ms") = batchMs.map(ms => f"$ms%.0f").mkString(",")
    ctx.phase("serve")
    if (ctx.traced) warm.putCodecLayer(searcher, dir, rowRatio = true)
  }

  /** [[WriteRounds]] rounds of: delete a few conversations, append a
    * batch, refresh, open a fresh searcher (empty df memo) and answer
    * queries on it; then one compact. */
  def write(): Unit = {
    val convs = Setup.Turns / Corpus.TurnsPerConv
    val rnd = new java.util.SplittableRandom(Corpus.mix(ctx.seed, 77))
    val doomed = Iterator.continually(rnd.nextLong(convs)).distinct
      .take(WriteRounds * DeleteConvs).toIndexedSeq.grouped(DeleteConvs).toIndexedSeq
    val batches = (0 until WriteRounds).map { r =>
      val p = s"${ctx.work}/append$r"
      Setup.writeTurns(ctx, p, Setup.Turns + r * AppendTurns, AppendTurns)
      p
    }
    ctx.settle()
    ctx.phase("write_inputs")
    val refreshMs, deleteMs, roundMs = mutable.ArrayBuffer[Double]()
    var query = 0
    (0 until WriteRounds).foreach { round =>
      t.newRequest()
      roundMs += Stats.ms {
        val ids = doomed(round).map(Corpus.convId)
        ctx.op(s"delete round $round") {
          val (n, ms) = Stats.ms(t.span("build.delete", "build") {
            IndexBuilder.delete(ctx.spark, dir, col("conv_id").isin(ids: _*))
          })
          deleteMs += ms
          live -= n
          ctx.check(n == DeleteConvs * Corpus.TurnsPerConv, s"deleted $n docs in round $round")
        }
        ctx.op(s"append+refresh round $round") {
          refreshMs += Stats.ms {
            t.span("build.append", "build") {
              IndexBuilder.append(ctx.spark, TableIO.read(ctx.spark, batches(round)), dir, Setup.BuildCfg)
            }
            t.span("build.refresh", "build")(IndexBuilder.refresh(ctx.spark, dir))
            searcher = Setup.open(ctx, dir)
            fresh.reopened()
          }._2
          live += AppendTurns
        }
        (0 until QueriesPerRound).foreach { _ =>
          ctx.op("topK")(fresh.single(searcher, Corpus.query(ctx.seed, 3, query)))
          query += 1
        }
      }._2
    }
    ctx.put("round_s", Stats.median(roundMs.toSeq) / 1000)
    ctx.put("refresh_p50_ms", Stats.median(refreshMs.toSeq))
    ctx.put("delete_p50_ms", Stats.median(deleteMs.toSeq))
    ctx.put("query.fresh_p50_ms", Stats.median(fresh.latencies.toSeq))
    ctx.put("query.df_miss_ratio", fresh.missRatio)
    val segments = IndexBuilder.segmentPaths(ctx.spark, dir).size
    val (_, compactMs) = Stats.ms(ctx.op("compact") {
      t.span("build.compact", "build")(IndexBuilder.compact(ctx.spark, dir))
    })
    ctx.put("compact_s", compactMs / 1000)
    ctx.phase("write")
    if (ctx.traced) {
      Seq("append", "refresh", "delete", "compact").foreach { op =>
        ctx.put(s"build.${op}_ms", Stats.median(t.recorded.filter(_.name == s"build.$op").map(_.ms)))
      }
      ctx.put("build.segments_before_compact", segments.toDouble)
      ctx.put("build.compact_bytes_rewritten", t.recorded.filter(_.name == "build.compact")
        .flatMap(s => t.subtree(s)._2).map(_.sum(_.outputBytes)).sum.toDouble)
      Setup.putSourcesLayer(ctx, src)
    }
  }

  def checkFsck(when: String): Unit =
    ctx.op(s"fsck $when") {
      val bad = Fsck.run(ctx.spark, dir).filterNot(_.ok)
      ctx.check(bad.isEmpty, s"fsck $when: ${bad.mkString("; ")}")
    }

  /** The stats `n` of the searcher equals the live documents. */
  def checkLive(when: String, reopen: Boolean): Unit = {
    if (reopen) searcher = new Searcher(ctx.spark, dir)
    ctx.check(searcher.n == live, s"stats n ${searcher.n} vs $live live docs $when")
  }

  /** Rank identity of sampled served queries against the exhaustive
    * path, and of batch answers against single answers. */
  def checkAnswers(reqs: Requests, salt: Int): Unit = {
    reqs.checkRankIdentity(searcher, 2, salt)
    val qs = Seq("b0" -> Corpus.queryText(Corpus.query(ctx.seed, 2, 0)))
    ctx.op("batch vs single") {
      val byQid = searcher.topKBatch(qs.toMap, 10).collect().groupBy(_.getString(0))
      qs.foreach { case (qid, q) =>
        val got = byQid.getOrElse(qid, Array.empty).map(r => (r.getLong(3), r.getDouble(4)))
        ctx.check(reqs.sameRanking(got, reqs.collect(searcher.topK(q, 10))), s"batch vs single for '$q'")
      }
    }
  }

  /** Query-layer figures of the requests; batch-path figures. */
  def putQueryLayers(): Unit = {
    Requests.putQueryLayer(ctx)
    Setup.putAnalysisLayer(ctx)
    val kernels = t.recorded.filter(_.name == "query.batch_kernel")
    ctx.put("query.batch_kernel_job_ms", Stats.median(kernels.map(k => t.subtree(k)._2.map(_.ms).sum)))
    val batchSpans = t.recorded.filter(_.name.startsWith("query.batch_"))
    val batchTask = batchSpans.flatMap(s => t.subtree(s)._2).map(_.taskMs).sum.toDouble
    ctx.put("query.batch_task_ms_per_query", batchTask / (kernels.size.max(1) * BatchSize))
    ctx.put("query.cpu_util", Stats.ratio(batchTask, batchSpans.map(_.ms).sum * ctx.cores))
    ctx.put("query.open_ms", Stats.median(t.recorded.filter(_.name == "query.open").map(_.ms)))
  }
}

object IndexRun {
  val BatchSize = 200
  val WarmSingles = 10
  val SinglesPerCycle = 12
  /** The first batch after the single requests is the slower one; with
    * three per cycle the median batch is one of the others. */
  val BatchesPerCycle = 3
  /** Wall time of one read cycle on a 4-core host. */
  val CycleSeconds = 5.5
  val WriteRounds = 2
  val AppendTurns = 1000L
  val DeleteConvs = 3
  val QueriesPerRound = 4
}

/** `serve`: a warm searcher over a built index answers single top-10
  * requests and 200-query batches in one closed loop. */
object Serve {
  def run(ctx: Ctx): Unit = {
    val r = new IndexRun(ctx)
    r.setup()
    r.serve()
    r.checkAnswers(r.warm, 11)
    if (ctx.traced) r.putQueryLayers()
  }
}

/** `ingest`: the `serve` read window on the built index, then write
  * rounds beside reads on a fresh searcher per generation, then compact. */
object Ingest {
  def run(ctx: Ctx): Unit = {
    val r = new IndexRun(ctx)
    r.setup()
    r.checkFsck("after build")
    r.checkLive("after build", reopen = false)
    r.serve()
    r.write()
    r.checkFsck("after compact")
    r.checkLive("after compact", reopen = true)
    r.checkAnswers(r.fresh, 13)
    if (ctx.traced) r.putQueryLayers()
  }
}
