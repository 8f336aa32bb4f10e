package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.SparkEntry
import graft.jobs.IngestJob
import graft.sources.SnapshotTable
import graft.streaming.StreamingJobs
import graft.util.CacheBag

/** A fixed sample of the SparkEntry queries, one from each of the main
  * modules the query map calls into, each timed as construct + plan +
  * collect(); collect() materializes every column, so no work is pruned
  * away. The pass ends with the streaming sink: the sf pages committed as one
  * micro-batch (`StreamingJobs.commitBatchToTable`) to a fresh snapshot
  * table and read back. One op is one query (or the sink commit); a run
  * measures whole passes. Set-up runs one warm-up pass (a query's first
  * execution in a JVM varies with the queries run before it) and builds
  * the snapshot-table fixtures of the sampled queries
  * (IngestJob.cachedTable). The seed changes nothing here: the inputs are
  * the fixed test tables and the order is fixed (query number).
  *
  * The whole map (143 queries) takes about two minutes at sf0.01 on four
  * cores, far more than one run may take, so the sample is what a run
  * measures; each query is the cheapest one of its module. */
final class QuerySuite(ctx: Ctx, data: Path) extends Workload {
  import ctx.{spark, trace}

  private val sfDir = data.toString
  private val all = SparkEntry.queries
  val sample: IndexedSeq[String] = IndexedSeq(
    "q01_pip_inventory", "q13_rolling_value", "q28_minhash_sigs", "q33_ann_buckets", "q34_rasterize",
    "q50_snapshot_diff", "q79_pii_scrub", "q113_bpe_merges", "q135_adaptive_grid")
  override def round: Int = sample.size + 1

  /** Module each query calls into, read from the query map's source. */
  val module: Map[String, String] = {
    val src = new String(Files.readAllBytes(Paths.get("src/main/scala/graft/SparkEntry.scala")),
      StandardCharsets.UTF_8)
    val re = """"(q\d+_\w+)" -> \(\(s, d\) => ([\w.]+)\.\w+\(""".r
    re.findAllMatchIn(src).map { m =>
      val owner = m.group(2).split('.').last
      m.group(1) -> (if (owner == "IngestJob") "jobs.IngestJob" else s"operators.$owner")
    }.toMap.withDefaultValue("operators.unknown")
  }

  /** The sampled query whose construction builds a cachedTable fixture. */
  val fixtureQueries: Seq[String] = Seq("q50_snapshot_diff")

  private var fixtureS = Vector.empty[Double]

  /** Warm-up: one pass, results discarded. */
  override def prepare(): Unit = (0 until round).foreach(op)

  def seed(): Unit = {
    // the fixtures live in java.io.tmpdir: drop them so every set-up pays the build
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    Files.list(tmp).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("graft-"))
      .foreach(graft.sources.SnapshotTable.recursiveDelete)
    val (s, _) = ctx.time(trace("jobs.IngestJob.fixture_build") {
      fixtureQueries.foreach { q => all(q)(spark, sfDir); CacheBag.release() }
    })
    fixtureS :+= s
  }

  // traced-run accumulators (per measured op)
  private val acc = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def exchanges(p: SparkPlan): Int = {
    val root = p match { case a: AdaptiveSparkPlanExec => a.inputPlan; case o => o }
    root.collect { case e: Exchange => e }.size
  }

  private def sinkRoot = ctx.work.resolve("sink").toString

  /** The streaming sink: one micro-batch to a fresh table, read back. */
  private def sink(): Op = {
    Main.wipe(ctx.work.resolve("sink"))
    val (s, r) = ctx.time(trace("streaming.StreamingJobs.commitBatchToTable") {
      StreamingJobs.commitBatchToTable(IngestJob.pagesWithPartitions(spark, sfDir), 0L, sinkRoot)
      SnapshotTable.read(spark, sinkRoot)._1
        .agg(count(lit(1)), sum(col("doc_id")), sum(col("n_chars"))).collect()(0)
    })
    if (ctx.tracer.enabled) acc("sink_s") += s
    Op("sink_commit", s, r.getLong(0), Seq("sink_commit" -> s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"))
  }

  def op(i: Int): Seq[Op] =
    if (i % round == sample.size) try Seq(sink()) catch { case t: Throwable => Seq(Main.fail("sink_commit", t)) }
    else {
      val q = sample(i % round)
      val traced = ctx.tracer.enabled
      try {
        val c0 = if (traced) ctx.counters.snap() else null
        val (cs, df) = ctx.time(trace("SparkEntry.construct")(all(q)(spark, sfDir)))
        val c1 = if (traced) ctx.counters.snap() else null
        val (ps, plan) = ctx.time(trace("plans.executedPlan")(df.queryExecution.executedPlan))
        val (es, rows) = ctx.time(trace(s"${module(q)}.exec")(df.collect()))
        if (traced) {
          val c2 = ctx.counters.snap()
          val d = c2 - c0
          acc("construct_s") += cs; acc("plan_s") += ps; acc("exec_s") += es
          acc("construct_jobs") += (c1 - c0).jobs
          acc("jobs") += d.jobs; acc("stages") += d.stages
          acc("exchanges") += exchanges(plan)
          acc("shuffle_bytes") += d.shuffleWrite; acc("spill_bytes") += d.spill
          acc(s"${module(q)}.exec_s") += es
          acc("frames") += CacheBag.size
        }
        trace("util.CacheBag.release")(CacheBag.release())
        Seq(Op(q, cs + ps + es, rows.length, Seq(s"q.$q" -> Digest.rows(rows))))
      } catch {
        case t: Throwable =>
          CacheBag.release()
          Seq(Main.fail(q, t))
      }
    }

  override def layers(ops: Seq[Op]): Map[String, Double] = {
    val modules = sample.map(module).distinct
    // per pass: the accumulators hold every traced pass
    val k = 1.0 / math.max(ops.count(_.kind == "sink_commit"), 1)
    Map(
      "SparkEntry.construct_s" -> acc("construct_s") * k,
      "query_suite.construct_jobs" -> acc("construct_jobs") * k,
      "query_suite.plan_s" -> acc("plan_s") * k,
      "query_suite.exec_s" -> acc("exec_s") * k,
      "query_suite.spark.jobs" -> acc("jobs") * k,
      "query_suite.spark.stages" -> acc("stages") * k,
      "query_suite.plan.exchanges" -> acc("exchanges") * k,
      "query_suite.spark.shuffle_bytes" -> acc("shuffle_bytes") * k,
      "query_suite.spark.spill_bytes" -> acc("spill_bytes") * k,
      "query_suite.spark.s_per_stage" -> acc("exec_s") / math.max(acc("stages"), 1.0),
      "util.CacheBag.frames" -> acc("frames") * k,
      "jobs.IngestJob.fixture_build_s" -> Stats.median(fixtureS),
      "streaming.StreamingJobs.append_s" -> acc("sink_s") * k) ++
      modules.map(m => s"$m.exec_s" -> acc(s"$m.exec_s") * k)
  }
}
