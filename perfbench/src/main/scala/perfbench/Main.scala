package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation. `checks` are (key, observed) pairs that run.py
  * compares with the recorded golden values; `error` is set when the op
  * threw or an in-run check failed. */
final case class Op(kind: String, secs: Double, rows: Long,
    checks: Seq[(String, String)] = Nil, error: Option[String] = None)

final class Ctx(val spark: SparkSession, val seed: Long, val smoke: Boolean,
    val work: Path, val tracer: Tracer, val counters: Counters) {
  val cores: Int = spark.sparkContext.defaultParallelism
  def trace[T](name: String)(body: => T): T = tracer.span(name)(body)
  def time[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }
}

/** A workload: set-up steps and a unit of measured work. */
trait Workload {
  /** One-off set-up (inputs), run once before the first `seed`. */
  def prepare(): Unit = ()
  /** Repeatable set-up (fixtures, tables); run several times, each one
    * dropping what the previous one built. */
  def seed(): Unit
  /** One unit of measured work; `i` counts from 0. */
  def op(i: Int): Seq[Op]
  /** The measured phase stops only after a multiple of this many ops. */
  def round: Int = 1
  /** Extra per-layer probes for the traced run (outside the timed ops). */
  def layers(ops: Seq[Op]): Map[String, Double] = Map.empty
}

object Main {
  def fail(op: String, t: Throwable): Op = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    Op(op, 0.0, 0L, error = Some(s"${t.getClass.getName}: ${String.valueOf(t.getMessage).take(300)}" +
      (if (root ne t) s" (cause ${root.getClass.getName}: ${String.valueOf(root.getMessage).take(200)})" else "")))
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val smoke = a.get("scale").contains("smoke")
    val work = Paths.get(a("work"))
    val out = Paths.get(a("out"))
    val launchMs = sys.props.get("perfbench.launchMs").map(_.toLong)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)
    val seedReps = a.getOrElse("seed-reps", "3").toInt

    val mainMs = System.currentTimeMillis()
    val tracer = new Tracer(s"$name-${a("seed")}-${System.currentTimeMillis()}")
    val spark = graft.util.GraftSession.build(s"perfbench-$name")
    val counters = new Counters(spark.sparkContext)
    spark.sparkContext.addSparkListener(counters)
    val sessionMs = System.currentTimeMillis()
    // session warm-up: first job and first SQL plan
    spark.range(1000).selectExpr("sum(id)").collect()
    val ctx = new Ctx(spark, a("seed").toLong, smoke, work, tracer, counters)
    val coldS = (System.currentTimeMillis() - launchMs) / 1e3

    val w: Workload = name match {
      case "join_tile" => new JoinTile(ctx)
      case "query_suite" => new QuerySuite(ctx, Paths.get(a("data")))
      case "table_ingest_read" => new TableIngestRead(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    wipe(work)
    Files.createDirectories(work)
    val prepareS = ctx.time(w.prepare())._1
    val seedS = (1 to seedReps).map(_ => ctx.time(w.seed())._1)
    println(f"setup cold $coldS%.3f prepare $prepareS%.3f seed ${seedS.mkString(" ")}")

    // measured phase: whole rounds until the time is up
    tracer.enabled = traced
    val measured = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val ops = Seq.newBuilder[Op]
      var i = 0
      do {
        val done = w.op(i)
        done.foreach(o => println(f"op ${o.kind} ${o.secs}%.3f ${o.rows}${o.error.fold("")(" " + _)}"))
        ops ++= done
        i += 1
      } while (System.nanoTime() < deadline || i % w.round != 0)
      ops.result()
    }
    val timed = measured.filterNot(_.kind.startsWith("aux."))
    val lat = timed.map(_.secs)
    val rounds = timed.grouped(w.round).filter(_.size == w.round).toSeq
    val e2e = Map(
      "setup_s" -> (coldS + prepareS + Stats.median(seedS)),
      "op_p50_s" -> Stats.median(lat),
      "pass_s" -> Stats.median(rounds.map(_.map(_.secs).sum)),
      "rows_per_s" -> Stats.median(rounds.map(r => r.map(_.rows).sum / r.map(_.secs).sum)))
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        val self = tracer.layerSelf
        val probes = w.layers(measured)
        tracer.enabled = false
        probes ++
          Seq("sources", "core", "functions", "plans", "operators", "jobs", "streaming", "util",
            "SparkEntry").map(l => s"layer.$l.self_s" -> self.getOrElse(l, 0.0)) ++
          Map("trace.pass_s" -> e2e("pass_s"))
      }
    tracer.write(work.resolveSibling(work.getFileName.toString + "-trace.jsonl"))

    val record = Map(
      "workload" -> name, "seed" -> ctx.seed, "smoke" -> smoke, "traced" -> traced,
      "cold_s" -> coldS, "prepare_s" -> prepareS, "cold_parts_s" -> Map(
        "launch_to_main" -> (mainMs - launchMs) / 1e3, "session" -> (sessionMs - mainMs) / 1e3,
        "warm_up" -> (coldS - (sessionMs - launchMs) / 1e3)), "seed_s" -> seedS, "n_ops" -> timed.size,
      "e2e" -> e2e, "layers" -> layers,
      "ops" -> measured.map(o => Map("k" -> o.kind, "s" -> o.secs, "r" -> o.rows,
        "c" -> o.checks.toMap, "e" -> o.error)),
      "jvm" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "spark_conf" -> spark.sparkContext.getConf.getAll.toSeq
        .filterNot(_._1.startsWith("spark.app.")).sortBy(_._1).toMap)
    Files.write(out, Json.render(record).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def wipe(p: Path): Unit = if (Files.exists(p)) graft.sources.SnapshotTable.recursiveDelete(p)
}
