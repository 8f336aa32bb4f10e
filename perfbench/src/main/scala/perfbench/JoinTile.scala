package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{GeoQueries, Tiling}
import graft.sources.Pages

/** The join and tile kernels over the counter-based synthetic pages table.
  * One op is one pass of four legs:
  *  - the broadcast point-in-polygon join and the tile assignment (the
  *    paper's tiles + join rows per second);
  *  - the salted shuffle join (`saltedPipJoinOn`, time window widened) on
  *    the skewed pages, whose every tenth row lands on one hot cell, and
  *    on the same rows without the hot ones.
  * The seed changes nothing here: the generator has no seed (row i is a
  * pure function of i, so the rows are the same at any parallelism), and
  * the legs run in a fixed order because the order moves a pass's time by
  * up to a quarter (measured on a 4-core host). */
final class JoinTile(ctx: Ctx) extends Workload {
  import ctx.{spark, trace}

  val pipRows: Long = if (ctx.smoke) 20000L else 16000000L
  val saltRows: Long = if (ctx.smoke) 20000L else 800000L
  val salts = 16

  private def pages(n: Long, cols: String*): DataFrame = trace("sources.Pages.synthetic") {
    Pages.synthetic(spark, n, 4 * ctx.cores).select(cols.map(col): _*)
  }
  private def pipPages(n: Long) = pages(n, "doc_id", "ts_sec", "ilat", "ilon")

  private def pipJoin(n: Long): (Long, Long) = trace("operators.GeoQueries.pip_join") {
    val j = trace("operators.GeoQueries.pipJoinTimelessOn")(GeoQueries.pipJoinTimelessOn(spark, pipPages(n)))
    val r = j.agg(count(lit(1)), sum(col("fp_id"))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  private def tile(n: Long): Array[Row] = trace("operators.Tiling.tile") {
    trace("operators.Tiling.rasterizeLongOn")(Tiling.rasterizeLongOn(spark, pipPages(n))).collect()
  }

  private def salted(n: Long, skewed: Boolean): Array[Row] = trace("operators.GeoQueries.salted_join") {
    val p = pages(n, "doc_id", "ts_sec", "ilat", "ilon", "lang")
    val in = if (skewed) p else p.filter(col("doc_id") % 10 =!= 0)
    trace("operators.GeoQueries.saltedPipJoinOn")(
      GeoQueries.saltedPipJoinOn(spark, in, salts, widenTime = true)).collect()
  }

  /** No fixtures: the repeated set-up is a warm-up pass (code generation
    * and JIT of every leg; smaller passes leave the first measured one
    * about twice as slow). */
  def seed(): Unit = { pass(pipRows, saltRows); () }

  /** The four legs, in this order: (leg, seconds, rows, check). */
  private def pass(pipN: Long, saltN: Long): Seq[(String, Double, Long, String)] = {
    val (js, (jRows, jFp)) = leg("join")(pipJoin(pipN))
    val (ts, tiles) = leg("tile")(tile(pipN))
    val (ss, skewed) = leg("salted_skewed")(salted(saltN, skewed = true))
    val (us, uniform) = leg("salted_uniform")(salted(saltN, skewed = false))
    Seq(("join", js, jRows, s"$jRows:$jFp"), ("tile", ts, tiles.length.toLong, Digest.rows(tiles)),
      ("salted_skewed", ss, saltN, Digest.rows(skewed)),
      ("salted_uniform", us, saltN - (saltN + 9) / 10, Digest.rows(uniform)))
  }

  // traced-run accumulators: Spark counters and wall per leg, and the
  // join-stage task skew of each salted join
  private val legCounters = scala.collection.mutable.Map.empty[String, (CounterSnap, Double)]
    .withDefaultValue((CounterSnap(), 0.0))
  private val stageSkew = scala.collection.mutable.Map.empty[String, Vector[(Double, Double)]]
    .withDefaultValue(Vector.empty)

  private def leg[T](name: String)(body: => T): (Double, T) = {
    if (!ctx.tracer.enabled) ctx.time(body)
    else {
      val since = ctx.counters.lastStageId
      val before = ctx.counters.snap()
      val (s, r) = ctx.time(body)
      val (c, w) = legCounters(name)
      legCounters(name) = (c + (ctx.counters.snap() - before), w + s)
      if (name.startsWith("salted")) {
        // the join stage is the one that reads the most shuffle bytes
        val st = ctx.counters.stagesAfter(since).maxBy(_.shuffleRead.sum)
        def maxOverMedian(xs: Seq[Double]) = xs.max / math.max(Stats.median(xs), 1e-9)
        stageSkew(name) :+= ((maxOverMedian(st.durationsMs.map(_.toDouble)),
          maxOverMedian(st.shuffleRead.map(_.toDouble))))
      }
      (s, r)
    }
  }

  def op(i: Int): Seq[Op] =
    try {
      val legs = pass(pipRows, saltRows)
      Op("pass", legs.map(_._2).sum, legs.map(_._3).sum, legs.map(l => l._1 -> l._4)) +:
        legs.map { case (l, secs, n, _) => Op(s"aux.$l", secs, n) }
    } catch { case t: Throwable => Seq(Main.fail("pass", t)) }

  override def layers(ops: Seq[Op]): Map[String, Double] = {
    def aggSum(df: DataFrame): Unit = {
      val sums = df.columns.map(c => sum(col(c)))
      df.agg(sums.head, sums.tail: _*).collect()
      ()
    }
    // Pages generation forced through an aggregate over the four columns
    // the join reads (count() would prune them), then the same plus the
    // cell key: the difference is the cell-key kernel
    val gen = (1 to 3).map(_ => ctx.time(trace("sources.Pages.gen")(aggSum(pipPages(pipRows))))._1)
    val cell = (1 to 3).map(_ => ctx.time(trace("core.cell_key") {
      aggSum(pipPages(pipRows).select(Pages.cellCol(col("ilat"), col("ilon"), GeoQueries.JoinLevel)))
    })._1)
    val fpCells = (1 to 3).map(_ => ctx.time(trace("functions.cell_cover") {
      GeoQueries.footprintCells(spark).collect() })._1)
    val nFpCells = GeoQueries.footprintCells(spark).count()
    def med(kind: String) = Stats.median(ops.filter(_.kind == kind).map(_.secs))
    def rate(kind: String) = { val o = ops.filter(_.kind == kind); o.map(_.rows).sum / o.map(_.secs).sum }
    val perLeg = Seq("join", "tile", "salted_skewed", "salted_uniform").flatMap { l =>
      val (c, wall) = legCounters(l)
      Seq(s"join_tile.$l.spark.tasks" -> c.tasks.toDouble,
        s"join_tile.$l.spark.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
        s"join_tile.$l.spark.cpu_util" -> c.cpuNs / 1e9 / (wall * ctx.cores),
        s"join_tile.$l.spark.gc_frac" -> c.gcMs / 1e3 / math.max(c.runMs / 1e3, 1e-9))
    }
    val (joinS, tileS) = (ops.filter(_.kind == "aux.join"), ops.filter(_.kind == "aux.tile"))
    val pipRate = (joinS.map(_.rows).sum + tileS.map(_.rows).sum) / (joinS.map(_.secs).sum + tileS.map(_.secs).sum)
    val sk = stageSkew("salted_skewed")
    Map(
      "sources.Pages.gen_s" -> Stats.median(gen),
      "core.cell_key_s" -> (Stats.median(cell) - Stats.median(gen)),
      "operators.GeoQueries.footprint_cells_s" -> Stats.median(fpCells),
      "operators.GeoQueries.pip_join_s" -> med("aux.join"),
      "operators.Tiling.tile_s" -> med("aux.tile"),
      "operators.GeoQueries.salted_join_s" -> med("aux.salted_skewed"),
      "join_tile.tiles_join_rows_per_s" -> pipRate,
      "join_tile.tiles_join_rows_per_s_per_core" -> pipRate / ctx.cores,
      "join_tile.skewed_pages_per_s" -> rate("aux.salted_skewed"),
      "join_tile.uniform_pages_per_s" -> rate("aux.salted_uniform"),
      "join_tile.salted.task_time_max_over_median" -> Stats.median(sk.map(_._1)),
      "join_tile.salted.shuffle_read_max_over_median" -> Stats.median(sk.map(_._2)),
      "join_tile.salted.build_rows_replicated" -> (nFpCells * salts).toDouble) ++ perLeg
  }
}
