package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.jobs.IngestJob
import graft.sources.{Pages, SnapshotTable}
import graft.streaming.StreamingJobs

/** A single-writer cycle of eight calls against a snapshot table of 4,400
  * synthetic pages in about 110 (p_cell, p_date) partitions: a stream
  * append, a COW merge, a MOR upsert, a delete and maintenance (compact +
  * expire), between a pruned read, a time-travel read and a changelog.
  * Every write is checked against an in-memory model of the table (row
  * count and checksums), every read against the model's state at the
  * snapshot it reads. Local filesystem, no fsync. One op is one call; the
  * seed picks the partitions, rows and windows each op touches, all of the
  * same size for every seed. */
final class TableIngestRead(ctx: Ctx) extends Workload {
  import ctx.{spark, trace}

  private val n: Long = if (ctx.smoke) 600L else 1300L
  private val batchRows = 50
  private val batches = 12
  private val updates = 6
  private val keep = 6
  private def root = ctx.work.resolve("table").toString
  private def inputs = ctx.work.resolve("inputs")

  /** Model of the table: n_chars by doc_id. */
  type State = Map[Long, Long]
  private var state: State = Map.empty
  private var history = Map.empty[Long, State]
  private var inputStates = Map.empty[String, State]

  private def pages(from: Long, until: Long): DataFrame =
    Pages.synthetic(spark, until, 4).filter(col("doc_id") >= from)
      .select("doc_id", "url", "ts_sec", "text", "lang", "source", "n_chars", "ilat", "ilon")
      .withColumn("p_cell", Pages.cellCol(col("ilat"), col("ilon"), IngestJob.PCellLevel))
      .withColumn("p_date", date_format(timestamp_seconds(col("ts_sec")), "yyyy-MM-dd"))

  /** count, sum(doc_id), sum(n_chars), sum((doc_id % 9973) * n_chars) */
  private def stats(s: State): String = {
    var (c, a, b, m) = (0L, 0L, 0L, 0L)
    s.foreach { case (d, nc) => c += 1; a += d; b += nc; m += (d % 9973) * nc }
    s"$c:$a:$b:$m"
  }

  private def stats(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L)),
      coalesce(sum(col("n_chars")), lit(0L)),
      coalesce(sum((col("doc_id") % 9973) * col("n_chars")), lit(0L))).collect()(0)
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}:${r.getLong(3)}"
  }

  private var baseState: State = Map.empty

  /** Input sets, written in one job: stream batches with fresh doc_ids
    * above the base table, and update sets (the rows of three seeded
    * partitions with n_chars changed) for the merges and the MOR upserts. */
  override def prepare(): Unit = {
    val rnd = new scala.util.Random(ctx.seed)
    val top = n + batches.toLong * batchRows
    val rows = pages(0, top).select("doc_id", "p_cell", "p_date", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getAs[Number](3).longValue))
    val (baseRows, streamRows) = rows.partition(_._1 < n)
    // partitions of typical size only (not the hot cell's, not a partial
    // last day), so every seed merges about the same number of rows
    val sizes = baseRows.groupBy(r => (r._2, r._3)).map { case (k, rs) => k -> rs.length }
    val typical = Stats.median(sizes.values.map(_.toDouble).toSeq)
    val keys = sizes.filter { case (_, c) => c >= 0.75 * typical && c <= 1.5 * typical }.keys.toSeq.sorted
    // (doc_id, set, n_chars delta)
    val assign = (0 until 2 * updates).flatMap { k =>
      val pick = Seq.fill(3)(keys(rnd.nextInt(keys.length))).toSet
      val set = if (k < updates) s"merge-$k" else s"mor-${k - updates}"
      baseRows.filter(r => pick((r._2, r._3))).map(r => (r._1, set, k + 1))
    } ++ streamRows.map(r => (r._1, s"batch-${(r._1 - n) / batchRows}", 0))
    val byId = rows.map(r => r._1 -> r).toMap
    inputStates = assign.groupBy(_._2).map { case (set, as) =>
      set -> as.map { case (d, _, dn) => d -> (byId(d)._4 + dn) }.toMap }
    baseState = baseRows.map(r => r._1 -> r._4).toMap
    import spark.implicits._
    pages(0, top).join(broadcast(assign.toDF("doc_id", "set", "dn")), "doc_id")
      .withColumn("n_chars", (col("n_chars") + col("dn")).cast("int")).drop("dn")
      .write.partitionBy("set").parquet(inputs.toString)
  }

  /** The base table, ingested from scratch. */
  def seed(): Unit = {
    Main.wipe(ctx.work.resolve("table"))
    IngestJob.runPages(spark, pages(0, n), root, "base")
    state = baseState
    history = Map(currentSeq -> state)
    nBatch = 0; nMerge = 0; nMor = 0
  }

  private var nBatch, nMerge, nMor = 0
  private def input(name: String) =
    spark.read.parquet(inputs.resolve(s"set=$name").toString)
      .select("doc_id", "url", "ts_sec", "text", "lang", "source", "n_chars", "ilat", "ilon", "p_cell",
        "p_date")

  // layer accumulators
  private val acc = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var bytesWritten, rowsChanged, writeFiles, writes = 0L

  private def listing(): Map[Path, Long] = {
    val w = Files.walk(ctx.work.resolve("table"))
    try w.iterator().asScala.filter(Files.isRegularFile(_)).map(p => p -> Files.size(p)).toMap
    finally w.close()
  }

  private val cycle = Seq("append", "read", "merge", "read_at", "mor_upsert", "changelog", "delete", "maintain")
  override def round: Int = cycle.size

  private def currentSeq = SnapshotTable.currentSeq(root).get

  /** A write op: run it, then check the table against the model. */
  private def write(kind: String, changed: Long, next: => State)(body: => Unit): Seq[Op] = {
    val before = listing()
    val c0 = if (ctx.tracer.enabled) ctx.counters.snap() else null
    val (s, _) = ctx.time(body)
    if (c0 != null) { acc("write_jobs") += (ctx.counters.snap() - c0).jobs; acc("writes_traced") += 1 }
    acc(s"$kind.s") += s; acc(s"$kind.n") += 1
    val after = listing()
    val fresh = after.filter { case (p, sz) => !before.get(p).contains(sz) }
    bytesWritten += fresh.values.sum; writeFiles += fresh.size; writes += 1
    rowsChanged += changed
    state = next
    history += currentSeq -> state
    val (got, want) = (stats(SnapshotTable.read(spark, root)._1), stats(state))
    Seq(Op(kind, s, changed,
      error = if (got == want) None else Some(s"table check after $kind: got $got, want $want")))
  }

  /** A read op, traced as `span` through the collect of its checksums. */
  private def read(kind: String, span: String, want: String)(body: => (DataFrame, Int, Int)): Seq[Op] = {
    val c0 = if (ctx.tracer.enabled) ctx.counters.snap() else null
    val (s, (got, rows)) = ctx.time(trace(span) {
      val (df, kept, total) = body
      acc("parts_read") += kept; acc("parts_total") += total
      val r = stats(df)
      (r, r.takeWhile(_ != ':').toLong)
    })
    if (c0 != null) { acc("read_jobs") += (ctx.counters.snap() - c0).jobs; acc("reads_traced") += 1 }
    acc(s"$kind.s") += s; acc(s"$kind.n") += 1
    Seq(Op(kind, s, rows, error = if (got == want) None else Some(s"$kind: got $got, want $want")))
  }

  def op(i: Int): Seq[Op] = {
    val kind = cycle(i % cycle.size)
    val rnd = new scala.util.Random(ctx.seed * 1000003L + i)
    try kind match {
      case "append" if nBatch < batches =>
        val k = nBatch; nBatch += 1
        write(kind, batchRows, state ++ inputStates(s"batch-$k"))(trace("streaming.StreamingJobs.commitBatchToTable") {
          StreamingJobs.commitBatchToTable(input(s"batch-$k").drop("p_date"), 1000000L + k, root)
        })
      case "merge" =>
        val k = nMerge % updates; nMerge += 1
        write(kind, inputStates(s"merge-$k").size, state ++ inputStates(s"merge-$k"))(trace("jobs.IngestJob.mergeInto") {
          IngestJob.mergeInto(spark, root, input(s"merge-$k"), s"merge-$i"); ()
        })
      case "mor_upsert" =>
        val k = nMor % updates; nMor += 1
        write(kind, inputStates(s"mor-$k").size, state ++ inputStates(s"mor-$k"))(trace("jobs.IngestJob.mergeUpsertMor") {
          IngestJob.mergeUpsertMor(spark, root, input(s"mor-$k"), s"mor-$i"); ()
        })
      case "delete" =>
        val (r, lo) = (rnd.nextInt(7), rnd.nextLong(n - n / 8))
        val hit = (d: Long) => d >= lo && d < lo + n / 8 && d % 7 == r
        val gone = state.keys.filter(hit)
        write(kind, gone.size, state -- gone)(trace("jobs.IngestJob.deleteWhere") {
          IngestJob.deleteWhere(spark, root,
            col("doc_id") >= lo && col("doc_id") < lo + n / 8 && col("doc_id") % 7 === r, s"del-$i"); ()
        })
      case "maintain" =>
        // compaction of the (p_cell, p_date) key with the most entries (else
        // of the stream batches), then expiry of all but the newest snapshots
        val snap = SnapshotTable.currentSnapshot(root).get
        val groups = snap.parts.groupBy(e => if (e.pDate == "stream") (-1L, "stream") else (e.pCell, e.pDate))
        val (key, es) = groups.maxBy { case (k, g) => (g.size, k._1, k._2) }
        write(kind, es.map(_.rows).sum, state) {
          val (cs, _) = ctx.time(trace("sources.SnapshotTable.compact") {
            if (es.size >= 2) SnapshotTable.compact(spark, root)(e =>
              if (key._1 == -1L) e.pDate == "stream" else e.pCell == key._1 && e.pDate == key._2)
          })
          val (xs, _) = ctx.time(trace("sources.SnapshotTable.expire")(SnapshotTable.expire(root, keep)))
          acc("compact.s") += cs; acc("compact.n") += 1
          acc("expire.s") += xs; acc("expire.n") += 1
        }
      case "read_at" =>
        val seqs = SnapshotTable.snapshotSeqs(root).filter(history.contains)
        val seq = seqs(rnd.nextInt(seqs.size))
        read(kind, "sources.SnapshotTable.readAt", stats(history(seq)))(SnapshotTable.readAt(spark, root, seq))
      case "changelog" =>
        val seqs = SnapshotTable.snapshotSeqs(root).filter(history.contains)
        val to = seqs.last
        val from = seqs(math.max(0, seqs.size - 4))
        if (from >= to) read("read", "sources.SnapshotTable.read", stats(state))(SnapshotTable.read(spark, root))
        else {
          val (a, b) = (history(from), history(to))
          val want = Seq("D" -> a.keys.count(k => !b.contains(k)), "I" -> b.keys.count(k => !a.contains(k)),
            "U" -> a.count { case (k, v) => b.get(k).exists(_ != v) }).filter(_._2 > 0)
          val (s, got) = ctx.time(trace("sources.SnapshotTable.changelogBetween") {
            val r = SnapshotTable.changelogBetween(spark, root, from, to).groupBy("op").count().collect()
            graft.util.CacheBag.release()
            r.map(x => x.getString(0) -> x.getLong(1).toInt).toSeq.sorted
          })
          acc(s"$kind.s") += s; acc(s"$kind.n") += 1
          Seq(Op(kind, s, got.map(_._2.toLong).sum,
            error = if (got == want) None else Some(s"changelog $from..$to: got $got, want $want")))
        }
      case _ => // "read", and "append" once the batches are used up
        // a seeded crawl-time window of an eighth of the base table
        // (ts_sec = Epoch + 137 * doc_id)
        val lo = rnd.nextLong(n - n / 8)
        val (a, b) = (Pages.Epoch + 137 * lo, Pages.Epoch + 137 * (lo + n / 8 - 1))
        val want = stats(state.filter { case (d, _) => d >= lo && d < lo + n / 8 })
        val p = SnapshotTable.Pruning(minTs = Some(a), maxTs = Some(b))
        read("read", "sources.SnapshotTable.read", want) {
          val (df, kept, total) = SnapshotTable.read(spark, root, p)
          (df.filter(col("ts_sec").between(a, b)), kept, total)
        }
    } catch { case t: Throwable => Seq(Main.fail(kind, t)) }
  }

  override def layers(ops: Seq[Op]): Map[String, Double] = {
    def mean(k: String) = acc(s"$k.s") / math.max(acc(s"$k.n"), 1.0)
    val meta = (1 to 5).map(_ => ctx.time(trace("sources.SnapshotTable.meta") {
      SnapshotTable.prunedParts(SnapshotTable.currentSnapshot(root).get,
        SnapshotTable.Pruning(minTs = Some(Pages.Epoch), maxTs = Some(Pages.Epoch + 137 * (n / 8))))
    })._1)
    val files = listing()
    val manifests = files.filter(_._1.toString.contains("/meta/manifests/"))
    Map(
      "jobs.IngestJob.merge_s" -> mean("merge"),
      "jobs.IngestJob.mor_upsert_s" -> mean("mor_upsert"),
      "jobs.IngestJob.delete_s" -> mean("delete"),
      "streaming.StreamingJobs.append_s" -> mean("append"),
      "sources.SnapshotTable.compact_s" -> mean("compact"),
      "sources.SnapshotTable.expire_s" -> mean("expire"),
      "sources.SnapshotTable.read_s" -> mean("read"),
      "sources.SnapshotTable.read_at_s" -> mean("read_at"),
      "sources.SnapshotTable.changelog_s" -> mean("changelog"),
      "sources.SnapshotTable.meta_s" -> Stats.median(meta),
      "table.parts_read_frac" -> acc("parts_read") / math.max(acc("parts_total"), 1.0),
      "table.files_per_commit" -> writeFiles.toDouble / math.max(writes, 1L),
      "table.manifests_total" -> manifests.size.toDouble,
      "table.manifest_bytes" -> manifests.values.sum.toDouble,
      "table.bytes_written_per_row" -> bytesWritten.toDouble / math.max(rowsChanged, 1L),
      "table.bytes_stored_per_live_row" -> files.values.sum.toDouble / math.max(state.size, 1),
      "table.spark.jobs_per_write" -> acc("write_jobs") / math.max(acc("writes_traced"), 1.0),
      "table.spark.jobs_per_read" -> acc("read_jobs") / math.max(acc("reads_traced"), 1.0))
  }
}
