package graftbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.lake.{CaptureLog, Lake, TableRef}
import graft.materialize.{Model, ModelRunner}
import graft.state.StateStore
import graft.streaming.{Capture, CaptureConfig, Recapture}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** capture_tick: the reference's 1-minute ELT loop.
  *
  * Each op is one scheduler minute: `Capture.processBatch` on that
  * minute's slice. The generator skips a few minutes per block of 15;
  * the last minute of a block also runs `Recapture.backfill` for them
  * (one `processBackfill` job) and the hourly model over staging. The
  * capture log is seeded in setup with a day of successful minutes, so
  * the planner sees only the skipped ones. The block's last minute then
  * refreshes the analyst's capture dashboards: three graft.Bench
  * headline queries over the published lake (`--lake`), collected to the
  * driver like a dashboard would, then hashed and checked against
  * `digests.tsv` after the op. `tick_tail_s` is the block's slowest
  * tick, which is that last one, as a median over the run's blocks. */
object CaptureTick {
  private val Dataset = "bench"

  /** Capture-shaped headline queries (gaps, 5-minute windows, as-of
    * join through the AsOfJoin plan) refreshed every block. */
  val Dashboards: Seq[String] = Seq("q12_capture_gaps", "q26_tumbling_5min", "q65_asof_join")
  private val Table = "events"
  private val SetupRuns = 7

  /** The EndToEndSpec hourly model, run as an insert-overwrite of every
    * day its window touches (the whole day is recomputed, so the day
    * partition it replaces stays complete). */
  val hourly: Model = Model("events_hourly",
    """SELECT date_trunc('hour',
      |    to_timestamp(get_json_object(content, '$.ts'))) AS ts,
      |  get_json_object(content, '$.event_type') AS event_type,
      |  count(*) AS n,
      |  date_format(to_timestamp(get_json_object(content, '$.ts')),
      |    'yyyy-MM-dd') AS data
      |FROM staging_events
      |WHERE data IN (SELECT DISTINCT data FROM staging_events
      |  WHERE timestamp_captura > to_timestamp('{{date_range_start}}')
      |    AND timestamp_captura <= to_timestamp('{{date_range_end}}'))
      |GROUP BY 1, 2, 4""".stripMargin)

  final class Live(val root: File, val lake: Lake, val log: CaptureLog,
                   val cap: Capture, val runner: ModelRunner)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    // (minute, rows, skipped) grouped into the generator's blocks
    val blocks: Seq[Seq[(Int, Int, Boolean)]] = Files.tsv(new File(ctx.inputs, "minutes.tsv"))
      .map(r => (r(0).toInt, (r(1).toInt, r(2).toInt, r(3) == "1")))
      .groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2).sortBy(_._1))
    val start = Timestamp.valueOf("2024-02-01 00:00:00")
    def minuteTs(m: Int) = new Timestamp(start.getTime + m * 60000L)
    def minuteOf(ts: Timestamp): Int = ((ts.getTime - start.getTime) / 60000L).toInt

    // inputs: a block's slices become local frames before its first tick
    val all = graft.Tables.load(spark, ctx.inputs, "capture")
    val schema = all.drop("minute").schema
    var byMinute = Map.empty[Int, java.util.List[Row]]
    def load(block: Seq[(Int, Int, Boolean)]): Unit =
      byMinute = all.filter(col("minute").between(block.head._1, block.last._1))
        .collect().toSeq.groupBy(_.getAs[Int]("minute"))
        .map { case (m, rows) => m -> rows.map(r => Row.fromSeq(r.toSeq.init)).asJava }
    def slice(m: Int): DataFrame = spark.createDataFrame(byMinute(m), schema)

    val queries = graft.SparkEntry.queries
    val expected = Digests.read(new File(ctx.benchDir, "digests.tsv"))
    val staging = TableRef("staging", Dataset, Table)
    def runModel(live: Live, now: Timestamp): Unit = {
      live.lake.read(staging).createOrReplaceTempView("staging_events")
      live.runner.run(hourly, now)
    }

    // The untimed first setup also runs a short block end on its own
    // lake (one tick, a one-minute backfill, the model, the dashboards),
    // so the measured loop starts with that code compiled, as in a
    // scheduler that has been running for a while.
    def warmUp(live: Live): Unit = {
      load(blocks.head)
      val m = blocks.head.head._1
      live.cap.processBatch(slice(m), minuteTs(m))
      Recapture.backfill(spark, live.cap, live.log.read(Dataset, Table), minuteTs(m + 1),
        ts => slice(minuteOf(ts)))
      runModel(live, minuteTs(m + 1))
      Dashboards.foreach(q => queries(q)(spark, ctx.lake).collect())
    }

    val live = ctx.setup(SetupRuns) { i =>
      val root = ctx.dir(s"capture-$i")
      val lake = new Lake(spark, root.getPath)
      val log = new CaptureLog(spark, lake)
      // a day of successful minutes before the first tick
      val seeded = spark.range(1440).select(
        timestamp_seconds(lit(start.getTime / 1000 - 86400L) + col("id") * 60)
          .as("timestamp_captura"),
        lit(true).as("sucesso"), lit(null).cast("string").as("erro"))
        .withColumn("data", date_format(col("timestamp_captura"), "yyyy-MM-dd"))
      lake.append(seeded, log.ref(Dataset, Table), partitionBy = Seq("data"))
      val cap = new Capture(spark, lake, log,
        CaptureConfig(Dataset, Table, pk = Seq("event_id"), tsCol = "ts"))
      val state = new StateStore(spark, new File(root, "_state").getPath)
      val live = new Live(root, lake, log, cap, new ModelRunner(spark, lake, state, Dataset))
      if (i == 0) warmUp(live)
      if (i < SetupRuns) { Files.delete(root); null } else live
    }
    val ticks = mutable.ArrayBuffer.empty[Double]
    val blockMax = mutable.ArrayBuffer.empty[Double]
    val processS = mutable.ArrayBuffer.empty[Double]
    val backfillS = mutable.ArrayBuffer.empty[Double]
    val modelS = mutable.ArrayBuffer.empty[Double]
    val refreshS = mutable.ArrayBuffer.empty[Double]
    var staged = 0L
    var captured = 0
    var backfilled = 0
    var blocksRun = 0
    val deadline = ctx.deadlineNs
    try {
      ctx.layer("loop") {
        // at least one block (its last tick backfills and materializes),
        // then whole blocks until the run's time is spent
        for (block <- blocks.iterator if blocksRun == 0 || System.nanoTime() < deadline) {
          blocksRun += 1
          load(block)
          val first = ticks.size
          val skipped = block.filter(_._3)
          for (((m, rows, skip), k) <- block.zipWithIndex if !skip) {
            val now = minuteTs(m)
            val last = k == block.size - 1
            var p = 0.0
            var b = 0.0
            var md = 0.0
            var qd = 0.0
            var refreshed = Seq.empty[(String, Array[Row])]
            val s = ctx.op("tick") {
              val raw = slice(m)
              p = Stats.timed(ctx.layer("streaming.process_batch")(live.cap.processBatch(raw, now)))
              if (last) {
                b = Stats.timed(ctx.layer("streaming.backfill") {
                  val planned = Recapture.backfill(spark, live.cap,
                    live.log.read(Dataset, Table), now, ts => slice(minuteOf(ts)))
                  ctx.check(planned.timestamps.map(minuteOf) == skipped.map(_._1),
                    s"backfill at minute $m planned ${planned.timestamps} " +
                      s"for skipped ${skipped.map(_._1)}")
                })
                md = Stats.timed(ctx.layer("materialize.model_run")(runModel(live, now)))
                qd = Stats.timed(ctx.layer("queries.dashboards") {
                  refreshed = Dashboards.map { q =>
                    q -> ctx.layer(s"queries.$q")(queries(q)(spark, ctx.lake).collect())
                  }
                })
              }
            } {
              // output checks, outside the timed op
              staged += rows
              val got = Files.parquetRows(new File(lakeTickDir(live, now)))
              ctx.check(got == rows, s"minute $m staged $got rows, generated $rows")
              if (last) {
                staged += skipped.map(_._2).sum
                val logRows = Files.parquetRows(new File(live.lake.path(live.log.ref(Dataset, Table))))
                val want = 1440L + captured + 1 + backfilled + skipped.size
                ctx.check(logRows == want, s"log has $logRows rows, expected $want")
                val stagedAll = Files.parquetRows(new File(live.lake.path(staging)))
                ctx.check(stagedAll == staged, s"staging has $stagedAll rows, generated $staged")
                val n = live.lake.read(TableRef("prod", Dataset, hourly.name))
                  .agg(sum(col("n"))).head().getLong(0)
                ctx.check(n == staged, s"hourly model sum(n) $n != staged $staged")
                refreshed.foreach { case (q, rows) =>
                  val got = Digests.digest(rows)
                  ctx.check(expected.get(q).contains(got),
                    s"$q: rows/hash $got, digest ${expected.getOrElse(q, "missing")}")
                }
              }
            }
            captured += 1
            if (last) backfilled += skipped.size
            ticks += s
            processS += p
            if (last) { backfillS += b; modelS += md; refreshS += qd }
          }
          blockMax += ticks.drop(first).max
        }
      }
      val wall = ticks.sum
      val lakeBytes = Files.bytes(live.root)
      val r = ctx.result
      val p50 = Stats.median(ticks.toSeq)
      val tail = Stats.median(blockMax.toSeq)
      r.e2e("op_p50_s") = (p50, "s")
      r.e2e("op_tail_s") = (tail, "s")
      r.e2e("items_per_s") = (staged / wall, "1/s")
      r.e2e("bytes_per_item") = (lakeBytes.toDouble / staged, "B")
      r.named("tick_p50_s") = (p50, "s")
      r.named("tick_tail_s") = (tail, "s")
      r.named("captured_rows_per_s") = (staged / wall, "rows/s")
      r.named("lake_bytes_per_row") = (lakeBytes.toDouble / staged, "B/row")
      r.notes("tick_s") = ticks.map(t => f"$t%.3f").mkString(",")
      r.notes("block_end_parts_s") = backfillS.indices.map(i =>
        f"backfill ${backfillS(i)}%.3f model ${modelS(i)}%.3f dashboards ${refreshS(i)}%.3f")
        .mkString("; ")
      r.notes("ticks") = ticks.size.toString
      r.notes("blocks") = blocksRun.toString
      r.notes("rows_staged") = staged.toString
      ctx.tracer.foreach { t =>
        t.drain()
        val spans = t.spans
        def ids(name: String) = spans.filter(_.name == name).map(_.id)
        val tickIds = ids("tick").flatMap(t.subtree).toSet
        val procIds = ids("streaming.process_batch").toSet
        val tickJobs = t.jobsIn(procIds).size.toDouble / math.max(1, procIds.size)
        val procWall = spans.filter(s => procIds(s.id)).map(_.seconds).sum
        val procRun = t.stagesIn(procIds).map(_.runMs).sum / 1000.0
        val loopStages = t.stagesIn(tickIds)
        val L = r.layer
        L("streaming.process_batch_s") = (Stats.median(processS.toSeq), "s")
        L("streaming.backfill_s") = (Stats.median(backfillS.toSeq), "s")
        L("materialize.model_run_s") = (Stats.median(modelS.toSeq), "s")
        L("lake.jobs_per_tick") = (tickJobs, "count")
        L("lake.core_idle_share") = (1 - procRun / (procWall * ctx.cores), "share")
        L("lake.log_files") = (Files.dataFiles(new File(live.lake.path(
          live.log.ref(Dataset, Table)))).toDouble, "count")
        L("lake.files_written") = (Files.dataFiles(live.root).toDouble / ticks.size, "count")
        L("lake.bytes_written") = (loopStages.map(_.bytesWritten).sum.toDouble / ticks.size, "B")
        L("queries.dashboards_s") = (Stats.median(refreshS.toSeq), "s")
        val qSpans = spans.filter(_.name.startsWith("queries.q"))
        Dashboards.foreach { q =>
          val mine = qSpans.filter(_.name == s"queries.$q")
          L(s"queries.$q.s") = (Stats.median(mine.map(_.seconds)), "s")
          L(s"queries.$q.shuffle_write_bytes") = (Stats.median(mine.map(sp =>
            t.stagesIn(t.subtree(sp.id)).map(_.shuffleWrite).sum.toDouble)), "B")
        }
        // driver-side planning: call -> first job submitted, per refresh
        L("queries.dashboards.plan_s") = (Stats.median(
          spans.filter(_.name == "queries.dashboards").map { d =>
            qSpans.filter(_.parent == d.id).map { sp =>
              val first = t.jobsIn(t.subtree(sp.id)).map(_.submitted).minOption.getOrElse(sp.end)
              (first - sp.start) / 1e9
            }.sum
          }), "s")
      }
    } finally Files.delete(live.root)
  }

  /** The staging partition one tick overwrote. */
  private def lakeTickDir(live: Live, now: Timestamp): String = {
    val f = new java.text.SimpleDateFormat("yyyy-MM-dd/HH/yyyyMMddHHmmss")
    f.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val Array(d, h, t) = f.format(now).split("/")
    s"${live.lake.path(TableRef("staging", Dataset, Table))}/data=$d/hora=$h/tick=$t"
  }
}
