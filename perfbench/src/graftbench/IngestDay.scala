package graftbench

import java.io.File
import java.sql.Date

import scala.collection.mutable

import graft.lake.{AnnIndex, CorpusDedup, CorpusPack, Lake, TableRef}
import graft.state.StateStore
import graft.tools.DailyIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ingest_day: the operator's daily loop from `DailyIngest.main`.
  *
  * Each op is one day: `DailyIngest.run` with graft.Bench's
  * `llm_ingest` configuration, then `DailyIngest.expire` and
  * `DailyIngest.maintain`, on one lake/state that persists across the
  * run's consecutive days. The input is llm_ingest's: an sf0.1-sized
  * documents table with embeddings, split into days (day 0 fixed, the
  * others by the seed). Setup fits the quality model (llm_ingest's
  * label: 4 of the 20 sources), registers the benchmark shingles and
  * seeds history: the documents of day 0 go into the exact, near-dup
  * and line seen-sets and their vectors into the ANN index. Every
  * measured day replays earlier days' documents (exact copies under new
  * ids, near-dup edits), so every gate reads real history from the
  * first measured day on. */
object IngestDay {
  val TtlDays = 30
  private val SetupRuns = 2
  private val BucketScanConf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"

  /** DailyIngest's job labels (`ingest <day>: <label>`). */
  val Labels: Seq[String] = Seq(
    "semantic gate window probe", "semantic gate bootstrap",
    "decontam scrub setup", "gate chain checkpoint", "pack assign",
    "gates+dedup+land", "landed count", "ann index", "pack commit",
    "exact commit", "neardup commit", "lines commit")

  def metricName(label: String): String =
    "ingest." + label.replaceAll("[^a-z0-9]+", "_") + "_s"

  final class Live(val root: File, val lake: Lake, val dd: CorpusDedup,
                   val cp: CorpusPack, val idx: AnnIndex, val out: TableRef,
                   val model: graft.functions.QualityClassifier.Model)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val start = java.time.LocalDate.parse("2024-03-01")
    val corpus = spark.read.parquet(s"${ctx.inputs}/corpus.parquet")
    // each day is its own parquet file, read by the op like
    // DailyIngest.main reads its input; exact replays are remembered
    // for the leak check
    val plan = Files.tsv(new File(ctx.inputs, "corpus.tsv"))
    val nDays = plan.map(_(0).toInt).max + 1
    val exactIds: Map[Int, Set[Long]] = plan.filter(_(2) == "exact")
      .groupBy(_(0).toInt).map { case (d, rs) => d -> rs.map(_(1).toLong).toSet }
    def dayFrame(d: Int): DataFrame = spark.read.parquet(f"${ctx.inputs}/day$d%02d.parquet")
    val history = corpus.filter(col("day") === 0)
    val historyDay = Date.valueOf(start.minusDays(1))
    val benchmarkSet = corpus.filter(col("kind") === "fresh" && col("doc_id") % 251 === 0)
      .select(col("text"))

    val live = ctx.setup(SetupRuns) { i =>
      val root = ctx.dir(s"ingest-$i")
      val lake = new Lake(spark, s"$root/lake")
      // fresh dataset names: the seen-set catalogs are session-global
      val ds = s"bench_ingest_${ctx.seed}_$i"
      val dd = new CorpusDedup(spark, lake, ds, numBuckets = 8)
      val cp = new CorpusPack(spark, new StateStore(spark, s"$root/state"), ds,
        budgetTokens = 8192L)
      val idx = new AnnIndex(spark, lake, ds, numBuckets = 8)
      val model = graft.functions.QualityClassifier.train(history, "text",
        col("source").isin("src0", "src1", "src2", "src3"))
      dd.commitTestShingles(benchmarkSet, "text", historyDay)
      // day 0 as committed history, strictly before the first measured
      // day, so that day already runs every gate against stored state
      val minDate = Date.valueOf(start.minusDays(1L + TtlDays))
      dd.commitExactDated(history, "text", historyDay, minDate)
      dd.commitNearDupVerifiedDated(history, "doc_id", "text", historyDay, minDate)
      dd.commitLinesDated(history, "text", historyDay, minDate)
      // k as DailyIngest.maintain sizes a retrained index of this size
      // (max(4, n / 500)), so the day's maintain finds a healthy index
      // (recall 0.99 at its defaults) and never retrains
      idx.buildDated(history.select(col("doc_id"), col("emb")), "doc_id", "emb", k = 4, historyDay)
      idx.unpinBucketedScan()
      if (i < SetupRuns) { Files.delete(root); null }
      else new Live(root, lake, dd, cp, idx, TableRef("bench", ds, "packed"), model)
    }

    val dayS = mutable.ArrayBuffer.empty[Double]
    val runS = mutable.ArrayBuffer.empty[Double]
    val expireS = mutable.ArrayBuffer.empty[Double]
    val maintainS = mutable.ArrayBuffer.empty[Double]
    val landedPerDay = mutable.ArrayBuffer.empty[Long]
    val maint = mutable.ArrayBuffer.empty[DailyIngest.Maintenance]
    var docsIn = 0L
    var leaked = 0L
    val deadline = ctx.deadlineNs
    try {
      ctx.layer("loop") {
        // at least one day, then whole days until the run's time is spent
        for (d <- (1 until nDays).iterator if d == 1 || System.nanoTime() < deadline) {
          val day = Date.valueOf(start.plusDays(d.toLong - 1))
          var landed = -1L
          var (r, e, m) = (0.0, 0.0, 0.0)
          val s = ctx.op("day") {
            try {
              val docs = dayFrame(d)
              r = Stats.timed(ctx.layer("tools.daily_ingest") {
                landed = ingest(live, docs, day)
              })
              e = Stats.timed(ctx.layer("tools.expire")(
                DailyIngest.expire(live.dd, day, TtlDays, ann = Some(live.idx))))
              m = Stats.timed(ctx.layer("tools.maintain") {
                maint += DailyIngest.maintain(live.idx, day)
              })
            } finally live.idx.unpinBucketedScan()
          } {
            ctx.check(!spark.conf.getOption(BucketScanConf).contains("false"),
              s"$BucketScanConf still pinned after day $day")
            val landedIds = live.lake.read(live.out)
              .filter(col("ingest_day") === lit(day)).select(col("doc_id"))
              .collect().map(_.getLong(0))
            val leak = landedIds.count(exactIds.getOrElse(d, Set.empty[Long]))
            leaked += leak
            ctx.check(leak == 0, s"day $day: $leak exact replays landed")
            ctx.check(landedIds.length == landed,
              s"day $day: run returned $landed, output holds ${landedIds.length}")
          }
          docsIn += Files.parquetRows(new File(f"${ctx.inputs}/day$d%02d.parquet"))
          landedPerDay += landed
          dayS += s
          runS += r
          expireS += e
          maintainS += m
        }
      }
      checkLandedStable(ctx, landedPerDay.toSeq)
      val stateBytes = Files.bytes(live.root)
      val res = ctx.result
      val p50 = Stats.median(dayS.toSeq)
      // the slowest day; with one day per run (4 cores) it equals p50
      val tail = dayS.max
      val wall = dayS.sum
      res.e2e("op_p50_s") = (p50, "s")
      res.e2e("op_tail_s") = (tail, "s")
      res.e2e("items_per_s") = (docsIn / wall, "1/s")
      res.e2e("bytes_per_item") = (stateBytes.toDouble / docsIn, "B")
      res.named("day_p50_s") = (p50, "s")
      res.named("ingest_docs_per_s") = (docsIn / wall, "docs/s")
      res.named("state_bytes_per_doc") = (stateBytes.toDouble / docsIn, "B/doc")
      res.notes("days") = dayS.size.toString
      res.notes("landed_per_day") = landedPerDay.mkString(",")
      res.notes("day_parts_s") = dayS.indices.map(i =>
        f"run ${runS(i)}%.3f expire ${expireS(i)}%.3f maintain ${maintainS(i)}%.3f").mkString("; ")
      res.notes("maintenance") = maint.map(x =>
        f"recall ${x.recallBefore}%.3f retrained ${x.retrained} compacted ${x.compacted}").mkString("; ")
      ctx.tracer.foreach { t =>
        t.drain()
        val spans = t.spans
        val runSpans = spans.filter(_.name == "tools.daily_ingest")
        val L = res.layer
        L("tools.daily_ingest_s") = (Stats.median(runS.toSeq), "s")
        L("tools.expire_s") = (Stats.median(expireS.toSeq), "s")
        L("tools.maintain_s") = (Stats.median(maintainS.toSeq), "s")
        // per day: seconds of the jobs under each DailyIngest label
        val perDay = runSpans.map { sp =>
          t.jobsIn(t.subtree(sp.id)).groupBy(j => j.desc.split(": ", 2).lift(1).getOrElse(""))
            .map { case (l, js) => l -> js.map(j => (j.ended - j.submitted) / 1e9).sum }
        }
        Labels.foreach { l =>
          L(metricName(l)) = (Stats.median(perDay.map(_.getOrElse(l, 0.0))), "s")
        }
        val runIds = runSpans.flatMap(sp => t.subtree(sp.id)).toSet
        L("ingest.jobs_per_day") = (t.jobsIn(runIds).size.toDouble / runSpans.size, "count")
        val runRun = t.stagesIn(runIds).map(_.runMs).sum / 1000.0
        L("ingest.core_idle_share") =
          (1 - runRun / (runSpans.map(_.seconds).sum * ctx.cores), "share")
        L("ingest.admitted_share") = (landedPerDay.sum.toDouble / docsIn, "share")
        L("ingest.exact_dups_leaked") = (leaked.toDouble, "count")
        // share of the day outside every labelled DailyIngest job and
        // outside expire and maintain (their own spans)
        val attributed = runSpans.zip(perDay).map { case (sp, m) =>
          val day = spans.find(_.id == sp.parent).get
          val upkeep = spans.filter(s => s.parent == day.id && s.id != sp.id).map(_.seconds).sum
          (m.filter { case (l, _) => Labels.contains(l) }.values.sum + upkeep) / day.seconds
        }
        L("ingest.unattributed_share") = (1 - Stats.median(attributed), "share")
      }
    } finally Files.delete(live.root)
  }

  /** The benchmark's single call site of `DailyIngest.run`, with the
    * configuration of graft.Bench's `llm_ingest` entry. */
  private def ingest(live: Live, docs: DataFrame, day: Date): Long =
    DailyIngest.run(live.lake, live.dd, live.cp, live.out, docs,
      "doc_id", "text", "lang", day, ttlDays = TtlDays,
      ann = Some((live.idx, "emb")), semanticThreshold = Some(0.95),
      qualityGate = Some(live.model),
      nearDupVerify = Some(0.75), lineScrub = true, decontam = true,
      unigramVocab = Some(graft.functions.UnigramVocab.default),
      repetitionRules = true)

  /** Per-day landed counts must be identical across runs of one seed:
    * the first run of a seed records them next to its inputs, later
    * runs compare. */
  private def checkLandedStable(ctx: Ctx, landed: Seq[Long]): Unit = {
    val f = new File(ctx.inputs, "landed_per_day.txt")
    if (f.exists()) {
      val ref = scala.io.Source.fromFile(f).mkString.trim.split(",").filter(_.nonEmpty)
        .map(_.toLong).toSeq
      val n = math.min(ref.size, landed.size)
      if (ref.take(n) != landed.take(n)) {
        ctx.result.failed += 1
        ctx.result.failures += s"landed per day ${landed.mkString(",")} differs from an " +
          s"earlier run of seed ${ctx.seed}: ${ref.mkString(",")}"
      }
      if (landed.size > ref.size) write(f, landed)
    } else write(f, landed)
  }

  private def write(f: File, landed: Seq[Long]): Unit = {
    val w = new java.io.PrintWriter(f)
    try w.println(landed.mkString(",")) finally w.close()
  }
}
