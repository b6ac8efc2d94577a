package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM (launched by perfbench/run.py).
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --inputs DIR --lake DIR --tmp DIR --bench DIR --modules FILE
  *     --out FILE --spans FILE [--dump DIR]
  *
  * Runs one closed-loop workload with one driver thread on
  * local[nproc] and writes its metrics to `--out` as JSON. */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val trace = opt("trace") == "1"
    val tmpRoot = new File(opt("tmp"))
    tmpRoot.mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(tmpRoot, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(tmpRoot, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val modules = scala.io.Source.fromFile(opt("modules")).getLines()
      .map(_.split("\t")).collect { case Array(f, m) => f -> m }.toMap
    val tracer = if (trace) Some(new Tracer(spark.sparkContext, modules)) else None
    val ctx = new Ctx(spark, opt("seed").toLong, opt("seconds").toDouble,
      opt("inputs"), opt("lake"), tmpRoot, new File(opt("bench")),
      tracer, cpus)
    ctx.mark("session")
    try {
      if (opt.contains("dump")) Digests.dump(ctx, new File(opt("dump")))
      else workload match {
        case "capture_tick" => CaptureTick.run(ctx)
        case "ingest_day" => IngestDay.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      ctx.mark("loop_end")
      if (!opt.contains("dump")) tracer.foreach { t =>
        t.drain()
        Layers.spark(ctx, t)
        t.write(opt("spans"))
      }
    } finally spark.stop()
    ctx.mark("end")
    ctx.result.write(opt("out"))
  }
}

/** What one run reports. `e2e` are the end-to-end metrics of
  * BENCHMARK.json, `named` the same run's workload-specific names, and
  * `layer` the per-layer metrics of a traced run. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
  private def metrics(m: mutable.LinkedHashMap[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
      .mkString("{", ",", "}")

  def write(path: String): Unit = {
    val json = s"""{"attempted":$attempted,"failed":$failed,""" +
      s""""failures":${failures.take(20).map(str).mkString("[", ",", "]")},""" +
      s""""notes":${notes.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")},""" +
      s""""e2e":${metrics(e2e)},"named":${metrics(named)},"layer":${metrics(layer)}}"""
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(json) finally w.close()
  }
}

/** Run context shared by the workloads. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val inputs: String, val lake: String, val tmpRoot: File, val benchDir: File,
                val tracer: Option[Tracer], val cores: Int) {
  val result = new Result

  /** A call into a layer: a span with its own job group when tracing,
    * a plain call otherwise. */
  def layer[A](name: String)(f: => A): A = tracer match {
    case Some(t) => t.span(name)(f)
    case None => f
  }

  private var opFailed = false
  private val born = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Seconds since JVM start at a named point of the run (a note). */
  def mark(name: String): Unit =
    result.notes(s"at_${name}_s") = f"${(System.currentTimeMillis() - born) / 1e3}%.1f"

  /** One closed-loop operation: counted as attempted; failed when it
    * throws or when one of its [[check]]s fails. Returns its wall
    * seconds (including the time until it threw). */
  def op(name: String)(f: => Unit)(checks: => Unit): Double = {
    result.attempted += 1
    opFailed = false
    val t0 = System.nanoTime()
    val ok = try { layer(name)(f); true } catch {
      case e: Exception =>
        fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (ok) try checks catch {
      case e: Exception => fail(s"$name check: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    s
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  private def fail(what: String): Unit = {
    if (!opFailed) result.failed += 1
    opFailed = true
    result.failures += what
  }

  /** Setup run once untimed, to warm the JVM, then `n` times timed;
    * the median of the timed ones is `setup_s`. Each repetition gets its
    * index (0 is the untimed one) and returns what the run keeps (the
    * last one wins). */
  def setup[A](n: Int)(f: Int => A): A = {
    mark("setup_start")
    f(0)
    val (times, kept) = (1 to n).map { i =>
      val t0 = System.nanoTime()
      val a = f(i)
      ((System.nanoTime() - t0) / 1e9, a)
    }.unzip
    result.e2e("setup_s") = (Stats.median(times), "s")
    result.notes("setup_samples_s") = times.map(t => f"$t%.3f").mkString(",")
    kept.last
  }

  def deadlineNs: Long = {
    mark("loop_start")
    System.nanoTime() + (seconds * 1e9).toLong
  }

  def dir(name: String): File = {
    val d = new File(tmpRoot, name)
    Files.delete(d)
    d.mkdirs()
    d
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timed(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }
}

object Files {
  def delete(f: File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(delete)
    f.delete(): Unit
  }

  def bytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)

  /** Rows in the parquet files under `f`, from their footers (no Spark
    * job, so checks cost no cluster time). */
  def parquetRows(f: File): Long =
    if (f.isFile) {
      if (f.getName.endsWith(".parquet") && !f.getName.startsWith(".")) {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toURI), new org.apache.hadoop.conf.Configuration())
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      } else 0L
    } else Option(f.listFiles()).map(_.map(parquetRows).sum).getOrElse(0L)

  def tsv(f: File): Seq[Array[String]] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split("\t")).toVector finally src.close()
  }

  /** Data files (not Hadoop checksums or markers) under `f`. */
  def dataFiles(f: File): Int =
    if (f.isFile) (if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0 else 1)
    else Option(f.listFiles()).map(_.map(dataFiles).sum).getOrElse(0)
}
