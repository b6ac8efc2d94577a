package graftbench

import java.io.File

import graft.{Bench, SparkEntry}
import org.apache.spark.sql.{DataFrame, Row}

/** Result digests of graft.Bench's headline queries on the fixed lake
  * (`digests.tsv`): the capture dashboards check their refreshes
  * against them, and `run.py --make-digest` rebuilds them through
  * [[dump]]. */
object Digests {
  def read(f: File): Map[String, (Long, String)] =
    if (!f.exists()) Map.empty
    else scala.io.Source.fromFile(f).getLines().filter(_.nonEmpty).map(_.split("\t"))
      .collect { case Array(q, n, h) => q -> (n.toLong, h) }.toMap

  /** Row count and an order-insensitive hash of a result: columns in
    * name order, floating values to 6 significant digits (summation
    * order may move the last bits), rows sorted before hashing. */
  def digest(df: DataFrame): (Long, String) = digest(df.collect())

  def digest(rows: Array[Row]): (Long, String) = {
    val names = rows.headOption.map(_.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2))
      .getOrElse(Array.empty[Int])
    val lines = rows.map(r => names.map(i => render(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    (lines.length.toLong, md.digest().map("%02x".format(_)).mkString.take(16))
  }

  private def render(v: Any): String = v match {
    case null => "NULL"
    case d: Double => fmt(d)
    case f: Float => fmt(f.toDouble)
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6)).stripTrailingZeros.toString

  /** Writes every headline result (parquet, for the DuckDB
    * cross-check), the oracle SQL and the digests to `out`. */
  def dump(ctx: Ctx, out: File): Unit = {
    val spark = ctx.spark
    val qs = SparkEntry.queries
    out.mkdirs()
    val w = new java.io.PrintWriter(new File(out, "digests.tsv"), "UTF-8")
    try Bench.headline.foreach { q =>
      val df = qs(q)(spark, ctx.lake)
      df.write.mode("overwrite").parquet(new File(out, q).getPath)
      val (n, h) = digest(df)
      w.println(s"$q\t$n\t$h")
    } finally w.close()
    val oracle = Bench.headline.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
    val js = oracle.map { case (q, sql) =>
      "\"" + q + "\":\"" + sql.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => "\\u%04x".format(c.toInt)
        case c => c.toString
      } + "\""
    }.mkString("{", ",", "}")
    val o = new java.io.PrintWriter(new File(out, "oracle_sql.json"), "UTF-8")
    try o.println(js) finally o.close()
  }
}
