package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import graft.SparkEntry

/** Order-independent digest of a query result: columns in name order,
  * floating values rounded to 9 decimals (the DuckDB gate's tolerance),
  * rows sorted before hashing.
  */
object ResultHash {
  def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double => real(d)
    case f: Float => real(f.toDouble)
    case d: java.math.BigDecimal => real(d.doubleValue)
    case d: scala.math.BigDecimal => real(d.toDouble)
    case i @ (_: Byte | _: Short | _: Int | _: Long) => s"i:$i"
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("<", ",", ">")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case other => s"o:$other"
  }

  private def real(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) d.toString
    else "f:" + new java.math.BigDecimal(d)
      .setScale(9, java.math.RoundingMode.HALF_EVEN).stripTrailingZeros.toPlainString

  def of(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.indices.sortBy(columns)
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update(2.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

/** The gated query surface: fixed query classes over the testdata tables,
  * each query built through `SparkEntry.queries`, planned, then run into
  * the `noop` sink. Set-up runs each query once, collected and checked
  * against the recorded row count and digest.
  */
final class AnalyticsWorkload(spark: SparkSession, data: Path, expectedFile: Path)
    extends Workload {
  import AnalyticsWorkload._

  private val order: Seq[(String, String)] =
    Classes.flatMap { case (c, keys) => keys.map(c -> _) }
  private var at = 0
  private var checks = (0, 0)
  private val expected: Map[String, (Long, String)] =
    if (!Files.exists(expectedFile)) Map.empty
    else Files.readAllLines(expectedFile).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(k, n, h) = l.split('\t')
        k -> (n.toLong, h)
      }.toMap

  def atBoundary: Boolean = at == 0

  val tracedRounds = 3

  def setupChecks: (Int, Int) = checks

  private def build(key: String) = SparkEntry.queries(key)(spark, data.toString)

  def setup(k: Int): Seq[Op] = {
    order.foreach { case (_, key) => check(k, key) }
    Nil
  }

  private def check(k: Int, key: String): Unit = {
    val t0 = System.nanoTime()
    val got =
      try {
        val df = build(key)
        val rows = df.collect().toSeq
        Some((rows.size.toLong, ResultHash.of(df.columns.toSeq, rows)))
      } catch { case e: Exception => System.err.println(s"[perfbench] $key failed: $e"); None }
    spark.catalog.clearCache()
    System.err.println(f"[perfbench] set-up $k $key ${(System.nanoTime() - t0) / 1e9}%.3f s")
    val ok = got.isDefined && got == expected.get(key)
    // printed in the expectations file's own format
    if (!ok) System.err.println(s"[perfbench] wrong result: $key\t${got.fold("-\t-")(g => s"${g._1}\t${g._2}")}")
    checks = (checks._1 + 1, checks._2 + (if (ok) 0 else 1))
  }

  def next(id: Long, round: Int): Op = {
    val (cls, key) = order(at)
    at = (at + 1) % order.size
    val op = Op.query(id, cls, round, key)(build(key)) { df =>
      df.write.format("noop").mode("overwrite").save()
      0L
    }
    spark.catalog.clearCache()
    op.copy(bytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
  }
}

object AnalyticsWorkload {
  /** Chosen from a traced pass over the gated queries at sf0.01 on 4 cores
    * (construct / plan / execute seconds, jobs run during construction):
    * perfbench/README.md has the table.
    */
  val Classes: Seq[(String, Seq[String])] = Seq(
    // driver-loop operators: most of their time is jobs run while the
    // DataFrame is built. Connected components, the family that feeds
    // most of the queries with many eager jobs
    "loops" -> Seq("q64_components"),
    // single plans: most of their time is execution
    "plans" -> Seq("q01_pricing_summary", "q14_window_running_sum"),
    // AvailableNow stream gates: the whole stream runs during construction
    "streams" -> Seq("q49_stream_tumbling"))
}
