package graftbench

import java.nio.file.{Files, Path}
import scala.collection.immutable.NumericRange
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.vcf.{Bgzf, SyntheticVcf, VcfApi, VcfPipeline}

/** The synthetic VCF the lookup workload builds its database from, with the
  * row counts each query must return, derived from `SyntheticVcf.line`'s
  * arithmetic.
  *
  * The seed shifts the generator's variant index range, so each seed is a
  * different file of the same shape.
  */
final class VcfFixture(seed: Long) {
  import VcfFixture._

  val first: Long = Math.floorMod(seed, 10007L) * Variants
  val indices: NumericRange[Long] = first until first + Variants

  def chr(i: Long): Int = (i % 22 + 1).toInt
  def pos(i: Long): Long = 1000L + (i / 22) * 100
  /** AF = (i % 200 + 1) / 1000, so AF < 0.05 iff i % 200 < 49. */
  def rareAf(i: Long): Boolean = i % 200 < 49

  /** Writes the bgzipped VCF; returns its size in bytes. */
  def write(path: Path): Long = {
    Bgzf.writeLocalFile(path.toString,
      SyntheticVcf.header(Samples) ++ indices.map(SyntheticVcf.line(_, Samples, Genes)))
    Files.size(path)
  }

  val infoRows: Long = Variants
  val genoRows: Long = Variants * Samples
  /** One impact row per consequence term; `i % 10 == 4` carries two. */
  val impactRows: Long = Variants + indices.count(_ % 10 == 4)

  def filterRows(gene: Int): Long = indices.count(i => i % Genes == gene && rareAf(i))

  def regionRows(c: Int, start: Long, end: Long): Long =
    indices.count(i => chr(i) == c && pos(i) >= start && pos(i) <= end)

  /** Lowest and highest position on chromosome `c`. */
  def span(c: Int): (Long, Long) = {
    val ps = indices.filter(chr(_) == c).map(pos)
    (ps.min, ps.max)
  }
}

object VcfFixture {
  val Variants = 5000L
  val Samples = 100
  /** About 50 variants per gene, the reference's exome median. */
  val Genes = 100
  val PullIds = 1000
  val RegionWidth = 20000L
}

/** Building and checking a database from the fixture. */
object VcfRun {
  import Op.now

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  /** Whether a built database holds the fixture's row counts. */
  def check(spark: SparkSession, out: Path, f: VcfFixture): Boolean = {
    def rows(t: String) = spark.read.parquet(out.resolve(t).toString).count()
    val got = (rows("variant_info"), rows("variant_impact"), rows("variant_geno"))
    val want = (f.infoRows, f.impactRows, f.genoRows)
    if (got != want) System.err.println(s"[perfbench] $out: rows $got, expected $want")
    got == want
  }

  /** One timed `VcfPipeline.run` into the fresh dir `out`, checked. */
  def build(spark: SparkSession, vcf: Path, out: Path, f: VcfFixture, id: Long): Op = {
    val from = now
    val s = System.nanoTime()
    val ran =
      try { VcfPipeline.run(spark, vcf.toString, out.toString); true }
      catch { case e: Exception => System.err.println(s"[perfbench] build failed: $e"); false }
    val secs = (System.nanoTime() - s) / 1e9
    val to = now
    val ok = ran && check(spark, out, f)
    Op(id, "ingest", -1, from, from, from, to, 0, 0, secs, ok, f.infoRows, dirBytes(out))
  }
}

/** Read path: point queries against a database that each set-up builds
  * afresh with `VcfPipeline.run`, so the write path is timed in set-up.
  */
final class LookupWorkload(spark: SparkSession, work: Path, f: VcfFixture,
    rng: java.util.Random) extends Workload {
  import VcfFixture._
  import VcfRun._
  private val vcf = work.resolve("input.vcf.gz")
  private var db: Path = _
  private var info, impact, geno: DataFrame = _
  private var checks = (0, 0)
  private var vcfBytes = 0L
  private val queue = scala.collection.mutable.Queue.empty[String]
  private val shuffler = new scala.util.Random(rng)

  private def count(ok: Boolean): Unit = checks = (checks._1 + 1, checks._2 + (if (ok) 0 else 1))

  override def inputBytes: Long = vcfBytes
  /** 100 ops of each type: p90 with 10 samples beyond it. */
  val tracedRounds = 100

  def setup(k: Int): Seq[Op] = {
    vcfBytes = f.write(vcf)
    val out = work.resolve(s"db-$k")
    val b = build(spark, vcf, out, f, -100L - k)
    count(b.ok)
    Option(db).foreach(delete)
    db = out
    info = spark.read.parquet(out.resolve("variant_info").toString)
    impact = spark.read.parquet(out.resolve("variant_impact").toString)
    geno = spark.read.parquet(out.resolve("variant_geno").toString)
    (0 until 3).foreach(i => count(next(-1 - i, -1).ok))
    Seq(b)
  }

  def setupChecks: (Int, Int) = checks

  /** A round is one op of each type, in shuffled order. */
  def atBoundary: Boolean = queue.isEmpty

  /** The next op type of the current round. */
  private def nextKind(): String = {
    if (queue.isEmpty) queue ++= shuffler.shuffle(Seq("filter", "pull", "region"))
    queue.dequeue()
  }

  def next(id: Long, round: Int): Op = {
    val kind = nextKind()
    val (build, expected): (() => DataFrame, Long) = kind match {
      case "filter" =>
        val g = rng.nextInt(Genes)
        (() => VcfApi.filterByGene(impact, info, s"GENE$g", 0.05), f.filterRows(g))
      case "pull" =>
        val ids = scala.collection.mutable.LinkedHashSet.empty[Long]
        while (ids.size < PullIds) ids += 1L + rng.nextInt(Variants.toInt)
        (() => VcfApi.pullByIds(geno, ids.toSeq), PullIds.toLong * Samples)
      case _ =>
        val c = 1 + rng.nextInt(22)
        val (lo, hi) = f.span(c)
        val start = lo - RegionWidth / 2 + (rng.nextDouble() * (hi - lo)).toLong
        (() => VcfApi.pullByRange(info, c.toString, start, start + RegionWidth),
          f.regionRows(c, start, start + RegionWidth))
    }
    val op = Op.query(id, kind, round, kind)(build())(_.collect().length.toLong)
    if (op.ok && op.rows != expected)
      System.err.println(s"[perfbench] $kind returned ${op.rows} rows, expected $expected")
    op.copy(ok = op.ok && op.rows == expected)
  }
}
