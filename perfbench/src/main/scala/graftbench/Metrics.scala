package graftbench

/** Pure metric arithmetic, kept free of Spark so it can be unit tested. */
object Metrics {

  /** Samples that must lie beyond a reported percentile. */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p < 100), or None when fewer than
    * [[MinBeyond]] samples lie strictly beyond its rank.
    */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 100, s"percentile $p out of (0, 100)")
    val n = xs.size
    val rank = math.ceil(p / 100 * n - 1e-9).toInt // 1-based
    if (n == 0 || n - rank < MinBeyond) None
    else Some(xs.sorted.apply(rank - 1))
  }

  /** Length of the union of `[start, end)` intervals, clipped to
    * `[from, to)`. Overlapping and nested intervals count once.
    */
  def coveredLength(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Ingest phase an action belongs to, from the path it wrote (None: an
    * action that wrote nothing, i.e. the multiallelic validation). Keyed on
    * the output directory the pipeline chose, so line edits in the program
    * do not move an action between phases.
    */
  def ingestPhase(outputPath: Option[String]): String = outputPath match {
    case None => "validate"
    case Some(p) =>
      val parts = p.stripSuffix("/").split('/').toSeq
      if (parts.contains("_staging")) "stage"
      else parts.lastOption match {
        case Some("variant_info") => "write_info"
        case Some("variant_impact") => "write_impact"
        case Some("variant_geno") => "write_geno"
        case _ => "write_other"
      }
  }

  val IngestPhases: Seq[String] =
    Seq("validate", "stage", "write_info", "write_impact", "write_geno", "write_other")
}
