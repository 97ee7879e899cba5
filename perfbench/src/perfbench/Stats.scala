package perfbench

/** Order statistics and target-layout measurements shared by the workloads. */
object Stats {

  /** Linear-interpolated percentile (p in 0..100) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.length)

  /** Samples strictly above the p-th percentile. */
  def beyond(xs: Seq[Double], p: Double): Int = {
    val cut = percentile(xs, p)
    xs.count(_ > cut)
  }

  /** The `_tail` percentile: the highest of the candidate percentiles
    * that still leaves at least `minBeyond` samples of an n-sample run
    * above it; none when even the median would not. */
  def tailPercentile(n: Int, minBeyond: Int = 10,
      candidates: Seq[Double] = Seq(99, 95, 90, 80, 75, 50)): Option[Double] =
    candidates.find(p => n - math.ceil(n * p / 100.0) >= minBeyond)

  /** Per-bucket file signature of a bucketed target, listed from outside
    * the engine: file count, bytes and the sorted file names. */
  final case class BucketSig(files: Int, bytes: Long, names: Seq[String])

  def bucketSigs(targetDir: java.nio.file.Path): Map[Int, BucketSig] = {
    if (!java.nio.file.Files.isDirectory(targetDir)) return Map.empty
    val dirs = listDir(targetDir).filter(p =>
      java.nio.file.Files.isDirectory(p) && p.getFileName.toString.startsWith("bucket="))
    dirs.map { d =>
      val files = listDir(d).filter { f =>
        val n = f.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".") && java.nio.file.Files.isRegularFile(f)
      }
      d.getFileName.toString.stripPrefix("bucket=").toInt -> BucketSig(
        files.length, files.map(java.nio.file.Files.size).sum,
        files.map(_.getFileName.toString).sorted)
    }.toMap
  }

  def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.list(p)
    try { val it = s.iterator(); val b = Seq.newBuilder[java.nio.file.Path]
      while (it.hasNext) b += it.next(); b.result() }
    finally s.close()
  }

  /** Buckets whose signature changed between two listings, and the bytes
    * now held by those buckets (what the merge rewrote). */
  def touched(before: Map[Int, BucketSig], after: Map[Int, BucketSig]): (Int, Long) = {
    val changed = after.collect { case (b, sig) if !before.get(b).contains(sig) => sig }
    val removed = before.keySet.diff(after.keySet).size
    (changed.size + removed, changed.map(_.bytes).sum)
  }

  /** Write amplification: bytes rewritten ÷ bytes of the batch's input. */
  def writeAmp(bytesRewritten: Long, inputBytes: Long): Double =
    if (inputBytes <= 0) 0.0 else bytesRewritten.toDouble / inputBytes
}
