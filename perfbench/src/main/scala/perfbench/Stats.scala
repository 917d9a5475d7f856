package perfbench

import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, never
    * below the median: returns (percentile, value). With fewer than 20
    * samples no percentile above the median has ten beyond it, so the
    * tail is the median itself and the printed percentile says so. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.length
    if (n < 20) (50.0, median(xs))
    else (100.0 * (n - 10) / n, xs.sorted.apply(n - 11))
  }

  /** Bytes under a directory tree (0 when it does not exist). */
  def duBytes(dir: String): Long =
    files(dir).map(java.nio.file.Files.size(_)).sum

  /** Parquet data files under a directory tree. */
  def dataFiles(dir: String): Int =
    files(dir).count(_.getFileName.toString.endsWith(".parquet"))

  private def files(dir: String): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Nil
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).toList
      finally s.close()
    }
  }
}
