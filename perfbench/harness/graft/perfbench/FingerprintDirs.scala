package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Prints `name<TAB>fingerprint` for every parquet result directory
  * under a graft.Verify dump, so pinned fingerprints can be cross-checked
  * against results the DuckDB oracle accepted.
  *
  * Usage: graft.perfbench.FingerprintDirs <verify-out-dir>
  */
object FingerprintDirs {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.session.timeZone", "UTC").config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new File(args(0)).listFiles().filter(_.isDirectory).sortBy(_.getName).foreach { d =>
      if (Option(d.listFiles).exists(_.exists(_.getName.endsWith(".parquet"))))
        println(s"${d.getName}\t${Fingerprint.of(spark.read.parquet(d.getPath))}")
    }
    spark.stop()
  }
}
