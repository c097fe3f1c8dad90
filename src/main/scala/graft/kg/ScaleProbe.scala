package graft.kg
import org.apache.spark.sql.SparkSession
/** Scaling probe: corpus-gen+parse only (no writes), used to separate
  * CPU-path scaling from sink/shuffle overheads when tuning the bench. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(40000L)
    for (cpus <- Seq(32, 8, 32, 8)) {
      val spark = SparkSession.builder().master(s"local[$cpus]")
        .withExtensions(new graft.GraftExtensions)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      import spark.implicits._
      // warmup
      spark.range(0, 2000, 1, cpus).map(i => Corpus.doc(7L, i, 2000L).src)
        .map(s => graft.parse.RfcDoc.parse(s).triples.size).reduce(_ + _)
      val t0 = System.nanoTime()
      val total = spark.range(0, n, 1, cpus * 4)
        .map(i => Corpus.doc(42L, i, n).src)
        .map(s => graft.parse.RfcDoc.parse(s).triples.size).reduce(_ + _)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"cpus=$cpus n=$n triples=$total sec=$sec%.2f rate=${n / sec}%.0f docs/s")
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
  }
}
