package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Writes the golden row hashes of the pipeline queries over the base data
  * set, plus what `tools/check.py` needs to compare the same results with
  * the DuckDB oracle: `<dump>/oracle_sql.json` and one parquet dir per query
  * (the layout `graft.Verify` writes). Driven by `golden.py`:
  *
  * {{{
  * perfbench.GoldenMain --base <dir> --partitions <n> --index-dir <dir>
  *   --dump <dir> --out <hashes.json>
  * }}}
  */
object GoldenMain {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val base = args("base")
    val parts = args("partitions")
    val dump = new File(args("dump"))
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .appName("perfbench-golden")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("graft.index.dir", args("index-dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val oracle = graft.SparkEntry.oracleSql
    val hashes = PipelineQueries.Names.map { q =>
      val df = graft.SparkEntry.queries(q)(spark, base)
      val rows = df.collect()
      df.coalesce(1).write.mode("overwrite").parquet(new File(dump, q).toString)
      q -> Json.obj(Seq("hash" -> Json.str(RowHash(rows)), "rows" -> Json.num(rows.length.toLong),
        "oracle" -> Json.bool(oracle.contains(q))))
    }
    Files.write(Paths.get(dump.toString, "oracle_sql.json"), Json.obj(
      PipelineQueries.Names.flatMap(q => oracle.get(q).map(q -> Json.str(_))))
      .getBytes("UTF-8"))
    Files.write(Paths.get(args("out")), Json.obj(hashes).getBytes("UTF-8"))
    spark.stop()
  }
}
