package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: only run queries whose name contains one of
    // them (local iteration aid; the driver passes exactly two args)
    val h = new Harness(sfDir, args.drop(2).toSeq, _.contains(_))
    new java.io.File(outDir).mkdirs()
    h.runAll() { (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    } { r =>
      r.error.foreach(e =>
        System.err.println(s"[verify] ${r.name} failed: ${e.getMessage}"))
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Harness.json(k)}: ${Harness.json(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    h.spark.stop()
  }
}
