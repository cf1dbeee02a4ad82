package graft

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for declared queries to one file per
  * query — the round-17 optimization-evidence artifact
  * (`plans/r17/<query>_<tag>.txt`). Unlike [[Plans]] (a curated
  * PLANS.md sample), this dumps EVERY declared query (or a filtered
  * subset) so before/after plan diffs are checkable per query.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> [nameFilter...]
  *
  * Runs on [[SparkEntry.session]], the session [[Bench]] uses, so the
  * dumped plans are the plans the bench runs. NOTE queries whose
  * builder runs eager work (streaming protocol, merges, quantizer fits)
  * pay that work here too — the dump is plan-shaped evidence, not a
  * timing run.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val only = args.drop(3)
    def wanted(name: String): Boolean =
      only.isEmpty || only.exists(name.contains)
    val spark = SparkEntry.session()
    Files.createDirectories(Paths.get(outDir))
    val mode = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (wanted(name)) {
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(mode)
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
          System.err.println(s"[plandump] $name ok (${txt.length} chars)")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
        graft.ops.Caches.releaseCaches()
      }
    }
    spark.stop()
  }
}
