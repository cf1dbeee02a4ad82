package graft

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for declared queries to one file per
  * query — the round-17 optimization-evidence artifact
  * (`plans/r17/<query>_<tag>.txt`). It dumps EVERY declared query (or
  * the ones whose name contains a filter) so before/after plan diffs
  * are checkable per query.
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
    val (outDir, tag) = (args(1), args(2))
    val h = new Harness(args(0), args.drop(3).toSeq, _.contains(_))
    Files.createDirectories(Paths.get(outDir))
    val mode = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    h.runAll() { (name, df) =>
      val txt = df.queryExecution.explainString(mode)
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
      System.err.println(s"[plandump] $name ok (${txt.length} chars)")
    } { r =>
      r.error.foreach(e =>
        System.err.println(s"[plandump] ${r.name} failed: ${e.getMessage}"))
    }
    h.spark.stop()
  }
}
