package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source guard: the session is built in one place
  * ([[graft.SparkEntry.session]]), the declared queries are looped over
  * in one place ([[graft.Harness]]) by the four harness mains alone,
  * and every persist or local checkpoint goes through [[Caches]], so
  * one release call per query frees it. The few raw sites whose
  * lifetime is not one query are named here, each with its reason and
  * its exact count. */
class CachesGuardSpec extends AnyFunSuite {

  private val allowed: Map[String, (Int, String)] = Map(
    "graft/model/GraftStore.scala" ->
      (1, "the quads view lives as long as its store"),
    "graft/PipelineQueries.scala" ->
      (2, "per-sf-dir pair and cluster corpora, shared by three queries"),
    "graft/streaming/Streaming.scala" ->
      (1, "the ingest snapshot chain lives as long as its stream"),
    "graft/ingest/Ingest.scala" ->
      (1, "parsed statements, released by the operator in a finally"),
    "graft/pipeline/TextAnalysis.scala" ->
      (2, "BPE vocabulary rounds, released by the operator in a finally"),
    "graft/pipeline/Similarity.scala" ->
      (1, "PQ codebook sample, released by the operator in a finally"),
    "graft/pipeline/Dedup.scala" ->
      (1, "connected-components edges, released by the operator in a finally"))

  /** (relative path, code lines) of every source under `dir`, comments
    * dropped. */
  private def sourcesIn(dir: String): Seq[(String, Seq[String])] = {
    val root = new java.io.File(dir)
    assert(root.isDirectory, s"run from the repository root: $root")
    val base = root.toPath
    val walk = java.nio.file.Files.walk(base)
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).map { f =>
        val code = java.nio.file.Files.readAllLines(f).asScala.toSeq
          .map(_.trim)
          .filterNot(l => l.startsWith("*") || l.startsWith("/*") ||
            l.startsWith("//"))
          .map(l => l.indexOf(" // ") match { case -1 => l; case i => l.take(i) })
        base.relativize(f).toString -> code
      }.toSeq
    finally walk.close()
  }

  private lazy val sources = sourcesIn("src/main/scala")

  private def count(re: scala.util.matching.Regex,
                    in: Seq[(String, Seq[String])] = sources): Map[String, Int] =
    in.map { case (f, ls) => f -> ls.map(re.findAllIn(_).size).sum }
      .filter(_._2 > 0).toMap

  test("one SparkSession builder in src/main") {
    assert(count("""SparkSession\s*\.builder""".r) ==
      Map("graft/SparkEntry.scala" -> 1))
  }

  test("the declared queries are looped over only by the Harness") {
    assert(count("""SparkEntry\s*\.\s*queries\b""".r).keySet ==
      Set("graft/Harness.scala"))
  }

  private val main = """def\s+main\s*\(""".r

  test("the four harness mains are the only mains in src/main") {
    assert(count(main) == Seq("Bench", "Verify", "ProfileQueries",
      "PlanDump").map(m => s"graft/$m.scala" -> 1).toMap)
  }

  test("no mains in src/test") {
    assert(count(main, sourcesIn("src/test/scala")).isEmpty)
  }

  test("persists and local checkpoints go through Caches") {
    val raw = count(
      """(?<!Caches)\.(persist|localCheckpoint)\(|\.cache\(\)""".r) -
      "graft/ops/Caches.scala"
    val expected = allowed.map { case (f, (n, _)) => f -> n }
    val unexpected = raw.filterNot { case (f, n) => expected.get(f).contains(n) }
    assert(unexpected.isEmpty,
      s"raw persist/localCheckpoint outside Caches (file -> count; " +
        s"allowed: $expected): $unexpected — route it through " +
        "Caches.persist/localCheckpoint, or release it in a finally and " +
        "add the file here with its reason")
    assert(expected.keySet.subsetOf(raw.keySet),
      s"stale allow-list entries: ${expected.keySet -- raw.keySet}")
  }
}
