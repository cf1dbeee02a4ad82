package graft.ops

import graft.SourceScan.{count, mainSources, sourcesIn}
import org.scalatest.funsuite.AnyFunSuite

/** Source guard: the session is built in one place
  * ([[graft.SparkEntry.session]]), the declared queries are looped over
  * in one place ([[graft.Harness]]) by the four harness mains alone,
  * session-held state is memoized in one place ([[Caches.perSession]]),
  * and every persist or local checkpoint goes through [[Caches]], so
  * one release call per query frees it. The few raw sites whose
  * lifetime is neither one query nor one session are named here, each
  * with its reason and its exact count. */
class CachesGuardSpec extends AnyFunSuite {

  private val allowed: Map[String, (Int, String)] = Map(
    "graft/model/GraftStore.scala" ->
      (1, "the quads view lives as long as its store"),
    "graft/streaming/Streaming.scala" ->
      (1, "the ingest snapshot chain lives as long as its stream"))

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

  test("session-held state is memoized only by Caches.perSession") {
    // a map's type may wrap onto the next line: match per file
    val keyed = """Map\[\s*\(?\s*SparkSession\b""".r
    val maps = mainSources.map { case (f, ls) =>
      f -> keyed.findAllIn(ls.mkString(" ")).size
    }.filter(_._2 > 0).toMap
    assert(maps == Map("graft/ops/Caches.scala" -> 1),
      s"maps keyed by SparkSession (file -> count): $maps — memoize " +
        "through Caches.perSession")
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
