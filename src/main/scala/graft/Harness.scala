package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one per-query loop of the Bench, Verify, ProfileQueries and
  * PlanDump mains. It decides which declared queries run and in what
  * order, warms the store ETL before the first of them, runs each one
  * under `try` with its failure recorded, and calls
  * [[graft.ops.Caches.releaseCaches]] after every run, so no query runs
  * against a neighbor's persisted intermediates. A main passes only how
  * a filter matches a name and what to do with each frame.
  *
  * A filter that matches no declared query is named on stderr and the
  * JVM exits 2 before the session starts: a mistyped name must not pass
  * as a run of nothing. */
final class Harness(val sfDir: String, filters: Seq[String],
                    matches: (String, String) => Boolean) {
  import Harness._

  val selected: Seq[(String, Query)] = {
    val queries = SparkEntry.queries
    select(queries.keys, filters, matches) match {
      case Left(unmatched) =>
        System.err.println(
          s"[harness] no declared query matches: ${unmatched.mkString(", ")}")
        sys.exit(2)
      case Right(names) => names.map(n => n -> queries(n))
    }
  }

  val spark: SparkSession = SparkEntry.session()

  /** Seconds the one-time store ETL took: it runs before any query, so
    * the first query to touch the store does not pay it. */
  val etlSeconds: Double = {
    val t = System.nanoTime()
    val store = graft.model.GraftStore.forDir(spark, sfDir)
    store.infotons.count(); store.quads.count()
    (System.nanoTime() - t) / 1e9
  }

  /** Builds one query's frame and hands it to `act`; the time covers
    * both, as some queries run eager work while building the frame. */
  def runOne(query: (String, Query), repeat: Int = 1)
            (act: DataFrame => Unit): Run = {
    val t = System.nanoTime()
    def done(e: Option[Throwable]) =
      Run(query._1, repeat, (System.nanoTime() - t) / 1e9, e)
    try { act(query._2(spark, sfDir)); done(None) }
    catch { case e: Throwable => done(Some(e)) }
    finally graft.ops.Caches.releaseCaches()
  }

  /** Runs every selected query `repeats` times in a row, each repeat on
    * a freshly built frame; `report` sees each run as it ends. */
  def runAll(repeats: Int = 1)(act: (String, DataFrame) => Unit)
            (report: Run => Unit): Seq[Run] =
    selected.zipWithIndex.flatMap { case (q @ (name, _), i) =>
      // settle pause at the mainline → stream-tail boundary: let the
      // mainline's last query fully drain before protocol noise starts
      if (i > 0 && StreamTail(name) && !StreamTail(selected(i - 1)._1))
        Thread.sleep(3000L)
      (1 to repeats).map { k =>
        val run = runOne(q, k)(act(name, _)); report(run); run
      }
    }
}

object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** One run of one query: `repeat` counts from 1, and `seconds` runs
    * to the failure when `error` is set. */
  final case class Run(name: String, repeat: Int, seconds: Double,
                       error: Option[Throwable])

  /** The five streaming-protocol queries (throughStream: parquet
    * hand-off + real micro-batch start/drain/stop cycles) run last.
    * Their protocol work floods the scheduler with hundreds of tiny
    * jobs and leaves stream-exec threads winding down into the NEXT
    * query's timing window — r14's three new multi-second stream
    * queries pushed the fresh/quiet median ratio 1.07 → 1.20 — so they
    * run as their own tail bucket after a settle pause, where their
    * wake cannot inflate mainline measurements. */
  val StreamTail = Set("q_qstream", "q_subscribe", "q_stream_window",
    "q_stream_session", "q_stream_dedup")

  /** `s` as a JSON string literal. Every control char (< 0x20) is
    * escaped: a tab or CR in an oracle SQL string or an error message
    * would otherwise make the reader's JSON parse fail. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The names some filter matches (all of them when there is no
    * filter), sorted by name with [[StreamTail]] last; `Left` holds the
    * filters that match no name. */
  def select(names: Iterable[String], filters: Seq[String],
             matches: (String, String) => Boolean)
      : Either[Seq[String], Seq[String]] = {
    val unmatched = filters.filterNot(f => names.exists(matches(_, f)))
    if (unmatched.nonEmpty) Left(unmatched)
    else Right(names.toVector
      .filter(n => filters.isEmpty || filters.exists(matches(n, _)))
      .sortBy(n => (StreamTail(n), n)))
  }
}
