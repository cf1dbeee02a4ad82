package graft.model

import graft.TempDir
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** TIMESTAMP(NANOS) generations of events.parquet (r15 ADVICE,
  * GraftStore.sourceRowCount): the driver's current testdata is
  * micros, which HID the crash — parquet nanos are rejected by
  * Spark's reader unless `nanosAsLong` is set, and the ETL's sizing
  * count runs BEFORE TableLoader.events applies that workaround. The
  * fixture (src/test/resources/events_nanos.parquet, pyarrow
  * timestamp[ns], 100 rows over 9 distinct days / 10 users) pins the
  * whole path: loader value correctness AND a full store build. */
class NanosLoaderSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkSuite.session
  private val Sf = "/root/testdata/sf0.001"

  private def fixture: String =
    getClass.getResource("/events_nanos.parquet").getPath

  test("TableLoader.events reads TIMESTAMP(NANOS) and truncates to micros") {
    TempDir("graft_nanos_") { d =>
      val dir = d.toString
      java.nio.file.Files.copy(java.nio.file.Paths.get(fixture),
        java.nio.file.Paths.get(s"$dir/events.parquet"))
      val ev = TableLoader.events(spark, dir)
      assert(ev.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType)
      assert(ev.count() == 100)
      // row 0: 2024-01-01T00:00:00Z exactly — nanos/1000 with integer
      // division, no precision loss at whole seconds
      val micros = ev.where(col("event_id") === 0)
        .select(unix_micros(col("ts"))).head().getLong(0)
      assert(micros == java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
        .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L)
    }
  }

  test("a full store builds from a NANOS events generation (the ETL " +
      "sizing count must not crash before the loader's workaround)") {
    import scala.jdk.CollectionConverters._
    TempDir("graft_nanos_sf_") { dir =>
      // complete sf dir: every table from sf0.001, events swapped
      // for the nanos fixture
      java.nio.file.Files.list(java.nio.file.Paths.get(Sf)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .filterNot(_.getFileName.toString == "events.parquet")
        .foreach(p => java.nio.file.Files.copy(p,
          dir.resolve(p.getFileName.toString)))
      java.nio.file.Files.copy(java.nio.file.Paths.get(fixture),
        dir.resolve("events.parquet"))
      val store = GraftStore.forDir(spark, dir.toString)
      // 10 users × 10 versions each, exactly one current per path
      val users = store.infotons
        .where(col("system.path").startsWith("/user/"))
      assert(users.count() == 100)
      assert(users.where(col("system.current")).count() == 10)
      // indexTime = unix_micros(ts) survives the nanos route
      val it = users.where(col("system.current"))
        .agg(max(col("system.indexTime"))).head().getLong(0)
      assert(it == java.time.LocalDateTime.of(2024, 1, 9, 0, 0)
        .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L)
    }
  }
}
