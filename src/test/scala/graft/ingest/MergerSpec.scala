package graft.ingest

import graft.TempDir
import graft.model.InfotonModel
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Per-path merge fold semantics (reference Merger.scala:55-300:
  * merge_f field-set union, delete_f, update_f, tombstones; no-op dedup
  * per ImpStream.filterDups:308-312). */
class MergerSpec extends AnyFunSuite {
  import Merger._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def sv(v: String, quad: Option[String] = None) =
    FieldValue(v, None, None, None, InfotonModel.TString, None, quad)
  private def base(fields: Map[String, Seq[FieldValue]],
                   lm: String = "2024-01-01 00:00:00",
                   kind: String = InfotonModel.KindObject) =
    InfotonRow(SystemRow("/x/1", "/x", ts(lm), "t", "u0", "dc", 0L,
      current = true, kind, "cmwell"), Some(fields))

  test("write unions value sets per field") {
    val b = base(Map("a" -> Seq(sv("v1"))))
    val Some(m) = mergeOne("/x/1", Some(b), Seq(
      Command("write", "/x/1", ts("2024-02-01 00:00:00"),
        Map("a" -> Seq(sv("v2")), "b" -> Seq(sv("w"))), Map.empty))): @unchecked
    assert(m.fields.get("a").map(_.s).toSet == Set("v1", "v2"))
    assert(m.fields.get("b").map(_.s) == Seq("w"))
    assert(m.system.kind == InfotonModel.KindObject)
  }

  test("write of already-present values is a no-op (same-uuid dedup)") {
    val b = base(Map("a" -> Seq(sv("v1"))))
    assert(mergeOne("/x/1", Some(b), Seq(
      Command("write", "/x/1", ts("2024-02-01 00:00:00"),
        Map("a" -> Seq(sv("v1"))), Map.empty))).isEmpty)
  }

  test("update replaces marked fields, keeps others") {
    val b = base(Map("a" -> Seq(sv("old1"), sv("old2")), "b" -> Seq(sv("keep"))))
    val Some(m) = mergeOne("/x/1", Some(b), Seq(
      Command("update", "/x/1", ts("2024-02-01 00:00:00"),
        Map("a" -> Seq(sv("new"))), Map("a" -> Seq.empty)))): @unchecked
    assert(m.fields.get("a").map(_.s) == Seq("new"))
    assert(m.fields.get("b").map(_.s) == Seq("keep"))
  }

  test("delete_attrs removes specific values, drops emptied fields") {
    val b = base(Map("a" -> Seq(sv("v1"), sv("v2")), "b" -> Seq(sv("w"))))
    val Some(m) = mergeOne("/x/1", Some(b), Seq(
      Command("delete_attrs", "/x/1", ts("2024-02-01 00:00:00"), Map.empty,
        Map("a" -> Seq(sv("v1")), "b" -> Seq(sv("w")))))): @unchecked
    assert(m.fields.get("a").map(_.s) == Seq("v2"))
    assert(!m.fields.get.contains("b"))
  }

  test("value identity is quad-aware: same lexical in another graph stays") {
    val b = base(Map("a" -> Seq(sv("v", Some("g1")), sv("v", Some("g2")))))
    val Some(m) = mergeOne("/x/1", Some(b), Seq(
      Command("delete_attrs", "/x/1", ts("2024-02-01 00:00:00"), Map.empty,
        Map("a" -> Seq(sv("v", Some("g1"))))))): @unchecked
    assert(m.fields.get("a").map(_.quad) == Seq(Some("g2")))
  }

  test("delete_path makes a tombstone; write after revives") {
    val b = base(Map("a" -> Seq(sv("v"))))
    val Some(t) = mergeOne("/x/1", Some(b), Seq(
      Command("delete_path", "/x/1", ts("2024-02-01 00:00:00"),
        Map.empty, Map.empty))): @unchecked
    assert(t.system.kind == InfotonModel.KindDeleted && t.fields.isEmpty)
    val Some(r) = mergeOne("/x/1", Some(t), Seq(
      Command("write", "/x/1", ts("2024-03-01 00:00:00"),
        Map("a" -> Seq(sv("v2"))), Map.empty))): @unchecked
    assert(r.system.kind == InfotonModel.KindObject)
    assert(r.fields.get("a").map(_.s) == Seq("v2"))
  }

  test("commands fold in lastModified order within one batch") {
    val Some(m) = mergeOne("/x/1", None, Seq(
      Command("update", "/x/1", ts("2024-02-02 00:00:00"),
        Map("a" -> Seq(sv("second"))), Map("a" -> Seq.empty)),
      Command("write", "/x/1", ts("2024-02-01 00:00:00"),
        Map("a" -> Seq(sv("first"))), Map.empty))): @unchecked
    assert(m.fields.get("a").map(_.s) == Seq("second"))
  }

  test("merged lastModified bumps strictly past the base version") {
    val b = base(Map("a" -> Seq(sv("v"))), lm = "2024-05-01 00:00:00")
    val Some(m) = mergeOne("/x/1", Some(b), Seq(
      Command("write", "/x/1", ts("2024-02-01 00:00:00"), // older than base
        Map("a" -> Seq(sv("v2"))), Map.empty))): @unchecked
    assert(m.system.lastModified.getTime == b.system.lastModified.getTime + 1)
    assert(m.system.indexTime > b.system.indexTime)
  }

  test("delete_path replayed onto a tombstone is a no-op") {
    val b = base(Map.empty, kind = InfotonModel.KindDeleted)
    assert(mergeOne("/x/1", Some(b), Seq(
      Command("delete_path", "/x/1", ts("2024-02-01 00:00:00"),
        Map.empty, Map.empty))).isEmpty)
  }

  test("no commands means no version") {
    assert(mergeOne("/x/1", Some(base(Map.empty)), Nil).isEmpty)
  }

  test("multi-writer fold records sorted distinct modifiers comma-joined") {
    // reference bg/Merger.scala:312 —
    // SortedSet(cmds.map(_.lastModifiedBy)).mkString(",")
    val Some(m) = mergeOne("/x/1", None, Seq(
      Command("write", "/x/1", ts("2024-02-01 00:00:00"),
        Map("a" -> Seq(sv("v1"))), Map.empty, by = "zoe"),
      Command("write", "/x/1", ts("2024-02-02 00:00:00"),
        Map("b" -> Seq(sv("v2"))), Map.empty, by = "amy"),
      Command("write", "/x/1", ts("2024-02-03 00:00:00"),
        Map("c" -> Seq(sv("v3"))), Map.empty, by = "amy"))): @unchecked
    assert(m.system.lastModifiedBy == "amy,zoe")
  }

  // --- mergeBulk crash-window recovery (pure filesystem semantics;
  // the wired-into-store-open path is pinned in EngineSpec) ---

  private def mkGen(root: java.nio.file.Path, name: String,
                    content: String, success: Boolean): Unit = {
    import java.nio.file.Files
    val d = root.resolve(name)
    Files.createDirectories(d)
    Files.writeString(d.resolve("part-0.parquet"), content)
    if (success) Files.createFile(d.resolve("_SUCCESS"))
  }

  test("recoverGenerations rolls FORWARD to the complete generation " +
      "and drops the stale snapshot") {
    import java.nio.file.Files
    TempDir("graft_recover_spec") { root =>
      // the exact state a kill between mergeBulk's two renames leaves:
      // old = pre-merge snapshot, gen = merged batch (complete: its
      // parquet write stamped _SUCCESS), NO live directory
      mkGen(root, "infotons__old_100", "stale", success = false)
      mkGen(root, "infotons__gen_100", "merged", success = true)
      val action = graft.model.GraftStore.recoverGenerations(root.toString)
      assert(action == "rolled-forward:infotons__gen_100")
      assert(Files.readString(
        root.resolve("infotons/part-0.parquet")) == "merged")
      assert(!Files.exists(root.resolve("infotons__old_100")))
      // idempotent: a healthy store is a no-op
      assert(graft.model.GraftStore.recoverGenerations(root.toString) == "ok")
    }
  }

  test("recoverGenerations rolls BACK to the old snapshot when the " +
      "generation is incomplete") {
    import java.nio.file.Files
    TempDir("graft_recover_spec") { root =>
      // kill DURING the generation's parquet write: no _SUCCESS, so the
      // merged batch is not trustworthy — the pre-merge snapshot wins
      mkGen(root, "infotons__old_7", "stale", success = false)
      mkGen(root, "infotons__gen_7", "torn", success = false)
      val action = graft.model.GraftStore.recoverGenerations(root.toString)
      assert(action == "rolled-back:infotons__old_7")
      assert(Files.readString(
        root.resolve("infotons/part-0.parquet")) == "stale")
    }
  }

  test("recoverGenerations on a dir with nothing to recover: lenient " +
      "open path shrugs, strict operator entry throws") {
    TempDir("graft_recover_spec") { root =>
      // the open path must NOT mask a genuinely absent store behind a
      // recovery error — the natural read failure is the right one
      assert(graft.model.GraftStore.recoverGenerations(root.toString) == "none")
      val e = intercept[IllegalStateException] {
        Merger.recoverGenerations(root.toString)
      }
      assert(e.getMessage.contains("no recoverable generation"))
    }
  }

  // --- fresh-store fast path (ADVICE r17: assert the plan-time-empty
  // branch is actually taken, including through trivial wrappers) ---

  private def freshCmds(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    s.createDataset(Seq(
      Command("write", "/x/1", ts("2024-02-01 00:00:00"),
        Map("a" -> Seq(sv("v1"))), Map.empty)))
  }

  test("fresh-store merge takes the no-cogroup fast path, wrappers included") {
    val s = graft.SparkSuite.session
    def planOf(base: org.apache.spark.sql.DataFrame): String =
      Merger.merge(s, base, freshCmds(s))
        .queryExecution.executedPlan.toString
    val empty = graft.ingest.Ingest.emptyStore(s)
    assert(!planOf(empty).contains("CoGroup"),
      "bare emptyStore must take the plan-time-empty fast path")
    // the ADVICE scenario: benign wrappers must not silently fall back
    // to the cogroup plan
    assert(!planOf(empty.alias("st")).contains("CoGroup"))
    assert(!planOf(empty.select(empty.columns.map(
      org.apache.spark.sql.functions.col): _*)).contains("CoGroup"))
    // and a NON-empty base must still cogroup (the fast path must not
    // over-trigger)
    val nonEmpty = s.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(
        org.apache.spark.sql.Row("/x/1", "/x",
          ts("2024-01-01 00:00:00"), "t", "u0", "dc", 0L, true,
          InfotonModel.KindObject, "cmwell"), null)),
      InfotonModel.InfotonType)
    assert(planOf(nonEmpty).contains("CoGroup"))
  }
}
