package graft.ingest

import graft.model.InfotonModel
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import scala.collection.immutable.ListMap

/** The write-side merge — the heart of ingest (SURVEY.md §2.8).
  *
  * Reference: cmwell-bg/Merger.scala:55-300 — fold a path's command
  * sequence onto its current version: field-set UNION for writes
  * (`merge_f`), value/quad-aware delete (`delete_f`), replace
  * (`update_f`), tombstones for path deletes; no-op updates are dropped
  * (ImpStream.filterDups:308-312); every effective merge appends a new
  * immutable version and flips the previous `current` flag
  * (IndexerStream "current" maintenance).
  *
  * Spark shape: commands and the current snapshot are cogrouped on
  * path (one shuffle each side, both pre-partitioned by the natural
  * key), the per-path fold runs as plain Scala inside `cogroup`, and
  * the result is a DataFrame union: old versions with flipped flags +
  * new versions + synthesized parents. At 100 TB the snapshot side is
  * parquet bucketed by path, so only the commands (the small delta)
  * actually move.
  */
object Merger {

  /** One typed field value (InfotonModel.ValueType as a case class). */
  final case class FieldValue(s: String, n: Option[Double],
                              t: Option[Timestamp], b: Option[Boolean],
                              vType: String, lang: Option[String],
                              quad: Option[String])

  /** One write command (reference CommandSerializer.scala:51-100):
    * op ∈ write | update | delete_attrs | delete_path.
    * `deleteFields`: field → values to remove; an EMPTY value list
    * removes the whole field (markReplace). `kind` lets a write create
    * a LinkInfoton / FileInfoton instead of a plain object. `by` is the
    * writing identity — the merged version records the SORTED DISTINCT
    * set of its contributors comma-joined (reference bg/Merger.scala:312),
    * which is why the index side analyzes `system.lastModifiedBy` with
    * the comma tokenizer (indices_template_new.json:13-22,206). */
  final case class Command(op: String, path: String, lastModified: Timestamp,
                           fields: Map[String, Seq[FieldValue]],
                           deleteFields: Map[String, Seq[FieldValue]],
                           kind: String = InfotonModel.KindObject,
                           by: String = "ingest")

  final case class SystemRow(path: String, parent: String,
                             lastModified: Timestamp, lastModifiedBy: String,
                             uuid: String, dc: String, indexTime: Long,
                             current: Boolean, kind: String, protocol: String)
  final case class InfotonRow(system: SystemRow,
                              fields: Option[Map[String, Seq[FieldValue]]])

  /** Value identity for union/delete — the reference treats values as a
    * Set[FieldValue]; equality is (lexical, type, lang, quad). */
  private def vKey(v: FieldValue) = (v.s, v.vType, v.lang, v.quad)

  private def union(base: Map[String, Seq[FieldValue]],
                    add: Map[String, Seq[FieldValue]]) =
    add.foldLeft(base) { case (acc, (f, vs)) =>
      val cur = acc.getOrElse(f, Seq.empty)
      val seen = cur.map(vKey).toSet
      acc.updated(f, cur ++ vs.filterNot(v => seen(vKey(v))))
    }

  private def remove(base: Map[String, Seq[FieldValue]],
                     del: Map[String, Seq[FieldValue]]) =
    del.foldLeft(base) { case (acc, (f, vs)) =>
      if (vs.isEmpty) acc - f // whole-field delete (markReplace)
      else {
        val drop = vs.map(vKey).toSet
        val left = acc.getOrElse(f, Seq.empty).filterNot(v => drop(vKey(v)))
        if (left.isEmpty) acc - f else acc.updated(f, left)
      }
    }

  /** Fold one path's commands onto its base version. Returns the new
    * version to append, or None when the merge is a no-op
    * (filterDups semantics). */
  def mergeOne(path: String, base: Option[InfotonRow],
               cmds: Seq[Command]): Option[InfotonRow] = {
    if (cmds.isEmpty) return None
    val sorted = cmds.sortBy(c => (c.lastModified.getTime, c.op))
    var fields = base.flatMap(_.fields).getOrElse(Map.empty[String, Seq[FieldValue]])
    var deleted = base.exists(_.system.kind == InfotonModel.KindDeleted)
    var kind = base.map(_.system.kind).filter(_ != InfotonModel.KindDeleted)
      .getOrElse(InfotonModel.KindObject)
    sorted.foreach { c =>
      c.op match {
        case "write" =>
          deleted = false; kind = c.kind; fields = union(fields, c.fields)
        case "update" =>
          deleted = false; kind = c.kind
          fields = union(remove(fields, c.deleteFields), c.fields)
        case "delete_attrs" => fields = remove(fields, c.deleteFields)
        case "delete_path" => deleted = true; fields = Map.empty
        case other => throw new IllegalArgumentException(s"bad op $other")
      }
    }
    val baseFields = base.flatMap(_.fields).getOrElse(Map.empty)
      .map { case (f, vs) => f -> vs.map(vKey).toSet }
    val newFields = fields.map { case (f, vs) => f -> vs.map(vKey).toSet }
    val baseDeleted = base.exists(_.system.kind == InfotonModel.KindDeleted)
    // compare EFFECTIVE kinds — `kind` masks KindDeleted, so a delete
    // replayed onto a tombstone must still read as a no-op
    val effKind = if (deleted) InfotonModel.KindDeleted else kind
    if (base.nonEmpty && newFields == baseFields && deleted == baseDeleted &&
        base.exists(_.system.kind == effKind))
      None // no-op (same content ⇒ same uuid ⇒ dropped)
    else {
      // strictly-increasing lastModified per path (the reference bumps
      // the merged time past the base version, Merger.scala)
      val lmCmd = sorted.map(_.lastModified.getTime).max
      val lm = base.fold(lmCmd)(b => math.max(lmCmd, b.system.lastModified.getTime + 1))
      // deterministic field order ⇒ deterministic to_json ⇒ stable uuid
      val ordered = ListMap(fields.toSeq.sortBy(_._1).map { case (f, vs) =>
        f -> vs.sortBy(v => (v.s, v.vType, v.lang.getOrElse(""), v.quad.getOrElse("")))
      }: _*)
      val parent0 = path.replaceAll("/[^/]+$", "")
      val parent = if (path == "/") "$root" else if (parent0.isEmpty) "/" else parent0
      // multi-writer fold: the version's modifier field is the sorted
      // distinct contributor set, comma-joined (bg/Merger.scala:312 —
      // SortedSet(cmds.map(_.lastModifiedBy)).mkString(","))
      val by = sorted.map(_.by).distinct.sorted.mkString(",")
      Some(InfotonRow(
        SystemRow(path, parent, new Timestamp(lm), by,
          uuid = null, dc = "local", indexTime = lm * 1000L, current = true,
          kind = if (deleted) InfotonModel.KindDeleted else kind,
          protocol = "cmwell"),
        if (deleted) None else Some(ordered)))
    }
  }

  /** Content-addressed version id, identical to the loader's
    * (Infoton.scala:139-168 analog): MD5 over path | lastModified |
    * canonical-json(fields). */
  def uuidCol(system: Column, fields: Column): Column =
    md5(concat_ws("|", system.getField("path"),
      date_format(system.getField("lastModified"),
        "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"),
      to_json(fields)))

  /** Apply a command batch to an infoton store snapshot: returns the
    * full new infotons DataFrame (history preserved, `current` flags
    * rewritten, new versions appended, missing parents synthesized). */
  def merge(spark: SparkSession, infotons: DataFrame,
            commands: Dataset[Command]): DataFrame =
    mergeWithDelta(spark, infotons, commands)._1

  /** [[merge]], also returning the batch DELTA — the new rows this
    * batch created (merged versions + synthesized parent stubs),
    * batch-sized. The delta is the analog of the reference bg
    * pipeline's index-command stream (ImpStream.scala: the persist
    * step emits IndexCommands the indexer applies without re-reading
    * the store): downstream index maintenance consumes it through
    * [[graft.streaming.Streaming.versionLog]] +
    * [[graft.streaming.Streaming.currentFlags]], with state ∝ live
    * paths instead of a per-batch full-snapshot flag rewrite. */
  def mergeWithDelta(spark: SparkSession, infotons: DataFrame,
                     commands: Dataset[Command]): (DataFrame, DataFrame) = {
    import spark.implicits._
    // Fresh-graph fast path: when the base is PROVABLY empty at plan
    // time (an empty LocalRelation — [[graft.ingest.Ingest.emptyStore]])
    // there is nothing to merge against, flip, or union: the cogroup
    // degenerates to a plain groupByKey over the commands and the base
    // side's join/flip/union subtrees vanish from the plan (one whole
    // exchange + several AQE stages per fresh ingest). Relying on
    // Catalyst's PropagateEmptyRelation instead would leave empty
    // LocalRelations inside self-referencing unions, a shape that trips
    // an optimizer assertion (PushDownLeftSemiAntiJoin) on chained
    // merges — build the small plan explicitly.
    // plan-time-empty detection tolerates the trivial wrappers a
    // caller might put around emptyStore (alias, select, filter,
    // repartition) — a bare pattern-match on the root node would
    // silently fall back to the full cogroup plan the moment anyone
    // wraps the empty frame (ADVICE r17)
    val baseEmpty = {
      import org.apache.spark.sql.catalyst.plans.logical._
      def empty(p: LogicalPlan): Boolean = p match {
        case l: LocalRelation => l.data.isEmpty
        case a: SubqueryAlias => empty(a.child)
        case pr: Project => empty(pr.child)
        case f: Filter => empty(f.child)
        case r: Repartition => empty(r.child)
        case _ => false
      }
      empty(infotons.queryExecution.analyzed)
    }
    // only base rows whose path carries a command enter the cogroup —
    // commands are the small delta, so this semi join keeps the
    // expensive row→object deserialization proportional to the batch,
    // not to the store (the reference likewise point-reads just the
    // commanded paths, ImpStream.scala:225-244)
    // the command batch feeds two consumers (path pushdown + cogroup):
    // persist so a derived command pipeline isn't computed twice
    val cmds = graft.ops.Caches.persist(commands)
    val cmdPaths = cmds.select(col("path").as("__cp")).distinct()
    val baseCur = infotons.where(col("system.current"))
      .join(cmdPaths, col("system.path") === col("__cp"), "left_semi")
      .as[InfotonRow]
    val merged =
      if (baseEmpty) cmds.groupByKey(_.path).flatMapGroups { (path, cs) =>
        mergeOne(path, None, cs.toSeq).iterator
      }
      else cmds.groupByKey(_.path)
        .cogroup(baseCur.groupByKey(_.system.path)) { (path, cs, bs) =>
          mergeOne(path, bs.toSeq.headOption, cs.toSeq).iterator
        }
    // no .cast(SystemType): the case-class schema matches field-for-field
    // and a nullable→non-nullable struct cast is rejected; unionByName
    // reconciles nullability. Persisted: the batch output feeds three
    // consumers (flag rewrite, result union, parent synthesis) and is
    // delta-sized — without it the whole command+cogroup pipeline runs
    // three times. Both persists are read by the returned frames.
    val newV = graft.ops.Caches.persist(merged.toDF()
      .withColumn("system", col("system")
        .withField("uuid", uuidCol(col("system"), col("fields")))))
    val all = if (baseEmpty) newV else {
      val changed = newV.select(col("system.path").as("__np")).distinct()
      val flipped = infotons
        .join(changed, col("system.path") === col("__np"), "left")
        .withColumn("system",
          when(col("__np").isNotNull && col("system.current"),
            col("system").withField("current", lit(false)))
            .otherwise(col("system")))
        .drop("__np")
      flipped.unionByName(newV)
    }
    // missing-parents synthesis (ImpStream.scala:326-356): ancestors of
    // new paths that don't exist yet become directory infotons. For
    // incremental batches the candidate set (distinct parent dirs) is
    // tiny — collect it and let existence become a pushed-down IN scan.
    // A bulk initial load can carry millions of distinct directories,
    // so above a small threshold fall back to a fully-distributed
    // anti-join instead of funneling paths through the driver.
    val candDf = newV.select(explode(ancestors(col("system.path"))).as("p"))
      .distinct()
    val existingAll =
      if (baseEmpty) newV.select(col("system.path").as("p0"))
      else infotons.select(col("system.path").as("p0"))
        .unionByName(newV.select(col("system.path").as("p0"))) // batch may write a parent itself
    // ONE probe job decides the path: the collected prefix IS the
    // candidate set when it fits (no second scan of the explode plan)
    val candArr = candDf.limit(10001).collect().map(_.getString(0))
    val missingDf =
      if (candArr.length <= 10000) {
        val cand = candArr.toSeq
        // existence stays a PUSHED-DOWN IN scan (the collected
        // candidates are the literals — that is why the probe collect
        // above exists), but the set difference is now a LAZY
        // anti-join instead of a second driver action per merge: the
        // tiny scan rides inside whichever downstream job first
        // consumes the parents frame, one driver round-trip saved on
        // every incremental batch
        if (cand.isEmpty)
          spark.createDataset(Seq.empty[String])(
            org.apache.spark.sql.Encoders.STRING).toDF("p")
        else
          spark.createDataset(cand)(
            org.apache.spark.sql.Encoders.STRING).toDF("p")
            .join(existingAll.where(col("p0").isin(cand: _*)),
              col("p") === col("p0"), "left_anti")
            .select("p")
      } else {
        // the bulk path's only prior action is the 10001-row limit
        // probe, and CollectLimit can stop after a partition subset —
        // force the delta fully into cache here so callers
        // (Ingest.mergeParsed) may release the upstream parsed
        // statements knowing nothing downstream re-derives them
        newV.count()
        candDf.join(existingAll.distinct(), col("p") === col("p0"),
          "left_anti").select("p")
      }
    val parents = missingDf
      .select(struct(
        col("p").as("path"),
        when(col("p") === "/", "$root")
          .otherwise(when(regexp_replace(col("p"), "/[^/]+$", "") === "", "/")
            .otherwise(regexp_replace(col("p"), "/[^/]+$", ""))).as("parent"),
        to_timestamp(lit("2024-06-01 00:00:00")).as("lastModified"),
        lit("ingest").as("lastModifiedBy"), lit(null).cast("string").as("uuid"),
        lit("local").as("dc"), lit(0L).as("indexTime"),
        lit(true).as("current"), lit(InfotonModel.KindObject).as("kind"),
        lit("cmwell").as("protocol")).as("system"),
        lit(null).cast(InfotonModel.InfotonType("fields").dataType).as("fields"))
    (all.unionByName(parents), newV.unionByName(parents))
  }

  /** Parent directory of a path (the `__parent` partition key). */
  private def parentOf(p: String): String =
    if (p == "/") "$root"
    else { val q = p.replaceAll("/[^/]+$", ""); if (q.isEmpty) "/" else q }

  /** Apply a command batch IN PLACE to a materialized parquet store
    * ([[graft.model.GraftStore.materialize]] layout — `infotons/`
    * partitioned by `__parent`): read ONLY the partitions that can
    * change, merge, and rewrite exactly those partitions via dynamic
    * partition overwrite. This is the 100 TB write path: a delta batch
    * touches a handful of directories, so the other ~all partitions
    * are neither read nor written — vs. the full-snapshot
    * rescan/rewrite that [[merge]] + re-materialize implies.
    *
    * The affected set is the commanded paths' parent chain (their own
    * directories plus every ancestor directory, where synthesized
    * parents land) — complete by construction: every row [[merge]] can
    * emit (flipped flag, new version, synthesized parent) has its
    * `__parent` in that set, and every existence probe (base version,
    * ancestor presence) reads a partition in that set.
    *
    * Incremental batches only (≤10k distinct paths, the same driver
    * threshold as parent synthesis): a larger batch is a bulk load,
    * where scanning the full store and re-materializing is the right
    * plan anyway — fail loud rather than collect an unbounded set.
    *
    * Returns the affected parent set (tests/telemetry). */
  def mergePruned(spark: SparkSession, dir: String,
                  commands: Dataset[Command]): Seq[String] = {
    import spark.implicits._
    val cmdPaths = commands.select(col("path")).distinct()
      .limit(10001).as[String].collect()
    require(cmdPaths.length <= 10000,
      "mergePruned is the incremental path (≤10k distinct paths per " +
        "batch); bulk loads should merge against the full store and " +
        "re-materialize")
    val affected = cmdPaths.iterator.flatMap { p =>
      Iterator.iterate(p)(parentOf).drop(1)
        .takeWhile(_ != "$root") ++ Iterator.single("$root")
    }.distinct.toSeq
    val inf = spark.read.parquet(s"$dir/infotons")
    // partition pruning: only the affected directories are scanned
    val slice = inf.where(col("__parent").isin(affected: _*))
    val merged = merge(spark, slice.drop("__parent"), commands)
    val out = merged
      .withColumn("__parent", col("system.parent"))
      // range, not hash: a hot directory fans out over many writers
      // (see GraftStore.materializeInfotons)
      .repartitionByRange(col("__parent"), col("system.path"))
      .sortWithinPartitions(col("system.path"), col("system.indexTime"))
    // sever lineage from the files about to be overwritten (Spark
    // rejects writes whose plan still reads the destination); the
    // checkpoint is delta-sized — affected partitions only — and dead
    // once written
    val ck = graft.ops.Caches.localCheckpoint(out)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try ck.write.mode("overwrite").partitionBy("__parent")
      .parquet(s"$dir/infotons")
    finally {
      graft.ops.Caches.release(ck)
      prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None =>
          spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
    affected
  }

  /** BULK-LOAD fallback — the path [[mergePruned]]'s refusal points
    * at (>10k distinct paths per batch): merge the batch against the
    * FULL store and re-materialize. The 100 TB discipline is
    * GENERATIONAL: the merged snapshot writes as a sibling directory
    * (never read-and-overwrite the files the plan is scanning — no
    * store-sized checkpoint needed), then swaps in with two renames
    * and the old generation is dropped. Unlike the pruned path
    * nothing is collected to the driver: the command batch streams
    * through [[merge]]'s cogroup (reference semantics:
    * bg/Merger.scala:55-300) and the rewrite is one range-partitioned
    * sorted pass — the same layout contract as
    * [[graft.model.GraftStore.materializeInfotons]], so every later
    * point read / consume range prunes identically. Cost is the full
    * snapshot rewrite, which is what a bulk load IS; batches under
    * the 10k-path threshold should use [[mergePruned]] and pay only
    * their partitions.
    *
    * CONCURRENCY: must not run while other processes OPEN the same
    * store dir — [[graft.model.GraftStore.recoverGenerations]] runs
    * on every open and cannot distinguish this swap-in-progress from
    * a crashed one, so a concurrent open may steal the roll-forward
    * mid-swap (single-writer-no-concurrent-open is the contract; the
    * recovery itself is safe against concurrent OPENS racing each
    * other). */
  def mergeBulk(spark: SparkSession, dir: String,
                commands: Dataset[Command]): Unit = {
    val inf = spark.read.parquet(s"$dir/infotons").drop("__parent")
    val merged = merge(spark, inf, commands)
    val stamp = System.nanoTime()
    val gen = s"$dir/infotons__gen_$stamp"
    // Size the rewrite's range shuffle by STORE + BATCH, not the
    // session: a fixed spark.sql.shuffle.partitions pins per-task
    // sort volume to rows/N, the exact linear-growth defect the
    // third-decade ETL probe hit at 100M rows (GraftStore.etlCachedDir
    // carries the same sizing). The batch term matters when a LARGE
    // command batch lands on a small or empty store — sizing from the
    // pre-merge snapshot alone would keep the session default and
    // reintroduce the linear defect on the very load that creates the
    // store. Store count is parquet-footer metadata (no data pages);
    // the command count is one pass over the batch, cheap next to the
    // full snapshot rewrite. Small store+batch keeps the session
    // default.
    val rewriteParts = math.min(4096L, math.max(
      spark.conf.get("spark.sql.shuffle.partitions").toLong,
      (inf.count() + commands.count()) / 500000L + 1)).toInt
    merged.withColumn("__parent", col("system.parent"))
      .repartitionByRange(rewriteParts, col("__parent"), col("system.path"))
      .sortWithinPartitions(col("system.path"), col("system.indexTime"))
      .write.mode("overwrite").partitionBy("__parent").parquet(gen)
    val live = java.nio.file.Paths.get(s"$dir/infotons")
    val old = java.nio.file.Paths.get(s"$dir/infotons__old_$stamp")
    // Generational swap. The window between the two renames is the
    // only instant with no live directory; if the second move fails
    // (IO error, kill) the catch rolls the old generation back so the
    // store is never left headless with its only copy stranded under
    // __old_<stamp> (same swap-safety discipline as the ATOMIC_MOVE
    // sites in Similarity.scala / GraftStore.scala — directories
    // can't ATOMIC_MOVE portably, so roll-back-on-failure instead).
    java.nio.file.Files.move(live, old)
    try java.nio.file.Files.move(java.nio.file.Paths.get(gen), live)
    catch {
      case e: Throwable =>
        try java.nio.file.Files.move(old, live)
        catch { case r: Throwable => e.addSuppressed(r) }
        throw e
    }
    graft.model.GraftStore.rmTree(old.toFile)
  }

  /** Operator entry for [[mergeBulk]] crash-window recovery. The
    * repair itself lives with the layout it repairs
    * ([[graft.model.GraftStore.recoverGenerations]]) and runs
    * automatically on every store open; this explicit form is the
    * STRICT variant for ops tooling — a dir with nothing to recover
    * is an error here, not a shrug. */
  def recoverGenerations(dir: String): String =
    graft.model.GraftStore.recoverGenerations(dir) match {
      case "none" => throw new IllegalStateException(
        s"$dir has no infotons directory and no recoverable generation")
      case action => action
    }

  /** The subtree slice a SCOPED merge runs against: every descendant
    * of `prefix` PLUS the prefix's own directory row — dropping the
    * root row would make [[merge]] re-synthesize a duplicate parent
    * stub. One shared helper so the three scoped-merge call sites
    * can't drift on that clause. */
  def subtree(infotons: DataFrame, prefix: String): DataFrame =
    infotons.where(col("system.path").startsWith(prefix + "/") ||
      col("system.path") === prefix)

  /** `POST /_ow` overwrite (InputHandler.scala:131) — the DC-sync
    * replay path: append fully-formed version rows AS-IS (uuid,
    * lastModified, indexTime preserved — no merge, no bump, no new
    * uuid), then rewrite `current` so the latest version per path
    * wins. Used to mirror another store's history verbatim. */
  def overwrite(spark: SparkSession, infotons: DataFrame,
                versions: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // flat helper columns up front: joining/windowing on nested
    // extractions over this union lineage trips Catalyst's nested-
    // column pruning (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND)
    val all = infotons.unionByName(versions)
      .select(col("system"), col("fields"),
        col("system.path").as("__path"),
        col("system.indexTime").as("__it"), col("system.uuid").as("__uuid"))
    val changed = versions.select(col("system.path").as("__np")).distinct()
    val w = Window.partitionBy(col("__path"))
      .orderBy(col("__it").desc, col("__uuid").desc)
    // only affected paths get the window pass; the rest stream through
    val affected = all.join(changed, col("__path") === col("__np"),
        "left_semi")
      .select(col("system"), col("fields"),
        (row_number().over(w) === 1).as("__cur"))
      .select(col("system").withField("current", col("__cur")).as("system"),
        col("fields"))
    val untouched = all.join(changed, col("__path") === col("__np"),
        "left_anti")
      .select(col("system"), col("fields"))
    untouched.unionByName(affected)
  }

  /** All proper ancestors of a path: /a/b/c → [/, /a, /a/b]. */
  private def ancestors(path: Column): Column = {
    val parts = split(path, "/") // ["", "a", "b", "c"]
    filter(transform(sequence(lit(1), size(parts) - 1),
      i => when(i === 1, "/")
        .otherwise(concat_ws("/", slice(parts, lit(1), i)))), p => p =!= path)
  }
}
