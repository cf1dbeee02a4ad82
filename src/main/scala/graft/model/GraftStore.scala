package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** A loaded infoton store: the `infotons` DataFrame plus derived views.
  *
  * `quads` is the exploded EAV/RDF view (SURVEY.md §1.6 (2)) — one row
  * per (subject, predicate, value). Graph traversal (yg incoming hops)
  * and the SPARQL BGP compiler join on it.
  *
  * Both views are persisted: on a cluster they'd be Parquet tables
  * (infotons partitioned by parent; quads bucketed by subject AND a
  * second copy bucketed by `s` for reverse-edge joins); on local[32]
  * MEMORY_AND_DISK gives the same read-amplification profile.
  */
final class GraftStore(val spark: SparkSession, val infotons: DataFrame,
                       val fieldTypes: Map[String, String],
                       private[model] val quadsOverride: Option[DataFrame] = None,
                       /** Fields indexed ANALYZED-ONLY (no keyword /
                         * doc-values slot): searchable, but aggregation
                         * and sort reject them fail-loud, mirroring the
                         * ES mapping split the reference rides on
                         * (analyzed vs non-analyzed field slots). */
                       val analyzedOnly: Set[String] = Set.empty,
                       /** When the store is SERVED from a materialized
                         * parquet layout, its root — lets a caller
                         * clone the on-disk layout (file copy) instead
                         * of re-running the ETL write. */
                       val materializedDir: Option[String] = None) {

  lazy val quads: DataFrame = quadsOverride.getOrElse {
    // materialized from CURRENT rows only: every quad consumer (graph
    // edges, SPARQL scans, stp) filters current — exploding the full
    // version history would triple the view (10.2M vs 3.4M rows at
    // sf0.1) for rows nothing reads. History stays queryable on the
    // entity view; the current/kind columns remain so consumer
    // predicates are unchanged. NOTE a history consumer must NOT
    // filter this view on `current = false` — it would silently see
    // nothing (that contract is pinned by test); use [[quadsHistory]].
    explodeQuads(current).persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** FULL-HISTORY quad view, OPT-IN — every stored version exploded to
    * EAV rows, old versions with `current = false`. [[quads]] is
    * deliberately current-only (nothing in the reference's
    * SPARQL/graph surface reads history, and exploding history ~3×es
    * the view for rows nothing scans), so a history-aware consumer
    * must reach for THIS view explicitly. Tombstones carry no
    * `fields`, so a delete shows up as the absence of later-version
    * rows, not as a row. Not persisted: history audits are rare
    * one-offs that stream the explode. */
  lazy val quadsHistory: DataFrame = explodeQuads(infotons)

  /** The [[quads]] view WITHOUT the persist — a single-pass streaming
    * explode for write-once consumers (the ETL's quad layout write),
    * where caching would only add unroll pressure and a disk copy. */
  private[model] def quadsStream: DataFrame = explodeQuads(current)

  private def explodeQuads(src: DataFrame): DataFrame =
    src.select(col("system.*"), explode(col("fields")).as(Seq("predicate", "values")))
      .select(col("path").as("subject"), col("predicate"),
        explode(col("values")).as("v"),
        col("lastModified"), col("indexTime"), col("current"), col("kind"))
      .select(col("subject"), col("predicate"), col("v.*"),
        col("lastModified"), col("indexTime"), col("current"), col("kind"))

  /** The same store serving ENTITY scans from the consume-oriented
    * SECONDARY layout (`infotons_consume`,
    * [[GraftStore.materializeInfotonsByIndexTime]]) when the
    * materialized dir carries one — indexTime-major row groups with
    * tight, pairwise-disjoint min/max stats, so a `_consume` chunk's
    * range predicate prunes to the boundary row groups instead of
    * scanning most of the directory (the path-major primary sorts for
    * point reads; its per-row-group indexTime stats span nearly the
    * whole range). Falls back to the primary view when no secondary
    * layout exists (in-memory stores, merged clones): same rows, same
    * semantics, only the pruning differs. The quad view is shared —
    * expansion (gqp/yg/xg) keys on quads, not the entity layout. */
  lazy val consumeView: GraftStore = materializedDir match {
    case Some(dir)
        if new java.io.File(s"$dir/infotons_consume").isDirectory =>
      new GraftStore(spark,
        spark.read.parquet(s"$dir/infotons_consume").drop("__parent"),
        fieldTypes, Some(quads), analyzedOnly, materializedDir)
    case _ => this
  }

  /** The same store with its quad view restricted to a subgraph (the
    * `_sp` PATHS populate step — a filter, not a copy). */
  def scopedTo(sub: DataFrame): GraftStore =
    new GraftStore(spark, infotons, fieldTypes, Some(sub), analyzedOnly,
      materializedDir) // keep the snapshot-clone fast path (same layout)

  /** The same store reading its quad view from another source — e.g.
    * the bucketed-by-subject table ([[GraftStore.materializeQuadsBucketed]]),
    * whose distribution makes SPARQL star BGPs exchange-free. The
    * frame must carry the [[InfotonModel.QuadType]] columns. */
  def withQuads(q: DataFrame): GraftStore =
    new GraftStore(spark, infotons, fieldTypes,
      Some(q.select(InfotonModel.QuadType.fieldNames.map(col): _*)),
      analyzedOnly, materializedDir)

  /** Current, non-deleted snapshot — the default query surface
    * (implicit filters, FTSService.scala:850-854). */
  lazy val current: DataFrame =
    infotons.where(col("system.current") && col("system.kind") =!= InfotonModel.KindDeleted)

  def vTypeOf(field: String): Option[String] = fieldTypes.get(field)

  /** Reference edges over a predicate set — the one edge view that
    * xg/yg/gqp, Gremlin and SPARQL paths hop over
    * ([[graft.ops.Graph.hop]]): `from`, `label` (the predicate, as in
    * reference JenaEdge.getLabel), `to`, `quad` (graph tag); column
    * pruning drops what a caller does not select. The quads layout
    * partitions by predicate, so the isin prunes like an equality;
    * unknown predicates match no edges. NOT distinct (Graph joins
    * tolerate multi-edges; closure callers add their own distinct). */
  def refEdges(predLocals: Seq[String]): DataFrame =
    quads.where(col("current") &&
        col("kind") =!= InfotonModel.KindDeleted &&
        col("predicate").isin(predLocals: _*) &&
        col("vType") === InfotonModel.TRef)
      .select(col("subject").as("from"), col("predicate").as("label"),
        col("s").as("to"), col("quad"))
}

object GraftStore {
  /** Write the store in its production parquet layout — the concrete
    * 100 TB design the in-memory persist stands in for:
    *   - `infotons/` partitioned by parent (path-prefix pruning for
    *     path/parent predicates), rows sorted by (path, indexTime)
    *     within files so point reads and consume ranges prune row
    *     groups via min/max stats;
    *   - `quads/` partitioned by predicate — graph edge scans
    *     (`predicate === field`) read exactly one partition instead of
    *     the whole EAV view. On a cluster both would additionally be
    *     bucketed (path / subject) for shuffle-free joins. */
  def materialize(store: GraftStore, dir: String): Unit = {
    materializeInfotons(store, dir)
    // The secondary layout and the quad view are derived by RE-READING
    // the just-written path-major parquet, not from the logical build
    // frame. Deriving all three from the in-memory frame either
    // recomputes the source transform three times or caches the whole
    // corpus — and at corpus scale the cache is impossible: the
    // factor-1000 events probe (100M rows) spilled a corpus-sized
    // MEMORY_AND_DISK cache until the volume filled. The read-back is
    // a columnar scan of data the ETL just paid to sort — the same
    // second pass a cluster indexing pipeline would run — and keeps
    // the build's transient footprint at (layouts + one shuffle)
    // instead of (layouts + a serialized copy of the corpus).
    val onDisk = new GraftStore(store.spark,
      store.spark.read.parquet(s"$dir/infotons").drop("__parent"),
      store.fieldTypes, None, store.analyzedOnly)
    // the consume-oriented secondary layout rides the same ETL: one
    // more sorted pass at write time buys row-group-pruned `_consume`
    // range scans for every later drain ([[GraftStore.consumeView]])
    materializeInfotonsByIndexTime(onDisk, dir)
    // an EXPLICIT quads override on the passed store (a forParquet
    // open's on-disk view, a withQuads clone) is honored verbatim —
    // deriving from the re-read infotons here would silently discard
    // it; an override-free store streams the derivation instead
    // (same range rationale as materializeInfotons)
    store.quadsOverride.getOrElse(onDisk.quadsStream)
      .repartitionByRange(col("predicate"), col("subject"))
      .sortWithinPartitions(col("subject"))
      .write.mode("overwrite").partitionBy("predicate")
      .parquet(s"$dir/quads")
  }

  /** The "both would additionally be bucketed" clause of
    * [[materialize]], made concrete: write the quad view as a
    * BUCKETED-BY-SUBJECT sorted table. Every BGP/graph self-join keys
    * on the subject, so with both sides reading this layout the
    * sort-merge join needs NO exchange and NO per-task sort — the
    * shuffle that dominates a whole-graph SPARQL query at 100 TB is
    * paid once at write time and amortized over every later query
    * (EngineSpec asserts the zero-exchange plan and result equality
    * vs the unbucketed join). Registered through the session catalog
    * because bucket metadata lives there; `dir` keeps the bytes in a
    * caller-owned external location. */
  def materializeQuadsBucketed(store: GraftStore, dir: String,
                               table: String, buckets: Int): Unit =
    store.quads.write.mode("overwrite")
      .format("parquet").option("path", s"$dir/quads_bucketed")
      .bucketBy(buckets, "subject").sortBy("subject")
      .saveAsTable(table)

  /** Just the `infotons/` half of [[materialize]] — the write path
    * ([[graft.ingest.Merger.mergePruned]]) only touches this layout.
    *
    * Range-repartition on (__parent, path), not hash on __parent
    * alone: a hash repartition funnels each directory through ONE
    * writer task, so the biggest directory (lineitem-sized at 10×
    * scale) serializes the whole write. Ranging over (parent, path)
    * keeps every output file inside one directory (partitionBy still
    * groups by __parent) while a hot directory fans out over many
    * writers, each producing a path-disjoint, internally-sorted file —
    * which also makes point-read row-group pruning sharper than one
    * giant file. */
  def materializeInfotons(store: GraftStore, dir: String,
                          partitions: Option[Int] = None): Unit = {
    val base = store.infotons.withColumn("__parent", col("system.parent"))
    val keys = Seq(col("__parent"), col("system.path"))
    partitions.fold(base.repartitionByRange(keys: _*))(
        n => base.repartitionByRange(n, keys: _*))
      .sortWithinPartitions(col("system.path"), col("system.indexTime"))
      .write.mode("overwrite").partitionBy("__parent")
      .parquet(s"$dir/infotons")
  }

  /** The consume-oriented SECONDARY layout: indexTime-major within
    * each `__parent` partition (range-partitioned AND sorted on
    * (__parent, indexTime)), so per-file and per-row-group indexTime
    * min/max are TIGHT and pairwise disjoint. The primary layout
    * ([[materializeInfotons]]) sorts path-major for point reads and
    * the merge write path — under it a consume range predicate scans
    * most row groups of a directory because every row group spans
    * nearly the whole indexTime range. A consume-heavy parent (the
    * inter-DC sync / bulk-export shape, reference
    * BulkScrollHandler.scala:81-129) writes this layout once and every
    * `_consume` chunk prunes to the boundary row groups; the row-group
    * stats contract is pinned by EngineSpec against parquet footers. */
  def materializeInfotonsByIndexTime(store: GraftStore, dir: String,
                                     partitions: Option[Int] = None): Unit = {
    val base = store.infotons.withColumn("__parent", col("system.parent"))
    val keys = Seq(col("__parent"), col("system.indexTime"),
      col("system.path"))
    partitions.fold(base.repartitionByRange(keys: _*))(
        n => base.repartitionByRange(n, keys: _*))
      .sortWithinPartitions(col("system.indexTime"), col("system.path"))
      .write.mode("overwrite").partitionBy("__parent")
      .parquet(s"$dir/infotons_consume")
  }

  /** Startup recovery for a crash inside
    * [[graft.ingest.Merger.mergeBulk]]'s two-rename swap window: if
    * the live `infotons` directory is missing but a `__gen_`/`__old_`
    * sibling survives, roll forward to the newest COMPLETE generation
    * (`_SUCCESS` present — it holds the merged batch) or back to the
    * old snapshot. Idempotent; a healthy store returns "ok" without
    * touching the filesystem, and a dir with neither a live layout
    * nor a generation returns "none" (so opening a genuinely absent
    * store still fails with the natural read error, not a recovery
    * error). Invoked by every [[forParquet]] open, so the repair is
    * automatic at the next store open after a hard kill — no manual
    * operator step. Returns the action taken, for operator logs.
    *
    * CONCURRENCY: recovery heals a DEAD writer, it does not
    * coordinate with a LIVE one — [[graft.ingest.Merger.mergeBulk]]
    * must not run concurrently with opens of the same store dir (the
    * recovery cannot distinguish a crash window from a swap in
    * progress, so an open during the two-rename window may steal the
    * roll-forward). Concurrent OPENS racing each other are safe: each
    * move is wrapped so a FileAlreadyExists / NoSuchFile thrown
    * because a sibling open healed the store first re-checks the live
    * dir and reports the store healthy instead of failing a healthy
    * open. */
  def recoverGenerations(dir: String): String = {
    import java.nio.file.{Files, Paths}
    val live = Paths.get(s"$dir/infotons")
    if (Files.exists(live)) return "ok"
    // a concurrent recoverGenerations may complete any of the steps
    // between our existence checks and our moves; every filesystem
    // mutation below treats "someone else already did it" as success
    // when the live dir exists afterwards
    def moveOr(src: java.nio.file.Path, took: String): Option[String] =
      try { Files.move(src, live); Some(took) }
      catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: java.nio.file.NoSuchFileException =>
          if (Files.exists(live)) Some("ok:healed-concurrently") else None
      }
    val sibs = Option(Paths.get(dir).toFile.listFiles()).getOrElse(Array())
      .filter(f => f.getName.startsWith("infotons__"))
      .sortBy(_.getName).reverse
    val gen = sibs.find(f => f.getName.contains("__gen_") &&
      Files.exists(f.toPath.resolve("_SUCCESS")))
    val old = sibs.find(_.getName.contains("__old_"))
    (gen, old) match {
      case (Some(g), o) =>
        moveOr(g.toPath, s"rolled-forward:${g.getName}") match {
          case Some(took) =>
            if (took.startsWith("rolled-forward"))
              o.foreach(f => try rmTree(f) catch { case _: Exception => () })
            took
          case None => "none"
        }
      case (None, Some(o)) =>
        moveOr(o.toPath, s"rolled-back:${o.getName}").getOrElse("none")
      case _ =>
        // both branches raced away between listFiles and here — if a
        // sibling recovery installed the live dir, the store is fine
        if (Files.exists(live)) "ok:healed-concurrently" else "none"
    }
  }

  /** Open a materialized store. Scans hit real parquet: pushdown,
    * partition pruning and row-group skipping all visible in
    * `.explain` (vs the in-memory cache used for local iteration). */
  def forParquet(spark: SparkSession, dir: String,
                 fieldTypes: Map[String, String] = TableLoader.fieldTypes,
                 analyzedOnly: Set[String] = Set.empty): GraftStore = {
    recoverGenerations(dir) // heal a mergeBulk crash window before reading
    val inf = spark.read.parquet(s"$dir/infotons").drop("__parent")
    val quads = spark.read.parquet(s"$dir/quads")
      .select(InfotonModel.QuadType.fieldNames.map(col): _*) // canonical order
    new GraftStore(spark, inf, fieldTypes, Some(quads), analyzedOnly,
      Some(dir))
  }

  /** Clone a materialized `infotons/` layout — the "restore a store
    * snapshot" operation (byte-identical layout, no Spark job). Used by
    * write-path scenarios that need a WRITABLE copy without re-running
    * the ETL write.
    *
    * HARD LINKS, not byte copies (the reflink/snapshot-clone
    * discipline): parquet writers never modify data files in place —
    * every mutation (dynamic partition overwrite, generational swap)
    * writes NEW files and unlinks old ones, so linked files are safe to
    * share and unlinking in the clone never touches the source layout.
    * A link is O(1) metadata vs streaming the bytes, which turns the
    * clone from layout-sized I/O into directory-walk time (the same
    * reason storage snapshots are cheap). Falls back to a real copy per
    * file when the filesystem refuses links (cross-device, no
    * hard-link support). */
  def cloneInfotons(srcRoot: String, dstRoot: String): Unit = {
    val src = java.nio.file.Paths.get(srcRoot, "infotons")
    val dst = java.nio.file.Paths.get(dstRoot, "infotons")
    val it = java.nio.file.Files.walk(src).iterator()
    while (it.hasNext) {
      val p = it.next()
      val q = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(q)
      else {
        java.nio.file.Files.deleteIfExists(q)
        try java.nio.file.Files.createLink(q, p)
        catch { case _: UnsupportedOperationException |
                     _: java.nio.file.FileSystemException =>
          java.nio.file.Files.copy(p, q,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      }
    }
  }

  /** Load (once per sf dir per session) the driver tables as an infoton
    * store, MATERIALIZED in the production parquet layout and served
    * from it: infotons partitioned by parent, quads by predicate.
    * This is the deployment shape, not just the honest one — a
    * single-predicate SPARQL/graph scan prunes to one quads
    * directory (measured 4.5 s → 0.7 s at sf0.1 vs the former
    * 3.4M-row in-memory view), path-prefix reads prune infoton
    * directories, and every scan gets columnar pushdown. The write is
    * the one-time ETL (reported as `etl` by Bench, the analog of the
    * reference's indexing pipeline); queries never pay it. */
  def forDir(spark: SparkSession, dir: String): GraftStore = {
    graft.ops.Caches.perSession(spark, s"store:$dir") {
      // the loader's session-side registrations (quad aliases) must
      // happen even when the WARM path skips TableLoader.load entirely
      TableLoader.registerAliases()
      forParquet(spark, etlCachedDir(spark, dir), TableLoader.fieldTypes,
        TableLoader.analyzedOnly)
    }
  }

  /** Marker file that makes a published ETL directory valid — written
    * into the build dir BEFORE the atomic publish, so its presence in
    * the shared location implies a complete layout. */
  private val EtlMarker = "_GRAFT_ETL_COMPLETE"

  /** Version of the MATERIALIZED LAYOUT, hashed into the cache key:
    * bump whenever [[materialize]] / the infoton schema changes shape,
    * or a binary upgrade would silently serve a stale pre-upgrade
    * layout whose source fingerprint still matches. */
  private val EtlLayoutVersion = "v2" // v2: + infotons_consume secondary layout

  /** Cross-JVM ETL warm start: the materialized layout lives under a
    * shared root keyed by a CONTENT FINGERPRINT of the source parquet
    * (relative name + size + mtime manifest — a driver data refresh
    * changes the key and forces a re-ETL). A fresh JVM whose source is
    * unchanged reuses the finished layout and pays ~0 s instead of the
    * full materialize (66.7 s of every sf0.1 bench run). Concurrent
    * builders race benignly: each builds into a private temp dir and
    * ATOMIC_MOVE-publishes; the loser discards its copy and reads the
    * winner's. The layout is read-only by contract — the one mutating
    * caller ([[graft.ingest.Merger.mergePruned]] via q_merge_pruned)
    * clones `infotons/` first. */
  /** Per-user ETL cache root (`~/.cache/graft/store_etl`, tmpdir +
    * user-suffixed fallback), 0700 where POSIX perms exist, ownership-
    * checked before any warm hit is served: the former shared
    * world-writable `/tmp/graft_store_etl_cache` let another local
    * user pre-plant a poisoned parquet layout under a predictable
    * fingerprint name that forDir would silently serve as the store.
    * An ownership mismatch fails LOUD — serving unverifiable data is
    * worse than no store. */
  private def etlCacheRoot(): java.nio.file.Path = {
    import java.nio.file.{Files, Paths}
    val root = sys.props.get("user.home").filter(_.nonEmpty)
      .map(h => Paths.get(h, ".cache", "graft", "store_etl"))
      .getOrElse(Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"),
        s"graft_store_etl_cache_${sys.props.getOrElse("user.name", "u")}"))
    Files.createDirectories(root)
    try Files.setPosixFilePermissions(root,
      java.nio.file.attribute.PosixFilePermissions.fromString("rwx------"))
    catch { case _: UnsupportedOperationException => () }
    val me = sys.props.getOrElse("user.name", "")
    val owner =
      try Files.getOwner(root).getName catch { case _: Exception => me }
    require(me.isEmpty || owner == me,
      s"ETL cache root $root owned by '$owner', not '$me' — refusing " +
        "to serve store layouts from a directory another user controls")
    root
  }

  private def etlCachedDir(s: SparkSession, d: String): String = {
    val root = etlCacheRoot()
    val target = root.resolve(sourceFingerprint(d))
    if (java.nio.file.Files.exists(target.resolve(EtlMarker))) {
      // touch on reuse: the pruner ages entries by mtime, and parquet
      // READS never update it — an actively-served layout must not
      // look stale to a concurrent builder's prune pass
      try java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      catch { case _: Exception => () }
    } else {
      pruneStale(root, keep = target.getFileName.toString)
      // SCALE the build's shuffle parallelism with the input. Every
      // shuffle inside the ETL — the current-flag window over event
      // versions, the parents distinct, the three range-repartitioned
      // layout writes — inherits spark.sql.shuffle.partitions, so a
      // fixed session default (32 on the bench rig) makes per-task
      // sort/unroll volume grow LINEARLY with the corpus: the
      // factor-1000 events probe (100M rows) exhausted a 48g heap at
      // 32 partitions before this scaling. Partition count comes from
      // a metadata-only row count (~500k source rows per task, floor =
      // the session default, ceiling 4096); the raised setting lives
      // on a CLONED session so concurrent queries on the caller's
      // session keep their plans, and AQE coalesces the excess away on
      // small inputs (the repartitionByRange calls pass no explicit n,
      // so they stay coalescible) — sf0.01..sf1 builds are unchanged.
      // On a real cluster this is the same discipline as sizing
      // shuffle partitions to the table, applied at the one place the
      // engine owns the write.
      val bs = s.newSession()
      val buildParts = math.min(4096L, math.max(
        bs.conf.get("spark.sql.shuffle.partitions").toLong,
        sourceRowCount(bs, d) / 500000L + 1))
      bs.conf.set("spark.sql.shuffle.partitions", buildParts.toString)
      // NO build-time persist: [[materialize]] runs ONE pass over the
      // loaded frame (the path-major write) and derives the other two
      // layouts by re-reading that parquet, so caching the corpus here
      // would only duplicate it onto disk (measured fatal at the
      // factor-1000 scale probe).
      val inf = TableLoader.load(bs, d)
      val tmp = java.nio.file.Files.createTempDirectory(root, "build_")
      val built = new GraftStore(bs, inf, TableLoader.fieldTypes, None,
        TableLoader.analyzedOnly)
      materialize(built, tmp.toString)
      java.nio.file.Files.createFile(tmp.resolve(EtlMarker))
      try java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileSystemException
            if java.nio.file.Files.exists(target.resolve(EtlMarker)) =>
          rmTree(tmp.toFile) // a concurrent JVM published first — use its copy
      }
    }
    target.toString
  }

  /** Total source rows from parquet FOOTER metadata (per-file count()
    * with no filter/projection never touches data pages) — the input
    * to the build-parallelism sizing above. Tables have distinct
    * schemas, so files are counted one by one. This runs BEFORE
    * [[TableLoader.load]], so it must tolerate every schema the
    * loaders themselves work around: TIMESTAMP(NANOS) events
    * generations are only readable with nanosAsLong (the same flag
    * [[TableLoader.events]] sets on this session), and any file a
    * count still rejects contributes 0 — sizing then falls back
    * toward the session-default partition count, which is the
    * pre-sizing behavior, never a crashed build. */
  private def sourceRowCount(s: SparkSession, d: String): Long = {
    // nanosAsLong is scoped to the counts (save/restore): leaving it
    // set would change how every later nanos-parquet read on this
    // session behaves as a side effect of store SIZING
    val flag = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = s.conf.getOption(flag)
    s.conf.set(flag, "true")
    try {
      val real = java.nio.file.Paths.get(d).toRealPath().toFile
      Option(real.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(f => try s.read.parquet(f.getPath).count()
                  catch { case e: Exception =>
                    // a failed count degrades SIZING only (falls back
                    // toward the session default), but never silently:
                    // a corrupted source should show up in the logs
                    System.err.println(s"[graft] sourceRowCount: could " +
                      s"not count ${f.getPath} (${e.getClass.getSimpleName}" +
                      s": ${e.getMessage}) — contributing 0 rows to sizing")
                    0L
                  }).sum
    } finally saved match {
      case Some(v) => s.conf.set(flag, v)
      case None => s.conf.unset(flag)
    }
  }

  /** MD5 over the source dir's file manifest (relative path, size,
    * mtime) — cheap (no data read), refresh-sensitive. */
  private def sourceFingerprint(dir: String): String = {
    import scala.jdk.CollectionConverters._
    // toRealPath: Files.walk does NOT follow a symlinked root, so a
    // symlinked sf dir would walk zero regular files and EVERY such
    // dir would share the empty-manifest key — measured in the wild:
    // two symlinked variants silently served one stale store. Resolve
    // first; the fingerprint is of the real content.
    val root = java.nio.file.Paths.get(dir).toRealPath()
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(s"layout=$EtlLayoutVersion\n".getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    val stream = java.nio.file.Files.walk(root)
    val manifest =
      try stream.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => (root.relativize(p).toString, p)).toSeq.sortBy(_._1)
      finally stream.close()
    require(manifest.nonEmpty,
      s"store source $dir resolves to $root with no regular files — " +
        "refusing to fingerprint an empty source (a cache key over " +
        "nothing would alias every such dir to one store)")
    manifest.foreach { case (rel, p) =>
      md.update(s"$rel|${java.nio.file.Files.size(p)}|${
        java.nio.file.Files.getLastModifiedTime(p).toMillis}\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Bound the shared cache: drop published entries (other than `keep`)
    * untouched for >7 days, and orphaned build_ temp dirs older than
    * 24 h (a crashed builder — generous enough that no live build can
    * be shot mid-materialize). Published entries are touch-on-reuse
    * (forDir updates mtime when serving a warm hit), so only layouts
    * no JVM has OPENED in a week age out; a JVM that opened one and
    * then idles longer than that before its next scan remains exposed
    * — acceptable for a /tmp cache, and it re-ETLs on the next call. */
  private def pruneStale(root: java.nio.file.Path, keep: String): Unit = {
    val now = System.currentTimeMillis()
    Option(root.toFile.listFiles()).foreach(_.foreach { f =>
      val age = now - f.lastModified()
      val stale =
        if (f.getName.startsWith("build_")) age > 24L * 3600 * 1000
        else f.getName != keep && age > 7L * 24 * 3600 * 1000
      if (stale) rmTree(f)
    })
  }

  private[graft] def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** Store over an arbitrary infoton DataFrame (e.g. RDF ingest).
    * Field types are sampled from the data unless a known dictionary
    * is passed (post-merge stores inherit the base store's types and
    * skip a full-scan collect) — the dictionary is tiny (distinct
    * predicate names), the analog of /meta/ns + PassiveFieldTypesCache. */
  def fromInfotons(spark: SparkSession, inf: DataFrame,
                   knownTypes: Option[Map[String, String]] = None): GraftStore =
    knownTypes match {
      case Some(t) => new GraftStore(spark, inf, t)
      case None =>
        val types = inf.select(explode(col("fields")).as(Seq("k", "vs")))
          .select(col("k"), element_at(col("vs"), 1).getField("vType").as("t"))
          .distinct().collect().map(r => r.getString(0) -> r.getString(1)).toMap
        new GraftStore(spark, inf, types)
    }
}
