package graft.ingest

import graft.model.InfotonModel
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import java.sql.Timestamp

/** `POST /_in` as a batch job (SURVEY.md §3.2 Spark shape): RDF lines →
  * per-subject commands → [[Merger.merge]] against a snapshot. The
  * parse is per-line (mapPartitions-parallel); the only shuffle is the
  * groupByKey on subject path, which is also the merge key.
  */
object Ingest {

  /** Empty infoton store (ingest target for a fresh graph). A
    * LocalRelation (list-backed), NOT an emptyRDD frame: emptyRDD plans
    * as an opaque LogicalRDD, so merging into a fresh store paid full
    * join/flip/union subtrees against a provably-empty side; the
    * LocalRelation lets Catalyst's PropagateEmptyRelation collapse
    * those at plan time (fewer exchanges/jobs on every fresh-graph
    * ingest — same frame, identical contents). */
  def emptyStore(spark: SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      InfotonModel.InfotonType)

  /** Spread the parse input over the session's parallelism BEFORE the
    * per-line/per-document parse flatMap: ingest text typically arrives
    * as a handful of splits (one request body, one file, one upstream
    * task's output), and the parse — regex per NT line, a Jackson tree
    * walk per JSON-LD document — is the CPU-heavy stage, so without
    * this it runs serialized on those few tasks while the cluster
    * idles (guide §2.5 "input skew: one unsplittable input"). The
    * shuffle moves only the raw text once; inputs that already carry
    * enough splits (any at-scale corpus) pass through untouched. */
  private def parseParallel[T](ds: Dataset[T]): Dataset[T] = {
    val par = ds.sparkSession.sparkContext.defaultParallelism
    // plan-shape gate first — see [[graft.pipeline.Similarity.computeParallel]]:
    // `.rdd` under AQE materializes exchange-bearing plans outright,
    // so a shuffled input (already session-wide) skips the probe
    if (graft.ops.Caches.hasExchange(ds.toDF())) ds
    else if (ds.rdd.getNumPartitions < par) ds.repartition(par) else ds
  }

  /** N-Triples/N-Quads lines → write commands, one per subject
    * (LDFormatParser.rdfToInfotonsMap:586-605). */
  def commands(spark: SparkSession, lines: Dataset[String],
               lastModified: Timestamp): Dataset[Merger.Command] = {
    import spark.implicits._
    commandsOf(spark, lines.flatMap(Rdf.parseLine(_)), lastModified)
  }

  /** Statements → per-subject commands, with canonical field keys
    * claimed first: a dictionary-scale distinct-predicates pass (plus
    * markReplace targets, which NAME predicates) claims keys on the
    * DRIVER ([[graft.qp.Namespaces.claimAll]]) and ships the iri→key
    * map as a broadcast — executors never touch claim state, so the
    * mapping is identical on a 1000-executor cluster. Costs one extra
    * linear parse pass projecting only predicates (map-side-combined
    * distinct, no added wide shuffle); a caller at scale can persist
    * the input to pay the parse once. */
  private def commandsOf(spark: SparkSession, sts: Dataset[Rdf.Statement],
                         lastModified: Timestamp): Dataset[Merger.Command] = {
    import spark.implicits._
    val preds = sts.flatMap { st =>
      if (st.pred.startsWith(Rdf.SysNs))
        (if (Rdf.localName(st.pred) == "markReplace") st.objIri.toSeq else Nil)
      else Seq(st.pred)
    }.distinct().collect()
    val keyMap = graft.qp.Namespaces.claimAll(preds.toSeq)
    val bk = spark.sparkContext.broadcast(keyMap)
    sts.groupByKey(st => Rdf.iriToPath(st.subj))
      .mapGroups { (path, ss) =>
        Rdf.toCommand(path, ss.toSeq, lastModified,
          iri => bk.value.getOrElse(iri, Rdf.localName(iri)))
      }
  }

  /** Full ingest: parse, fold to commands, merge onto `infotons`. */
  def ingest(spark: SparkSession, infotons: DataFrame, lines: Dataset[String],
             lastModified: Timestamp): DataFrame = {
    import spark.implicits._
    mergeParsed(spark, infotons,
      parseParallel(lines).flatMap(Rdf.parseLine(_)), lastModified)
  }

  /** Turtle ingest: each element is ONE whole Turtle document (Turtle
    * carries prefix state, so the document — not the line — is the
    * unit of parallelism; pair with `wholeTextFiles`). */
  def ingestTurtle(spark: SparkSession, infotons: DataFrame,
                   docs: Dataset[String],
                   lastModified: Timestamp): DataFrame =
    ingestDocs(spark, infotons, docs, lastModified, Turtle.parse)

  /** TriG ingest — [[Turtle.parse]] accepts graph blocks (Turtle is
    * its no-blocks subset), so named-graph documents ride the same
    * document-parallel path; values keep their graph tag through the
    * merge (quad-aware FieldValue). */
  def ingestTrig(spark: SparkSession, infotons: DataFrame,
                 docs: Dataset[String],
                 lastModified: Timestamp): DataFrame =
    ingestDocs(spark, infotons, docs, lastModified, Turtle.parse)

  /** N3 ingest — [[Turtle.parseN3]]: Turtle semantics (the reference's
    * own Jena routing for text/n3), N3-proper syntax fails loud. */
  def ingestN3(spark: SparkSession, infotons: DataFrame,
               docs: Dataset[String],
               lastModified: Timestamp): DataFrame =
    ingestDocs(spark, infotons, docs, lastModified, Turtle.parseN3)

  /** TriX ingest — same document-level parallelism as Turtle. */
  def ingestTrix(spark: SparkSession, infotons: DataFrame,
                 docs: Dataset[String],
                 lastModified: Timestamp): DataFrame =
    ingestDocs(spark, infotons, docs, lastModified, Trix.parse)

  /** JSON-LD ingest — same document-level parallelism as Turtle. */
  def ingestJsonLd(spark: SparkSession, infotons: DataFrame,
                   docs: Dataset[String],
                   lastModified: Timestamp): DataFrame =
    ingestDocs(spark, infotons, docs, lastModified, JsonLd.parse)

  /** RDF/XML ingest — same document-level parallelism as Turtle. */
  def ingestRdfXml(spark: SparkSession, infotons: DataFrame,
                   docs: Dataset[String],
                   lastModified: Timestamp): DataFrame =
    ingestDocs(spark, infotons, docs, lastModified, RdfXml.parse)

  private def ingestDocs(spark: SparkSession, infotons: DataFrame,
                         docs: Dataset[String], lastModified: Timestamp,
                         parse: String => Seq[Rdf.Statement]): DataFrame = {
    import spark.implicits._
    mergeParsed(spark, infotons,
      parseParallel(docs).flatMap(parse(_)), lastModified)
  }

  /** Merge parsed statements with the parse paid ONCE: the statement
    * set feeds two full passes (the predicate-dictionary distinct in
    * [[commandsOf]], then the command cogroup), so it persists across
    * both and unpersists after the merge's internal actions have
    * materialized its delta (cmds/newV are persisted inside
    * [[Merger.merge]] before it returns — nothing downstream re-reads
    * the statements). For a document-format parse (JSON-LD's Jackson
    * tree walk) the second evaluation was the single biggest cost of
    * the roundtrip (measured 11.6 s → 7.3 s at sf0.1). */
  private def mergeParsed(spark: SparkSession, infotons: DataFrame,
                          sts: Dataset[Rdf.Statement],
                          lastModified: Timestamp): DataFrame =
    mergeParsedWithDelta(spark, infotons, sts, lastModified)._1

  private def mergeParsedWithDelta(spark: SparkSession, infotons: DataFrame,
                                   sts: Dataset[Rdf.Statement],
                                   lastModified: Timestamp)
      : (DataFrame, DataFrame) = {
    val cached = graft.ops.Caches.persist(sts)
    try Merger.mergeWithDelta(spark, infotons,
      commandsOf(spark, cached, lastModified))
    finally graft.ops.Caches.release(cached)
  }

  /** [[ingest]], also returning the batch delta (new rows only) — the
    * index-command stream for incremental current-flag maintenance
    * ([[graft.ingest.Merger.mergeWithDelta]]). */
  def ingestWithDelta(spark: SparkSession, infotons: DataFrame,
                      lines: Dataset[String], lastModified: Timestamp)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    mergeParsedWithDelta(spark, infotons,
      parseParallel(lines).flatMap(Rdf.parseLine(_)), lastModified)
  }
}
