package cmbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.model.GraftStore
import org.apache.spark.sql.{Row, SparkSession}

/** The benchmark's JVM. One client runs the generated ops in a closed
  * loop against the store served by `GraftStore.forDir`:
  *
  *   prepare  open the store once, so the ETL layout is built and cached
  *   run      set up, warm up, run the timed phase, write the results
  *
  * `run` writes `results.jsonl` (one line per op with its wall time and
  * collected rows), `run.json` (set-up phases, run stamps, counters) and,
  * when traced, `spans.jsonl` into the run directory. The Python side
  * checks outputs and computes the metrics. */
object Main {
  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val cpus = a("cpus")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("cmbench")
      // the same settings as graft.Bench.main
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cpus)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a("local-dir"))
      .config("spark.sql.warehouse.dir", a("local-dir") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secs(t0)
    a("mode") match {
      case "prepare" =>
        val (_, s) = timed(GraftStore.forDir(spark, a("data")))
        Files.write(Paths.get(a("out")), s"""{"etl_cold_s":$s}""".getBytes(UTF_8))
        spark.stop()
      case "run" =>
        try run(spark, a, mainMs, sessionS)
        catch { case e: Throwable => e.printStackTrace(); Runtime.getRuntime.halt(1) }
        // results are on disk; skip the session shutdown (seconds per run)
        // and leave the run's local dir to the caller, which deletes it
        Runtime.getRuntime.halt(0)
    }
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, secs(t0))
  }

  private def readOps(path: String): IndexedSeq[Op] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala
      .filter(_.nonEmpty).map(Op.parse).toIndexedSeq

  /** The three registries of persisted intermediates, released after
    * every op so no op reuses an earlier op's caches. */
  private def releaseCaches(): Unit = {
    graft.pipeline.Dedup.releaseCaches()
    graft.pipeline.Similarity.releaseCaches()
    graft.ops.Caches.releaseCaches()
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def run(spark: SparkSession, a: Map[String, String], mainMs: Long,
                  sessionS: Double): Unit = {
    val runDir = a("run-dir")
    val data = a("data")
    val trace = a("trace") == "1"
    val warm = readOps(s"$runDir/warmup.tsv")
    val ops = readOps(s"$runDir/ops.tsv")
    val sc = spark.sparkContext

    // layouts complete before the open: the open is warm when it serves one
    val etlRoot = Paths.get(a("etl-root"))
    val complete = if (!Files.exists(etlRoot)) Set.empty[String]
      else Files.list(etlRoot).iterator().asScala
        .filter(p => Files.exists(p.resolve("_GRAFT_ETL_COMPLETE")))
        .map(_.getFileName.toString).toSet
    val (store, openS) = timed(GraftStore.forDir(spark, data))
    val etlWarm = store.materializedDir.exists(d =>
      complete.contains(Paths.get(d).getFileName.toString))
    val cloneDir = Some(s"$runDir/clone")
      .filter(_ => (warm ++ ops).exists(_.template == "ingest"))
    val cloneS = cloneDir.fold(0.0)(d =>
      timed(GraftStore.cloneInfotons(store.materializedDir.get, d))._2)

    val tracer = new Tracer(trace)
    val ctx = new Ctx(spark, store, data, runDir, cloneDir, tracer)
    val out = new StringBuilder
    def record(op: Op, warmup: Boolean, s: Double, rows: Seq[Row],
               err: Option[String]): Unit = {
      out ++= "{\"id\":" ++= op.id.toString ++= ",\"t\":" ++= Json.str(op.template)
      out ++= ",\"warm\":" ++= warmup.toString ++= ",\"s\":" ++= s.toString
      err.foreach(e => out ++= ",\"err\":" ++= Json.str(e))
      out ++= ",\"rows\":[" ++= rows.map(Json.row).mkString(",") ++= "]}\n"
    }
    def exec(op: Op): (Seq[Row], Double, Option[String]) = {
      tracer.beginOp(op.id)
      val t0 = System.nanoTime()
      val (rows, err) =
        try (tracer.span("op")(Ops.run(op, ctx)), None)
        catch { case e: Throwable =>
          (Nil, Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)))
        }
      val s = secs(t0)
      (rows, s, err)
    }

    // untimed warm-up: one op of every template
    val warmT0 = System.nanoTime()
    warm.foreach { op =>
      val (rows, s, err) = exec(op); releaseCaches(); record(op, true, s, rows, err)
    }
    val warmupS = secs(warmT0)
    tracer.spans.clear()

    val counters = new SparkCounters
    if (trace) {
      sc.addSparkListener(counters)
      spark.listenerManager.register(counters)
    }
    org.apache.spark.CmbenchBus.drain(sc)
    counters.active = true
    val firstOpMs = System.currentTimeMillis()
    val gc0 = gcMillis()
    val cg0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val cgN0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    var cachePeak = 0L
    var cacheLeft = 0
    val phaseT0 = System.nanoTime()
    ops.foreach { op =>
      val (rows, s, err) = exec(op)
      if (trace) cachePeak = math.max(cachePeak,
        sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum)
      releaseCaches()
      if (trace) cacheLeft = math.max(cacheLeft, sc.getPersistentRDDs.size)
      record(op, false, s, rows, err)
    }
    val phaseS = secs(phaseT0)
    org.apache.spark.CmbenchBus.drain(sc)
    counters.active = false
    val gcS = (gcMillis() - gc0) / 1000.0
    val codegenS =
      (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - cg0) / 1e9
    val compiles =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0

    System.gc(); Thread.sleep(200); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)

    Files.write(Paths.get(s"$runDir/results.jsonl"), out.toString.getBytes(UTF_8))
    if (trace) {
      val sp = tracer.spans.map(s =>
        s"""{"name":${Json.str(s.name)},"op":${s.opId},"parent":${s.parent},""" +
          s""""start":${s.startNs},"end":${s.endNs}}""")
      Files.write(Paths.get(s"$runDir/spans.jsonl"),
        sp.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" }
    val num = Map[String, Double](
      "jvm_start_s" -> (mainMs - a("launch-ms").toLong) / 1000.0,
      "session_s" -> sessionS,
      "open_s" -> openS,
      "clone_s" -> cloneS,
      "warmup_s" -> warmupS,
      "launch_to_first_op_s" -> (firstOpMs - a("launch-ms").toLong) / 1000.0,
      "phase_s" -> phaseS,
      "heap_retained_mb" -> heapMb,
      "gc_s" -> gcS,
      "codegen_compile_s" -> codegenS,
      "codegen_compiles" -> compiles.toDouble,
      "cache_peak_bytes" -> cachePeak.toDouble,
      "cache_blocks_after_release" -> cacheLeft.toDouble,
      "jobs" -> counters.jobs.toDouble,
      "stages" -> counters.stages.toDouble,
      "tasks" -> counters.tasks.toDouble,
      "job_wall_s" -> counters.jobWallSeconds,
      "task_busy_s" -> counters.taskBusyMs / 1000.0,
      "scan_bytes" -> counters.scanBytes.toDouble,
      "shuffle_write_bytes" -> counters.shuffleWrite.toDouble,
      "shuffle_read_bytes" -> counters.shuffleRead.toDouble,
      "spill_bytes" -> counters.spillBytes.toDouble,
      "analysis_s" -> counters.analysisMs / 1000.0,
      "optimization_s" -> counters.optimizationMs / 1000.0,
      "planning_s" -> counters.planningMs / 1000.0)
    val runJson = "{" + (num.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${Json.str(k)}:$v" } ++ Seq(
      s""""etl_warm":$etlWarm""",
      s""""jvm_flags":${Json.arr(ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq.map(Json.str))}""",
      s""""spark_conf":{${conf.map { case (k, v) =>
        s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")}}""")).mkString(",") + "}"
    Files.write(Paths.get(s"$runDir/run.json"), runJson.getBytes(UTF_8))
    cloneDir.foreach(d => rmTree(new java.io.File(d)))
  }
}

/** Minimal JSON rendering for the result files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }

  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => value(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case b: Boolean => b.toString
    case d: java.math.BigDecimal => d.toPlainString
    case t: java.sql.Timestamp => str(t.toInstant.toString)
    case d: java.sql.Date => str(d.toString)
    case r: Row => row(r)
    case s: scala.collection.Seq[_] => arr(s.toSeq.map(value))
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }
        .mkString("{", ",", "}")
    case other => str(other.toString)
  }

  def row(r: Row): String = arr(r.toSeq.map(value))
}
