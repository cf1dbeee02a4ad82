package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Repeat-profiler: times named queries K times each in ONE JVM
  * through the same noop sink [[Bench]] uses, printing every run — so
  * first-run (planning + codegen + JIT) cost separates from steady-
  * state execution. Local iteration tool only; never part of the
  * driver contract.
  *
  * Usage: runMain graft.ProfileQueries <sfDir> <repeats> <name> [name...]
  */
object ProfileQueries {
  def main(args: Array[String]): Unit = {
    val repeats = args(1).toInt
    val h = new Harness(args(0), args.drop(2).toSeq, _ == _)
    // per-run job accounting: jobs/stages/tasks and the slowest stages
    // tell WHERE a query's seconds go (action count vs one slow
    // stage) — the local stand-in for the Spark UI the guide §7.1 digs
    // through
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val stageTimes = new java.util.concurrent.ConcurrentLinkedQueue[
      (Int, Long, Int, String)]()
    h.spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(s.stageInfo.numTasks)
          val d = (for { a <- s.stageInfo.submissionTime;
                         b <- s.stageInfo.completionTime } yield b - a)
            .getOrElse(0L)
          stageTimes.add((s.stageInfo.stageId, d, s.stageInfo.numTasks,
            s.stageInfo.name.take(60)))
        }
      })
    // codegen work: Janino compiles (a cache hit compiles nothing) and
    // their time, as deltas over each run
    var compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    var compileNs0 = CodeGenerator.compileTime
    h.runAll(repeats) { (_, df) =>
      df.write.format("noop").mode("overwrite").save()
    } { r =>
      r.error.foreach(e => System.err.println(
        s"[profile] ${r.name} run ${r.repeat} FAILED: " + e.getMessage.take(200)))
      // settle: late listener events from the run's tail
      Thread.sleep(200)
      import scala.jdk.CollectionConverters._
      val st = stageTimes.asScala.toSeq
      val ssum = st.map(_._2 / 1e3).sum
      val slow = st.sortBy(-_._2).take(5)
        .map(s => f"${s._2 / 1e3}%.2fs/t${s._3}:${s._4}")
        .mkString(" | ")
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileSec = (CodeGenerator.compileTime - compileNs0) / 1e9
      println(f"[profile] ${r.name}%-30s run ${r.repeat}%2d  ${r.seconds}%7.2f s  " +
        f"jobs=${jobs.get}%3d compiles=$compiles%3d " +
        f"compile_s=$compileSec%5.2f stages=${stages.get}%3d " +
        f"tasks=${tasks.get}%4d stagesum=$ssum%6.2f")
      println(s"[profile]   slowest stages: $slow")
      // the harness released the run's caches, so the next repeat is
      // cache-cold; the counters start over for it
      jobs.set(0); stages.set(0); tasks.set(0); stageTimes.clear()
      compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      compileNs0 = CodeGenerator.compileTime
    }
    h.spark.stop()
  }
}
