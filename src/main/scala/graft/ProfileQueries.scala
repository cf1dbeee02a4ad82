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
    val sfDir = args(0)
    val repeats = args(1).toInt
    val names = args.drop(2)
    val spark = SparkEntry.session()
    // per-run job accounting: jobs/stages/tasks and the per-job wall
    // times tell WHERE a query's seconds go (action count vs one slow
    // stage) — the local stand-in for the Spark UI the guide §7.1 digs
    // through
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val jobTimes =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]()
    val stageTimes = new java.util.concurrent.ConcurrentLinkedQueue[
      (Int, Long, Int, String)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        private val t0 = new java.util.concurrent.ConcurrentHashMap[
          Integer, java.lang.Long]()
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); t0.put(j.jobId, j.time)
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val s = t0.remove(j.jobId)
          if (s != null) jobTimes.add((j.jobId, s.longValue, j.time))
        }
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
    // warm the store ETL outside any timing, like Bench
    val store = graft.model.GraftStore.forDir(spark, sfDir)
    store.infotons.count(); store.quads.count()
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[profile] unknown query $name")
        case Some(fn) =>
          (1 to repeats).foreach { i =>
            jobs.set(0); stages.set(0); tasks.set(0); jobTimes.clear()
            stageTimes.clear()
            // codegen work: Janino compiles (a cache hit compiles
            // nothing) and their time, as deltas over the run
            val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
            val compileNs0 = CodeGenerator.compileTime
            val t = System.nanoTime()
            try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            catch { case e: Throwable =>
              System.err.println(s"[profile] $name run $i FAILED: " +
                e.getMessage.take(200))
            }
            val sec = (System.nanoTime() - t) / 1e9
            // settle: late listener events from the run's tail
            Thread.sleep(200)
            import scala.jdk.CollectionConverters._
            val st = stageTimes.asScala.toSeq
            val ssum = st.map(_._2 / 1e3).sum
            val slow = st.sortBy(-_._2).take(5)
              .map(s => f"${s._2 / 1e3}%.2fs/t${s._3}:${s._4}")
              .mkString(" | ")
            val compiles =
              CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
            val compileSec = (CodeGenerator.compileTime - compileNs0) / 1e9
            println(f"[profile] $name%-30s run $i%2d  $sec%7.2f s  " +
              f"jobs=${jobs.get}%3d compiles=$compiles%3d " +
              f"compile_s=$compileSec%5.2f stages=${stages.get}%3d " +
              f"tasks=${tasks.get}%4d stagesum=$ssum%6.2f")
            println(s"[profile]   slowest stages: $slow")
            // release after EVERY repeat: runs 2..K would otherwise
            // time run 1's persisted intermediates as cache hits
            graft.ops.Caches.releaseCaches()
          }
      }
    }
    spark.stop()
  }
}
