package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measures streaming state-store size for the stateful extensions at
  * a given sf dir — the scale evidence the plans alone can't give: at
  * 100 TB the state store, not the micro-batch plan, is the session/
  * dedup bottleneck. Drives sessionizeStream and dedupStream over the
  * dir's events/documents through real micro-batches (file source, the
  * throughStream shape), then prints per-operator
  * StreamingQueryProgress.stateOperators metrics BEFORE and AFTER the
  * two-sentinel watermark flush as one JSON line:
  * peak rows/bytes = the in-flight bound (open sessions / in-horizon
  * digests), post-flush rows = proof the watermark evicts history.
  *
  * Production note (PLANS.md "streaming state at scale"): the default
  * HDFSBackedStateStoreProvider keeps every state row on-heap; past
  * ~10M rows per executor switch to RocksDB
  * (spark.sql.streaming.stateStore.providerClass =
  * org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider)
  * — same semantics, state lives off-heap/on-disk with changelog
  * checkpointing. The BOUND this probe measures is provider-
  * independent; the provider only decides where the bounded rows live.
  *
  * Usage: runMain graft.streaming.StateProbe <sfDir> */
object StateProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.SparkEntry.session()
    // with SPARK_GRAFT_STATE_PROVIDER=rocksdb (read by the session)
    // memoryUsedBytes reports RocksDB's usage
    spark.sparkContext.setLogLevel("ERROR")

    def measure(src: DataFrame, flushes: Seq[DataFrame])
               (tf: DataFrame => DataFrame): (Long, Long, Long, Long, Double) = {
      val t0 = System.nanoTime()
      val dir = java.nio.file.Files
        .createTempDirectory("graft_state_probe_").toString
      // FILE sink, not the memory sink: the probe reads only
      // StreamingQueryProgress, never the rows — and at probe scales
      // the memory sink's driver-collected output is itself the OOM
      // (measured at 100M events). The rows land in a discarded dir.
      val sinkDir = java.nio.file.Files
        .createTempDirectory("graft_state_probe_sink_").toString
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_state_probe_ckpt_").toString
      try {
        src.write.mode("overwrite").parquet(dir)
        val q = tf(spark.readStream.schema(src.schema).parquet(dir))
          .writeStream.format("parquet").option("path", sinkDir)
          .option("checkpointLocation", ckpt)
          .outputMode("append").start()
        def stateNow(): (Long, Long) =
          q.recentProgress.reverse.flatMap(_.stateOperators.headOption)
            .headOption.map(s => (s.numRowsTotal, s.memoryUsedBytes))
            .getOrElse((-1L, -1L))
        try {
          q.processAllAvailable()
          val (peakRows, peakBytes) = stateNow()
          flushes.foreach { f =>
            f.write.mode("append").parquet(dir)
            q.processAllAvailable()
          }
          val (afterRows, afterBytes) = stateNow()
          // wall seconds for the whole drive (source write + every
          // micro-batch + flushes) — the skew probe's comparison unit:
          // a hot key concentrating session-window merge work shows up
          // here even when the state BOUND is unchanged
          (peakRows, peakBytes, afterRows, afterBytes,
            (System.nanoTime() - t0) / 1e9)
        } finally q.stop()
      } finally {
        graft.model.GraftStore.rmTree(new java.io.File(dir))
        graft.model.GraftStore.rmTree(new java.io.File(sinkDir))
        graft.model.GraftStore.rmTree(new java.io.File(ckpt))
      }
    }

    val ev = graft.model.TableLoader.events(spark, sfDir)
      .select(col("ts"), col("user_id"))
    def evFlush(ts: String) = spark.range(1).select(
      to_timestamp(lit(ts)).as("ts"), lit(-1L).as("user_id"))
    val (sRows, sBytes, sAfter, _, sSecs) = measure(ev,
      Seq(evFlush("2024-03-01 00:00:00"), evFlush("2024-04-01 00:00:00")))(
      st => Streaming.sessionizeStream(st, gapMinutes = 30,
        lateness = "1 hour"))

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .withColumn("ts", timestamp_micros(
        lit(1704067200000000L) + col("doc_id") * lit(1000L)))
    def docFlush(ts: String, id: Long) = spark.range(1).select(
      lit(id).as("doc_id"), lit(s"sentinel $id").as("text"),
      to_timestamp(lit(ts)).as("ts"))
    val (dRows, dBytes, dAfter, _, dSecs) = measure(docs,
      Seq(docFlush("2026-01-01 00:00:00", -1L),
        docFlush("2026-01-01 00:00:01", -2L)))(
      st => Streaming.dedupStream(st, "ts", "30 days"))

    val nEv = ev.count(); val nDocs = docs.count()
    spark.stop()
    println(s"""{"sf":"${sfDir.split('/').last}","events":$nEv,""" +
      s""""session_state_rows_peak":$sRows,"session_state_bytes_peak":$sBytes,""" +
      s""""session_state_rows_postflush":$sAfter,""" +
      f""""session_secs":$sSecs%.1f,"docs":$nDocs,""" +
      s""""dedup_state_rows_peak":$dRows,"dedup_state_bytes_peak":$dBytes,""" +
      f""""dedup_state_rows_postflush":$dAfter,"dedup_secs":$dSecs%.1f}""")
  }
}
