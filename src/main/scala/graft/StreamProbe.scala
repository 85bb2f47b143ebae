package graft

import org.apache.spark.sql.SparkSession

/** Ad-hoc streaming-tier latency probe (not part of the contract):
  * A/B state-store & checkpoint-FS configs on the stream queries.
  * SPARK_GRAFT_SP_MODE: base | rawfs | shm | rocksdb (any other value
  * fails before a session starts). */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val mode = sys.env.getOrElse("SPARK_GRAFT_SP_MODE", "base")
    require(Set("base", "rawfs", "shm", "rocksdb").contains(mode),
      s"SPARK_GRAFT_SP_MODE=$mode: expected base | rawfs | shm | rocksdb")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    var b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (mode == "rawfs")
      b = b.config("spark.hadoop.fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.RawLocalFs")
    if (mode == "shm")
      b = b.config("spark.sql.streaming.checkpointLocation", "/dev/shm/graft_ckpt_probe")
        .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    if (mode == "rocksdb")
      b = b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "events_stream_join", "events_sessionize_stream", "events_hourly_stream",
      "events_dedup_stream", "events_kmv_stream", "doc_stream_curate",
      "ts_stream_forecast")
    spark.range(1000).selectExpr("sum(id)").collect()
    val progress = new scala.collection.mutable.ArrayBuffer[String]
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        val so = p.stateOperators.map(s =>
          f"commitMs=${s.commitTimeMs} rows=${s.numRowsTotal} mem=${s.memoryUsedBytes}").mkString(" | ")
        progress += s"batch=${p.batchId} trigger=${d.get("triggerExecution")} addBatch=${d.get("addBatch")} getBatch=${d.get("getBatch")} latestOffset=${d.get("latestOffset")} commitOffsets=${d.get("commitOffsets")} walCommit=${d.get("walCommit")} [$so]"
      }
      override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    names.foreach { n =>
      (1 to 2).foreach { i =>
        progress.clear()
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300)
        println(f"[sprobe] mode=$mode $n run$i wall=$sec%.3f")
        progress.foreach(l => println(s"[sprobe]   $l"))
      }
    }
    spark.stop()
  }
}
