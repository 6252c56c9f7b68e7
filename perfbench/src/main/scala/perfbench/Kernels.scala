package perfbench

import org.apache.spark.sql.SparkSession

/** `kernels_sf01`: graft.Bench's headline queries over the generated sf0.1
  * tables, each materialized through the noop sink, in a seeded order per
  * sweep. `fw01_range_union` is left out: it stages into a fixed directory
  * under /tmp, outside the run's work directory. One op is one query. */
object Kernels {
  val names = Seq("q01_agg_pricing", "q02_join_agg_topk", "q03_star_join",
    "q07_window_rank", "q21_count_distinct", "p01_exact_dedup", "p05_cosine_topk",
    "p07_minhash_lsh", "p12_ann_lsh", "p14_dup_clusters", "p18_incremental_dedup")
  private val tables = Seq("region", "nation", "customer", "orders", "lineitem",
    "documents", "embeddings")

  def run(cfg: Config, res: Result): Unit = {
    // set-up: the session, then one untimed pass that writes every query's
    // result for the output check (same session, same plans as timed)
    val spark = Session.build(cfg.cpus, cfg.work, cfg.trace)
    names.foreach { q =>
      graft.SparkEntry.queries(q)(spark, cfg.input)
        .write.mode("overwrite").parquet(s"${cfg.work}/check/$q")
    }
    res.setupS = (Trace.nowMs - Main.jvmStartMs) / 1000
    res.extra("oracles") = names.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
    res.extra("check_dir") = s"${cfg.work}/check"

    val rng = new scala.util.Random(cfg.seed)
    val gc0 = Main.gcMs(); val alloc0 = Main.allocatedBytes()
    val start = Trace.nowMs
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    // whole sweeps, as many as fit the time at 12 s a sweep, so the op mix
    // never depends on the clock
    val sweeps = math.max(1, math.ceil(cfg.seconds / 12.0).toInt)
    Trace.on = cfg.trace
    for (_ <- 0 until sweeps) {
      rng.shuffle(names).foreach { q =>
        val t = Trace.nowMs
        graft.SparkEntry.queries(q)(spark, cfg.input).write.format("noop").mode("overwrite").save()
        val end = Trace.nowMs
        // untimed, traced or not: the next query starts on an empty
        // listener bus in both configurations
        org.apache.spark.BusDrain.drain(spark.sparkContext)
        if (Trace.on) Trace.span(s"query.$q", t, end, -1, res.opMs.length)
        res.opMs += end - t
        order += q
      }
    }
    Trace.on = false
    res.timedS = (Trace.nowMs - start) / 1000
    res.gcMs = Main.gcMs() - gc0
    res.allocMb = (Main.allocatedBytes() - alloc0) / 1048576.0
    res.liveHeapMb = Main.liveHeapMb()
    res.extra("order") = order.toSeq
    // failover: a fresh session re-opens every input (file listing and
    // parquet footers), the state a replacement driver must rebuild
    for (k <- 0 until 8) {
      val t = Trace.nowMs
      val s2 = spark.newSession()
      tables.foreach(t => s2.read.parquet(s"${cfg.input}/$t.parquet").schema)
      if (k >= 3) res.recovers += (Trace.nowMs - t) / 1000 // the first three warm up
    }
    spark.stop()
  }
}
