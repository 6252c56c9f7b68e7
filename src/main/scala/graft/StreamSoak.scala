package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Sustained streaming near-dup ingest soak (VERDICT r11 #7): a
  * 100-micro-batch [[graft.streaming.StreamingDedup.nearDupIngest]]
  * session over a durable corpus index, driven across a SIGKILL
  * (scripts/stream_soak.sh kills the first driver JVM mid-stream and a
  * second resumes from the same checkpoint), then verified against a
  * from-scratch index build.
  *
  * Subcommands:
  *  - `stage <root> <sfDir> <nBatches> <batchSize>` — build + save the
  *    corpus index, write one parquet file per micro-batch under
  *    `<root>/incoming` (planted near-dups of the corpus and of the
  *    previous batch; the rest fresh).
  *  - `drive <root>` — run the stream (maxFilesPerTrigger=1,
  *    AvailableNow) with a progress listener printing one JSON line per
  *    micro-batch (`{"batch":…,"rows":…,"ms":…}`) — the flat-cost
  *    evidence; exits when the backlog drains.
  *  - `verify <root> <sfDir>` — probe the FINAL index with a fresh
  *    batch of planted near-dups and require the result set equals the
  *    same probe against a from-scratch index over corpus + all
  *    streamed batches (the idempotence/equivalence proof); also report
  *    raw-vs-distinct flagged-pair counts (the residual at-least-once
  *    window re-flags, never corrupts).
  */
object StreamSoak {

  private val MinJ = 0.9
  private val MaxBucket = 1000

  def main(args: Array[String]): Unit = args.toList match {
    case "stage" :: root :: sfDir :: nB :: bSz :: Nil =>
      stage(root, sfDir, nB.toInt, bSz.toInt)
    case "drive" :: root :: Nil => drive(root)
    case "verify" :: root :: sfDir :: Nil => verify(root, sfDir)
    case other => sys.error(s"usage: stage|drive|verify ... (got $other)")
  }

  private def corpus(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(s"$sfDir/documents.parquet").select(col("doc_id"), col("text"))

  /** Batch i: 60% fresh docs (base text + 50 doc-unique tokens —
    * Jaccard to any base ≈0.67, below the 0.9 bar), 20% near-dups of
    * corpus docs (+1 token), 20% cross-batch chain docs — the SAME
    * j-keyed (base + stable-token) text in every batch plus a 1-token
    * batch marker, so batch i's doc near-dups every earlier batch's
    * same-j doc (the load that grows the stored bucket lists). */
  private def batchDf(s: SparkSession, base: DataFrame, nBase: Long,
                      i: Int, batchSize: Int): DataFrame = {
    val b = s.range(batchSize.toLong).toDF("j")
      .withColumn("doc_id",
        lit(10000000L) + lit(i.toLong * batchSize) + col("j"))
      .withColumn("__src",
        when(col("j") % 5 === 4, pmod(col("j"), lit(nBase)))
          .otherwise(pmod(col("j") + lit(i.toLong * 31), lit(nBase))))
    val withText = b.join(base.select(col("doc_id").as("__src"),
        col("text").as("__base")), Seq("__src"))
    val fresh = concat_ws(" ", (0 until 50).map(t =>
      concat(lit(s"u${t}b"), col("doc_id"))): _*)
    val stable = concat_ws(" ", (0 until 50).map(t =>
      concat(lit(s"s${t}j"), col("j"))): _*)
    withText.select(col("doc_id"),
      when(col("j") % 5 === 3, concat(col("__base"), lit(" rev"), lit(i)))
        .when(col("j") % 5 === 4,
          concat(col("__base"), lit(" "), stable, lit(" b"), lit(i)))
        .otherwise(concat(col("__base"), lit(" "), fresh)).as("text"))
  }

  private def stage(root: String, sfDir: String, nBatches: Int,
                    batchSize: Int): Unit = {
    val s = Sessions.local()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val base = corpus(s, sfDir).diskCheckpoint()
    val nBase = base.count()
    val idx = graft.operators.Dedup.buildNearDupIndex(base, "text", "doc_id")
    graft.operators.Dedup.saveNearDupIndex(idx, s"$root/index")
    val incoming = s"$root/incoming"
    fs.mkdirs(new org.apache.hadoop.fs.Path(incoming))
    (0 until nBatches).foreach { i =>
      val tmp = s"$root/stage-tmp"
      batchDf(s, base, nBase, i, batchSize).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$tmp/part-*")).head.getPath
      fs.rename(part, new org.apache.hadoop.fs.Path(
        f"$incoming/batch-$i%04d.parquet"))
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/stage-tmp"), true)
    println(s"""{"staged":$nBatches,"batch_size":$batchSize,"corpus":$nBase}""")
    s.stop()
  }

  private def drive(root: String): Unit = {
    val s = Sessions.local()
    s.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          println(s"""{"batch":${p.batchId},"rows":${p.numInputRows},""" +
            s""""ms":${p.durationMs.getOrDefault("triggerExecution", -1L)}}""")
        }
      })
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$root/incoming")
    val q = graft.streaming.StreamingDedup.nearDupIngest(
        stream, s"$root/index", "text", s"$root/pairs",
        minJaccard = MinJ, maxBucketSize = MaxBucket)
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    println("""{"drive":"done"}""")
    s.stop()
  }

  private def verify(root: String, sfDir: String): Unit = {
    val s = Sessions.local()
    val base = corpus(s, sfDir).diskCheckpoint()
    val nBase = base.count()
    // probe: fresh near-dups of corpus docs — must flag identically
    // against the streamed index and a from-scratch rebuild over
    // corpus + every streamed batch
    val probe = base.where(col("doc_id") < 200)
      .select((col("doc_id") + 90000000L).as("doc_id"),
        concat(col("text"), lit(" probetail")).as("text"))
      .diskCheckpoint()
    def pairs(idx: graft.operators.Dedup.NearDupIndex): Set[(Long, Long)] =
      graft.operators.Dedup.incrementalJaccardPairs(probe, idx, "text",
          minJaccard = MinJ, maxBucketSize = MaxBucket)
        .select("d1", "d2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = graft.operators.Dedup.loadNearDupIndex(s, s"$root/index",
      persist = false)
    val allBatches = s.read.parquet(s"$root/incoming")
    val scratch = graft.operators.Dedup.buildNearDupIndex(
      base.unionByName(allBatches), "text", "doc_id", persist = false)
    val a = pairs(streamed)
    val b = pairs(scratch)
    require(a == b,
      s"streamed index diverged from from-scratch build: " +
        s"streamed=${a.size} scratch=${b.size} " +
        s"onlyStreamed=${(a -- b).take(5)} onlyScratch=${(b -- a).take(5)}")
    val raw = s.read.parquet(s"$root/pairs")
    val nRaw = raw.count()
    val nDistinct = raw.select("d1", "d2").distinct().count()
    val nApplied = new org.apache.hadoop.fs.Path(s"$root/index/applied")
      .getFileSystem(s.sparkContext.hadoopConfiguration)
      .listStatus(new org.apache.hadoop.fs.Path(s"$root/index/applied")).length
    println(s"""{"verify":"exact","probe_pairs":${a.size},""" +
      s""""corpus":$nBase,"applied_batches":$nApplied,""" +
      s""""flagged_raw":$nRaw,"flagged_distinct":$nDistinct}""")
    s.stop()
  }
}
