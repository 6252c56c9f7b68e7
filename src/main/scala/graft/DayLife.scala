package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Day-in-the-life composite soak (r16, VERDICT r15 #4): every
  * long-running production concern at once, on ONE corpus, in one
  * driver JVM, for 30+ minutes, with a SIGKILL in the middle
  * (scripts/daylife_soak.sh orchestrates the kill + restart):
  *
  *  - STREAMING ingest: [[graft.streaming.StreamingDedup.nearDupIngest]]
  *    folds drip-fed micro-batches into the durable near-dup index
  *    (ProcessingTime trigger; a feeder thread moves one staged batch
  *    file into `incoming/` every few seconds). The query is wrapped in
  *    a restart loop: a micro-batch that loses to a compaction claim
  *    (or catches a mid-swap file move) fails LOUDLY, the query
  *    restarts, and the marker protocol replays it idempotently.
  *  - SCHEDULED compaction: every `compactEverySec` a maintenance pass
  *    compacts the index's sigs/grams row tables under the FsClaim
  *    lease (heartbeaten); contention with the fold is EXPECTED and
  *    counted, never corrupting.
  *  - RETENTION: a managed output accrues one partition per tick and
  *    `applyRetention(keepLatest)` prunes it concurrently — the delete
  *    path interleaving with everything else.
  *  - SHARDED 2-DRIVER DAG: the 8-hop accumulate chain (the kvchain
  *    topology) runs over the same corpus, driver A is ABANDONED
  *    mid-chain (no release — leases must expire) and B steals.
  *
  * The SIGKILL can land mid-fold, mid-swap, mid-chain, or mid-delete;
  * the restarted driver heals at entry (stale claim cleared — its
  * predecessor is provably dead; interrupted swaps roll back; the DAG
  * replays its WAL; streaming resumes from its checkpoint) and the
  * final `verify` is EXACT: the streamed index must probe identically
  * to a from-scratch rebuild over corpus + all batches, the chain's
  * totals must match the corpus arithmetic, and retention must hold
  * its partition bound. Results: BASELINE.md "Round 16 ledger",
  * section "daylife".
  */
object DayLife {

  private val MinJ = 0.9
  private val MaxBucket = 1000
  private val Hops = 8
  private val NumShards = 4
  private val KeepLatest = 5

  private def hopShard(i: Int): Int = {
    val drivers = NumShards / 2
    2 * (i % drivers) + ((i / drivers) % 2)
  }
  private def hopId(i: Int): String =
    (0 to 9999).iterator.map(n => s"day${i}_$n")
      .find(id => graft.routing.Sharding.shardOf(id, NumShards) == hopShard(i))
      .get

  def main(args: Array[String]): Unit = args.toList match {
    case "stage" :: root :: sfDir :: nB :: bSz :: Nil =>
      stage(root, sfDir, nB.toInt, bSz.toInt)
    case "drive" :: root :: sfDir :: Nil => drive(root, sfDir)
    case "verify" :: root :: sfDir :: Nil => verify(root, sfDir)
    case other => sys.error(s"usage: stage|drive|verify ... (got $other)")
  }

  private def corpus(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))

  /** Batch shape = StreamSoak's (fresh docs + corpus near-dups +
    * cross-batch chain docs), staged to `staged_batches/` — the feeder
    * drips them into `incoming/` at runtime. */
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
    val stagedDir = s"$root/staged_batches"
    fs.mkdirs(new org.apache.hadoop.fs.Path(stagedDir))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/incoming"))
    (0 until nBatches).foreach { i =>
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
      val tmp = s"$root/stage-tmp"
      withText.select(col("doc_id"),
          when(col("j") % 5 === 3, concat(col("__base"), lit(" rev"), lit(i)))
            .when(col("j") % 5 === 4,
              concat(col("__base"), lit(" "), stable, lit(" b"), lit(i)))
            .otherwise(concat(col("__base"), lit(" "), fresh)).as("text"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$tmp/part-*")).head.getPath
      fs.rename(part, new org.apache.hadoop.fs.Path(
        f"$stagedDir/batch-$i%04d.parquet"))
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/stage-tmp"), true)
    // the DAG's staged corpus (one run partition)
    base.repartition(8).write.mode("overwrite").parquet(s"$root/dag/staged/0")
    println(s"""{"staged":$nBatches,"batch_size":$batchSize,"corpus":$nBase}""")
    s.stop()
  }

  private def declareChain(app: graft.app.Application,
                           root: String): graft.app.NodeRef = {
    val runSpec = graft.dimension.DimSpec.pretty(
      "run" -> (graft.dimension.DimType.LONG, Map.empty[String, Any]))
    def sliceSql(i: Int): String =
      s"""SELECT COUNT(*) AS docs,
         |       CAST(SUM(LENGTH(text)) AS BIGINT) AS chars,
         |       CAST(SUM(SIZE(SPLIT(text, ' '))) AS BIGINT) AS words
         |FROM corpus WHERE doc_id % $Hops = $i""".stripMargin
    val corpusRef = app.marshalExternalData("corpus", s"$root/dag/staged",
      runSpec)
    var prev: graft.app.NodeRef = null
    for (i <- 0 until Hops) {
      val id = hopId(i)
      val sql =
        if (i == 0)
          s"""SELECT s.docs AS acc_docs, s.chars AS acc_chars,
             |       s.words AS acc_words
             |FROM (${sliceSql(i)}) s""".stripMargin
        else
          s"""SELECT p.acc_docs + s.docs AS acc_docs,
             |       p.acc_chars + s.chars AS acc_chars,
             |       p.acc_words + s.words AS acc_words
             |FROM (${sliceSql(i)}) s CROSS JOIN ${hopId(i - 1)} p""".stripMargin
      val inputs =
        if (i == 0) Seq(corpusRef)
        else Seq(prev, corpusRef.ref)
      prev = app.createData(id, inputs, Seq(graft.compute.SqlSlot(sql)))
    }
    // the retention target: managed output whose partitions the ticker
    // thread materializes directly (stand-in for per-tick executions —
    // what retention prunes is REAL managed-output partitions)
    app.createData("ticker", Seq(corpusRef),
      Seq(graft.compute.SqlSlot("SELECT 1 AS one")))
  }

  private def drive(root: String, sfDir: String): Unit = {
    val s = Sessions.local()
    val conf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    val feedMs = sys.env.getOrElse("SPARK_GRAFT_DAY_FEED_MS", "8000").toLong
    val compactEverySec =
      sys.env.getOrElse("SPARK_GRAFT_DAY_COMPACT_SEC", "45").toLong
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    def note(msg: String): Unit = {
      val out = new java.io.FileWriter(
        new java.io.File(root, "daylife-events.log"), true)
      try out.write(s"${System.currentTimeMillis()}\t$msg\n")
      finally out.close()
    }

    // ---- crash recovery at entry: our predecessor (if any) is DEAD by
    // construction (the script SIGKILLed it), so its claim — which would
    // otherwise block updates for the full TTL — clears NOW, and any
    // interrupted sigs/grams swap rolls back to committed state. This is
    // the documented operator runbook for a known-dead compactor.
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$root/index/${graft.operators.Dedup.NearDupClaim}"), false)
    val healedAtEntry = graft.operators.Dedup.healNearDupIndex(s, s"$root/index")
    if (healedAtEntry) note("entry heal: rolled back an interrupted swap")

    // ---- streaming ingest with restart-on-failure
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val restarts = new java.util.concurrent.atomic.AtomicLong
    val ingest = new Thread(() => {
      while (!stop.get()) {
        try {
          val q = graft.streaming.StreamingDedup.nearDupIngest(
              s.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(s"$root/incoming"),
              s"$root/index", "text", s"$root/pairs",
              minJaccard = MinJ, maxBucketSize = MaxBucket)
            .option("checkpointLocation", s"$root/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger
              .ProcessingTime("2 seconds"))
            .start()
          while (!stop.get() && q.isActive) q.awaitTermination(1000)
          if (stop.get()) q.stop()
          q.awaitTermination()
        } catch {
          case scala.util.control.NonFatal(e) =>
            restarts.incrementAndGet()
            note(s"ingest restart after: ${e.getMessage.take(160)}")
            Thread.sleep(2000)
        }
      }
    }, "daylife-ingest")
    ingest.setDaemon(true)

    // ---- feeder: drip staged batches into incoming/
    val feeder = new Thread(() => {
      val staged = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/staged_batches"))
        .map(_.getPath).sortBy(_.getName)
      staged.foreach { p =>
        if (!stop.get()) {
          val dst = new org.apache.hadoop.fs.Path(s"$root/incoming/${p.getName}")
          if (!fs.exists(dst)) { fs.rename(p, dst); () }
          Thread.sleep(feedMs)
        }
      }
      note("feeder done")
    }, "daylife-feeder")
    feeder.setDaemon(true)

    // ---- scheduled compaction under the claim
    val compactions = new java.util.concurrent.atomic.AtomicLong
    val contentions = new java.util.concurrent.atomic.AtomicLong
    val compactor = new Thread(() => {
      // 1 s sleep grains so shutdown never has to interrupt a sleeping
      // pass, and the main exit can JOIN an in-flight pass (a sys.exit
      // mid-swap would leave a fresh heartbeaten claim + half-moved
      // files that verify would spuriously refuse for the claim TTL)
      var grains = 0L
      while (!stop.get()) {
        Thread.sleep(1000)
        grains += 1
        if (!stop.get() && grains >= compactEverySec) {
          grains = 0
          try {
            val st = graft.operators.Dedup.compactNearDupIndex(s,
              s"$root/index", claimTtlMs = 60000L)
            if (!st.sigs.skipped || !st.grams.skipped)
              compactions.incrementAndGet()
            note(s"compaction: $st")
          } catch {
            case e: IllegalStateException =>
              contentions.incrementAndGet()
              note(s"compaction contention: ${e.getMessage.take(120)}")
            case scala.util.control.NonFatal(e) =>
              note(s"compaction error: ${e.getMessage.take(160)}")
          }
        }
      }
    }, "daylife-compactor")
    compactor.setDaemon(true)

    // ---- retention: tick a managed output, prune to KeepLatest
    val retentionDeletes = new java.util.concurrent.atomic.AtomicLong
    val retApp = new graft.app.Application("dayret", s, s"$root/retapp")
    val tickerRef = declareChain(retApp, root)
    retApp.activate()
    val tickerRoot = s"$root/retapp/internal_data/ticker"
    val retention = new Thread(() => {
      var tick = 0L
      while (!stop.get()) {
        Thread.sleep(15000)
        if (!stop.get()) {
          try {
            tick += 1
            val p = new org.apache.hadoop.fs.Path(s"$tickerRoot/$tick")
            fs.mkdirs(p)
            val out = fs.create(new org.apache.hadoop.fs.Path(p, "_SUCCESS"), true)
            out.close()
            val deleted = retApp.applyRetention(
              tickerRef, keepLatest = KeepLatest)
            retentionDeletes.addAndGet(deleted.size.toLong)
            ()
          } catch { case scala.util.control.NonFatal(e) =>
            note(s"retention error: ${e.getMessage.take(160)}")
          }
        }
      }
    }, "daylife-retention")
    retention.setDaemon(true)

    // ---- the sharded 2-driver DAG (A abandoned mid-chain, B steals)
    val dag = new Thread(() => {
      try {
        val appA = new graft.app.Application("dayshard", s, s"$root/dag/app")
        val appB = new graft.app.Application("dayshard", s, s"$root/dag/app")
        declareChain(appA, root); declareChain(appB, root)
        val homesA = Set(0, 1); val homesB = Set(2, 3)
        appA.activateSharded("A", NumShards, Some(homesA),
          leaseTimeoutMillis = 4000L)
        appB.activateSharded("B", NumShards, Some(homesB),
          leaseTimeoutMillis = 4000L)
        val hbA = new java.util.concurrent.atomic.AtomicBoolean(true)
        val hb = new Thread(() => {
          while (!stop.get()) {
            if (hbA.get()) appA.heartbeatShardLeases()
            appB.heartbeatShardLeases()
            Thread.sleep(1000)
          }
        }, "daylife-dag-hb")
        hb.setDaemon(true); hb.start()
        for (_ <- 1 to 2) { appA.shardedCycle(); appB.shardedCycle() }
        def hopDone(i: Int) = fs.exists(new org.apache.hadoop.fs.Path(
          s"$root/dag/app/internal_data/${hopId(i)}/0/_SUCCESS"))
        if (!hopDone(Hops - 1)) appA.processPath(s"$root/dag/staged/0")
        var aDead = false
        while (!stop.get() && !hopDone(Hops - 1)) {
          if (!aDead) appA.shardedCycle()
          appB.shardedCycle()
          if (!aDead && hopDone(2)) {
            hbA.set(false); aDead = true
            note("DAG driver A ABANDONED (no release)")
            appB.retargetShards(None)
          }
          Thread.sleep(200)
        }
        if (hopDone(Hops - 1)) note("DAG chain complete")
      } catch { case scala.util.control.NonFatal(e) =>
        note(s"DAG error: ${e.getMessage.take(200)}")
      }
    }, "daylife-dag")
    dag.setDaemon(true)

    ingest.start(); feeder.start(); compactor.start()
    retention.start(); dag.start()
    note("drive started")

    // run until every staged batch is fed AND applied (drive #1 is
    // SIGKILLed by the script before reaching this point)
    def stagedLeft: Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/staged_batches")).length
    def incoming: Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/incoming"))
        .count(_.getPath.getName.startsWith("batch-"))
    def applied: Int = {
      val p = new org.apache.hadoop.fs.Path(s"$root/index/applied")
      if (fs.exists(p)) fs.listStatus(p).length else 0
    }
    while (stagedLeft > 0 || applied < incoming) Thread.sleep(5000)
    // stop all loops, then WAIT for an in-flight compaction pass to
    // finish (never exit mid-swap: the claim would stand fresh and the
    // half-moved files would need a heal verify doesn't owe a clean run)
    stop.set(true)
    // loop-join with loud notes: a single bounded join falling through
    // silently would exit mid-swap anyway. A pass is finite; cap at
    // 10 min only as a hung-Spark escape hatch (verify heals at entry).
    var joined = 0
    while (compactor.isAlive && joined < 10) {
      compactor.join(60000)
      joined += 1
      if (compactor.isAlive)
        note(s"shutdown waiting on in-flight compaction (${joined}m)")
    }
    if (compactor.isAlive)
      note("shutdown PROCEEDING with compaction still in flight after " +
        "10 min — verify must heal")
    Thread.sleep(2000)
    println(s"""{"drive":"done","applied":$applied,""" +
      s""""ingest_restarts":${restarts.get()},""" +
      s""""compactions":${compactions.get()},""" +
      s""""claim_contentions":${contentions.get()},""" +
      s""""retention_deletes":${retentionDeletes.get()}}""")
    s.stop()
    sys.exit(0)
  }

  private def verify(root: String, sfDir: String): Unit = {
    val s = Sessions.local()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // entry heal, same as drive(): every driver is dead by the time the
    // script runs verify, so a claim left by a killed (or mid-pass
    // exited) compactor is provably stale NOW — without this, a <TTL
    // claim would make loadNearDupIndex refuse a healthy index and fail
    // the whole soak spuriously.
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$root/index/${graft.operators.Dedup.NearDupClaim}"), false)
    if (graft.operators.Dedup.healNearDupIndex(s, s"$root/index"))
      println("verify: entry heal rolled back an interrupted swap")
    val base = corpus(s, sfDir).diskCheckpoint()
    val nBase = base.count()
    // 1. EXACT index equivalence: probe streamed index == probe rebuild
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
      s"streamed index diverged from rebuild: streamed=${a.size} " +
        s"scratch=${b.size} onlyStreamed=${(a -- b).take(5)} " +
        s"onlyScratch=${(b -- a).take(5)}")
    // 2. DAG totals arithmetic (exact)
    val exp = base.agg(count(lit(1)), sum(length(col("text"))).cast("long"),
      sum(size(split(col("text"), " "))).cast("long")).collect().head
    val fin = s.read
      .parquet(s"$root/dag/app/internal_data/${hopId(Hops - 1)}/0")
      .collect()
    require(fin.length == 1, s"chain output must be one row, got ${fin.length}")
    val got = fin.head
    require(got.getLong(got.fieldIndex("acc_docs")) == exp.getLong(0) &&
      got.getLong(got.fieldIndex("acc_chars")) == exp.getLong(1) &&
      got.getLong(got.fieldIndex("acc_words")) == exp.getLong(2),
      s"chain totals mismatch: $got vs $exp")
    // 3. retention bound held
    val tickerP = new org.apache.hadoop.fs.Path(
      s"$root/retapp/internal_data/ticker")
    val partsNow =
      if (fs.exists(tickerP))
        fs.listStatus(tickerP).count(_.getPath.getName.forall(_.isDigit))
      else 0
    require(partsNow <= KeepLatest + 1,
      s"retention bound violated: $partsNow partitions > $KeepLatest+1")
    val nApplied = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/index/applied")).length
    val raw = s.read.parquet(s"$root/pairs")
    println(s"""{"verify":"exact","probe_pairs":${a.size},"corpus":$nBase,""" +
      s""""applied_batches":$nApplied,"flagged_raw":${raw.count()},""" +
      s""""flagged_distinct":${raw.select("d1", "d2").distinct().count()},""" +
      s""""ticker_partitions":$partsNow,""" +
      s""""dag_docs":${got.getLong(got.fieldIndex("acc_docs"))}}""")
    s.stop()
    sys.exit(0)
  }
}
