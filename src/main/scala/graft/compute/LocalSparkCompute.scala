package graft.compute

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StructType}
import graft.routing.{ExecutionContext, PathProbe}
import graft.signal._

/** Hadoop-FS backed existence probe (works for file://, s3a://, hdfs://).
  * Catalog resources are always "present" — their pruning happens in the
  * scan, not via FS probes. */
final class FsProbe(spark: SparkSession) extends PathProbe {
  def exists(path: String): Boolean = {
    if (path.startsWith("catalog://")) return true
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** For protocol-less resources a BARE directory is not completion
    * evidence: Spark's FileOutputCommitter creates the destination dir at
    * job setup with only `_temporary` inside, so a concurrent writer
    * would look "complete" mid-job to the sweep/range probes. Demand at
    * least one visible (non-`_`/`.`-prefixed) entry — a data file or a
    * nested partition dir. Marker protocols are unaffected. */
  override def isComplete(path: String,
                          protocol: graft.signal.IntegrityProtocol): Boolean =
    protocol match {
      case graft.signal.IntegrityProtocol.None_ =>
        if (path.startsWith("catalog://")) true
        else {
          val p = new Path(path)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          try {
            fs.exists(p) && (fs.getFileStatus(p).isFile ||
              fs.listStatus(p).exists { st =>
                val n = st.getPath.getName
                // a committer-written _SUCCESS also counts: a partition
                // that legitimately produced ZERO rows (marker + no data
                // files) is complete, not forever-pending
                if (n.startsWith("_") || n.startsWith(".")) n == "_SUCCESS"
                else if (st.isFile) true
                else {
                  // a visible DIRECTORY (attrs.dataFolder layout) is only
                  // evidence of data if IT holds something visible — a
                  // concurrent writer's job creates <dataFolder>/_temporary
                  // at setup, and counting the empty folder itself marked
                  // the partition complete mid-write (and the caching
                  // probe memoized the false positive permanently)
                  try fs.listStatus(st.getPath).exists { c =>
                    val cn = c.getPath.getName
                    (!cn.startsWith("_") && !cn.startsWith(".")) ||
                      cn == "_SUCCESS"
                  } catch { case _: java.io.FileNotFoundException => false }
                }
              })
          } catch { case _: java.io.FileNotFoundException => false }
        }
      case other => super.isComplete(path, other)
    }
}

/** Loads a materialized input Signal (a *range of partitions*) as ONE
  * DataFrame. Re-expresses the reference's generated-template input path
  * (glueetl_default_ABI.py:181-296) Spark-first:
  *
  * - the whole surviving path list goes into a single
  *   `spark.read.format(f).load(paths: _*)` — one scan node, partition
  *   parallelism preserved, no N-way union (the reference only batches
  *   parquet; we batch every format);
  * - missing paths are tolerated (pre-probed and filtered) unless the
  *   signal demands `rangeCheckRequired`, which mirrors the reference's
  *   AnalysisException-swallowing contract (ABI:269-277);
  * - `nearestTheTip` probes in tip order and reads the first existing
  *   partition only (ABI:283-284).
  */
object InputLoader {

  // Bounded shared probe pool for the execute path's range completion
  // checks (r21, VERDICT r20 #7): the event path's sweep already probes
  // with bounded parallelism (RoutingTable.sweepProbePool), but a manual
  // execute()/backfill listed every range partition SERIALLY — N
  // round-trips against a high-latency store per execution. Same shape
  // as the sweep pool: daemon threads, core-timeout so it drains to
  // zero when idle. `nearestTheTip` keeps the serial tip-order probe
  // (it short-circuits on the first hit — usually ONE probe — and
  // parallel-probing the whole range would do MORE I/O, not less).
  private lazy val probePool: java.util.concurrent.ThreadPoolExecutor = {
    val par = sys.props.getOrElse("graft.input.probe.parallelism", "16").toInt
    val tf = new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger()
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-input-probe-${n.incrementAndGet()}")
        t.setDaemon(true); t
      }
    }
    val p = new java.util.concurrent.ThreadPoolExecutor(
      par, par, 30, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](), tf)
    p.allowCoreThreadTimeOut(true)
    p
  }

  /** Apply `f` to every path concurrently, preserving input order in
    * the result. Exceptions propagate (same contract as a serial loop —
    * a broken store must fail the execution, not skip its partitions). */
  private def parMap[A](paths: Seq[String])(f: String => A): Seq[A] =
    if (paths.size <= 1) paths.map(f)
    else {
      val futs = paths.map { p =>
        probePool.submit(new java.util.concurrent.Callable[A] {
          def call(): A = f(p)
        })
      }
      futs.map { fut =>
        try fut.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          throw e.getCause }
      }
    }

  private def probeAll(paths: Seq[String],
                       complete: String => Boolean): Seq[(String, Boolean)] =
    paths.zip(parMap(paths)(complete))

  def load(spark: SparkSession, signal: Signal, probe: PathProbe): DataFrame = {
    if (signal.source.kind == SignalSourceKind.CATALOG) return loadCatalog(spark, signal)
    val attrs = signal.source.attrs
    // completeness gates run on the PARTITION path (where markers live);
    // the data itself may sit one level down under attrs.dataFolder
    def dataPath(p: String) =
      attrs.dataFolder.map(d => s"$p/$d").getOrElse(p)
    val partPaths: Seq[String] = signal.materializedPaths
    // isComplete, not exists: a bare dir a concurrent writer just
    // created (only _temporary inside) or a marker-protocol partition
    // whose marker hasn't landed must not be READ either — the same
    // mid-write hazard the readiness probes already guard
    def complete(p: String) = probe.isComplete(p, signal.source.protocol)

    val chosen: Seq[String] =
      if (signal.nearestTheTip)
        partPaths.find(complete).toSeq
      else if (signal.rangeCheckRequired) {
        val missing = probeAll(partPaths, complete).collect {
          case (p, false) => p }
        require(missing.isEmpty,
          s"range check failed for '${signal.alias}': missing ${missing.take(3).mkString(", ")}")
        partPaths
      } else probeAll(partPaths, complete).collect { case (p, true) => p }
    // versioned REPLACE partitions: the data lives under the NEWEST
    // committed `data_v<N>/` (pointer-resolved) — a rewrite in flight
    // never changes what this read resolves
    val paths: Seq[String] =
      if (attrs.versioned) chosen.map { p =>
        val pp = new Path(p)
        val pfs = pp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        Compaction.VersionedDir
          .newest(pfs, pp, OutputWriter.DataPtrPrefix) match {
          case Some((_, d)) => s"$p/$d"
          case None => throw new IllegalStateException(
            s"versioned partition $p has no committed version — the " +
              "pointer is missing or targets an incomplete dir")
        }
      }
      else chosen.map(dataPath)

    require(paths.nonEmpty,
      s"no existing partitions for input '${signal.alias}' under ${signal.source.rootPath}")

    // managed outputs persist their exact Spark schema next to the data
    // (_SCHEMA.spark.json, written by OutputWriter) — prefer it over
    // inference so text formats (json/csv) round-trip types exactly
    val persistedSchema: Option[String] =
      if (attrs.schemaJson.isDefined ||
          signal.source.kind != SignalSourceKind.INTERNAL) None
      else chosen.headOption.flatMap { p =>
        // the schema marker lives at the PARTITION root (OutputWriter),
        // not under dataFolder; one open, no exists probe first
        val f = new Path(p, "_SCHEMA.spark.json")
        val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
        try {
          val in = fs.open(f)
          try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
        } catch { case _: java.io.FileNotFoundException => None }
      }
    // a FileCheck marker that does NOT start with '_'/'.' (a vendor
    // `manifest.json`) is listed by Spark as DATA and breaks footer
    // reads/schema inference — expand those partitions to explicit file
    // paths with the marker names excluded. Driver-side listStatus per
    // partition is work InMemoryFileIndex would do anyway; partitions
    // under marker-free protocols keep the plain dir-path load.
    val vendorMarkers: Set[String] = signal.source.protocol match {
      case IntegrityProtocol.FileCheck(fs) =>
        fs.filterNot(f => f.startsWith("_") || f.startsWith(".")).toSet
      case _ => Set.empty
    }
    val loadTargets: Seq[String] =
      if (vendorMarkers.isEmpty) paths
      else paths.flatMap { p =>
        val pp = new Path(p)
        val fsys = pp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fsys.listStatus(pp).toSeq
          .filter { st =>
            val n = st.getPath.getName
            !vendorMarkers.contains(n) &&
              !n.startsWith("_") && !n.startsWith(".")
          }
          .map(_.getPath.toString)
      }
    require(loadTargets.nonEmpty,
      s"no data files for input '${signal.alias}' after excluding " +
        s"completion markers ${vendorMarkers.mkString(", ")}")

    // declared, else persisted; else, for parquet, the footer Spark's
    // inference would read, read on the driver instead of in a one-task
    // Spark job
    val effectiveSchema: Option[StructType] = attrs.schemaJson
      .orElse(persistedSchema)
      .map(js => DataType.fromJson(js).asInstanceOf[StructType])
      .orElse(
        if (attrs.format.equalsIgnoreCase("parquet") && vendorMarkers.isEmpty)
          parquetFooterSchema(spark, loadTargets)
        else None)

    var reader = spark.read.format(attrs.format)
    if (attrs.format.equalsIgnoreCase("csv"))
      reader = reader.option("header", attrs.header.toString).option("sep", attrs.delimiter)
        .option("inferSchema", effectiveSchema.isEmpty.toString)
    // charset of text formats (reference `encoding` attr,
    // signal_source.py:483-484); Spark's csv/json/text readers share the
    // `encoding` option name
    if (Seq("csv", "json", "text").exists(attrs.format.equalsIgnoreCase))
      attrs.encoding.foreach(e => reader = reader.option("encoding", e))
    effectiveSchema.foreach(st => reader = reader.schema(st))
    reader.load(loadTargets: _*)
  }

  /** The schema Spark's own (non-merging) parquet inference would give
    * `targets`, read on the driver. Spark lists the targets, drops names
    * starting with `_` (unless they hold `=`) or `.`, sorts the remaining
    * leaf files by path and converts the FIRST one's footer: its
    * `org.apache.spark.sql.parquet.row.metadata` schema when present,
    * else the parquet message type. This lists every target (one
    * listStatus each, concurrently) and does the same on that file with
    * the converter flags Spark's schema job uses.
    *
    * None — Spark infers as before — wherever the choice could differ
    * or the read fails: schema merging on, a glob target, a visible
    * sub-directory (its files join the sort, and partition discovery
    * starts), a `_metadata`/`_common_metadata` summary file, no data
    * file at all, or any listing/footer/conversion error (Spark then
    * raises its own). */
  private[compute] def parquetFooterSchema(spark: SparkSession,
                                           targets: Seq[String]): Option[StructType] = {
    val sqlConf = spark.sessionState.conf
    // a glob pattern is expanded by Spark, not listed
    if (sqlConf.isParquetSchemaMergingEnabled ||
        targets.exists(_.exists("{}[]*?\\".contains(_)))) return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    def hidden(n: String) =
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")
    def summary(n: String) =
      n.startsWith("_metadata") || n.startsWith("_common_metadata")
    try {
      val listed: Seq[FileStatus] = parMap(targets) { t =>
        val p = new Path(t)
        p.getFileSystem(hadoopConf).listStatus(p).toSeq
      }.flatten
      val visible = listed.filterNot(st => hidden(st.getPath.getName))
      if (listed.exists(st => summary(st.getPath.getName)) ||
          visible.exists(_.isDirectory)) None
      else visible.minByOption(_.getPath.toString).map { st =>
        val footer = new Footer(st.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(st, hadoopConf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS))
        ParquetFileFormat.readSchemaFromFooter(footer,
          new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = sqlConf.isParquetBinaryAsString,
            assumeInt96IsTimestamp = sqlConf.isParquetINT96AsTimestamp,
            inferTimestampNTZ = sqlConf.parquetInferTimestampNTZEnabled,
            nanosAsLong = sqlConf.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation =
              sqlConf.parquetReaderRespectUnknownTypeAnnotation))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** S2: catalog scan with partition pushdown — the EXACT materialized
    * tuple set as OR'd per-tuple conjunctions (Catalyst prunes each
    * equality conjunct). Independent per-dimension `isin` predicates
    * would read the CROSS PRODUCT: the filter is a tree, so tuple sets
    * like [(us, d1), (eu, d2)] are non-rectangular, and `region IN
    * (us,eu) AND day IN (d1,d2)` also reads (us,d2)/(eu,d1) — partitions
    * the signal never selected (the FS path reads exactly the tuples;
    * the catalog path must too). Reference catalog `WHERE pk IN (...)`
    * path: glueetl_default_ABI.py:196-241. */
  private def loadCatalog(spark: SparkSession, signal: Signal): DataFrame = {
    val base = spark.table(CatalogSource.tableName(signal.source))
    // pair partition-column names positionally over the FULL flattened
    // spec (dimNames drops unnamed dims and would misalign the values);
    // cast the LITERAL side to the column's own type — wrapping the
    // COLUMN in cast("string") made every conjunct non-pushable to a
    // Hive metastore's getPartitionsByFilter, fetching all partition
    // metadata client-side on large tables
    val flatNames = signal.spec.flatten.map(_.name)
    val colType: Map[String, org.apache.spark.sql.types.DataType] =
      base.schema.map(f => f.name -> f.dataType).toMap
    val tuples = signal.filter.tuples
      .map(_.takeWhile(_.isMaterial).map(_.transform().value.toString))
      .filter(_.nonEmpty).distinct
    val preds = tuples.flatMap { t =>
      val conjuncts = flatNames.zip(t).collect { case (Some(d), v) =>
        col(d) === lit(v).cast(colType.getOrElse(d,
          org.apache.spark.sql.types.StringType))
      }
      if (conjuncts.isEmpty) None else Some(conjuncts.reduce(_ && _))
    }
    if (preds.isEmpty) base else base.where(preds.reduce(_ || _))
  }
}

/** Managed write of a node's output partition, with the reference's
  * completion contract: data + `_SUCCESS` marker + `_SCHEMA.spark.json`
  * (from df.schema.json) next to the partition
  * (glueetl_default_ABI.py:380-446). */
object OutputWriter {

  /** File-count for a governed write: the optimized plan's sizeInBytes
    * (for scan-rooted plans ≈ source file bytes, scaled by Catalyst's
    * selectivity estimates) divided by the target, clamped to
    * [1, 65536]. `graft.write.sizeRatio` (default 1.0) rescales when a
    * deployment's data compresses very differently from its estimate.
    *
    * Returns None when the plan has NO usable stats: stat-less roots
    * (LogicalRDD from a ScalaSlot's createDataFrame, some in-memory
    * relations) report the `spark.sql.defaultSizeInBytes` sentinel
    * (Long.MaxValue-ish), which would clamp to a 65536-partition
    * exchange over a possibly tiny dataset — strictly worse than the
    * ungoverned write. Callers keep upstream partitioning in that case
    * (the maxRecordsPerFile backstop still bounds file size). */
  private[compute] def governedFileCount(spark: SparkSession, df: DataFrame,
                                         targetBytes: Long): Option[Int] = {
    val raw = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (raw >= BigInt(Long.MaxValue) / 4) return None
    val ratio = spark.conf.get("graft.write.sizeRatio", "1.0").toDouble
    val est = BigDecimal(raw) / ratio
    val n = (est / targetBytes).setScale(0, BigDecimal.RoundingMode.CEILING)
    Some(n.toLong.max(1L).min(65536L).toInt)
  }

  /** Apply [[DatasetAttrs.targetFileBytes]]: one explicit round-robin
    * (or partition-key-clustered) exchange sized from plan stats, so
    * the number of part files tracks DATA VOLUME instead of upstream
    * task count. Skew inside a partition key is bounded by the
    * `maxRecordsPerFile` backstop (files roll within a task), not by
    * the exchange. */
  private def governed(spark: SparkSession, df: DataFrame,
                       attrs: graft.signal.DatasetAttrs): DataFrame =
    attrs.targetFileBytes match {
      case Some(target) =>
        governedFileCount(spark, df, target) match {
          case Some(n) if attrs.partitionKeys.nonEmpty =>
            // cluster rows of the same hive-partition: each task then
            // writes whole files per key instead of every task writing a
            // sliver of every key (task-count × key-count files)
            df.repartition(n, attrs.partitionKeys.map(df.col): _*)
          case Some(n) => df.repartition(n)
          case None => df // stat-less plan: keep upstream partitioning
        }
      case None => df
    }

  /** Pointer-file prefix of a [[graft.signal.DatasetAttrs.versioned]]
    * partition ([[Compaction.VersionedDir]] layout inside the
    * partition dir). */
  val DataPtrPrefix = "data_ptr.v"
  val DataDirPrefix = "data_v"

  def write(spark: SparkSession, df0: DataFrame, output: Signal): String = {
    val attrs = output.source.attrs
    val path = output.materializedPaths.head
    if (attrs.versioned) {
      require(attrs.datasetType == DatasetType.REPLACE,
        "versioned outputs are REPLACE-only (an APPEND never clears, so " +
          "it has no reader-vs-rewrite window)")
      require(attrs.dataFolder.isEmpty,
        "versioned excludes dataFolder — the version dirs are the data " +
          "indirection")
      return writeVersioned(spark, df0, output)
    }
    // data may live one level under the partition (attrs.dataFolder) —
    // mirror InputLoader, which appends it on read; markers stay at the
    // PARTITION root, where completion probes and feed-back look
    val dataPath = attrs.dataFolder.map(d => s"$path/$d").getOrElse(path)
    val mode = attrs.datasetType match {
      case DatasetType.REPLACE => SaveMode.Overwrite
      case DatasetType.APPEND => SaveMode.Append
    }
    val df = governed(spark, df0, attrs)
    val writer = configuredWriter(df, attrs, mode)

    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    // REPLACE with a dataFolder: the overwrite only clears <path>/<data>,
    // so a _SUCCESS surviving at the partition ROOT would keep the
    // partition reading as complete for the whole rewrite — a concurrent
    // downstream would read zero rows mid-job and believe them final.
    // (Without dataFolder the overwrite deletes the dir, marker included.)
    if (mode == SaveMode.Overwrite && attrs.dataFolder.isDefined)
      fs.delete(new Path(dir, "_SUCCESS"), false)
    writer.save(dataPath)

    def finalizeMarkers(): Unit = {
      // schema file (SPARK_SCHEMA_JSON, signal_source.py:507-510)
      val schemaOut = fs.create(new Path(dir, "_SCHEMA.spark.json"), true)
      try schemaOut.write(df.schema.json.getBytes("UTF-8")) finally schemaOut.close()
      // _SUCCESS: Spark's committer usually writes it; guarantee it at the
      // partition root (with dataFolder the committer's copy lands below)
      if (!fs.exists(new Path(dir, "_SUCCESS"))) fs.create(new Path(dir, "_SUCCESS"), true).close()
    }
    if (mode == SaveMode.Append) {
      // the data COMMIT already happened: a retry of the whole runOnce
      // would append every row a SECOND time. Marker failures here are
      // therefore non-retryable — the partition stays marker-less (not
      // complete), visible to the operator, instead of silently doubled.
      try finalizeMarkers()
      catch { case scala.util.control.NonFatal(e) =>
        throw new AppendFinalizedDataAtRiskException(
          s"APPEND data committed to $dataPath but marker finalization " +
            s"failed — NOT retrying (a re-run would duplicate every row); " +
            "write _SUCCESS manually or re-run after clearing the batch", e)
      }
    } else finalizeMarkers() // overwrite is idempotent: retry freely
    path
  }

  private def configuredWriter(df: DataFrame,
                               attrs: graft.signal.DatasetAttrs,
                               mode: SaveMode)
      : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] = {
    var writer = df.write.format(attrs.format).mode(mode)
    attrs.maxRecordsPerFile.foreach(n =>
      writer = writer.option("maxRecordsPerFile", n.toString))
    if (attrs.format.equalsIgnoreCase("csv"))
      writer = writer.option("header", attrs.header.toString)
        .option("sep", attrs.delimiter)
    if (Seq("csv", "json", "text").exists(attrs.format.equalsIgnoreCase))
      attrs.encoding.foreach(e => writer = writer.option("encoding", e))
    attrs.compression.foreach(c => writer = writer.option("compression", c))
    if (attrs.partitionKeys.nonEmpty)
      writer = writer.partitionBy(attrs.partitionKeys: _*)
    writer
  }

  /** Versioned REPLACE ([[graft.signal.DatasetAttrs.versioned]]): land
    * the rewrite in a FRESH `data_v<seq>/`, commit with one immutable
    * pointer PUT, then refresh the root markers. The partition's root
    * `_SUCCESS` never disappears (a recompute keeps the partition
    * complete throughout — readers resolve the previous pointer) and is
    * RECREATED after each commit so completion stamps (the duplicate-
    * redelivery freshness guard) see the rewrite. Current + one
    * previous version survive each write (a reader holding the old
    * pointer's file list finishes its scan); older versions are GC'd.
    * A pointer-seq collision from a concurrent writer fails LOUDLY via
    * the create-if-absent commit — concurrent recomputes of one
    * partition are a coordination bug, not a case to absorb. */
  private def writeVersioned(spark: SparkSession, df0: DataFrame,
                             output: Signal): String = {
    val attrs = output.source.attrs
    val path = output.materializedPaths.head
    val df = governed(spark, df0, attrs)
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val seq = Compaction.VersionedDir.newest(fs, dir, DataPtrPrefix)
      .map(_._1).getOrElse(0) + 1
    // UNIQUE dir per write attempt: two uncoordinated recomputes that
    // both read seq N write DISJOINT dirs and race only on the pointer
    // CAS — the loser fails loudly with its orphan dir intact (never a
    // shared half-overwritten dir), and orphans age out through gc two
    // successful writes later (VersionedDir.gc parses the leading seq
    // digits, suffix ignored)
    val vname = s"$DataDirPrefix$seq-" +
      java.util.UUID.randomUUID().toString.take(8)
    val vpath = s"$path/$vname"
    configuredWriter(df, attrs, SaveMode.Overwrite).save(vpath)
    // pointer validity requires _SUCCESS INSIDE the version dir
    // (VersionedDir.newest ignores committed-pointer targets without it)
    if (!fs.exists(new Path(vpath, "_SUCCESS")))
      fs.create(new Path(vpath, "_SUCCESS"), true).close()
    Compaction.VersionedDir.commit(fs, dir, DataPtrPrefix, seq, vname)
    val schemaOut = fs.create(new Path(dir, "_SCHEMA.spark.json"), true)
    try schemaOut.write(df.schema.json.getBytes("UTF-8"))
    finally schemaOut.close()
    fs.create(new Path(dir, "_SUCCESS"), true).close() // fresh mtime
    Compaction.VersionedDir.gc(fs, dir, DataPtrPrefix, DataDirPrefix,
      keepMinSeq = seq - 1)
    path
  }
}

/** E3: bounded retry with exponential backoff (reference can_retry,
  * constructs.py:953-970; MAX_RETRY_COUNT=100, internal/nodes.py:45). */
final case class RetryPolicy(maxRetries: Int = 0, backoffMs: Long = 1000,
                             sleeper: Long => Unit = Thread.sleep) {
  require(maxRetries <= 100, "retry count capped at 100 (reference parity)")
  def run[T](body: => T): T = {
    var attempt = 0
    while (true) {
      // NonFatal only, and never a cancellation: kill() cancels the job
      // group and expects the execution DEAD — retrying a cancelled
      // attempt (or an interrupt during driver shutdown) would resurrect
      // it for up to maxRetries × backoff
      try return body
      catch {
        case e: Throwable
            if attempt < maxRetries && scala.util.control.NonFatal(e) &&
              !RetryPolicy.isCancellation(e) =>
          sleeper(backoffMs << math.min(attempt, 16)); attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

object RetryPolicy {
  /** A Spark job-group cancellation (kill(), shutdown) anywhere in the
    * cause chain — non-retryable by contract. */
  private[compute] def isCancellation(e: Throwable): Boolean = {
    var c: Throwable = e
    var depth = 0
    while (c != null && depth < 10) {
      if (c.isInstanceOf[InterruptedException]) return true
      if (c.isInstanceOf[AppendFinalizedDataAtRiskException]) return true
      val m = Option(c.getMessage).getOrElse("")
      if (m.contains("cancelled") || m.contains("SparkContext was shut down"))
        return true
      c = c.getCause; depth += 1
    }
    false
  }
}

/** The data COMMIT of an APPEND write succeeded but finalization
  * (schema/marker) failed: a retry would run the whole slot chain again
  * and APPEND every row a second time, so [[RetryPolicy]] refuses to
  * retry through this (the partition is left marker-less — incomplete
  * to every probe — for the operator to finalize or clear). */
final class AppendFinalizedDataAtRiskException(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)

/** The single BatchCompute driver (reference CompositeBatchCompute routes
  * across Glue/EMR/Athena/…, constructs.py:1046-1244; Spark-native needs
  * exactly one): load inputs → register temp views (alias + inputN) → run
  * slots in order → write output. */
final class LocalSparkCompute(spark: SparkSession, probe: PathProbe,
                              args: Map[String, Any] = Map.empty) {

  /** Execute all slots of a ready context with retry; returns the output
    * partition path (None when only inlined slots ran). `logSink` receives
    * per-attempt diagnostics (rendered SQL statements, attempt failures)
    * for the execution's compute-record log. */
  def run(ctx: ExecutionContext, slots: Seq[Slot],
          retry: RetryPolicy = RetryPolicy(),
          logSink: String => Unit = _ => ()): Option[String] = retry.run {
    try runOnce(ctx, slots, logSink)
    catch {
      case e: Throwable =>
        logSink(s"attempt failed: ${e.getClass.getName}: " +
          Option(e.getMessage).getOrElse(""))
        throw e
    }
  }

  private def runOnce(ctx: ExecutionContext, slots: Seq[Slot],
                      logSink: String => Unit): Option[String] = {
    // timers/metrics/alarms and RAW_CONTENT pseudo-datasets (projection
    // fan-out markers) are trigger-only signals, not loadable datasets
    val datasetInputs = ctx.inputs.filter(s => !s.source.attrs.rawContent &&
      (s.source.kind match {
        case SignalSourceKind.TIMER | SignalSourceKind.METRIC
             | SignalSourceKind.ALARM => false
        case _ => true
      }))
    // EVERY execution gets its own session: temp views are isolated,
    // compiled code is shared. Views: on a shared session, concurrent
    // executeAsync runs raced createOrReplaceTempView — node B's input0
    // silently replaced node A's mid-flight — and views leaked across
    // executions, resolving stale data instead of failing. Persistent
    // catalog tables (saveAsTable) remain visible; session-level conf
    // set at builder time is carried by the shared SparkConf. Code:
    // Spark keys its whole-stage codegen cache on (context classloader,
    // source); with artifact isolation on, each session's tasks run under
    // a classloader of their own and every execution would recompile
    // every class. Isolation is off because graft adds no artifacts to
    // any session; it must be set before the session's first use.
    val session = spark.newSession()
    session.conf.set("spark.sql.artifact.isolation.enabled", "false")
    // load ONCE per signal, positionally: keying the loads by alias
    // collapsed duplicate-alias inputs (the same upstream consumed twice
    // with different ranges) onto the LAST load — input0/input1 and
    // inputList all pointed at one DataFrame and a join of the two
    // ranges silently self-joined. The positional inputN convention
    // exists in the reference precisely to disambiguate duplicate
    // aliases (glueetl_default_ABI.py:303-322); the alias map/view keeps
    // last-wins for the ambiguous name itself.
    val loaded: List[(Signal, DataFrame)] =
      datasetInputs.map(s => s -> InputLoader.load(session, s, probe))
    val inputs: Map[String, DataFrame] =
      loaded.map { case (s, df) => s.alias -> df }.toMap
    val inputList = loaded.map(_._2)

    // temp views: alias + positional inputN (glueetl_default_ABI.py:303-322)
    loaded.zipWithIndex.foreach { case ((s, df), i) =>
      df.createOrReplaceTempView(s"input$i")
      inputs(s.alias).createOrReplaceTempView(s.alias)
    }

    // pair names with tip values over the FULL flattened spec — the
    // Signal.dimIndex rule: `dimNames` drops unnamed dims while `tip`
    // carries every position, so zipping them misaligns every dimension
    // after an unnamed placeholder (e.g. the 'NA' level used with
    // partition prefixes) and '{day}' would interpolate the wrong value
    val dims: Map[String, Any] = ctx.output.spec.flatten
      .zip(ctx.output.tip)
      .collect { case (d, v) if d.name.isDefined =>
        d.name.get -> v.transform().value }
      .toMap
    val slotCtx = SlotContext(session, inputs, inputList, dims, args,
      ctx.inputs.map(s => s.alias -> s).toMap, ctx.output, logSink)

    var lastDf: Option[DataFrame] = None
    slots.foreach {
      case ScalaSlot(f) => lastDf = Some(f(slotCtx))
      case SqlSlot(sql) =>
        // split FIRST, interpolate per statement: a dim value containing
        // ';' must never create a statement boundary (interpolate also
        // refuses metacharacter values outright)
        SqlSlot.statements(sql).foreach { st0 =>
          val st = SqlSlot.interpolate(st0, dims)
          logSink(s"sql> $st")
          lastDf = Some(session.sql(st))
        }
      case InlinedSlot(f) => f(slotCtx)
      case ClassSlot(cn) =>
        logSink(s"class> $cn")
        lastDf = Some(ClassSlot.resolve(cn)(slotCtx))
    }
    lastDf.map(OutputWriter.write(session, _, ctx.output))
  }
}
