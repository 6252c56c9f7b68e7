package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.Ckpt._

/** Deduplication operators for 100TB-class corpora. Scale notes per op:
  *
  * - exact: shuffle keys are fixed-width digests, never the full document —
  *   a groupBy(md5) moves ~16 bytes/row regardless of doc size;
  * - MinHash+LSH: one explode + one partial-aggregated groupBy for
  *   signatures; candidate generation joins on (band, bandHash) buckets, so
  *   only near-dup candidates ever meet — never an O(n²) cross join;
  * - SimHash: per-row scalar fingerprint (no shuffle), banding on 16-bit
  *   chunks for candidates, exact hamming verify;
  * - n-gram Jaccard: inverted-index self-join on shared grams (document-pair
  *   counts via map-side combine), exact-verified.
  */
object Dedup {

  /** Explode-heavy operators need input parallelism >= cores BEFORE the
    * fan-out: a small local file often arrives as one unsplittable
    * partition (row-group bound), serializing the whole shingle/hash stage
    * on a single task. No-op when the input is already as parallel as the
    * cluster — the 100TB case, where inputs arrive in thousands of
    * partitions and an extra shuffle would be a regression.
    *
    * The probe is driver-side plan STATS (logical sizeInBytes /
    * maxPartitionBytes), not `df.rdd.getNumPartitions`: the RDD conversion
    * forces full physical planning + file listing per operator call.
    * Unknown-size relations report Long.Max-ish sizes and therefore skip
    * the repartition — exactly right at scale, where inputs are large. */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // idempotent: a plan that already carries a >=target repartition
    // (e.g. the gate's docs() helper spreads before handing the corpus
    // to an operator that spreads internally) must not shuffle AGAIN —
    // the size-estimate below still sees the small file bytes and would
    // re-issue the round-robin exchange on every wrap. Only a
    // repartition that still GOVERNS the output counts: we walk down
    // from the root through partitioning-preserving nodes (project/
    // filter/generate/typed maps) and inspect the first node that sets
    // partitioning — a Repartition buried beneath a later aggregation
    // or join no longer makes the output wide and must not suppress
    // the spread (a plan-wide exists() did, falsely).
    import org.apache.spark.sql.catalyst.plans.logical._
    @scala.annotation.tailrec
    def partitioningRoot(p: LogicalPlan): LogicalPlan = p match {
      case _: Project | _: Filter | _: SubqueryAlias | _: Generate |
          _: TypedFilter | _: MapElements | _: SerializeFromObject |
          _: DeserializeToObject =>
        partitioningRoot(p.children.head)
      case other => other
    }
    val alreadySpread = partitioningRoot(df.queryExecution.analyzed) match {
      case r: Repartition => r.shuffle && r.numPartitions >= target
      case r: RepartitionByExpression =>
        r.optNumPartitions.exists(_ >= target)
      case _ => false
    }
    if (alreadySpread) return df
    val sizeInBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val maxPart = BigInt(spark.sessionState.conf.filesMaxPartitionBytes)
    val estParts = ((sizeInBytes + maxPart - 1) / maxPart).min(Int.MaxValue)
    if (estParts < target) df.repartition(target) else df
  }

  // null-text rows key per-ROW, never together: md5(null) is null and
  // groupBy treats null keys as EQUAL, so distinct null-text documents
  // would collapse into one survivor and real data would be dropped —
  // the exact defect the streaming counterpart (dropDuplicateContent)
  // guards with a per-row digest; here the fallback is deterministic
  // (the id itself) so the DuckDB oracle replays it verbatim
  private def contentKey(textHash: Column, idCol: String): Column =
    coalesce(textHash, concat(lit("null-"), col(idCol).cast("string")))

  /** Exact dedup: one survivor (min id) per content digest; null-text
    * rows are each their own class (see [[contentKey]]). */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(contentKey(md5(col(textCol)), idCol).as("text_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_cnt"))

  /** Word n-gram (shingle) SET for set-Jaccard: the shared sliding window
    * ([[TextFunctions.wordNgrams]] — one expression, no drifted copies;
    * same empty-array guard for docs shorter than n) deduplicated. */
  def shingles(text: Column, n: Int): Column =
    array_distinct(TextFunctions.wordNgrams(text, n))

  /** The shingle set as SORTED DISTINCT 64-bit hashes — what every
    * exact-Jaccard verify join carries instead of gram strings
    * ([[graft.expressions.HashedGramsExpr]]): 8 bytes/gram payload and a
    * sorted-merge intersect kernel in place of `array_intersect`'s
    * per-pair string hash-set build. Jaccard over the hashed sets equals
    * Jaccard over [[shingles]] unless two distinct grams of one document
    * collide in 64 bits (~2⁻⁶⁴ per gram pair) — at soak scale this took
    * the p07 verify stage from ~40 s to seconds with identical pairs. */
  def hashedShingles(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.HashedGramsExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(text), n))

  /** MinHash signature DERIVED from a [[hashedShingles]] array — the
    * one-pass sig+gram fusion (r20): pipelines needing both tables used
    * to tokenize + XXH64-hash the corpus text twice (MinHashSig and
    * HashedGramsExpr each re-hash every gram). Values are bit-identical
    * to [[minhashSignatures]]' sig column over the same text (min over
    * the distinct hash set = min over the gram multiset; equivalence
    * pinned in TextVectorExpressionsSuite); NULL for gramless docs,
    * matching the isNotNull row-set contract. */
  private[graft] def sigFromGrams(grams: Column, k: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.MinHashSigFromHashes(
        org.apache.spark.sql.GraftColumnBridge.expression(grams), k))

  private def positionalEqCount(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.PositionalEqCount(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  private def sortedIntersectCount(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.SortedIntersectCount(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  /** All i<j pairs of a sorted id array as struct(d1, d2): the codegen'd
    * [[graft.expressions.SortedLongPairs]] kernel when ids are longs (the
    * common case — O(m²) interpreted lambda calls per bucket otherwise),
    * the generic higher-order-function composition for any other id
    * type. Emission order and the d1 < d2 invariant are identical. */
  private[operators] def sortedPairs(sorted: Column, longIds: Boolean): Column =
    if (longIds)
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.SortedLongPairs(
          org.apache.spark.sql.GraftColumnBridge.expression(sorted)))
    else
      flatten(transform(sorted, (x, i) =>
        transform(
          slice(sorted, i.cast("int") + lit(2),
            greatest(size(sorted) - i.cast("int") - 1, lit(0))),
          y => struct(x.as("d1"), y.as("d2")))))

  private def isLongCol(df: DataFrame, colName: String): Boolean = {
    // resolve with the SESSION's resolver: Spark resolves columns
    // case-insensitively by default, so a case-mismatched long id
    // (schema "ID", caller "id") silently took the string branch and
    // the string udaf failed analysis against the bigint column
    val resolver = df.sparkSession.sessionState.analyzer.resolver
    df.schema.find(f => resolver(f.name, colName))
      .exists(_.dataType == org.apache.spark.sql.types.LongType)
  }

  /** Hard memory ceiling for STORED index bucket lists (~8 MB of ids):
    * far above any probe's maxBucketSize guard — an overflowed stored
    * bucket (size ceiling+1) can never pass one — and far below the
    * corpus-sized buffer a truly universal bucket would otherwise
    * accumulate in a single aggregation task. */
  private val MaxStoredBucket = 1 << 20

  /** Bucket id lists with a bounded aggregation buffer — both id types:
    * a near-universal bucket must overflow AT THE BUFFER (size
    * ceiling+1), never materialize in full, whatever the id column. */
  private def boundedIdCollect(banded: DataFrame, idCol: String): DataFrame = {
    val grouped = banded.groupBy("band", "band_hash")
    if (isLongCol(banded, idCol)) {
      val bc = org.apache.spark.sql.functions.udaf(
        new BoundedCollectLong(MaxStoredBucket),
        org.apache.spark.sql.Encoders.scalaLong)
      grouped.agg(bc(col(idCol)).as("__ids"))
    } else {
      val bc = org.apache.spark.sql.functions.udaf(
        new BoundedCollectString(MaxStoredBucket),
        org.apache.spark.sql.Encoders.STRING)
      grouped.agg(bc(col(idCol)).as("__ids"))
    }
  }

  /** MinHash signatures as a NARROW projection — no explode, no shuffle:
    * the codegen'd [[graft.expressions.MinHashSig]] kernel computes the
    * k min-hash draws in one pass over each document's gram multiset.
    * (The historical pipeline form — explode(shingles) → xxhash64 →
    * groupBy(id).agg(k mins) — materialized every gram as a row and paid
    * a two-phase aggregation; map-side combine kept the shuffle small,
    * but the kernel removes it entirely.) Signature values are IDENTICAL:
    * one string hash per shingle (pmod(xxhash64, P)), k affine
    * permutations h_i = a_i·h + b_i mod P over the Mersenne prime
    * P = 2^31-1 (a_i·h < 2^62 — no long overflow; mod-prime
    * multiplication is a true permutation), min over the multiset = min
    * over the distinct gram set. Docs too short to form one gram had no
    * rows after the explode; the kernel returns null for them and the
    * isNotNull filter keeps the row set identical
    * (equivalence-pinned in TextVectorExpressionsSuite).
    * Output: (idCol, sig: array<bigint> of length k). */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
                        k: Int = 64, shingleN: Int = 3): DataFrame =
    spread(df)
      .select(col(idCol),
        org.apache.spark.sql.GraftColumnBridge.column(
          graft.expressions.MinHashSig(
            org.apache.spark.sql.GraftColumnBridge.expression(col(textCol)),
            k, shingleN)).as("sig"))
      .where(col("sig").isNotNull)

  /** LSH banding: k-length signature → `bands` buckets of r=k/bands rows
    * each; docs sharing any (band, bandHash) bucket become candidates.
    * Candidate pairs are exact-verified by estimated Jaccard (matching
    * signature positions / k) >= minEstJaccard.
    *
    * `maxBucketSize` is the skew guard that makes this survive 100TB: a
    * bucket holding m docs yields m²/2 candidate pairs, so one
    * near-universal bucket (boilerplate, tiny shared vocab) turns the join
    * quadratic. Oversized buckets are dropped — they encode "everything
    * looks like everything", not useful near-dup candidates. */
  /** (id, band, band_hash) rows of a signature table — the ONE banding
    * expression every LSH variant shares (a drifted copy would silently
    * produce incompatible buckets between the one-shot and incremental
    * paths). */
  private def bandExplode(sigs: DataFrame, idCol: String, bands: Int,
                          r: Int): DataFrame =
    sigs.select(col(idCol),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, slice(col("sig"), b * r + 1, lit(r)).cast("string")))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")

  /** Exact shingle-Jaccard verify of (d1, d2) candidate pairs against
    * HASHED gram tables carrying (d1, g1) / (d2, g2) as sorted distinct
    * long arrays ([[hashedShingles]]). The intersection is a codegen'd
    * sorted-merge count — no per-pair allocation, 8-byte elements — and
    * |union| = |g1| + |g2| − |∩| over the same hashed sets, so the
    * jaccard double is IDENTICAL to the string-set computation modulo
    * ~2⁻⁶⁴ in-document hash collisions. */
  private def jaccardVerify(pairs: DataFrame, gramsA: DataFrame,
                            gramsB: DataFrame, minJaccard: Double): DataFrame =
    pairs.join(gramsA, "d1").join(gramsB, "d2")
      .withColumn("__c", sortedIntersectCount(col("g1"), col("g2")))
      .select(col("d1"), col("d2"),
        (col("__c").cast("double") /
          (size(col("g1")) + size(col("g2")) - col("__c")).cast("double"))
          .as("jaccard"))
      .where(col("jaccard") >= minJaccard)

  /** Banded candidate generation shared by the LSH variants: signatures →
    * (band, bandHash) buckets → distinct id pairs. Carries ONLY ids (16
    * bytes/row): buckets can emit millions of pre-distinct pairs, so
    * neither the k-long signatures (1KB/row) nor any verify compute may
    * ride along.
    *
    * Shape (r8): ONE groupBy collecting each bucket's id list, the
    * quadratic guard applied to the list size, then in-bucket pairs
    * emitted from the sorted list (positions i<j of a sorted array give
    * d1<d2 directly). This replaces the historical [bucket-size groupBy +
    * semi-join + self-join] — two fewer shuffles of the banded rows; the
    * pair count is identical (Σ m(m-1)/2 over surviving buckets). The
    * collected list is bounded by the same skew reality as before: a
    * bucket over `maxBucketSize` is dropped either way, and collecting
    * maxBucketSize ids (~8 KB at the 1000 default) per group is far
    * below the m²/2 rows the join variant shuffled for the same bucket. */
  private def bandCandidates(sigs: DataFrame, idCol: String, bands: Int,
                             r: Int, maxBucketSize: Int): DataFrame = {
    val banded0 = bandExplode(sigs, idCol, bands, r)
    // BOUNDED collect for long ids (the scale path): plain collect_list
    // materializes the WHOLE bucket in one aggregation buffer before the
    // size filter runs — a near-universal bucket (1e8 boilerplate docs)
    // is a multi-GB single-task buffer. The bounded aggregator stops at
    // maxBucketSize+1 elements, so overflowing buckets surface to the
    // same size guard at ~8 KB instead of gigabytes.
    val grouped = banded0.groupBy("band", "band_hash")
    val collected =
      if (isLongCol(sigs, idCol)) {
        val bc = org.apache.spark.sql.functions.udaf(
          new BoundedCollectLong(maxBucketSize),
          org.apache.spark.sql.Encoders.scalaLong)
        grouped.agg(bc(col(idCol)).as("__ids"))
      } else {
        val bc = org.apache.spark.sql.functions.udaf(
          new BoundedCollectString(maxBucketSize),
          org.apache.spark.sql.Encoders.STRING)
        grouped.agg(bc(col(idCol)).as("__ids"))
      }
    collected
      .where(size(col("__ids")) <= maxBucketSize && size(col("__ids")) > 1)
      .select(array_sort(col("__ids")).as("__s"))
      .select(explode(sortedPairs(col("__s"), isLongCol(sigs, idCol))).as("__p"))
      .select(col("__p.d1").as("d1"), col("__p.d2").as("d2"))
      // positional i<j pairs over a sorted list emit self-pairs when the
      // INPUT carries duplicate ids (two rows, same id, same bucket) —
      // the historical join shape's strict d1<d2 silently excluded those;
      // keep that degenerate-input behavior
      .where(col("d1") =!= col("d2"))
      .distinct()
  }

  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
                      k: Int = 64, bands: Int = 16, shingleN: Int = 3,
                      minEstJaccard: Double = 0.5,
                      maxBucketSize: Int = 1000): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    // sigs feeds banding AND both verify joins: single-compute it via
    // checkpoint (k longs/doc — narrow, but O(n) ROWS: 64 longs x 600M
    // docs is 300 GB, the Ckpt unroll-kill shape — hence DISK_ONLY).
    // Unlike persist(), the checkpoint blocks are reclaimed by the
    // ContextCleaner when the DataFrame is GC'd, so repeated calls don't
    // accumulate session-lifetime cached storage, and the eager
    // materialization makes the downstream stages deterministic instead
    // of paying the explode+groupBy three times (r3 bench showed a 4x
    // run-to-run swing from exactly that recompute amplifying host
    // noise).
    val sigs = minhashSignatures(df, textCol, idCol, k, shingleN)
      .diskCheckpoint()
    val pairs = bandCandidates(sigs, idCol, bands, k / bands, maxBucketSize)
    // verify: re-join the (numDocs-sized) signature table on each side
    // est J = positional agreement / k via the zero-allocation codegen
    // kernel — the zip_with→filter→size composition allocated two
    // 64-element arrays per pair, which at 10⁷+ candidates made the
    // estimate-only path SLOWER than the exact gram verify (100× soak:
    // 121 s vs 47 s; post-kernel reading in BASELINE.md)
    pairs
      .join(sigs.select(col(idCol).as("d1"), col("sig").as("sig1")), "d1")
      .join(sigs.select(col(idCol).as("d2"), col("sig").as("sig2")), "d2")
      .select(col("d1"), col("d2"),
        (positionalEqCount(col("sig1"), col("sig2")).cast("double") / k)
          .as("est_jaccard"))
      .where(col("est_jaccard") >= minEstJaccard)
  }

  /** MinHash+LSH candidate generation with EXACT n-gram Jaccard verify:
    * banding prunes the pair space (never O(n²)), then candidates are
    * verified against the true shingle-set Jaccard — so the output is
    * hash-independent ground truth (any pair with true Jaccard >=
    * `minJaccard` shares a band with probability 1-(1-J^r)^bands ≈ 1 at
    * J>=0.9, k=64, bands=16; false candidates are removed exactly). */
  def lshVerifiedJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                              k: Int = 64, bands: Int = 16, shingleN: Int = 2,
                              minJaccard: Double = 0.9,
                              maxBucketSize: Int = 1000): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    // ONE corpus pass (r20): the gram table is the only text-derived
    // intermediate — signatures DERIVE from it (sigFromGrams: same
    // pmod+affine-min arithmetic over the already-hashed gram set, so
    // the second tokenize+hash pass and its spread shuffle and
    // checkpoint are gone; bit-equal pairs pinned in suites). History
    // of the storage choice: r3 measured persist() 10x slower than
    // checkpoint here (cache barrier vs broadcast pipelining); r8 moved
    // grams to sorted distinct HASHES (8 bytes/gram) — see
    // hashedShingles. Text-scale rows — DISK_ONLY per Ckpt policy.
    val grams = spread(df)
      .select(col(idCol), hashedShingles(col(textCol), shingleN).as("__g"))
      .diskCheckpoint()
    // narrow projection over the checkpointed grams: k affine mins per
    // doc, consumed once by the banding — no second materialization
    val sigs = grams
      .select(col(idCol), sigFromGrams(col("__g"), k).as("sig"))
      .where(col("sig").isNotNull)
    val pairs = bandCandidates(sigs, idCol, bands, k / bands, maxBucketSize)
    jaccardVerify(pairs,
      grams.select(col(idCol).as("d1"), col("__g").as("g1")),
      grams.select(col(idCol).as("d2"), col("__g").as("g2")),
      minJaccard)
  }

  /** Precomputed (optionally persisted) signature + gram + BUCKET tables
    * for an EXISTING corpus — the incremental-dedup analog of
    * Similarity.AnnIndex: built ONCE, so every subsequent ingest batch
    * pays O(batch) work plus bucket joins, never an all-corpus rescan.
    * `grams.__g` holds sorted distinct 64-bit gram hashes
    * ([[hashedShingles]]), not gram strings; `buckets` holds the corpus's
    * banded LSH buckets COLLECTED — (band, band_hash, __ids) — so a batch
    * probes buckets by key instead of re-banding and re-sizing the whole
    * corpus per ingest (the r8 fix that makes the per-batch cost actually
    * O(batch): band-explode of the corpus was O(corpus) on every call). */
  final case class NearDupIndex private[operators] (
      sigs: DataFrame, grams: DataFrame, buckets: DataFrame,
      idCol: String, k: Int, bands: Int, shingleN: Int) {
    def unpersist(): Unit =
      { sigs.unpersist(); grams.unpersist(); buckets.unpersist(); () }
  }

  def buildNearDupIndex(df: DataFrame, textCol: String, idCol: String,
                        k: Int = 64, bands: Int = 16, shingleN: Int = 2,
                        persist: Boolean = true): NearDupIndex =
    buildNearDupIndex(df, textCol, idCol, k, bands, shingleN, persist,
      materializeBuckets = true)

  /** [[buildNearDupIndex]] with the bucket materialization optional
    * (r20): an index that will be PROBED ONCE (the one-shot convenience
    * overload of incrementalJaccardPairs) consumes `buckets` exactly
    * once — materializing the collected-bucket table then paid a full
    * write+read round trip of an O(corpus-bands) table for a single
    * consumer (guide §5: cache only what is reused). Lazy buckets still
    * ride the checkpointed gram table, so no text re-hash either way;
    * repeated-probe callers (streaming ingest, the durable save path's
    * load-side) keep the default. */
  private[graft] def buildNearDupIndex(df: DataFrame, textCol: String,
                                       idCol: String, k: Int, bands: Int,
                                       shingleN: Int, persist: Boolean,
                                       materializeBuckets: Boolean): NearDupIndex = {
    require(k % bands == 0, "bands must divide k")
    // ONE corpus pass (r20): only the gram table is text-derived; the
    // signature table DERIVES from it per read (sigFromGrams — k affine
    // mins over the already-hashed gram set, bit-identical to
    // minhashSignatures and far cheaper than the tokenize+hash pass it
    // replaces, so it is deliberately NOT materialized a second time).
    val grams = spread(df)
      .select(col(idCol), hashedShingles(col(textCol), shingleN).as("__g"))
    // persist=false still single-computes via localCheckpoint: the index
    // tables are each consumed 2-3x downstream (banding + bucket-size
    // guard + verify joins). The historical explode+groupBy signature
    // build got free re-use through its shuffle files; the narrow
    // MinHashSig projection has no shuffle, so an un-materialized index
    // would re-read + re-hash the corpus per consumer. Checkpoint blocks
    // are reclaimed by the ContextCleaner when the index is GC'd.
    //
    // TRADE-OFF (both flags): materialization is EAGER (the corpus is
    // hashed at build time, not first use), and localCheckpoint blocks
    // are NOT fault-tolerant — they truncate lineage, so on a real
    // cluster losing an executor makes later reads of the index FAIL
    // rather than recompute (persist=true degrades the same way once
    // lineage ages out, just lazily). A long-lived corpus index on a
    // preemptible cluster should instead be WRITTEN OUT:
    // [[saveNearDupIndex]] / [[loadNearDupIndex]] persist the three
    // tables as parquet — a loaded index recomputes from durable files
    // on executor loss and produces byte-identical pairs (round-trip
    // pinned in PipelineOpsSuite).
    // persist path uses MEMORY_AND_DISK (persist SPILLS per-record, no
    // partition-sized unroll); the checkpoint path pins DISK_ONLY —
    // sigs/grams/buckets are all O(corpus) (Ckpt policy)
    def maybe(d: DataFrame) =
      if (persist) d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else d.diskCheckpoint()
    val gramsM = maybe(grams)
    val sigs = gramsM
      .select(col(idCol), sigFromGrams(col("__g"), k).as("sig"))
      .where(col("sig").isNotNull)
    // collected corpus buckets, query-guard-free at build time
    // (maxBucketSize is a query parameter — the probe filters on list
    // size) but MEMORY-bounded: a pathological universal bucket stops
    // accumulating at MaxStoredBucket+1 ids (~8 MB) instead of one
    // corpus-sized buffer, and since every probe's maxBucketSize guard
    // sits far below that ceiling, an overflowed stored bucket can never
    // pass a probe anyway. The groupBy's hash partitioning on
    // (band, band_hash) survives materialization, so a batch probe
    // shuffles only the batch side of the join.
    val buckets = boundedIdCollect(
      bandExplode(sigs, idCol, bands, k / bands), idCol)
    NearDupIndex(sigs, gramsM,
      if (materializeBuckets) maybe(buckets) else buckets,
      idCol, k, bands, shingleN)
  }

  /** Persist a [[NearDupIndex]] as parquet under `path` (sigs/, grams/,
    * buckets/ plus a tiny index_meta file) — the DURABLE form of the
    * corpus index for preemptible clusters: unlike the in-memory
    * persist/localCheckpoint build, a loaded index re-reads from files
    * on executor loss instead of failing, and the daily-ingest driver
    * can restart without re-hashing the corpus. The build is
    * deterministic, so save → load → probe is byte-identical to probing
    * the original. */
  def saveNearDupIndex(index: NearDupIndex, path: String): Unit =
    saveNearDupIndex(index, path, renameFree = false)

  /** `renameFree = true` lays the bucket table out in VERSIONED
    * directories committed by immutable POINTER FILES
    * (`buckets_v<N>/` + `buckets_ptr.v<N>`, newest valid pointer wins)
    * instead of the live/next/old rename swap — every
    * [[updateNearDupIndex]] then runs with ZERO renames outside Spark's
    * own committer, making the whole daily maintenance loop safe on
    * object stores without atomic rename (pair with
    * [[compactNearDupIndexKv]] for the sigs/grams rewrite). A pointer
    * file is one small PUT — all-or-nothing on object stores; a torn or
    * targetless pointer is skipped at read time (fall back to the
    * previous version), so the commit point is crash-safe on local
    * filesystems too. The default layout is unchanged for existing
    * indexes; the mode is auto-detected from the pointer files on
    * load/update. */
  def saveNearDupIndex(index: NearDupIndex, path: String,
                       renameFree: Boolean): Unit = {
    index.sigs.write.mode("overwrite").parquet(s"$path/sigs")
    index.grams.write.mode("overwrite").parquet(s"$path/grams")
    val spark = index.sigs.sparkSession
    // a save is a FULL REBUILD: clear any previous versioned layout
    // first — a surviving higher-seq pointer would otherwise keep
    // resolving the OLD bucket table against the NEW row tables (silent
    // inconsistency), or collide with the fresh v1 pointer write
    val rootP = new org.apache.hadoop.fs.Path(path)
    val vfs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.compute.Compaction.VersionedDir.clear(vfs, rootP,
      BucketsPtrPrefix, "buckets_v")
    if (renameFree) {
      index.buckets.write.mode("overwrite").parquet(s"$path/buckets_v1")
      writeBucketsPointer(spark, path, 1, "buckets_v1")
      // a stale LEGACY table must not survive either (load prefers the
      // pointer, but a later legacy save's reader could find it)
      vfs.delete(new org.apache.hadoop.fs.Path(s"$path/buckets"), true)
      ()
    } else {
      index.buckets.write.mode("overwrite").parquet(s"$path/buckets")
    }
    val p = new org.apache.hadoop.fs.Path(s"$path/index_meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(
      (s"idCol=${index.idCol}\nk=${index.k}\n" +
        s"bands=${index.bands}\nshingleN=${index.shingleN}\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private val BucketsPtrPrefix = "buckets_ptr.v"

  private def writeBucketsPointer(spark: org.apache.spark.sql.SparkSession,
                                  path: String, seq: Int,
                                  dirName: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.compute.Compaction.VersionedDir.commit(fs, root,
      BucketsPtrPrefix, seq, dirName)
  }

  /** Newest VALID versioned bucket table (the shared
    * [[graft.compute.Compaction.VersionedDir]] resolution); None =
    * legacy (rename-swap) layout. */
  private def newestBucketsVersion(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String): Option[(Int, String)] =
    graft.compute.Compaction.VersionedDir.newest(fs,
      new org.apache.hadoop.fs.Path(path), BucketsPtrPrefix)

  /** Load a [[saveNearDupIndex]]-written corpus index. `persist=true`
    * additionally caches the tables MEMORY_AND_DISK for repeated probes
    * — still fault-tolerant, since the cache's lineage is the parquet
    * scan itself. */
  def loadNearDupIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       persist: Boolean = true): NearDupIndex = {
    val p = new org.apache.hadoop.fs.Path(s"$path/index_meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val meta =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.contains("=")).map { l =>
          val Array(a, b) = l.split("=", 2); a -> b }.toMap
      finally in.close()
    def maybe(d: DataFrame) =
      if (persist) d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else d
    // sigs/grams resolution tolerates a crash mid-[[compactNearDupIndex]]
    // swap (r15): while a table's swap manifest exists its data files
    // may be half moved aside — a plain scan would read PARTIAL rows
    // silently. With a FRESH compaction claim the compactor is live:
    // refuse loudly. With no (or a stale) claim the swap is orphaned:
    // heal it (rollback to the committed files) before reading.
    Seq("sigs", "grams").foreach { t =>
      val fsManifest = fs.exists(
        new org.apache.hadoop.fs.Path(s"$path/$t/.compact-manifest"))
      val kvInflight = fs.exists(new org.apache.hadoop.fs.Path(
        s"$path/$t/${graft.compute.Compaction.DirKvInflight}"))
      if (fsManifest || kvInflight) {
        val claimP = new org.apache.hadoop.fs.Path(s"$path/$NearDupClaim")
        graft.compute.Compaction.FsClaim.ensureUnclaimed(fs, claimP,
          graft.compute.Compaction.FsClaim.DefaultTtlMs, "loadNearDupIndex")
        if (kvInflight)
          // the swap state lives in the manifest STORE, which a plain-FS
          // load does not have — refuse with the remedy named rather
          // than read duplicate (pre-commit) or partial (post-commit)
          // rows from a half-swapped table
          throw new IllegalStateException(
            s"near-dup index at $path has an interrupted OBJECT-STORE " +
              s"compaction swap in $t/ — run Dedup.healNearDupIndexKv " +
              "(it needs the manifest store) before loading")
        graft.compute.Compaction.healDir(spark, s"$path/$t")
        ()
      }
    }
    // buckets resolution. VERSIONED layout first (r15 rename-free mode:
    // newest valid pointer wins; a crash between the merge write and
    // the pointer PUT simply leaves the previous version live). Legacy
    // layout otherwise: tolerate a crash mid-[[updateNearDupIndex]]
    // swap — `buckets_next` is always fully written before the swap
    // begins, so if the live dir is missing COMPLETE the interrupted
    // swap (rename next->live, drop old) rather than merely reading
    // next in place — a retried update would otherwise overwrite the
    // very directory its merge is lazily scanning. Healing makes the
    // on-disk state identical to a successful swap; if the rename is
    // refused (read-only mount) fall back to reading next/old directly.
    val bucketsDir = newestBucketsVersion(fs, path) match {
      case Some((_, dirName)) => new org.apache.hadoop.fs.Path(s"$path/$dirName")
      case None =>
        val live = new org.apache.hadoop.fs.Path(s"$path/buckets")
        val next = new org.apache.hadoop.fs.Path(s"$path/buckets_next")
        val old = new org.apache.hadoop.fs.Path(s"$path/buckets_old")
        if (!fs.exists(live) && fs.exists(next) &&
            (try fs.rename(next, live) catch { case _: java.io.IOException => false }))
          fs.delete(old, true)
        Seq(live, next, old)
          .find(fs.exists)
          .getOrElse(throw new java.io.FileNotFoundException(
            s"$path/buckets (no live, next, old, or versioned table)"))
    }
    NearDupIndex(
      maybe(spark.read.parquet(s"$path/sigs")),
      maybe(spark.read.parquet(s"$path/grams")),
      maybe(spark.read.parquet(bucketsDir.toString)),
      meta("idCol"), meta("k").toInt, meta("bands").toInt,
      meta("shingleN").toInt)
  }

  /** Fold an ingested batch INTO a saved parquet index in place — the
    * maintenance step that keeps the daily loop O(batch) end to end:
    * without it a loaded index is read-only and absorbing yesterday's
    * batch means re-hashing the whole corpus into a fresh build. The
    * batch's signatures/gram-hashes APPEND to `sigs/`/`grams/` (row-level
    * tables — parquet append is exactly the right merge), and its banded
    * buckets MERGE list-wise into the bucket table: the legacy layout
    * swaps `buckets/` by directory rename (written aside first, so the
    * scan of the old table never races its own overwrite); a
    * [[saveNearDupIndex]] `renameFree=true` index instead writes a fresh
    * `buckets_v<N>/` committed by one immutable pointer PUT — zero
    * renames, the object-store path. A probe of the updated index
    * produces the same verified pairs as probing a from-scratch rebuild
    * of corpus+batch (suite-pinned): bucket-list order differs, but pair
    * emission explodes + distincts, and the maxBucketSize guard sees the
    * same TOTAL list sizes because lists merge before any probe filters.
    *
    * NOT crash-atomic across the three sub-tables: a failure mid-update
    * can leave sigs appended but grams/buckets stale. The daily driver
    * should snapshot `path` (cheap rename) before updating, or rebuild
    * from the raw corpus on a failed update — both restore a consistent
    * index; re-running a PARTIALLY applied update would duplicate rows.
    * Batch ids must be disjoint from corpus ids (the usual ingest
    * contract; duplicate ids would double-count in bucket lists). */
  def updateNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, newDf: DataFrame,
                         textCol: String): Unit =
    updateNearDupIndex(loadNearDupIndex(spark, path, persist = false),
      path, newDf, textCol, precomputedSigs = None)

  /** [[updateNearDupIndex]] with an already-loaded index (skips the
    * per-call load — the streaming ingest loop's shape) and optionally
    * the batch's precomputed signature table (skips re-hashing a batch
    * the caller already hashed for its probe). */
  def updateNearDupIndex(idx: NearDupIndex, path: String, newDf: DataFrame,
                         textCol: String,
                         precomputedSigs: Option[DataFrame]): Unit = {
    val spark = newDf.sparkSession
    // refuse while a compaction claim stands on the index; a crashed
    // compactor's stale claim clears here, and its interrupted table
    // swaps heal, before the fold proceeds. Unlike updateIvfPq (whole-
    // tree swap), an append that RACES an already-running sigs/grams
    // compaction is not lost: the compaction's manifest lists the files
    // it saw at entry and its swap never touches unlisted files (the
    // kvrace-soak invariant), so no post-append re-check is needed here
    locally {
      val claimP = new org.apache.hadoop.fs.Path(s"$path/$NearDupClaim")
      val cfs = claimP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      graft.compute.Compaction.FsClaim.ensureUnclaimed(cfs, claimP,
        graft.compute.Compaction.FsClaim.DefaultTtlMs, "updateNearDupIndex")
      healNearDupIndex(spark, path)
      ()
    }
    val idCol = idx.idCol
    // ONE batch pass (r20): hash the batch text once into the gram
    // table (checkpointed — it feeds the grams append AND, via the
    // derived signatures, the banding and the sigs append; DISK_ONLY: a
    // "batch" is O(ingest day), not O(corpus), but a day of web data is
    // still hundreds of GB — same Ckpt policy). Signatures DERIVE from
    // it (sigFromGrams, bit-identical to minhashSignatures).
    val newBoth = precomputedSigs match {
      case Some(_) => None
      case None => Some(spread(newDf)
        .select(col(idCol), hashedShingles(col(textCol), idx.shingleN).as("__g"))
        .diskCheckpoint())
    }
    val newSigs = precomputedSigs.getOrElse(
      newBoth.get.select(col(idCol),
          sigFromGrams(col("__g"), idx.k).as("sig"))
        .where(col("sig").isNotNull))
    val newGrams = newBoth match {
      case Some(both) => both
      case None => spread(newDf)
        .select(col(idCol), hashedShingles(col(textCol), idx.shingleN).as("__g"))
    }
    val newBuckets = boundedIdCollect(
      bandExplode(newSigs, idCol, idx.bands, idx.k / idx.bands), idCol)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // array_distinct: a doc id appears at most once per bucket by
    // construction (one bandExplode row per doc per band), so distinct
    // is a no-op on clean folds and makes a crash-REPLAYED fold
    // idempotent on the bucket lists — a re-appended batch can neither
    // double-emit pairs from doubled lists nor push a list across the
    // maxBucketSize guard (which would silently drop future pairs)
    val merged = idx.buckets.unionByName(newBuckets)
      .groupBy("band", "band_hash")
      // both sides are <= MaxStoredBucket+1 by construction; re-cap the
      // merged list so repeated folds cannot creep past the ceiling
      .agg(slice(array_distinct(flatten(collect_list(col("__ids")))),
        1, MaxStoredBucket + 1).as("__ids"))
    newestBucketsVersion(fs, path) match {
      case Some((seq, _)) =>
        // RENAME-FREE versioned layout (r15): the merge lands in a
        // FRESH versioned directory (never its own lazy-scan source, so
        // no tmp staging), row tables append, and the commit is one
        // immutable pointer PUT. A crash before the pointer leaves the
        // previous version live (orphan dir overwritten on retry); a
        // crash after it is committed. Zero renames outside Spark's
        // committer — the object-store update path.
        val next = seq + 1
        val dirName = s"buckets_v$next"
        merged.write.mode("overwrite").parquet(s"$path/$dirName")
        newSigs.write.mode("append").parquet(s"$path/sigs")
        newGrams.write.mode("append").parquet(s"$path/grams")
        writeBucketsPointer(spark, path, next, dirName)
        // GC: keep the committed version and its predecessor (the
        // fallback a torn next-pointer would resolve to)
        graft.compute.Compaction.VersionedDir.gc(fs,
          new org.apache.hadoop.fs.Path(path), BucketsPtrPrefix,
          "buckets_v", keepMinSeq = seq)
      case None =>
        // LEGACY rename-swap layout. Merged bucket table lands in a
        // UNIQUE temp dir first: idx.buckets may be a lazy scan of
        // buckets_next itself (a load that fell back after an
        // interrupted swap), and writing the merge straight to
        // buckets_next would delete the scan's source before reading
        // it. The materialized temp table then renames into
        // buckets_next.
        val tmp = new org.apache.hadoop.fs.Path(
          s"$path/buckets_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
        merged.write.mode("overwrite").parquet(tmp.toString)
        val nextPre = new org.apache.hadoop.fs.Path(s"$path/buckets_next")
        fs.delete(nextPre, true)
        if (!fs.rename(tmp, nextPre))
          throw new java.io.IOException(
            s"updateNearDupIndex: could not stage merged buckets at $nextPre")
        newSigs.write.mode("append").parquet(s"$path/sigs")
        newGrams.write.mode("append").parquet(s"$path/grams")
        // swap: move the LIVE table aside first, then the new one into
        // place, then drop the old — a crash at any boundary leaves
        // either the old or the new buckets loadable (delete-then-
        // rename would leave a window with NO buckets table, turning a
        // crash into a hard-down index instead of a stale one)
        val live = new org.apache.hadoop.fs.Path(s"$path/buckets")
        val next = new org.apache.hadoop.fs.Path(s"$path/buckets_next")
        val old = new org.apache.hadoop.fs.Path(s"$path/buckets_old")
        fs.delete(old, true)
        // UNCHECKED, a false here (transient store fault) leaves `live`
        // in place and the next rename moves buckets_next INSIDE it
        // (HDFS rename-into-existing-dir), silently discarding the
        // merged update while sigs/grams were already appended — a
        // permanently inconsistent index with no error surfaced
        if (!fs.rename(live, old) && fs.exists(live))
          throw new java.io.IOException(
            s"updateNearDupIndex: could not move $live aside — aborting " +
              "swap (the live table is untouched; retry the update)")
        if (!fs.rename(next, live)) {
          fs.rename(old, live) // restore the live table, surface the failure
          throw new java.io.IOException(
            s"updateNearDupIndex: could not swap $next into place")
        }
        fs.delete(old, true)
    }
    ()
  }

  /** [[compactNearDupIndex]] outcome, per appended table. */
  final case class NearDupCompactStats(
      sigs: graft.compute.Compaction.DirCompactStats,
      grams: graft.compute.Compaction.DirCompactStats)

  private[graft] val NearDupClaim = ".neardup-compact-claim"

  /** Compact a [[saveNearDupIndex]]-written index's APPENDED row tables
    * (`sigs/`, `grams/` — [[updateNearDupIndex]] parquet-appends ≥1
    * file into each per ingest batch, so a year of daily updates is
    * ~730 small files per table; measured in BASELINE.md's r15
    * `ndcompact` ledger). `buckets/` needs no compaction: every update
    * rewrites it wholesale through its own staged swap. Each table is
    * rewritten under the [[graft.compute.Compaction.compactDir]]
    * manifest-guarded swap — a crash mid-rewrite rolls back to the
    * committed files on the next compact/load, and probes across the
    * swap are value-identical (suite-pinned).
    *
    * Concurrency: the whole pass runs under a
    * [[graft.compute.Compaction.FsClaim]] claim file at the index root
    * that [[updateNearDupIndex]] also checks — a concurrent update
    * fails loudly instead of appending into a table mid-rewrite, a
    * second compactor loses the claim race, and a crashed compactor's
    * claim goes stale after `claimTtlMs` (same contract as
    * [[graft.operators.Pq.compactIvfPq]]). */
  def compactNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String,
                          targetFileBytes: Long = 64L << 20,
                          failpoint: String => Unit = _ => (),
                          claimTtlMs: Long =
                            graft.compute.Compaction.FsClaim.DefaultTtlMs)
      : NearDupCompactStats = {
    import graft.compute.Compaction.FsClaim
    val claim = new org.apache.hadoop.fs.Path(s"$path/$NearDupClaim")
    val fs = claim.getFileSystem(spark.sparkContext.hadoopConfiguration)
    FsClaim.ensureUnclaimed(fs, claim, claimTtlMs, "compactNearDupIndex")
    val uuid = FsClaim.acquire(fs, claim, "compactNearDupIndex")
    val hb = FsClaim.startHeartbeat(fs, claim, claimTtlMs, uuid)
    try NearDupCompactStats(
      graft.compute.Compaction.compactDir(spark, s"$path/sigs",
        targetFileBytes, failpoint),
      graft.compute.Compaction.compactDir(spark, s"$path/grams",
        targetFileBytes, failpoint))
    finally { hb.close(); FsClaim.release(fs, claim, uuid) }
  }

  /** Heal interrupted [[compactNearDupIndex]] swaps (either table);
    * true when anything was healed. [[loadNearDupIndex]] callers on a
    * crash-recovered path should run this first (compaction itself
    * heals at entry). */
  def healNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String): Boolean = {
    val a = graft.compute.Compaction.healDir(spark, s"$path/sigs")
    val b = graft.compute.Compaction.healDir(spark, s"$path/grams")
    a || b
  }

  /** [[compactNearDupIndex]] with the RENAME-FREE KV-guarded swap
    * ([[graft.compute.Compaction.compactDirKv]]) — for an index living
    * on an object store without atomic rename. Same index-level claim
    * file as the rename-based variant, so [[updateNearDupIndex]] and
    * [[loadNearDupIndex]] interoperate identically. Crash recovery
    * needs the manifest store: run [[healNearDupIndexKv]] (or this
    * entry point, which heals first) — a crashed KV swap leaves an
    * in-flight marker that makes plain-FS loads refuse loudly rather
    * than read duplicate/partial rows. NOTE the UPDATE path's buckets
    * swap still uses directory renames — on a pure object store run
    * updates against HDFS-semantics storage or in a quiet window; the
    * COMPACTION path is what this variant makes rename-free. */
  def compactNearDupIndexKv(spark: org.apache.spark.sql.SparkSession,
                            path: String,
                            kv: graft.routing.ConditionalKv,
                            targetFileBytes: Long = 64L << 20,
                            failpoint: String => Unit = _ => (),
                            claimTtlMs: Long =
                              graft.compute.Compaction.FsClaim.DefaultTtlMs)
      : NearDupCompactStats = {
    import graft.compute.Compaction.FsClaim
    val claim = new org.apache.hadoop.fs.Path(s"$path/$NearDupClaim")
    val fs = claim.getFileSystem(spark.sparkContext.hadoopConfiguration)
    FsClaim.ensureUnclaimed(fs, claim, claimTtlMs, "compactNearDupIndexKv")
    val uuid = FsClaim.acquire(fs, claim, "compactNearDupIndexKv")
    val hb = FsClaim.startHeartbeat(fs, claim, claimTtlMs, uuid)
    // healMinClaimAgeMs = claimTtlMs (r16): on stores where the FsClaim
    // is only advisory, the entry heal must REFUSE a manifest younger
    // than the lease TTL — it may belong to a LIVE compactor mid-copy,
    // and healing it would roll that swap back under its feet (its stray
    // copyFile PUTs would then land after this compactor's listing and
    // survive the swap as unlisted duplicate rows). Crash recovery
    // within the TTL goes through [[healNearDupIndexKv]] explicitly.
    try NearDupCompactStats(
      graft.compute.Compaction.compactDirKv(spark, s"$path/sigs",
        targetFileBytes, kv, failpoint, healMinClaimAgeMs = claimTtlMs),
      graft.compute.Compaction.compactDirKv(spark, s"$path/grams",
        targetFileBytes, kv, failpoint, healMinClaimAgeMs = claimTtlMs))
    finally { hb.close(); FsClaim.release(fs, claim, uuid) }
  }

  /** Heal interrupted [[compactNearDupIndexKv]] swaps (either table). */
  def healNearDupIndexKv(spark: org.apache.spark.sql.SparkSession,
                         path: String,
                         kv: graft.routing.ConditionalKv): Boolean = {
    val a = graft.compute.Compaction.healDirKv(spark, s"$path/sigs", kv)
    val b = graft.compute.Compaction.healDirKv(spark, s"$path/grams", kv)
    a || b
  }

  /** Incremental near-dup for the daily-ingest shape: candidates between a
    * NEW batch and an EXISTING corpus index only — new-vs-new and
    * existing-vs-existing pairs never form. Output: (d1 = new id, d2 =
    * existing id, jaccard) with exact shingle-Jaccard verify. */
  def incrementalJaccardPairs(newDf: DataFrame, index: NearDupIndex,
                              textCol: String,
                              minJaccard: Double,
                              maxBucketSize: Int): DataFrame =
    incrementalJaccardPairs(newDf, index, textCol, minJaccard,
      maxBucketSize, None)

  /** [[incrementalJaccardPairs]] with the batch's signature table already
    * computed — the streaming ingest loop hashes each batch ONCE and
    * shares the table between its probe and its index update. */
  def incrementalJaccardPairs(newDf: DataFrame, index: NearDupIndex,
                              textCol: String,
                              minJaccard: Double,
                              maxBucketSize: Int,
                              precomputedSigs: Option[DataFrame]): DataFrame = {
    // Stored buckets are truncated at MaxStoredBucket+1 ids; the probe's
    // size filter can only distinguish "over the cap" from "complete"
    // while maxBucketSize < MaxStoredBucket. A larger probe bound would
    // ACCEPT a truncated bucket and silently miss its dropped pairs —
    // the exact failure the merge-path re-cap guards against.
    require(maxBucketSize < MaxStoredBucket,
      s"maxBucketSize=$maxBucketSize must be < $MaxStoredBucket " +
        "(stored-bucket truncation ceiling); larger bounds would accept " +
        "truncated buckets and silently drop near-dup pairs")
    val idCol = index.idCol
    val r = index.k / index.bands
    // ONE batch pass (r20): the probe needs the batch's signatures (for
    // banding) AND its grams (for the verify) — hash the batch text once
    // into the gram table and DERIVE the signatures from it
    // (sigFromGrams, bit-identical). The combined table is consumed
    // twice, so it is checkpointed (O(ingest day) rows — DISK_ONLY per
    // Ckpt policy); the old shape re-scanned and re-hashed the batch
    // text for each of the two tables instead.
    val newBoth = precomputedSigs match {
      case Some(_) => None
      case None => Some(spread(newDf)
        .select(col(idCol),
          hashedShingles(col(textCol), index.shingleN).as("__g"))
        .diskCheckpoint())
    }
    val newSigs = precomputedSigs.getOrElse(
      newBoth.get.select(col(idCol),
          sigFromGrams(col("__g"), index.k).as("sig"))
        .where(col("sig").isNotNull))
    val newBanded = bandExplode(newSigs, idCol, index.bands, r)
      .select(col(idCol).as("d1"), col("band"), col("band_hash"))
    // probe the PRECOMPUTED corpus buckets: O(batch) banded rows join the
    // stored (band, band_hash, __ids) table — the corpus is never
    // re-banded per ingest. Quadratic guard on the EXISTING side (the
    // side that grows unbounded) = list-size filter before the explode.
    val pairs = newBanded
      .join(index.buckets.where(size(col("__ids")) <= maxBucketSize),
        Seq("band", "band_hash"))
      .select(col("d1"), explode(col("__ids")).as("d2"))
      .distinct()
    val newGrams = newBoth match {
      case Some(both) => both.select(col(idCol).as("d1"), col("__g").as("g1"))
      case None => spread(newDf).select(col(idCol).as("d1"),
        hashedShingles(col(textCol), index.shingleN).as("g1"))
    }
    val oldGrams = index.grams.select(col(idCol).as("d2"), col("__g").as("g2"))
    jaccardVerify(pairs, newGrams, oldGrams, minJaccard)
  }

  /** Convenience form over a transient (un-persisted) index — fine for a
    * one-off check; repeated daily batches should build the index once. */
  def incrementalJaccardPairs(newDf: DataFrame, existingDf: DataFrame,
                              textCol: String, idCol: String,
                              k: Int = 64, bands: Int = 16, shingleN: Int = 2,
                              minJaccard: Double = 0.9,
                              maxBucketSize: Int = 1000): DataFrame =
    incrementalJaccardPairs(newDf,
      // one-shot probe: buckets consumed exactly once below, so they
      // stay a lazy plan over the checkpointed gram table instead of
      // paying a write+read materialization for a single consumer (r20)
      buildNearDupIndex(existingDf, textCol, idCol, k, bands, shingleN,
        persist = false, materializeBuckets = false),
      textCol, minJaccard, maxBucketSize)

  /** SimHash near-dup pairs: fingerprint per row (narrow), candidates via
    * 4x16-bit band buckets (pigeonhole: hamming<=3 pairs share >=1 exact
    * band), verified by true hamming distance. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    // 4×16-bit banding guarantees candidate generation only for
    // hamming ≤ 3 (pigeonhole: 4 differing bits can land in 4 distinct
    // bands) — a wider bound still returns only pairs that HAPPEN to
    // share a band (useful as a post-banding filter, which existing
    // callers rely on) but its recall is incomplete. Same contract
    // surface as AnnIndex.topK's probeBits clamp: warn, don't refuse.
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    if (maxHamming > 3)
      org.slf4j.LoggerFactory.getLogger(Dedup.getClass).warn(
        s"simhashPairs: maxHamming=$maxHamming exceeds the 4-band " +
          "pigeonhole guarantee (3) — pairs beyond hamming 3 are found " +
          "only when they share a band; recall is incomplete")
    val fp = spread(df).select(col(idCol), TextFunctions.simhash64(col(textCol)).as("sh"))
    val bandExprs = (0 until 4).map(b =>
      shiftrightunsigned(col("sh"), b * 16).bitwiseAND(lit(0xffffL)))
    val banded0 = fp.select(col(idCol), col("sh"),
      posexplode(array(bandExprs: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_val")
    // collected-bucket pair generation (same shape as bandCandidates, with
    // the quadratic guard on the list size) — carrying the fingerprint in
    // the collected struct means the hamming verify needs NO join at all:
    // each pair's (sh1, sh2) are adjacent in the bucket list. Structs sort
    // by (id, sh), so i<j positions give d1<d2 directly. Pair emission +
    // hamming is the codegen'd [[graft.expressions.SortedIdFpPairs]]
    // kernel for long ids (the common case — the transform/slice/flatten
    // + bit_count composition below it is CodegenFallback, O(m²)
    // interpreted lambda calls per bucket); equivalence is pinned
    // pair-for-pair in TextVectorExpressionsSuite.
    val pairsOf: Column => Column =
      if (isLongCol(df, idCol))
        s => org.apache.spark.sql.GraftColumnBridge.column(
          graft.expressions.SortedIdFpPairs(
            org.apache.spark.sql.GraftColumnBridge.expression(s)))
      else
        s => flatten(transform(s, (x, i) =>
          transform(
            slice(s, i.cast("int") + lit(2),
              greatest(size(s) - i.cast("int") - 1, lit(0))),
            y => struct(x.getField("i").as("d1"), y.getField("i").as("d2"),
              bit_count(x.getField("h").bitwiseXOR(y.getField("h")))
                .as("hamming")))))
    // same bounded-buffer story as bandCandidates, for (id, hash) pairs
    val bucketed =
      if (isLongCol(df, idCol)) {
        val bc = org.apache.spark.sql.functions.udaf(
          new BoundedCollectPair(maxBucketSize),
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.scalaLong))
        banded0.groupBy("band", "band_val")
          .agg(bc(col(idCol), col("sh")).as("__m0"))
          .withColumn("__m", transform(col("__m0"), x =>
            struct(x.getField("_1").as("i"), x.getField("_2").as("h"))))
          .drop("__m0")
      } else {
        val bc = org.apache.spark.sql.functions.udaf(
          new BoundedCollectStringPair(maxBucketSize),
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.STRING,
            org.apache.spark.sql.Encoders.scalaLong))
        banded0.groupBy("band", "band_val")
          .agg(bc(col(idCol), col("sh")).as("__m0"))
          .withColumn("__m", transform(col("__m0"), x =>
            struct(x.getField("_1").as("i"), x.getField("_2").as("h"))))
          .drop("__m0")
      }
    bucketed
      .where(size(col("__m")) <= maxBucketSize && size(col("__m")) > 1)
      .select(array_sort(col("__m")).as("__s"))
      .select(explode(pairsOf(col("__s"))).as("__p"))
      .select(col("__p.d1").as("d1"), col("__p.d2").as("d2"),
        col("__p.hamming").as("hamming"))
      // duplicate input ids would emit (id, id) self-pairs at hamming 0 —
      // excluded, matching the historical join shape's strict d1<d2.
      // hamming filters BEFORE distinct: it is deterministic per pair,
      // so the output is identical and the distinct shuffle no longer
      // carries the (majority) pairs about to be discarded
      .where(col("d1") =!= col("d2"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram Jaccard pairs via inverted-index join: only documents
    * sharing at least one gram are compared. The index carries 64-bit
    * gram hashes ([[hashedShingles]]) instead of gram strings — the
    * self-join's shuffle key drops from ~doc-length bytes to 8 bytes per
    * exploded row, with jaccard identical modulo ~2⁻⁶⁴ collisions. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, minJaccard: Double = 0.5,
                        maxGramDocs: Int = 100000): DataFrame = {
    require(maxGramDocs > 1, s"maxGramDocs must be > 1, got $maxGramDocs")
    val grams = spread(df).select(col(idCol).as("doc"),
      explode(hashedShingles(col(textCol), n)).as("g"))
    val sizes = grams.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    // LOUD gram-frequency guard (the maxBucketSize/maxSpanDocs
    // convention): ONE boilerplate gram shared by f documents makes the
    // inverted-index self-join emit f²/2 rows for that single key.
    // Exact Jaccard cannot silently drop grams (values would change),
    // so a breach REFUSES with the fix named instead of running the
    // quadratic stage to death. The frequency table reuses the same
    // gram partitioning as the self-join — no extra row-scale shuffle.
    // maxGramDocs = Int.MaxValue disables the guard AND its frequency
    // pass entirely (no count can exceed it) — the explicit escape
    // hatch, and the guard-OFF side of the `p04ab` A/B soak that
    // measures the guard's cost (BASELINE.md "Round 15 ledger",
    // section "p04ab": guard ON/OFF walls and shuffle rows; the
    // shuffle-rows ratio of 1.006 pins the same-partitioning claim)
    val guarded =
      if (maxGramDocs == Int.MaxValue) grams
      else {
        val gramFreq = grams.groupBy(col("g"))
          .agg(count(lit(1)).as("__gdf"))
          .withColumn("__gdf",
            when(col("__gdf") <= maxGramDocs, col("__gdf"))
              .otherwise(raise_error(concat(
                lit(s"ngramJaccardPairs: a gram occurs in more than " +
                  s"$maxGramDocs documents — the pair join is quadratic in " +
                  "that frequency; raise maxGramDocs knowingly or strip " +
                  "boilerplate (lineDedup) first")))))
        grams.join(gramFreq, Seq("g")).select(col("doc"), col("g"))
      }
    val common = guarded.select(col("doc").as("d1"), col("g"))
      .join(guarded.select(col("doc").as("d2"), col("g")), Seq("g"))
      .where(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("c"))
    common
      .join(sizes.select(col("doc").as("d1"), col("sz").as("s1")), Seq("d1"))
      .join(sizes.select(col("doc").as("d2"), col("sz").as("s2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        (col("c").cast("double") / (col("s1") + col("s2") - col("c")).cast("double"))
          .as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** EXACT incremental dedup of an ingest batch against a huge corpus,
    * Bloom-prefiltered: the corpus's content hashes are summarized once
    * into a Bloom filter — `org.apache.spark.util.sketch.BloomFilter`
    * built by a distributed treeAggregate over the hashed corpus scan,
    * then serialized into a codegen'd BloomFilterMightContain predicate
    * on the batch scan (the sketch class IS what that expression
    * deserializes, and both sides put/probe with putLong/
    * mightContainLong, so the formats agree by construction).
    * Bloom-NEGATIVE batch rows are definitely new and never touch a
    * join; only positives — true dups plus the `fpp` false-positive
    * sliver — reach the exact md5 anti-join, so the join input is
    * O(dups + fpp·batch) instead of O(batch), and the corpus side of
    * that join prunes to the digest column only. The RESULT is exact
    * (the join confirms every positive); the bloom only prunes.
    *
    * The build deliberately does NOT go through Spark's
    * BloomFilterAggregate runtime-filter expression (nor
    * `stat.bloomFilter`, which in Spark 4 delegates to it): that path
    * silently clamps n/bits to `spark.sql.optimizer.runtime.bloomFilter
    * .maxNumItems` (4M) / `.maxNumBits` (~8 MB) via Math.min at eval
    * time, so beyond ~5M corpus docs the effective fpp balloons toward 1
    * and the pruning contract voids without any signal. The direct
    * sketch build has no cap.
    *
    * Returns the batch rows to INGEST: (idCol, text_hash) of docs whose
    * exact content is absent from the corpus. `expectedItems` sizes the
    * filter (defaults to a corpus count job — callers that know the
    * count, or reuse the corpus, should pass it so the default path is a
    * single corpus pass); bits ≈ −n·ln(fpp)/ln²2 — at 10⁹ corpus docs
    * and fpp=0.03, ~0.9 GB of driver/broadcast filter, the standard
    * runtime-filter trade (the aggregate ships one zero-filter per
    * partition and merges partials up a depth-2 tree — the inherent cost
    * of any distributed bloom build at that capacity). */
  def incrementalExactDedup(newDf: DataFrame, corpus: DataFrame,
                            textCol: String, idCol: String,
                            expectedItems: Long = 0L,
                            fpp: Double = 0.03): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val bridge = org.apache.spark.sql.GraftColumnBridge
    val n = if (expectedItems > 0) expectedItems
      else math.max(1L, corpus.count())
    import org.apache.spark.util.sketch.BloomFilter
    // toRdd executes the full optimized plan (scan pushdown intact); the
    // map copies the long out of the reused UnsafeRow before aggregation
    val hashes = corpus.select(xxhash64(col(textCol)).as("__h"))
      .queryExecution.toRdd.map(_.getLong(0))
    val bf = hashes.treeAggregate(BloomFilter.create(n, fpp))(
      (f, v) => { f.putLong(v); f },
      (a, b) => a.mergeInPlace(b),
      depth = 2)
    val out = (df: DataFrame) =>
      df.select(col(idCol), md5(col(textCol)).as("text_hash"))
    // expectedFpp = (setBits/bits)^k — exactly 0.0 iff nothing was ever
    // put (cardinality() is unimplemented on the sketch impl)
    if (bf.expectedFpp() == 0.0) return out(newDf) // empty corpus: all new
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val bloomBin = bos.toByteArray
    val might = bridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        bridge.expression(lit(bloomBin)),
        bridge.expression(xxhash64(col(textCol)))))
    val definitelyNew = newDf.where(!might)
    val confirmedNew = newDf.where(might)
      .join(corpus.select(md5(col(textCol)).as("__h")).distinct(),
        md5(col(textCol)) === col("__h"), "left_anti")
    out(definitelyNew.unionByName(confirmedNew))
  }

  /** Pairs of documents sharing at least one EXACT run of `spanTokens`
    * consecutive words — the fixed-granularity form of the
    * exact-substring duplication signal (Lee et al. 2021,
    * arXiv:2107.06499: verbatim spans ≥50 tokens across documents are
    * the memorization-relevant duplication exact-match dedup misses).
    * Output: (d1, d2, n_shared_spans) with d1 < d2.
    *
    * Scale shape: one pass emits each doc's distinct hashed spans
    * ([[hashedShingles]] at n = spanTokens — 8 B per span regardless of
    * span width), `maxSpanDocs` drops spans present in more docs than
    * that (corpus-wide boilerplate — the same quadratic guard every
    * bucket join here uses), and pairs emit from each span's collected
    * doc list. */
  def sharedSpanPairs(df: DataFrame, textCol: String, idCol: String,
                      spanTokens: Int = 50,
                      maxSpanDocs: Int = 1000): DataFrame = {
    // distinct BEFORE collecting (a doc repeating a span must count
    // once — the collect_set this replaces deduped in-buffer), then a
    // BOUNDED collect: plain collect_set materialized a corpus-wide
    // boilerplate span's full doc list in ONE aggregation buffer before
    // the maxSpanDocs guard could drop it — the exact skew OOM the
    // bounded aggregators exist for, missed on this path.
    val spans = spread(df).select(col(idCol),
        explode(hashedShingles(col(textCol), spanTokens)).as("__g"))
      .distinct()
    val grouped = spans.groupBy("__g")
    val collected =
      if (isLongCol(df, idCol)) {
        val bc = org.apache.spark.sql.functions.udaf(
          new BoundedCollectLong(maxSpanDocs),
          org.apache.spark.sql.Encoders.scalaLong)
        grouped.agg(bc(col(idCol)).as("__ids"))
      } else {
        val bc = org.apache.spark.sql.functions.udaf(
          new BoundedCollectString(maxSpanDocs),
          org.apache.spark.sql.Encoders.STRING)
        grouped.agg(bc(col(idCol)).as("__ids"))
      }
    collected
      .where(size(col("__ids")) <= maxSpanDocs && size(col("__ids")) > 1)
      .select(array_sort(col("__ids")).as("__s"))
      .select(explode(sortedPairs(col("__s"), isLongCol(df, idCol))).as("__p"))
      .groupBy(col("__p.d1").as("d1"), col("__p.d2").as("d2"))
      .agg(count(lit(1)).as("n_shared_spans"))
  }

  private def positionalGrams(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.PositionalGramsExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(text), n))

  /** VARIABLE-LENGTH exact-substring dedup, the full Lee et al. form
    * (arXiv:2107.06499 §4: report MAXIMAL duplicated substrings with
    * their lengths, not just fixed-width hit counts —
    * [[sharedSpanPairs]] is the fixed-width reduction). One row per
    * maximal shared token span ≥ `minSpanTokens` between two documents:
    * (d1, d2, p1, p2, span_tokens) with d1 < d2 and p1/p2 the 0-based
    * token offsets of the span's start in each document.
    *
    * ALGORITHM — diagonal-run merging, not suffix arrays and not
    * iterative hash doubling: a span of L tokens shared at (p1, p2)
    * matches the width-w window at EVERY offset o ∈ [0, L−w], and all
    * those seed hits lie on one DIAGONAL (p1−p2 constant) at
    * consecutive p1 — so maximal spans are exactly the maximal
    * consecutive runs per (d1, d2, diagonal): length = (max p1 − min p1)
    * + w. One equi-join on the 64-bit window hash + one partitioned
    * window pass recovers them; the doubling alternative re-shuffles
    * the corpus O(log L) times for the same answer, and suffix arrays
    * don't distribute. Exact for token equality up to an xxhash64
    * window collision (~2⁻⁶⁴ per window pair — the [[lineDedup]] harm
    * model).
    *
    * SCALE: seeds join on an 8-byte hash; grams occurring more than
    * `maxGramOccurrences` times corpus-wide are excluded BEFORE the
    * self-join (boilerplate and pathological repetition would square —
    * such text is what [[repetitionRatios]]-style filters remove
    * upstream; a dropped gram can at worst split a span that contains
    * it). The per-(pair, diagonal) window partitions by (d1, d2, diag),
    * so no single-partition window; partition size is bounded by the
    * shorter document's token count. */
  def maximalSharedSpans(df: DataFrame, textCol: String, idCol: String,
                         minSpanTokens: Int = 50,
                         maxGramOccurrences: Int = 1000): DataFrame = {
    require(minSpanTokens >= 2, "minSpanTokens must be >= 2")
    require(maxGramOccurrences >= 2, "maxGramOccurrences must be >= 2")
    val w = minSpanTokens
    val pos = spread(df).select(col(idCol).as("__id"),
        posexplode(positionalGrams(col(textCol), w)))
      .withColumnRenamed("pos", "__p").withColumnRenamed("col", "__g")
    // corpus-wide occurrence cap: one map-side-combined count over the
    // 8-byte keys, then a semi-join filter (both keyed by __g, so AQE
    // can plan them into the self-join's exchange)
    val keep = pos.groupBy("__g").agg(count(lit(1)).as("__c"))
      .where(col("__c") <= maxGramOccurrences && col("__c") > 1)
      .select("__g")
    val seeds = pos.join(keep, Seq("__g"))
    val hits = seeds.select(col("__g"), col("__id").as("d1"),
        col("__p").as("p1"))
      .join(seeds.select(col("__g"), col("__id").as("d2"),
        col("__p").as("p2")), Seq("__g"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("p1"), col("p2"))
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("d1"), col("d2"), col("p1") - col("p2"))
      .orderBy(col("p1"))
    // island detection: within a diagonal, p1 − row_number is constant
    // exactly on a consecutive run (no lag/running-sum two-pass needed)
    hits
      .withColumn("__island",
        col("p1") - row_number().over(wnd))
      .groupBy(col("d1"), col("d2"), (col("p1") - col("p2")).as("__diag"),
        col("__island"))
      .agg(min(col("p1")).as("p1"), min(col("p2")).as("p2"),
        (max(col("p1")) - min(col("p1")) + w).as("span_tokens"))
      .select(col("d1"), col("d2"), col("p1"), col("p2"),
        col("span_tokens"))
  }

  /** Diagnostic face of [[maximalSharedSpans]]' gram-frequency cap,
    * whose drops are otherwise silent (its sibling [[ngramJaccardPairs]]
    * refuses loudly on the same breach). One row describing the
    * width-`minSpanTokens` gram occurrence distribution and what
    * `maxGramOccurrences` silently drops:
    * distinct grams, the most frequent gram's count, dropped-gram
    * count, the diagonal seed pairs those drops avoided (each
    * c-occurrence gram would emit c(c−1)/2), and the number of
    * DOCUMENTS containing at least one dropped gram — each such doc is
    * the only place the documented at-worst harm ("a dropped gram can
    * split a span that contains it") can occur, so docs_affected = 0
    * proves a spans run was drop-free. */
  def sharedSpanGramStats(df: DataFrame, textCol: String, idCol: String,
                          minSpanTokens: Int = 50,
                          maxGramOccurrences: Int = 1000): DataFrame = {
    require(minSpanTokens >= 2, "minSpanTokens must be >= 2")
    require(maxGramOccurrences >= 2, "maxGramOccurrences must be >= 2")
    // the SAME positional-gram stream the operator seeds from — the
    // diagnostic must describe the distribution the cap actually sees
    val pos = spread(df).select(col(idCol).as("__id"),
        explode(positionalGrams(col(textCol), minSpanTokens)).as("__g"))
    // DISK_ONLY: |distinct positional grams| is text-scale (Ckpt policy)
    val counts = pos.groupBy("__g").agg(count(lit(1)).as("__c"))
      .diskCheckpoint()
    val gramAgg = counts.agg(
      count(lit(1)).as("grams"),
      max(col("__c")).as("max_occurrences"),
      sum(when(col("__c") > maxGramOccurrences, 1).otherwise(0))
        .as("dropped_grams"),
      sum(when(col("__c") > maxGramOccurrences,
        (col("__c") * (col("__c") - 1) / 2).cast("long")).otherwise(0L))
        .as("seed_pairs_avoided"))
    val docsAffected = pos
      .join(counts.where(col("__c") > maxGramOccurrences).select("__g"),
        Seq("__g"))
      .agg(count_distinct(col("__id")).as("docs_affected"))
    gramAgg.crossJoin(docsAffected) // two 1-row aggregates
  }

  /** LINE-level corpus dedup (CCNet's duplicated-paragraph removal /
    * RefinedWeb's line-wise filter, arXiv:1911.00359 §3.1 +
    * arXiv:2306.01116 §3.4): a line whose TRIMMED text occurs at least
    * `minOccurrences` times across the whole corpus (boilerplate —
    * navigation, disclaimers, "subscribe" prompts) is removed from every
    * document; blank lines never count and are always kept. Returns
    * (idCol, clean_text, n_lines, n_removed) — documents whose lines are
    * all boilerplate come back with empty clean_text, for the caller's
    * length filter to drop.
    *
    * Scale shape: lines shuffle ONCE by 64-bit line hash for the corpus
    * count (8-byte key regardless of line width), the common-line set
    * anti-joins the same keyed rows, and documents reassemble with one
    * groupBy(id) (sort_array on (pos, line) — no window). A hash
    * collision (~2⁻⁶⁴ per line pair) could drop an innocent line; the
    * harm model is over-removal of one line, not corruption. */
  def lineDedup(df: DataFrame, textCol: String, idCol: String,
                minOccurrences: Int = 2): DataFrame = {
    require(minOccurrences >= 2, "minOccurrences must be >= 2")
    // null text behaves as empty text: without the coalesce, the doc
    // resurrects through the right join with n_lines = size(split(null))
    // = null and a null n_removed — garbage counts downstream
    val txt = coalesce(col(textCol), lit(""))
    // line keys normalize with a REGEX trim (all leading/trailing
    // whitespace, not SQL trim's spaces-only): CRLF corpora split on
    // "\n" leave a trailing \r on every non-final line, so the same
    // visible boilerplate line keyed differently mid-document vs at the
    // end and never reached minOccurrences
    def lineNorm(c: Column): Column =
      regexp_replace(c, "^\\s+|\\s+$", "")
    val lines = spread(df).select(col(idCol),
      posexplode(split(txt, "\n")))
      .withColumnRenamed("pos", "__pos").withColumnRenamed("col", "__line")
      .withColumn("__k", xxhash64(lineNorm(col("__line"))))
    val common = lines.where(lineNorm(col("__line")) =!= "")
      .groupBy("__k").agg(count(lit(1)).as("__c"))
      .where(col("__c") >= minOccurrences)
      .select("__k")
    lines.join(common, Seq("__k"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        concat_ws("\n", transform(
          array_sort(collect_list(struct(col("__pos"), col("__line")))),
          x => x.getField("__line"))).as("clean_text"),
        count(lit(1)).as("__kept"))
      .join(df.select(col(idCol),
        size(split(coalesce(col(textCol), lit("")), "\n")).as("n_lines")),
        Seq(idCol), "right")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("__kept"), lit(0L))).as("n_removed"))
  }

  /** k for semantic dedup when the caller doesn't pick one: sized so the
    * EXPECTED cell holds ~maxCellSize/2 rows — cells have headroom under
    * the cap instead of every cell silently tripping the guard (k=16 over
    * a 1.6M-row corpus put every cell over a 100k cap and the operator
    * returned zero drops with no signal — the failure mode this derivation
    * exists to prevent). Clamped to [16, 65536]; the upper bound tracks
    * what a broadcast centroid table comfortably carries. */
  private[operators] def semanticK(n: Long, maxCellSize: Int): Int =
    math.max(16, math.min(65536,
      math.ceil(2.0 * n / math.max(1, maxCellSize)).toInt))

  /** One-row cell-size distribution of a spherical-k-means clustering and
    * what `maxCellSize` would drop — the diagnostic face of the semantic-
    * dedup quadratic guard: k, cell count,
    * the largest cell, multi-row cells, dropped cells, and the cosine
    * pairs those drops avoided (each m-cell would emit m(m-1)/2). */
  def semanticCellStats(df: DataFrame, vecCol: String, idCol: String,
                        k: Int = 0, iters: Int = 2,
                        maxCellSize: Int = 10000): DataFrame = {
    val kk = if (k > 0) k else semanticK(df.count(), maxCellSize)
    val index = Similarity.buildIvfIndex(df, vecCol, idCol, kk, iters,
      persist = false)
    cellStats(index.cells, kk, maxCellSize)
  }

  private def cellStats(cells: DataFrame, k: Int, maxCellSize: Int): DataFrame =
    cells.groupBy("__cell").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("cells"),
        max(col("sz")).as("max_cell"),
        sum(when(col("sz") > 1, 1).otherwise(0)).as("multi_cells"),
        sum(when(col("sz") > maxCellSize, 1).otherwise(0)).as("dropped_cells"),
        sum(when(col("sz") > maxCellSize,
          (col("sz") * (col("sz") - 1) / 2).cast("long")).otherwise(0L))
          .as("pairs_avoided"))
      .select(lit(k).as("k"), col("cells"), col("max_cell"),
        col("multi_cells"), col("dropped_cells"), col("pairs_avoided"))

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space with spherical k-means (the same cells an
    * IVF ANN index uses — Similarity.buildIvfIndex), then compare cosines
    * only WITHIN each cell and drop every row that has a lower-id in-cell
    * neighbor above `minCosine`. Scale shape: the quadratic term is bounded
    * at (N/k)² per cell instead of N² overall, the pair join is a plain
    * equi-join on the cell id (shuffle keys = one int), and `maxCellSize`
    * guards a degenerate clustering the same way maxBucketSize guards LSH
    * buckets. Semantic near-dups are parallel-ish vectors, which k-means
    * cannot separate — they normalize to (floating-point-close) the same
    * unit vector, so same-cell candidacy holds by construction.
    *
    * `k <= 0` (the default) derives k from the corpus size via
    * [[semanticK]] so cells sit well under the cap at any scale. The guard
    * is LOUD: dropped cells are logged with their avoided pair count, and
    * a clustering where EVERY candidate-bearing cell exceeds the cap
    * throws (the operator would otherwise return zero drops while
    * silently comparing nothing) — [[semanticCellStats]] is the
    * diagnostic to run when that fires.
    *
    * Returns the DROP decisions: (dropped = the higher id, keeper = its
    * minimum qualifying lower-id neighbor, cosine to that keeper). Rows
    * absent from the output survive curation. */
  def semanticDedupDrops(df: DataFrame, vecCol: String, idCol: String,
                         minCosine: Double = 0.95, k: Int = 0,
                         iters: Int = 2, maxCellSize: Int = 10000): DataFrame = {
    val kk = if (k > 0) k else semanticK(df.count(), maxCellSize)
    val index = Similarity.buildIvfIndex(df, vecCol, idCol, kk, iters,
      persist = false)
    val cells0 = index.cells
    // guard stats: one k-row aggregate over the checkpointed cell table,
    // collected driver-side (a single row) so degeneracy FAILS here
    // instead of surfacing as a plausible-looking empty result
    val st = cellStats(cells0, kk, maxCellSize).collect().head
    val (multi, dropped, avoided) =
      (st.getAs[Long]("multi_cells"), st.getAs[Long]("dropped_cells"),
        st.getAs[Long]("pairs_avoided"))
    if (multi > 0 && dropped == multi)
      throw new IllegalStateException(
        s"semanticDedupDrops: every candidate-bearing cell ($multi) exceeds " +
          s"maxCellSize=$maxCellSize (max cell ${st.getAs[Long]("max_cell")}) — " +
          s"the operator would compare nothing. Raise k (got $kk) or " +
          s"maxCellSize; see Dedup.semanticCellStats for the distribution.")
    if (dropped > 0)
      // slf4j (Spark's own logging front), not System.err — stderr prints
      // vanish into executor/driver log noise on a real cluster
      org.slf4j.LoggerFactory.getLogger(Dedup.getClass).warn(
        s"semanticDedupDrops: $dropped of $multi candidate-bearing cells " +
          s"exceed maxCellSize=$maxCellSize; skipping them avoided " +
          s"$avoided cosine pairs (k=$kk)")
    val smallCells = cells0.groupBy("__cell").agg(count(lit(1)).as("__csz"))
      .where(col("__csz") <= maxCellSize && col("__csz") > 1).drop("__csz")
    val cells = cells0.join(smallCells, "__cell")
    val a = cells.select(col(idCol).as("d1"), col(vecCol).as("v1"), col("__cell"))
    val b = cells.select(col(idCol).as("d2"), col(vecCol).as("v2"), col("__cell"))
    a.join(b, "__cell").where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        Similarity.cosine(col("v1"), col("v2")).as("cosine"))
      .where(col("cosine") >= minCosine)
      // cell assignment is a function of the vector, so each pair meets in
      // exactly one cell — no distinct needed before the keeper pick
      .groupBy(col("d2").as("dropped"))
      .agg(min(col("d1")).as("keeper"),
        min_by(col("cosine"), col("d1")).as("cosine"))
  }

  /** Embedding near-dup pairs above a cosine threshold, candidates bucketed
    * by random-hyperplane LSH signature (see Similarity.planeSignature) so
    * the pair join stays within buckets at scale. Exact cosine verify. */
  def embeddingNearDupPairs(df: DataFrame, vecCol: String, idCol: String,
                            minCosine: Double = 0.95, planes: Int = 8,
                            maxBucketSize: Int = 10000): DataFrame = {
    val sig0 = df.select(col(idCol), col(vecCol),
      Similarity.planeSignature(col(vecCol), planes).as("bucket"))
    val smallBuckets = sig0.groupBy("bucket").agg(count(lit(1)).as("__bsz"))
      .where(col("__bsz") <= maxBucketSize && col("__bsz") > 1).drop("__bsz")
    val sig = sig0.join(smallBuckets, "bucket")
    val a = sig.select(col(idCol).as("d1"), col(vecCol).as("v1"), col("bucket"))
    val b = sig.select(col(idCol).as("d2"), col(vecCol).as("v2"), col("bucket"))
    // no dedup pass: the signature is a function of the vector, so each
    // doc lives in exactly ONE bucket and a pair can only meet once (the
    // historical .distinct() re-shuffled the operator's largest
    // intermediate for no semantic effect — semanticDedupDrops documents
    // the same single-bucket argument)
    a.join(b, "bucket").where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        Similarity.cosine(col("v1"), col("v2")).as("cosine"))
      .where(col("cosine") >= minCosine)
  }
}
