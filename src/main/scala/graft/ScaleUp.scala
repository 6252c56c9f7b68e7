package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic N× scale-up of a driver-generated sf dir, for gating past
  * sf0.1 (VERDICT r15 #5). The driver only generates sf0.001/0.01/0.1; this
  * replicates sf0.1 `factor`× with key remapping so every gate query (and
  * its DuckDB oracle, which runs on the SAME scaled tables) exercises 10×
  * the data — the point is to catch constants that only bite past sf0.1
  * (bucket caps, broadcast guards, exchange sizing), not to re-derive the
  * TPC-H distributions.
  *
  * Replication rules (replica i of `factor`):
  *  - region/nation: fixed tables, copied once (as at any TPC-H SF).
  *  - customer/orders/lineitem/part/supplier/events: every key column gets
  *    a replica stride (1e9) so referential integrity holds within each
  *    replica and never collides across replicas; money/balance/value
  *    columns get a +i cent/millis perturbation so cross-replica rows are
  *    never exact value-ties (top-k gate rows would otherwise become
  *    order-ambiguous between Spark and the oracle).
  *  - documents: doc_id strided; every TOKEN of `text` is suffixed with the
  *    replica id, which preserves the intra-replica near-dup structure
  *    exactly while making replica vocabularies disjoint (no artificial
  *    cross-replica near-dup clusters — new data is genuinely new, as it
  *    would be at a real higher SF); n_chars recomputed to stay consistent.
  *  - embeddings: vec_id strided; replica i's vectors are CYCLICALLY
  *    ROTATED by 7i components, NEGATED past i >= dim, and Rademacher-
  *    sign-flipped per 2*dim-replica block past i >= 2*dim (each step
  *    preserves norms and all intra-replica pairwise
  *    cosines exactly, cross-replica directions decorrelated —
  *    without this every replica is a cosine-0.9999 near-dup of replica
  *    0 and the near-dup/semantic-dedup gate rows drown in cross-replica
  *    pairs their oracles never planted), plus a deterministic hash
  *    jitter (~1e-4 vs unit-ish coords) so no residual top-k ties.
  *
  * The stride is 1e9: several gate fixtures PLANT near-dup rows at
  * id + 1e7 / 2e7, so a 1e7 stride collides replica-1 ids with planted
  * ids (measured: p11's media join fans out 4× on the 40 collided ids).
  *
  * Layout matches the driver's: one plain parquet FILE per table (DuckDB's
  * read_parquet in tools/selfcheck.py reads files, not directories).
  *
  * Usage: graft.ScaleUp <srcSfDir> <dstDir> [factor=10] [tables,csv]
  * (the optional 4th arg limits generation to the named tables — for
  * targeted big-factor survival proofs, e.g. orders@x1000 for q35,
  * where writing every table would take an hour for one query's rig)
  */
object ScaleUp {
  private val Stride = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val onlyTables: Option[Set[String]] =
      if (args.length > 3 && args(3).nonEmpty)
        Some(args(3).split(",").map(_.trim).toSet) else None
    val s = Sessions.local()
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dst))

    def writeOne(df: DataFrame, name: String): Unit = {
      if (onlyTables.exists(!_.contains(name))) return
      val tmp = s"$dst/.tmp-$name"
      // single FILE per table (the driver layout; DuckDB's read_parquet
      // wants a file), but 1 MB row groups: a parquet scan is splittable
      // ONLY at row-group boundaries, and these text tables compress so
      // well (150k docs = 17.6 MB) that default 128 MB groups give the
      // whole scaled corpus ONE scan task — while the per-row text
      // kernels above it carry ~70 s of CPU. Bytes do not predict CPU
      // for compute-heavy columns; row groups must be sized for task
      // granularity (BASELINE r16 "sf1 gate" scaling note).
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", (1024 * 1024).toString)
        .parquet(tmp)
      val part = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$tmp/part-*")).head.getPath
      val out = new org.apache.hadoop.fs.Path(s"$dst/$name.parquet")
      fs.delete(out, false)
      fs.rename(part, out)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      println(s"$name: ${s.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    def tbl(name: String): DataFrame = s.read.parquet(s"$src/$name.parquet")

    // replicate: one select per replica, unioned — Catalyst folds the
    // per-replica literals, so this is `factor` scans of the source file
    // (cheap: the source is the small SF) and one linear write.
    def rep(name: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      // skip BEFORE constructing: building the factor-way union re-runs
      // analysis on a growing plan per unionByName (O(factor²)) — at
      // factor=1000 a skipped table burned minutes of driver CPU on a
      // plan writeOne then discarded
      if (onlyTables.exists(!_.contains(name))) return
      writeOne((0 until factor).map(i => f(tbl(name), i))
        .reduce(_ unionByName _), name)
    }

    def strided(c: String, i: Int) = col(c) + lit(i * Stride)
    def cents(c: String, i: Int) = col(c) + lit(i * 0.01)

    writeOne(tbl("region"), "region")
    writeOne(tbl("nation"), "nation")

    rep("customer")((d, i) => d.select(
      strided("c_custkey", i).as("c_custkey"), col("c_name"), col("c_nationkey"),
      cents("c_acctbal", i).as("c_acctbal"), col("c_mktsegment")))

    rep("supplier")((d, i) => d.select(
      strided("s_suppkey", i).as("s_suppkey"), col("s_name"), col("s_nationkey"),
      cents("s_acctbal", i).as("s_acctbal")))

    rep("part")((d, i) => d.select(
      strided("p_partkey", i).as("p_partkey"), col("p_name"), col("p_brand"),
      col("p_type"), col("p_size"),
      cents("p_retailprice", i).as("p_retailprice")))

    rep("orders")((d, i) => d.select(
      strided("o_orderkey", i).as("o_orderkey"),
      strided("o_custkey", i).as("o_custkey"), col("o_orderstatus"),
      cents("o_totalprice", i).as("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")))

    rep("lineitem")((d, i) => d.select(
      strided("l_orderkey", i).as("l_orderkey"),
      strided("l_partkey", i).as("l_partkey"),
      strided("l_suppkey", i).as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"),
      cents("l_extendedprice", i).as("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")))

    rep("events")((d, i) => d.select(
      strided("event_id", i).as("event_id"), col("ts"),
      strided("user_id", i).as("user_id"), col("event_type"),
      (col("value") + lit(i * 0.001)).as("value"), col("props")))

    rep("documents") { (d, i) =>
      val salted = regexp_replace(col("text"), "(\\S+)", "$1" + i.toString)
      d.select(strided("doc_id", i).as("doc_id"), salted.as("text"),
        col("lang"), col("source"), length(salted).cast("long").as("n_chars"))
    }

    // dim from the data, not a constant: a hardcoded 64 would silently
    // TRUNCATE a wider corpus through the rotation slices (and skip the
    // rotation entirely past shift >= dim on a narrower one)
    if (onlyTables.exists(!_.contains("embeddings"))) { s.stop(); return }
    val dim = tbl("embeddings").select(size(col("embedding")))
      .head().getInt(0)
    // (shift, flip, signs) must be pairwise distinct or two replicas
    // share a direction and become the cross-replica near-dup flood
    // again. The rotation alone offers only `dim` distinct shifts (7 is
    // coprime to the dim so the cycle is full-length); replicas past the
    // first `dim` NEGATE the rotated vector (r18, the factor-100 probe) —
    // negation preserves norms and every intra-replica pairwise cosine
    // exactly, while a formerly-shared direction lands at cosine ~ -1.
    // Replicas past 2*dim (r18, the factor-1000 probe) additionally get a
    // per-replica RADEMACHER sign pattern s ∈ {±1}^dim (deterministic,
    // driver-computed, one pattern per block of 2*dim replicas): since
    // s_k² = 1, ⟨s⊙x, s⊙y⟩ = ⟨x, y⟩ — norms and every intra-replica
    // cosine are preserved EXACTLY — while a cross-replica pair with the
    // same (shift, flip) sees ⟨s⊙x, x⟩ = Σ ±x_k², a ±-signed sum whose
    // magnitude concentrates near 1/√dim, nowhere near any near-dup
    // threshold — but that concentration is PROBABILISTIC. What the
    // driver enforces (ADVICE r18 #1: mere distinctness would admit two
    // patterns at Hamming distance 1, whose cross-replica cosine
    // 1 − 2/dim ≈ 0.97 at dim=64 EXCEEDS the 0.95 near-dup default) is
    // a pairwise minimum Hamming distance ≥ dim/4 between block
    // patterns: two replicas sharing (shift, flip) then see cosine
    // 1 − 2·Σ_{disagreeing k} x_k², = 0.5 for coordinate-flat vectors
    // and ≈ 1 − 2h/dim in expectation for the spread-mass embeddings of
    // this corpus. (For a vector concentrated on the agreeing
    // coordinates the bound is per-vector probabilistic, not exact —
    // the floor removes the DISTINCTNESS loophole, it does not replace
    // the concentration argument.) O(nBlocks²·dim) driver-side — 8
    // blocks at factor 1000, negligible.
    def signPattern(block: Int): Array[Float] =
      if (block == 0) Array.fill(dim)(1f)
      else Array.tabulate(dim) { j =>
        if (scala.util.hashing.MurmurHash3.productHash((block, j)) % 2 == 0)
          1f else -1f
      }
    val nBlocks = (factor + 2 * dim - 1) / (2 * dim)
    val patterns = (0 until nBlocks).map(b => signPattern(b))
    for (a <- patterns.indices; b <- (a + 1) until patterns.size) {
      val hamming =
        patterns(a).zip(patterns(b)).count { case (x, y) => x != y }
      require(hamming >= dim / 4,
        s"Rademacher sign patterns for blocks $a and $b are only " +
          s"Hamming-$hamming apart (need >= ${dim / 4} for cross-replica " +
          s"|cosine| <= 0.5 at dim=$dim, factor=$factor) — " +
          "change the pattern hash seed")
    }
    val keys = (0 until factor)
      .map(i => ((i * 7) % dim, (i / dim) % 2 == 1, i / (2 * dim)))
    require(keys.distinct.size == keys.size,
      s"replica (rotation, flip, sign-block) keys collide " +
        s"(dim=$dim, factor=$factor)")
    rep("embeddings") { (d, i) =>
      val shift = (i * 7) % dim
      val rotated =
        if (shift == 0) col("embedding")
        else concat(slice(col("embedding"), shift + 1, dim - shift),
          slice(col("embedding"), 1, shift))
      val oriented =
        if ((i / dim) % 2 == 1) transform(rotated, x => -x) else rotated
      val block = i / (2 * dim)
      val signed =
        if (block == 0) oriented
        else {
          val s = signPattern(block)
          transform(oriented, (x, j) =>
            x * element_at(array(s.map(lit(_)): _*), j + 1))
        }
      d.select(
        strided("vec_id", i).as("vec_id"),
        transform(signed, (x, j) =>
          (x + (pmod(hash(col("vec_id"), lit(i), j), lit(9973)) - lit(4986))
            .cast("float") * lit(1e-7f)).cast("float")).as("embedding"),
        col("label"))
    }

    s.stop()
  }
}
