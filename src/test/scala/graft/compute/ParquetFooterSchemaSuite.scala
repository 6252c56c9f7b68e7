package graft.compute

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.dimension._
import graft.signal._

/** The driver-side parquet schema ([[InputLoader.parquetFooterSchema]])
  * must be exactly what `spark.read.parquet(paths)` infers — same schema,
  * same rows — or None, leaving inference to Spark. */
class ParquetFooterSchemaSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var work: String = _

  override def beforeAll(): Unit = {
    work = Files.createTempDirectory("graft_footer_schema").toString
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def withConf[T](kv: (String, String))(body: => T): T = {
    val before = spark.conf.getOption(kv._1)
    spark.conf.set(kv._1, kv._2)
    try body
    finally before match {
      case Some(v) => spark.conf.set(kv._1, v)
      case None => spark.conf.unset(kv._1)
    }
  }

  private def rows(df: DataFrame): Seq[Row] = df.orderBy("id").collect().toSeq

  private val day = "2026-08-10"
  private val daySpec = DimSpec.pretty(
    "day" -> (DimType.DATETIME, Map[String, Any]("format" -> "%Y-%m-%d")))
  /** The external input reading `<root>/<day>`. */
  private def signalOf(root: String,
                       protocol: IntegrityProtocol = IntegrityProtocol.None_) =
    Signal("ext", SignalSource.external(root, DatasetAttrs(), protocol),
      daySpec, DimFilter.branchOf(daySpec, Seq(day)))

  /** Driver schema equals Spark's inference and reads the same rows. */
  private def assertSameAsSpark(paths: String*): StructType = {
    val inferred = spark.read.parquet(paths: _*)
    val footer = InputLoader.parquetFooterSchema(spark, paths)
    assert(footer.isDefined, s"no driver-side schema for $paths")
    val declared = spark.read.schema(footer.get).parquet(paths: _*)
    assert(declared.schema == inferred.schema)
    assert(rows(declared) == rows(inferred))
    footer.get
  }

  private def sparkTable(dir: String): String = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("price", DecimalType(18, 4)),
      StructField("day", DateType),
      StructField("at", TimestampType),
      StructField("blob", BinaryType),
      StructField("addr", StructType(Seq(
        StructField("city", StringType), StructField("zip", IntegerType)))),
      StructField("tags", ArrayType(StringType)),
      StructField("attrs", MapType(StringType, DoubleType))))
    val data = (1 to 12).map { i =>
      Row(i.toLong, BigDecimal(i) / 7, java.sql.Date.valueOf(s"2026-08-${10 + i}"),
        new java.sql.Timestamp(1786000000000L + i * 1000L),
        Array[Byte](i.toByte, 7), Row(s"c$i", 10000 + i), Seq(s"t$i", "x"),
        Map(s"k$i" -> i * 0.5))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 3), schema)
      .write.parquet(dir)
    dir
  }

  /** A file written by parquet's own example writer: no Spark schema in
    * its key-value metadata, so the message type is converted. */
  private def exampleFile(path: String, message: String)
                         (fills: Seq[Group => Unit]): Unit = {
    val schema = MessageTypeParser.parseMessageType(message)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(path),
      spark.sparkContext.hadoopConfiguration)).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try fills.foreach { fill => val g = groups.newGroup(); fill(g); w.write(g) }
    finally w.close()
  }

  test("a Spark-written table: decimal, date, timestamp, binary, nested types") {
    val dir = sparkTable(s"$work/spark_table")
    val st = assertSameAsSpark(dir)
    assert(st("addr").dataType.isInstanceOf[StructType])
    assert(st("attrs").dataType.isInstanceOf[MapType])
  }

  test("a parquet file without Spark's row metadata") {
    val dir = s"$work/example"
    exampleFile(s"$dir/part-0.parquet",
      """message m {
        |  required int64 id;
        |  optional int32 qty;
        |  optional double amount;
        |  optional binary name (STRING);
        |  optional binary raw;
        |  optional int32 price (DECIMAL(9,2));
        |  optional int32 day (DATE);
        |  optional int64 local_ts (TIMESTAMP(MICROS,false));
        |  optional int64 utc_ts (TIMESTAMP(MICROS,true));
        |  optional group tags (LIST) { repeated group list { optional binary element (STRING); } }
        |}""".stripMargin)((1 to 5).map { i => (g: Group) =>
      g.append("id", i.toLong).append("qty", i).append("amount", i * 1.25)
        .append("name", s"n$i").append("raw", s"r$i").append("price", i * 100 + 1)
        .append("day", 20000 + i).append("local_ts", 1786000000000000L + i)
        .append("utc_ts", 1786000000000000L + i)
      g.addGroup("tags").addGroup("list").append("element", s"t$i")
    })
    // a non-UTC-adjusted timestamp reads as TIMESTAMP_NTZ only while
    // NTZ inference is on; both settings must match Spark
    assert(assertSameAsSpark(dir)("local_ts").dataType == TimestampNTZType)
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled" -> "false") {
      assert(assertSameAsSpark(dir)("local_ts").dataType == TimestampType)
    }
  }

  test("TIMESTAMP(NANOS): read as long under nanosAsLong, else Spark's own error") {
    val dir = s"$work/nanos/$day"
    exampleFile(s"$dir/part-0.parquet",
      "message m { required int64 id; optional int64 ts (TIMESTAMP(NANOS,false)); }"
    )((1 to 4).map { i => (g: Group) =>
      g.append("id", i.toLong).append("ts", 1786000000000000000L + i); () })
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      assert(assertSameAsSpark(dir)("ts").dataType == LongType)
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "false") {
      // no driver schema: the load fails exactly as Spark's inference does
      assert(InputLoader.parquetFooterSchema(spark, Seq(dir)).isEmpty)
      val viaSpark = intercept[Exception](spark.read.parquet(dir))
      val viaLoader = intercept[Exception](
        InputLoader.load(spark, signalOf(s"$work/nanos"), new FsProbe(spark)))
      assert(viaLoader.getClass == viaSpark.getClass)
      assert(viaLoader.getMessage == viaSpark.getMessage)
      assert(viaSpark.getMessage.contains("TIMESTAMP(NANOS,false)"))
    }
  }

  test("Spark's choice among targets: the first data file by path, not by target order") {
    val sp = spark
    import sp.implicits._
    // different schemas: Spark (no merge) takes the file that sorts first
    Seq((1L, "a")).toDF("id", "a").write.parquet(s"$work/order/d1")
    Seq((2L, 2.0)).toDF("id", "b").write.parquet(s"$work/order/d2")
    val st = assertSameAsSpark(s"$work/order/d2", s"$work/order/d1")
    assert(st.fieldNames.toSeq == Seq("id", "a"))
  }

  test("a first partition holding only _SUCCESS: the next partition's file decides") {
    val sp = spark
    import sp.implicits._
    val empty = new java.io.File(s"$work/succ/d1")
    empty.mkdirs()
    new java.io.File(empty, "_SUCCESS").createNewFile()
    Seq((1L, "x")).toDF("id", "v").write.parquet(s"$work/succ/d2")
    assertSameAsSpark(empty.getPath, s"$work/succ/d2")
  }

  test("fallbacks: summary files, sub-directories, no data, schema merging") {
    val sp = spark
    import sp.implicits._
    val table = s"$work/summary"
    Seq((1L, "x"), (2L, "y")).toDF("id", "v").coalesce(1).write.parquet(table)
    Seq((1L, 1.0)).toDF("id", "w").coalesce(1).write.parquet(s"$work/other")
    val otherFile = new java.io.File(s"$work/other").listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath
    Files.copy(otherFile, java.nio.file.Paths.get(table, "_common_metadata"))
    assert(InputLoader.parquetFooterSchema(spark, Seq(table)).isEmpty)
    assert(rows(spark.read.parquet(table)).map(_.getLong(0)) == Seq(1L, 2L))

    val metaTable = s"$work/meta"
    Seq((3L, "z")).toDF("id", "v").write.parquet(metaTable)
    Files.copy(otherFile, java.nio.file.Paths.get(metaTable, "_metadata"))
    assert(InputLoader.parquetFooterSchema(spark, Seq(metaTable)).isEmpty)

    val partitioned = s"$work/partitioned"
    Seq((1L, "a"), (2L, "b")).toDF("id", "k").write.partitionBy("k").parquet(partitioned)
    assert(InputLoader.parquetFooterSchema(spark, Seq(partitioned)).isEmpty)

    val bare = new java.io.File(s"$work/bare")
    bare.mkdirs()
    new java.io.File(bare, "_SUCCESS").createNewFile()
    assert(InputLoader.parquetFooterSchema(spark, Seq(bare.getPath)).isEmpty)

    val plain = s"$work/plain"
    Seq((4L, "p")).toDF("id", "v").write.parquet(plain)
    assert(InputLoader.parquetFooterSchema(spark, Seq(plain)).isDefined)
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      assert(InputLoader.parquetFooterSchema(spark, Seq(plain)).isEmpty)
    }
  }

  test("a vendor manifest.json marker: InputLoader reads the data files alone") {
    val sp = spark
    import sp.implicits._
    val root = s"$work/vendor"
    val part = s"$root/$day"
    Seq((1L, "x"), (2L, "y")).toDF("id", "v").write.parquet(part)
    Files.write(java.nio.file.Paths.get(part, "manifest.json"), "{}".getBytes("UTF-8"))
    // the marker sorts before the part files: no footer to read there
    assert(InputLoader.parquetFooterSchema(spark, Seq(part)).isEmpty)
    val loaded = InputLoader.load(spark,
      signalOf(root, IntegrityProtocol.FileCheck(Seq("manifest.json"))),
      new FsProbe(spark))
    val dataFiles = new java.io.File(part).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getPath).toSeq
    val direct = spark.read.parquet(dataFiles: _*)
    assert(loaded.schema == direct.schema)
    assert(rows(loaded) == rows(direct))
  }
}
