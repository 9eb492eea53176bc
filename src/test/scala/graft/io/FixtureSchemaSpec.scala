package graft.io

import graft.SparkSpec
import org.apache.spark.sql.types._

/** Fixture-schema drift guard.
  *
  * The fixtures are generated outside this repo and have been regenerated
  * before — once switching `events.ts` from parquet TIMESTAMP(NANOS) to
  * timestamp[us], which a hard-coded reader turned into 26 scattered query
  * errors. This spec pins the schema every engine component assumes, AS
  * SEEN THROUGH `Tables.apply` (i.e. after any reader normalization), so the next fixture regeneration fails as one
  * obvious assertion here instead of a pile of analysis errors elsewhere.
  *
  * Timestamp-ish columns accept either TIMESTAMP or TIMESTAMP_NTZ: which one
  * Spark infers depends on the file's isAdjustedToUTC flag, both behave
  * identically under the UTC session the engine pins, and the reader is
  * required to normalize any raw encoding (including int64 nanos) to one of
  * them.
  */
class FixtureSchemaSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private val tsLike: Set[DataType] = Set(TimestampType, TimestampNTZType)

  /** name -> expected type; None = any timestamp type (see above). */
  private val expected: Map[String, Seq[(String, Option[DataType])]] = Map(
    "region" -> Seq("r_regionkey" -> Some(IntegerType), "r_name" -> Some(StringType)),
    "nation" -> Seq("n_nationkey" -> Some(IntegerType), "n_name" -> Some(StringType),
      "n_regionkey" -> Some(IntegerType)),
    "customer" -> Seq("c_custkey" -> Some(LongType), "c_name" -> Some(StringType),
      "c_nationkey" -> Some(IntegerType), "c_acctbal" -> Some(DoubleType),
      "c_mktsegment" -> Some(StringType)),
    "supplier" -> Seq("s_suppkey" -> Some(LongType), "s_name" -> Some(StringType),
      "s_nationkey" -> Some(IntegerType), "s_acctbal" -> Some(DoubleType)),
    "part" -> Seq("p_partkey" -> Some(LongType), "p_name" -> Some(StringType),
      "p_brand" -> Some(StringType), "p_type" -> Some(StringType),
      "p_size" -> Some(IntegerType), "p_retailprice" -> Some(DoubleType)),
    "orders" -> Seq("o_orderkey" -> Some(LongType), "o_custkey" -> Some(LongType),
      "o_orderstatus" -> Some(StringType), "o_totalprice" -> Some(DoubleType),
      "o_orderdate" -> None, "o_orderpriority" -> Some(StringType)),
    "lineitem" -> Seq("l_orderkey" -> Some(LongType), "l_partkey" -> Some(LongType),
      "l_suppkey" -> Some(LongType), "l_linenumber" -> Some(IntegerType),
      "l_quantity" -> Some(DoubleType), "l_extendedprice" -> Some(DoubleType),
      "l_discount" -> Some(DoubleType), "l_tax" -> Some(DoubleType),
      "l_returnflag" -> Some(StringType), "l_linestatus" -> Some(StringType),
      "l_shipdate" -> None),
    "events" -> Seq("event_id" -> Some(LongType), "ts" -> None,
      "user_id" -> Some(LongType), "event_type" -> Some(StringType),
      "value" -> Some(DoubleType), "props" -> Some(StringType)),
    "documents" -> Seq("doc_id" -> Some(LongType), "text" -> Some(StringType),
      "lang" -> Some(StringType), "source" -> Some(StringType),
      "n_chars" -> Some(LongType)),
    "embeddings" -> Seq("vec_id" -> Some(LongType),
      "embedding" -> Some(ArrayType(FloatType)), "label" -> Some(IntegerType))
  )

  for (name <- Tables.names) test(s"$name fixture schema matches engine assumptions") {
    val schema = Tables(spark, sfDir, name).schema
    val exp = expected(name)
    assert(schema.fieldNames.toSeq == exp.map(_._1),
      s"$name column drift: fixture=${schema.fieldNames.toSeq} expected=${exp.map(_._1)}")
    exp.foreach {
      case (col, Some(dt)) =>
        assert(schema(col).dataType == dt,
          s"$name.$col drifted to ${schema(col).dataType} (expected $dt)")
      case (col, None) =>
        assert(tsLike.contains(schema(col).dataType),
          s"$name.$col drifted to ${schema(col).dataType} (expected a timestamp type; " +
            "if the fixture regenerated with a new raw encoding, teach " +
            "Tables.apply to normalize it)")
    }
  }

  test("events reader normalizes regardless of raw encoding (nanos or µs)") {
    // Post-reader, ts must be usable as a timestamp in expressions.
    val df = Tables.events(spark, sfDir)
    val row = df.selectExpr("min(ts)", "max(ts)").head()
    assert(!row.isNullAt(0) && !row.isNullAt(1))
  }

  test("reading events leaves the session's conf untouched") {
    val session = spark.newSession()
    val before = session.conf.getAll
    Tables.events(session, sfDir).schema
    assert(session.conf.getAll == before)
  }

  test("a NANOS events.ts opens on the GraftSession contract and names it when missing") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = java.nio.file.Files.createTempDirectory("graft-nanos-events").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).build()
    w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1700000000123456789L))
    w.close()
    val bare = spark.newSession()
    bare.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    def refused(): Unit = {
      val e = intercept[IllegalStateException](Tables.events(bare, dir))
      assert(e.getMessage.contains("GraftSession"), e.getMessage)
    }
    refused() // schema inference fails without the conf
    val ts = Tables.events(spark, dir).selectExpr("cast(ts AS STRING)").head.getString(0)
    assert(ts == "2023-11-14 22:13:20.123456")
    refused() // the memoized LongType schema is refused too
  }
}
