package graft

import org.apache.spark.sql.types._

/** Testdata drift guard. The driver regenerates `/root/testdata` between
  * rounds and has already changed a physical encoding once (`events.ts`:
  * parquet timestamp[ns] → timestamp[us]), which broke nine queries as nine
  * scattered analysis errors. This spec pins the Spark-BOUND dtype of every
  * column the 101 `SparkEntry.catalog` queries assume, so a future regeneration
  * surfaces as ONE loud, specific failure naming the drifted column.
  *
  * `events.ts` is intentionally looser: it asserts membership in the set of
  * encodings `SparkEntry.events` adapts (BIGINT nanos / TIMESTAMP_NTZ /
  * TIMESTAMP) — drift WITHIN that set is handled, drift OUTSIDE it fails
  * both here and in the accessor's own IllegalStateException.
  */
class SchemaContractSpec extends SparkSpec {

  private def bound(table: String): Map[String, DataType] =
    spark.read.parquet(s"$sf/$table.parquet").schema
      .fields.map(f => f.name -> f.dataType).toMap

  private def assertTable(table: String, expect: (String, DataType)*): Unit = {
    val got = bound(table)
    val missing = expect.collect { case (c, _) if !got.contains(c) => c }
    assert(missing.isEmpty,
      s"testdata drift: $table lost column(s) ${missing.mkString(", ")} — " +
        s"present: ${got.keys.toSeq.sorted.mkString(", ")}")
    val drifted = expect.collect {
      case (c, t) if got(c) != t => s"$c: expected $t, bound ${got(c)}"
    }
    assert(drifted.isEmpty,
      s"testdata drift: $table column dtype changed — ${drifted.mkString("; ")}. " +
        "Audit every query reading this column before re-pinning.")
  }

  test("TPC-H-ish tables keep their bound dtypes") {
    assertTable("region", "r_regionkey" -> IntegerType, "r_name" -> StringType)
    assertTable("nation", "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType)
    assertTable("customer", "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType)
    assertTable("supplier", "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType)
    assertTable("part", "p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType)
    assertTable("orders", "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderpriority" -> StringType)
    assertTable("lineitem", "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType)
  }

  test("date/timestamp columns bind to a temporal type") {
    // o_orderdate / l_shipdate are only compared via date_trunc-style exprs;
    // any temporal binding works, a non-temporal one would break analysis
    for ((t, c) <- Seq("orders" -> "o_orderdate", "lineitem" -> "l_shipdate")) {
      val dt = bound(t)(c)
      assert(dt == TimestampType || dt == TimestampNTZType || dt == DateType,
        s"testdata drift: $t.$c bound as $dt, queries assume a temporal type")
    }
  }

  test("events keeps the contract of SparkEntry.events and the changelog fixture") {
    assertTable("events", "event_id" -> LongType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType)
    val ts = bound("events")("ts")
    assert(ts == LongType || ts == TimestampType || ts == TimestampNTZType,
      s"testdata drift: events.ts bound as $ts — outside the encodings " +
        "SparkEntry.events adapts (BIGINT nanos / TIMESTAMP / TIMESTAMP_NTZ); " +
        "teach the accessor the new encoding and re-pin here")
  }

  test("documents and embeddings keep the text/ANN pipeline contract") {
    assertTable("documents", "doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType)
    assertTable("embeddings", "vec_id" -> LongType, "label" -> IntegerType)
    // containsNull is a parquet nullability detail no query depends on
    bound("embeddings")("embedding") match {
      case ArrayType(FloatType, _) => ()
      case other => fail(s"testdata drift: embeddings.embedding bound as $other, " +
        "ANN queries assume array<float>")
    }
  }

  test("SparkEntry.events yields canonical BIGINT ts_us on the current data") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val df = SparkEntry.query("q_window_agg").build(spark, sf)
    assert(df.schema("hour_bucket").dataType == LongType)
    assert(df.limit(1).count() == 1)
  }

  test("SparkEntry.events adapts every encoding to the same ts_us values") {
    // write the same instants three ways — BIGINT nanos (the pre-round-10
    // testdata encoding), TIMESTAMP_NTZ (the current one), TIMESTAMP — and
    // the accessor must yield identical µs under the UTC session zone
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val micros = Seq(0L, 1500000L, 86400000000L, 1700000000123456L)
    val base = micros.zipWithIndex.map { case (us, i) => (i.toLong, us) }
      .toDF("event_id", "us")
    def dirFor(make: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): String = {
      val d = tempDir("graft-evts")
      make(base).write.mode("overwrite").parquet(s"$d/events.parquet")
      d
    }
    val asNanos = dirFor(_.select(col("event_id"), (col("us") * 1000).as("ts")))
    val asNtz = dirFor(_.select(col("event_id"),
      timestamp_micros(col("us")).cast(TimestampNTZType).as("ts")))
    val asLtz = dirFor(_.select(col("event_id"), timestamp_micros(col("us")).as("ts")))
    for (d <- Seq(asNanos, asNtz, asLtz)) {
      val got = SparkEntry.events(d).orderBy("event_id")
        .select("ts_us").as[Long].collect().toSeq
      assert(got === micros, s"encoding at $d")
    }
  }

  test("fixture VALUE conventions the queries filter on still hold") {
    import org.apache.spark.sql.functions._
    // dtype drift fails loudly in analysis; VALUE drift fails silently —
    // a regenerated fixture with different constants would leave the
    // brand/nation/source-filtered queries degenerate (empty == empty
    // still hash-matches). Pin every literal domain a query selects on.
    def distinctOf(table: String, c: String): Set[String] =
      spark.read.parquet(s"$sf/$table.parquet")
        .select(col(c).cast("string")).distinct()
        .collect().map(_.getString(0)).toSet
    val brands = distinctOf("part", "p_brand")
    assert(Set("Brand#12", "Brand#23", "Brand#4").subsetOf(brands),
      s"q17/q19 brand literals drifted — brands now: $brands")
    assert(distinctOf("part", "p_type").contains("PROMO"), "q14 PROMO type drifted")
    val nations = distinctOf("nation", "n_name")
    assert(Set("NATION_1", "NATION_2").subsetOf(nations),
      s"q7 nation literals drifted — $nations")
    assert(distinctOf("orders", "o_orderstatus").contains("F"), "q21 status 'F' drifted")
    assert(distinctOf("orders", "o_orderpriority").contains("1-URGENT"),
      "q22 priority literal drifted")
    assert(distinctOf("lineitem", "l_returnflag").contains("R"), "q10 returnflag drifted")
    assert(distinctOf("events", "event_type") ==
      Set("signup", "click", "view", "purchase", "error"),
      "event_type domain drifted — audit funnel/changelog/stream queries")
    val sources = distinctOf("documents", "source")
    assert(sources.exists(_ < "src2") && sources.exists(_ >= "src2"),
      s"q_drift_langmix slice boundary 'src2' no longer splits — sources: $sources")
    assert(spark.read.parquet(s"$sf/documents.parquet")
      .where(col("lang").isNotNull).limit(1).count() == 1,
      "documents.lang all-null — language-keyed queries degenerate")
  }
}
