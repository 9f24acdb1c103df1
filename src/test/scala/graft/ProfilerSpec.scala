package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.AggExpressions.boundedTopK
import graft.profile.Profiler
import graft.sources.Lake

class ProfilerSpec extends SparkSpec {
  import spark.implicits._

  /** The per-table profile the melted plan replaced: `profileStats` left-
    * joined with a per-table (column, value) sample aggregation. The lake
    * profile was the union of these.
    */
  private def perTableProfile(df: DataFrame, table: String): DataFrame = {
    val melted = df.withColumn("__rid", monotonically_increasing_id())
      .select(col("__rid"), explode(array(df.columns.map(c =>
        struct(lit(c).as("column"),
          col("`" + c + "`").cast("string").as("value"))): _*)).as("kv"))
      .select(col("__rid"), col("kv.column").as("column"),
        col("kv.value").as("value"))
    val samples = melted.filter(col("value").isNotNull)
      .groupBy("column", "value")
      .agg(count(lit(1)).as("cnt"), min("__rid").as("first_rid"))
      .groupBy("column")
      .agg(boundedTopK(col("first_rid"), col("value"), 30).as("values_sample"),
        boundedTopK(-col("cnt"), col("value"), 20).as("most_common_values"))
    Profiler.profileStats(df, table)
      .join(samples, Seq("column"), "left")
      .select("table", "column", "inferred_type", "row_count", "num_values",
        "nulls", "min_len", "max_len", "avg_len", "values_sample",
        "most_common_values")
  }

  /** Rows keyed by (table, column), arrays compared as sequences and
    * doubles bit for bit.
    */
  private def byColumn(df: DataFrame): Map[(String, String), Seq[Any]] =
    df.collect().map { r =>
      (r.getString(0), r.getString(1)) -> r.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case v => v
      }
    }.toMap

  private def assertSameProfile(tables: Seq[(String, DataFrame)]): Unit = {
    val got = Profiler.profileTables(tables)
    val want = tables.map { case (t, df) => perTableProfile(df, t) }
      .reduce(_.unionByName(_))
    assert(got.columns.toSeq == want.columns.toSeq)
    val (g, w) = (byColumn(got), byColumn(want))
    assert(g.size == got.count(), "one row per (table, column)")
    assert(g.keySet == w.keySet)
    w.foreach { case (key, row) =>
      assert(g(key) == row, s"profile of $key differs")
    }
  }

  test("profileLake equals the per-table profiles on every sf0.001 lake table") {
    assertSameProfile(Lake.tables(spark, sf0001, Lake.lakeTables))
    val lake = Profiler.profileLake(spark, sf0001)
    assert(lake.select("table").distinct().count() == Lake.lakeTables.size)
  }

  test("profileLake equals the per-table profiles on the sf0.01 lake") {
    // the sf0.01 tier sits beside the sf0.001 fixture
    val sf001 = new java.io.File(new java.io.File(sf0001).getParentFile, "sf0.01").getPath
    assume(new java.io.File(sf001).isDirectory, s"$sf001 not present")
    assertSameProfile(Lake.tables(spark, sf001, Lake.lakeTables))
  }

  test("profileTables: zero-row table, all-null column and dotted names") {
    val empty = df.limit(0)
    val allNull = Seq((1, Option.empty[String]), (2, None), (3, None))
      .toDF("n", "blank")
    val dotted = Seq(("x", 1), ("yy", 2), (null, 3)).toDF("user.id", "row.num")
    val tables = Seq("empty" -> empty, "t" -> df, "nulls" -> allNull,
      "dotted" -> dotted)
    assertSameProfile(tables)

    val p = Profiler.profileTables(tables).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val e = p(("empty", "s"))
    assert(e.getAs[Long]("row_count") == 0 && e.getAs[Long]("num_values") == 0 &&
      e.getAs[Long]("nulls") == 0)
    assert(e.isNullAt(e.fieldIndex("avg_len")) &&
      e.isNullAt(e.fieldIndex("values_sample")))
    val b = p(("nulls", "blank"))
    assert(b.getAs[Long]("row_count") == 3 && b.getAs[Long]("nulls") == 3)
    // an all-null column has no sample at all, not an empty one
    assert(b.isNullAt(b.fieldIndex("values_sample")) &&
      b.isNullAt(b.fieldIndex("most_common_values")))
    assert(b.isNullAt(b.fieldIndex("avg_len")) && b.isNullAt(b.fieldIndex("min_len")))
    assert(p(("dotted", "user.id")).getAs[scala.collection.Seq[String]](
      "values_sample").toSeq == Seq("x", "yy"))
  }

  private lazy val df = Seq(
    (1L, Option("aa"), Option(1.5)),
    (2L, Option("bbb"), None),
    (3L, Option("aa"), Option(22.25)),
    (4L, None, Option(1.5))
  ).toDF("id", "s", "x")

  test("profileStats: counts, nulls, length stats per column") {
    val p = Profiler.profileStats(df, "t").collect()
      .map(r => r.getAs[String]("column") -> r).toMap

    assert(p("s").getAs[Long]("row_count") == 4)
    assert(p("s").getAs[Long]("num_values") == 3)
    assert(p("s").getAs[Long]("nulls") == 1)
    assert(p("s").getAs[Long]("min_len") == 2)
    assert(p("s").getAs[Long]("max_len") == 3)
    assert(p("s").getAs[Double]("avg_len") == 2.33) // round(7/3, 2)

    assert(p("x").getAs[Long]("nulls") == 1)
    assert(p("id").getAs[String]("inferred_type") == "integer")
    assert(p("x").getAs[String]("inferred_type") == "float")
    assert(p("s").getAs[String]("inferred_type") == "string")
  }

  test("dotted column names profile instead of failing struct resolution") {
    // col("user.id") parses as struct access — every data-derived
    // reference must be backtick-quoted for a legal parquet name like this
    val dotted = Seq(("x", 1), ("yy", 2), (null, 3))
      .toDF("user.id", "row.num")
    val p = Profiler.profileTable(dotted, "t").collect()
      .map(r => r.getAs[String]("column") -> r).toMap
    assert(p("user.id").getAs[Long]("num_values") == 2)
    assert(p("user.id").getAs[Long]("nulls") == 1)
    assert(p("user.id").getAs[Long]("max_len") == 2)
    assert(p("user.id").getAs[scala.collection.Seq[String]]("values_sample")
      .toSeq == Seq("x", "yy"))
  }

  test("profileTable: first-seen distinct sample and top-K most-common") {
    val p = Profiler.profileTable(df, "t", sampleSize = 2, topK = 1).collect()
      .map(r => r.getAs[String]("column") -> r).toMap
    // first-seen distinct order for s: aa (rid 0), bbb (rid 1); cap 2
    assert(p("s").getAs[scala.collection.Seq[String]]("values_sample").toSeq == Seq("aa", "bbb"))
    // top-1 by frequency: aa (2 occurrences)
    assert(p("s").getAs[scala.collection.Seq[String]]("most_common_values").toSeq == Seq("aa"))
  }

  test("row_count equals table count for every column") {
    val lake = Profiler.profileStats(
      spark.read.parquet(s"$sf0001/nation.parquet"), "nation")
    assert(lake.collect().forall(_.getAs[Long]("row_count") == 25))
  }

  test("bounded_topk is callable from SQL and keeps (key, value) order") {
    GraftFunctions.register(spark)
    Seq(("a", 3L, "x"), ("a", 1L, "y"), ("a", 2L, "z"), ("b", 5L, "q"))
      .toDF("g", "k", "v").createOrReplaceTempView("btk_in")
    val got = spark.sql(
      "SELECT g, bounded_topk(k, v, 2) AS top FROM btk_in GROUP BY g")
      .collect().map(r => r.getString(0) ->
        r.getAs[scala.collection.Seq[String]]("top").toSeq).toMap
    assert(got("a") == Seq("y", "z")) // keys 1, 2 win; 3 evicted
    assert(got("b") == Seq("q"))
  }
}
