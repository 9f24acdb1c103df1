package graft.profile

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Lake

/** Column profiling — the reference's core aggregation
  * (SchemaExtraction/extract_schema.py:40–77), re-expressed as one melt
  * and two hash aggregations for the WHOLE lake (the reference is
  * per-column pandas loops): the plan's job, stage and exchange counts do
  * not grow with the number of tables or columns.
  *
  * Output grain: one row per (table, column) with
  *   inferred_type ∈ {integer, float, datetime, string}
  *     (extract_schema.py:11–20 dtype mapping),
  *   row_count, num_values (non-null count), nulls,
  *   min_len / max_len / avg_len of the string-cast values
  *     (stats on astype(str), extract_schema.py:49–72; avg rounded to 2),
  *   values_sample: first `sampleSize` distinct values in first-seen order
  *     (pandas unique() order, extract_schema.py:33, 74–77),
  *   most_common_values: top `topK` by frequency — consumed by the embedding
  *     prompt (join_discoverer.py:117–119) but never produced by the
  *     reference profiler; we produce it properly (SURVEY.md §1.4).
  */
object Profiler {

  /** Reference dtype → four-type system (extract_schema.py:11–20). */
  def inferType(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType => "integer"
    case FloatType | DoubleType | _: DecimalType       => "float"
    case TimestampType | TimestampNTZType | DateType   => "datetime"
    case _                                             => "string"
  }

  /** Backtick-quoted column reference: `col(name)` PARSES its argument
    * (dots = struct-field access), so a legal parquet column named
    * "user.id" would fail resolution in every data-derived reference —
    * quote anything whose name comes from a schema, not from our code.
    */
  private def qcol(name: String) = col("`" + name.replace("`", "``") + "`")

  /** Scalar per-column stats in ONE aggregation pass — no melt, no
    * wide shuffle. Partial (map-side) aggregation reduces each partition to
    * 4·|columns|+1 values, so the shuffle is O(columns), not O(rows): at
    * 100 TB this is the difference between shuffling 11× the table and
    * shuffling a few KB. The single stats row is then exploded back to the
    * one-row-per-column catalog grain.
    */
  def profileStats(df: DataFrame, tableName: String): DataFrame = {
    val fields = df.schema.fields
    val aggs = count(lit(1)).as("__rc") +: fields.toSeq.flatMap { f =>
      val v = length(qcol(f.name).cast("string"))
      Seq(
        count(qcol(f.name)).as(s"__nv_${f.name}"),
        min(v).as(s"__mn_${f.name}"),
        max(v).as(s"__mx_${f.name}"),
        avg(v).as(s"__av_${f.name}"))
    }
    val entries = fields.map { f =>
      struct(
        lit(f.name).as("column"),
        lit(inferType(f.dataType)).as("inferred_type"),
        qcol(s"__nv_${f.name}").as("num_values"),
        qcol(s"__mn_${f.name}").cast(LongType).as("min_len"),
        qcol(s"__mx_${f.name}").cast(LongType).as("max_len"),
        round(qcol(s"__av_${f.name}"), 2).as("avg_len"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("__rc").as("row_count"), explode(array(entries: _*)).as("e"))
      .select(
        lit(tableName).as("table"),
        col("e.column").as("column"),
        col("e.inferred_type"),
        col("row_count"),
        col("e.num_values"),
        (col("row_count") - col("e.num_values")).as("nulls"),
        col("e.min_len"), col("e.max_len"), col("e.avg_len"))
  }

  /** Full profile of one table: the one-table case of [[profileTables]]. */
  def profileTable(
      df: DataFrame,
      tableName: String,
      sampleSize: Int = 30,
      topK: Int = 20): DataFrame =
    profileTables(Seq(tableName -> df), sampleSize, topK)

  /** Full profile of many tables in ONE melted plan: every table's rows
    * become `(cid, value, __rid)` rows, where `cid` is the column's int
    * ordinal across all tables (an int key keeps the post-shuffle hash
    * aggregates cheap; `(table, column)` strings made them the hottest
    * executor frame), and the union feeds two aggregations:
    *
    *  - `groupBy(cid, value)` → `cnt` and `first_rid` (map-side partial
    *    aggregation, so the shuffle carries distinct values, not rows);
    *  - `groupBy(cid)` derives every output column from those counts:
    *    `row_count = Σcnt`, `num_values = Σcnt` over non-null values,
    *    min/max length over the distinct values, `avg_len =
    *    round(Σcnt·len / num_values, 2)` (bit-equal to `round(avg(len),
    *    2)`: both divide the same exact integer sum by the same count),
    *    and both samples from ONE partial-top-k pass
    *    ([[graft.functions.AggExpressions.boundedTopK]]): each task keeps
    *    a k-sized buffer per column, where a ranking window would route
    *    every distinct value of a column through one reducer.
    *
    * A driver-side schema catalog `(cid, table, column, inferred_type)`
    * is left-joined last to restore the names, so a zero-row table still
    * profiles (counts 0, lengths and samples null). A column with no
    * non-null value keeps `null` samples, not empty arrays. `__rid` is
    * per table, so first-seen order compares rows of one table only.
    */
  private[graft] def profileTables(
      tables: Seq[(String, DataFrame)],
      sampleSize: Int = 30,
      topK: Int = 20): DataFrame = {
    import graft.functions.AggExpressions.boundedTopK
    require(tables.nonEmpty, "profileTables: no tables")
    val spark = tables.head._2.sparkSession
    val columns = for ((t, df) <- tables; f <- df.schema.fields) yield (t, f)
    val catalog = spark.createDataFrame(columns.zipWithIndex.map {
        case ((t, f), cid) => (cid, t, f.name, inferType(f.dataType))
      }).toDF("cid", "table", "column", "inferred_type")

    val firstCid = tables.scanLeft(0)(_ + _._2.schema.length)
    val melted = tables.zip(firstCid).map { case ((_, df), base) =>
      df.withColumn("__rid", monotonically_increasing_id())
        .select(col("__rid"), explode(array(df.schema.fields.zipWithIndex.map {
          case (f, i) =>
            struct(lit(base + i).as("cid"), qcol(f.name).cast("string").as("value"))
        }: _*)).as("kv"))
        .select(col("kv.cid"), col("kv.value"), col("__rid"))
    }.reduce(_.union(_))

    val valueCounts = melted
      .groupBy("cid", "value")
      .agg(count(lit(1)).as("cnt"), min("__rid").as("first_rid"))

    val present = col("value").isNotNull
    val len = length(col("value"))
    // first-seen order = (first_rid ASC, value ASC); top-by-frequency =
    // (cnt DESC, value ASC) ≡ (-cnt ASC, value ASC); null values are
    // skipped by boundedTopK
    val stats = valueCounts
      .groupBy("cid")
      .agg(
        sum("cnt").as("row_count"),
        sum(when(present, col("cnt")).otherwise(lit(0L))).as("num_values"),
        min(len).cast(LongType).as("min_len"),
        max(len).cast(LongType).as("max_len"),
        sum(col("cnt") * len).as("len_sum"),
        boundedTopK(col("first_rid"), col("value"), sampleSize)
          .as("values_sample"),
        boundedTopK(-col("cnt"), col("value"), topK)
          .as("most_common_values"))

    val nonNull = col("num_values") > 0
    catalog
      .join(broadcast(stats), Seq("cid"), "left")
      .withColumn("row_count", coalesce(col("row_count"), lit(0L)))
      .withColumn("num_values", coalesce(col("num_values"), lit(0L)))
      .select(
        col("table"), col("column"), col("inferred_type"), col("row_count"),
        col("num_values"), (col("row_count") - col("num_values")).as("nulls"),
        col("min_len"), col("max_len"),
        // the guard keeps ANSI mode's divide-by-zero off all-null columns
        round(when(nonNull,
          col("len_sum").cast(DoubleType) / col("num_values").cast(DoubleType)),
          2).as("avg_len"),
        when(nonNull, col("values_sample")).as("values_sample"),
        when(nonNull, col("most_common_values")).as("most_common_values"))
  }

  /** A4: head-rows sample as records (`sample_rows` in the reference's
    * table summary, extract_schema.py:45 — first `n` rows as string maps).
    */
  def sampleRows(df: DataFrame, n: Int = 3): Seq[Map[String, String]] = {
    val cols = df.columns
    df.limit(n).collect().map { r =>
      cols.zipWithIndex.map { case (c, i) =>
        c -> Option(r.get(i)).map(_.toString).orNull
      }.toMap
    }.toSeq
  }

  /** Profile every table of the lake (stats only — cheap, oracle-friendly).
    * Tables load concurrently ([[Lake.tables]]) — the serial footer reads
    * otherwise dominate the catalog pass.
    */
  def profileLakeStats(spark: SparkSession, dir: String,
      tables: Seq[String] = Lake.lakeTables): DataFrame =
    Lake.tables(spark, dir, tables)
      .map { case (t, df) => profileStats(df, t) }
      .reduce(_.unionByName(_))

  /** Profile every table of the lake with samples (the SemLink input),
    * in one [[profileTables]] plan.
    */
  def profileLake(spark: SparkSession, dir: String,
      tables: Seq[String] = Lake.lakeTables,
      sampleSize: Int = 30, topK: Int = 20): DataFrame =
    profileTables(Lake.tables(spark, dir, tables), sampleSize, topK)
}
