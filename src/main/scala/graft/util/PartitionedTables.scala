package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The on-disk protocol BM25 ([[graft.text.Bm25Index]]) and LSH
  * ([[graft.dedup.LshDedupIndex]]) share: a one-row `params/` table, a
  * `partitioned` table split into directories by `partitionCol` (BM25
  * postings by term bucket, LSH bands by band) and a `commitTable`
  * (doclens, signatures) whose row makes a document live.
  *
  * Writes stage the partitioned rows first; the commit-table write is the
  * commit point. A crash between the two leaves partitioned rows that no
  * commit row matches on `keys`. Probes join on those keys, so the rows
  * are invisible, and [[vacuum]] reclaims them. A retried append stages
  * its partitioned rows twice: identical rows, collapsed by the probes
  * and by [[vacuum]].
  *
  * Both explicit schemas are read on every scan: an index built over an
  * empty corpus writes no part files, and a schema-less read of it would
  * throw instead of returning no rows.
  */
private[graft] final class PartitionedTables(
    name: String,
    partitioned: String,
    partitionCol: String,
    commitTable: String,
    keys: Seq[String],
    partitionedSchema: StructType,
    commitSchema: StructType) {

  private val tables = Seq("params", partitioned, commitTable)
  private val BuildMarker = "_build_commit"

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  def readPartitioned(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(partitionedSchema).parquet(s"$dir/$partitioned")

  def readCommitted(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(commitSchema).parquet(s"$dir/$commitTable")

  /** Crash recovery for the build's marker-protected swap and for
    * markerless `.tmp`/`.old` debris (a crashed [[vacuum]] swap), run at
    * every writer entry.
    */
  def recover(spark: SparkSession, dir: String): Unit =
    StagedTables.recover(fs(spark, dir), dir, BuildMarker, tables)(
      _ => IngestState.clear(spark, dir))

  /** Commit a build staged as `<table>.tmp` by one marker-protected swap
    * of all three tables. Sequenced live overwrites could crash between
    * the params and the data, leaving new params over rows computed under
    * the old ones. The ingest state is cleared inside the marker window,
    * so a crash replays the clear, and a crash before the marker keeps
    * the previous index with its watermark. The marker's op is empty:
    * build is its only op.
    */
  def commitBuild(spark: SparkSession, dir: String): Unit =
    StagedTables.commit(fs(spark, dir), dir, BuildMarker, "", tables)(
      _ => IngestState.clear(spark, dir))

  /** Write `part` (carrying `partitionCol`) and then `committed`, in
    * commit order. A build stages both as `<table>.tmp` for
    * [[commitBuild]]; an append adds files to the live tables. `micro`
    * (a streaming micro-batch) writes each table from one task, so a
    * batch lands one file per partition directory instead of one per
    * task and directory, and skips the count (returns -1). Otherwise the
    * partitioned rows are clustered by an exchange and the committed rows
    * are counted.
    */
  def write(part: DataFrame, committed: DataFrame, dir: String,
      micro: Boolean, build: Boolean): Long = {
    val (mode, suffix) =
      if (build) (SaveMode.Overwrite, ".tmp") else (SaveMode.Append, "")
    (if (micro) part.coalesce(1) else part.repartition(col(partitionCol)))
      .write.mode(mode)
      .partitionBy(partitionCol)
      .parquet(s"$dir/$partitioned$suffix")
    (if (micro) committed.coalesce(1) else committed)
      .write.mode(mode).parquet(s"$dir/$commitTable$suffix")
    if (micro) -1L else committed.count()
  }

  /** Maintenance: reclaim the partitioned rows no commit row matches
    * (debris of crashed appends) and the duplicates of retried appends,
    * and compact small files. Both tables are rewritten beside the live
    * ones and swapped in ([[StagedTables.swapStaged]]); a crash in the
    * swap rolls back at the next writer entry. Probe results are
    * unchanged: everything reclaimed was already invisible. Holds the
    * writer lock, so no append lands in the swap window. Returns the
    * number of partitioned rows reclaimed.
    */
  def vacuum(spark: SparkSession, dir: String): Long =
    IndexLock.withLock(spark, dir, s"$name.vacuum") {
      recover(spark, dir)
      val committed = readCommitted(spark, dir)
      val rows = readPartitioned(spark, dir)
      // retry duplicates are identical rows (same batch, same kernel)
      val live = rows.join(committed.select(keys.map(col): _*), keys,
        "left_semi").dropDuplicates()
      val reclaimed = rows.count() - live.count()
      live.repartition(col(partitionCol))
        .write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCol)
        .parquet(s"$dir/$partitioned.tmp")
      committed.repartition(spark.sparkContext.defaultParallelism)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/$commitTable.tmp")
      StagedTables.swapStaged(fs(spark, dir), dir, Seq(partitioned, commitTable))
      reclaimed
    }
}
