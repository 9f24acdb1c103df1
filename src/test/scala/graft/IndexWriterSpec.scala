package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.LshDedupIndex
import graft.knn.{HnswIndex, IvfIndex}
import graft.sources.Lake
import graft.text.Bm25Index

/** The one guarded public append of the four persistent index families
  * (graft.util.IndexWriter.append): ids are unique corpus-wide, checked
  * once over a batch pinned before the check, so the rows written are the
  * rows checked.
  */
class IndexWriterSpec extends SparkSpec {

  private lazy val docs = Lake.table(spark, sf0001, "documents")
    .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    .filter(col("doc_id") < 400).cache()
  private lazy val emb = Lake.embeddings(spark, sf0001)
    .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    .filter(col("vec_id") < 400).cache()

  private def tempDir(tag: String): String =
    graft.util.TempDirs.register(
      java.nio.file.Files.createTempDirectory(s"idx_writer_$tag").toString)

  /** Every file under `dir` but the writer lock, with its length. */
  private def files(dir: String): Set[(String, Long)] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
    val out = Set.newBuilder[(String, Long)]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName != graft.util.IndexLock.LockFileName)
        out += ((f.getPath.toString, f.getLen))
    }
    out.result()
  }

  /** One persistent index family under test.
    *
    * @param rows the source rows (id column `idCol`)
    * @param blank a row the family indexes but BM25 does not count
    * @param committed the committed ids
    */
  private case class Family(name: String, idCol: String, rows: () => DataFrame,
      blank: Option[() => DataFrame], build: (DataFrame, String) => Unit,
      append: (DataFrame, String) => Long, committed: String => Seq[Long],
      countsBlank: Boolean)

  private def ids(df: DataFrame): Seq[Long] =
    df.select(col("id").cast("long")).collect().map(_.getLong(0)).toSeq.sorted

  private val BlankId = 5000000L

  private def blankDoc(): DataFrame = {
    import spark.implicits._
    Seq((BlankId, "   ")).toDF("doc_id", "text")
  }

  private val families = Seq(
    Family("lex", "doc_id", () => docs, Some(() => blankDoc()),
      (df, d) => Bm25Index.build(df, "doc_id", "text", d, nBuckets = 4),
      (df, d) => Bm25Index.append(spark, d, df, "doc_id", "text"),
      d => ids(Bm25Index.readDoclens(spark, d)), countsBlank = false),
    Family("dedup", "doc_id", () => docs, Some(() => blankDoc()),
      (df, d) => LshDedupIndex.build(df, "doc_id", "text", d),
      (df, d) => LshDedupIndex.append(spark, d, df, "doc_id", "text"),
      d => ids(LshDedupIndex.readSignatures(spark, d)), countsBlank = true),
    Family("ann", "vec_id", () => emb, None,
      (df, d) => IvfIndex.build(df, "vec_id", "embedding", d, nList = 4),
      (df, d) => IvfIndex.append(spark, d, df, "vec_id", "embedding"),
      d => ids(IvfIndex.readIds(spark, d)), countsBlank = true),
    Family("hnsw", "vec_id", () => emb, None,
      (df, d) => HnswIndex.build(df, "vec_id", "embedding", d, shards = 2),
      (df, d) => HnswIndex.append(spark, d, df, "vec_id", "embedding"),
      d => ids(HnswIndex.readIds(spark, d)), countsBlank = true))

  for (f <- families)
    test(s"append refuses a repeated or committed id and writes nothing; " +
      s"counts as before; commits exactly the ids its guard saw [${f.name}]") {
    val dir = tempDir(f.name)
    val id = col(f.idCol)
    val src = f.rows()
    f.build(src.filter(id < 200), dir)
    val fresh = src.filter(id >= 200 && id < 240)
    val before = (f.committed(dir), files(dir))

    val repeated = intercept[IllegalArgumentException] {
      f.append(fresh.union(fresh.filter(id === 204)), dir)
    }
    assert(repeated.getMessage.contains(
      "duplicate ids within the appended batch"), repeated.getMessage)
    assert((f.committed(dir), files(dir)) == before,
      s"${f.name}: a refused batch wrote")
    val present = intercept[IllegalArgumentException] {
      f.append(fresh.union(src.filter(id === 4)), dir)
    }
    assert(present.getMessage.contains("id already present in the index"),
      present.getMessage)
    assert((f.committed(dir), files(dir)) == before,
      s"${f.name}: a refused batch wrote")

    // the returned count: every row, except a blank document under BM25
    val batch = f.blank.fold(fresh)(b => fresh.unionByName(b()))
    val n = f.append(batch, dir)
    assert(n == fresh.count() + (if (f.countsBlank) f.blank.size else 0))
    val added = ids(fresh.select(id.as("id"))) ++
      (if (f.countsBlank) f.blank.map(_ => BlankId) else None)
    assert(f.committed(dir) == (before._1 ++ added).sorted)

    // distinct ids on the first evaluation, one repeated id after: the
    // committed ids are the five distinct ones the guard saw
    FlakyIds.calls.set(0)
    val flaky = src.filter(id >= 300 && id < 305)
      .withColumn(f.idCol, FlakyIds.id(id))
    assert(f.append(flaky, dir) == 5L)
    assert(f.committed(dir).filter(_ >= FlakyIds.Offset) ==
      (300L until 305L).map(_ + FlakyIds.Offset),
      s"${f.name} committed ids its guard never saw")
  }
}

/** A non-deterministic id column: the first five evaluations return
  * distinct ids, every later one the same id.
  */
private object FlakyIds {
  val Offset = 9000000L
  val calls = new java.util.concurrent.atomic.AtomicInteger()
  val id = udf((v: Long) =>
    if (calls.incrementAndGet() <= 5) Offset + v else Offset + 999999L)
    .asNondeterministic()
}
