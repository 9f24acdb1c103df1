package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Engine-owned persisted event-time watermark for streaming index
  * ingest (the lateness gate of [[Streams.ingestBatch]], shared by all
  * four index families) — Spark's built-in `withWatermark`
  * state does not survive `foreachBatch` index writes, so the gate's
  * high-water mark lives beside the index it protects, under
  * `<indexDir>/_ingest/`.
  *
  * Stored as direct-FileSystem JSON, NOT a one-row parquet table: reading
  * or advancing the watermark must not cost Spark jobs — at one read plus
  * one write per micro-batch, two scheduler round-trips per batch were the
  * dominant fixed overhead of the whole ingest path (round-10 verdict;
  * the [[graft.util.IndexLock]] lock file uses the same direct-FS shape).
  *
  * Crash safety is by VERSIONED FILES, not overwrite: each advance writes
  * a whole new `wm-NNNNNNNN.json` (dot-prefixed temp, renamed to its
  * unique final name — never a destructive rename), then best-effort
  * deletes older versions. A crash at ANY point leaves the previous
  * version intact, so a replay reads the pre-crash watermark instead of
  * Long.MinValue (the delete-then-overwrite shape lost it in exactly that
  * window). The watermark is monotone, so the worst crash outcome —
  * surviving older versions beside the new one — is resolved by "highest
  * parseable version wins".
  *
  * Index `build` clears the whole `_ingest/` dir
  * ([[graft.util.IngestState.clear]], called by all four families): a
  * rebuilt index starting from an empty corpus must not inherit the
  * previous corpus's high-water mark, which would classify the entire
  * next ingest as late.
  */
object IngestWatermark {

  private val SubDir = graft.util.IngestState.SubDir
  private val FilePattern = """wm-(\d+)\.json""".r

  private def ingestDir(indexDir: String) = new Path(indexDir, SubDir)

  /** Current watermark, or Long.MinValue if never advanced. Highest
    * parseable version wins; a torn file from a crashed write (possible
    * only for the newest version) falls through to the one before it.
    *
    * Indexes written before the versioned-JSON store kept the watermark
    * as a one-row parquet table at `<indexDir>/ingest_watermark`; when no
    * JSON version exists, that legacy table is read as the seed — an
    * index upgraded in place must NOT silently reset to Long.MinValue
    * and re-admit rows its previous life already classified as late. The
    * legacy read costs one Spark job, paid only on the first read after
    * an upgrade (the next [[write]] publishes a JSON version, after
    * which the legacy table is never consulted again).
    */
  def read(spark: SparkSession, indexDir: String): Long = {
    val dir = ingestDir(indexDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    def listVersions(): Seq[(Long, Path)] =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).iterator.flatMap { st =>
        st.getPath.getName match {
          case FilePattern(n) => Some((n.toLong, st.getPath))
          case _              => None
        }
      }.toSeq.sortBy(-_._1)
    // a reader OUTSIDE the writer lock (monitoring) can race [[write]]'s
    // prune: it lists wm-N, the writer publishes wm-N+1 and deletes wm-N
    // before the open — every listed version then parses as gone and a
    // naive single pass would report Long.MinValue for a gate that was
    // never below N. When a non-empty listing yields no parseable
    // version, re-list (the fresh listing sees the successor); only an
    // empty listing or a bounded number of lost races falls through.
    var fromJson: Option[Long] = None
    var attempt = 0
    var lastListed = 0
    var lastTorn = 0
    var exhausted = false
    while (fromJson.isEmpty && !exhausted && attempt < 3) {
      val versions = listVersions()
      var torn = 0
      val it = versions.iterator
      while (fromJson.isEmpty && it.hasNext) parse(fs, it.next()._2) match {
        case ParseOk(wm) => fromJson = Some(wm)
        case ParseTorn   => torn += 1
        case ParseGone   => () // vanished between list and open — race
      }
      exhausted = versions.isEmpty
      lastListed = versions.size
      lastTorn = torn
      attempt += 1
    }
    // retries absorb the prune RACE (a lost listing resolves on the
    // next list). After that, a listing where ≥ 2 versions READ as
    // garbage is persistent corruption — the crash model allows only
    // the NEWEST version to be torn (each write publishes a whole new
    // file; the one before it was a completed publish), so two torn
    // files cannot be a crash artifact. The verdict counts TORN files
    // alone: versions that VANISHED between list and open (ParseGone)
    // are lost races, neither parse successes nor corruption evidence
    // — so 2 torn + 1 gone still throws (requiring ALL listed versions
    // to be torn would let one busy-writer prune in the same listing
    // mask real corruption and fall through to the silent gate reset
    // this check exists to prevent), while a lock-free monitoring
    // reader losing every retry to a busy writer (all gone, zero torn)
    // is never told its healthy index is corrupt. Falling through to
    // Long.MinValue on real corruption would silently re-admit rows
    // the gate already classified as late, so fail with a named error:
    // the operator restores a wm file (or deliberately deletes
    // _ingest/ to reset the gate). EXACTLY ONE torn version stays
    // benign by design: the documented crashed-first-publish (the
    // committed pre-crash state — legacy seed, else MinValue — is the
    // correct answer).
    if (fromJson.isEmpty && lastTorn >= 2)
      throw new IllegalStateException(
        s"IngestWatermark.read: $dir lists $lastListed watermark " +
          s"versions of which $lastTorn read as unparseable after 3 " +
          "attempts — persistent corruption, not a prune race or a " +
          "torn newest write. Refusing to reset the lateness gate to " +
          "-infinity " +
          "(which would re-admit already-classified-late rows); " +
          "restore a wm-N.json or delete the _ingest/ directory to " +
          "reset deliberately.")
    fromJson.orElse(readLegacy(spark, indexDir, fs))
      .getOrElse(Long.MinValue)
  }

  /** Pre-versioned-store watermark: one-row parquet under
    * `<indexDir>/ingest_watermark` with a single `wm` long column.
    */
  private def readLegacy(spark: SparkSession, indexDir: String,
      fs: org.apache.hadoop.fs.FileSystem): Option[Long] = {
    val legacy = new Path(indexDir, graft.util.IngestState.LegacyWatermarkDir)
    if (!fs.exists(legacy)) None
    else
      try {
        import spark.implicits._
        spark.read.parquet(legacy.toString).select("wm").as[Long]
          .collect().headOption
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Persist `wm` as the next version and prune older ones. Not
    * concurrency-safe against itself — the ingest gate is single-writer
    * per index by the [[graft.util.IndexLock]] maintenance contract.
    */
  def write(spark: SparkSession, indexDir: String, wm: Long): Unit = {
    val dir = ingestDir(indexDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val existing = fs.listStatus(dir).iterator.flatMap { st =>
      st.getPath.getName match {
        case FilePattern(n) => Some(n.toLong)
        case _              => None
      }
    }.toSeq
    val next = existing.maxOption.getOrElse(-1L) + 1
    val name = f"wm-$next%08d.json"
    val tmp = new Path(dir, s".$name.tmp")
    val out = fs.create(tmp, /* overwrite = */ true)
    try out.write(s"""{"wm":$wm}""".getBytes(StandardCharsets.UTF_8))
    finally out.close()
    require(fs.rename(tmp, new Path(dir, name)),
      s"IngestWatermark: could not publish $name under $dir")
    // retire the legacy one-row parquet once a JSON version exists: the
    // versioned store now owns the watermark, and a surviving legacy table
    // would otherwise be resurrected as a STALE seed if a later build
    // wiped `_ingest/` without also wiping it (belt to IngestState.clear's
    // braces — both sides delete it so neither is load-bearing alone)
    val legacy = new Path(indexDir, graft.util.IngestState.LegacyWatermarkDir)
    try { if (fs.exists(legacy)) fs.delete(legacy, true) }
    catch { case scala.util.control.NonFatal(_) => () }
    existing.foreach { n =>
      try fs.delete(new Path(dir, f"wm-$n%08d.json"), false)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    // sweep tmp leftovers from crashed writes (never read — dot-prefixed
    // and pattern-excluded — but they should not accumulate forever)
    fs.listStatus(dir).iterator
      .map(_.getPath)
      .filter(q => q.getName.startsWith(".wm-") && q.getName.endsWith(".tmp")
        && q.getName != tmp.getName)
      .foreach { q =>
        try fs.delete(q, false)
        catch { case scala.util.control.NonFatal(_) => () }
      }
  }

  /** Three-way parse verdict: the corruption heuristic in [[read]] must
    * tell a file whose CONTENT is garbage (torn write — corruption
    * evidence when it cannot be the newest) from a file that vanished
    * between list and open (a lost prune race — never corruption).
    */
  private sealed trait ParseResult
  private final case class ParseOk(wm: Long) extends ParseResult
  private case object ParseTorn extends ParseResult
  private case object ParseGone extends ParseResult

  private def parse(fs: org.apache.hadoop.fs.FileSystem, p: Path): ParseResult =
    try {
      val in = fs.open(p)
      try {
        // read to EOF in a loop — a single `read` may legally return a
        // partial buffer on chunked stores, and a short read here would
        // misparse the ONLY surviving version as torn and silently reset
        // the gate to Long.MinValue
        val out = new java.io.ByteArrayOutputStream(128)
        val buf = new Array[Byte](128)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        val s = out.toString(StandardCharsets.UTF_8)
        """\{"wm":(-?\d+)\}""".r.findFirstMatchIn(s.trim)
          .map(m => ParseOk(m.group(1).toLong))
          .getOrElse(ParseTorn)
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => ParseGone }
}
