package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}

/** Marker-protected multi-table commit — the ONE commit policy of the
  * persistent index families. Users: IVF build and rebalance
  * ([[graft.knn.IvfIndex]]) and BM25 and LSH build
  * ([[graft.text.Bm25Index]], [[graft.dedup.LshDedupIndex]]) through
  * [[commit]]/[[recover]]; BM25 and LSH vacuum and the IVF
  * displacement-anchor publish through the markerless [[swapStaged]];
  * the HNSW params swap ([[graft.knn.HnswIndex]]) through [[commit]].
  *
  * The writer stages every table as `<table>.tmp` beside the live one,
  * publishes an intent marker carrying its op, swaps, runs its post-swap
  * steps, drops the replaced `<table>.old` copies and deletes the
  * marker. Sequenced Overwrites of the live tables are NOT crash-safe —
  * a crash between two of them leaves params describing data they were
  * never computed against (a new quantizer over old lists, new LSH
  * banding over old signatures), and probes then return silently wrong
  * results with no error raised.
  *
  * Recovery contract ([[recover]], run by the family at every writer
  * entry): marker present → the swaps were in flight; the commit
  * re-runs from the marker's op (every step is resume-safe). No marker →
  * staging never committed; [[rollBack]] deletes staged/old debris
  * (live tables were never renamed before the marker existed). HNSW
  * recovers its [[commit]] by its own manifest pivot instead: its
  * post-swap step (the manifest write) is the commit point, so a crash
  * before it restores `params.old`, which [[commit]] keeps until the
  * post-swap steps are done.
  *
  * Readers during the swap window can see a transitional mix; the
  * single-writer lock plus metadata-only renames make the exposure
  * milliseconds, and recovery converges it at the next writer entry.
  */
object StagedTables {

  /** Commit every staged `<table>.tmp` over its live table and drop the
    * replaced copies, with no marker — for swaps whose every crash state
    * is safe to roll back (vacuum's content-preserving compaction): a
    * crash between the renames leaves a `<table>.old` whose live table
    * is missing, which [[rollBack]] restores at the next writer entry.
    */
  def swapStaged(fs: FileSystem, dir: String, tables: Seq[String]): Unit = {
    renameStaged(fs, dir, tables)
    dropOld(fs, dir, tables)
  }

  /** Rename every staged `<table>.tmp` over its live table, keeping the
    * replaced table as `<table>.old`. A table with nothing staged is
    * skipped (not every writer stages every table); a missing live table
    * (first build into a fresh dir) commits without the stage-out rename.
    * Resume-safe: a crash at ANY rename re-runs to the same end state.
    */
  private def renameStaged(fs: FileSystem, dir: String,
      tables: Seq[String]): Unit =
    tables.foreach { t =>
      val live = new Path(s"$dir/$t")
      val tmp = new Path(s"$dir/$t.tmp")
      if (fs.exists(tmp)) {
        if (fs.exists(live))
          require(fs.rename(live, new Path(s"$dir/$t.old")),
            s"StagedTables: could not stage $live")
        require(fs.rename(tmp, live), s"StagedTables: could not commit $tmp")
      }
    }

  private def dropOld(fs: FileSystem, dir: String, tables: Seq[String]): Unit =
    tables.foreach(t => fs.delete(new Path(s"$dir/$t.old"), true))

  /** Delete staged/old debris of an UNcommitted write (no marker): a
    * surviving `<table>.old` with its live table missing is a crashed
    * markerless swap (the vacuum protocol) and is restored; everything
    * else is debris.
    */
  def rollBack(fs: FileSystem, dir: String, tables: Seq[String]): Unit =
    tables.foreach { t =>
      val live = new Path(s"$dir/$t")
      val old = new Path(s"$dir/$t.old")
      val tmp = new Path(s"$dir/$t.tmp")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      if (!fs.exists(live) && fs.exists(old))
        require(fs.rename(old, live), s"StagedTables: could not restore $old")
      else if (fs.exists(old)) fs.delete(old, true)
    }

  /** Publish `op` as the marker (atomically, [[writeMarker]]), swap, run
    * `postSwap(op)`, drop the `.old` tables, delete the marker.
    * `postSwap` must be idempotent — [[recover]] replays it.
    */
  def commit(fs: FileSystem, dir: String, markerFile: String, op: String,
      tables: Seq[String])(postSwap: String => Unit): Unit = {
    writeMarker(fs, dir, markerFile, op)
    complete(fs, dir, markerFile, op, tables)(postSwap)
  }

  /** Crash recovery for [[commit]] — see the object doc: sweep a crashed
    * marker temp, then roll forward (marker present: finish the commit
    * with the marker's op) or back (no marker).
    */
  def recover(fs: FileSystem, dir: String, markerFile: String,
      tables: Seq[String])(postSwap: String => Unit): Unit = {
    if (!fs.exists(new Path(dir))) return
    sweepMarkerTmp(fs, dir, markerFile)
    val marker = new Path(s"$dir/$markerFile")
    if (fs.exists(marker))
      complete(fs, dir, markerFile, readMarker(fs, marker), tables)(postSwap)
    else rollBack(fs, dir, tables)
  }

  /** Everything after the marker — shared by [[commit]] and its
    * roll-forward, so recovery runs exactly the steps the crash cut.
    */
  private def complete(fs: FileSystem, dir: String, markerFile: String,
      op: String, tables: Seq[String])(postSwap: String => Unit): Unit = {
    renameStaged(fs, dir, tables)
    postSwap(op)
    dropOld(fs, dir, tables)
    fs.delete(new Path(s"$dir/$markerFile"), false)
  }

  /** Publish an intent marker ATOMICALLY with its content: bytes land in
    * a dot-prefixed temp file renamed to the marker name, so the marker
    * either exists with its FULL content or not at all. A bare
    * create-then-write can crash in between, leaving a 0-byte marker
    * whose op/target recovery would misread — e.g. a torn BUILD marker
    * rolling forward as a rebalance, skipping the ingest-state clear the
    * build owed. Recovery sweeps the temp on entry ([[sweepMarkerTmp]]).
    */
  private def writeMarker(fs: FileSystem, dir: String, markerFile: String,
      content: String): Unit = {
    val tmp = new Path(s"$dir/.$markerFile.tmp")
    val out = fs.create(tmp, /* overwrite = */ true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    require(fs.rename(tmp, new Path(s"$dir/$markerFile")),
      s"StagedTables: could not publish $markerFile under $dir")
  }

  /** The marker's full content. IO failures PROPAGATE — with
    * [[writeMarker]]'s atomic publish a marker is never torn, so an
    * unreadable one is a real store fault, and silently defaulting the
    * op would misdirect recovery.
    */
  def readMarker(fs: FileSystem, marker: Path): String = {
    val in = fs.open(marker)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  /** Delete a crashed [[writeMarker]]'s temp (never read — dot-prefixed
    * — but it should not accumulate).
    */
  def sweepMarkerTmp(fs: FileSystem, dir: String, markerFile: String): Unit = {
    val tmp = new Path(s"$dir/.$markerFile.tmp")
    try { if (fs.exists(tmp)) fs.delete(tmp, false) }
    catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Commit-generation fingerprint of a set of swap-committed metadata
    * tables — the cache key that lets a long-running reader (a family's
    * [[MetaMemo]] behind its `open`) detect that a marker-protected swap
    * replaced a table between its reads. Folds every direct entry's
    * (name, length, modification time) of each table directory plus the
    * directory's own mtime: a swap renames a freshly-staged `<t>.tmp`
    * over the live dir, so its entries were written at a different time
    * (and usually a different length) than the ones they replaced — the
    * fingerprint changes for ANY committed swap, while appends to OTHER
    * tables (inverted lists, signatures, doclens) leave it untouched.
    * A missing table folds as a sentinel (presence changes — e.g. a
    * PQ-less rebuild deleting `pq/` — also change the value). Pure
    * filesystem metadata: one listing per table, ZERO Spark jobs — the
    * point, since the memo exists to delete per-batch Spark reads.
    */
  def metaFingerprint(fs: FileSystem, dir: String, tables: Seq[String]): Long = {
    var h = 1125899906842597L
    def mix(v: Long): Unit = { h = h * 31 + v }
    tables.foreach { t =>
      val p = new Path(s"$dir/$t")
      if (!fs.exists(p)) mix(-1L)
      else {
        val st = fs.getFileStatus(p)
        mix(st.getModificationTime)
        if (st.isDirectory) fs.listStatus(p).foreach { e =>
          mix(e.getPath.getName.hashCode.toLong)
          mix(e.getLen)
          mix(e.getModificationTime)
        }
      }
    }
    h
  }
}
