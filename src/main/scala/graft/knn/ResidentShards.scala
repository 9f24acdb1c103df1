package graft.knn

/** Restored [[HnswIndex]] shard graphs kept resident in one JVM, so a
  * serving loop stops re-reading and re-decoding every shard image per
  * request (the reference loads its index once and answers queries
  * against it, DeepJoin/annIndex.py:42–51). [[HnswIndex.probe]] is the
  * only user; appends and reshards read their images as before.
  *
  *  - Key: the qualified index directory, the params generation of the
  *    snapshot ([[graft.util.Snapshot.gen]], changed by every build and
  *    reshard), the shard's generation and the shard.
  *  - Validation: every lookup passes the image's current length and
  *    mtime (one `getFileStatus`, no read); a graph restored from an
  *    image of another length or mtime is a miss. Correctness never
  *    depends on a hit: a rewritten, truncated or deleted image misses
  *    (and then fails as an unreadable image does), and the caller checks
  *    the manifest count on hits too.
  *  - Bound: `boundBytes` of graph arrays ([[HnswGraph.residentBytes]]),
  *    least recently used first out; a graph larger than the bound is
  *    not kept.
  *  - Dead graphs: every miss first forgets the graphs no search can hit
  *    again — those of its own index under another params generation (a
  *    rebuild or reshard superseded them) or of its own shard under
  *    another generation (an append did), and those of other indexes
  *    whose image is gone or changed. So a long-lived JVM does not keep
  *    a deleted or rebuilt index's graphs until they age out.
  *
  * Cached graphs are only searched, never inserted into, and concurrent
  * searches of one graph are safe ([[HnswGraph]]).
  */
private[graft] final class ResidentShards(val boundBytes: Long) {
  import ResidentShards._

  private final class Entry(val len: Long, val mtime: Long,
      val graph: HnswGraph, val bytes: Long)

  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)
  private var bytes = 0L
  private val read = new java.util.concurrent.atomic.AtomicLong

  /** The graph restored from the image `key` names, if that image had
    * this length and mtime.
    */
  def get(key: Key, len: Long, mtime: Long): Option[HnswGraph] = synchronized {
    val e = entries.get(key)
    if (e != null && e.len == len && e.mtime == mtime) Some(e.graph) else None
  }

  /** Keep `g`, restored from an image of `len` bytes and `mtime`, and
    * count those bytes as read. The dead graphs go first: those
    * `key` supersedes, and those of other indexes whose image `status`
    * (length, mtime) no longer finds as it was — one call per such
    * graph, made outside the lock.
    */
  def put(key: Key, len: Long, mtime: Long, g: HnswGraph)(
      status: Key => Option[(Long, Long)]): Unit = {
    read.addAndGet(len)
    val others = synchronized {
      val out = Seq.newBuilder[(Key, Long, Long)]
      entries.forEach((k, e) => if (k.dir != key.dir) out += ((k, e.len, e.mtime)))
      out.result()
    }
    val gone = others.collect {
      case (k, l, t) if !status(k).contains((l, t)) => k
    }.toSet
    synchronized {
      val it = entries.entrySet.iterator
      while (it.hasNext) {
        val e = it.next()
        val k = e.getKey
        if (gone(k) || (k.dir == key.dir &&
            (k.paramsGen != key.paramsGen || k.shard == key.shard))) {
          drop(e.getValue); it.remove()
        }
      }
      val b = g.residentBytes
      if (b <= boundBytes) {
        entries.put(key, new Entry(len, mtime, g, b))
        bytes += b
        val it = entries.values.iterator
        while (bytes > boundBytes) { drop(it.next()); it.remove() }
      }
    }
  }

  private def drop(e: Entry): Unit = if (e != null) bytes -= e.bytes

  /** Forget every graph of the index at qualified `dir`. */
  def evict(dir: String): Unit = synchronized {
    val it = entries.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.dir == dir) { drop(e.getValue); it.remove() }
    }
  }

  /** The keys of the graphs kept now. */
  def keys: Seq[Key] = synchronized(entries.keySet.toArray(new Array[Key](0)).toSeq)

  /** The bytes of the graphs kept now. */
  def residentBytes: Long = synchronized(bytes)

  /** The image bytes read by misses since this JVM started. */
  def imageBytesRead: Long = read.get
}

private[graft] object ResidentShards {

  final case class Key(dir: String, paramsGen: Long, gen: Int, shard: Int)

  /** [[HnswIndex.resident]] keeps at most `Runtime.maxMemory / HeapShare`
    * bytes of graphs: an executor's Spark memory (execution and storage)
    * is sized from the same heap, so the cache takes a fixed eighth.
    */
  val HeapShare: Long = 8L
}
