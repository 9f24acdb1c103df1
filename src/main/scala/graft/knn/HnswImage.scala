package graft.knn

import java.nio.{BufferUnderflowException, ByteBuffer, ByteOrder}

import scala.collection.immutable.ArraySeq

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** The binary graph image of one persisted [[HnswIndex]] shard, and the
  * shard's only stored form: the [[HnswGraph]]'s nodes as flat arrays,
  * so a task restores its shard from one bulk read.
  * Little-endian, in this order:
  *
  *  - header: magic `HNSW`, format version, node count `n`, vector
  *    dimension `dim` (int each);
  *  - ids `long[n]`;
  *  - vectors `float[n·dim]`;
  *  - per-node level counts `int[n]`;
  *  - CSR link offsets `int[L + 1]`, one list per (node, level) in node
  *    then level order, `L` the sum of the level counts;
  *  - links `int[offsets(L)]` (neighbor positions).
  *
  * Nodes are stored in insertion order, the order [[HnswGraph.restore]]
  * expects. The header and the ids come first, so [[readIds]] reads
  * only them.
  */
private[graft] object HnswImage {

  /** A decoded image: the file's arrays, checked ([[decode]]); `levels`
    * holds each node's level count.
    */
  final class Shard(val ids: Array[Long], val dim: Int, val vecs: Array[Float],
      val levels: Array[Int], val offsets: Array[Int], val links: Array[Int]) {
    def size: Int = ids.length
    def vector(i: Int): Array[Float] =
      java.util.Arrays.copyOfRange(vecs, i * dim, (i + 1) * dim)
  }

  /** The image's file name inside its shard directory; the name is kept
    * for on-disk compatibility.
    */
  val FileName = "_graph.bin"

  private val Magic = 0x57534e48 // "HNSW" read as little-endian bytes
  private val Version = 1
  private val HeaderBytes = 16

  /** `g`'s image, written from its arrays. */
  def encode(g: HnswGraph): Array[Byte] = {
    val n = g.size
    val dim = g.dimension
    var lists = 0L
    var links = 0L
    for (i <- 0 until n; l <- 0 until g.levelCount(i)) {
      lists += 1; links += g.linkCount(i, l)
    }
    val size = HeaderBytes + 8L * n + 4L * n * dim + 4L * n +
      4L * (lists + 1) + 4L * links
    require(size <= Int.MaxValue, s"HnswImage: a $size-byte shard image " +
      "exceeds one array; use more shards")
    val buf = ByteBuffer.allocate(size.toInt).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(Magic).putInt(Version).putInt(n).putInt(dim)
    for (i <- 0 until n) buf.putLong(g.id(i))
    for (i <- 0 until n; j <- 0 until dim) buf.putFloat(g.vector(i, j))
    for (i <- 0 until n) buf.putInt(g.levelCount(i))
    var off = 0
    buf.putInt(off)
    for (i <- 0 until n; l <- 0 until g.levelCount(i)) {
      off += g.linkCount(i, l); buf.putInt(off)
    }
    for (i <- 0 until n; l <- 0 until g.levelCount(i); j <- 0 until g.linkCount(i, l))
      buf.putInt(g.link(i, l, j))
    buf.array()
  }

  /** Decode an [[encode]]d image. A wrong header, a truncated body,
    * trailing bytes, or a link to a node outside the image or without
    * the link's level fail with an `IllegalStateException`.
    */
  def decode(bytes: Array[Byte]): Shard = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    try {
      val (n, dim) = header(buf)
      if (buf.remaining < 8L * n + 4L * n * dim + 4L * n)
        corrupt(s"truncated: $n nodes of dimension $dim do not fit")
      val ids = new Array[Long](n)
      buf.asLongBuffer().get(ids)
      buf.position(buf.position() + 8 * n)
      val vecs = new Array[Float](n * dim)
      buf.asFloatBuffer().get(vecs)
      buf.position(buf.position() + 4 * n * dim)
      val ib = buf.asIntBuffer()
      val levels = new Array[Int](n)
      ib.get(levels)
      if (levels.exists(_ < 1)) corrupt("a node without level 0")
      val lists = levels.foldLeft(0L)(_ + _)
      if (ib.remaining < lists + 1) corrupt("truncated link offsets")
      val offsets = new Array[Int](lists.toInt + 1)
      ib.get(offsets)
      if (offsets(0) != 0 || (1 until offsets.length).exists(j =>
          offsets(j) < offsets(j - 1))) corrupt("link offsets out of order")
      if (ib.remaining != offsets.last.toLong) corrupt(
        s"${ib.remaining} link slots for ${offsets.last} links")
      val links = new Array[Int](offsets.last)
      ib.get(links)
      var k = 0
      var i = 0
      while (i < n) {
        var l = 0
        while (l < levels(i)) {
          var j = offsets(k)
          while (j < offsets(k + 1)) {
            val t = links(j)
            if (t < 0 || t >= n) corrupt(s"node $i links to node $t at " +
              s"level $l, outside the image's $n nodes")
            if (levels(t) <= l) corrupt(s"node $i links to node $t at " +
              s"level $l, above that node's top level ${levels(t) - 1}")
            j += 1
          }
          k += 1; l += 1
        }
        i += 1
      }
      new Shard(ids, dim, vecs, levels, offsets, links)
    } catch { case _: BufferUnderflowException => corrupt("truncated") }
  }

  private def corrupt(what: String) =
    throw new IllegalStateException(s"corrupt graph image: $what")

  /** Check the header at `buf`'s position and return its (n, dim). */
  private def header(buf: ByteBuffer): (Int, Int) = {
    if (buf.getInt() != Magic) corrupt("bad magic")
    val version = buf.getInt()
    if (version != Version) corrupt(s"format version $version")
    val n = buf.getInt()
    val dim = buf.getInt()
    if (n < 0 || dim < 0) corrupt(s"n=$n, dim=$dim")
    (n, dim)
  }

  /** Publish `g`'s image into `shardDir`: written whole under a
    * unique hidden temp name, then renamed, so a failed or retried task
    * attempt never leaves a torn image. Two attempts of one task build
    * the same graph, so an image another attempt already published is
    * kept.
    */
  def write(conf: Configuration, shardDir: Path, g: HnswGraph): Unit = {
    val fs = shardDir.getFileSystem(conf)
    val tmp = new Path(shardDir, s"$FileName.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(encode(g)) finally out.close()
    val dest = new Path(shardDir, FileName)
    if (!fs.rename(tmp, dest)) {
      fs.delete(tmp, false)
      if (!fs.exists(dest))
        throw new IllegalStateException(s"HnswImage: could not publish $dest")
    }
  }

  /** Read and decode the image at `file` in one bulk read. */
  def read(conf: Configuration, file: Path): Shard = {
    val fs = file.getFileSystem(conf)
    val bytes = new Array[Byte](fs.getFileStatus(file).getLen.toInt)
    val in = fs.open(file)
    try in.readFully(bytes) finally in.close()
    decode(bytes)
  }

  /** The image's ids alone: the header and the `long[n]` block, never
    * the vectors or the links. The rest of the image is not checked.
    */
  def readIds(conf: Configuration, file: Path): IndexedSeq[Long] = {
    val in = file.getFileSystem(conf).open(file)
    try {
      val head = new Array[Byte](HeaderBytes)
      in.readFully(head)
      val (n, _) = header(ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN))
      val block = new Array[Byte](8 * n)
      in.readFully(block)
      val ids = new Array[Long](n)
      ByteBuffer.wrap(block).order(ByteOrder.LITTLE_ENDIAN).asLongBuffer().get(ids)
      ArraySeq.unsafeWrapArray(ids)
    } catch { case _: java.io.EOFException => corrupt("truncated") }
    finally in.close()
  }
}
