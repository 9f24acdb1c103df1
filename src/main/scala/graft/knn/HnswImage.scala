package graft.knn

import java.nio.{BufferUnderflowException, ByteBuffer, ByteOrder}

import scala.collection.immutable.ArraySeq

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** The binary graph image of one persisted [[HnswIndex]] shard, and the
  * shard's only stored form: the [[HnswGraph.nodes]] snapshot as flat
  * arrays, so a task restores its shard from one bulk read.
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

  type Node = (Long, Array[Float], Seq[Seq[Int]])

  /** The image's file name inside its shard directory; the name is kept
    * for on-disk compatibility.
    */
  val FileName = "_graph.bin"

  private val Magic = 0x57534e48 // "HNSW" read as little-endian bytes
  private val Version = 1
  private val HeaderBytes = 16

  def encode(nodes: IndexedSeq[Node]): Array[Byte] = {
    val n = nodes.length
    val dim = if (n == 0) 0 else nodes(0)._2.length
    require(nodes.forall(_._2.length == dim),
      "HnswImage: the vectors of one shard must share one dimension")
    val lists = nodes.iterator.map(_._3.length).sum
    val links = nodes.iterator.flatMap(_._3).map(_.length).sum
    val size = HeaderBytes + 8L * n + 4L * n * dim + 4L * n +
      4L * (lists + 1) + 4L * links
    require(size <= Int.MaxValue, s"HnswImage: a $size-byte shard image " +
      "exceeds one array; use more shards")
    val buf = ByteBuffer.allocate(size.toInt).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(Magic).putInt(Version).putInt(n).putInt(dim)
    nodes.foreach(nd => buf.putLong(nd._1))
    nodes.foreach(nd => nd._2.foreach(buf.putFloat))
    nodes.foreach(nd => buf.putInt(nd._3.length))
    var off = 0
    buf.putInt(off)
    nodes.foreach(_._3.foreach { l => off += l.length; buf.putInt(off) })
    nodes.foreach(_._3.foreach(_.foreach(buf.putInt)))
    buf.array()
  }

  /** Decode an [[encode]]d image; a wrong header, a truncated body or
    * trailing bytes fail with an `IllegalStateException`.
    */
  def decode(bytes: Array[Byte]): IndexedSeq[Node] = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    try {
      val (n, dim) = header(buf)
      if (buf.remaining < 8L * n + 4L * n * dim + 4L * n)
        corrupt(s"truncated: $n nodes of dimension $dim do not fit")
      val ids = new Array[Long](n)
      buf.asLongBuffer().get(ids)
      buf.position(buf.position() + 8 * n)
      val fb = buf.asFloatBuffer()
      val vecs = Array.fill(n) { val v = new Array[Float](dim); fb.get(v); v }
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
      ArraySeq.unsafeWrapArray(Array.tabulate(n) { i =>
        val ls = Array.tabulate(levels(i)) { j =>
          ArraySeq.unsafeWrapArray(
            java.util.Arrays.copyOfRange(links, offsets(k + j), offsets(k + j + 1)))
        }
        k += levels(i)
        (ids(i), vecs(i), ArraySeq.unsafeWrapArray(ls): Seq[Seq[Int]])
      })
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

  /** Publish `nodes`' image into `shardDir`: written whole under a
    * unique hidden temp name, then renamed, so a failed or retried task
    * attempt never leaves a torn image. Two attempts of one task build
    * the same graph, so an image another attempt already published is
    * kept.
    */
  def write(conf: Configuration, shardDir: Path, nodes: IndexedSeq[Node])
      : Unit = {
    val fs = shardDir.getFileSystem(conf)
    val tmp = new Path(shardDir, s"$FileName.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(encode(nodes)) finally out.close()
    val dest = new Path(shardDir, FileName)
    if (!fs.rename(tmp, dest)) {
      fs.delete(tmp, false)
      if (!fs.exists(dest))
        throw new IllegalStateException(s"HnswImage: could not publish $dest")
    }
  }

  /** Read and decode the image at `file` in one bulk read. */
  def read(conf: Configuration, file: Path): IndexedSeq[Node] = {
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
