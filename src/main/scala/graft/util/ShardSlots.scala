package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Perfect shard → partition placement for `repartition(n, col)`.
  *
  * `repartition(n, col("shard"))` HASH-places the shard key: with S
  * distinct shards into S partitions, Murmur3 collisions leave ~1/e of
  * the partitions empty and pack two or more shard graphs into others —
  * measured on the 200k-key grid tier as 18 non-empty tasks out of 32
  * with per-task times spreading 40–437 s (a doubled task carries two
  * whole graphs while a third of the cores idle). This helper computes,
  * per shard id, an int SLOT value that Spark's own partitioning
  * provably routes to a distinct partition: `HashPartitioning`'s
  * partition id is `pmod(murmur3(v, seed=42), n)` (the `hash()` SQL
  * function), replicated here driver-side via the same
  * [[Murmur3_x86_32]] kernel, assigning each key the first unclaimed
  * partition's value.
  *
  * GRACEFUL DEGRADATION, not a correctness dependency: every consumer
  * still groups by the shard column inside the partition, so if a future
  * Spark changed the hash contract the only effect would be collisions
  * returning (the old performance), never wrong results. ShardSlotsSpec
  * pins the contract end to end — `repartition(n, slot)` must yield one
  * distinct `spark_partition_id` per shard — so a contract change fails
  * loudly in `sbt test` instead of silently regressing the build stages.
  */
object ShardSlots {

  /** slot value per key: each key's slot lands in its own partition of
    * `keys.size` under Spark's Murmur3 hash partitioning.
    */
  def slotFor(keys: Seq[Int]): Map[Int, Int] = {
    val n = keys.size
    require(n > 0, "ShardSlots.slotFor: empty key set")
    val used = new Array[Boolean](n)
    val out = scala.collection.mutable.HashMap.empty[Int, Int]
    val pending = scala.collection.mutable.Queue(keys.distinct.sorted: _*)
    require(pending.size == n, "ShardSlots.slotFor: duplicate keys")
    var v = 0
    while (pending.nonEmpty) {
      val p = math.floorMod(Murmur3_x86_32.hashInt(v, 42), n)
      if (!used(p)) { used(p) = true; out(pending.dequeue()) = v }
      v += 1
      // Murmur3 over consecutive ints covers all residues fast; the
      // guard turns a (theoretically impossible for reachable n) stall
      // into a named failure instead of an infinite loop
      require(v < 1000000, s"ShardSlots.slotFor: no perfect slots for n=$n")
    }
    out.toMap
  }

  /** The slot COLUMN for `shardCol` over `keys` — pair it with
    * `repartition(keys.size, slotCol(...))`.
    *
    * A shard value NOT in `keys` falls through to TRUE modular
    * placement — the slot value that provably lands in partition
    * `shard mod n` — so an under-covering key set degrades to
    * round-robin balance (still collision-free if the uncovered
    * shards are distinct mod n) instead of silently collapsing every
    * uncovered row into the one NULL-hash partition. Correctness
    * never depends on the mapping either way (consumers group by the
    * shard column inside the partition); the fallback protects the
    * BALANCE the helper exists to provide.
    */
  def slotCol(shardCol: Column, keys: Seq[Int]): Column = {
    // a literal CASE chain in deterministic key order — keys are few
    // (shard counts), so the codegen'd chain is trivial
    val pairs = slotFor(keys).toSeq.sorted
    // invert the assignment: slotOfPartition(p) = the slot value that
    // Murmur3-routes to partition p — element_at over this literal
    // array IS modular placement for the fallback branch
    val n = pairs.size
    val slotOfPartition = new Array[Int](n)
    pairs.foreach { case (_, v) =>
      slotOfPartition(math.floorMod(
        Murmur3_x86_32.hashInt(v, 42), n)) = v
    }
    pairs.tail.foldLeft(
      when(shardCol === lit(pairs.head._1), lit(pairs.head._2))) {
      case (acc, (k, v)) => acc.when(shardCol === lit(k), lit(v))
    }.otherwise(element_at(
      array(slotOfPartition.map(lit(_)): _*),
      (pmod(shardCol, lit(n)) + 1).cast("int")))
  }
}
