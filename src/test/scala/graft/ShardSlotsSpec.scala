package graft

import org.apache.spark.sql.functions._

import graft.util.ShardSlots

/** Pins the Spark partitioning contract ShardSlots relies on: the slot
  * values must land one shard per partition under `repartition(n, col)`.
  * If a future Spark changed HashPartitioning's hash/seed, THIS fails
  * loudly — the production consumers (HnswIndex build/append) only lose
  * balance, never correctness (they group by shard inside partitions).
  */
class ShardSlotsSpec extends SparkSpec {

  test("slotFor: a distinct slot per key, stable across calls") {
    for (n <- Seq(1, 2, 3, 8, 32, 64)) {
      val keys = 0 until n
      val m = ShardSlots.slotFor(keys)
      assert(m.keySet == keys.toSet, s"n=$n keys")
      assert(m.values.toSet.size == n, s"n=$n distinct slots")
      assert(m == ShardSlots.slotFor(keys), s"n=$n determinism")
    }
    // non-contiguous key sets (post-reshard manifests) work too
    val sparse = Seq(0, 3, 7, 11)
    assert(ShardSlots.slotFor(sparse).keySet == sparse.toSet)
  }

  test("end-to-end: repartition(n, slot) places every shard alone in " +
    "its own partition") {
    import spark.implicits._
    for (n <- Seq(4, 32)) {
      val shards = 0 until n
      // several rows per shard — placement must hold per KEY, not per row
      val df = shards.flatMap(s => Seq.fill(3)(s)).toDF("shard")
        .withColumn("__slot", ShardSlots.slotCol(col("shard"), shards))
      val placed = df.repartition(n, col("__slot"))
        .select(col("shard"), spark_partition_id().as("pid"))
        .distinct().collect().map(r => (r.getInt(0), r.getInt(1)))
      assert(placed.length == n, s"n=$n: one partition per shard")
      assert(placed.map(_._2).distinct.length == n,
        s"n=$n: no two shards share a partition — the HashPartitioning " +
          "contract ShardSlots replicates has changed")
    }
  }

  test("under-covering key set: uncovered shards degrade to modular " +
    "placement, never collapse into one NULL partition") {
    import spark.implicits._
    val n = 8
    val covered = 0 until n
    // shard values 8..15 are NOT in the key set: the CASE chain's
    // fallback must route shard s to partition s mod 8 — i.e. 8..15
    // spread over ALL 8 partitions, not pile into the NULL-hash one
    val df = (0 until 16).flatMap(s => Seq.fill(2)(s)).toDF("shard")
      .withColumn("__slot", ShardSlots.slotCol(col("shard"), covered))
    val placed = df.repartition(n, col("__slot"))
      .select(col("shard"), spark_partition_id().as("pid"))
      .distinct().collect().map(r => (r.getInt(0), r.getInt(1))).toMap
    // covered keys keep their perfect one-per-partition placement
    assert(covered.map(placed).distinct.length == n)
    // the 8 uncovered shards spread round-robin over ALL n partitions
    // (distinct mod n → distinct partitions) — the documented
    // degradation; pre-fallback they all hashed NULL into one
    val uncovered = (8 until 16).map(placed)
    assert(uncovered.distinct.length == n,
      s"uncovered shards collapsed: $uncovered")
  }
}
