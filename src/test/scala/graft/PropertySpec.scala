package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.dates.DateNorm
import graft.discover.Eval

/** Property-style invariants (SURVEY.md §5.3) over seeded random inputs
  * (the scalatest↔scalacheck bridge isn't on the offline classpath, so
  * generation is plain seeded Random — same coverage, deterministic).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(42)

  test("date normalizer is total: arbitrary strings never throw") {
    val junkPool = Seq("2024-13", "9999-Q9", "00/0000", "///", "-", "\\", "%s",
      "2023-01-15T99:99", "0000", "????", "", " ", "\t")
    val ss = (1 to 60).map { _ =>
      if (rnd.nextBoolean()) junkPool(rnd.nextInt(junkPool.length))
      else rnd.alphanumeric.take(rnd.nextInt(14)).mkString
    }
    val out = ss.toDF("raw")
      .select(DateNorm.normalizeDate(col("raw"))).as[String].collect()
    assert(out.length == ss.length) // no throw; nulls allowed
  }

  test("P/R/F1 bounded in [0,1] and f1 <= 2*min(p,r) for random pair sets") {
    for (_ <- 1 to 8) {
      val d = (1 to 30).map(_ => (s"q${rnd.nextInt(6)}", s"c${rnd.nextInt(6)}"))
      val t = (1 to 30).map(_ => (s"q${rnd.nextInt(6)}", s"c${rnd.nextInt(6)}"))
      val m = Eval.microPrf1(d.toDF("query", "candidate"),
        t.toDF("query", "candidate")).collect().head
      val (p, r, f1) = (m.getAs[Double]("precision"), m.getAs[Double]("recall"),
        m.getAs[Double]("f1"))
      assert(p >= 0 && p <= 1 && r >= 0 && r <= 1 && f1 >= 0 && f1 <= 1)
      assert(f1 <= 2 * math.min(p, r) + 1e-9)
    }
  }

  test("bounded_topk equals sort-take-k on random groups across partitions") {
    import graft.functions.AggExpressions.boundedTopK
    for (_ <- 1 to 4) {
      val rows = (1 to 200).map(_ =>
        (s"g${rnd.nextInt(5)}", rnd.nextInt(50).toLong, s"v${rnd.nextInt(40)}"))
      val got = rows.toDF("g", "k", "v")
        .repartition(7) // force partial buffers + merge path
        .groupBy("g").agg(boundedTopK(col("k"), col("v"), 6).as("top"))
        .collect()
        .map(r => r.getString(0) -> r.getAs[scala.collection.Seq[String]]("top").toSeq)
        .toMap
      val expected = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(r => (r._2, r._3)).sorted.take(6).map(_._2)
      }
      assert(got == expected)
    }
  }

  test("NDCG bounded in [0,1] for random rankings") {
    for (_ <- 1 to 8) {
      val ranked = (1 to 4).map(_ => rnd.nextInt(10)).distinct.zipWithIndex
        .map { case (c, i) => ("q", s"c$c", i + 1) }
      val truth = (1 to 5).map(_ => rnd.nextInt(10)).distinct.map(c => ("q", s"c$c"))
      val n = Eval.ndcgAtK(ranked.toDF("query", "candidate", "rank"),
        truth.toDF("query", "candidate"), 5).collect().head.getAs[Double]("ndcg")
      assert(n >= 0.0 && n <= 1.0)
    }
  }

  test("BPE invariants over random unicode strings") {
    val bpe = graft.functions.BpeTokenizer.bundled
    // code-point pool (not chars: picking half a surrogate pair would
    // make invalid UTF-16 that is lossy through UTF-8 by definition)
    val pool = "the and that is of for in staïé日本語🙂 \t\n'sd12,.-"
      .codePoints().toArray.map(Character.toChars(_).mkString)
    for (_ <- 1 to 60) {
      val text = (1 to rnd.nextInt(40)).map(_ => pool(rnd.nextInt(pool.length))).mkString
      val n = bpe.countTokens(text)
      assert(n >= 0 && (text.isEmpty || n >= 1))
      // token decode round-trips: full-cap truncation is the identity
      assert(bpe.truncate(text, Int.MaxValue) == text)
      val k = rnd.nextInt(8)
      val trunc = bpe.truncate(text, k)
      assert(text.startsWith(trunc), s"not a prefix: '$text' -> '$trunc'")
      if (n <= k) assert(trunc == text)
      // the kept tokens are exactly the first k of the tokenization
      if (k > 0 && n > 0) assert(bpe.countTokens(trunc) <= k || trunc == text)
    }
  }

  test("HNSW with a fully-connected graph is exhaustive (equals brute force)") {
    import graft.knn.HnswGraph
    for (trial <- 1 to 4) {
      val n = 40
      val dim = 8
      val vecs = (0 until n).map(i =>
        (i * 7L + trial, Array.fill(dim)(rnd.nextGaussian().toFloat)))
      // m >= n: every layer-0 node links to everyone -> beam of ef = n
      // visits the whole graph and search must equal exact kNN
      val g = new HnswGraph(m = n, efConstruction = n)
      vecs.foreach { case (id, v) => g.insert(id, v) }
      val q = Array.fill(dim)(rnd.nextGaussian().toFloat)
      def l2(a: Array[Float], b: Array[Float]): Double =
        a.zip(b).map { case (x, y) =>
          val d = x.toDouble - y.toDouble; d * d
        }.sum
      val exact = vecs.map { case (id, v) => (l2(v, q), id) }.sorted.take(5)
        .map { case (d, id) => (id, d) }
      val got = g.search(q, 5, ef = n)
      assert(got.map(_._1) == exact.map(_._1),
        s"trial $trial: got ${got.map(_._1)} expected ${exact.map(_._1)}")
      got.zip(exact).foreach { case ((_, gd), (_, ed)) =>
        assert(math.abs(gd - ed) < 1e-9)
      }
    }
  }

  test("lateness gate == closed-form simulation over random batch " +
    "sequences (null ts, resends of committed and of late ids)") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("ts", LongType), StructField("text", StringType)))
    for (caseN <- 1 to 4) {
      val crnd = new Random(1000 + caseN)
      val base = java.nio.file.Files
        .createTempDirectory(s"gate_prop_$caseN").toString
      val baseDocs = (0L to 4L).map(i => (i, s"base doc number $i"))
        .toDF("doc_id", "text")
      graft.text.Bm25Index.build(baseDocs, "doc_id", "text", s"$base/index")
      val lateness = 50L
      // simulation state: the gate's contract in ~10 lines
      var wm = Long.MinValue
      val simCommitted = scala.collection.mutable.Set[Long](0L to 4L: _*)
      val simLate = scala.collection.mutable.Set[Long]()
      var nextId = 100L
      val resendPool = scala.collection.mutable.ArrayBuffer[Long]()
      for (b <- 0 until 2 + crnd.nextInt(3)) {
        val usedThisBatch = scala.collection.mutable.Set[Long]()
        val rows = (1 to 3 + crnd.nextInt(8)).flatMap { _ =>
          val id =
            if (resendPool.nonEmpty && crnd.nextInt(5) == 0)
              resendPool(crnd.nextInt(resendPool.length))
            else { val i = nextId; nextId += 1; i }
          if (!usedThisBatch.add(id)) None // batch ids must be unique
          else {
            val ts: java.lang.Long =
              if (crnd.nextInt(5) == 0) null
              else java.lang.Long.valueOf(crnd.nextInt(5000).toLong)
            Some(Row(java.lang.Long.valueOf(id), ts, s"document $id body"))
          }
        }
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 2), schema)
        graft.streaming.Streams.ingestBatch(spark,
          graft.streaming.IngestFamily.lex("doc_id", "text", topK = 3),
          s"$base/index", s"$base/out", b.toLong, df, "doc_id",
          Some(graft.streaming.Streams.LatenessGate("ts", lateness)))
        // simulate: committed resends are no-ops (marker join); anything
        // else classifies against the PRE-batch watermark; the watermark
        // advances off the whole batch's max event time
        rows.foreach { r =>
          val id = r.getLong(0)
          val ts = if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1))
          if (!simCommitted.contains(id)) {
            if (ts == null || ts.longValue < wm) simLate += id
            else simCommitted += id
            resendPool += id
          }
        }
        val tss = rows.filter(!_.isNullAt(1)).map(_.getLong(1))
        if (tss.nonEmpty) wm = math.max(wm, tss.max - lateness)
      }
      val committed = spark.read.parquet(s"$base/index/doclens")
        .select("id").collect().map(_.getLong(0)).toSet
      assert(committed == simCommitted.toSet,
        s"case $caseN committed mismatch: " +
          s"extra=${committed -- simCommitted} missing=${simCommitted.toSet -- committed}")
      val late = graft.streaming.Streams.lateRows(spark, s"$base/out")
        .map(_.select("doc_id").collect().map(_.getLong(0)).toSet)
        .getOrElse(Set.empty[Long])
      assert(late == simLate.toSet,
        s"case $caseN late mismatch: " +
          s"extra=${late -- simLate} missing=${simLate.toSet -- late}")
    }
  }
}
