package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Cross-validation of the approximate dedup/similarity operators against
 * their exact counterparts on the real test corpus (which contains planted
 * near-duplicate documents). */
class PipelineSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
  private lazy val emb = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")

  test("minhash LSH pairs == exact jaccard pairs at threshold 0.5 (planted dups found)") {
    // LSH is global (unblocked), so compare against global exact jaccard:
    // the corpus plants near-dups ACROSS sources too.
    val exact = Dedup
      .ngramJaccardPairs(docs.withColumn("blk", lit(1)), "doc_id", "text", "blk", 3, 0.5)
      .select("doc_a", "doc_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val lsh = Dedup
      .minHashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.5)
      .select("doc_a", "doc_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    // LSH verifies candidates with the same exact jaccard, so: no false
    // positives by construction; recall on planted (j>=0.5) pairs must be
    // complete with 16 bands of 4 (collision prob at j=0.5 > 0.98).
    assert(lsh == exact, s"lsh=$lsh exact=$exact")
  }

  test("minhash LSH: docs with fewer words than the shingle width produce NO pairs") {
    // Zero-shingle docs have no defined signature; an all-sentinel sig
    // would collide every such pair in every band and then pass the
    // 0/0 = NaN jaccard gate (NaN >= t is TRUE in Spark's ordering).
    import spark.implicits._
    val tiny = Seq(
      (1L, "alpha beta"),
      (2L, "gamma delta"),
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val pairs = Dedup
      .minHashLshPairs(tiny, "doc_id", "text", 3, 64, 16, 0.5)
      .select("doc_a", "doc_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs == Set((3L, 4L)), s"short docs must not pair: $pairs")
  }

  test("minhash LSH pairs leave no entry in the session's CacheManager") {
    spark.catalog.clearCache()
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.5).collect()
    assert(pairs.nonEmpty, "corpus should contain planted near-dups")
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    assert(cache.isEmpty, "the shingle sets must not be left cached for the session")
  }

  test("simhash banded pairing under a hot block: pair set == all-pairs, candidates ~linear") {
    // Fixture-sized blocks are near-uniform; this is the SKEW case the
    // WWW'07 density claim (Dedup.scala) is about: one hot block ~60x the
    // median. With maxHamming=3 (4 bands of 16 bits — the paper's setting)
    // the banded join must still produce the exact all-pairs result while
    // candidate volume stays ~linear in docs x bands, not quadratic in the
    // hot block.
    import spark.implicits._
    import graft.core.Hash
    val maxH = 3
    val bands = maxH + 1
    // 40 cold blocks x 5 docs + ONE hot block of 300 docs
    val cold = for { b <- 0 until 40; i <- 0 until 5 }
      yield (b.toLong * 1000 + i, s"blk$b", Hash.mix64(b * 31L + i + 7))
    val hotBase = Hash.mix64(0xdeadbeefL)
    val hot = (0 until 300).map { i =>
      val sig =
        if (i % 29 == 0) hotBase ^ (1L << (i % 64)) // planted near-dup clique
        else Hash.mix64(900000L + i)
      (100000L + i, "hot", sig)
    }
    val rows = cold ++ hot
    val sigs = rows.toDF("doc_id", "blk", "sig")
    val got = Dedup
      .simHashBandedPairs(sigs, "doc_id", "sig", "blk", maxH)
      .select("doc_a", "doc_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val byBlk = rows.groupBy(_._2)
    val want = byBlk.values.flatMap { ds =>
      for {
        a <- ds; b <- ds
        if a._1 < b._1 && java.lang.Long.bitCount(a._3 ^ b._3) <= maxH
      } yield (a._1, b._1)
    }.toSet
    assert(want.size >= 10, "planted clique must produce pairs")
    assert(got == want, s"banded pair set must equal all-pairs under skew")
    // candidate volume BEFORE verification, replicating the operator's
    // banding exactly: bounded by a small multiple of docs x bands (the
    // all-pairs product in the hot block alone would be ~45k)
    val candCount = byBlk.values.map { ds =>
      (0 until bands).map { b =>
        val lo = 64 * b / bands
        val hi = 64 * (b + 1) / bands
        val mask = if (hi - lo >= 64) -1L else (1L << (hi - lo)) - 1L
        ds.groupBy(d => (d._3 >>> lo) & mask)
          .values
          .map(g => g.size.toLong * (g.size - 1) / 2)
          .sum
      }.sum
    }.sum
    val n = rows.size.toLong
    assert(
      candCount <= 5L * n * bands,
      s"candidate count $candCount exceeds linear bound ${5L * n * bands} (docs=$n, bands=$bands)")
  }

  test("PNG image decode: lossless javax.imageio round-trip; features over real pixels") {
    import graft.operators.Multimodal
    // handcrafted golden: the full byte ramp survives encode -> decode
    val ramp = Array.tabulate(256)(i => i.toByte)
    assert(Multimodal.Png.decodeGray(Multimodal.Png.encodeGray(ramp)).toSeq == ramp.toSeq)
    for (id <- Seq(0L, 3L, 42L, 999L)) {
      val pix = Multimodal.Png.pixelsOf(id)
      val png = Multimodal.Png.encodeGray(pix)
      // a real PNG container, not the raw bytes
      assert(png(0) == 0x89.toByte && new String(png.slice(1, 4), "ascii") == "PNG")
      assert(png.toSeq != pix.toSeq)
      assert(Multimodal.Png.decodeGray(png).toSeq == pix.toSeq)
    }
    // features() on image rows are computed over the DECODED pixels:
    // 256 of them, and the bin-2 count matches the direct formula
    val feats = Multimodal
      .features(spark, Multimodal.mediaTable(spark, sf("sf0.001")))
      .filter(col("modality") === "image")
      .collect()
    assert(feats.nonEmpty)
    feats.foreach { f =>
      assert(f.n_bytes == 256 && f.hist_sum == 256L)
      val want = Multimodal.Png.pixelsOf(f.doc_id).count(b => (b & 0xf0) == 0x20)
      assert(f.spaces_bin == want.toLong)
    }
  }

  test("simhash finds the planted near-dup pairs at small hamming distance") {
    val exact = Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", "source", 3, 0.5)
      .select("doc_a", "doc_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val sigs = docs.select(
      col("doc_id"),
      col("source"),
      call_function("simhash64", split(col("text"), " ")).as("sig"))
    val a = sigs.select(col("doc_id").as("doc_a"), col("source"), col("sig").as("sig_a"))
    val b = sigs.select(col("doc_id").as("doc_b"), col("source").as("_srcb"), col("sig").as("sig_b"))
    val sim = a
      .join(b, col("source") === col("_srcb") && col("doc_a") < col("doc_b"))
      .select(
        col("doc_a"),
        col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("h"))
      .filter(col("h") <= 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(exact.subsetOf(sim), s"simhash missed planted pairs: ${exact -- sim}")
    // the banded Hamming multi-index (the scale path, no within-block
    // cartesian) must produce the IDENTICAL pair set — pigeonhole makes the
    // band join a guaranteed candidate superset, verification exact
    val banded = Dedup
      .simHashBandedPairs(sigs, "doc_id", "sig", "source", 10)
      .select("doc_a", "doc_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(banded == sim, s"banded=${banded.size} allpairs=${sim.size}")
  }

  test("ANN recall@5 vs brute force >= 0.6 on clustered embeddings") {
    // Hyperplane LSH only helps when embeddings cluster (real corpora do;
    // the uniform-random test table does not). Build 20 clusters of 50
    // deterministic vectors: center pattern from the cluster id, small
    // per-vector perturbation.
    val clustered = spark
      .range(1000)
      .select(
        col("id").as("vec_id"),
        expr("""transform(sequence(0, 15), d ->
          |  CAST(CASE WHEN pmod(xxhash64(id DIV 50 * 131 + d), 2) = 0 THEN 1.0 ELSE -1.0 END
          |       + (pmod(xxhash64(id * 16 + d), 100) - 50) / 250.0 AS FLOAT))""".stripMargin)
          .as("embedding"))
    val exact = Similarity
      .cosineTopK(clustered, "vec_id", "embedding", col("vec_id") % 100 === 0, 5)
      .select("query_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val ann = Similarity
      .annTopK(clustered, "vec_id", "embedding", col("vec_id") % 100 === 0, 8, 5)
      .select("query_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall")
    // and the ANN candidate set actually prunes: every returned neighbor
    // shares the query's bucket, so result sets are subsets of exact search
    assert(ann.nonEmpty)
    // multiprobe (own bucket + all Hamming-1 buckets) must not lose recall
    // vs single-probe, and should clear a higher floor
    val multi = Similarity
      .annTopKMultiprobe(clustered, "vec_id", "embedding", col("vec_id") % 100 === 0, 8, 5)
      .select("query_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recallMulti = (exact & multi).size.toDouble / exact.size
    assert(recallMulti >= recall, s"multiprobe $recallMulti < single $recall")
    assert(recallMulti >= 0.8, s"multiprobe recall $recallMulti")
    // IVF with ~20 coarse centroids over the 20 planted clusters and 4
    // probes must reach high recall too (the inverted-list scale path)
    val ivf = Similarity
      .ivfTopK(clustered, "vec_id", "embedding", col("vec_id") % 100 === 0, 50, 4, 5)
      .select("query_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recallIvf = (exact & ivf).size.toDouble / exact.size
    assert(recallIvf >= 0.8, s"ivf recall $recallIvf")
    // one exact Lloyd iteration re-centers the hash-seeded centroids on
    // the planted clusters — recall must stay high
    val ivfRefined = Similarity
      .ivfTopK(clustered, "vec_id", "embedding", col("vec_id") % 100 === 0, 50, 4, 5, kmeansIters = 1)
      .select("query_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recallRefined = (exact & ivfRefined).size.toDouble / exact.size
    assert(recallRefined >= 0.8, s"refined ivf recall $recallRefined (seed $recallIvf)")
  }

  test("IVF assignment equals the brute-force best centroid; no pair-row shuffle") {
    val assign = Similarity.ivfAssign(emb, "vec_id", "embedding", 25)
    // brute-force reference on the quantized components (the operator's
    // own determinism contract): best cosine, ties to smallest centroid
    val vecs = emb
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(x => math.floor(x * 1000 + 0.5).toLong).toArray)
      .toMap
    val centroidIds = vecs.keys.filter(_ % 25 == 0).toSeq.sorted
    def cos(a: Array[Long], b: Array[Long]): Double = {
      var dot = 0L; var i = 0
      while (i < a.length) { dot += a(i) * b(i); i += 1 }
      def n2(v: Array[Long]) = v.map(x => x * x).sum
      dot.toDouble / (math.sqrt(n2(a).toDouble) * math.sqrt(n2(b).toDouble))
    }
    val want = vecs.map { case (id, v) =>
      id -> centroidIds.map(c => (-cos(v, vecs(c)), c)).min._2
    }
    val got = assign.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == vecs.size)
    got.foreach { case (id, c) => assert(c == want(id), s"vec $id: got $c want ${want(id)}") }
    // the (corpus x centroids) pair rows must collapse map-side: the only
    // exchange in the plan hashes the final per-vector groupBy, and the
    // aggregate below it is partial
    val plan = assign.queryExecution.executedPlan.toString
    assert(plan.contains("partial_max"), plan.take(800))
  }

  test("WAV PCM decode: bit-exact round-trip; chunk walk; non-PCM rejected") {
    import graft.operators.Multimodal.Wav
    // the data chunk's bytes: the samples, 16-bit little-endian
    def pcm(samples: Array[Short]): Seq[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(2 * samples.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      samples.foreach(bb.putShort)
      bb.array().toSeq
    }
    // round-trip over deterministic and extreme sample patterns
    for (samples <- Seq(
        Wav.samplesOf(7L),
        Array[Short](0, 1, -1, Short.MaxValue, Short.MinValue, 12345),
        Array.empty[Short])) {
      assert(Wav.decodePcm16Bytes(Wav.encodePcm16(samples)).toSeq == pcm(samples))
    }
    // decode must WALK chunks, not skip a fixed 44 bytes: splice a LIST
    // chunk (odd-sized, so word padding is exercised) between fmt and data
    val plain = Wav.encodePcm16(Wav.samplesOf(3L))
    val extra = "LIST".getBytes("US-ASCII") ++ Array[Byte](5, 0, 0, 0) ++
      Array[Byte](1, 2, 3, 4, 5, 0) // 5 payload bytes + 1 pad byte
    val spliced = plain.take(36) ++ extra ++ plain.drop(36)
    // patch the RIFF size field (bytes 4-7, little-endian)
    val riffSize = spliced.length - 8
    for (k <- 0 until 4) spliced(4 + k) = ((riffSize >> (8 * k)) & 0xff).toByte
    assert(Wav.decodePcm16Bytes(spliced).toSeq == pcm(Wav.samplesOf(3L)))
    // a float-format (fmt=3) container must be rejected, not mis-read
    val bad = plain.clone()
    bad(20) = 3 // audioFormat lives at offset 20 in the canonical layout
    intercept[IllegalArgumentException](Wav.decodePcm16Bytes(bad))
    intercept[IllegalArgumentException](Wav.decodePcm16Bytes("nope".getBytes))
  }

  test("AVI DIB decode: bit-exact round-trip; chunk walk; compressed stream rejected") {
    import graft.operators.Multimodal
    import graft.operators.Multimodal.Avi
    for (id <- Seq(0L, 5L, 42L, 999L)) {
      val frames = Avi.framesOf(id)
      val avi = Avi.encodeDib8(frames)
      // a real RIFF/AVI container of the documented fixed size
      assert(avi.length == Avi.ContainerBytes)
      assert(new String(avi.slice(0, 4), "US-ASCII") == "RIFF")
      assert(new String(avi.slice(8, 12), "US-ASCII") == "AVI ")
      val dec = Avi.decodeFrames(avi)
      assert(dec.length == frames.length)
      dec.zip(frames).foreach { case (a, b) => assert(a.toSeq == b.toSeq) }
      assert(Avi.decodeFrameBytes(avi).toSeq == frames.flatten.toSeq)
    }
    // decode must WALK chunks, not assume fixed offsets: splice an
    // odd-sized JUNK chunk (word padding exercised) before the hdrl list
    val plain = Avi.encodeDib8(Avi.framesOf(3L))
    val junk = "JUNK".getBytes("US-ASCII") ++ Array[Byte](5, 0, 0, 0) ++
      Array[Byte](9, 8, 7, 6, 5, 0) // 5 payload bytes + 1 pad byte
    val spliced = plain.take(12) ++ junk ++ plain.drop(12)
    val riffSize = spliced.length - 8
    for (k <- 0 until 4) spliced(4 + k) = ((riffSize >> (8 * k)) & 0xff).toByte
    assert(Avi.decodeFrameBytes(spliced).toSeq == Avi.framesOf(3L).flatten.toSeq)
    // a compressed stream (biCompression != 0, offset 188 in the canonical
    // layout) must be rejected, not mis-read as raw frames
    val compressed = plain.clone()
    compressed(188) = 1 // BI_RLE8
    intercept[IllegalArgumentException](Avi.decodeFrames(compressed))
    // ... as must a non-8bpp stream (biBitCount at offset 186)
    val deep = plain.clone()
    deep(186) = 24
    intercept[IllegalArgumentException](Avi.decodeFrames(deep))
    intercept[IllegalArgumentException](Avi.decodeFrames("nope".getBytes))
    // features() on video rows are computed over the DECODED frames:
    // 4 x 256 bytes, bin-2 count matching the direct formula
    val feats = Multimodal
      .features(spark, Multimodal.mediaTable(spark, sf("sf0.001")))
      .filter(col("modality") === "video")
      .collect()
    assert(feats.nonEmpty)
    feats.foreach { f =>
      assert(f.n_bytes == 1024 && f.hist_sum == 1024L)
      val want = Avi.framesOf(f.doc_id).flatten.count(b => (b & 0xf0) == 0x20)
      assert(f.spaces_bin == want.toLong)
    }
  }

  test("decontamination flags every test-set member and nothing below the hit floor") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions._
    val testSet = docs.filter(col("doc_id") % 53 === 0)
    val out = Dedup
      .decontaminate(docs, testSet, "doc_id", "text", n = 8, minHits = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val testIds = testSet.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.length == docs.count())
    // every test-set doc overlaps itself (docs are > 8 words) -> flagged
    val flaggedTest = out.filter(t => testIds.contains(t._1))
    assert(flaggedTest.nonEmpty && flaggedTest.forall(_._3), "test members must self-flag")
    // verdict is exactly n_hits >= 1
    assert(out.forall(t => t._3 == (t._2 >= 1)))
    // an empty test set contaminates nothing
    val none = Dedup
      .decontaminate(docs, docs.filter(lit(false)), "doc_id", "text", n = 8)
      .filter(col("contaminated"))
      .count()
    assert(none == 0)
  }

  test("exact dedup keeps one representative per group and covers all docs") {
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
    val total = docs.count()
    val sumGroups = kept.agg(sum("group_size")).collect()(0).getLong(0)
    assert(sumGroups == total)
  }

  /** Reference closure: naive driver-side union-find (path-halving),
   * valid at test scale only. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) {
        parent(r) = parent.getOrElse(parent(r), parent(r))
        r = parent(r)
      }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def ccOf(edges: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    import spark.implicits._
    val (labels, rounds) = graft.operators.ConnectedComponents
      .componentsWithRounds(edges.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
    (labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds())
  }

  /** Deterministic graph family: cliques, paths, stars, cross-links,
   * duplicate and reversed edges, plus SplitMix64-pseudorandom graphs. */
  private lazy val generatedGraphs: Seq[Seq[(Long, Long)]] = {
    val fixed = Seq(
      Seq((1L, 2L)),
      Seq((2L, 1L), (1L, 2L), (2L, 2L)), // dup + reversed + self-loop
      Seq((1L, 2L), (3L, 4L), (5L, 6L), (2L, 3L)), // two components
      (1L to 9L).map(i => (i, i + 1)), // path
      (2L to 8L).map(i => (1L, i)), // star rooted at min
      (2L to 8L).map(i => (9L, i)) // star rooted at MAX (forces rewrites)
    )
    val random = (1 to 4).map { seed =>
      val n = 40
      (0 until 60).map { k =>
        val h = graft.core.Hash.mix64(seed * 1000003L + k)
        val a = Math.floorMod(h, n).toLong
        val b = Math.floorMod(h >>> 17, n).toLong
        (a + 1, b + 1)
      }.filter { case (a, b) => a != b }
    }
    fixed ++ random
  }

  test("connected components == naive union-find on generated graphs") {
    for (edges <- generatedGraphs) {
      val expected = unionFind(edges)
      val (got, _) = ccOf(edges)
      assert(got == expected, s"edges=$edges")
    }
  }

  test("incremental components == one-shot closure under arbitrary edge batching") {
    import spark.implicits._
    val splits = (1 to 4).map { seed =>
      val n = 30
      val edges = (0 until 50).map { k =>
        val h = graft.core.Hash.mix64(seed * 7777L + k)
        (Math.floorMod(h, n).toLong + 1, Math.floorMod(h >>> 19, n).toLong + 1)
      }.filter { case (a, b) => a != b }
      // batch boundary varies per seed — incl. a batch that merges
      // previously separate components (the warm-start case that matters)
      val cut = 10 + seed * 8
      (edges.take(cut), edges.drop(cut))
    } :+ {
      // explicit component-merging batch: two paths joined by one new edge
      val old = (1L to 5L).map(i => (i, i + 1)) ++ (10L to 14L).map(i => (i, i + 1))
      (old, Seq((5L, 10L)))
    }
    for ((oldE, newE) <- splits) {
      val full = unionFind(oldE ++ newE)
      val prev = graft.operators.ConnectedComponents
        .components(oldE.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
      val got = graft.operators.ConnectedComponents
        .incrementalComponents(prev, newE.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      // nodes only in singleton old components may be absent (label
      // self-loops filter out, same contract as components); every node
      // present must carry the full closure's representative
      assert(got.nonEmpty)
      got.foreach { case (node, rep) =>
        assert(full(node) == rep, s"node $node: incremental $rep != full ${full(node)}")
      }
      // and every multi-node component of the full closure is present
      val multi = full.groupBy(_._2).filter(_._2.size > 1).keySet
      assert(multi.subsetOf(got.values.toSet), "missing merged components")
    }
  }

  test("connected components: a long chain needs (and survives) >= 3 rounds") {
    // a 64-node path has diameter 63; star-contraction needs multiple
    // rounds, exercising the iterative fixed-point loop (a single-pass
    // formulation would return wrong labels here)
    val chain = (1L to 63L).map(i => (i, i + 1))
    val expected = (1L to 64L).map(_ -> 1L).toMap
    val (got, rounds) = ccOf(chain)
    assert(got == expected)
    assert(rounds >= 3, s"chain converged suspiciously fast ($rounds rounds)")
  }

  test("connected components: maxRounds is a hard limit, exact at the rounds a chain needs") {
    val chain = (1L to 63L).map(i => (i, i + 1))
    val (_, needed) = ccOf(chain)
    import spark.implicits._
    val pairs = chain.toDF("doc_a", "doc_b")
    // the rounds run when the labels execute, so the limit fails the action
    val (short, _) = graft.operators.ConnectedComponents.componentsWithRounds(pairs, "doc_a", "doc_b", needed - 1)
    val err = causeOf[IllegalArgumentException](intercept[Exception](short.collect()))
    assert(err.getMessage.contains("did not converge within"), err.getMessage)
    val (labels, rounds) =
      graft.operators.ConnectedComponents.componentsWithRounds(pairs, "doc_a", "doc_b", needed)
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == unionFind(chain))
    assert(rounds() == needed)
  }

  test("differential: closure labels and rounds agree at 1 and 7 shuffle partitions and with AQE off") {
    // a hot star rooted at the MAXIMUM id: every one of its leaves is
    // re-pointed, and the root's key carries 100 000 rows through each walk
    val root = 100001L
    val hotStar = (1L until root).map(leaf => (root, leaf))
    for (edges <- generatedGraphs :+ hotStar) {
      val expected = unionFind(edges)
      val (base, baseRounds) = ccOf(edges)
      assert(base == expected, s"edges=${edges.take(20)}")
      for (confs <- Seq(
          Seq("spark.sql.shuffle.partitions" -> "1"),
          Seq("spark.sql.shuffle.partitions" -> "7"),
          Seq("spark.sql.adaptive.enabled" -> "false"))) {
        val (got, rounds) = withConfs(confs: _*)(ccOf(edges))
        assert(got == base && rounds == baseRounds, s"$confs edges=${edges.take(20)}")
      }
    }
  }

  test("merge-walk join == a reference left-outer join") {
    // key 3 has many left rows; keys 5 and 11 have no right row; seven
    // partitions over five keys leave some partitions empty on both sides
    val part = new org.apache.spark.HashPartitioner(7)
    val leftRows = (1 to 5000).map(i => 3L -> i) ++ Seq(1L -> -1, 5L -> -5, 11L -> -11, 1L -> -2)
    val rightRows = Seq(1L -> "one", 3L -> "three", 8L -> "eight")
    val sc = spark.sparkContext
    val left = sc.parallelize(leftRows, 3).repartitionAndSortWithinPartitions(part)
    val right = sc.parallelize(rightRows, 2).repartitionAndSortWithinPartitions(part)
    assert(left.glom().collect().exists(_.isEmpty) && right.glom().collect().exists(_.isEmpty))
    val got = graft.operators.ConnectedComponents
      .mergeWalk(left, right)((k, v, w) => (k, v, w))
      .collect()
      .toSeq
    val rightMap = rightRows.toMap
    val want = leftRows.map { case (k, v) => (k, v, rightMap.get(k)) }
    assert(got.sortBy(t => (t._1, t._2)) == want.sortBy(t => (t._1, t._2)))
  }

  test("keep-list: representatives are component minima; singletons keep themselves") {
    import spark.implicits._
    val pairs = Seq((10L, 20L), (20L, 30L), (40L, 50L)).toDF("doc_a", "doc_b")
    val allDocs = Seq(10L, 20L, 30L, 40L, 50L, 60L).toDF("doc_id")
    val kl = graft.operators.ConnectedComponents
      .keepList(allDocs, "doc_id", pairs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    assert(
      kl == Set(
        (10L, 10L, true),
        (20L, 10L, false),
        (30L, 10L, false),
        (40L, 40L, true),
        (50L, 40L, false),
        (60L, 60L, true)))
  }
}
