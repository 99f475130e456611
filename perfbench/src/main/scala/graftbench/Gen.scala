package graftbench

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession

/** Seeded input generators. Every value is a pure function of
 * (seed, stream, index) through SplitMix64, so one seed always yields the
 * same rows, whatever the parallelism, and the engine under test sees only
 * the written files. */
object Gen {

  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Independent random stream `stream` of a seed. */
  final class Rng(seed: Long, stream: Long) {
    private val base = mix(mix(seed) ^ (stream * 0x632be59bd9b4e019L))
    def long(i: Long): Long = mix(base + i * 0x9e3779b97f4a7c15L)
    def unit(i: Long): Double = (long(i) >>> 11) * (1.0 / (1L << 53))
    def int(i: Long, lo: Int, hiIncl: Int): Int =
      lo + java.lang.Long.remainderUnsigned(long(i), (hiIncl - lo + 1).toLong).toInt
  }

  val Sources: IndexedSeq[String] = (0 until 20).map(i => s"src$i")

  /** Zipf(1.1) rank over the 20 source labels. */
  private val zipfCdf: Array[Double] = {
    val w = Sources.indices.map(r => 1.0 / math.pow(r + 1, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  def zipfSource(u: Double): String = {
    val i = zipfCdf.indexWhere(u < _)
    Sources(if (i < 0) Sources.size - 1 else i)
  }

  // ---- ladder: the token-table documents ---------------------------------

  /** (doc_id, source, n_chars) — the columns TokenTable derives its token
   * arrays from. Ids start at a seeded offset; 90% short docs (16-128
   * tokens), 10% long docs (1k-8k tokens). The lengths are an evenly spaced
   * grid over each range dealt to the docs in seeded order, so every seed
   * yields the same number of points. */
  final case class TokenDoc(doc_id: Long, source: String, n_chars: Long)

  def tokenDocs(seed: Long, nDocs: Int): Array[TokenDoc] = {
    val r = new Rng(seed, 1)
    val base = java.lang.Long.remainderUnsigned(r.long(-1), 1000L) * 1000000L
    val nLong = nDocs / 10
    def grid(n: Int, lo: Int, hi: Int) = (0 until n).map(k => lo + (hi - lo).toLong * k / math.max(n - 1, 1))
    val lengths = (grid(nLong, 1024, 8192) ++ grid(nDocs - nLong, 16, 128)).zipWithIndex
      .sortBy { case (_, i) => r.long(i) }.map(_._1)
    Array.tabulate(nDocs)(i => TokenDoc(base + i, zipfSource(r.unit(nDocs + i)), lengths(i)))
  }

  def writeTokenDocs(spark: SparkSession, docs: Array[TokenDoc], dir: String): Unit = {
    import spark.implicits._
    spark.createDataset(docs.toSeq).toDF().repartition(8).sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  // ---- maintain: the point-batch stream ----------------------------------

  final case class Pt(source: String, pos: Int, tok: Int)

  /** Batch k carries `points` points: on-time points fill the frontier slab
   * [k*span, (k+1)*span); a seeded 10% land late, up to `lateSlabs` slabs
   * behind the frontier. */
  def pointBatches(
      seed: Long,
      batches: Int,
      points: Int,
      span: Int,
      lateSlabs: Int): IndexedSeq[Array[Pt]] = {
    val r = new Rng(seed, 2)
    (0 until batches).map { k =>
      Array.tabulate(points) { j =>
        val i = k.toLong * points + j
        val late = k > 0 && r.unit(4 * i) < 0.1
        val pos =
          if (late) {
            val lo = math.max(0, k - lateSlabs) * span
            r.int(4 * i + 1, lo, k * span - 1)
          } else r.int(4 * i + 1, k * span, (k + 1) * span - 1)
        Pt(zipfSource(r.unit(4 * i + 2)), pos, r.int(4 * i + 3, 0, 50256))
      }
    }
  }

  // ---- dedup: text corpus with planted near-copies ------------------------

  private val Words: IndexedSeq[String] =
    for (a <- Vector("ba", "ko", "mi", "tu", "re", "sa", "lo", "ne"); b <- Vector("d", "k", "m", "r", "s", "t"))
      yield a + b

  final case class TextDoc(doc_id: Long, text: String)

  /** `n` docs with ids [first, first+n). Each doc is, with probability
   * `copyShare`, a near-copy of an earlier doc (from `pool` or this batch):
   * the original's words with ~4% substituted. Returns the docs and the
   * planted (copy, original) id pairs. */
  def textDocs(
      seed: Long,
      stream: Long,
      first: Long,
      n: Int,
      copyShare: Double,
      pool: IndexedSeq[TextDoc]): (IndexedSeq[TextDoc], IndexedSeq[(Long, Long)]) = {
    val r = new Rng(seed, 100 + stream)
    val out = scala.collection.mutable.ArrayBuffer.empty[TextDoc]
    val planted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    for (j <- 0 until n) {
      val id = first + j
      val i = j.toLong * 1024
      val avail = pool.size + out.size
      if (avail > 0 && r.unit(i) < copyShare) {
        val k = r.int(i + 1, 0, avail - 1)
        val orig = if (k < pool.size) pool(k) else out(k - pool.size)
        val words = orig.text.split(' ').zipWithIndex.map { case (w, p) =>
          if (r.unit(i + 8 + p) < 0.04) Words(r.int(i + 512 + p, 0, Words.size - 1)) else w
        }
        out += TextDoc(id, words.mkString(" "))
        planted += (id -> orig.doc_id)
      } else {
        val len = r.int(i + 2, 40, 160)
        out += TextDoc(id, Seq.tabulate(len)(p => Words(r.int(i + 8 + p, 0, Words.size - 1))).mkString(" "))
      }
    }
    (out.toIndexedSeq, planted.toIndexedSeq)
  }

  def writeTextDocs(spark: SparkSession, docs: Seq[TextDoc], dir: String): Unit = {
    import spark.implicits._
    spark.createDataset(docs).toDF().repartition(4).sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dir)
  }

  /** Batches of docs as one parquet dataset partitioned by `batch`. */
  def writeTextBatches(spark: SparkSession, batches: Seq[Seq[TextDoc]], dir: String): Unit = {
    import spark.implicits._
    spark.createDataset(batches.zipWithIndex.flatMap { case (b, k) => b.map(d => (d.doc_id, d.text, k)) })
      .toDF("doc_id", "text", "batch").repartition(4, $"batch").sortWithinPartitions("doc_id")
      .write.mode("overwrite").partitionBy("batch").parquet(dir)
  }

  // ---- analytics: the star schema + events/documents/embeddings ----------

  final case class Region(r_regionkey: Int, r_name: String)
  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int, c_acctbal: Double, c_mktsegment: String)
  final case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int, s_acctbal: Double)
  final case class Part(p_partkey: Long, p_name: String, p_brand: String, p_type: String, p_size: Int, p_retailprice: Double)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String, o_totalprice: Double, o_orderdate: Timestamp, o_orderpriority: String)
  final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int, l_quantity: Double,
      l_extendedprice: Double, l_discount: Double, l_tax: Double, l_returnflag: String, l_linestatus: String, l_shipdate: Timestamp)
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double, props: String)
  final case class Document(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  private def cents(u: Double, lo: Double, hi: Double): Double =
    math.round((lo + u * (hi - lo)) * 100) / 100.0
  private val Day = 86400000L
  private val Epoch1995 = 788918400000L // 1995-01-01T00:00:00Z
  private val Epoch2024 = 1704067200000L // 2024-01-01T00:00:00Z

  /** The ten tables the query catalogue reads, at `scale` (1.0 ~ 6k
   * lineitems). Written one parquet directory per table under `dir`. */
  def writeAnalyticsTables(spark: SparkSession, seed: Long, scale: Double, dir: String): Unit = {
    import spark.implicits._
    val nCust = (150 * scale).toInt
    val nSupp = math.max(10, (10 * scale).toInt)
    val nPart = (200 * scale).toInt
    val nOrd = (1500 * scale).toInt
    val nEv = (1000 * scale).toInt
    val nDoc = (500 * scale).toInt
    val nEmb = (500 * scale).toInt
    def w[T](name: String, ds: org.apache.spark.sql.Dataset[T]): Unit =
      ds.toDF().coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    w("region", regions.zipWithIndex.map { case (n, i) => Region(i, n) }.toDS())
    w("nation", (0 until 25).map(i => Nation(i, s"NATION_$i", i % 5)).toDS())

    val rc = new Rng(seed, 11)
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    w("customer", (0 until nCust).map { i =>
      Customer(i, f"Customer#$i%09d", rc.int(3L * i, 0, 24), cents(rc.unit(3L * i + 1), -999.99, 9999.99),
        segs(rc.int(3L * i + 2, 0, 4)))
    }.toDS())
    val rs = new Rng(seed, 12)
    w("supplier", (0 until nSupp).map { i =>
      Supplier(i, f"Supplier#$i%09d", rs.int(2L * i, 0, 24), cents(rs.unit(2L * i + 1), -999.99, 9999.99))
    }.toDS())
    val rp = new Rng(seed, 13)
    val adj = Seq("small", "large", "cold", "blue", "red", "green", "shiny", "old")
    val noun = Seq("widget", "bolt", "rod", "ring", "gear", "valve", "plate", "pipe")
    val types = Seq("ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL", "MEDIUM")
    w("part", (0 until nPart).map { i =>
      Part(i, s"${adj(rp.int(4L * i, 0, 7))} ${noun(rp.int(4L * i + 1, 0, 7))}",
        s"Brand#${rp.int(4L * i + 2, 1, 25)}", types(rp.int(4L * i + 3, 0, 5)), rp.int(4L * i + 4, 1, 50),
        math.round(9000.0 + (i % 200)) / 10.0)
    }.toDS())

    val ro = new Rng(seed, 14)
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val statuses = Seq("F", "O", "P")
    w("orders", (0 until nOrd).map { i =>
      Order(i, ro.int(5L * i, 0, nCust - 1), statuses(ro.int(5L * i + 1, 0, 2)),
        cents(ro.unit(5L * i + 2), 1000.0, 500000.0),
        new Timestamp(Epoch1995 + ro.int(5L * i + 3, 0, 2403) * Day), prios(ro.int(5L * i + 4, 0, 4)))
    }.toDS())
    val rl = new Rng(seed, 15)
    val flags = Seq("A", "N", "R")
    val lines = (0 until nOrd * 4).map { i =>
      val qty = rl.int(8L * i + 1, 1, 50).toDouble
      LineItem(rl.int(8L * i, 0, nOrd - 1), rl.int(8L * i + 2, 0, nPart - 1), rl.int(8L * i + 3, 0, nSupp - 1),
        1 + i % 7, qty, cents(rl.unit(8L * i + 4), 900.0, 105000.0), rl.int(8L * i + 5, 0, 10) / 100.0,
        rl.int(8L * i + 6, 0, 8) / 100.0, flags(rl.int(8L * i + 7, 0, 2)), if (i % 2 == 0) "F" else "O",
        new Timestamp(Epoch1995 + (1 + rl.int(8L * i + 7, 0, 2497)) * Day))
    }
    w("lineitem", lines.toDS())

    val re = new Rng(seed, 16)
    val evTypes = Seq("click", "error", "purchase", "signup", "view")
    val monthMs = 30L * Day
    w("events", (0 until nEv).map { i =>
      Event(i, new Timestamp(Epoch2024 + i.toLong * monthMs / nEv + re.int(4L * i, 0, 999999) / 1000),
        re.int(4L * i + 1, 0, math.max(14, (15 * scale).toInt) - 1), evTypes(re.int(4L * i + 2, 0, 4)),
        cents(re.unit(4L * i + 3), 0.01, 20.0) * (if (re.int(4L * i + 3, 0, 49) == 0) 25 else 1),
        s"""{"k": ${re.int(4L * i + 5, 0, 99)}}""")
    }.toDS())

    val rd = new Rng(seed, 17)
    val docWords = Seq("a", "the", "data", "table", "row", "column", "spark", "query", "scan", "join", "sort", "hash",
      "agg", "group", "filter", "window", "value", "key", "batch", "stream", "part", "line", "order", "customer",
      "small", "big", "fast", "slow", "merge", "vector", "line")
    val langs = Seq("en", "en", "fr", "es", "zh", "de")
    // every tenth doc is a near-duplicate of an earlier original in the
    // same source (the dedup queries pair docs within a source); originals
    // are 30-90 words, long enough that unrelated docs rarely match, so
    // every seed gives clusters of the same shape
    val originals = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val docs = (0 until nDoc).map { i =>
      val (text, source) =
        if (i > 10 && i % 10 == 5) {
          val (orig, src) = originals(rd.int(1000L * i + 1, 0, originals.size - 1))
          val words = orig.split(' ')
          (words.indices.map(p => if (rd.int(1000L * i + 2 + p, 0, 24) == 0) "merge" else words(p)).mkString(" "), src)
        } else {
          val len = rd.int(1000L * i + 1, 30, 90)
          val t = Seq.tabulate(len)(p => docWords(rd.int(1000L * i + 2 + p, 0, docWords.size - 1))).mkString(" ")
          originals += (t -> s"src${i % 20}")
          (t, s"src${i % 20}")
        }
      Document(i, text, langs(rd.int(1000L * i + 999, 0, 5)), source, text.length.toLong)
    }
    w("documents", docs.toDS())

    val rv = new Rng(seed, 18)
    w("embeddings", (0 until nEmb).map { i =>
      val label = rv.int(128L * i, 0, 9)
      Embedding(i, Array.tabulate(64)(k =>
        (((if (k % 10 == label) 0.3 else 0.0) + (rv.unit(128L * i + 1 + k) - 0.5) * 0.3).toFloat)), label)
    }.toDS())
  }

  /** Inputs of one workload for the determinism check (`gen` command). */
  def writeAll(spark: SparkSession, seed: Long, dir: String): Unit = {
    writeTokenDocs(spark, tokenDocs(seed, 2000), s"$dir/ladder")
    import spark.implicits._
    spark.createDataset(pointBatches(seed, 4, 2000, 600, 5).flatten).toDF().coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/maintain/points")
    writeTextDocs(spark, textDocs(seed, 0, 0, 1000, 0.3, IndexedSeq.empty)._1, s"$dir/dedup/corpus")
    writeAnalyticsTables(spark, seed, 1.0, s"$dir/analytics")
  }

}
