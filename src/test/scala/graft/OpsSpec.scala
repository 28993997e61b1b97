package graft

import org.apache.spark.sql.functions._

import graft.ops._

/** Specs for the LLM-pipeline ops not fully covered by the DuckDB oracle —
  * chiefly the multimodal mapPartitions plumbing — plus structural sanity
  * for dedup/similarity. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en", "s0", 43L),
    (1L, "the quick brown fox jumps over the lazy dog", "en", "s1", 43L),
    (2L, "the quick brown fox jumps over a lazy dog", "en", "s0", 41L),
    (3L, "completely different words entirely here now", "de", "s1", 44L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("prefixFilterPairs: the ppjoin+ suffix-merge verify is row-exact " +
      "against the array_intersect verify, boundary pairs included") {
    // richer corpus than the 4-doc fixture: near-dup clusters at several
    // overlap levels, including pairs AT the tau boundary
    val d = (0L until 40L).map { i =>
      val words = (0 until 12).map(w => s"w${(i / 4) * 3 + w}")
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.75)) {
      val plain = Dedup.prefixFilterPairs(d, tau = t)
        .collect().map(_.toString).sorted.toSeq
      val suffix = Dedup.prefixFilterPairs(d, tau = t, suffixVerify = true)
        .collect().map(_.toString).sorted.toSeq
      assert(plain.nonEmpty, s"tau=$t must produce pairs")
      assert(plain == suffix,
        s"tau=$t: suffix verify diverged (${plain.size} vs ${suffix.size})")
    }
    TextKit.releaseCaches()
  }

  test("exact dedup: duplicate texts collapse to min doc_id") {
    val r = Dedup.exact(docs).collect()
    assert(r.length == 3)
    val dup = r.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("canonical_id") == 0L)
  }

  test("minhash: identical texts share signatures; LSH+verify finds the pair") {
    val sig = Dedup.minhashSignatures(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.toSeq.drop(1)).toMap
    assert(sig(0L) == sig(1L))
    val pairs = Dedup.minhashLshPairs(docs, tau = 0.5).collect()
    assert(pairs.exists(r => r.getAs[Long]("doc_a") == 0L &&
      r.getAs[Long]("doc_b") == 1L && r.getAs[Double]("jaccard") == 1.0))
    // doc 3 shares nothing: never a candidate
    assert(!pairs.exists(r => r.getAs[Long]("doc_b") == 3L))
  }

  test("hard negatives: other-label only, semi-hard band vs hardest positive") {
    val e = Seq(
      (0L, Array(1f, 0f), 0),      // anchor
      (1L, Array(0.9f, 0.1f), 0),  // its positive
      (2L, Array(1f, 0.01f), 1),   // negative HARDER than the positive
      (3L, Array(0f, 1f), 1))      // easy negative
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.hardNegatives(e, nAnchors = 1, nneg = 5)
      .collect().map(x => x.getAs[Long]("negative_id") -> x).toMap
    // only the two label-1 vectors qualify; the positive never appears
    assert(r.keySet == Set(2L, 3L))
    assert(r(2L).getAs[Int]("rank") == 1, "hardest negative ranks first")
    // negative 2 is closer than the hardest positive -> NOT semi-hard;
    // negative 3 is farther -> semi-hard
    assert(r(2L).getAs[Int]("semi_hard") == 0)
    assert(r(3L).getAs[Int]("semi_hard") == 1)
    val posCos = r(2L).getAs[Double]("pos_cosine")
    assert(r(2L).getAs[Double]("cosine") > posCos)
    assert(r(3L).getAs[Double]("cosine") < posCos)
  }

  test("simhash: identical docs identical, near docs close in hamming") {
    val m = Dedup.simhash(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(m(0L) == m(1L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(0L), m(2L)) <= ham(m(0L), m(3L)))
  }

  test("ann: lsh candidates are a subset of brute-force scores") {
    val emb = (0L to 49L).map { i =>
      (i, Array.tabulate(64)(d => ((i * 31 + d * 7) % 13 - 6).toFloat / 7f), 0)
    }.toDF("vec_id", "embedding", "label")
    val brute = Similarity.bruteTopK(emb, nQueries = 3, k = 49)
      .select("query_id", "neighbor_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.lshTopK(emb, nQueries = 3, k = 5).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(brute(key) == r.getAs[Double]("cosine"),
        s"lsh cosine must equal brute cosine for $key")
    }
  }

  test("minhash LSH on a realistic vocabulary: planted near-dups found, pairs exact") {
    // the driver testdata's tiny shingle vocabulary (BASELINE.md) makes
    // bands collide unrealistically often; this corpus has a 2000-word
    // vocabulary, so bucket collisions carry signal
    val rng = new scala.util.Random(42)
    val vocab = (0 until 2000).map(i => s"w$i")
    def doc(): Vector[String] = Vector.fill(40)(vocab(rng.nextInt(2000)))
    val bases = (0 until 150).map(_ => doc())
    val rows = bases.zipWithIndex
      .map { case (d, i) => (i.toLong, d.mkString(" ")) } ++
      (0 until 30).map { i => // planted near-dup: one token changed
        (1000L + i, bases(i).updated(20, vocab(rng.nextInt(2000))).mkString(" "))
      }
    val pairs = Dedup.minhashLshPairs(rows.toDF("doc_id", "text"), tau = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // recall: a one-token edit keeps bigram Jaccard ~0.9; with 4 bands of
    // width 2 the detect probability per pair is ~1-(1-j^2)^4 ~ 0.99
    val planted = (0 until 30).map(i => (i.toLong, 1000L + i))
    val found = planted.count(pairs.contains)
    assert(found >= 27, s"LSH recall too low: $found/30 planted pairs")
    // precision/exactness: every reported jaccard equals a from-scratch
    // set computation over the same shingles
    def shingles(t: String): Set[String] =
      t.split(" ").sliding(2).map(_.mkString(" ")).toSet
    val byId = rows.toMap
    pairs.foreach { case ((a, b), j) =>
      val (sa, sb) = (shingles(byId(a)), shingles(byId(b)))
      val expect = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(j == expect, s"pair ($a,$b): $j != $expect")
      assert(j >= 0.6)
    }
  }

  test("asofJoin: latest at-or-before right row per key, ties and misses") {
    val left = Seq(
      (1L, 100L, 10L), // after two clicks -> newest (t=9) wins
      (1L, 101L, 5L),  // exactly at a click ts -> same-instant counts
      (1L, 102L, 1L),  // before any click -> null
      (2L, 103L, 50L)  // other key: isolated
    ).toDF("user_id", "event_id", "ts_us")
    val right = Seq(
      (1L, 200L, 5L, 1.0),
      (1L, 201L, 9L, 2.0),
      (1L, 202L, 5L, 3.0), // same ts as 200 -> larger event_id wins the tie
      (2L, 203L, 49L, 4.0)
    ).toDF("user_id", "event_id", "ts_us", "value")
    val out = AsofJoin.asofJoin(left, right, Seq("user_id"), "ts_us", "event_id")
      .collect().map(r => r.getLong(1) ->
        (Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Double]))).toMap
    assert(out(100L) == (Some(201L), Some(2.0)))
    assert(out(101L) == (Some(202L), Some(3.0))) // tie: 202 > 200
    assert(out(102L) == (None, None))
    assert(out(103L) == (Some(203L), Some(4.0)))
  }

  test("TopKAgg equals the row_number window form, including score ties") {
    import org.apache.spark.sql.expressions.Window
    // only 10 distinct scores over 40 neighbors -> the (score desc,
    // id asc) tie-break is genuinely exercised
    val scored = (for { q <- 0L until 5L; n <- 0L until 40L }
      yield (q, n, ((n * 7 + q) % 10).toDouble / 10.0))
      .toDF("query_id", "neighbor_id", "cosine")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "cosine", "rank")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    val viaAgg = rows(
      TopKAgg.topKPerQuery(scored, "query_id", "neighbor_id", "cosine", 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val viaWindow = rows(scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 6))
    assert(viaAgg.size == 30)
    assert(viaAgg == viaWindow)
  }

  test("incremental dedup: cross-side pairs only, exact jaccard") {
    // corpus has its own duplicate pair (0,1) which must NOT appear;
    // fresh doc 100 duplicates corpus text, 101 shares nothing
    val corpus = docs
    val fresh = Seq(
      (100L, "the quick brown fox jumps over the lazy dog", "en", "s9", 43L),
      (101L, "unrelated fresh content with novel words", "en", "s9", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Dedup.minhashLshPairsAgainst(corpus, fresh, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((0L, 100L)) && pairs((0L, 100L)) == 1.0)
    assert(pairs.contains((1L, 100L)) && pairs((1L, 100L)) == 1.0)
    // every pair is (corpus, fresh): no corpus-corpus, no fresh-fresh
    assert(pairs.keys.forall { case (a, b) => a < 100L && b >= 100L })
    assert(!pairs.keys.exists(_._2 == 101L))
  }

  test("connected components: min-label propagation over pair tables") {
    // two chains and a triangle: {1,2,3,4} path, {10,11,12} cycle, {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val cc = Components.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    val cl = Components.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl == Map(1L -> 4L, 10L -> 3L, 20L -> 2L))
    // the alternating large-star/small-star variant labels identically
    val stars = Components.connectedComponentsStars(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stars == cc)
    // and on a longer chain + dense clique mix (the edge-heavy shape the
    // variant exists for): a 30-node path and a 12-node clique
    val chain = (100L until 129L).map(i => (i, i + 1))
    val clique = for (a <- 200L until 212L; b <- (a + 1) until 212L)
      yield (a, b)
    val mix = (chain ++ clique).toDF("doc_a", "doc_b")
    val a1 = Components.connectedComponents(mix).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a2 = Components.connectedComponentsStars(mix).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a1 == a2)
    assert(a2.filter(_._1 >= 200L).values.toSet == Set(200L))
    assert(a2.filter(_._1 < 200L).values.toSet == Set(100L))
  }

  test("TopKAgg: degenerate scores — nulls and NaNs dropped, result well-defined") {
    val scored = Seq(
      (0L, 1L, Some(0.9)), (0L, 2L, Some(Double.NaN)), (0L, 3L, None),
      (0L, 4L, Some(0.7)), (0L, 5L, Some(0.8)))
      .toDF("query_id", "neighbor_id", "cosine")
    val top = TopKAgg.topKPerQuery(scored, "query_id", "neighbor_id", "cosine", 2)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))
    // NaN (id 2) and null (id 3) never outrank real similarities
    assert(top.toSeq == Seq((1L, 0.9), (5L, 0.8)))
  }

  test("ivf: fixed-k kmeans quantizer, centroid count independent of corpus size") {
    def corpus(n: Long) = (0L until n).map { i =>
      (i, Array.tabulate(64)(d => ((i * 31 + d * 7) % 13 - 6).toFloat / 7f), 0)
    }.toDF("vec_id", "embedding", "label")
    // same k centroids whether the corpus has 60 or 200 vectors (the r1
    // stride quantizer grew O(n)); ivf results carry exact brute cosines
    Seq(60L, 200L).foreach { n =>
      val ivf = Similarity.ivfTopK(corpus(n), nQueries = 3, k = 3,
        nCells = 4, trainIters = 2).collect()
      assert(ivf.nonEmpty)
      val brute = Similarity.bruteTopK(corpus(n), nQueries = 3, k = (n - 1).toInt)
        .select("query_id", "neighbor_id", "cosine").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      ivf.foreach { r =>
        val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
        assert(brute(key) == r.getAs[Double]("cosine"))
      }
    }
    // deterministic: two trainings agree exactly
    val e = corpus(100L)
      .select(col("vec_id"),
        graft.ops.TextKit.quantVec(col("embedding")).as("qv"))
      .withColumn("nsq", graft.ops.TextKit.dotPre(col("qv"), col("qv")))
    val c1 = Similarity.kmeansCentroids(e, k = 5, iters = 2)
    val c2 = Similarity.kmeansCentroids(e, k = 5, iters = 2)
    assert(c1.length == 5)
    assert(c1.map(_.toSeq) == c2.map(_.toSeq))
    // sample-trained (100 TB shape): still k centroids, still deterministic
    val cs1 = Similarity.kmeansCentroids(e, k = 5, iters = 2, trainSampleMod = 3)
    val cs2 = Similarity.kmeansCentroids(e, k = 5, iters = 2, trainSampleMod = 3)
    assert(cs1.length == 5)
    assert(cs1.map(_.toSeq) == cs2.map(_.toSeq))
    // and it trains on the hash-sample ONLY: identical centroids come out
    // of a corpus physically restricted to that sample, so the Lloyd
    // iterations provably never read the other (mod-1)/mod of the data
    val pre = e.filter(pmod(graft.ops.TextKit.md5Long(
      col("vec_id").cast("string")), lit(3L)) === 0)
    val cPre = Similarity.kmeansCentroids(pre, k = 5, iters = 2)
    assert(cs1.map(_.toSeq) == cPre.map(_.toSeq))
    // the sample is a strict subset (sanity: the filter really removes rows)
    assert(pre.count() < e.count())
  }

  test("skew: hotKeys flags the 100x account, salting spreads its rows") {
    // the ingest-shaped adversarial case: one account carries ~100x the
    // flagged resources of its peers. hotKeys is the diagnostic that
    // decides a join needs salting; saltedJoin must then (a) keep the
    // answer identical to the plain join and (b) actually spread the hot
    // key's rows across reducers instead of funneling them to one task.
    val hotAcct = "111122223333"
    val big = ((1 to 800).map(i => (hotAcct, s"r$i")) ++
      (1 to 8).flatMap(a => (1 to 8).map(i => (f"${a + 2000L}%012d", s"r$i"))))
      .toDF("accountid", "resource")
    val dim = ((hotAcct, "Hot Corp") +:
      (1 to 8).map(a => (f"${a + 2000L}%012d", s"Acct $a")))
      .toDF("accountid", "accountname")
    val hk = Skew.hotKeys(big, Seq("accountid"), minCount = 100).collect()
    assert(hk.length == 1 && hk.head.getString(0) == hotAcct)
    val plain = big.join(dim, Seq("accountid"))
      .orderBy("accountid", "resource").collect().toSeq
    val salted = Skew.saltedJoin(big, dim, Seq("accountid"))
      .select("accountid", "resource", "accountname")
      .orderBy("accountid", "resource").collect().toSeq
    assert(salted == plain, "salt must not change the join result")
    // placement: hash-partitioned by the key alone, every hot row lands in
    // ONE partition; keyed by (key, salt) they spread over the factor
    def maxPartition(df: org.apache.spark.sql.DataFrame,
        cols: Seq[org.apache.spark.sql.Column]): Int =
      df.repartition(16, cols: _*).rdd
        .mapPartitions(it => Iterator(it.size)).collect().max
    val funneled = maxPartition(big, Seq(col("accountid")))
    val spread = maxPartition(
      big.withColumn("__salt", pmod(monotonically_increasing_id(), lit(8L))),
      Seq(col("accountid"), col("__salt")))
    assert(funneled >= 800, "precondition: unsalted hot key funnels")
    assert(spread * 2 <= funneled,
      s"salting must spread the hot key: max $spread vs funneled $funneled")
  }

  test("multimodal: RGB rasters reduce to BT.601 integer luminance, " +
      "not band-0 (red) statistics") {
    import spark.implicits._
    // a 2x1 RGB PNG: pure red (255,0,0) and pure green (0,255,0) —
    // band-0 sampling would report (255, 0); BT.601 luma reports
    // (255*299/1000, 255*587/1000) = (76, 149)
    val img = new java.awt.image.BufferedImage(2, 1,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xFF0000)
    img.setRGB(1, 0, 0x00FF00)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val media = Seq(Multimodal.MediaRow(7L, "img/png", out.toByteArray))
      .toDS()
    val f = Multimodal.extractFeatures(media).collect().head
    assert(f.min_px == 76 && f.max_px == 149,
      s"expected BT.601 luma (76, 149), got (${f.min_px}, ${f.max_px})")
    assert(f.mean_permille == (76L + 149L) * 1000L / 2)
  }

  test("multimodal: kind-dispatched REAL decode, frames partition the payload") {
    val media = Multimodal.mediaFromDocuments(spark, docs, partitions = 2)
    val feats = Multimodal.extractFeatures(media).collect()
      .sortBy(_.media_id)
    assert(feats.length == 4)
    // the corpus mixes two genuine codecs on one pixel truth
    assert(feats.map(_.kind).toSeq ==
      Seq("img/pgm", "img/png", "img/pgm", "img/png"))
    feats.foreach(f => assert(f.width == 16 && f.height == 8))
    // docs 0 and 1 hold the SAME text: the P5 parse and the PNG entropy
    // decode must land identical pixel statistics (PNG is lossless)
    assert(feats(0).mean_permille == feats(1).mean_permille &&
      feats(0).min_px == feats(1).min_px &&
      feats(0).max_px == feats(1).max_px,
      s"pgm ${feats(0)} vs png ${feats(1)}")
    // space padding caps the max pixel for ASCII text; 'q' = 113 appears
    assert(feats(0).max_px == 'z'.toInt || feats(0).max_px < 128)
    // resize planning: fits the box, never upscales, keeps aspect ratio
    val plan = Multimodal.resizePlan(Multimodal.extractFeatures(media),
      maxW = 100, maxH = 50).collect()
    plan.foreach { r =>
      val (w0, h0) = (r.getAs[Int]("width"), r.getAs[Int]("height"))
      val (w1, h1) = (r.getAs[Int]("out_width"), r.getAs[Int]("out_height"))
      val s = r.getAs[Long]("scale_permille")
      assert(w1 <= 100 && h1 <= 50, s"($w0,$h0)->($w1,$h1) exceeds the box")
      assert(s <= 1000, "resize plan must never upscale")
      assert(w1 == w0 * s / 1000 && h1 == h0 * s / 1000)
    }
    val frames = Multimodal.sampleFrames(media, nFrames = 4)
    assert(frames.count() == 16)
    val perDoc = frames.groupBy("media_id")
      .agg(sum("n_bytes").as("covered"), count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Long]("covered"), r.getAs[Long]("n"))).toMap
    assert(perDoc(3L)._2 == 4)
    // frames cover a prefix of the payload without overlap (stride
    // design); doc 3 is a PNG payload, so bound by its real byte length
    val png3 = media.filter(_.media_id == 3L).collect().head.payload.length
    assert(perDoc(3L)._1 <= png3)
  }

  test("MinHashAgg typed aggregator equals the column-form signatures") {
    import graft.ops.TextKit._
    import org.apache.spark.sql.functions.{col, explode}
    val k = 8
    // per-shingle k-slot hash arrays, then the typed aggregator
    val perShingle = Dedup.shingleHashes(docs)
      .select(col("doc_id"),
        org.apache.spark.sql.functions.array(
          (0 until k).map(j => Dedup.slotHash(col("m"), j)): _*).as("hs"))
    val agg = perShingle
      .as[(Long, Array[Long])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(graft.ops.MinHashAgg.column(k))
      .collect().toMap
    val expected = Dedup.minhashSignatures(docs, k).collect()
      .map(r => r.getLong(0) -> (1 to k).map(i => r.getLong(i)).toSeq).toMap
    assert(agg.keySet == expected.keySet)
    agg.foreach { case (id, sig) =>
      assert(sig.toSeq == expected(id), s"doc $id")
    }
  }

  test("blocked embedding near-dup is a subset of brute pairs, same cosines") {
    val emb = (0L to 99L).map { i =>
      (i, Array.tabulate(8)(d => ((i * 13 + d * 5) % 11 - 5).toFloat / 6f), 0)
    }.toDF("vec_id", "embedding", "label")
    val brute = Dedup.embeddingNearDup(emb, tau = 0.2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val blocked = Dedup.embeddingNearDupBlocked(emb, tau = 0.2, bits = 3)
      .collect()
    assert(blocked.nonEmpty)
    blocked.foreach { r =>
      val key = (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))
      assert(brute.contains(key) && brute(key) == r.getAs[Double]("cosine"))
    }
  }

  test("vocabulary/sample/normalize: deterministic curation ops") {
    val v = TextAnalysis.vocabulary(docs, topK = 3).collect()
    assert(v.length == 3)
    // "the": 2x in docs 0-1, 1x in doc 2 -> tf 5, df 3; top slot
    assert(v.head.getAs[String]("token") == "the" &&
      v.head.getAs[Long]("tf") == 5L && v.head.getAs[Long]("df") == 3L)
    // hash sampling is a pure function of doc_id + rates: repeated runs agree
    val s1 = TextAnalysis.stratifiedSample(docs).collect().map(_.getLong(0)).toSet
    val s2 = TextAnalysis.stratifiedSample(docs).collect().map(_.getLong(0)).toSet
    assert(s1 == s2)
    // 100% rate keeps everything; 0% keeps nothing
    assert(TextAnalysis.stratifiedSample(docs, Map.empty, defaultPct = 100)
      .count() == 4)
    assert(TextAnalysis.stratifiedSample(docs, Map.empty, defaultPct = 0)
      .count() == 0)
    val n = TextAnalysis.normalize(
      Seq((0L, "  Hello,   WORLD!2  ")).toDF("doc_id", "text")).collect().head
    assert(n.getAs[Int]("n_chars_norm") == 12) // "hello world2"
  }

  test("langid/quality/fingerprint shapes and determinism") {
    val l = TextAnalysis.langId(docs).collect()
    assert(l.length == 4)
    assert(l.forall(_.getAs[String]("predicted_lang") == "en" ||
      l.forall(_.getAs[String]("predicted_lang") != null)))
    val q = TextAnalysis.quality(docs).orderBy("doc_id").collect().head
    assert(q.getAs[Any]("n_tokens").toString == "9")
    val f1 = TextAnalysis.fingerprint(docs).collect()
      .map(r => (r.getLong(0), r.get(1).toString.toLong)).toMap
    assert(f1(0L) == f1(1L))
    assert(f1(0L) != f1(3L))
  }

  // deterministic pseudo-random embedding fixture: rows i and i+25
  // (i < 3) are exact duplicates, the rest pairwise distinct (the
  // (base+1)*(d+1) mod 101 pattern never repeats for base in 0..49)
  private lazy val semEmb = (0L to 49L).map { i =>
    val base = if (i >= 25L && i < 28L) i - 25L else i
    (i, Array.tabulate(64)(d =>
      (((base + 1) * (d + 1)) % 101 - 50).toFloat / 51f), 0)
  }.toDF("vec_id", "embedding", "label")

  test("semanticDedup: exact-duplicate vectors marked, keep-first, others kept") {
    val r = Similarity.semanticDedup(semEmb, nCells = 4, tau = 0.999)
      .collect().map(x => x.getAs[Long]("vec_id") -> x).toMap
    assert(r.size == 50)
    for (i <- 0L until 3L) {
      // the twin (same vector => same cell, cosine 1) is a dup of the
      // lower id; the lower id itself is kept
      assert(r(i + 25L).getAs[Boolean]("is_dup"))
      assert(r(i + 25L).getAs[Long]("dup_of") == i)
      assert(!r(i).getAs[Boolean]("is_dup"))
    }
    assert(r.values.count(_.getAs[Boolean]("is_dup")) == 3)
  }

  test("pqTopK: an exact twin has the minimal ADC and ranks first") {
    val top = Similarity.pqTopK(semEmb, nQueries = 3, k = 5)
      .orderBy("query_id", "rank").collect()
    for (q <- 0L until 3L) {
      val rows = top.filter(_.getAs[Long]("query_id") == q)
      assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to 5))
      // adc is nondecreasing down the ranking
      val adcs = rows.map(_.getAs[Long]("adc")).toSeq
      assert(adcs == adcs.sorted)
      // the exact twin shares the query's codes, so it attains the
      // global-minimum ADC; it must appear with adc == the rank-1 adc
      // (other vectors may tie on codes and outrank it by id only)
      val twin = rows.find(_.getAs[Long]("neighbor_id") == q + 25L)
      assert(twin.isDefined)
      assert(twin.get.getAs[Long]("adc") == adcs.head)
    }
  }

  test("ivfPqTopK: the twin shares cell, residual and codes — minimal ADC") {
    val top = Similarity.ivfPqTopK(semEmb, nQueries = 3, k = 5, nCells = 4)
      .orderBy("query_id", "rank").collect()
    for (q <- 0L until 3L) {
      val rows = top.filter(_.getAs[Long]("query_id") == q)
      assert(rows.nonEmpty)
      val adcs = rows.map(_.getAs[Long]("adc")).toSeq
      assert(adcs == adcs.sorted)
      // identical vector => same cell (always probed: it is the nearest
      // cell to itself), same residual, same codes => global-min ADC
      val twin = rows.find(_.getAs[Long]("neighbor_id") == q + 25L)
      assert(twin.isDefined, s"twin of query $q missing from IVF-PQ top-k")
      assert(twin.get.getAs[Long]("adc") == adcs.head)
    }
  }

  test("dHash: hand-checked bits, banded Hamming pairs find only true near-dups") {
    // doc1/doc2: identical images — row 0 samples [65,66,32,...] set
    // exactly bit 0 ('B' brighter than 'A'); doc3: "aZ" repeated fills
    // every row with the same gradient, bit 4 per row (sample cols
    // [0,1,3,5,7,8,10,12,14] read a,Z,Z,Z,Z,a,a,a,a)
    val d = Seq((1L, "AB"), (2L, "AB"), (3L, "aZ" * 64))
      .map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val hs = Multimodal.dhash(Multimodal.pgmFromDocuments(d))
      .collect().map(r => r.media_id -> (r.h_hi, r.h_lo)).toMap
    assert(hs(1L) == (1L, 0L) && hs(2L) == (1L, 0L), s"hs=$hs")
    val rowBits = (1L << 4) | (1L << 12) | (1L << 20) | (1L << 28)
    assert(hs(3L) == (rowBits, rowBits), s"hs=$hs")
    // doc3 shares no band key with doc1/doc2 (every band differs), so
    // the ONLY pair is the identical one at Hamming 0
    val pairs = Multimodal.dhashPairs(
        Multimodal.dhash(Multimodal.pgmFromDocuments(d)).toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0)), s"pairs=${pairs.toSeq}")
  }

  test("blobLabels: per-image union-find finds hand-checked blobs") {
    // row 0 pixels: 'A','B' (bright, adjacent -> one blob of 2),
    // gap of spaces, 'C' alone (blob of 1), rest dark
    val d = Seq((1L, "AB  C"), (2L, "     "), (3L, "ZZZZZZZZZZZZZZZZZZ"))
      .map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Multimodal.blobLabels(Multimodal.pgmFromDocuments(d))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out(1L) == (2L, 2L), s"out=$out")
    // doc2 is all spaces (dark): absent from output
    assert(!out.contains(2L), s"out=$out")
    // doc3: 18 'Z's wrap the 16-wide image: row 0 full (16) + row 1
    // first two, vertically connected at columns 0-1 -> ONE blob of 18
    assert(out(3L) == (1L, 18L), s"out=$out")
  }

  test("PGM/WAV decoders: hand-checked stats, loud failure on garbage") {
    val d = Seq((5L, "AB", "en", "s0", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val pgm = Multimodal.decodePgm(Multimodal.pgmFromDocuments(d))
      .collect().head
    // pixels: 'A'(65), 'B'(66), then 126 space pads (32)
    assert(pgm.width == 16 && pgm.height == 8 && pgm.maxval == 255)
    assert(pgm.min_px == 32 && pgm.max_px == 66)
    assert(pgm.mean_permille == (65L + 66L + 126L * 32L) * 1000L / 128L)
    val wav = Multimodal.decodeWav(Multimodal.wavFromDocuments(d))
      .collect().head
    assert(wav.sample_rate == 8000 && wav.n_channels == 1 && wav.bits == 16)
    assert(wav.n_samples == 69)
    assert(wav.abs_sum == (0 until 69)
      .map(k => math.abs((5L * 31 + k * 17) % 2048 - 1024)).sum)
    assert(wav.peak <= 1024)
    // resize 16x8 -> 8x4 samples src (2x, 2y): 'A'(0,0) survives,
    // 'B'(1,0) is dropped, everything else is the space pad
    val rz = Multimodal.decodePgm(Multimodal.resizePgm(
        Multimodal.pgmFromDocuments(d), outW = 8, outH = 4))
      .collect().head
    assert(rz.width == 8 && rz.height == 4)
    assert(rz.min_px == 32 && rz.max_px == 65)
    assert(rz.mean_permille == (65L + 31L * 32L) * 1000L / 32L)
    // windowed energy: n=69 samples -> 4 full windows + a 5-sample tail
    val wins = Multimodal.wavWindowEnergy(
        Multimodal.wavFromDocuments(d))
      .orderBy("win_idx").collect()
    assert(wins.length == 5)
    assert(wins.take(4).forall(_.getAs[Int]("n_in_win") == 16))
    assert(wins.last.getAs[Int]("n_in_win") == 5)
    def amp(k: Int) = math.abs((5L * 31 + k * 17) % 2048 - 1024)
    assert(wins.head.getAs[Long]("energy") == (0 until 16).map(amp).sum)
    assert(wins.last.getAs[Long]("energy") == (64 until 69).map(amp).sum)
    // malformed payloads kill the task loudly — never silent fake stats
    val garbage = Seq(Multimodal.MediaRow(1L, "img/pgm", Array[Byte](1, 2, 3)))
      .toDS()
    intercept[org.apache.spark.SparkException] {
      Multimodal.decodePgm(garbage).collect()
    }
    intercept[org.apache.spark.SparkException] {
      Multimodal.decodeWav(garbage).collect()
    }
    // adversarial headers: dims whose product overflows Int, a 16-bit
    // maxval this 1-byte parser cannot represent, and a negative WAV
    // data-chunk length must all fail, never zero out silently
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val bigDims = Seq(Multimodal.MediaRow(2L, "img/pgm",
      "P5\n70000 70000\n255\n".getBytes(ascii) ++ Array[Byte](0))).toDS()
    intercept[org.apache.spark.SparkException] {
      Multimodal.decodePgm(bigDims).collect()
    }
    val deepPgm = Seq(Multimodal.MediaRow(3L, "img/pgm",
      "P5\n2 2\n65535\n".getBytes(ascii) ++ Array.fill[Byte](8)(0))).toDS()
    intercept[org.apache.spark.SparkException] {
      Multimodal.decodePgm(deepPgm).collect()
    }
    val negWav = Multimodal.wavFromDocuments(d).collect().head.payload.clone()
    java.util.Arrays.fill(negWav, 40, 44, 0xff.toByte) // dataLen = -1
    val negDs = Seq(Multimodal.MediaRow(4L, "audio/wav", negWav)).toDS()
    intercept[org.apache.spark.SparkException] {
      Multimodal.decodeWav(negDs).collect()
    }
    // a header field that would wrap modulo 2^32 into a small dimension
    val wrapPgm = Seq(Multimodal.MediaRow(5L, "img/pgm",
      "P5\n4294967297 1\n255\n".getBytes(ascii) ++ Array[Byte](0))).toDS()
    intercept[org.apache.spark.SparkException] {
      Multimodal.decodePgm(wrapPgm).collect()
    }
    // stereo PCM must be refused, not silently windowed over L/R frames
    val stereo = Multimodal.wavFromDocuments(d).collect().head.payload.clone()
    stereo(22) = 2 // nChannels = 2
    val stereoDs = Seq(Multimodal.MediaRow(6L, "audio/wav", stereo)).toDS()
    intercept[org.apache.spark.SparkException] {
      Multimodal.decodeWav(stereoDs).collect()
    }
    // parameter validation fails fast on the driver with clear messages
    intercept[IllegalArgumentException] {
      Multimodal.resizePgm(garbage, outW = 0, outH = 4)
    }
    intercept[IllegalArgumentException] {
      Multimodal.wavWindowEnergy(garbage, winSamples = 0)
    }
    // a non-whitespace byte where the single maxval/pixel separator
    // belongs must fail, not shift the whole pixel read off by one
    val noSep = Seq(Multimodal.MediaRow(7L, "img/pgm",
      "P5\n2 2\n255X".getBytes(ascii) ++ Array.fill[Byte](4)(9))).toDS()
    intercept[org.apache.spark.SparkException] {
      Multimodal.decodePgm(noSep).collect()
    }
  }

  test("ImageIO decode: PNG round-trips losslessly, JPEG within tolerance") {
    val d = Seq((5L, "some moderately long document text for pixels", "en",
      "s0", 46L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    // PNG (DEFLATE) is lossless: decoded stats equal the PGM parse of
    // the same text-derived pixel grid bit for bit
    val png = Multimodal.decodeImage(Multimodal.pngFromDocuments(d))
      .collect().head
    val pgm = Multimodal.decodePgm(Multimodal.pgmFromDocuments(d))
      .collect().head
    assert((png.width, png.height) == (pgm.width, pgm.height))
    assert(png.mean_permille == pgm.mean_permille)
    assert((png.min_px, png.max_px) == (pgm.min_px, pgm.max_px))
    // the PNG payload is a genuine compressed bitstream, not raw pixels
    val pngBytes = Multimodal.pngFromDocuments(d).collect().head.payload
    assert(pngBytes.take(4).toSeq ==
      Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
    // JPEG (DCT+Huffman, lossy): dims exact, mean within 2 gray levels
    val jpgRow = Multimodal.jpegFromDocuments(d).collect().head
    assert(jpgRow.payload.take(2).toSeq ==
      Seq(0xff.toByte, 0xd8.toByte)) // SOI marker
    val jpg = Multimodal.decodeImage(
      Seq(jpgRow).toDS()).collect().head
    assert((jpg.width, jpg.height) == (pgm.width, pgm.height))
    assert(math.abs(jpg.mean_permille - pgm.mean_permille) <= 2000,
      s"jpeg mean ${jpg.mean_permille} vs source ${pgm.mean_permille}")
    // garbage bytes must kill the task, never yield silent fake features
    val junk = Seq(Multimodal.MediaRow(9L, "img/jpeg",
      Array.tabulate[Byte](64)(_.toByte))).toDS()
    intercept[org.apache.spark.SparkException] {
      Multimodal.decodeImage(junk).collect()
    }
    // resize through PNG shares resizePgm's integer sampling math, so
    // the two round trips produce identical pixel statistics
    val viaPng = Multimodal.decodeImage(Multimodal.resizeImage(
        Multimodal.pngFromDocuments(d), outW = 8, outH = 4))
      .collect().head
    val viaPgm = Multimodal.decodePgm(Multimodal.resizePgm(
        Multimodal.pgmFromDocuments(d), outW = 8, outH = 4))
      .collect().head
    assert((viaPng.width, viaPng.height) == (viaPgm.width, viaPgm.height))
    assert(viaPng.mean_permille == viaPgm.mean_permille)
    assert((viaPng.min_px, viaPng.max_px) == (viaPgm.min_px, viaPgm.max_px))
    intercept[IllegalArgumentException] {
      Multimodal.resizeImage(junk, outW = 0, outH = 4)
    }
  }

  test("animated GIF: frame sampling recovers per-frame stats bit-exact") {
    // 300 printable chars: frames 0-1 fully from text, frame 2 partial
    // (tail space-padded), frame 3 all padding
    val t = (0 until 300).map(i => (33 + (i * 7) % 90).toChar).mkString
    val d = Seq((7L, t, "en", "s0", t.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def expected(f: Int): (Long, Int, Int) = {
      val px = (0 until 128).map(i =>
        if (f * 128 + i < t.length) t(f * 128 + i).toInt else 32)
      (px.map(_.toLong).sum * 1000L / 128L, px.min, px.max)
    }
    val frames = Multimodal.sampleGifFrames(Multimodal.gifFromDocuments(d))
      .orderBy("frame_idx").collect()
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 1, 2, 3))
    for (fr <- frames) {
      val (mean, mn, mx) = expected(fr.frame_idx)
      assert((fr.width, fr.height) == (16, 8))
      // GIF stores our identity gray palette + raw indices: lossless,
      // so every sampled frame replays its text substring exactly
      assert(fr.mean_permille == mean, s"frame ${fr.frame_idx} mean")
      assert((fr.min_px, fr.max_px) == (mn, mx), s"frame ${fr.frame_idx}")
    }
    // every=2 seeks frames 0 and 2 only — sampling, not full decode
    val sampled = Multimodal.sampleGifFrames(
      Multimodal.gifFromDocuments(d), every = 2).collect()
    assert(sampled.map(_.frame_idx).sorted.toSeq == Seq(0, 2))
    // the payload is a genuine GIF container, readable by any tool
    val payload = Multimodal.gifFromDocuments(d).collect().head.payload
    assert(payload.take(6).map(_.toChar).mkString == "GIF89a")
    // garbage bytes kill the task loudly, never silent fake frames
    val junkGif = Seq(Multimodal.MediaRow(9L, "video/gif",
      Array.tabulate[Byte](64)(_.toByte))).toDS()
    intercept[org.apache.spark.SparkException] {
      Multimodal.sampleGifFrames(junkGif).collect()
    }
  }

  test("MP3 frame walk + H.264 NAL walk: hand-checked metadata, loud failures") {
    // doc_id=5: brIdx=6 (80kbps), srIdx=2 (32000), 3+5%4=4 frames,
    // frameLen = 144*80000/32000 = 360
    val d = Seq((5L, "irrelevant", "en", "s0", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val mp3 = Multimodal.mp3Meta(Multimodal.mp3FromDocuments(d))
      .collect().head
    assert(mp3.n_frames == 4 && mp3.bitrate_kbps == 80
      && mp3.sample_rate == 32000)
    assert(mp3.n_bytes == 4L * 360L)
    assert(mp3.duration_ms == 4L * 1152L * 1000L / 32000L)
    // the payload is genuine framing: sync + MPEG1 Layer III header
    val mp3Bytes = Multimodal.mp3FromDocuments(d).collect().head.payload
    assert((mp3Bytes(0) & 0xFF) == 0xFF && (mp3Bytes(1) & 0xFF) == 0xFB)
    assert((mp3Bytes(360) & 0xFF) == 0xFF) // frame 2 starts where computed
    // doc_id=5: SPS(10+0) PPS(4+2) IDR(40+5) + 1+5%3=3 slices
    // (20+5%30, 20+6%30, 20+7%30) = 15+45+66+21 header-excluded bytes
    val h264 = Multimodal.h264Meta(Multimodal.annexbFromDocuments(d))
      .collect().head
    assert(h264.n_nals == 6 && h264.has_sps && h264.has_pps)
    assert(h264.n_idr == 1 && h264.n_slices == 4)
    assert(h264.payload_bytes == 10L + 6L + 45L + 25L + 26L + 27L)
    // garbage bytes fail the task loudly in both walkers
    val junkMedia = Seq(Multimodal.MediaRow(9L, "audio/mpeg",
      Array.tabulate[Byte](64)(i => (i + 1).toByte))).toDS()
    intercept[org.apache.spark.SparkException] {
      Multimodal.mp3Meta(junkMedia).collect()
    }
    intercept[org.apache.spark.SparkException] {
      Multimodal.h264Meta(junkMedia).collect()
    }
    // a TRUNCATED valid stream (mid-frame cut) also fails, not rounds
    val cut = Seq(Multimodal.MediaRow(5L, "audio/mpeg",
      Multimodal.mp3FromDocuments(d).collect().head.payload.take(500))).toDS()
    intercept[org.apache.spark.SparkException] {
      Multimodal.mp3Meta(cut).collect()
    }
  }

  test("pqTopK trainIters: the twin's minimal-ADC invariant survives training") {
    // whatever codebook Lloyd refinement converges to, an exact twin
    // still shares the query's argmin codes, so it attains the global
    // minimum ADC — the invariant must hold for the trained form too
    val top = Similarity.pqTopK(semEmb, nQueries = 3, k = 5, trainIters = 2)
      .orderBy("query_id", "rank").collect()
    for (q <- 0L until 3L) {
      val rows = top.filter(_.getAs[Long]("query_id") == q)
      val adcs = rows.map(_.getAs[Long]("adc")).toSeq
      assert(adcs == adcs.sorted)
      val twin = rows.find(_.getAs[Long]("neighbor_id") == q + 25L)
      assert(twin.isDefined)
      assert(twin.get.getAs[Long]("adc") == adcs.head)
    }
  }

  test("IVF-PQ index: build once, search many — stable and equal to the one-shot") {
    val ix = Similarity.buildIvfPq(semEmb, nCells = 4)
    def run() = Similarity.searchIvfPq(ix, nQueries = 3, k = 5)
      .orderBy("query_id", "rank").collect().toSeq.map(_.toSeq)
    val first = run()
    assert(first == run()) // searches over a prebuilt index are stable
    val oneShot = Similarity.ivfPqTopK(semEmb, nQueries = 3, k = 5,
      nCells = 4).orderBy("query_id", "rank").collect().toSeq.map(_.toSeq)
    assert(first == oneShot)
  }

  test("band index mergeability: half-indexes merge to the exact full rebuild") {
    // includes duplicate texts (docs 0/1) so buckets span both halves
    val full = Dedup.bandIndexRaw(docs, maxBucket = 2)
      .orderBy("band", "key").collect().map(_.toSeq).toSeq
    val merged = Dedup.mergeBandIndex(
        Dedup.bandIndexRaw(docs.filter(col("doc_id") % 2 === 0), maxBucket = 2),
        Dedup.bandIndexRaw(docs.filter(col("doc_id") % 2 =!= 0), maxBucket = 2),
        maxBucket = 2)
      .orderBy("band", "key").collect().map(_.toSeq).toSeq
    assert(merged == full)
    // the query shape drops sentinel (over-cap) buckets like
    // corpusBandIndex does over the same corpus
    val q = Dedup.queryBandIndex(Dedup.bandIndexRaw(docs), maxBucket = 64)
      .orderBy("band", "key").collect().map(_.toSeq).toSeq
    val direct = Dedup.corpusBandIndex(docs)
      .orderBy("band", "key").collect().map(_.toSeq).toSeq
    assert(q == direct)
    TextKit.releaseCaches()
  }

  test("band index cap mismatch fails loudly (metadata rides the index)") {
    val half = Dedup.bandIndexRaw(docs, maxBucket = 2)
    // the cap survives select/cache; merging or querying with a different
    // cap than the build's breaks merge-equals-rebuild, so it must throw
    intercept[IllegalArgumentException] {
      Dedup.mergeBandIndex(half, half, maxBucket = 64)
    }
    intercept[IllegalArgumentException] {
      Dedup.queryBandIndex(half, maxBucket = 64)
    }
    // matching caps stay accepted, including through a parquet round trip
    // (a PERSISTED index must still carry its build-time cap)
    val dir = java.nio.file.Files.createTempDirectory("graft-bandix").toString
    half.write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir)
    intercept[IllegalArgumentException] {
      Dedup.queryBandIndex(reloaded, maxBucket = 64)
    }
    assert(Dedup.mergeBandIndex(half, reloaded, maxBucket = 2).count() > 0)
    TextKit.releaseCaches()
  }

  test("applyFeedToBandIndex == full rebuild, sentinel regimes included") {
    // 6 identical docs force over-cap (sentinel) buckets at cap=2; docs
    // 20/21 give complete buckets; the feed exercises every regime
    val dup = (0L to 5L).map(i => (i, "same shingled text across copies"))
    val base = (dup ++ Seq(20L -> "a unique document about penguins",
        21L -> "another unique document about glaciers"))
      .toDF("doc_id", "text")
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    def rebuild(head: org.apache.spark.sql.DataFrame) =
      Dedup.bandIndexRaw(head, maxBucket = 2)
        .orderBy("band", "key").collect().map(_.toSeq).toSeq
    def maintain(deleted: Seq[Long], inserts: org.apache.spark.sql.DataFrame) = {
      val head = base.filter(!col("doc_id").isInCollection(deleted))
        .unionByName(inserts)
      val got = Dedup.applyFeedToBandIndex(
          Dedup.bandIndexRaw(base, maxBucket = 2), inserts,
          base.filter(col("doc_id").isInCollection(deleted)),
          head, maxBucket = 2)
        .orderBy("band", "key").collect().map(_.toSeq).toSeq
      (got, rebuild(head))
    }
    // delete hits a kept min (0) -> flagged sentinel REBUILT from head;
    // delete kills a complete bucket's only member (20); insert merges
    val ins = Seq(30L -> "fresh arrival mentioning penguins too")
      .toDF("doc_id", "text")
    val (g1, e1) = maintain(Seq(0L, 20L), ins)
    assert(g1 == e1)
    // delete misses the kept mins {0,1,2}: sentinel kept as-is is EXACT
    // (>= cap+1 true members survive, kept mins unchanged)
    val (g2, e2) = maintain(Seq(5L), emptyDocs)
    assert(g2 == e2)
    assert(g2.exists(_.last.asInstanceOf[scala.collection.Seq[_]].size == 3)) // still sentinel
    TextKit.releaseCaches()
  }

  test("searchIvfPqWith: external queries find their corpus twins") {
    // index built WITHOUT rows 25..27; those rows then arrive as fresh
    // external queries — each must find its exact copy (0..2) in the
    // corpus at the global-minimum ADC
    val corpus = semEmb.filter(col("vec_id") < 25 || col("vec_id") >= 28)
    val fresh = semEmb.filter(col("vec_id") >= 25 && col("vec_id") < 28)
    val ix = Similarity.buildIvfPq(corpus, nCells = 4)
    val top = Similarity.searchIvfPqWith(ix, fresh, k = 5)
      .orderBy("query_id", "rank").collect()
    for (q <- 25L until 28L) {
      val rows = top.filter(_.getAs[Long]("query_id") == q)
      assert(rows.nonEmpty)
      val adcs = rows.map(_.getAs[Long]("adc")).toSeq
      val twin = rows.find(_.getAs[Long]("neighbor_id") == q - 25L)
      assert(twin.isDefined, s"external query $q missed its corpus twin")
      assert(twin.get.getAs[Long]("adc") == adcs.head)
    }
    // a query batch whose vectors don't match the index dimensionality
    // must fail loudly, not slice short subvectors into silent garbage
    val short = (0L to 2L)
      .map(i => (i, Array.tabulate(32)(d => (d + i).toFloat / 64f)))
      .toDF("vec_id", "embedding")
    val thrown = intercept[Exception] {
      Similarity.searchIvfPqWith(ix, short, k = 2).collect()
    }
    assert(thrown.getMessage.contains("index dim"))
  }

  test("appendIvfPq: split-invariant, frozen training, appendees searchable") {
    // index trained on 0..39 only; 40..49 arrive later as two ingest
    // batches — appending them in any batching must yield the identical
    // grown index (cells and codes depend only on the vector + frozen
    // training state), and appended vectors must be real candidates
    val base = semEmb.filter(col("vec_id") < 40)
    val b1 = semEmb.filter(col("vec_id") >= 40 && col("vec_id") < 45)
    val b2 = semEmb.filter(col("vec_id") >= 45)
    val ix = Similarity.buildIvfPq(base, nCells = 4)
    val grownSplit = Similarity.appendIvfPq(Similarity.appendIvfPq(ix, b1), b2)
    val grownOnce = Similarity.appendIvfPq(ix, b1.unionByName(b2))
    def run(g: Similarity.IvfPqIndex) =
      Similarity.searchIvfPq(g, nQueries = 5, k = 5)
        .orderBy("query_id", "rank").collect().toSeq
    assert(run(grownSplit) == run(grownOnce))
    // the grown encoded set covers the full id range exactly once
    val enc = grownOnce.encoded.select("vec_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(enc == (0L to 49L))
    // base members' codes are untouched by the append (frozen state)
    val baseCodes = ix.encoded.orderBy("vec_id").collect().toSeq
    val grownBaseCodes = grownOnce.encoded.filter(col("vec_id") < 40)
      .orderBy("vec_id").collect().toSeq
    assert(baseCodes == grownBaseCodes)
    // an appended vector searched as an external query finds itself at
    // the minimum (zero-residual-error) ADC — the index really holds it
    val top = Similarity.searchIvfPqWith(grownOnce,
        b2.select((col("vec_id") + 1000L).as("vec_id"), col("embedding")),
        k = 3)
      .orderBy("query_id", "rank").collect()
    for (q <- 1045L to 1049L) {
      val rows = top.filter(_.getAs[Long]("query_id") == q)
      assert(rows.nonEmpty, s"appended query $q returned nothing")
      val self = rows.find(_.getAs[Long]("neighbor_id") == q - 1000L)
      assert(self.isDefined, s"appended vector ${q - 1000L} not found")
      assert(self.get.getAs[Long]("adc") ==
        rows.map(_.getAs[Long]("adc")).min)
    }
    TextKit.releaseCaches()
  }

  test("applyFeedToIvfPq: maintenance == frozen-training re-encode of the head") {
    // index trained on 0..39; the feed then deletes 10..19 and inserts
    // 40..49. The maintained index must be bit-identical to re-encoding
    // the head row set (0..9, 20..49) from scratch under the SAME
    // frozen training state — and deleted vectors must be gone.
    val base = semEmb.filter(col("vec_id") < 40)
    val deletes = base.filter(col("vec_id") >= 10 && col("vec_id") < 20)
    val inserts = semEmb.filter(col("vec_id") >= 40)
    val ix = Similarity.buildIvfPq(base, nCells = 4)
    val maintained = Similarity.applyFeedToIvfPq(ix,
      inserts.select("vec_id", "embedding"), deletes.select("vec_id"))
    val head = base.filter(col("vec_id") < 10 || col("vec_id") >= 20)
      .unionByName(inserts)
    val ixRef = Similarity.appendIvfPq(
      ix.copy(e = ix.e.limit(0), encoded = ix.encoded.limit(0)),
      head.select("vec_id", "embedding"))
    def encSet(g: Similarity.IvfPqIndex) =
      g.encoded.collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Long]("cell"),
        r.getAs[scala.collection.Seq[Int]]("codes").toSeq)).toSet
    assert(encSet(maintained) == encSet(ixRef))
    // deleted ids are neither encoded nor searchable
    val ids = maintained.encoded.select("vec_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids == ((0L to 9L) ++ (20L to 49L)))
    val top = Similarity.searchIvfPqWith(maintained,
        semEmb.filter(col("vec_id") < 5).select("vec_id", "embedding"),
        k = 40)
      .collect()
    assert(!top.exists(r => (10L to 19L).contains(
      r.getAs[Long]("neighbor_id"))))
    TextKit.releaseCaches()
  }

  test("phash: driver recompute, brightness invariance, dissimilar images differ") {
    def refPhash(text: String): Long = {
      val w = 16; val h = 8
      val px = Array.tabulate(w * h)(i =>
        if (i < text.length) text(i).toInt else 32)
      val m = Array.tabulate(64) { b =>
        val vals = (0 until w * h).filter(i =>
          ((i / w) * 8 / h) * 8 + ((i % w) * 8 / w) == b).map(px)
        vals.sum.toLong / vals.size
      }
      val cf = Array.tabulate(64) { k =>
        (0 until 64).map { b =>
          val sign = 1 - 2 * ((Integer.bitCount((b % 8) & (k % 8)) +
            Integer.bitCount((b / 8) & (k / 8))) % 2)
          m(b) * sign
        }.sum
      }
      val med = cf.drop(1).sorted.apply(31)
      (1 until 64).map(k => if (cf(k) > med) 1L << (k - 1) else 0L).sum
    }
    val structured = (0 until 128).map(i =>
      (' ' + (i % 16) * (i / 16 % 4)).toChar).mkString
    val shifted = structured.map(c => (c + 1).toChar)
    val other = (0 until 128).map(i => ('!' + i * 37 % 64).toChar).mkString
    val d = Seq((1L, structured), (2L, structured), (3L, shifted),
      (4L, other))
      .map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val hs = Multimodal.phash(Multimodal.pgmFromDocuments(d))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((id, t) <- Seq(1L -> structured, 3L -> shifted, 4L -> other))
      assert(hs(id) == refPhash(t), s"phash mismatch for doc $id")
    assert(hs(1L) == hs(2L))
    // a uniform +1 brightness shift moves ONLY the DC coefficient
    // (the +-1 WHT kernel sums to zero for every non-DC k), so the
    // 63-bit hash is exactly invariant
    assert(hs(3L) == hs(1L))
    // a structurally different image lands far away in Hamming space
    assert(java.lang.Long.bitCount(hs(1L) ^ hs(4L)) > 8,
      s"expected distant hashes, got ${hs(1L)} vs ${hs(4L)}")
    assert(hs.values.forall(_ >= 0L))
  }

  test("maxSimTopK: coverage beats one strong chunk; scores exact") {
    import spark.implicits._
    // query (doc 0) has two orthogonal chunks; doc 1 supports BOTH
    // (10 each -> 20), doc 2 supports one strongly (15 -> 15): MaxSim
    // must rank coverage first — the late-interaction property a
    // single-vector cosine can't express
    val cvs = Seq(
      (0L, 0L, Seq(1L, 0L)), (0L, 1L, Seq(0L, 1L)),
      (1L, 0L, Seq(10L, 0L)), (1L, 1L, Seq(0L, 10L)),
      (2L, 0L, Seq(15L, 0L)))
      .toDF("doc_id", "chunk_idx", "cv")
    val top = Similarity.maxSimTopK(cvs, nQueries = 1L, k = 2)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("score")))
    assert(top.toSeq == Seq((1, 1L, 20L), (2, 2L, 15L)), s"top=${top.toSeq}")
  }

  test("madOutliers: robust to the outlier itself; nulls excluded") {
    import spark.implicits._
    // group a: values 10,12,14,16,1000 -> med 14, deviations
    // 4,2,0,2,986 -> MAD 2, threshold 6: only 1000 flags. A
    // mean/stddev gate at 3 sigma would NOT flag it (sigma ~ 441,
    // mean ~ 210) — the robustness this exists for.
    val t = Seq(("a", Some(10L)), ("a", Some(12L)), ("a", Some(14L)),
      ("a", Some(16L)), ("a", Some(1000L)), ("b", Some(5L)),
      ("b", None))
      .toDF("g", "v")
    val r = Checks.madOutliers(t, "g", "v").collect()
      .map(x => (x.getString(0), x.getLong(1)) ->
        (x.getLong(2), x.getLong(3), x.getBoolean(4)))
    val m = r.toMap
    assert(m(("a", 1000L)) == (14L, 2L, true), s"r=${r.toSeq}")
    for (v <- Seq(10L, 12L, 14L, 16L))
      assert(m(("a", v)) == (14L, 2L, false), s"r=${r.toSeq}")
    // null row excluded; the singleton group's value is its own
    // median (MAD 0, not an outlier)
    assert(r.count(_._1._1 == "b") == 1)
    assert(m(("b", 5L)) == (5L, 0L, false))
  }

  test("leakageSafeSplit: near-dup pairs never straddle splits; total; 3-way") {
    import spark.implicits._
    // 30 distinct docs + 10 exact-duplicate pairs appended: every dup
    // pair MUST land in one split together
    val distinctDocs = (0L to 29L).map(i =>
      (i, (0 until 12).map(j => s"u${i}w${(i * 7 + j) % 97}").mkString(" ")))
    val dups = (0L until 10L).flatMap(i => Seq(
      (100L + i, s"dup pair body number $i alpha beta gamma delta"),
      (200L + i, s"dup pair body number $i alpha beta gamma delta")))
    val d = (distinctDocs ++ dups)
      .map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Curation.leakageSafeSplit(d).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getString(2))).toMap
    assert(r.size == 50, "split must be total over the input")
    for (i <- 0L until 10L) {
      assert(r(100L + i)._1 == r(200L + i)._1, s"pair $i split groups differ")
      assert(r(100L + i)._2 == r(200L + i)._2,
        s"near-dup pair $i straddles splits: ${r(100L + i)} vs ${r(200L + i)}")
    }
    // the hash spreads singleton groups across all three splits
    assert(r.values.map(_._2).toSet == Set("train", "val", "test"),
      s"splits seen: ${r.values.map(_._2).toSet}")
    TextKit.releaseCaches()
  }

  test("balancedSample: exact count per group, smaller groups whole, deterministic") {
    import spark.implicits._
    val d = ((0L to 29L).map(i => (i, "en")) ++ (30L to 32L).map(i => (i, "de")))
      .toDF("doc_id", "lang")
    val r = TextAnalysis.balancedSample(d, "lang", n = 10).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getInt(2)))
    assert(r.count(_._1 == "en") == 10)
    // a group smaller than n is kept whole
    assert(r.filter(_._1 == "de").map(_._2).toSet == Set(30L, 31L, 32L))
    // deterministic across invocations
    val r2 = TextAnalysis.balancedSample(d, "lang", n = 10).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getInt(2)))
    assert(r.sortBy(x => (x._1, x._3)).toSeq == r2.sortBy(x => (x._1, x._3)).toSeq)
  }

  test("kAnonymity: hand-checked equivalence classes and both flags") {
    import spark.implicits._
    // (zip, seg) classes: (1,a) x3 members 2 distinct bals; (1,b) x1
    // member (k-violation); (2,a) x3 members all same bal (l-violation)
    val t = Seq((1, "a", 10), (1, "a", 10), (1, "a", 20),
      (1, "b", 30), (2, "a", 5), (2, "a", 5), (2, "a", 5))
      .toDF("zip", "seg", "bal")
    val r = Checks.kAnonymity(t, Seq("zip", "seg"), "bal", k = 2, l = 2)
      .collect().map(x => (x.getInt(0), x.getString(1)) ->
        (x.getLong(2), x.getLong(3), x.getBoolean(4), x.getBoolean(5)))
      .toMap
    assert(r((1, "a")) == (3L, 2L, false, false))
    assert(r((1, "b")) == (1L, 1L, true, true))
    assert(r((2, "a")) == (3L, 1L, false, true))
  }

  test("maxSimRerank: shortlist-restricted scores agree with full MaxSim") {
    import spark.implicits._
    val d = (0L to 9L).map(i =>
        (i, (0 until 40).map(j => s"t${(i + j) % 7}").mkString(" "),
          "en", "s0", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val embF = (0L to 9L).map(i => (i, Array.tabulate(64)(k =>
        (((i + 1) * (k + 1)) % 101 - 50).toFloat / 51f), 0))
      .toDF("vec_id", "embedding", "label")
    val cvs = Similarity.chunkVectors(d)
    val full = Similarity.maxSimTopK(cvs, nQueries = 2L, k = 9).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
        -> r.getAs[Long]("score")).toMap
    val rr = Similarity.maxSimRerank(cvs, embF, nQueries = 2,
      shortlist = 5, k = 5).collect()
    assert(rr.nonEmpty)
    // the rerank never invents scores: every (query, doc) it returns
    // carries exactly the full-MaxSim score for that pair
    rr.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(full(key) == r.getAs[Long]("score"), s"score mismatch at $key")
    }
    TextKit.releaseCaches()
  }

  test("semanticPack: degenerate clustering == packSequences; cells stay contiguous") {
    import spark.implicits._
    val d = (0L to 39L).map(i =>
        (i, (0 until (3 + (i % 5)).toInt).map(j => s"w${i}_$j").mkString(" "),
          "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // one cluster for everyone -> layout identical to the plain packer
    val flat = d.select(col("doc_id").as("vec_id"), lit(0L).as("cell"))
    val sem = Export.semanticPack(d, flat, budget = 16L)
      .drop("cell").orderBy("doc_id").collect().map(_.toSeq).toSeq
    val plain = Export.packSequences(d, budget = 16L)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(sem == plain)
    // two clusters -> within every shard the pack layout walks cell 0
    // fully before cell 1 (cluster-contiguous order); missing
    // embeddings land first under cell -1
    val two = d.filter(col("doc_id") =!= 7L)
      .select(col("doc_id").as("vec_id"), (col("vec_id") % 2).as("cell"))
    val out = Export.semanticPack(d, two, budget = 16L).collect()
    val byShard = out.groupBy(_.getAs[Long]("shard"))
    for ((_, rows) <- byShard) {
      val cells = rows.sortBy(r =>
        (r.getAs[Long]("pack_id"), r.getAs[Int]("pack_pos")))
        .map(_.getAs[Long]("cell")).toSeq
      assert(cells == cells.sorted, s"cells not contiguous: $cells")
    }
    assert(out.find(_.getAs[Long]("doc_id") == 7L).get
      .getAs[Long]("cell") == -1L)
  }

  test("gifKeyframes: static clips collapse, scene cuts survive") {
    val a = "aZ" * 64; val b = " " * 128
    val d = Seq((1L, a * 4), (2L, a + b + a + b))
      .map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Multimodal.gifKeyframes(Multimodal.gifFromDocuments(d))
      .collect().map(x => (x.getLong(0), x.getInt(1)) ->
        (x.getInt(2), x.getBoolean(3))).toMap
    assert(r.size == 8)
    // static clip: one keyframe, every later frame is hamming-0 dup
    assert(r((1L, 0)) == (-1, true))
    for (f <- 1 to 3) assert(r((1L, f)) == (0, false), s"frame $f: $r")
    // alternating scenes: every frame is a cut (gradient image vs flat
    // image differ in 8 dhash bits, above the 3-bit threshold)
    assert(r((2L, 0)) == (-1, true))
    for (f <- 1 to 3) {
      assert(r((2L, f))._1 > 3 && r((2L, f))._2, s"frame $f: $r")
    }
  }

  test("keyframeHashes + dhashPairs: shared scenes pair, dropped frames don't") {
    val a = "aZ" * 64; val b = " " * 128
    val d = Seq((1L, a + b + a + b), (2L, a + b + a + b), (3L, a * 4))
      .map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val kf = Multimodal.keyframeHashes(Multimodal.gifFromDocuments(d))
    val ids = kf.select("media_id").collect().map(_.getLong(0)).toSet
    // clips 1/2 keep all 4 frames (every frame is a cut); the static
    // clip keeps only frame 0 => ids 13..15 are dropped
    assert(ids == ((4L to 11L) ++ Seq(12L)).toSet, s"ids=$ids")
    val pairs = Multimodal.dhashPairs(kf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // the two identical clips pair frame-for-frame at Hamming 0
    for (f <- 0 to 3)
      assert(pairs.contains((4L + f, 8L + f, 0)),
        s"missing twin pair for frame $f: ${pairs.toSeq}")
    // no pair touches a dropped (non-keyframe) frame id
    assert(pairs.forall(p => ids(p._1) && ids(p._2)))
  }

  test("wavFingerprint: driver recompute; volume-doubling keeps the bits") {
    val d = Seq(3L, 7L, 64L).map(id => (id, "x", "en", "s0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Multimodal.wavFingerprint(Multimodal.wavFromDocuments(d))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    def refFp(samples: Array[Long]): (Int, Long) = {
      val n = samples.length
      val nw = (n + 15) / 16
      val e = Array.ofDim[Long](nw, 4)
      for (w <- 0 until nw; k <- 0 until 16) {
        val c = (0 until 16).map { j =>
          val idx = w * 16 + j
          val s = if (idx < n) samples(idx) else 0L
          s * (1 - 2 * (Integer.bitCount(j & k) & 1))
        }.sum
        e(w)(k / 4) += math.abs(c)
      }
      var fp = 0L
      for (t <- 1 until nw; b <- 0 until 3) {
        val dd = (e(t)(b) - e(t)(b + 1)) - (e(t - 1)(b) - e(t - 1)(b + 1))
        if (dd > 0) fp |= 1L << (3 * (t - 1) + b)
      }
      (nw, fp)
    }
    for (id <- Seq(3L, 7L, 64L)) {
      val n = (64 + id % 64).toInt
      val want = refFp(Array.tabulate(n)(k => (id * 31 + k * 17) % 2048 - 1024))
      assert(got(id) == want, s"id $id: got ${got(id)}, want $want")
    }
    // Haitsma-Kalker robustness: doubling the volume scales every band
    // energy by 2, so every double-delta keeps its sign — identical fp
    def wav(id: Long, scale: Int): Multimodal.MediaRow = {
      val n = 80
      val bb = java.nio.ByteBuffer.allocate(44 + n * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val ascii = java.nio.charset.StandardCharsets.US_ASCII
      bb.put("RIFF".getBytes(ascii)); bb.putInt(36 + n * 2)
      bb.put("WAVE".getBytes(ascii))
      bb.put("fmt ".getBytes(ascii)); bb.putInt(16)
      bb.putShort(1); bb.putShort(1)
      bb.putInt(8000); bb.putInt(16000)
      bb.putShort(2); bb.putShort(16)
      bb.put("data".getBytes(ascii)); bb.putInt(n * 2)
      for (k <- 0 until n)
        bb.putShort((((id * 31 + k * 17) % 512 - 256) * scale).toShort)
      Multimodal.MediaRow(id, "audio/wav", bb.array())
    }
    val fps = Multimodal.wavFingerprint(
        spark.createDataset(Seq(wav(5L, 1), wav(6L, 2))))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(fps(5L) == fps(6L),
      s"volume doubling must not move the fingerprint: $fps")
  }

  test("wavWhtBands: driver recompute of the windowed WHT filterbank") {
    val d = Seq(0L, 1L, 70L).map(id => (id, "x", "en", "s0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Multimodal.wavWhtBands(Multimodal.wavFromDocuments(d))
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        Seq(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    def ref(id: Long): Map[(Long, Int), Seq[Long]] = {
      val n = (64 + id % 64).toInt
      val nw = (n + 63) / 64
      (0 until nw).map { w =>
        val s = Array.tabulate(64) { j =>
          val k = w * 64 + j
          if (k < n) (id * 31 + k * 17) % 2048 - 1024 else 0L
        }
        val bands = new Array[Long](4)
        for (k <- 0 until 64) {
          val c = (0 until 64).map(j =>
            s(j) * (1 - 2 * (Integer.bitCount(j & k) & 1))).sum
          bands(k / 16) += math.abs(c)
        }
        (id, w) -> bands.toSeq
      }.toMap
    }
    val want = Seq(0L, 1L, 70L).flatMap(ref).toMap
    assert(got == want, s"got=$got\nwant=$want")
    // id 0 / id 1: one window (n = 64); id 70: two (n = 70, padded tail)
    assert(got.keySet.count(_._1 == 70L) == 2)
    assert(got.keySet.count(_._1 == 0L) == 1)
  }

  test("charDiversity: hand-checked Simpson ppm, repetitive > diverse") {
    val d = Seq((1L, "aaaa"), (2L, "abab"), (3L, "abcd"),
      (4L, "the quick brown fox"))
      .map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.charDiversity(d).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(1L) == (1L, 1000000L))   // all collisions
    assert(r(2L) == (2L, 500000L))    // 2 chars x cnt 2: 8*1e6/16
    assert(r(3L) == (4L, 250000L))    // uniform over 4
    // boilerplate scores strictly above prose
    assert(r(1L)._2 > r(4L)._2 && r(2L)._2 > r(4L)._2)
  }

  test("quality classifier: held-out separation, neutral totality, model bound") {
    val vocab = Seq("table", "scan", "filter", "merge", "window",
      "stream", "vector", "column", "batch", "query")
    val d = (0L to 19L).map { i =>
      (i, (0 until 8).map(j => vocab(((i + 3 * j) % 10).toInt))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val out = Classifier.qualityScore(d, col("doc_id") % 2 === 0)
      .collect()
    assert(out.length == 40)
    // every REAL doc scores fluent and every reversed twin garbage —
    // including the odd-id docs the model never saw (generalization)
    for (r <- out) {
      val fluent = r.getAs[Boolean]("is_fluent")
      val v = r.getAs[String]("variant")
      assert(fluent == (v == "orig"),
        s"doc ${r.getAs[Long]("doc_id")} variant $v misclassified " +
          s"(score ${r.getAs[Long]("score_ppm")})")
    }
    // held-out fluent docs must separate from held-out garbage by a
    // real margin, not a coin flip at the threshold
    val holdOut = out.filter(_.getAs[Long]("doc_id") % 2 == 1)
    val worstOrig = holdOut.filter(_.getAs[String]("variant") == "orig")
      .map(_.getAs[Long]("score_ppm")).min
    val bestRev = holdOut.filter(_.getAs[String]("variant") == "rev")
      .map(_.getAs[Long]("score_ppm")).max
    assert(worstOrig - bestRev > 200000,
      s"weak separation: $worstOrig vs $bestRev")
    // a featureless document is total and neutral, not dropped
    val empty = Classifier.qualityScore(
      Seq((0L, "word"), (1L, "")).toDF("doc_id", "text"), lit(true))
      .filter(col("doc_id") === 1L).collect()
    assert(empty.length == 2)
    assert(empty.forall(_.getAs[Long]("score_ppm") == Classifier.NeutralPpm))
    assert(empty.forall(_.getAs[Long]("n_feats") == 0L))
    // incremental training: sufficient statistics are count-additive, so
    // merged disjoint slices == the monolithic pass, bit for bit — both
    // at the counts level and through scoring
    val even = d.filter(col("doc_id") % 2 === 0)
    val mergedCounts = Classifier.mergeCounts(
      Classifier.trainCounts(d.filter(col("doc_id") % 4 === 0)),
      Classifier.trainCounts(d.filter(col("doc_id") % 4 === 2)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("bucket").collect().toSeq
    assert(rows(mergedCounts) == rows(Classifier.trainCounts(even)))
    val viaMerge = Classifier.scoreWith(d,
        Classifier.weightsOf(mergedCounts))
      .orderBy("doc_id", "variant").collect().toSeq
    assert(viaMerge == out.sortBy(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("variant"))).toSeq)
  }

  test("bpe: hand-checkable merges, greedy run fixpoint, OOV encode, sampling") {
    // "abab" x3 + "ab" x2: pair (a,b) count = 8 dominates; then (ab,ab)
    // from the three "abab"s (3) beats (b,a) (3)? tie -> lexicographic:
    // ("ab","ab") < ("b","a") so ("ab","ab") merges second
    val d = Seq((0L, "abab abab abab ab ab")).toDF("doc_id", "text")
    val merges = Bpe.train(d, nMerges = 2).merges
    assert(merges.map(m => (m.lhs, m.rhs, m.pairN)) ==
      Seq(("a", "b", 8L), ("ab", "ab", 3L)))
    val counts = Bpe.tokenCounts(d, nMerges = 2).collect().head
    // abab -> [abab] (1 tok) x3, ab -> [ab] x2 => 5 bpe tokens, 16 chars
    assert(counts.getAs[Long]("n_words") == 5L)
    assert(counts.getAs[Long]("bpe_tokens") == 5L)
    assert(counts.getAs[Long]("n_chars") == 16L)
    // a long same-pair run reaches the sweep fixpoint within Sweeps:
    // rule (b,b) over b^16 — non-overlapping sweeps merge alternating
    // pairs (sweep 1: 5 merges, sweep 2: the trailing single pair),
    // leaving [bb b bb b bb b bb b bb bb] = 10 symbols with NO (b,b)
    // occurrence left — the defined deterministic semantics
    val run = Seq((0L, ("b" * 16) + " bb bb bb")).toDF("doc_id", "text")
    val m2 = Bpe.train(run, nMerges = 1).merges
    assert(m2.map(m => (m.lhs, m.rhs, m.pairN)) == Seq(("b", "b", 18L)))
    val c2 = Bpe.tokenCounts(run, nMerges = 1).collect().head
    // b^16 -> 10 symbols; each "bb" word -> 1 token => 10 + 3 = 13
    assert(c2.getAs[Long]("n_words") == 4L)
    assert(c2.getAs[Long]("bpe_tokens") == 13L)
    assert(c2.getAs[Long]("n_chars") == 22L)
    // the merge kernel handles words never seen in training
    val oov = graft.functions.BpeMerge.encode("xbabx", Bpe.model(merges))
    // merges (a,b) then (ab,ab): xbabx -> x b ab x
    assert(graft.functions.BpeMerge.symbols(oov).map(_.toString).toSeq ==
      Seq("x", "b", "ab", "x"))
    assert(Seq("xbabx").toDF("word")
      .select(Bpe.tokenCountExpr(col("word"), merges)).collect().head
      .getLong(0) == 4L)
    // doc-level hash sampling trains on a strict subset but still encodes
    // every document
    val many = (0L to 19L).map(i => (i, "abab ab")).toDF("doc_id", "text")
    val sampled = Bpe.tokenCounts(many, nMerges = 2, trainSampleMod = 2)
    assert(sampled.count() == 20L)
    TextKit.releaseCaches()
  }

  test("extractHtmlText: recovers text exactly, drops script/style, empty total") {
    val d = Seq((0L, "some plain document words here"), (1L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.extractHtmlText(TextAnalysis.htmlFromDocuments(d))
      .orderBy("doc_id").collect()
    assert(out(0).getAs[String]("main_text") == "some plain document words here")
    assert(out(0).getAs[String]("title") == "doc 0")
    assert(out(0).getAs[Long]("n_links") == 2L)
    // script/style payloads must never leak into visible text
    assert(!out(0).getAs[String]("main_text").contains("var x"))
    assert(out(0).getAs[Long]("stripped_len") ==
      "doc 0".length + 10L + 30L + 14L)
    // empty document: extraction is total, page is all boilerplate
    assert(out(1).getAs[String]("main_text") == "")
    assert(out(1).getAs[Long]("boilerplate_permille") == 1000L)
  }

  test("corpusReport: one-row datasheet matches hand computation") {
    val r = TextAnalysis.corpusReport(docs).collect().head
    assert(r.getAs[Long]("n_docs") == 4L)
    assert(r.getAs[Long]("n_tokens") == 33L) // 9 + 9 + 9 + 6
    assert(r.getAs[Long]("n_langs") == 2L)   // en, de
    assert(r.getAs[Long]("n_sources") == 2L) // s0, s1
    // docs 0 and 1 are byte-identical: one dup group, one excess copy
    assert(r.getAs[Long]("dup_groups") == 1L)
    assert(r.getAs[Long]("dup_docs") == 1L)
    // token lengths sorted [6,9,9,9]: nearest-rank p50 -> rank 2 -> 9,
    // p90 -> rank 4 -> 9
    assert(r.getAs[Long]("p50_tokens") == 9L)
    assert(r.getAs[Long]("p90_tokens") == 9L)
    TextKit.releaseCaches()
  }

  test("semanticClusters: recovers planted clusters exactly") {
    // 100 well-separated centers x 5 tight members (RecallSpec's
    // clustered regime; the non-separable sin((c+1)(d+1)(d+3)K) center
    // construction is full-rank — max inter-center cosine ~0.40, vs a
    // rank-2 manifold a separable sin(f(c)+g(d)) would produce):
    // mutual-kNN at k=4 must connect exactly the quintuplets — 100
    // components, each of size 5, labeled by the min member id
    val clustered = (0L until 500L).map { i =>
      val c = (i % 100).toInt
      val r = (i / 100).toInt
      (i, Array.tabulate(64)(d =>
        (math.sin((c + 1.0) * (d + 1.0) * (d + 3.0) * 104729.0) +
          0.03 * math.sin(r * 997.0 + d)).toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    val labeled = Similarity.semanticClusters(clustered, k = 4, tau = 0.9)
      .collect()
    assert(labeled.length == 500, "every vector sits in a mutual edge")
    val byComp = labeled.groupBy(_.getAs[Long]("component_id"))
    assert(byComp.size == 100, s"expected 100 clusters, got ${byComp.size}")
    byComp.foreach { case (comp, rows) =>
      assert(rows.length == 5, s"cluster $comp has ${rows.length} members")
      assert(rows.forall(_.getAs[Long]("doc_id") % 100 == comp),
        s"cluster $comp mixed in foreign members")
    }
    // per-cluster cap: exactly 2 hash-ranked representatives survive
    // from each quintuplet, still members of their own cluster
    val capped = Components.capPerCluster(
      Similarity.semanticClusters(clustered, k = 4, tau = 0.9), m = 2)
      .collect()
    assert(capped.length == 200)
    capped.groupBy(_.getAs[Long]("component_id")).foreach {
      case (comp, rows) =>
        assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == Seq(1, 2))
        assert(rows.forall(_.getAs[Long]("doc_id") % 100 == comp))
    }
    TextKit.releaseCaches()
  }

  test("trainValTestSplit: stable under corpus growth, disjoint, validated") {
    val more = docs.union(docs.select((col("doc_id") + 1000).as("doc_id"),
      col("text"), col("lang"), col("source"), col("n_chars")))
    def assign(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.trainValTestSplit(df, valPermille = 300,
        testPermille = 300)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          r.getAs[String]("split")).toMap
    val small = assign(docs)
    val grown = assign(more)
    // a document's assignment NEVER changes as the corpus grows
    assert(small.forall { case (id, s) => grown(id) == s })
    // every doc gets exactly one split label; all three occur at 30/30/40
    assert(grown.size == 8)
    assert(grown.values.toSet.subsetOf(Set("train", "val", "test")))
    intercept[IllegalArgumentException] {
      TextAnalysis.trainValTestSplit(docs, valPermille = 600,
        testPermille = 600)
    }
  }

  test("bigramScore: fluent text outranks shuffled text; short docs total") {
    val corpus = Seq(
      // repeated common phrasing: bigrams recur across docs 0-2
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox sleeps near the lazy dog"),
      (2L, "the quick brown cat jumps over the lazy dog"),
      // same words as doc 0, shuffled: bigrams mostly unique
      (3L, "dog the over quick lazy brown the jumps fox"),
      (4L, "one"), // < 2 tokens: zero bigrams, zero score, still a row
      (5L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramScore(corpus).orderBy("doc_id").collect()
    assert(out.length == 6, "every doc must emit a row (totality)")
    val byId = out.map(x =>
      x.getAs[Long]("doc_id") -> x.getAs[Long]("fluency_ppm")).toMap
    assert(byId(0L) > byId(3L),
      "corpus-fluent word order must outscore shuffled words")
    assert(byId(4L) == 0L && byId(5L) == 0L)
    assert(out.find(_.getAs[Long]("doc_id") == 4L).get
      .getAs[Long]("n_bigrams") == 0L)
    TextKit.releaseCaches()
  }

  test("hybridSearchBatch: batch query equals the single-query form; empty batch total") {
    val dir = "/root/testdata/sf0.001"
    val fdocs = spark.read.parquet(s"$dir/documents.parquet")
    val femb = spark.read.parquet(s"$dir/embeddings.parquet")
    def row(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), Option(r.getAs[Any]("kw_rank")),
        Option(r.getAs[Any]("vec_rank")), r.getAs[Double]("rrf"))
    val single = Similarity
      .hybridSearch(fdocs, femb, Seq("table", "join", "fast"))
      .collect().map(row).toSeq
    val qs = Seq((0L, Seq("table", "join", "fast"), 0L),
      (7L, Seq("stream", "window"), 3L))
      .toDF("query_id", "terms", "qvec_id")
    val batch = Similarity.hybridSearchBatch(fdocs, femb, qs)
    val batchQ0 = batch.filter(col("query_id") === 0L).orderBy("rank")
      .collect().map(row).toSeq
    assert(batchQ0 == single,
      "batch query 0 must reproduce the single-query hybridSearch exactly")
    // the second query fused independently and non-trivially
    assert(batch.filter(col("query_id") === 7L).count() == 10)
    // totality: an empty query batch yields an empty result, not a throw
    assert(Similarity.hybridSearchBatch(fdocs, femb, qs.limit(0)).count() == 0)
    // BM25 pools: batch query 0 reproduces the single-query BM25 form
    val singleBm25 = Similarity
      .hybridSearch(fdocs, femb, Seq("table", "join", "fast"),
        useBm25 = true)
      .collect().map(row).toSeq
    val batchBm25 = Similarity
      .hybridSearchBatch(fdocs, femb, qs, useBm25 = true)
      .filter(col("query_id") === 0L).orderBy("rank")
      .collect().map(row).toSeq
    assert(batchBm25 == singleBm25,
      "BM25 batch query 0 must reproduce the single-query form exactly")
    // totality: an EMPTY document corpus must not NPE on the undefined
    // avgdl aggregate — the vector pool (independent of docs) still
    // answers, with no lexical contribution on any row
    val noDocs = Similarity.hybridSearchBatch(fdocs.limit(0), femb, qs,
      useBm25 = true).collect()
    assert(noDocs.nonEmpty && noDocs.forall(_.isNullAt(2)),
      "vector-only results must carry null kw_rank")
    TextKit.releaseCaches()
  }

  test("IVF-PQ index round-trips through the lake: write, reload, same answers") {
    // the README claim "index state lives in the lake, not the driver":
    // the three index relations are plain DataFrames, so they persist as
    // parquet and a later session searches the reloaded index unchanged
    val ix = Similarity.buildIvfPq(semEmb, nCells = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    ix.e.write.mode("overwrite").parquet(s"$dir/e")
    ix.cent.write.mode("overwrite").parquet(s"$dir/cent")
    ix.codebook.write.mode("overwrite").parquet(s"$dir/codebook")
    ix.encoded.write.mode("overwrite").parquet(s"$dir/encoded")
    val reloaded = Similarity.IvfPqIndex(
      spark.read.parquet(s"$dir/e"),
      spark.read.parquet(s"$dir/cent"),
      spark.read.parquet(s"$dir/codebook"),
      spark.read.parquet(s"$dir/encoded"),
      ix.m, ix.codesPerSub, ix.subDim)
    val orig = Similarity.searchIvfPq(ix, nQueries = 3, k = 5)
      .orderBy("query_id", "rank").collect().toSeq.map(_.toSeq)
    val fromLake = Similarity.searchIvfPq(reloaded, nQueries = 3, k = 5)
      .orderBy("query_id", "rank").collect().toSeq.map(_.toSeq)
    assert(fromLake == orig)
  }

  test("TopKAggLongAsc equals the ascending row_number window form") {
    val scored = Seq((0L, 1L, 5L), (0L, 2L, 3L), (0L, 3L, 3L), (0L, 4L, 9L),
      (1L, 1L, 7L), (1L, 2L, 7L))
      .toDF("query_id", "cand_id", "dist")
    val agg = TopKAgg.topKPerQueryAsc(scored, "query_id", "cand_id", "dist", 2)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("dist"), r.getAs[Int]("rank"))).toSeq
    assert(agg == Seq((0L, 2L, 3L, 1), (0L, 3L, 3L, 2),
      (1L, 1L, 7L, 1), (1L, 2L, 7L, 2)))
  }

  test("bm25: length normalization ranks the shorter doc higher at equal tf") {
    val d = Seq(
      (0L, "apple pear", "en", "s0", 10L),
      (1L, "apple pear " + Seq.fill(40)("filler").mkString(" "), "en", "s0", 50L),
      (2L, "nothing relevant here", "en", "s0", 21L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.bm25Search(d, Seq("apple", "pear"), k = 10)
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(!r.contains(2L)) // no matching term, no row
    assert(r(0L).getAs[Long]("n_terms_hit") == 2)
    assert(r(0L).getAs[Long]("score") > r(1L).getAs[Long]("score"))
  }

  test("fluency buckets: monotone in score, near-even sizes, ties go lower") {
    // the real sf0.001 corpus: enough score spread for 3 distinct buckets
    val d = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val rows = graft.ops.TextAnalysis.fluencyBuckets(d).collect()
    assert(rows.length == d.count())
    // bucket must be monotone non-decreasing in fluency_ppm
    val sorted = rows.sortBy(_.getAs[Long]("fluency_ppm"))
    assert(sorted.map(_.getAs[Int]("bucket")).toSeq ==
      sorted.map(_.getAs[Int]("bucket")).toSeq.sorted)
    // nearest-rank terciles: the lowest bucket holds at least ceil(n/3)
    // docs (boundary ties pile DOWN, never up), every bucket non-empty
    val n = rows.length
    val sizes = rows.groupBy(_.getAs[Int]("bucket")).map { case (b, r) =>
      b -> r.length
    }
    assert(sizes.keySet == Set(0, 1, 2))
    assert(sizes(0) >= (n + 2) / 3)
    // same doc ids in, same out (pure stratification, no filtering)
    assert(rows.map(_.getAs[Long]("doc_id")).sorted.toSeq ==
      d.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("token mixing: greedy budget cut and rate admission") {
    val d = (0L to 39L).map { i =>
      val src = if (i % 2 == 0) "a" else "b"
      (i, Seq.fill(10)("tok").mkString(" "), "en", src, 30L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    // greedy: budget 45 admits docs while cum-tok < 45 => 5 docs (cum 50)
    val g = TextAnalysis.tokenBudgetMix(d, Map("a" -> 45L, "b" -> 0L))
      .collect()
    assert(g.forall(_.getAs[String]("source") == "a"))
    assert(g.length == 5)
    assert(g.map(_.getAs[Long]("cum")).max == 50L)
    // rate form: budget 0 => nothing; budget >= total => everything
    val none = TextAnalysis.tokenRateMix(d, Map.empty, defaultBudget = 0L)
    assert(none.count() == 0)
    val all = TextAnalysis.tokenRateMix(d, Map.empty,
      defaultBudget = Long.MaxValue)
    assert(all.count() == 40)
    // half rate admits roughly half of each domain via the hash bucket
    val half = TextAnalysis.tokenRateMix(d, Map("a" -> 100L, "b" -> 100L))
      .collect()
    assert(half.nonEmpty && half.length < 40)
  }

  test("gopherRules: clean prose passes, each planted defect trips its rule") {
    val d = Seq(
      // 0: clean English prose, > 20 words, sane lengths, stopwords
      (0L, ("the quick brown fox jumps over a lazy dog and runs to " +
        "the old barn in the field where the farmer keeps hay and grain")),
      // 1: too short (< 20 words)
      (1L, "the cat sat on a mat"),
      // 2: symbol-ridden (# per word ratio > 10%)
      (2L, ("# # # # # the quick brown fox jumps over a lazy dog and " +
        "runs to the barn in the morning light again")),
      // 3: mean word length out of band (single-char words)
      (3L, ("a b c d e f g h i j k l m n o p q r s t u v w x y z " +
        "a b c d e f the of")),
      // 4: bullet lines dominate
      (4L, (Seq.fill(10)("- the bullet item of a list").mkString("\n"))),
      // 5: no stopwords at all
      (5L, ("quick brown fox jumps lazy dog runs barn field farmer " +
        "keeps hay grain morning light water stone river mountain tree"))
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(d).orderBy("doc_id").collect()
    val pass = out.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Boolean]("pass")).toMap
    assert(pass(0L), "clean prose must pass all rules")
    assert(!pass(1L) &&
      !out(1).getAs[Boolean]("r_words"), "short doc fails the word-count rule")
    assert(!pass(2L) &&
      !out(2).getAs[Boolean]("r_symbol"), "hash spam fails the symbol rule")
    assert(!pass(3L) &&
      !out(3).getAs[Boolean]("r_wlen"), "1-char words fail the word-length rule")
    assert(!pass(4L) &&
      !out(4).getAs[Boolean]("r_bullet"), "all-bullet doc fails the bullet rule")
    assert(!pass(5L) &&
      !out(5).getAs[Boolean]("r_stop"), "stopword-free doc fails the stopword rule")
  }

  test("knBigramScore: backoff scores unseen continuations, fluent > shuffled") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox sleeps near the lazy dog"),
      (2L, "the quick brown cat jumps over the lazy dog"),
      // 3: same words as 0, shuffled — bigrams mostly unseen in 0-2
      (3L, "dog the over quick lazy brown the jumps fox"),
      (4L, "one"),
      (5L, "")).toDF("doc_id", "text")
    val kn = TextAnalysis.knBigramScore(corpus).orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("kn_ppm")).toMap
    val plain = TextAnalysis.bigramScore(corpus).orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("fluency_ppm")).toMap
    assert(kn(0L) > kn(3L), "corpus-fluent order must outscore shuffled")
    assert(kn(4L) == 0L && kn(5L) == 0L, "sub-bigram docs are total with 0")
    // THE Kneser-Ney property: every bigram of the shuffled doc occurs
    // once in the corpus (it contributes its own counts), but a doc of
    // bigrams seen ONLY there scores > 0 under KN through the
    // continuation term even where the discounted ML term vanishes —
    // and rare transitions keep strictly positive mass where the
    // unsmoothed model's integer ppm can round to zero
    assert(kn(3L) > 0L, "KN backoff must leave shuffled text nonzero mass")
    assert(kn.values.toSeq.count(_ > 0L) >= plain.values.toSeq.count(_ > 0L),
      "KN must not zero out docs the unsmoothed model scores")
    TextKit.releaseCaches()
  }

  test("inParallel: every sibling failure reaches the caller, threads named") {
    val names = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val e = intercept[IllegalStateException] {
      TextKit.inParallel(
        () => { names.add(Thread.currentThread.getName); () },
        () => throw new IllegalStateException("a"),
        () => throw new IllegalStateException("b"))
    }
    assert((e.getMessage +: e.getSuppressed.map(_.getMessage).toSeq).sorted ==
      Seq("a", "b"))
    assert(names.get(0) == "graft-inParallel-0")
  }
}
