package graft

import graft.operators.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior tests for the LLM-pipeline operators beyond oracle parity:
  * LSH finds what exact methods find, the scale-path (xxhash64) dedup
  * agrees with itself, multimodal plumbing runs distributed.
  */
class LlmOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"
  lazy val docs = Tables.documents(spark, sf)
  lazy val emb = Tables.embeddings(spark, sf)

  test("near-duplicate planted pair is caught by LSH + verified by Jaccard") {
    // plant a near-dup: copy doc 0 with a tiny edit
    val d0 = docs.where($"doc_id" === 0).select($"text").as[String].head()
    val planted = docs.select($"doc_id", $"text")
      .unionByName(Seq((100000L, d0 + " tail")).toDF("doc_id", "text"))
    val dups = Dedup.nearDuplicates(planted, threshold = 0.8)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(dups.contains((0L, 100000L)),
      s"planted near-dup not found; got ${dups.take(10)}")
  }

  test("lsh candidate pairs are a superset of high-jaccard pairs (k=32,b=8 → r=4)") {
    // with 8 bands of 4 rows, pairs with jaccard >= ~0.9 collide w.h.p.
    val subset = docs.where($"doc_id" < 60).select($"doc_id", $"text")
    val d0 = subset.where($"doc_id" === 0).select($"text").as[String].head()
    val withDup = subset.unionByName(Seq((999L, d0)).toDF("doc_id", "text"))
    val cands = Dedup.lshCandidatePairs(withDup).as[(Long, Long)].collect().toSet
    assert(cands.contains((0L, 999L))) // identical docs always collide
  }

  test("ANN via LSH buckets reaches decent recall vs brute force") {
    val probes = Seq(0L, 1L, 2L, 3L, 4L)
    val exact = Similarity.annBruteforce(spark, sf)
      .select($"q", $"n").as[(Long, Long)].collect().toSet
    val approx = Similarity.annViaLsh(emb, probes, k = 3, tables = 16, bitsPerTable = 4)
      .select($"q", $"n").as[(Long, Long)].collect().toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    // 16 tables × 4 bits: P(collide in ≥1 table) ≈ 1-(1-p^4)^16 — high for
    // true neighbors even on weakly-correlated random vectors.
    assert(recall >= 0.5, s"LSH recall too low: $recall")
    // identical vector always lands in the same bucket → found
    val selfDup = emb.select($"vec_id", $"embedding")
      .unionByName(emb.where($"vec_id" === 0)
        .select(lit(888888L).as("vec_id"), $"embedding"))
    val found = Similarity.annViaLsh(selfDup, Seq(888888L), k = 1)
      .select($"n").as[Long].collect()
    assert(found.headOption.contains(0L))
  }

  test("multi-probe LSH beats (or ties) single-bucket recall at 1x index size") {
    val probes = Seq(0L, 1L, 2L, 3L, 4L)
    val exact = Similarity.annBruteforce(spark, sf)
      .select($"q", $"n").as[(Long, Long)].collect().toSet
    // home-bucket-only baseline on the SAME bucket table: multi-probe's
    // candidate set is a strict superset (home + 8 Hamming-1 neighbors),
    // so its per-probe top-k can only be closer-or-equal to brute force
    val b = Similarity.withLshBucket(emb)
    val home = b.where($"vec_id".isin(probes: _*))
      .select($"vec_id".as("q"), $"bucket")
      .join(b.select($"vec_id".as("n"), $"bucket"), Seq("bucket"))
      .where($"q" =!= $"n")
      .select($"q", $"n").as[(Long, Long)].collect().toSet
    val multi = Similarity.annViaLshMultiProbe(emb, probes, k = 3)
      .select($"q", $"n").as[(Long, Long)].collect().toSet
    val singleTop = home.intersect(multi) // home candidates surviving top-k
    val rHome = exact.count(singleTop.contains).toDouble / exact.size
    val rMulti = exact.count(multi.contains).toDouble / exact.size
    assert(rMulti >= rHome, s"multi-probe recall $rMulti < home-bucket $rHome")
    // probing all 8 Hamming-1 neighbors of an 8-bit code must produce
    // candidates even when the home bucket is a singleton
    assert(multi.nonEmpty)
  }

  test("incremental dedup finds a new batch's dup against persisted corpus signatures") {
    val corpus = docs.where($"doc_id" < 60).select($"doc_id", $"text")
    val sigs = Dedup.signatureTable(corpus) // persisted once at ingest
    val d0 = corpus.where($"doc_id" === 0).select($"text").as[String].head()
    val batch = Seq((5000L, d0), (5001L, "completely unrelated fresh text"))
      .toDF("doc_id", "text")
    val cands = Dedup.incrementalCandidates(batch, sigs)
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((5000L, 0L)), s"planted dup not found: $cands")
    assert(cands.count(_._1 == 5001L) < 10,
      "novel doc matched implausibly many corpus docs")
  }

  test("ANN via IVF probes nearest cells and finds planted duplicates") {
    // identical vector assigns to the same cell → always found at nprobe=1
    val selfDup = emb.select($"vec_id", $"embedding")
      .unionByName(emb.where($"vec_id" === 7)
        .select(lit(777777L).as("vec_id"), $"embedding"))
    val found = Similarity.annViaIvf(selfDup, Seq(777777L), k = 1, nprobe = 1)
      .select($"n").as[Long].collect()
    assert(found.headOption.contains(7L))
    // probing ALL cells (nprobe = centroid count at stride 125 over
    // vec_id 0..499 → 4 cells) covers the whole corpus → exactly the
    // brute-force top-k
    val probes = Seq(0L, 1L, 2L, 3L, 4L)
    val exact = Similarity.annBruteforce(spark, sf)
      .select($"q", $"n").as[(Long, Long)].collect().toSet
    val allCells = Similarity.annViaIvf(emb, probes, k = 3, nprobe = 4)
      .select($"q", $"n").as[(Long, Long)].collect().toSet
    assert(allCells == exact, s"IVF@allcells != brute force: ${allCells.diff(exact)} / ${exact.diff(allCells)}")
  }

  test("Lloyd-trained IVF and PQ recall planted near-neighbors at >= 0.9") {
    // plant a slightly-perturbed copy of each probe vector: its true
    // nearest neighbor, which a production-quality quantizer must find
    val probes = Seq(0L, 1L, 2L, 3L, 4L)
    val perturbed = emb.where($"vec_id" < 5)
      .select(($"vec_id" + 700000L).as("vec_id"),
        expr("transform(embedding, x -> CAST(x + 0.001 AS FLOAT))").as("embedding"))
    val corpus = emb.select($"vec_id", $"embedding").unionByName(perturbed)
    val trained = Similarity.lloydCentroids(corpus, stride = 125L, iters = 2)
    val ivfTop = Similarity.annViaIvf(corpus, probes, k = 3, nprobe = 2,
        centroids = Some(trained))
      .select($"q", $"n").as[(Long, Long)].collect().groupBy(_._1)
    val ivfRecall = probes.count(q =>
      ivfTop.get(q).exists(_.exists(_._2 == q + 700000L))).toDouble / probes.size
    assert(ivfRecall >= 0.9, s"trained-IVF recall@3 too low: $ivfRecall")
    val cb = Similarity.lloydSubCodebooks(corpus, stride = 125L, iters = 2)
    val pqTop = Similarity.pqSearch(corpus, stride = 125L, codebook = Some(cb))
      .select($"q", $"n").as[(Long, Long)].collect().groupBy(_._1)
    val pqRecall = probes.count(q =>
      pqTop.get(q).exists(_.exists(_._2 == q + 700000L))).toDouble / probes.size
    assert(pqRecall >= 0.9, s"trained-PQ recall@3 too low: $pqRecall")
  }

  test("approx ntile bounds agree with exact deciles within tolerance") {
    val totals = Tables.events(spark, sf)
      .groupBy($"user_id").agg(sum(floor($"value").cast("long")).as("total"))
    val bounds = graft.operators.Sketches.approxNtileBounds(
      totals, "total", 10, relativeError = 0.0)
    assert(bounds.length == 9 && bounds.sorted.sameElements(bounds))
    val assigned = graft.operators.Sketches.assignByBounds(totals, "total", bounds)
    val buckets = assigned.groupBy($"bucket").count()
      .as[(Long, Long)].collect().toMap
    val n = totals.count()
    // every bucket populated and roughly n/10 (boundary-tie slack)
    assert(buckets.keySet == (1L to 10L).toSet, s"buckets: $buckets")
    assert(buckets.values.forall(c => c >= n / 20 && c <= n / 4), s"skew: $buckets")
  }

  test("multimodal feature extraction runs via mapPartitions over binary") {
    val media = Multimodal.asMedia(docs)
    val feats = Multimodal.extractFeatures(media)
    val row = feats.where($"media_id" === 0)
      .select($"features").as[Seq[Double]].head()
    assert(row.length == Multimodal.FeatureBins)
    assert(math.abs(row.sum - 1.0) < 1e-9) // normalized histogram
    // deterministic: same input → same features
    val row2 = Multimodal.extractFeatures(media)
      .where($"media_id" === 0).select($"features").as[Seq[Double]].head()
    assert(row == row2)
  }

  test("frame sampling explodes payload into n chunks") {
    val media = Multimodal.asMedia(docs.where($"doc_id" < 5))
    val frames = Multimodal.sampleFrames(media, 4)
    val counts = frames.groupBy($"media_id").count().select($"count").as[Long].collect()
    assert(counts.forall(_ == 4))
  }

  test("PQ machinery is exact when the codebook is the corpus (stride=1), " +
       "and a planted duplicate is always found at rank 1") {
    // Quantization LOSS depends on codebook quality and data geometry
    // (64-dim synthetic noise concentrates distances: NN margins ~3%, so
    // recall through a coarse codebook is inherently poor — measured, not
    // a bug). The operator's contracts are: (a) with a perfect codebook
    // ADC ranking IS exact L2 ranking; (b) a duplicate vector shares all
    // four codes with its original, so its ADC distance is minimal and it
    // ranks first for that probe.
    val vecs = emb.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toMap
    def l2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    val exact3 = (0L until 5L).map { q =>
      q -> vecs.collect { case (n, v) if n != q => (l2(vecs(q), v), n) }
        .toSeq.sorted.take(3).map(_._2)
    }.toMap
    val pq1 = operators.Similarity.pqSearch(emb, stride = 1L)
      .select($"q", $"n", $"rank").as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    (0L until 5L).foreach { q =>
      assert(pq1(q) == exact3(q), s"PQ@stride=1 != exact L2 for probe $q")
    }
    val planted = emb.select($"vec_id", $"embedding")
      .unionByName(emb.where($"vec_id" === 3)
        .select(lit(777777L).as("vec_id"), $"embedding"))
    val top = operators.Similarity.pqSearch(planted, stride = 25L)
      .where($"q" === 3 && $"rank" === 1).select($"n").as[Long].head()
    assert(top == 777777L, s"planted dup of probe 3 ranked below 1: got $top")
  }

  test("audioEnergy frames, thresholds, and averages with exact byte arithmetic") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vad").toString
    // 32 'a's (sample −31 → e = 961, inactive) + 32 spaces (−96 → 9216, active)
    Seq((1L, "a" * 32 + " " * 32, "web")).toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val r = Multimodal.audioEnergy(spark, dir).collect().head
    assert(r.getAs[Long]("n_frames") == 2L && r.getAs[Long]("n_active") == 1L)
    assert(r.getAs[Double]("mean_energy") == (961.0 + 9216.0) / 2)
    // kernel directly: exact per-frame energies
    val es = Multimodal.frameEnergies(("a" * 32 + " " * 32).getBytes("UTF-8"), 32)
    assert(es.toSeq == Seq(961.0, 9216.0))
  }

  test("ixSpell corrects a planted deletion to the highest-frequency distance-1 word") {
    val dir = java.nio.file.Files.createTempDirectory("graft-spell").toString
    // vocab (freq ≥ 5, len ≥ 4): hello×10, help×6, world×8. Probes are the
    // top-30 len≥5 words with char 3 dropped: helo (from hello), wold.
    // "helo" is distance 1 from BOTH hello (delete) and help (substitute) —
    // frequency must break the tie toward hello.
    val text = (Seq.fill(10)("hello") ++ Seq.fill(6)("help") ++
      Seq.fill(8)("world")).mkString(" ")
    Seq((1L, text)).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val out = operators.Retrieval.ixSpell(spark, dir)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(out == Seq(("helo", "hello", 1L, 10L), ("wold", "world", 1L, 8L)),
      s"got $out")
  }

  test("wJaccard zeroes boilerplate overlap that plain Jaccard scores high") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wjac").toString
    val boiler = "common header text shared by every single document here"
    Seq(
      (1L, s"rare alpha payload segment one two three $boiler tailA"),
      (2L, s"rare alpha payload segment one two three $boiler tailB"),
      (3L, s"ccc distinctive content $boiler"),
      (4L, s"ddd divergent material $boiler"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val pairs = Dedup.wJaccard(spark, dir)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) >= 0.3,
      s"rare-content pair must survive: $pairs")
    assert(!pairs.contains((3L, 4L)),
      s"boilerplate-only pair must be weighted to ~0: $pairs")
    // sanity: plain (unweighted) Jaccard WOULD have scored (3,4) well above 0
    def shingleSet(t: String) = t.sliding(5).toSet
    val (s3, s4) = (shingleSet(s"ccc distinctive content $boiler"),
      shingleSet(s"ddd divergent material $boiler"))
    val plain = s3.intersect(s4).size.toDouble / s3.union(s4).size
    assert(plain > 0.4, s"fixture broken: plain jaccard $plain not boilerplate-heavy")
  }

  test("negatives never collide with positives and are run-to-run deterministic") {
    val dir = java.nio.file.Files.createTempDirectory("graft-neg").toString
    Seq((100L, 1L), (101L, 1L)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    Seq((100L, 1L), (100L, 2L), (101L, 2L)).toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    (1L to 5L).map(Tuple1(_)).toDF("p_partkey").write.parquet(s"$dir/part.parquet")
    val one = operators.Sampling.negatives(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(one.map(_._1).forall(_ == 1L) && one.size == 2)
    assert(one.map(_._3).toSet.intersect(Set(1L, 2L)).isEmpty,
      s"a positive leaked into the negatives: $one")
    assert(one.map(_._3).toSet.subsetOf(Set(3L, 4L, 5L)))
    val two = operators.Sampling.negatives(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(one == two, "hash-deterministic sampler must be stable across runs")
  }

  test("sceneChange cuts at the energy jump and reports -1 when flat") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scene").toString
    // doc 1: letters→spaces (e 961 → 9216, |Δ| 8255 > 3000 → cut at frame 1)
    // doc 2: uniform (no cut)
    Seq((1L, "a" * 32 + " " * 32, "web"), (2L, "b" * 64, "web"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    val out = Multimodal.sceneChange(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((2L, 1L, 1L)), s"got $out")
    assert(out(2L) == ((2L, 0L, -1L)), s"got $out")
  }

  test("ixSnippet slices the ±5-token window around the first query hit") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snip").toString
    val words = (1 to 20).map(i => s"w$i").updated(8, "hash").updated(15, "scan")
    Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val r = operators.Retrieval.ixSnippet(spark, dir).collect().head
    assert(r.getAs[Long]("hit_pos") == 8L && r.getAs[String]("term") == "hash")
    // 0-based positions 3..13 → tokens w4..w14 with hash at index 8
    assert(r.getAs[String]("snippet") ==
      "w4 w5 w6 w7 w8 hash w10 w11 w12 w13 w14", s"got ${r.getAs[String]("snippet")}")
  }

  test("sortedNeighborhood pairs sort-adjacent near-dups that key blocking would split") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snb").toString
    // Docs 1/2 differ INSIDE the first 20 chars (editDistPairs' block key
    // would separate them) but sort adjacently on the 30-char prefix;
    // doc 3 is far from both; doc 4 sorts between nothing relevant.
    Seq(
      (1L, "alpha document body shared tail one two three"),
      (2L, "alphb document body shared tail one two three"),
      (3L, "zzz completely different text with nothing in common here"),
      (4L, "middle of the road text that matches neither neighbor at all"))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val pairs = Dedup.sortedNeighborhood(spark, dir)
      .select($"doc_a", $"doc_b", $"lev").as[(Long, Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 1L)), s"got ${pairs.toSeq}")
  }

  test("dd_canonical keeps exactly one representative per duplicate cluster, " +
       "and it has the cluster's max n_chars") {
    val canon = operators.Graph.ddCanonical(spark, sf)
      .select($"cluster", $"keep_doc", $"members", $"keep_chars")
      .as[(Long, Long, Long, Long)].collect()
    val labels = operators.Graph.ccClusters(spark, sf)
      .select($"doc_id", $"cluster").as[(Long, Long)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val chars = docs.select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    canon.foreach { case (cl, keep, members, keepChars) =>
      val cluster = labels(cl)
      assert(cluster.contains(keep), s"rep $keep not in cluster $cl")
      assert(members == cluster.size)
      assert(keepChars == cluster.map(chars).max)
      assert(chars(keep) == keepChars)
    }
    assert(canon.map(_._1).distinct.length == canon.length)
  }

  test("bloom-filter decontamination flags exactly the exact-overlap doc set") {
    val evalDocs = docs.where($"doc_id" % 97 === 0)
    val train = docs.where($"doc_id" % 97 =!= 0)
    val exact = Dedup.docNGrams(train, 3)
      .join(Dedup.docNGrams(evalDocs, 3).select($"gram").distinct(), Seq("gram"))
      .select($"doc_id").distinct().as[Long].collect().toSet
    val bloomed = Dedup.bloomContaminated(train, evalDocs)
      .as[Long].collect().toSet
    assert(exact.nonEmpty, "probe data produced no overlap — test is vacuous")
    assert(bloomed == exact,
      s"bloom+confirm != exact: extra=${(bloomed -- exact).take(5)} missing=${(exact -- bloomed).take(5)}")
  }

  test("pl_pretrain survivors exclude the eval slice and all contaminated docs") {
    val out = operators.Pipeline.pretrain(spark, sf)
      .select($"doc_id").as[Long].collect().toSet
    assert(out.nonEmpty)
    assert(out.forall(_ % 97 != 0), "eval-slice doc leaked into the training mix")
    // no survivor shares a 3-gram with the eval slice
    val evalGrams = Dedup.docNGrams(docs.where($"doc_id" % 97 === 0), 3)
      .select($"gram").as[String].collect().toSet
    val survivorGrams = Dedup.docNGrams(
        docs.where($"doc_id".isin(out.toSeq: _*)), 3)
      .select($"doc_id", $"gram").as[(Long, String)].collect()
    val leaked = survivorGrams.filter { case (_, g) => evalGrams.contains(g) }
    assert(leaked.isEmpty, s"contaminated docs survived: ${leaked.take(5).toSeq}")
  }

  test("sorted_intersect_count agrees with array_intersect on generated sorted arrays") {
    val df = spark.range(200).select(
      expr("array_sort(transform(sequence(1, CAST(id % 17 AS INT) + 1), " +
        "i -> md5(concat(CAST(id AS STRING), ':', CAST(i AS STRING)))))").as("a"),
      expr("array_sort(transform(sequence(1, CAST(id % 13 AS INT) + 1), " +
        "i -> md5(concat(CAST(id % 7 AS STRING), ':', CAST(i AS STRING)))))").as("b"))
    val bad = df.where(graft.functions.vector.sorted_intersect_count($"a", $"b") =!=
      size(array_intersect($"a", $"b")).cast("long")).count()
    assert(bad == 0, "merge-scan intersect diverged from array_intersect")
  }

  test("ppJoin returns exactly the brute-force all-pairs answer") {
    val out = Dedup.ppJoin(docs, n = 5, tau = 0.5)
      .select($"da", $"db").as[(Long, Long)].collect().toSet
    // independent brute force: all pairs, no prefix pruning
    val g = Dedup.docNGrams(docs, 5)
    val sz = g.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
    val brute = g.select($"doc_id".as("da"), $"gram")
      .join(g.select($"doc_id".as("db"), $"gram"), Seq("gram"))
      .where($"da" < $"db")
      .groupBy($"da", $"db").agg(count(lit(1)).as("inter"))
      .join(sz.select($"doc_id".as("da"), $"sz".as("sza")), Seq("da"))
      .join(sz.select($"doc_id".as("db"), $"sz".as("szb")), Seq("db"))
      .where($"inter" / ($"sza" + $"szb" - $"inter") >= 0.5)
      .select($"da", $"db").as[(Long, Long)].collect().toSet
    assert(out == brute, s"prefix filter changed the answer: ${(out diff brute) ++ (brute diff out)}")
    assert(out.nonEmpty)
  }

  test("semDedup drops a planted duplicate vector, keeping the lowest id") {
    val e7 = emb.where($"vec_id" === 7).select($"embedding")
      .as[Array[Float]].head()
    val planted = emb.select($"vec_id", $"embedding")
      .unionByName(Seq((900001L, e7)).toDF("vec_id", "embedding"))
    val cents = Similarity.ivfCentroids(planted, stride = 25L)
    val out = Similarity.semDedup(planted, cents, tau = 0.95)
    val dup = out.where($"vec_id" === 900001L).head()
    assert(dup.getAs[Long]("dup_of") == 7L,
      s"planted copy should be dropped with witness 7, got $dup")
    assert(out.where($"vec_id" === 7 && $"dup_of".isNotNull).isEmpty,
      "the original (lowest id of the pair) must be kept")
  }

  test("semDedupIncremental: redelivered ids don't self-witness; corpus beats batch at any id") {
    // r13 audit: (a) a vec_id present in BOTH corpus and batch
    // (at-least-once redelivery) must not be flagged as its own dup at
    // cos 1.0; (b) "corpus witness wins" must hold even when the batch
    // holds a LOWER id than the corpus witness.
    val corpus = emb.where($"vec_id" < 100)
    val cents = Similarity.ivfCentroids(corpus, stride = 25L)
    // redelivery: vec 7 arrives again in the batch unchanged
    val e7 = emb.where($"vec_id" === 7).select($"embedding").as[Array[Float]].head()
    val redelivered = Seq((7L, e7)).toDF("vec_id", "embedding")
    val out1 = Similarity.semDedupIncremental(corpus, redelivered, cents, tau = 0.95)
      .where($"vec_id" === 7L).head()
    assert(out1.isNullAt(out1.fieldIndex("dup_of")),
      s"redelivered id must not self-witness: $out1")
    // low-id batch copy of vec 7: its witness must be CORPUS member 7,
    // even though the batch id 3-less-than-7 would win a bare min()
    val lowBatch = Seq((3L, e7)).toDF("vec_id", "embedding")
    val corpusNo3 = corpus.where($"vec_id" =!= 3L)
    val out2 = Similarity.semDedupIncremental(corpusNo3, lowBatch, cents, tau = 0.95)
      .where($"vec_id" === 3L).head()
    assert(out2.getAs[Long]("dup_of") == 7L,
      s"corpus witness must win over any batch id ordering: $out2")
  }

  test("semDedupIncremental: a stale corpusAssign (pre-retrain artifact) fails loud") {
    // r14 verdict item 4: the freshness contract's cheap half is now a
    // domain ASSERT — an assignment artifact persisted before a centroid
    // retrain carries centroid ids the new quantizer doesn't have, and
    // must throw instead of silently mis-celling the batch.
    val corpus = emb.where($"vec_id" < 100)
    val oldCents = Similarity.ivfCentroids(corpus, stride = 25L)
    val staleAssign = Similarity.ivfAssign(corpus, oldCents)
      .select($"vec_id", $"centroid")
      .localCheckpoint() // freeze: this is the persisted pre-retrain artifact
    // "retrain": different stride picks a different (here: disjoint-some)
    // seed set, so at least one stale centroid id is absent from it
    val newCents = Similarity.ivfCentroids(corpus, stride = 30L)
    val staleIds = staleAssign.select($"centroid").distinct().as[Long].collect().toSet
    val newIds = newCents.select($"cid").as[Long].collect().toSet
    assume((staleIds -- newIds).nonEmpty, "retrain must change the id set for this test")
    val batch = emb.where($"vec_id" >= 100 && $"vec_id" < 110)
    val ex = intercept[IllegalArgumentException] {
      Similarity.semDedupIncremental(corpus, batch, newCents, tau = 0.95,
        corpusAssign = Some(staleAssign))
    }
    assert(ex.getMessage.contains("STALE"), ex.getMessage)
    // and the fresh pair still passes the assert
    val freshAssign = Similarity.ivfAssign(corpus, newCents)
      .select($"vec_id", $"centroid")
    Similarity.semDedupIncremental(corpus, batch, newCents, tau = 0.95,
      corpusAssign = Some(freshAssign)).count()
  }

  test("semDedupIncremental: repeated (centroids, corpusAssign) snapshot pair " +
       "skips the eager staleness scan (memoized per reference identity)") {
    val corpus = emb.where($"vec_id" < 100)
    val cents = Similarity.ivfCentroids(corpus, stride = 25L).localCheckpoint()
    val assign = Similarity.ivfAssign(corpus, cents)
      .select($"vec_id", $"centroid").localCheckpoint()
    val batch = emb.where($"vec_id" >= 100 && $"vec_id" < 105)
    // Count only THIS test's jobs: suites share one session and run in
    // parallel under sbt, so a global job count races a neighboring
    // suite's jobs (observed flaky when run with 3 other suites). A job
    // group is thread-inherited, so the staleness scan lands in it
    // while other suites' jobs don't.
    spark.sparkContext.setJobGroup("semdedup-memo-spec", "memo test")
    def jobsSeen(): Int =
      spark.sparkContext.statusTracker.getJobIdsForGroup("semdedup-memo-spec").length
    // status tracker is listener-fed; poll until the count is quiet for
    // 500 ms so a prior call's late-posting stage jobs (AQE runs several
    // per count) can't be misattributed to the next call
    def stableJobs(): Int = {
      var last = jobsSeen(); var quiet = 0
      while (quiet < 5) {
        Thread.sleep(100)
        val now = jobsSeen()
        if (now == last) quiet += 1 else { last = now; quiet = 0 }
      }
      last
    }
    // first call with this pair: the validation scan RUNS (≥1 job even
    // though we never act on the returned plan)
    val before1 = stableJobs()
    Similarity.semDedupIncremental(corpus, batch, cents, tau = 0.95,
      corpusAssign = Some(assign))
    assert(stableJobs() > before1, "first call must run the staleness scan")
    // second call, SAME references: plan building must stay fully lazy
    val before2 = stableJobs()
    Similarity.semDedupIncremental(corpus, batch, cents, tau = 0.95,
      corpusAssign = Some(assign))
    assert(stableJobs() == before2,
      "repeated snapshot pair re-ran the O(|corpusAssign|) staleness scan")
    // a FRESH assignment object for the same centroids re-validates
    val assign2 = Similarity.ivfAssign(corpus, cents)
      .select($"vec_id", $"centroid").localCheckpoint()
    val before3 = stableJobs()
    Similarity.semDedupIncremental(corpus, batch, cents, tau = 0.95,
      corpusAssign = Some(assign2))
    assert(stableJobs() > before3, "new artifact object must re-validate")
    spark.sparkContext.clearJobGroup()
  }

  test("semDedup keep-set is tau-separated within every cell") {
    // greedy keep-lowest-id invariant: two KEPT vectors in the same cell
    // can never be tau-close (the higher id would have had a witness)
    val cents = Similarity.ivfCentroids(emb, stride = 25L)
    val out = Similarity.semDedup(emb, cents, tau = 0.5)
    val kept = out.where($"dup_of".isNull)
      .join(emb.select($"vec_id", $"embedding"), Seq("vec_id"))
    val a = kept.select($"centroid", $"vec_id".as("va"), $"embedding".as("ea"))
    val b = kept.select($"centroid", $"vec_id".as("vb"), $"embedding".as("eb"))
    val close = a.join(b, Seq("centroid")).where($"va" < $"vb")
      .where(graft.functions.vector.cosine_sim($"ea", $"eb") >= 0.5)
    assert(close.isEmpty, s"kept pair above tau: ${close.take(3).toSeq}")
  }

  test("incremental semDedup over a split corpus equals one-shot semDedup on the batch rows") {
    // corpus ids are all below the batch ids, so one-shot greedy
    // keep-lowest-id restricted to batch rows IS the incremental answer
    val cents = Similarity.ivfCentroids(emb, stride = 25L)
    val split = 50L
    val inc = Similarity.semDedupIncremental(
        emb.where($"vec_id" < split), emb.where($"vec_id" >= split),
        cents, tau = 0.4)
      .select($"vec_id", $"centroid", $"dup_of", $"max_cos")
    val oneShot = Similarity.semDedup(emb, cents, tau = 0.4)
      .where($"vec_id" >= split)
      .select($"vec_id", $"centroid", $"dup_of", $"max_cos")
    assert(inc.exceptAll(oneShot).isEmpty && oneShot.exceptAll(inc).isEmpty,
      "incremental fold must equal the one-shot dedup on batch rows")
  }

  test("composed IVF-PQ search finds a planted duplicate at rank 1") {
    // a copy of probe 3 lands in the probe's own nearest cell with
    // identical PQ codes → ADC distance is the probe's self-code
    // distance, the minimum any vector can achieve
    val e3 = emb.where($"vec_id" === 3).select($"embedding")
      .as[Array[Float]].head()
    val planted = emb.select($"vec_id", $"embedding")
      .unionByName(Seq((900001L, e3)).toDF("vec_id", "embedding"))
    val cents = Similarity.ivfCentroids(planted, stride = 25L)
    val cb = Similarity.lloydSubCodebooks(planted, stride = 25L, iters = 1)
    val codes = Similarity.pqEncode(planted, stride = 25L, codebook = Some(cb))
    val out = Similarity.ivfPqSearch(planted, cents, cb, codes)
    val top = out.where($"q" === 3 && $"rank" === 1)
      .select($"n").as[Long].head()
    assert(top == 900001L, s"planted duplicate should rank first, got $top")
  }

  test("ixHybrid fuses legs: both-leg docs outrank single-leg docs at equal depth") {
    val out = operators.Retrieval.ixHybrid(spark, sf)
      .as[(Long, Option[Long], Option[Long], Double)].collect()
    assert(out.nonEmpty && out.length <= 15)
    // every fused row came from at least one leg, and rrf matches the
    // closed form of its rank pair
    out.foreach { case (id, rl, rs, rrf) =>
      assert(rl.isDefined || rs.isDefined, s"doc $id in neither leg")
      val expect = rl.map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        rs.map(r => 1.0 / (60 + r)).getOrElse(0.0)
      assert(math.abs(rrf - expect) < 1e-6, s"doc $id rrf drift")
    }
    // RRF dominance: a doc in BOTH legs beats any doc whose single leg
    // rank is no better than both of its ranks
    val both = out.filter(r => r._2.isDefined && r._3.isDefined)
    val single = out.filter(r => r._2.isEmpty || r._3.isEmpty)
    for (b <- both; s0 <- single) {
      val sRank = s0._2.orElse(s0._3).get
      if (sRank >= b._2.get.max(b._3.get)) assert(b._4 > s0._4)
    }
    // ordering is by fused score
    assert(out.map(_._4).sameElements(out.map(_._4).sortBy(-_)))
  }

  test("bootstrap replicate means concentrate around the true corpus mean") {
    val reps = operators.Sampling.bootstrap(spark, sf)
      .as[(Long, Long, Double)].collect()
    assert(reps.length == 32)
    val trueMean = docs.agg(avg($"n_chars")).as[Double].head()
    val means = reps.map(_._3)
    // every Poisson replicate stays near the point estimate (n=500 docs
    // → se ≈ sd/√n; 10% of the mean is a loose multiple of that)
    means.foreach(m => assert(math.abs(m - trueMean) / trueMean < 0.10,
      s"replicate mean $m too far from $trueMean"))
    // ...but they are not degenerate: the replicates genuinely vary
    assert(means.distinct.length > 16, "replicates should differ")
    // effective sizes hover around n (Poisson(1) preserves mass)
    reps.foreach { case (_, nEff, _) =>
      assert(nEff > 350 && nEff < 650, s"n_eff $nEff far from 500") }
  }

  test("annFiltered returns neighbors only from the probe's label partition") {
    val out = operators.Similarity.annFiltered(spark, sf)
      .as[(Long, Int, Long, Double, Long)].collect()
    val labels = Tables.embeddings(spark, sf)
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    assert(out.nonEmpty)
    out.foreach { case (q, label, n, cosv, rank) =>
      assert(labels(n) == label && labels(q) == label,
        s"neighbor $n of probe $q escaped label $label")
      assert(q != n && rank >= 1 && rank <= 3 && cosv >= -1.0 && cosv <= 1.0)
    }
    // ranks descend in score within each probe
    out.groupBy(_._1).values.foreach { g =>
      val byRank = g.sortBy(_._5).map(_._4)
      assert(byRank.sameElements(byRank.sortBy(-(_: Double))))
    }
  }

  test("containment flags asymmetric overlap that Jaccard misses") {
    val out = operators.Dedup.containment(spark, sf)
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(out.nonEmpty, "probe slice should contain quote-like pairs")
    out.foreach { case (a, b, inter, ca, cb) =>
      assert(a < b && inter > 0)
      assert(ca > 0.0 && ca <= 1.0 && cb > 0.0 && cb <= 1.0)
      assert(ca >= 0.5 || cb >= 0.5, s"($a,$b) below threshold: $ca/$cb")
    }
    // the op's reason to exist: some surviving pair must be one Jaccard
    // would drop at the same bar (strong one-way containment, weak mutual
    // overlap) — containment ≥ .5 while Jaccard < .3
    assert(out.exists { case (_, _, _, ca, cb) => math.max(ca, cb) >= 0.5 &&
      math.min(ca, cb) < 0.3 }, "no asymmetric (quote-like) pair found")
  }

  test("ppBucket splits the corpus into near-equal monotone thirds") {
    val docsSf = "/root/testdata/sf0.01"
    val out = operators.TextAnalysis.ppBucket(spark, docsSf).cache()
    val sizes = out.groupBy($"bucket").count()
      .as[(String, Long)].collect().toMap
    assert(sizes.keySet == Set("head", "middle", "tail"))
    assert(sizes.values.max - sizes.values.min <= 2,
      s"thirds should be near-equal (ties aside): $sizes")
    // monotone: every tail score <= every middle score <= every head score
    val bounds = out.groupBy($"bucket")
      .agg(min($"lm_score").as("lo"), max($"lm_score").as("hi"))
      .as[(String, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(bounds("tail")._2 <= bounds("middle")._1)
    assert(bounds("middle")._2 <= bounds("head")._1)
    out.unpersist()
  }

  test("byte-fallback BPE round-trips held-out text with unseen characters, from the persisted vocab") {
    import operators.TextAnalysis
    // vocab served from the session artifact (train-once contract)
    val (merges, alpha) = TextAnalysis.trainedVocab(spark, sf)
    assert(merges.size == TextAnalysis.BpeN && alpha.nonEmpty)
    // ASCII corpus → these chars are genuinely outside the trained alphabet
    val heldOut = "naïve café — größer 日本語 œuf 100€!"
    heldOut.filter(_ > 127).foreach(c =>
      assert(!alpha.contains(c), s"'$c' unexpectedly in training alphabet"))
    val docs = Seq((1L, heldOut), (2L, "plain ascii text survives too"))
      .toDF("doc_id", "text")
    val enc = TextAnalysis.bpeEncodeByteFallback(docs, merges, alpha)
      .orderBy($"doc_id", $"pre_idx")
      .as[(Long, Int, Seq[String])].collect()
    // decode: byte tokens <0xXX> back to raw bytes, ordinary symbols to
    // their UTF-8 bytes; the reassembled byte stream must equal the text
    val byteTok = "^<0x([0-9A-F]{2})>$".r
    val decoded = enc.groupBy(_._1).map { case (id, rows) =>
      val bytes = rows.sortBy(_._2).flatMap(_._3).flatMap {
        case byteTok(h) => Seq(Integer.parseInt(h, 16).toByte)
        case sym        => sym.getBytes("UTF-8").toSeq
      }
      id -> new String(bytes.toArray, "UTF-8")
    }
    assert(decoded(1L) == heldOut, s"round-trip broke: ${decoded(1L)}")
    assert(decoded(2L) == "plain ascii text survives too")
    // every token is in the CLOSED vocabulary: alphabet chars, trained
    // merge products, or byte symbols — nothing else can appear
    val merged = merges.map { case (l, r) => l + r }.toSet
    enc.flatMap(_._3).foreach { t =>
      val ok = byteTok.findFirstIn(t).isDefined || merged.contains(t) ||
        (t.length == 1 && alpha.contains(t(0))) ||
        t.forall(alpha.contains(_)) // intermediate merge concatenations
      assert(ok, s"token '$t' outside the closed vocabulary")
    }
  }

  test("domain-mix waterfilling: feasible (≤cap), budget-conserving, and ∝-weight among uncapped") {
    val out = operators.Sampling.domainMix(spark, sf)
      .as[(String, Long, Double, Double, Double, Long)].collect().toSeq
    assert(out.nonEmpty)
    val capEpochs = 1.5
    val budget = out.map(_._2).sum.toDouble
    // feasibility: no domain exceeds its epoch cap (the fixpoint was
    // reached inside the unrolled rounds — a non-converged allocation
    // would leave a newly-capped domain above cap)
    out.foreach { case (src, toks, _, alloc, epochs, capped) =>
      assert(alloc <= toks * capEpochs + 1e-3, s"$src over cap: $alloc")
      assert(math.abs(epochs - alloc / toks) < 1e-5)
      assert((capped == 1L) == (epochs >= capEpochs - 1e-6),
        s"$src capped flag inconsistent: $epochs/$capped") }
    // conservation: the whole budget is spent (waterfilling redistributes
    // frozen domains' surplus instead of dropping it)
    assert(math.abs(out.map(_._4).sum - budget) < 1.0,
      s"allocated ${out.map(_._4).sum} of $budget")
    // proportionality: uncapped domains all get the same tokens-per-weight
    val ratios = out.filter(_._6 == 0L).map(r => r._4 / r._3)
    assert(ratios.nonEmpty && out.exists(_._6 == 1L),
      "fixture should mix capped and uncapped domains")
    assert(ratios.max - ratios.min < 1e-3, s"uncapped shares not ∝ weight: $ratios")
  }

  test("residual PQ cuts quantization distortion vs raw-vector PQ at equal code size") {
    // FAISS-IVFPQ's reason to encode residuals: the coarse quantizer has
    // already removed between-cell variance, so the same 4×K codes cover
    // only within-cell spread. At equal code size the residual encoding
    // must reconstruct strictly better (lower mean ‖x − decode‖²). Recall
    // deltas on the synthetic corpus are floor-level noise (PERF.md), so
    // distortion is the assertable quality metric.
    import operators.Similarity
    val e = Tables.embeddings(spark, sf)
    val cents = Similarity.lloydCentroids(e, stride = 125L, iters = 2)
    val res = Similarity.residuals(e, cents).cache()
    val raw = e.select($"vec_id", $"embedding")
    val cbRaw = Similarity.lloydSubCodebooks(raw, stride = 125L, iters = 2)
    val cbRes = Similarity.lloydSubCodebooks(res, stride = 125L, iters = 2)
    val dRaw = Similarity.pqMeanDistortion(raw, cbRaw)
    val dRes = Similarity.pqMeanDistortion(res, cbRes)
    res.unpersist()
    assert(dRes > 0.0 && dRaw > 0.0)
    info(f"mean distortion: raw $dRaw%.4f, residual $dRes%.4f (${dRes / dRaw * 100}%.1f%%)")
    assert(dRes < dRaw,
      f"residual PQ should reconstruct better: residual $dRes%.4f vs raw $dRaw%.4f")
  }

  test("substrPairs reports Lee et al. MAXIMAL shared-run lengths on a planted corpus") {
    // Planted spans (k = DupK = 5, minRun = 8). Shared vocab blocks A–D
    // appear ONLY in doc 0 and the one partner doc; fillers are unique
    // per doc, so every shared k-gram lies inside its planted span and
    // each (pair, span) is one anchor-diff island of exactly
    // len − k + 1 anchors → reported run = len. Asserted semantics:
    //   (0,1): one 12-token span  → max_run 12, n_runs 1 (maximality:
    //          12, not any of its 8 sub-runs of length ≥ 8)
    //   (0,2): disjoint 9- and 8-token spans → max_run 9, n_runs 2
    //   (0,3): 7-token span (≥ k, < minRun)  → pair absent entirely
    //   (1,2)/(1,3)/(2,3): no shared block   → absent
    def blk(p: String, n: Int) = (0 until n).map(p + _).mkString(" ")
    def fill(doc: Int, i: Int) = s"u${doc}_$i"
    val A = blk("a", 12); val B = blk("b", 9); val C = blk("c", 8); val D = blk("d", 7)
    val docsP = Seq(
      0L -> s"${fill(0, 0)} $A ${fill(0, 1)} $B ${fill(0, 2)} $C ${fill(0, 3)} $D ${fill(0, 4)}",
      1L -> s"${fill(1, 0)} ${fill(1, 1)} $A ${fill(1, 2)}",
      2L -> s"$C ${fill(2, 0)} ${fill(2, 1)} $B ${fill(2, 2)}",
      3L -> s"${fill(3, 0)} $D ${fill(3, 1)} ${fill(3, 2)}",
      4L -> s"${(0 until 20).map(fill(4, _)).mkString(" ")}"
    ).toDF("doc_id", "text")
    val out = Dedup.substrPairsOf(docsP)
      .select($"doc_a", $"doc_b", $"max_run", $"n_runs")
      .as[(Long, Long, Long, Long)].collect().toList
    assert(out === List((0L, 1L, 12L, 1L), (0L, 2L, 9L, 2L)),
      s"planted maximal runs mismatch: $out")
  }

  test("substrPairs dfCap: rare-anchored pairs keep EXACT runs; boilerplate-only pairs drop") {
    // The 100 TB throttle (r12 VERDICT: fastest-growing gate). Corpus:
    //   - span A (12 toks) shared ONLY by docs 0 and 1 → df 2 anchors,
    //     survives any cap ≥ 2 with the exact max_run 12;
    //   - span BP (10 toks) shared by docs 10..19 (df 10 anchors) AND
    //     also by docs 0 and 1 — under cap 4 the BP-only pairs (10,11),
    //     (10,12), … must drop, while (0,1) is still reported (it has
    //     rare anchors via A) and its runs stay EXACT: BP still counts
    //     toward ITS islands (n_runs = 2: A and BP), because phase 2
    //     rebuilds islands from ALL anchors of discovered pairs.
    def blk(p: String, n: Int) = (0 until n).map(p + _).mkString(" ")
    def fill(doc: Int, i: Int) = s"f${doc}_$i"
    val A = blk("a", 12); val BP = blk("bp", 10)
    val docsP = (
      Seq(
        0L -> s"${fill(0, 0)} $A ${fill(0, 1)} $BP ${fill(0, 2)}",
        1L -> s"${fill(1, 0)} $BP ${fill(1, 1)} $A ${fill(1, 2)}") ++
      (10 until 20).map(i =>
        i.toLong -> s"${fill(i, 0)} $BP ${fill(i, 1)} ${fill(i, 2)}")
    ).toDF("doc_id", "text")
    val capped = Dedup.substrPairsOf(docsP, dfCap = Some(4L))
      .select($"doc_a", $"doc_b", $"max_run", $"n_runs")
      .as[(Long, Long, Long, Long)].collect().toList
    assert(capped === List((0L, 1L, 12L, 2L)),
      s"capped result should be exactly the rare-anchored pair with exact runs: $capped")
    // uncapped: same pair PLUS all 66 boilerplate pairs among {0,1,10..19}
    val uncapped = Dedup.substrPairsOf(docsP)
      .select($"doc_a", $"doc_b", $"max_run", $"n_runs")
      .as[(Long, Long, Long, Long)].collect().toList
    assert(uncapped.size == 66 && uncapped.contains((0L, 1L, 12L, 2L)),
      s"uncapped should report every BP pair too: n=${uncapped.size}")
    // the capped run numbers must agree with the uncapped ones pairwise
    assert(uncapped.filter(r => r._1 == 0L && r._2 == 1L) == capped,
      "cap must not change a reported pair's run statistics")
  }

  test("sq_dist (codegen'd) is bit-identical to the zip_with/aggregate lambda") {
    // the fused SqDist kernel replaced the interpreted SQL-lambda form in
    // PQ training/encode/ADC — results must match BITWISE (gate hashes
    // depend on it), including null/length-mismatch/empty semantics
    val rows = Seq(
      (Array(1.0f, 2.5f, -3.25f), Array(0.5, -2.0, 4.75)),     // plain
      (Array(1e30f, -1e30f, 3e-30f), Array(-1e30, 1e30, 0.0)), // magnitude
      (Array.empty[Float], Array.empty[Double]),                // empty → 0.0
      (Array(0.1f, 0.2f), Array(0.1, 0.2, 0.3))                 // mismatch → null
    ).toDF("fa", "db")
      .withColumn("fa_d", expr("transform(fa, x -> CAST(x AS DOUBLE))"))
    val lambda = expr(
      "aggregate(zip_with(fa_d, db, (x, y) -> (x-y)*(x-y)), CAST(0.0 AS DOUBLE), (a, v) -> a + v)")
    val got = rows.select(
      graft.functions.vector.sq_dist($"fa", $"db").as("fused_f"),   // float left
      graft.functions.vector.sq_dist($"fa_d", $"db").as("fused_d"), // double left
      lambda.as("lam")).collect()
    got.foreach { r =>
      def bits(i: Int): Option[Long] =
        if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))
      assert(bits(0) == bits(2) && bits(1) == bits(2),
        s"sq_dist diverged from lambda: $r")
    }
    assert(got(2).getDouble(2) == 0.0 && got(3).isNullAt(2)) // lambda sanity
  }

  test("conv() md5 bucket == per-hex-digit arithmetic") {
    val toks = Seq("the", "alpha", "", "Zulu9", "été", "a b").toDF("tok")
    def digits(n: Int, mod: Int) = "(" + (1 to n).map(i =>
      s"(instr('0123456789abcdef', substr(md5(tok), $i, 1)) - 1) * ${math.pow(16, n - i).toLong}L")
      .mkString(" + ") + s") % $mod"
    val bad = toks.select(
      expr(s"(CAST(conv(substr(md5(tok), 1, 6), 16, 10) AS BIGINT) % 512)").as("c6"),
      expr(digits(6, 512)).as("d6"),
      expr(s"(CAST(conv(substr(md5(tok), 1, 2), 16, 10) AS BIGINT) % 64)").as("c2"),
      expr(digits(2, 64)).as("d2"))
      .where(col("c6") =!= col("d6") || col("c2") =!= col("d2"))
    assert(bad.count() == 0, s"conv/digit bucket mismatch: ${bad.collect().mkString}")
  }

  test("t5Spans single-stream form == the dense_rank branch-and-rejoin shape") {
    // Adversarial docs: empty text (split → [""]), a one-token doc, a
    // doc whose LAST block truncates inside/before the hash-picked span
    // window, and long docs with many corrupted blocks — the cases where
    // "k = running sentinel count − 1 ≡ dense_rank(b) − 1" could break.
    import org.apache.spark.sql.expressions.Window
    val docs = Seq(
      (0L, ""), (1L, "one"), (2L, (1 to 9).map(i => s"w$i").mkString(" ")),
      (3L, (1 to 64).map(i => s"tok$i").mkString(" ")),
      (4L, (1 to 17).map(i => s"x$i").mkString(" ")),
      (5L, (1 to 200).map(i => s"v$i").mkString(" "))).toDF("doc_id", "text")
    val t = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p", "tok")))
      .withColumn("b", expr("CAST(floor(p / 8.0) AS BIGINT)"))
      .withColumn("h", md5(concat(lit("t5:"), col("doc_id"), lit(":"), col("b"))))
      .withColumn("off", ascii(substring(col("h"), 1, 1)) % 4)
      .withColumn("len", ascii(substring(col("h"), 2, 1)) % 3 + 1)
      .withColumn("pib", col("p") - col("b") * 8)
      .withColumn("corrupt",
        ascii(substring(col("h"), 3, 1)) % 2 === 0 &&
        col("pib") >= col("off") && col("pib") < col("off") + col("len"))
    val c = t.where(col("corrupt"))
      .withColumn("k",
        dense_rank().over(Window.partitionBy(col("doc_id")).orderBy(col("b"))) - 1)
    val pieces = t.where(!col("corrupt"))
      .select(col("doc_id"), col("p"), col("tok").as("piece"))
      .unionByName(c.where(col("pib") === col("off"))
        .select(col("doc_id"), col("p"),
          concat(lit("<extra_id_"), col("k"), lit(">")).as("piece")))
    val joined = expr(
      "array_join(transform(array_sort(collect_list(struct(p, piece))), x -> x.piece), ' ')")
    val input = pieces.groupBy(col("doc_id")).agg(joined.as("input"))
    val target = c
      .select(col("doc_id"), col("p"), col("k"),
        when(col("pib") === col("off"),
          concat(lit("<extra_id_"), col("k"), lit("> "), col("tok")))
          .otherwise(col("tok")).as("piece"))
      .groupBy(col("doc_id"))
      .agg(joined.as("target"), (max(col("k")) + 1).cast("long").as("n_spans"))
    val old = input.join(target, Seq("doc_id"), "left")
      .select(col("doc_id"), col("input"),
        coalesce(col("target"), lit("")).as("target"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"))
    // New shape, via the production entry point over a temp parquet dir
    val dir = java.nio.file.Files.createTempDirectory("t5eq").toFile
    try {
      docs.withColumn("source", lit("t"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val neu = operators.TextAnalysis.t5Spans(spark, dir.toString)
      val diff = neu.as("n").join(old.as("o"), Seq("doc_id"), "full")
        .where(col("n.input") =!= col("o.input") ||
          col("n.target") =!= col("o.target") ||
          col("n.n_spans") =!= col("o.n_spans"))
      assert(diff.count() == 0,
        s"t5 single-stream mismatch: ${diff.collect().mkString("\n")}")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("pl_decontam: corpus gram stream reaches the broadcast join unshuffled") {
    // AQE off so the executedPlan is a plain inspectable tree
    // (PlanGuardSpec.planWithoutAqe idiom)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try operators.Pipeline.decontam(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "expected a broadcast gram join")
    // the streamed (corpus) side of the gram join must be a straight
    // scan→gram-explode line: the r18 fix moved the distinct above it
    val streamed = bhj.map(j => if (j.buildSide.toString.contains("Right")) j.left else j.right)
    streamed.foreach { s =>
      assert(s.collect { case e: ShuffleExchangeLike => e }.isEmpty,
        s"corpus side shuffles before the broadcast join:\n$s")
    }
  }
}
