package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

class LlmOpsSpec extends SparkFunSuite {

  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
  /** 16 bands × 4 bits: the banding chooseGeometry picks at cos 0.4. */
  private lazy val demoGeometry = Similarity.chooseGeometry(500L, 0.4, 0.9)

  // ---- Dedup ----

  test("shingles: n-2 positional 3-grams, distinct") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    val df = Seq((1L, "a b c d e a b c")).toDF("doc_id", "text")
    val sh = Dedup.shingleRelation(df, "doc_id", "text")
      .select("shingle").as[String].collect().toSeq
    assert(sh.sorted == Seq("a b c", "b c d", "c d e", "d e a", "e a b"))
  }

  test("jaccardPairs: identical docs give jac 1.0, ids ordered") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    val df = Seq(
      (1L, "x y z w v"), (2L, "x y z w v"), (3L, "p q r s t")
    ).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(df, "doc_id", "text", 0.5).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
    assert(pairs.head.getDouble(2) == 1.0)
  }

  test("minhash LSH: identical shingle sets always collide (recall=1 for exact dups)") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    val df = Seq(
      (1L, "x y z w v u t"), (2L, "x y z w v u t"), (3L, "a b c d e f g")
    ).toDF("doc_id", "text")
    val cand = Dedup.lshCandidates(Dedup.minhashBands(df, "doc_id", "text")).collect()
    assert(cand.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    assert(!cand.exists(r => r.getLong(1) == 3L || r.getLong(0) == 3L))
  }

  test("minhashNearDups on real docs ⊆ jaccardPairs, non-empty") {
    val near = Dedup.minhashNearDups(docs, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(near.nonEmpty)
    assert(near.subsetOf(exact))
  }

  test("minhashNearDupsAgainst == full self-join restricted to cross-split pairs") {
    import org.apache.spark.sql.functions.col
    val batch = docs.filter(col("doc_id") >= 400)
    val corpus = docs.filter(col("doc_id") < 400)
    val inc = Dedup.minhashNearDupsAgainst(batch, corpus, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // full-corpus pairs come out ordered (lo, hi); batch ids are all
    // higher than corpus ids, so the cross-split subset is exactly
    // (corpus_id, batch_id) → reorient to the incremental (batch, corpus)
    val full = Dedup.minhashNearDups(docs, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (lo, hi) => lo < 400 && hi >= 400 }
      .map { case (lo, hi) => (hi, lo) }.toSet
    assert(inc.nonEmpty)
    assert(inc == full)
  }

  test("persisted band index: same near-dups, index side never shuffles") {
    import org.apache.spark.sql.functions.col
    val s = spark
    s.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    val idxT = graft.model.TableRef("graft_test", "band_idx")
    val batch = docs.filter(col("doc_id") >= 400)
    val corpus = docs.filter(col("doc_id") < 400)
    try {
      Dedup.writeBandIndex(corpus, "doc_id", "text", idxT)
      val viaIndex = Dedup.minhashNearDupsAgainstIndex(
        batch, corpus, "doc_id", "text", 0.5, idxT)
      val inline = Dedup.minhashNearDupsAgainst(
        batch, corpus, "doc_id", "text", 0.5)
      val a = viaIndex.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val b = inline.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(a.nonEmpty && a == b)

      // the band join must not re-shuffle the bucketed index: with
      // broadcast disabled, the only (band, key) exchange is the batch
      // side's — the index side joins straight off its bucketed scan.
      val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val cand = Dedup.bandsFromRelation(
          Dedup.shingleRelation(batch, "doc_id", "text")).as("x")
          .join(s.table(idxT.qualified).as("y"),
            col("x.band") === col("y.band") && col("x.key") === col("y.key"))
        cand.collect()
        // AdaptiveSparkPlan.toString prints the final plan followed by
        // the initial one — count exchanges in the FINAL section only.
        val plan = cand.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        assert(plan.contains("SelectedBucketsCount"), plan)
        val exchanges = "hashpartitioning\\(band".r
          .findAllMatchIn(plan).length
        assert(exchanges == 1, s"expected 1 band exchange, plan:\n$plan")
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally s.sql(s"DROP TABLE IF EXISTS ${idxT.qualified}")
  }

  test("connectedComponents: chain + separate pair + symmetry, min-id labels") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    // 1-2-3-4-5 is a 5-node PATH (diameter 4 → needs several propagation
    // rounds); (10,11) is a separate component; edge direction mixed to
    // prove symmetrization.
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), (10L, 11L)
    ).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents: 1200-deep path converges within default maxIter (pointer doubling)") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    // Diameter 1199: plain hash-min needs ~1199 rounds and previously
    // threw at maxIter = 15; pointer doubling reaches distance
    // d_r = 2·d_{r-1} + 2 per round (2, 6, 14, …, 2046 at r = 10), so
    // the default budget must now converge — and to the same labels.
    val chain = (1L to 1200L).sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 1200L).map(_ -> 1L).toMap)
  }

  test("connectedComponents: doubling labels == brute-force union-find on a mixed graph") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    // Deterministic mixed topology: a star, two chains that merge, a
    // triangle, singleton pairs — checked against an in-test union-find.
    val edges = Seq(
      (7L, 3L), (7L, 9L), (7L, 15L),          // star rooted at 7
      (20L, 21L), (21L, 22L), (23L, 22L),     // chain joined from both ends
      (30L, 31L), (31L, 32L), (32L, 30L),     // triangle
      (40L, 41L), (50L, 51L),                 // isolated pairs
      (15L, 20L))                             // bridge star ↔ chain
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(v => v -> find(v)).toMap
    val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("connectedComponents: throws instead of truncating when maxIter too small") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    val chain = (1L to 9L).sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 2)
    }
  }

  // ---- Text analysis ----

  test("hashSplit: total, deterministic, ~80/10/10, stable under growth") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    val ids = spark.range(10000).toDF("doc_id")
    val splits = ids.select(col("doc_id"),
      TextAnalysis.hashSplit(col("doc_id")).as("split"))
    val counts = splits.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test")) // total assignment
    assert(counts("train") > 7700 && counts("train") < 8300)
    assert(counts("val") > 800 && counts("val") < 1250)
    assert(counts("test") > 800 && counts("test") < 1250)
    // growth stability: the first 1000 ids keep their splits when the
    // corpus is 10× larger (content-free hashing — no contamination
    // across dataset versions).
    val small = spark.range(1000).toDF("doc_id").select(col("doc_id"),
      TextAnalysis.hashSplit(col("doc_id")).as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val bigFirst1000 = splits.filter(col("doc_id") < 1000)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(small == bigFirst1000)
  }

  test("simhash: 32-bit strings, equal vocab ⇒ equal signature") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    val df = Seq(
      (1L, "m n o p"), (2L, "p o n m m"), (3L, "q r s t")
    ).toDF("doc_id", "text") // 1 and 2 share the same word SET
    val sigs = Dedup.simhashBits(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sigs.values.forall(sig => sig.length == 32 && sig.forall("01".contains(_))))
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  /** All-pairs Hamming-distance pairs over 32-bit signature strings:
    * the O(n²) oracle simhashBandedPairs is held to. */
  private def simhashPairs(sigs: org.apache.spark.sql.DataFrame,
      maxDist: Int) = {
    val positions = sigs.select(col("id"), col("simhash"),
      explode(sequence(lit(1), lit(32))).as("p"),
      expr("substring(simhash, p, 1)").as("c"))
    positions.as("a").join(positions.as("b"),
        col("a.p") === col("b.p") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(sum(when(col("a.c") =!= col("b.c"), 1).otherwise(0)).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  test("simhashBandedPairs ≡ all-pairs simhashPairs for maxDist < bands") {
    val sigs = Dedup.simhashBits(
      docs.filter(col("doc_id") < 60), "doc_id", "text")
    val banded = Dedup.simhashBandedPairs(sigs, maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val allPairs = simhashPairs(sigs, maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(banded.nonEmpty)
    assert(banded.toSeq == allPairs.toSeq) // lossless by pigeonhole
    intercept[IllegalArgumentException] {
      Dedup.simhashBandedPairs(sigs, maxDist = 8, bands = 8)
    }
  }

  // ---- Similarity ----

  test("bruteForceTopK: k rows per query, descending, no self") {
    val res = Similarity.bruteForceTopK(
      emb, emb.filter(col("vec_id") === 0), k = 5).collect()
    assert(res.length == 5)
    assert(res.forall(_.getLong(2) != 0L))
    val scores = res.sortBy(_.getInt(1)).map(_.getDouble(3))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("signLshTopK results appear in brute-force ranking with equal cos") {
    val brute = Similarity.bruteForceTopK(
      emb, emb.filter(col("vec_id") === 0), k = 500)
      .collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap
    val lsh = Similarity.signLshTopK(
      emb, emb.filter(col("vec_id") === 0), k = 5).collect()
    lsh.foreach { r => assert(brute(r.getLong(2)) == r.getDouble(3)) }
  }

  test("trained IVF recall@5 >= seeded IVF at equal nProbe (clustered corpus)") {
    // The scale claim behind trainCentroids: Lloyd rounds move the cells
    // onto the corpus's CLUSTER structure, so at the same probe budget
    // the trained index beats lowest-id seeds. The testdata embeddings
    // are isotropic random vectors (within-label cosine == cross-label
    // == ~0), where no partition beats any other — so the assertion runs
    // on a deterministic clustered corpus exhibiting the seeds' real
    // failure mode: 8 true clusters, ids ordered by cluster, hence ALL
    // 16 lowest-id seeds inside cluster 0 and seeded assignment is
    // noise-random across the other seven.
    val s = graft.SparkTestBase.spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val df = (0 until 400).map { i =>
      val cl = i / 50
      val vec = Array.tabulate(64) { d =>
        val base = if (d >= cl * 8 && d < cl * 8 + 8) 1.0f else 0.0f
        base + (rnd.nextFloat() - 0.5f) * 0.4f
      }
      (i.toLong, vec)
    }.toDF("vec_id", "embedding")
    val qids = (0 until 8).map(_ * 50L)
    val q = df.filter(col("vec_id").isin(qids: _*))
    val truth = Similarity.bruteForceTopK(df, q, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def hits(res: Array[org.apache.spark.sql.Row]): Int =
      res.map(r => (r.getLong(0), r.getLong(2))).count(truth.contains)
    // measured: seeded 25/34/38, trained 35/39/40 at nProbe 1/2/4
    Seq(1, 2, 4).foreach { np =>
      val seeded = hits(Similarity.ivfTopK(df, q, k = 5, nlist = 16,
        nProbe = np).collect())
      val trained = hits(Similarity.ivfTopKTrained(df, q, k = 5,
        Similarity.trainCentroidsLiteral(df, 16, 2), nlist = 16,
        nProbe = np).collect())
      assert(trained > seeded,
        s"nProbe=$np: trained $trained !> seeded $seeded (of ${truth.size})")
    }
  }

  test("trainCentroids: deterministic, <= nlist cells, 64-dim float means") {
    val cents = Similarity.trainCentroids(emb, nlist = 16, iters = 2)
    val rows = cents.collect()
    assert(rows.length <= 16 && rows.nonEmpty)
    assert(rows.forall(_.getSeq[Float](1).length == 64))
    val again = Similarity.trainCentroids(emb, nlist = 16, iters = 2)
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    rows.foreach(r => assert(again(r.getInt(0)) == r.getSeq[Float](1)))
  }

  test("nearDupPairs symmetric bound: all pairs above threshold") {
    val pairs = Similarity.nearDupPairs(emb, 0.4, 0.35, demoGeometry).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(r => r.getDouble(2) >= 0.4 && r.getLong(0) < r.getLong(1)))
  }

  test("nearDupPairs LSH candidates: exact dup always caught, no false cos") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    // An identical pair shares every band (recall 1 for exact dups);
    // every emitted cos is the true exact-decimal cosine (no approximation
    // in the VALUES — only candidate selection is approximate).
    val v = (1 to 64).map(i => (if (i % 3 == 0) -1.0f else 1.0f) * i / 64f)
    val w = (1 to 64).map(i => (if (i % 5 == 0) -1.0f else 1.0f) * (65 - i) / 64f)
    val df = Seq((1L, v), (2L, v), (3L, w)).toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(df, 0.99, 0.9, demoGeometry).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
    assert(pairs.head.getDouble(2) == 1.0)
  }

  // ---- TextAnalysis ----

  test("ratios in [0,1], fingerprint invariant under word order") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    val df = Seq((1L, "b a c a"), (2L, "a b c")).toDF("doc_id", "text")
    val fps = df.select(TextAnalysis.fingerprint(col("text"))).collect()
    assert(fps(0).getString(0) == fps(1).getString(0)) // same distinct set
    val r = docs.select(
      TextAnalysis.distinctRatio(col("text")).as("dr"),
      TextAnalysis.stopwordRatio(col("text")).as("sr")).collect()
    assert(r.forall(x => x.getDouble(0) > 0 && x.getDouble(0) <= 1.0))
    assert(r.forall(x => x.getDouble(1) >= 0 && x.getDouble(1) <= 1.0))
  }

  // ---- Multimodal ----

  test("packText + decodeFeatures: schema, batch decode, histogram norm") {
    implicit val s = graft.SparkTestBase.spark
    val media = Multimodal.packText(docs.limit(20), "doc_id", "text")
    assert(media.schema.fieldNames.toSeq == Seq("media_id", "payload", "meta"))
    val feats = Multimodal.decodeFeatures(media).collect()
    assert(feats.length == 20)
    feats.foreach { f =>
      assert(f.kind == "text/plain")
      assert(f.feature.length == 8)
      assert(math.abs(f.feature.sum - 1.0f) < 1e-4) // normalized histogram
      assert(f.payload_bytes > 0)
    }
  }

  test("averageHash: exact 8×8 bits; 1-cell drift pairs via banded Hamming") {
    implicit val s = graft.SparkTestBase.spark
    import s.implicits._
    def png(paint: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) img.setRGB(x, y, paint(x, y))
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", baos))
      baos.toByteArray
    }
    // left half black / right half white → cell means 0|255, overall
    // 127.5 → every row hashes "00001111"
    val half = png((x, _) => if (x < 8) 0x000000 else 0xffffff)
    // additionally paint cell (0,0)'s 2×2 block white → exactly one bit
    // flips (the aHash stays stable under the mean shift: 255 > 131.5)
    val drift = png((x, y) =>
      if (x < 8 && !(x < 2 && y < 2)) 0x000000 else 0xffffff)
    val media = Multimodal.packBinary(
      Seq((1L, half), (2L, half), (3L, drift),
        (4L, Array[Byte](9, 9, 9))).toDF("id", "bytes"),
      "id", "bytes", "image/png", width = 16, height = 16)
    val hashes = Multimodal.averageHash(media).collect().sortBy(_.media_id)
    val expect = "00001111" * 8
    assert(hashes(0).ahash == expect && hashes(1).ahash == expect)
    assert(hashes(2).ahash == "10001111" + "00001111" * 7)
    assert(hashes(3).ahash == "0" * 64) // corrupt payload → zero hash
    // composes with the text-SimHash banding machinery at bits = 64:
    // identical images at distance 0, the drifted one at distance 1
    val sigs = Multimodal.averageHash(media).toDF()
      .select(col("media_id").as("id"), col("ahash").as("simhash"))
      .filter(col("simhash") =!= "0" * 64)
    val pairs = graft.operators.Dedup
      .simhashBandedPairs(sigs, maxDist = 7, bands = 8, bits = 64)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(pairs == Seq((1L, 2L, 0L), (1L, 3L, 1L), (2L, 3L, 1L)))
  }

  test("syntheticJpeg: all three patterns decode to their closed-form aHashes") {
    // the mm_neardup oracle hard-codes these three signatures; this is
    // the exact-math guard that the real JPEG encode→decode→aHash chain
    // lands on them (noise margin ~250 greylevels per cell)
    Seq(
      0 -> ("00001111" * 8),
      1 -> ("0" * 32 + "1" * 32),
      2 -> ("00011111" * 8)
    ).foreach { case (pattern, expect) =>
      val h = Multimodal.ahashOf(Multimodal.syntheticJpeg(pattern, 32, 32), 8)
      assert(h == expect, s"pattern $pattern hashed $h")
    }
  }

  test("decodeFeatures: real PNG via javax.imageio — exact dims and channel means") {
    implicit val s = graft.SparkTestBase.spark
    import s.implicits._
    // 4×2 TYPE_INT_RGB: top row red (255,0,0), bottom row blue (0,0,255)
    // → meanR = meanB = 0.5, meanG = 0, luma = (0.299+0.114)/2.
    val img = new java.awt.image.BufferedImage(4, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 4) {
      img.setRGB(x, 0, 0xff0000)
      img.setRGB(x, 1, 0x0000ff)
    }
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    val png = baos.toByteArray
    val media = Multimodal.packBinary(
      Seq((7L, png)).toDF("id", "bytes"), "id", "bytes", "image/png",
      width = 4, height = 2)
    val f = Multimodal.decodeFeatures(media).collect().head
    assert(f.media_id == 7L && f.kind == "image/png")
    assert(f.payload_bytes == png.length)
    val Array(w, h, bands, mr, mg, mb, luma, aspect) = f.feature
    assert(w == 4f && h == 2f && bands == 3f && aspect == 2f)
    assert(math.abs(mr - 0.5f) < 1e-6)
    assert(mg == 0f)
    assert(math.abs(mb - 0.5f) < 1e-6)
    assert(math.abs(luma - (0.299f + 0.114f) / 2) < 1e-6)
  }

  test("decodeFeatures: JPEG dims exact, corrupt image → zero vector, non-AVI video → zero vector") {
    implicit val s = graft.SparkTestBase.spark
    import s.implicits._
    val img = new java.awt.image.BufferedImage(6, 3,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", baos))
    val rows = Seq(
      (1L, baos.toByteArray, "image/jpeg"),
      (2L, Array[Byte](1, 2, 3, 4), "image/png"), // not an image
      (3L, "abc".getBytes("UTF-8"), "video/mp4")  // no JDK codec → stub
    ).toDF("id", "bytes", "kind")
    val media = rows.select(
      col("id").as("media_id"), col("bytes").as("payload"),
      struct(col("kind"), lit(0).as("width"), lit(0).as("height"),
        lit(0L).as("duration_ms"), lit("x").as("codec")).as("meta"))
    val by = Multimodal.decodeFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    // JPEG is lossy but dimensions survive decode exactly
    assert(by(1L).feature(0) == 6f && by(1L).feature(1) == 3f)
    assert(by(2L).feature.forall(_ == 0f)) // corrupt → zeros, no crash
    // non-MJPEG-AVI video has no JDK decoder: zero vector, same
    // corrupt-is-data contract as images/audio (Multimodal.scala:85)
    assert(by(3L).feature.forall(_ == 0f))
  }

  test("decodeFeatures: real stereo 16-bit WAV via javax.sound.sampled — exact sample math") {
    implicit val s = graft.SparkTestBase.spark
    import s.implicits._
    import javax.sound.sampled._
    // 8 stereo frames at 8 kHz, samples chosen so every feature is an
    // exact binary fraction: ch0 = +0.5 ×4 then −0.5 ×4 (mean 0),
    // ch1 = +0.25 ×8 (mean 0.25), peak 0.5, duration 8/8000 s = 1 ms,
    // RMS = sqrt((8·0.25 + 8·0.0625)/16) = sqrt(0.15625).
    val fmt = new AudioFormat(8000f, 16, 2, true, false) // PCM_SIGNED LE
    val pcm = java.nio.ByteBuffer.allocate(8 * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 8).foreach { f =>
      pcm.putShort(if (f < 4) 16384.toShort else (-16384).toShort) // ch0
      pcm.putShort(8192.toShort)                                   // ch1
    }
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm.array()), fmt, 8),
      AudioFileFormat.Type.WAVE, baos)
    val media = Multimodal.packBinary(
      Seq((21L, baos.toByteArray)).toDF("id", "bytes"), "id", "bytes",
      "audio/wav")
    val f = Multimodal.decodeFeatures(media).collect().head
    assert(f.media_id == 21L && f.kind == "audio/wav")
    assert(f.feature(0) == 8000f, "sample rate")
    assert(f.feature(1) == 2f, "channels")
    assert(f.feature(2) == 8f, "frames")
    assert(f.feature(3) == 1f, "duration_ms")
    assert(f.feature(4) == 0f, "ch0 mean")
    assert(f.feature(5) == 0.25f, "ch1 mean")
    assert(f.feature(6) == math.sqrt(0.15625).toFloat, "rms")
    assert(f.feature(7) == 0.5f, "peak")
  }

  test("syntheticWav: the decoder recovers the closed-form square-wave stats") {
    implicit val s = graft.SparkTestBase.spark
    import s.implicits._
    // period 3, 40 samples at 8 kHz: cycles of 6 → nPlus = 6·3 + min(4,3)
    // = 21, mean = 0.25·(42−40)/40 = 0.0125 exactly; RMS = peak = 0.25
    // (every sample is ±0.25); duration = 40/8 = 5 ms.
    val media = Multimodal.packBinary(
      Seq((7L, Multimodal.syntheticWav(3, 40))).toDF("id", "bytes"),
      "id", "bytes", "audio/wav")
    val f = Multimodal.decodeFeatures(media).collect().head.feature
    assert(f.sameElements(
      Array(8000f, 1f, 40f, 5f, 0.0125f, 0f, 0.25f, 0.25f)), f.toSeq)
  }

  test("decodeFeatures: mono 8-bit WAV (unsigned PCM) + corrupt audio → zero vector") {
    implicit val s = graft.SparkTestBase.spark
    import s.implicits._
    import javax.sound.sampled._
    // 8-bit WAV is unsigned, centered at 128: samples 192/64 normalize
    // to +0.5/−0.5 → mean 0, peak 0.5, RMS 0.5; 4 frames at 4 kHz = 1 ms.
    val fmt = new AudioFormat(
      AudioFormat.Encoding.PCM_UNSIGNED, 4000f, 8, 1, 1, 4000f, false)
    val pcm = Array[Byte](192.toByte, 64, 192.toByte, 64)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 4),
      AudioFileFormat.Type.WAVE, baos)
    val media = Multimodal.packBinary(
      Seq(
        (1L, baos.toByteArray),
        (2L, "RIFFgarbage-not-a-wav".getBytes("US-ASCII")),
        (3L, Array.empty[Byte])
      ).toDF("id", "bytes"), "id", "bytes", "audio/wav")
    val by = Multimodal.decodeFeatures(media).collect()
      .map(f => f.media_id -> f.feature).toMap
    assert(by(1L).sameElements(
      Array(4000f, 1f, 4f, 1f, 0f, 0f, 0.5f, 0.5f)))
    assert(by(2L).forall(_ == 0f), "undecodable audio → zeros, no crash")
    assert(by(3L).forall(_ == 0f), "empty payload → zeros")
  }

  test("decodeFeatures: adversarially-corrupt payloads (plugin RuntimeExceptions) → zero vector") {
    implicit val s = graft.SparkTestBase.spark
    import s.implicits._
    // a real PNG, truncated at several offsets — plus magic-only GIF/JPEG
    // heads with garbage bodies. ImageIO plugins throw RuntimeExceptions
    // (not just IOException) on some of these; the contract is: ANY
    // undecodable payload is data, not an error → zero vector, no crash.
    val img = new java.awt.image.BufferedImage(32, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    val png = baos.toByteArray
    val garbage = Array.tabulate[Byte](64)(i => ((i * 37 + 11) & 0xff).toByte)
    val payloads = Seq(
      1L -> png.take(8),                           // PNG magic only
      2L -> png.take(png.length / 2),              // mid-chunk truncation
      3L -> ("GIF89a".getBytes("US-ASCII") ++ garbage), // GIF head, garbage body
      4L -> (Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte) ++ garbage), // JPEG SOI
      5L -> ("BM".getBytes("US-ASCII") ++ garbage) // BMP head, bogus size fields
    ).toDF("id", "bytes")
    val media = Multimodal.packBinary(payloads, "id", "bytes", "image/png")
    val feats = Multimodal.decodeFeatures(media).collect()
    assert(feats.length == 5)
    feats.foreach(f => assert(f.feature.forall(_ == 0f),
      s"payload ${f.media_id} should decode to the zero vector"))
  }

  test("decodeFeatures: megapixel image spans multiple bulk-getRGB strips, means exact") {
    implicit val s = graft.SparkTestBase.spark
    import s.implicits._
    // 2048×1024 = 2M pixels → stripH = 2^20/2048 = 512 → exactly 2
    // strips; top half red, bottom half blue makes any strip-boundary
    // slip show up as a wrong mean.
    val (w, h) = (2048, 1024)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(java.awt.Color.RED); g.fillRect(0, 0, w, h / 2)
    g.setColor(java.awt.Color.BLUE); g.fillRect(0, h / 2, w, h / 2)
    g.dispose()
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    val media = Multimodal.packBinary(
      Seq((9L, baos.toByteArray)).toDF("id", "bytes"), "id", "bytes", "image/png")
    val f = Multimodal.decodeFeatures(media).collect().head
    val Array(fw, fh, _, mr, mg, mb, _, aspect) = f.feature
    assert(fw == w.toFloat && fh == h.toFloat && aspect == 2f)
    assert(math.abs(mr - 0.5f) < 1e-6)
    assert(mg == 0f)
    assert(math.abs(mb - 0.5f) < 1e-6)
  }

  test("videoFrames: synthetic MJPEG-AVI round-trips exactly (count, dims, duration, hashes)") {
    implicit val s = graft.SparkTestBase.spark
    import s.implicits._
    val avi = Multimodal.syntheticAvi(nFrames = 5, w = 32, h = 32,
      microPerFrame = 40000L)
    val media = Multimodal.packBinary(
      Seq((7L, avi)).toDF("id", "payload"), "id", "payload", "video/avi")
    val out = Multimodal.videoFrames(media).collect()
    assert(out.length == 1)
    val v = out.head
    assert(v.n_frames == 5 && v.width == 32 && v.height == 32)
    assert(v.duration_ms == 200L) // 5 frames × 40 ms
    val leftDark = ("0000" + "1111") * 8
    val topDark = "0" * 32 + "1" * 32
    // even frames dark-left, odd dark-top — JPEG noise is ~2 greylevels
    // against a ~250-level margin, so the hashes are exact
    assert(v.frame_hashes.toSeq ==
      Seq(leftDark, topDark, leftDark, topDark, leftDark))
  }

  test("videoFrames: corrupt payloads are data, not errors (truncation, garbage, wrong kind)") {
    implicit val s = graft.SparkTestBase.spark
    import s.implicits._
    val good = Multimodal.syntheticAvi(3, 32, 32, 40000L)
    val cases = Seq(
      1L -> "not a RIFF container at all".getBytes("UTF-8"),
      2L -> good.take(20), // RIFF header, truncated before any chunk ends
      3L -> good.take(good.length - 7), // cut mid-frame-chunk
      4L -> Array.empty[Byte],
      5L -> good) // control: still decodes alongside the corrupt rows
    val media = Multimodal.packBinary(
      cases.toDF("id", "payload"), "id", "payload", "video/avi")
    val out = Multimodal.videoFrames(media).collect()
      .map(v => v.media_id -> v).toMap
    assert(out(1L).n_frames == 0 && out(1L).width == 0)
    assert(out(2L).n_frames == 0)
    // mid-chunk cut: the walk stops at the structural violation — the
    // intact prefix frames (2 of 3) survive, header geometry intact
    assert(out(3L).width == 32 && out(3L).n_frames == 2)
    assert(out(4L).n_frames == 0 && out(4L).duration_ms == 0L)
    assert(out(5L).n_frames == 3 && out(5L).duration_ms == 120L)
    // a non-video kind never enters the RIFF walk
    val asImage = Multimodal.packBinary(
      Seq((9L, good)).toDF("id", "payload"), "id", "payload", "application/x")
    assert(Multimodal.videoFrames(asImage).collect().head.n_frames == 0)
    // and decodeFeatures routes video/* through the real path: facts
    // from the container, lumas from real frame decodes
    val feats = Multimodal.decodeFeatures(media).collect()
      .map(f => f.media_id -> f.feature).toMap
    assert(feats(5L)(0) == 32f && feats(5L)(2) == 3f && feats(5L)(3) == 120f)
    assert(feats(5L)(4) > 0.3f && feats(5L)(4) < 0.7f) // half-dark luma
    assert(feats(1L).forall(_ == 0f))
  }

  test("sampleFrames: stride-2 over 10-byte chunks") {
    implicit val s = graft.SparkTestBase.spark
    val media = Multimodal.packText(docs.limit(5), "doc_id", "text")
    val sampled = Multimodal.sampleFrames(media, chunkBytes = 10, stride = 2).collect()
    sampled.foreach { r =>
      assert(r.getInt(1) > 0)
      assert(r.getLong(2) <= 10L * r.getInt(1))
    }
  }

  test("sq8: codes in [0,255], reconstruction within half a step per dim") {
    val st = Similarity.sq8Stats(emb).orderBy("pos").collect()
    assert(st.length == 64)
    val mns = st.map(_.getDouble(1)).toSeq
    val mxs = st.map(_.getDouble(2)).toSeq
    assert(mns.zip(mxs).forall { case (mn, mx) => mx > mn })
    val codes = Similarity.sq8Encode(col("embedding"), mns, mxs)
    val rows = emb.select(col("embedding"), codes.as("codes"),
      Similarity.sq8Dequantize(codes, mns, mxs).as("deq")).collect()
    rows.foreach { r =>
      val vs = r.getSeq[Float](0).map(_.toDouble)
      val cs = r.getSeq[Int](1)
      val ds = r.getSeq[Double](2)
      assert(cs.forall(x => x >= 0 && x <= 255))
      // |v − decode(encode(v))| ≤ step/2 (+ floating slack): the decoder
      // returns the center the floor(+0.5) encoder rounded to
      vs.indices.foreach { i =>
        val step = (mxs(i) - mns(i)) / 255.0
        assert(math.abs(vs(i) - ds(i)) <= step / 2 + 1e-12,
          s"dim $i: v=${vs(i)} deq=${ds(i)} step=$step")
      }
    }
  }

  test("bandRecall: limits, monotonicity, and the documented design points") {
    // identical vectors always collide; orthogonal ones (p=0.5) rarely
    assert(Similarity.bandRecall(1.0, 16, 4) == 1.0)
    assert(Similarity.bandRecall(0.0, 8, 8) < 0.04)
    // recall rises with cosine and with band count, falls with band width
    assert(Similarity.bandRecall(0.9, 16, 4) > Similarity.bandRecall(0.4, 16, 4))
    assert(Similarity.bandRecall(0.4, 16, 4) > Similarity.bandRecall(0.4, 8, 4))
    assert(Similarity.bandRecall(0.4, 8, 4) > Similarity.bandRecall(0.4, 8, 8))
    // the two geometries SCALING.md discusses: at the demo threshold 0.4
    // only 16×4 keeps recall ≥0.9; at a production near-dup threshold
    // 0.9 the 21×-cheaper 8×8 geometry still clears 0.9
    assert(Similarity.bandRecall(0.4, 16, 4) > 0.9)
    assert(Similarity.bandRecall(0.4, 8, 8) < 0.4)
    assert(Similarity.bandRecall(0.9, 8, 8) > 0.9)
  }

  test("chooseGeometry: cheapest recall-feasible banding, per SCALING.md anchors") {
    // the demo's low threshold: only the coarse 4-bit bands reach 0.9
    // recall over a 64-bit signature, and 16×4 is the cheapest of them
    val demo = Similarity.chooseGeometry(1000L, 0.4, 0.9)
    assert(demo.bands == 16 && demo.bandBits == 4)
    assert(demo.recall >= 0.9 && demo.withinBudget)
    // production threshold at scale: ≥8 bits per band — candidates are
    // ~bands·n²/2^bits, and bits are the only lever that survives n=1e7
    val prod = Similarity.chooseGeometry(10_000_000L, 0.9, 0.9)
    assert(prod.bandBits >= 8, s"got ${prod.bands}×${prod.bandBits}")
    assert(prod.recall >= 0.9)
    // the measured 21× cut: 8×8's expected candidates vs 16×4's at equal n
    val coarse = 16.0 * 1e7 * 1e7 / 2.0 / 16.0
    assert(coarse / prod.expectedCandidates >= 21.0)
    // budget exhaustion flags, not throws — the "use IVF instead" signal
    val over = Similarity.chooseGeometry(10_000_000L, 0.4, 0.9,
      candidateBudget = 1e9)
    assert(!over.withinBudget && over.bands == 16 && over.bandBits == 4)
    // an unreachable recall target is a contract error (near-antipodal
    // pairs: even 64 one-bit bands can't capture 99.9% of them)
    assertThrows[IllegalArgumentException] {
      Similarity.chooseGeometry(1000L, -0.99, 0.999)
    }
    // only the banding drives the operator: same pairs as a hand-built
    // 16×4 geometry on a real frame
    val vecs = emb.limit(200)
    def pairsOf(g: Similarity.Geometry) = Similarity
      .nearDupPairs(vecs, 0.4, 0.35, g)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaGeom = pairsOf(demo)
    val explicit = pairsOf(Similarity.Geometry(16, 4, 0.0, 0.0, withinBudget = true))
    assert(viaGeom == explicit && viaGeom.nonEmpty)
  }

  test("chooseGeometryWide: candidates-per-item stays constant across decades") {
    // the law the fixed geometries break (measured 100×/decade in
    // SCALING.md r20): with width-scaled banding, per-item candidates
    // are ≤ budget at EVERY n, recall ≥ target by construction, and
    // the lever is bandBits ≈ log₂ n
    val ns = Seq(500L, 2000L, 20000L, 200000L, 20000000L, 2000000000L)
    val geoms = ns.map(n => Similarity.chooseGeometryWide(n, 0.9, 0.9))
    geoms.zip(ns).foreach { case (g, n) =>
      assert(g.withinBudget, s"n=$n got $g")
      assert(g.recall >= 0.9, s"n=$n got $g")
      assert(2.0 * g.expectedCandidates / n <= 64.0, s"n=$n got $g")
    }
    // bits grow (weakly) with n — the only lever that survives scale
    assert(geoms.map(_.bandBits) == geoms.map(_.bandBits).sorted)
    assert(geoms.last.bandBits > geoms.head.bandBits)
    // the oracle anchor the generated s_embed_neardup_wide SQL assumes
    val anchor = Similarity.chooseGeometryWide(500L, 0.9, 0.9)
    assert(anchor.bands == 4 && anchor.bandBits == 5, s"got $anchor")
    // at a cos ≤ 0 threshold wider bands no longer shrink candidates —
    // contract error, the use-IVF signal
    assertThrows[IllegalArgumentException] {
      Similarity.chooseGeometryWide(1000L, -0.1, 0.9)
    }
  }

  test("rademacherPlanes: seeded, deterministic, ±1") {
    val a = Similarity.rademacherPlanes(20, 64, 42L)
    val b = Similarity.rademacherPlanes(20, 64, 42L)
    assert(a.length == 20 && a.forall(_.length == 64))
    assert(a.zip(b).forall { case (x, y) => x.sameElements(y) })
    assert(a.flatten.forall(s => s == 1 || s == -1))
    // a different seed gives different planes (not a constant function)
    val c = Similarity.rademacherPlanes(20, 64, 43L)
    assert(a.zip(c).exists { case (x, y) => !x.sameElements(y) })
    // roughly balanced signs (splitmix64 is uniform; 1280 draws)
    val pos = a.flatten.count(_ == 1)
    assert(pos > 1280 * 0.4 && pos < 1280 * 0.6, s"pos=$pos")
  }

  test("RademacherSig codegen matches the Scala reference arithmetic") {
    val planes = Similarity.rademacherPlanes(20, 64, 42L)
    val got = emb.select(col("vec_id"),
        graft.plans.FloatVecOps.rademacherSig(col("embedding"), planes)
          .as("sig"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = emb.select(col("vec_id"), col("embedding")).collect().map { r =>
      val v = r.getSeq[Float](1)
      r.getLong(0) -> planes.map { row =>
        var acc = 0.0
        v.indices.foreach(i => acc += row(i) * v(i).toDouble)
        if (acc > 0.0) '1' else '0'
      }.mkString
    }.toMap
    assert(got == want && got.nonEmpty)
    assert(got.values.forall(_.length == 20))
  }

  test("nearDupPairsWide: exact dups always captured, all pairs verify exactly") {
    val s = graft.SparkTestBase.spark
    // plant exact duplicates of real vectors under fresh ids: cos = 1 →
    // every band matches → capture is certain at any geometry
    val base = emb.select("vec_id", "embedding").limit(100)
    val dups = base.filter(col("vec_id") < 5)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val corpus = base.unionAll(dups)
    val geom = Similarity.chooseGeometryWide(200L, 0.9, 0.9)
    val out = Similarity.nearDupPairsWide(corpus, threshold = 0.9,
      prefilter = 0.85, geom).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 5L).foreach { i =>
      assert(pairs.contains((i, i + 100000L)), s"planted dup $i missing")
    }
    // sound: every emitted pair's exact-decimal cosine clears the
    // threshold, and no pair appears that brute force would reject
    assert(out.forall(_.getDouble(2) >= 0.9))
    val brute = corpus.as("a").join(corpus.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        Similarity.cosineExact(col("a.embedding"), col("b.embedding"))
          .as("cos"))
      .filter(col("cos") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.subsetOf(brute))
  }

  // ---- MMR ----

  test("mmrRerank: demotes the redundant near-twin that plain top-k ranks second") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    // q = e1; c1 ~ q; c2 ~ c1 (redundant twin); c3 orthogonal-ish.
    // Plain cosine ranks c2 second; MMR must pick the diverse c3 first.
    def v(xs: Float*): Array[Float] = xs.toArray
    val emb = Seq(
      (0L, v(1f, 0f, 0f, 0f)), // query
      (1L, v(0.9f, 0.1f, 0f, 0f)), // c1: closest
      (2L, v(0.89f, 0.11f, 0f, 0f)), // c2: c1's twin
      (3L, v(0.5f, 0f, 0.8f, 0f)) // c3: diverse
    ).toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(
      emb, emb.filter(col("vec_id") === 0L), n = 3, k = 3,
      lambdaTenths = 5)
      .orderBy("step").collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(1L, 3L, 2L),
      out.mkString(", "))
    // greedy runs in exact 1e-7 integer units: every emitted score is
    // an exact multiple of 1e-7
    out.foreach { r =>
      val e7 = r.getDouble(3) * 1e7
      assert(e7 == math.rint(e7), r.toString)
    }
  }

  // ---- Winnowing ----

  test("winnow: shared run of >= w+k-1 tokens guarantees a shared fingerprint") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    // k=3, w=4 → guarantee window is 6 tokens. The two docs share the
    // 6-token run "p q r s t u" inside otherwise-disjoint noise.
    val df = Seq(
      (1L, "aa bb cc p q r s t u dd ee ff"),
      (2L, "gg hh p q r s t u ii jj kk ll"),
      (3L, "zz yy xx ww vv uu tt ss rr qq")
    ).toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(df, "doc_id", "text")
      .select("id", "fp").distinct().collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet)
    assert((fp(1L) intersect fp(2L)).nonEmpty,
      "shared 6-token run must yield a shared fingerprint")
    assert((fp(1L) intersect fp(3L)).isEmpty)
  }

  test("winnow: rightmost tie-break, whole-doc fallback, ~2/(w+1) density") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    // all-identical grams: every window's min is tied → rightmost wins
    // per window → selected positions are exactly one per window start.
    val tied = Seq((1L, "x x x x x x x x x")).toDF("doc_id", "text")
    val selTied = Dedup.winnowFingerprints(tied, "doc_id", "text")
      .select("fp_pos").collect().map(_.getInt(0)).sorted
    // 7 grams, windows start at pos 1..4, rightmost of [p, p+3] is p+3
    assert(selTied.toSeq == Seq(4, 5, 6, 7), selTied.toSeq)
    // short doc (< w grams) still fingerprints via the whole-doc window
    val short = Seq((2L, "a b c")).toDF("doc_id", "text")
    assert(Dedup.winnowFingerprints(short, "doc_id", "text").count() == 1)
    // density on the real corpus ~ 2/(w+1) = 0.4
    val grams = docs.select(
      greatest(size(split(col("text"), " ")) - 2, lit(0)).as("g"))
      .agg(sum("g")).head().getLong(0)
    val sel = Dedup.winnowFingerprints(docs, "doc_id", "text").count()
    val density = sel.toDouble / grams
    assert(density > 0.3 && density < 0.5, s"density $density")
  }
}
