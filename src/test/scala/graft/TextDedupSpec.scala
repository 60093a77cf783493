package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextFunctions
import graft.operators.{Dedup, Multimodal, Similarity}

class TextDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("tokenCount: blank text counts zero") {
    val df = Seq("", "  ", "one two  three").toDF("t")
    val out = df.select(TextFunctions.tokenCount($"t")).as[Long].collect()
    assert(out.toSeq == Seq(0L, 0L, 3L))
  }

  test("shingles: short docs yield one whole-document shingle") {
    val df = Seq("a b").toDF("t")
    val out = df.select(TextFunctions.shingles($"t", 5)).as[Seq[String]]
      .collect()
    assert(out.head == Seq("a b"))
  }

  test("predictedLang picks max marker hits with fixed tie order") {
    val df = Seq(
      "the cat and the dog of the house",
      "der hund und die katze ist da",
      "el perro y la casa de que los") .toDF("t")
    val out = df.select(TextFunctions.predictedLang($"t")).as[String]
      .collect()
    assert(out.toSeq == Seq("en", "de", "es"))
  }

  test("exact dedup keeps the minimum id per content hash") {
    val df = Seq((5L, "same text"), (2L, "same text"), (9L, "other"))
      .toDF("id", "t")
    val kept = Dedup.exactDedup(df, "id", "t").select($"id").as[Long]
      .collect().sorted
    assert(kept.toSeq == Seq(2L, 9L))
    val stats = Dedup.exactDupStats(df, "id", "t")
      .where($"dup_cnt" === 2).select($"keeper").as[Long].collect()
    assert(stats.toSeq == Seq(2L))
  }

  test("minhash-LSH finds planted near-dups, skips unrelated docs") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 30).map(i => if (i == 7) "CHANGED" else s"w$i")
      .mkString(" ")
    val unrelated = (100 to 130).map(i => s"z$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("id", "t")
    val pairs = Dedup.nearDupPairs(df, "id", "t", threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("real PNG codec: encode → decode → resize round-trips dimensions") {
    val png = graft.operators.Multimodal.renderPng(20, 10, seed = 42L)
    // PNG magic bytes prove a real encoder ran.
    assert((png(0) & 0xff) === 0x89 && png(1) === 'P'.toByte)
    val m = graft.operators.Multimodal.decodeImage(png)
    assert(m.width === 20 && m.height === 10 && m.mime === "image/png")
    val half = graft.operators.Multimodal.resizeImage(png, 10, 5)
    val m2 = graft.operators.Multimodal.decodeImage(half)
    assert(m2.width === 10 && m2.height === 5)
    // Determinism: same seed → identical bytes.
    assert(graft.operators.Multimodal.renderPng(20, 10, 42L)
      .sameElements(png))
  }

  test("real WAV codec: encode → decode → downsample round-trips frames") {
    val wav = graft.operators.Multimodal.renderWav(100, 8000, seed = 7L)
    // RIFF magic proves a real container writer ran.
    assert(new String(wav.take(4), "ASCII") === "RIFF")
    val m = graft.operators.Multimodal.decodeWav(wav)
    assert(m.nFrames === 100L && m.sampleRate === 8000 && m.channels === 1)
    val down = graft.operators.Multimodal.downsampleWav(wav, 2)
    val m2 = graft.operators.Multimodal.decodeWav(down)
    assert(m2.nFrames === 50L && m2.sampleRate === 4000)
  }

  test("audio features match a direct LCG sample replay") {
    // Replay the renderer's LCG in plain Scala and aggregate the same
    // integer features; the operator must agree for every id — which
    // proves its path (render → WAV bytes → AudioSystem decode → PCM
    // parse) is sample-exact, not just length-preserving.
    def expected(id: Long): (Long, Long, Long, Long, Long) = {
      val n = (64 + id % 64).toInt
      var s = id
      var sumAbs = 0L; var energy = 0L; var peak = 0L; var zc = 0L
      var prevNeg = false
      (0 until n).foreach { i =>
        s = s * 6364136223846793005L + 1442695040888963407L
        val v = (s >>> 48).toShort.toLong
        val a = math.abs(v)
        sumAbs += a; energy += v * v; if (a > peak) peak = a
        val neg = v < 0
        if (i > 0 && neg != prevNeg) zc += 1
        prevNeg = neg
      }
      (n.toLong, sumAbs, energy, peak, zc)
    }
    val df = Seq(0L, 3L, 77L, 130L).toDF("doc_id")
    val out = Multimodal.audioFeatures(spark, df, "doc_id")
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    out.foreach { case (id, nf, sa, en, pk, zc) =>
      assert((nf, sa, en, pk, zc) === expected(id), s"id=$id")
    }
  }

  test("planted duplicate images are all recovered at hamming 0") {
    // period=10 over ids 0..29 plants triples {i, i+10, i+20}: every
    // within-group pair must surface through the banded blocking with
    // distance exactly 0 (bit-identical rasters through the real codec).
    val df = (0L until 30L).toDF("doc_id")
    val pairs = Multimodal.imageNearDupPairs(spark, df, "doc_id",
        period = 10, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    val wanted = (for {
      k <- 0L until 10L
      a <- Seq(k, k + 10, k + 20).combinations(2)
    } yield (a(0), a(1), 0L)).toSet
    assert(wanted.subsetOf(pairs))
    // Nothing across groups: random 64-bit hashes at distance ≤3 have
    // ~1e-15 probability; deterministic corpus ⇒ exact equality here.
    assert(pairs === wanted)
  }

  test("incremental dedup drops exact and near copies of corpus docs only") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 30).map(i => if (i == 7) "CHANGED" else s"w$i")
      .mkString(" ")
    val fresh = (200 to 230).map(i => s"q$i").mkString(" ")
    val corpus = Seq((1L, base), (2L, (50 to 80).map(i => s"y$i")
      .mkString(" "))).toDF("id", "t")
    val batch = Seq(
      (10L, base),    // exact copy of corpus doc 1 → dropped
      (11L, nearDup), // near-dup of corpus doc 1 → dropped
      (12L, fresh)    // genuinely new → kept
    ).toDF("id", "t")
    val kept = Dedup.incrementalKept(batch, corpus, "id", "t",
      threshold = 0.5).select($"id").as[Long].collect().toSeq
    assert(kept === Seq(12L))
  }

  test("identical texts share fingerprint and simhash") {
    val df = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "totally different words here now ok")).toDF("id", "t")
    val fp = df.select(TextFunctions.fingerprint($"t")).as[String].collect()
    assert(fp(0) == fp(1) && fp(0) != fp(2))
    val sh = Dedup.simhashTable(df, "id", "t").select($"simhash")
      .as[String].collect()
    assert(sh(0) == sh(1) && sh(0).length == TextFunctions.SimhashBits)
    assert(sh(0).forall(c => c == '0' || c == '1'))
  }

  test("jaccard is an exact integer ratio") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val out = df.select(Dedup.jaccard($"x", $"y")).as[Double].collect()
    assert(out.head == 0.5) // |{b,c}| / |{a,b,c,d}|
  }

  test("cosine similarity: parallel -> 1, orthogonal -> 0") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(2.0f, 0.0f)),
      (Seq(1.0f, 0.0f), Seq(0.0f, 3.0f))).toDF("a", "b")
    val out = df.select(round(Similarity.cosine($"a", $"b"), 9)).as[Double]
      .collect()
    assert(out.toSeq == Seq(1.0, 0.0))
  }

  test("native CosineSimilarity is bit-identical to the declarative form") {
    graft.functions.NativeFunctions.register(spark)
    val df = Seq(
      (Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)),
      (Seq(0.3f, 0.0f), Seq(0.0f, 7.1f)),
      (Seq(1.0f, 1.0f), Seq(1.0f, 1.0f))).toDF("a", "b")
    val pairs = df.select(
      Similarity.cosine($"a", $"b").as("decl"),
      graft.functions.NativeFunctions.cosineSim($"a", $"b").as("nat"))
      .as[(Double, Double)].collect()
    pairs.foreach { case (d, n) => assert(d == n) } // exact, not approx
    // and it works from SQL text too
    df.createOrReplaceTempView("cos_t")
    val sql = spark.sql("SELECT cosine_sim_check.* FROM (SELECT cosine_sim(a, b) AS c FROM cos_t) cosine_sim_check")
      .as[Double].collect()
    assert(sql.toSeq == pairs.map(_._1).toSeq)
  }

  test("bruteForceTopK excludes self and ranks by similarity") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs,
      vecs.where($"vec_id" === 1), "vec_id", "embedding", 2)
      .select($"n_id", $"rank").as[(Long, Long)].collect().toSeq
    assert(out == Seq((2L, 1L), (3L, 2L)))
  }

  test("connectedComponents: min-label clusters over a pair graph") {
    // chain 1-2-3 plus isolated pair 5-6: two clusters labeled 1 and 5
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(cc == Set((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L)))
  }

  test("nearDedupKept keeps exactly one doc per near-dup cluster") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely unrelated text about database engines and joins"))
      .toDF("doc_id", "text")
    val kept = Dedup.nearDedupKept(docs, "doc_id", "text", 0.5)
      .select($"doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("connectedComponents: no pairs give no clusters, nothing is dropped") {
    val none = Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), "id_a", "id_b")
    assert(none.isEmpty)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely unrelated text about database engines and joins"))
      .toDF("doc_id", "text")
    val kept = Dedup.nearDedupKept(docs, "doc_id", "text", 0.5)
      .select($"doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L))
  }

  test("cosineNearDupPairs: blocked pairs above threshold, no cross-block") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.99f, 0.01f), 0), // near-dups
      (3L, Seq(0.0f, 1.0f), 0),                             // same block, far
      (4L, Seq(1.0f, 0.0f), 1))                             // other block
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
      "label", threshold = 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L))) // 1-4 identical but blocked apart
  }

  test("multimodal feature/resize/frame ops: deterministic shapes") {
    val payload = "x" * 100
    val df = Seq((1L, payload)).toDF("doc_id", "text")
    val media = Multimodal.asMedia(df, "doc_id", "text")
    // features: 8 bins, L1-normalized over payload bytes
    val feat = Multimodal.extractFeatures(spark, media).collect().head
    assert(feat.feature.length == 8)
    assert(math.abs(feat.feature.sum - 1.0f) < 1e-6)
    // resize by 4: 100 bytes -> 25, metadata re-derived
    val resized = Multimodal.resize(spark, media, 4).collect().head
    assert(resized.payload.length == 25 && resized.meta.byteLen == 25L)
    // frames: ceil(100/32)=4 chunks, stride 2 -> indices 0 and 2
    val frames = Multimodal.sampleFrames(spark, media, 32, 2).collect()
    assert(frames.map(_.frameIdx).sorted.toSeq == Seq(0, 2))
    assert(frames.map(_.frame.length).sorted.toSeq == Seq(32, 32))
  }

  test("multimodal decode stub: deterministic metadata, payload intact") {
    val df = Seq((1L, "hello"), (2L, "hello"), (3L, "wider payload"))
      .toDF("doc_id", "text")
    val decoded = Multimodal.decode(spark,
      Multimodal.asMedia(df, "doc_id", "text")).collect()
      .sortBy(_.id)
    assert(decoded(0).meta == decoded(1).meta) // deterministic
    assert(decoded(0).meta.byteLen == 5L)
    assert(new String(decoded(2).payload, "UTF-8") == "wider payload")
    assert(decoded.forall(m => m.meta.width > 0 && m.meta.height > 0))
  }

  test("simhashNearDup finds planted near-identical docs, skips unrelated") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river edge"),
      (3L, "completely different content about spark catalyst optimizer rules"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDup(docs, "doc_id", "text", maxHamming = 3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("predictedLangNgram scores char-trigram profiles with fixed tie order") {
    val df = Seq(
      "the thing and the ion",          // en trigrams
      "der schein ich und",             // de trigrams
      "xyzzy")                          // no profile hits: all-zero tie -> en
      .toDF("t")
    val out = df.select(TextFunctions.predictedLangNgram($"t")).as[String]
      .collect().toSeq
    assert(out == Seq("en", "de", "en"))
  }

  test("connectedComponents property: equals union-find on random graphs") {
    // Long chains and dense blobs alike must converge to the same
    // components a sequential union-find produces (label = component min).
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { _ =>
      val n = 12 + rnd.nextInt(8)
      val edges = (1 to (n + rnd.nextInt(n))).map { _ =>
        val a = rnd.nextInt(n).toLong
        val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      if (edges.nonEmpty) {
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = parent.keys.map(k => (k, find(k))).toSet
        val got = Dedup.connectedComponents(
          edges.toDF("id_a", "id_b"), "id_a", "id_b")
          .as[(Long, Long)].collect().toSet
        assert(got == expected, s"edges=$edges")
      }
    }
  }
}
