package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Ann, Dedup, Multimodal, Signatures, TextAnalysis}
import graft.synth.Rng

/** Training-data ops: dedup family, ANN, text analysis, multimodal
  * plumbing — exact assertions on planted fixtures.
  */
class OpsSpec extends SparkSpec {

  /** Deterministic corpus with planted near-duplicates: docs 0..49 random,
    * docs 100+i = doc i with one word in ~10 changed (high jaccard), docs
    * 200+i = doc i exactly (jaccard 1.0), for i < 10.
    */
  private lazy val corpus: DataFrame = {
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox",
      "golf", "hotel", "india", "julia", "kilo", "lima", "mike", "nov",
      "oscar", "papa", "quebec", "romeo", "sierra", "tango")
    def doc(i: Long): String =
      (0 until 60).map(j => vocab(Rng.nextInt(5L, i, j.toLong, vocab.size)))
        .mkString(" ")
    def mutate(s: String, seed: Long): String = {
      val w = s.split(' ')
      (0 until w.length).map { j =>
        if (j % 10 == 3) vocab(Rng.nextInt(seed, j.toLong, 0, vocab.size)) else w(j)
      }.mkString(" ")
    }
    val rows = (0L until 50L).map(i => (i, doc(i))) ++
      (0L until 10L).map(i => (100L + i, mutate(doc(i), 77L + i))) ++
      (0L until 10L).map(i => (200L + i, doc(i)))
    val spark0 = spark
    import spark0.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(corpus, "doc_id", "text").collect()
    assert(out.length == 60) // 70 docs, 10 exact copies collapse
    val copies = out.filter(_.getLong(1) == 2)
    assert(copies.length == 10)
    assert(copies.forall(_.getLong(0) < 10)) // keep_id is the min id
  }

  test("ngram jaccard finds planted near-dups and exact dups") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        w = 3, minJaccard = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // All exact copies at jaccard 1.0:
    (0L until 10L).foreach { i =>
      assert(pairs.exists(p => p._1 == i && p._2 == 200L + i && p._3 == 1.0),
        s"missing exact pair ($i, ${200 + i})")
    }
    // All mutated copies present with 0.4 <= j < 1.0:
    (0L until 10L).foreach { i =>
      assert(pairs.exists(p => p._1 == i && p._2 == 100L + i && p._3 < 1.0),
        s"missing near pair ($i, ${100 + i})")
    }
  }

  test("minhash LSH output equals exact ngram jaccard at threshold 0.4") {
    val exact = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      w = 3, minJaccard = 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Dedup.minhashLshPairs(corpus, "doc_id", "text",
      w = 3, minJaccard = 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh == exact)
  }

  test("simhash: exact dups collide; hamming-LSH pairs catch planted dups") {
    val h0 = Signatures.simhash("alpha bravo charlie delta")
    assert(Signatures.simhash("alpha bravo charlie delta") == h0)
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 10L).foreach { i =>
      assert(pairs.contains((i, 200L + i)), s"exact pair ($i,${200 + i}) missed")
    }
    // hamming of identical docs is 0:
    val sigs = Dedup.simhashSignatures(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 10L).foreach(i => assert(sigs(i) == sigs(200L + i)))
  }

  test("embedding cosine: planted duplicate vector found; LSH recall >= brute at high threshold") {
    val spark0 = spark
    import spark0.implicits._
    def vec(i: Long): Array[Float] =
      Array.tabulate(16)(d => (Rng.nextDouble(3L, i, d.toLong) * 2 - 1).toFloat)
    val rows = (0L until 40L).map(i => (i, vec(i))) ++
      Seq((100L, vec(0)), (101L, vec(1).map(x => x * 1.001f)))
    val emb = rows.toDF("vec_id", "embedding")
    val brute = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.contains((0L, 100L)))
    assert(brute.contains((1L, 101L)))
    val lsh = Ann.cosineLshPairs(emb, "vec_id", "embedding", 0.99,
      nBits = 8, nTables = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == brute) // identical/near-identical vectors share every bucket

    // Ragged embedding columns FAIL LOUDLY: the plane family is fixed to
    // the column's dimension, so a row of another dimension trips the
    // bucketOf guard instead of hashing in its own incomparable space.
    val ragged = (rows :+ (999L, Array.fill(24)(0.5f))).toDF("vec_id", "embedding")
    val e = intercept[org.apache.spark.SparkException] {
      Ann.lshBuckets(ragged, "vec_id", "embedding").collect()
    }
    assert(e.getMessage.contains("ragged") ||
      Option(e.getCause).exists(_.getMessage.contains("ragged")), e.getMessage)
  }

  test("ANN: brute-force top-k exact; LSH top-k has decent recall and is a subset ranking") {
    val spark0 = spark
    import spark0.implicits._
    def vec(i: Long): Array[Float] =
      Array.tabulate(16)(d => (Rng.nextDouble(9L, i, d.toLong) * 2 - 1).toFloat)
    // Plant 10 true neighbors: query vector + small deterministic noise.
    // (On structureless uniform vectors LSH recall is near-random by
    // design — the operator's contract is recall on *actual* neighbors.)
    val q = vec(0)
    def near(i: Long): Array[Float] =
      q.zipWithIndex.map { case (x, d) =>
        x + 0.08f * (Rng.nextDouble(13L, i, d.toLong) * 2 - 1).toFloat
      }
    val emb = ((0L until 190L).map(i => (i, vec(i))) ++
      (300L until 310L).map(i => (i, near(i)))).toDF("vec_id", "embedding")
    val brute = Ann.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getLong(0))
    assert(brute.length == 10)
    assert(brute.count(_ >= 300L) == 10, "planted neighbors must top brute force")
    val lsh = Ann.lshTopK(emb, "vec_id", "embedding", 0L, 10, nBits = 6)
      .collect().map(_.getLong(0))
    val recall = lsh.count(brute.contains).toDouble / 10.0
    assert(recall >= 0.8, s"LSH recall@10 on planted neighbors too low: $recall")
  }

  test("incremental dedup: batch union equals single-shot; replayed batch is a no-op") {
    val spark0 = spark
    import spark0.implicits._
    // Corpus with planted near-dups CROSSING batch boundaries (ids 0..29,
    // batched by id % 3; dup of doc i is doc i+20, different batch for
    // most i).
    def doc(i: Long): String = {
      val base = (0 until 30).map(k => s"w${Rng.nextInt(31L, i, k.toLong, 50)}").mkString(" ")
      base
    }
    val texts = (0L until 20L).map(i => (i, doc(i))) ++
      (20L until 30L).map(i => (i, doc(i - 20) + " tail"))
    val corpus = texts.toDF("doc_id", "text")
    val full = graft.ops.Dedup.minhashLshPairs(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(full.nonEmpty, "fixture must contain near-dup pairs")

    val state = specDir("graft-incspec").toString + "/sigs"
    val batches = (0 until 3).map(i =>
      corpus.where(pmod(col("doc_id"), lit(3)) === i))
    val incremental = batches.map(b =>
      graft.ops.IncrementalDedup.processBatch(b, "doc_id", "text", state)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    assert(incremental.reduce(_ union _) == full,
      "incremental pair union diverged from the single-shot run")

    // The returned frames are lazy: built on a fresh state table and
    // collected only after all three commits, each still answers against
    // the state it was built on.
    val lazyState = specDir("graft-incspec-lazy").toString + "/sigs"
    val lazyFrames = batches.map(b =>
      graft.ops.IncrementalDedup.processBatch(b, "doc_id", "text", lazyState))
    val lazySets = lazyFrames.map(_.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    assert(lazySets == incremental,
      s"pairs collected after later commits diverged: $lazySets vs $incremental")

    // Replay batch 1: already-committed ids emit nothing and append nothing.
    val snapBefore = graft.io.IcebergishTable.currentSnapshot(state)
    val replay = graft.ops.IncrementalDedup.processBatch(
      batches(1), "doc_id", "text", state)
    assert(replay.count() == 0, "replayed batch must emit no pairs")
    assert(graft.io.IcebergishTable.currentSnapshot(state) == snapBefore,
      "replayed batch must not commit a new snapshot")
  }

  test("IVF batch knnJoin: full-probe equals per-query brute force; pruned probe keeps recall") {
    val spark0 = spark
    import spark0.implicits._
    def vec(i: Long): Array[Float] =
      Array.tabulate(16)(d => (Rng.nextDouble(27L, i, d.toLong) * 2 - 1).toFloat)
    def near(q: Array[Float], i: Long): Array[Float] =
      q.zipWithIndex.map { case (x, d) =>
        x + 0.08f * (Rng.nextDouble(29L, i, d.toLong) * 2 - 1).toFloat
      }
    val queries = (0L until 3L).map(i => (i, vec(i)))
    val planted = queries.flatMap { case (qid, qv) =>
      (0L until 5L).map(j => (600L + qid * 10 + j, near(qv, qid * 10 + j)))
    }
    val emb = (queries ++ planted ++
      (100L until 260L).map(i => (i, vec(i)))).toDF("vec_id", "embedding")
    val path = specDir("graft-ivfknn-spec").toString + "/index"
    Ann.writeIvfIndex(emb, "vec_id", "embedding", path, nCells = 8)

    val full = Ann.ivfKnnJoin(emb.where(col("vec_id") < 3), "vec_id",
        "embedding", path, k = 5, fullProbe = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val perQuery = (0L until 3L).flatMap { qid =>
      Ann.bruteForceTopK(emb, "vec_id", "embedding", qid, 5)
        .collect().zipWithIndex
        .map { case (r, i) => (qid, r.getLong(0), i + 1) }
    }.toSet
    assert(full == perQuery, s"IVF batch full-probe != per-query brute:\n$full\nvs\n$perQuery")

    val pruned = Ann.ivfKnnJoin(emb.where(col("vec_id") < 3), "vec_id",
        "embedding", path, k = 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteIds = perQuery.map(t => (t._1, t._2))
    val recall = pruned.count(bruteIds.contains).toDouble / bruteIds.size
    assert(recall >= 0.6, s"IVF batch pruned recall too low: $recall")
  }

  test("streaming incremental dedup: pairs table equals single-shot; crash windows converge") {
    val spark0 = spark
    import spark0.implicits._
    def doc(i: Long): String =
      (0 until 30).map(k => s"w${Rng.nextInt(37L, i, k.toLong, 50)}").mkString(" ")
    val texts = (0L until 20L).map(i => (i, doc(i))) ++
      (20L until 30L).map(i => (i, doc(i - 20) + " tail"))
    val corpus = texts.toDF("doc_id", "text")
    val full = graft.ops.Dedup.minhashLshPairs(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.nonEmpty)

    // Three batch files → three micro-batches (maxFilesPerTrigger=1).
    val base = specDir("graft-incstream")
    val streamDir = s"$base/in"
    (0 until 3).foreach(i =>
      corpus.where(pmod(col("doc_id"), lit(3)) === i).coalesce(1)
        .write.mode("append").parquet(streamDir))
    val state = s"$base/sigs"
    val pairsT = s"$base/pairs"
    val docsStream = spark.readStream
      .schema(corpus.schema).option("maxFilesPerTrigger", 1).parquet(streamDir)
    val q = graft.ops.IncrementalDedup.streamIntoTables(docsStream,
      "doc_id", "text", state, pairsT, s"$base/ckpt")
    q.awaitTermination()
    def pairsNow(): Seq[(Long, Long)] =
      graft.io.IcebergishTable.read(spark, pairsT)
        .select(col("ia"), col("ib")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairsNow().toSet == full,
      s"streamed pairs diverged: ${pairsNow().toSet} vs $full")
    assert(pairsNow().size == full.size, "duplicate pair rows")

    // Replay a completed batch: both tables unchanged.
    val stateSnap = graft.io.IcebergishTable.currentSnapshot(state)
    val pairsSnap = graft.io.IcebergishTable.currentSnapshot(pairsT)
    graft.ops.IncrementalDedup.appendBatch(
      corpus.where(pmod(col("doc_id"), lit(3)) === 1),
      "doc_id", "text", state, pairsT, q.id.toString, 1L)
    assert(graft.io.IcebergishTable.currentSnapshot(state) == stateSnap)
    assert(graft.io.IcebergishTable.currentSnapshot(pairsT) == pairsSnap)

    // Crash window: pairs appended, state commit lost. Recreate it by
    // rolling the STATE table back to before the last batch, leaving the
    // pairs table at its post-batch snapshot — then re-run the batch.
    // Convergence = same final tables as the no-crash run.
    val lastBatch = corpus.where(pmod(col("doc_id"), lit(3)) === 2)
    graft.io.IcebergishTable.rollbackTo(state, stateSnap - 1)
    graft.ops.IncrementalDedup.appendBatch(lastBatch,
      "doc_id", "text", state, pairsT, q.id.toString, 2L)
    assert(pairsNow().toSet == full, "crash replay diverged")
    assert(pairsNow().size == full.size, "crash replay duplicated pairs")
    val stateIds = graft.io.IcebergishTable.read(spark, state)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(stateIds == (0L until 30L).toSet, s"state ids wrong: $stateIds")
  }

  test("resolveGroups: transitive pair chains become min-id groups; singletons survive") {
    val spark0 = spark
    import spark0.implicits._
    // Chain 1-2, 2-3 (one group via transitivity), pair 10-11, singleton 4.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("ia", "ib")
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L).toDF("doc_id")
    val got = graft.ops.Dedup.resolveGroups(pairs, docs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == Set(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 4L, true), (10L, 10L, true), (11L, 10L, false)))
    // Zero-pad ordering: numeric min wins even when string order disagrees
    // ("10" < "9" lexicographically — the padded domain must not care).
    val p2 = Seq((9L, 10L)).toDF("ia", "ib")
    val d2 = Seq(9L, 10L).toDF("doc_id")
    val g2 = graft.ops.Dedup.resolveGroups(p2, d2, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(g2 == Set((9L, 9L, true), (10L, 9L, false)))
  }

  test("batch knnJoin: full-probe equals per-query brute force; multiprobe recall on planted neighbors") {
    val spark0 = spark
    import spark0.implicits._
    def vec(i: Long): Array[Float] =
      Array.tabulate(16)(d => (Rng.nextDouble(21L, i, d.toLong) * 2 - 1).toFloat)
    // Three query vectors, each with 5 planted near-neighbors.
    def near(q: Array[Float], i: Long): Array[Float] =
      q.zipWithIndex.map { case (x, d) =>
        x + 0.08f * (Rng.nextDouble(23L, i, d.toLong) * 2 - 1).toFloat
      }
    val queries = (0L until 3L).map(i => (i, vec(i)))
    val planted = queries.flatMap { case (qid, qv) =>
      (0L until 5L).map(j => (500L + qid * 10 + j, near(qv, qid * 10 + j)))
    }
    val fill = (100L until 260L).map(i => (i, vec(i)))
    val emb = (queries ++ planted ++ fill).toDF("vec_id", "embedding")
    val path = specDir("graft-knnj-spec").toString + "/index"
    Ann.writeLshIndex(emb, "vec_id", "embedding", path, nBits = 6)

    // Full probe == per-query brute force, for EVERY query in the set.
    val full = Ann.knnJoin(emb.where(col("vec_id") < 3), "vec_id", "embedding",
        path, k = 5, nBits = 6, fullProbe = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val perQuery = (0L until 3L).flatMap { qid =>
      Ann.bruteForceTopK(emb, "vec_id", "embedding", qid, 5)
        .collect().zipWithIndex
        .map { case (r, i) => (qid, r.getLong(0), i + 1) }
    }.toSet
    assert(full == perQuery, s"batch full-probe != per-query brute:\n$full\nvs\n$perQuery")

    // Approximate multiprobe: recall vs brute on the planted neighbors.
    val approx = Ann.knnJoin(emb.where(col("vec_id") < 3), "vec_id",
        "embedding", path, k = 5, nBits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteIds = perQuery.map(t => (t._1, t._2))
    val recall = approx.count(bruteIds.contains).toDouble / bruteIds.size
    assert(recall >= 0.8, s"batch multiprobe recall too low: $recall")
  }

  test("language-ID recovers planted languages") {
    assert(TextAnalysis.detectLanguage("der hund und die katze ist nicht hier")._1 == "de")
    assert(TextAnalysis.detectLanguage("the cat and the dog is not here")._1 == "en")
    assert(TextAnalysis.detectLanguage("le chat et le chien est avec moi")._1 == "fr")
    assert(TextAnalysis.detectLanguage("el gato y el perro es un amigo")._1 == "es")
    assert(TextAnalysis.detectLanguage("")._1 == "und")
    assert(TextAnalysis.detectLanguage("zzz qqq xxx")._1 == "und")
  }

  test("winnowing sketch is stable under distant edits, changes locally") {
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val s1 = TextAnalysis.winnow(base).toSet
    val s2 = TextAnalysis.winnow(base + " tail change only").toSet
    val overlap = (s1 intersect s2).size.toDouble / (s1 union s2).size
    assert(overlap > 0.6, s"winnow overlap too low: $overlap")
    assert(TextAnalysis.winnow(base).toSeq == TextAnalysis.winnow(base).toSeq)
    assert(TextAnalysis.winnow("").isEmpty)
    assert(TextAnalysis.winnow("ab").nonEmpty)
  }

  test("typed shingler equals the shingleCol expression on adversarial texts") {
    // The r07 hot-path shingler (one split, one pass) must emit EXACTLY the
    // arrays of the expression it replaced — including the split(" ", -1)
    // edge semantics (leading/trailing/double spaces produce empty-string
    // words), the <w-words fallback to [text], and null propagation.
    val texts = Seq(
      null, "", " ", "  ", "a", "a b", "a b c", "a b c d e",
      " a b c", "a b c ", "a b c  ", "a  b  c  d", "  ",
      "x y z x y z x y z", // repeated shingles → distinct collapses
      "a\tb c d e", // tab is not a split char
      "é ß 漢 字 x y", "one two three four five six seven eight")
    val spark0 = spark
    import spark0.implicits._
    Seq(1, 2, 3, 5).foreach { w =>
      val viaExpr = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
        .select(col("id"), Dedup.shingleCol(col("text"), w).as("sh"))
        .collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getSeq[String](1).toList))
        .toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        val typed = Dedup.shinglesSqlCompat(t, w)
        val expected = viaExpr(i.toLong)
        assert((if (typed == null) null else typed.toList) == expected,
          s"w=$w text=${Option(t).map("'" + _ + "'").getOrElse("null")}: " +
            s"typed=${Option(typed).map(_.toList)} expr=$expected")
      }
    }
  }

  test("winnow window-minimum deque equals the direct scan") {
    // The r07 O(n) monotonic-deque sliding minimum must emit the exact
    // minima sequence of the naive O(n·window) scan over the same k-gram
    // hashes (same values, same first-occurrence order into the set).
    def naive(text: String, k: Int, window: Int): Array[Long] = {
      if (text.length < k)
        return if (text.isEmpty) Array.empty else Array(Signatures.simhash(text))
      val hashes = TextAnalysis.kgramHashes(text, k)
      val last = hashes.length - window
      if (last < 0) return Array(hashes.min)
      val out = scala.collection.mutable.LinkedHashSet.empty[Long]
      var w = 0
      while (w <= last) {
        var m = hashes(w)
        var j = w + 1
        while (j < w + window) { if (hashes(j) < m) m = hashes(j); j += 1 }
        out += m
        w += 1
      }
      out.toArray
    }
    val texts = Seq("", "ab", "abcdefgh", "abcdefghi",
      "the quick brown fox jumps over the lazy dog " * 8,
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa", // all-equal hashes (tie handling)
      "abababababababababababababab",
      (0 until 500).map(i => ('a' + (i * 7 % 26)).toChar).mkString)
    for (t <- texts; (k, win) <- Seq((8, 16), (4, 4), (8, 2), (3, 50)))
      assert(TextAnalysis.winnow(t, k, win).toSeq == naive(t, k, win).toSeq,
        s"k=$k window=$win len=${t.length}")
  }

  test("multimodal: feature extraction, resize, frame sampling plumbing") {
    val spark0 = spark
    import spark0.implicits._
    val media = Multimodal.synthesize(spark, 4242L, 120L)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 120)
    assert(feats.forall(_.feature.length == 16))
    // deterministic across partition counts
    val feats2 = Multimodal.extractFeatures(
      Multimodal.synthesize(spark, 4242L, 120L, partitions = 3)).collect()
    assert(feats.sortBy(_.media_id).zip(feats2.sortBy(_.media_id))
      .forall { case (a, b) => a.feature.sameElements(b.feature) })

    val resized = Multimodal.resize(media, 128).collect()
    assert(resized.filter(r => r.kind != "audio")
      .forall(r => math.max(r.width, r.height) <= 128))

    val frames = Multimodal.sampleFrames(media, stride = 4).collect()
    assert(frames.nonEmpty)
    // sampled frames are REAL standalone BMPs (decodable by the image kernel)
    assert(frames.forall(f =>
      ops.MediaCodecs.decodeBmp(f.frame_bytes).width > 0))
    val nVideos = media.filter(_.kind == "video").count()
    assert(frames.map(_.media_id).distinct.length.toLong == nVideos)
  }

  test("MinHashAgg sketch equals the direct sketch of the union") {
    val spark0 = spark
    import spark0.implicits._
    val docs = Seq("alpha bravo charlie delta echo fox",
      "golf hotel india julia kilo lima",
      "mike nov oscar papa quebec romeo")
    val sigs = docs.map(d => Signatures.minhash(Signatures.shingles(d, 3), 64))
    val agg = spark0.createDataset(sigs).toDF("sig")
      .agg(ops.MinHashAgg.column(col("sig")).as("sketch"))
      .collect().head.getSeq[Long](0).toArray
    val unionShingles = docs.flatMap(d => Signatures.shingles(d, 3)).distinct.toArray
    val direct = Signatures.minhash(unionShingles, 64)
    assert(agg.sameElements(direct))
    // merge with empty buffer is identity; estimator self-sim is 1.0:
    assert(ops.MinHashAgg.merge(Array.empty, sigs.head).sameElements(sigs.head))
    assert(ops.MinHashAgg.estimateJaccard(sigs.head, sigs.head) == 1.0)
  }

  /** All-pairs reference scan over the sketches — G² by construction, the
    * small-G oracle for [[Dedup.minhashSketchPairs]]; never use beyond ~10³
    * groups.
    */
  private def minhashSketchPairsAllPairs(sketches: DataFrame,
                                         minEstJaccard: Double = 0.005): DataFrame = {
    val sk = sketches.toDF("grp", "sketch")
    sk.toDF("ga", "ka").crossJoin(sk.toDF("gb", "kb"))
      .where(col("ga") < col("gb"))
      .withColumn("est_jaccard", Dedup.slotAgreement(col("ka"), col("kb")))
      .where(col("est_jaccard") >= minEstJaccard)
      .select(col("ga").as("src_a"), col("gb").as("src_b"), col("est_jaccard"))
  }

  test("banded sketch pairing equals the all-pairs scan at G=50") {
    // Banding the corpus sketches (band = slot index, key = slot value)
    // has recall EXACTLY 1 vs the G² scan for any threshold > 0: a pair
    // with >= 1 agreeing slot shares that slot's bucket by construction.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select((col("doc_id") % 50).cast("string").as("grp"), col("text"))
    val sketches = ops.Dedup.minhashSketches(docs, "grp", "text")
      .localCheckpoint() // two consumers below; sketch once
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val banded = asSet(ops.Dedup.minhashSketchPairs(sketches))
    val allPairs = asSet(minhashSketchPairsAllPairs(sketches))
    assert(banded == allPairs, s"banded ${banded.size} vs G² ${allPairs.size}")
    assert(banded.nonEmpty, "degenerate fixture: no agreeing sketch slots")
  }

  test("graph catalog derives sorted distinct vertex/edge collections") {
    val defs = ops.GraphCatalog.fixtureDefinitions(spark)
    val v = ops.GraphCatalog.vertexCollections(defs).collect().map(_.getString(0))
    assert(v.toSeq == Seq("companies", "people", "places"))
    val e = ops.GraphCatalog.edgeCollections(defs).collect().map(_.getString(0))
    assert(e.toSeq == Seq("acquired", "founded_by", "located_in", "partner_of"))
  }

  test("quality scores are sane and deterministic") {
    val out = TextAnalysis.qualityScores(corpus, "doc_id", "text").collect()
    assert(out.length == 70)
    out.foreach { r =>
      val q = r.getDouble(7)
      assert(q >= 0.0 && q <= 1.0, s"score out of range: $q")
    }
  }
}
